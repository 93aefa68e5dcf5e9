"""Source/sink tests: csv/json round-trips with explicit schemas,
partitioned parquet writes, JDBC option plumbing (no driver in the
container, so only the validation path executes)."""

from __future__ import annotations

import os

import pytest

from lime_etl_spark.sources import readers


def test_read_csv_explicit_schema(spark, tmp_path):
    p = tmp_path / "people.csv"
    p.write_text("id,name,score\n1,ada,9.5\n2,grace,8.0\n")
    df = readers.read_csv(spark, str(p), "id bigint, name string, score double")
    assert df.schema.simpleString() == "struct<id:bigint,name:string,score:double>"
    assert sorted((r["id"], r["name"], r["score"]) for r in df.collect()) == [
        (1, "ada", 9.5),
        (2, "grace", 8.0),
    ]


def test_read_json_explicit_schema(spark, tmp_path):
    p = tmp_path / "rows.json"
    p.write_text('{"id": 1, "tags": ["a", "b"]}\n{"id": 2, "tags": []}\n')
    df = readers.read_json(spark, str(p), "id bigint, tags array<string>")
    rows = {r["id"]: r["tags"] for r in df.collect()}
    assert rows == {1: ["a", "b"], 2: []}


def test_write_parquet_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "us", 10.0), (2, "us", 11.0), (3, "de", 12.0)], "id bigint, cc string, v double"
    )
    out = str(tmp_path / "t")
    readers.write_parquet(df, out, partition_by=["cc"])
    assert sorted(e for e in os.listdir(out) if e.startswith("cc=")) == ["cc=de", "cc=us"]
    # partition pruning: only one dir scanned for cc='de'
    back = spark.read.parquet(out).where("cc = 'de'")
    assert [r["id"] for r in back.collect()] == [3]
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cc" in plan and "= de)" in plan


def test_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        readers.read_jdbc(
            spark, "jdbc:postgresql://x/y", "t", partition_column="id", num_partitions=8
        )


def test_load_table_events_ts_is_timestamp(spark, sf_dir):
    ev = readers.load_table(spark, sf_dir, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_orc_roundtrip_partitioned_with_pushdown(spark, tmp_path, sf_dir):
    """ORC write→read roundtrip preserves rows; partition column
    survives; filters reach the ORC scan."""
    from pyspark.sql import functions as F

    from lime_etl_spark.sources.readers import load_table, read_orc, write_orc

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path, partition_by=["n_regionkey"])

    back = read_orc(spark, path)
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)

    filtered = back.where(F.col("n_regionkey") == 0)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    # partition pruning: non-matching region dirs never scanned
    assert filtered.count() == nation.where(F.col("n_regionkey") == 0).count()
    assert "PartitionFilters" in plan or "n_regionkey" in plan


def test_avro_option_plumbing(spark, tmp_path):
    """Avro source/sink: real round-trip when the spark-avro module is
    present; otherwise the load must fail with the data-source-missing
    error (proving the plumbing reached the format resolver) — the
    same gate as the JDBC/Kafka sources."""
    from lime_etl_spark.sources.readers import read_avro, write_avro

    df = spark.range(10).withColumnRenamed("id", "n")
    path = str(tmp_path / "avro_out")
    try:
        write_avro(df, path)
        back = read_avro(spark, path)
        assert back.count() == 10 and "n" in back.columns
    except Exception as e:
        assert "avro" in str(e).lower()  # DATA_SOURCE_NOT_FOUND / FAILED_TO_FIND


def test_synthetic_events_datasource(spark):
    """Python DataSource: partitioned Arrow-batched synthetic events —
    deterministic across reads, schema-stable, and consumable by the
    ordinary event operators."""
    from lime_etl_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthevents")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 42)
        .load()
    )
    assert df.count() == 5000
    assert dict(df.dtypes)["ts"] == "timestamp"
    # the scan parallelizes: one task per declared partition
    assert df.rdd.getNumPartitions() == 8

    # deterministic: same options -> identical content
    again = (
        spark.read.format("synthevents")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 42)
        .load()
    )
    a = sorted(df.collect())
    b = sorted(again.collect())
    assert a == b
    # event ids cover the whole range exactly once across partitions
    ids = {r["event_id"] for r in a}
    assert ids == set(range(5000))

    # feeds an ordinary operator (daily rollup groups by event date)
    from pyspark.sql import functions as F

    daily = df.groupBy(F.col("ts").cast("date")).count().collect()
    assert sum(r["count"] for r in daily) == 5000


def test_synthetic_events_stream_source(spark, tmp_path):
    """Streaming read of the synthevents source: row-offset micro-batches,
    deterministic continuation, and watermark/agg compatibility."""
    from pyspark.sql import functions as F

    from lime_etl_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthevents")
        .option("rows_per_batch", 250)
        .option("seed", 9)
        .load()
    )
    assert stream.isStreaming
    agg = stream.withWatermark("ts", "1 hour").groupBy(
        F.window("ts", "1 hour").alias("w")
    ).agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName("synth_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck_synth"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    deadline = time.time() + 120
    total = 0
    while time.time() < deadline:
        total = sum(r["n"] for r in spark.table("synth_stream").collect())
        if total >= 500:  # at least two micro-batches consumed
            break
        time.sleep(2)
    q.stop()
    assert total >= 500 and total % 250 == 0


def test_jdbc_accepts_password_wrapper(spark):
    """read_jdbc unwraps domain.Password at the option boundary — so
    the raw secret exists only inside Spark's option map, never in any
    caller-side repr/log. (No driver in the container: we only assert
    the option plumbing accepts the wrapper and fails at load with the
    driver error, not a type error.)"""
    from lime_etl_spark.domain import Password

    with pytest.raises(Exception) as ei:
        readers.read_jdbc(
            spark,
            "jdbc:postgresql://host/db",
            "t",
            properties={"user": "etl", "password": Password("s3cret!")},
        )
    assert "s3cret" not in str(ei.value)
    assert "Password(" not in str(ei.value)


def test_partition_overwrite_touches_only_changed_partitions(spark, tmp_path):
    """Dynamic partition overwrite must rewrite only the partitions in
    the increment — other partitions' files stay byte-identical — and
    must NOT drop absent partitions (the static-mode footgun)."""
    import glob

    from lime_etl_spark.sources.readers import write_partition_overwrite

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d2", 20), (3, "d3", 30)], "id bigint, day string, v int"
    )
    base.write.partitionBy("day").parquet(path)
    before = {f: os.path.getmtime(f) for f in glob.glob(f"{path}/day=*/**", recursive=True)}

    inc = spark.createDataFrame([(2, "d2", 99)], "id bigint, day string, v int")
    write_partition_overwrite(inc, path, ("day",))

    back = {r["day"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert back == {"d1": 10, "d2": 99, "d3": 30}, back
    # untouched partitions kept their exact files
    for f, mt in before.items():
        if "day=d2" not in f and f.endswith(".parquet"):
            assert os.path.exists(f) and os.path.getmtime(f) == mt
    # conf restored
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper() == "STATIC"


def test_spread_for_agg_non_numeric_shuffle_partitions_falls_back(spark, monkeypatch):
    """A platform may report spark.sql.shuffle.partitions as "auto";
    spread_for_agg then targets defaultParallelism. Vanilla Spark refuses
    to set "auto", so the conf read is stubbed."""
    from pyspark.sql.conf import RuntimeConfig

    real_get = RuntimeConfig.get

    def get(self, key, *default):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(self, key, *default)

    monkeypatch.setattr(RuntimeConfig, "get", get)
    out = readers.spread_for_agg(spark.range(10), "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


# --- read_parquet: schema discovery once per file listing --------------------


def _write_pa(path, table):
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def test_warm_load_table_starts_no_spark_job(spark, sf_dir, spark_jobs):
    """The first load of a table may discover its schema (one Spark
    job); a second load of the unchanged table reads with the cached
    schema and starts none."""
    cold, _ = spark_jobs(lambda: readers.load_table(spark, sf_dir, "orders"))
    warm, jobs = spark_jobs(lambda: readers.load_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert warm.dtypes == cold.dtypes and warm.count() == cold.count()


def test_read_parquet_reinfers_after_a_spark_rewrite(spark, tmp_path, spark_jobs):
    """A directory rewritten by Spark with a new schema is a new
    listing: the next read discovers the new schema."""
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    assert readers.read_parquet(spark, path).dtypes == [("k", "bigint"), ("v", "string")]
    assert spark_jobs(lambda: readers.read_parquet(spark, path))[1] == 0
    spark.createDataFrame([(1, 2.5, 7)], "k long, w double, x int").write.mode("overwrite").parquet(path)
    df, jobs = spark_jobs(lambda: readers.read_parquet(spark, path))
    assert jobs == 1
    assert df.dtypes == [("k", "bigint"), ("w", "double"), ("x", "int")]
    assert [tuple(r) for r in df.collect()] == [(1, 2.5, 7)]


def test_read_parquet_reinfers_after_a_single_file_rewrite(spark, tmp_path, spark_jobs):
    """A single parquet file rewritten in place (pyarrow, same name) with
    a new schema changes its size and mtime: the next read re-infers."""
    import pyarrow as pa

    path = str(tmp_path / "one.parquet")
    _write_pa(path, pa.table({"a": pa.array([1, 2], pa.int64())}))
    assert readers.read_parquet(spark, path).dtypes == [("a", "bigint")]
    assert spark_jobs(lambda: readers.read_parquet(spark, path))[1] == 0
    _write_pa(path, pa.table({"a": pa.array(["x", "y"]), "b": pa.array([1.5, 2.5])}))
    df, jobs = spark_jobs(lambda: readers.read_parquet(spark, path))
    assert jobs == 1
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_read_parquet_reinfers_when_nanos_as_long_flips(spark, tmp_path, spark_jobs):
    """The confs that steer inference are part of the cache key: a
    TIMESTAMP(NANOS) column infers as bigint only under nanosAsLong, and
    with the conf off Spark 4 refuses the type. So flipping the conf off
    infers again (and raises) instead of reading with the cached bigint
    schema; flipping it back reuses the entry the failed read left."""
    from pyspark.errors import AnalysisException

    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([datetime.datetime(2026, 1, 1)], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "n": pa.array([1], pa.int64())}), path, version="2.6")
    key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(readers.read_parquet(spark, path).dtypes)["ts"] == "bigint"
        assert spark_jobs(lambda: readers.read_parquet(spark, path))[1] == 0
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            readers.read_parquet(spark, path)
        spark.conf.set(key, "true")
        df, jobs = spark_jobs(lambda: readers.read_parquet(spark, path))
        assert jobs == 0
        assert df.collect()[0]["ts"] == 1_767_225_600 * 10**9
    finally:
        spark.conf.set(key, prev)


def test_read_parquet_from_many_threads_agrees(spark, tmp_path):
    """8 threads reading the same cold paths at once (a short switch
    interval to interleave them) all get the schema an inferring read
    gets, and the cache keeps one entry per path."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    paths = []
    for i in range(4):
        path = str(tmp_path / f"t{i}")
        cols = ", ".join(f"c{j} {'long' if j % 2 else 'string'}" for j in range(i + 1))
        spark.createDataFrame([tuple(str(j) if j % 2 == 0 else j for j in range(i + 1))], cols).write.parquet(path)
        paths.append(path)
    want = {p: spark.read.parquet(p).dtypes for p in paths}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(lambda p: (p, readers.read_parquet(spark, p).dtypes), p) for p in paths * 8]
            got = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert len(got) == 32
    assert all(dtypes == want[p] for p, dtypes in got)
    assert {p: readers._schemas[p][2] for p in paths} == {p: spark.read.parquet(p).schema for p in paths}


@pytest.mark.parametrize("partition_by", [["p"], ["k"], ["p", "k"]])
def test_cached_read_of_a_partitioned_target_matches_inference(spark, tmp_path, spark_jobs, partition_by):
    """A cached read of a ``partitionBy`` target (partitioned on a key
    column too) has the columns, order, dtypes and rows of an inferring
    read: partition columns last, typed as partition discovery types them."""
    path = str(tmp_path / "parts")
    rows = [(k, k % 3, f"v{k}", k * 0.5) for k in range(12)]
    df = spark.createDataFrame(rows, "k long, p long, v string, x double")
    df.write.partitionBy(*partition_by).parquet(path)
    inferred = spark.read.parquet(path)
    readers.read_parquet(spark, path)
    cached, jobs = spark_jobs(lambda: readers.read_parquet(spark, path))
    assert jobs == 0
    assert cached.dtypes == inferred.dtypes
    assert [c for c, _ in cached.dtypes][-len(partition_by):] == partition_by
    assert sorted(cached.collect()) == sorted(inferred.collect())


def test_read_parquet_of_a_missing_path_raises_as_spark_does(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        readers.read_parquet(spark, str(tmp_path / "missing"))


def test_file_listing_through_hadoop_matches_the_local_listing(spark, tmp_path):
    """The Hadoop FileSystem listing (used off the local filesystem)
    names the same files with the same sizes as the local one (less the
    checksum files Hadoop's local filesystem hides), and both change
    when a file is rewritten."""
    import pyarrow as pa

    from lime_etl_spark.sources.fs import _Fs, _local_files

    path = str(tmp_path / "parts")
    spark.range(20).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(path)
    fs = _Fs(spark, path)

    def sizes(listing):
        return [(n, size) for n, size, _ in listing if not os.path.basename(n).endswith(".crc")]

    hadoop, local = fs._hadoop_files(path), _local_files(path)
    assert sizes(hadoop) == sizes(local) and any(n.startswith("p=1/") for n, _ in sizes(local))
    victim = next(n for n, _, _ in local if n.endswith(".parquet"))
    _write_pa(os.path.join(path, victim), pa.table({"id": pa.array(range(100), pa.int64())}))
    assert fs._hadoop_files(path) != hadoop and _local_files(path) != local
    single = os.path.join(path, victim)
    assert sizes(fs._hadoop_files(single)) == sizes(_local_files(single)) == [("", os.path.getsize(single))]

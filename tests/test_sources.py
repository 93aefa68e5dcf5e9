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

"""Batch sources: parquet/csv/json readers over the test star schema.

At 100 TB these tables are directory-partitioned parquet; the readers
stay declarative (``spark.read``) so Catalyst gets predicate pushdown,
column pruning and partition pruning for free. Never ``collect`` here.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the cluster's parallelism when the source has
    fewer input splits than cores — e.g., one small parquet file ahead
    of a CPU-heavy stage (hashing, explode) would otherwise run the
    whole stage on a single task. A no-op whenever the scan already
    yields >= defaultParallelism splits, which any at-scale table does.

    MUST only wrap a raw scan (every call site does: load_table →
    spread). The gate reads the scan's file list — NOT
    ``df.rdd.getNumPartitions()``, which forces full physical planning
    plus a JVM→Python RDD conversion on every builder call and, under
    AQE, would eagerly run upstream shuffle stages if someone ever
    applied it to a post-exchange frame (r9 ADVICE). ``inputFiles()``
    is metadata-only. File count underestimates split count for
    multi-row-group files (a file can yield several splits), so this
    can repartition a table that would already have scanned wide — the
    keyed exchange it adds is bounded by one extra pass and only fires
    when files < cores, i.e. never on an at-scale table.
    """
    return _spread_to(df, df.sparkSession.sparkContext.defaultParallelism, cols)


def spread_for_agg(df: DataFrame, *cols: str) -> DataFrame:
    """`spread` keyed by a DOWNSTREAM AGGREGATION key: repartitions to
    ``spark.sql.shuffle.partitions`` instead of defaultParallelism, so
    the aggregate provably reuses this exchange's partitioning (hash
    partitioning is only reused when key AND partition count match —
    r9 ADVICE: with the two confs diverging, the old form paid a
    second exchange and the spread became pure cost). A non-numeric
    conf (e.g. ``auto`` on some platforms) falls back to
    defaultParallelism."""
    spark = df.sparkSession
    conf = spark.conf.get("spark.sql.shuffle.partitions")
    target = int(conf) if conf.isdigit() else spark.sparkContext.defaultParallelism
    return _spread_to(df, target, cols)


def _spread_to(df: DataFrame, target: int, cols: Sequence[str]) -> DataFrame:
    """``df`` repartitioned to ``target`` partitions (hashed on ``cols``,
    if any) when its scan lists fewer than ``target`` files, else ``df``."""
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 - non-file-backed frame: planless fallback
        n_files = 0
    return df if n_files >= target else df.repartition(target, *cols)


def _path(sf_dir: str, name: str) -> str:
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(p):
        return p
    # Directory-of-parquet layout (how a real lake stores a table).
    return os.path.join(sf_dir, name)


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to the session-tz TimestampType.

    The test parquet stores naive µs timestamps (isAdjustedToUTC=false),
    which Spark 4 infers as TIMESTAMP_NTZ by default. All our event-time
    arithmetic is ``unix_micros``-based and the DuckDB oracle treats the
    same values as UTC instants, so we pin the session to UTC and cast —
    the cast is then numerically a no-op on the stored micros.
    """
    ntz = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. Declarative parquet scan → pushdown-friendly.

    Confs are set at runtime because the driver owns the session: the
    session tz must be UTC for the NTZ cast in :func:`_normalize_ntz`
    to preserve the stored epoch micros, and legacy nanosAsLong covers
    older testdata generations that wrote TIMESTAMP(NANOS).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return _normalize_ntz(df)
    return _normalize_ntz(spark.read.parquet(_path(sf_dir, name)))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` plans."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """CSV with an explicit schema — never infer at scale (two passes)."""
    return spark.read.csv(path, schema=schema, header=header)


def read_json(
    spark: SparkSession, path: str, schema: StructType | str | None = None
) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """XML ingest (built into Spark 4 — no spark-xml jar needed).

    ``row_tag`` names the repeated element that becomes one row.
    Explicit schema for production: inference reads the data twice,
    and XML inference is the most type-ambiguous of all the formats
    (everything is text). XML files split per-FILE, not per-block —
    a 100 GB single XML file is one task, so land many medium files.
    """
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML export — the interchange format B2B/legacy feeds still
    demand. One file per partition, rows under ``root_tag``."""
    (
        df.write.mode(mode)
        .format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .save(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same vectorized columnar path as parquet (predicate
    pushdown + column pruning via the native ORC reader)."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_evolving_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written under
    DIFFERENT schema versions (columns added over time) as one frame
    with the UNION schema — rows from older files carry NULL in the
    columns they predate.

    Why explicit: Spark's default parquet read takes the schema from
    ONE footer (or the summary file), silently DROPPING columns that
    only newer files have — the schema-evolution footgun for any
    landing zone written by a long-lived pipeline. ``mergeSchema``
    reconciles all footers instead. Cost note for 100 TB: the merge
    is a footer-metadata operation (driver-side, one footer per
    file) — data is not scanned twice, but directories with millions
    of files should land a _common_metadata or move to a catalog
    table; per-query cost is listing + footer reads.

    lime-etl analog: user-database schema drift between job runs —
    the reference leaves it to each job's SQL; here it's a reader
    guarantee.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)


def align_to_schema(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` onto a target contract schema: missing columns
    become typed NULLs, present columns are cast to the contract
    type, extra columns are dropped, order follows the contract.

    This is the write-side half of schema evolution: every producer
    aligns to the contract before appending, so readers never need
    mergeSchema for columns the contract already declares. Row-local
    projection — no shuffle, survives whole-stage codegen.
    """
    cols = []
    have = {f.name for f in df.schema.fields}
    for field in schema.fields:
        if field.name in have:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    return df.select(*cols)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) catalog table.

    Bucketing is THE co-location tool for repeated large-table joins:
    two tables bucketed on the join key with the same bucket count
    join with NO exchange on either side — at 100 TB that deletes the
    dominant shuffle from every downstream join/agg on that key.
    (File-based ``save`` cannot carry bucket metadata; bucketing
    requires the catalog, hence ``saveAsTable``.)
    """
    writer = df.write.mode(mode).bucketBy(buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Read a catalog table (bucket metadata preserved)."""
    return spark.table(table)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC source (lime-etl's SQLAlchemy sources' Spark analog).

    Parallel reads require partition_column+bounds; without them the
    read is single-task — never do that at scale. Exercised end-to-end
    against a real file-backed DuckDB database when its (public Maven)
    JDBC driver jar is discoverable in a local cache — 4-way
    partitioned range reads, filter pushdown to the remote scan, and
    append write-back (tests/test_sources_round2.py); option-plumbing
    unit tests cover the rest.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        # accept domain.Password for the password option so call sites
        # can pass the redacting wrapper all the way down; unwrap only
        # at the option boundary (Spark needs the raw str)
        from lime_etl_spark.domain.value_objects import Password

        reader = reader.option(k, v.value if isinstance(v, Password) else v)
    return reader.load()


def _is_missing_avro_module(e: Exception) -> bool:
    """True only for the specific 'spark-avro jar not on the
    classpath' AnalysisException — a substring sniff would misroute
    unrelated failures whose message merely mentions avro (e.g. a
    schema-evolution error naming an .avro path) into the fallback."""
    msg = str(e).lstrip().lower()
    if msg.startswith("["):  # strip a leading [ERROR_CLASS] tag
        msg = msg.split("]", 1)[-1].lstrip()
    return msg.startswith("failed to find data source: avro") or msg.startswith(
        "failed to find the data source: avro"
    )


def read_avro(
    spark: SparkSession,
    path: str,
    avro_schema: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """Avro source (the other columnar-lake interchange format next to
    parquet/orc; common as a Kafka archive dump format).

    Prefers the JVM spark-avro module (vectorized, sync-splittable);
    when it is absent from the classpath (as in this container —
    DATA_SOURCE_NOT_FOUND), falls back to the pure-Python
    ``format("avropy")`` DataSource (sources/avro_py.py, from the
    public Avro spec), so Avro is END-TO-END functional either way
    instead of gated on a jar (r4 'what's missing' #2). ``avro_schema``
    (an Avro JSON schema string) pins reader-side schema evolution
    instead of trusting per-file writer schemas — at 100 TB a
    mixed-schema directory otherwise resolves against whichever file
    lists first; the fallback honors it as the reader schema.
    """
    try:
        reader = spark.read.format("avro")
        if avro_schema is not None:
            reader = reader.option("avroSchema", avro_schema)
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        return reader.load(path)
    except Exception as e:  # noqa: BLE001 - only the missing-module error falls back
        if not _is_missing_avro_module(e):
            raise  # real read errors (corrupt file, schema mismatch) surface
    from lime_etl_spark.sources.avro_py import (
        _register_avropy,
        avro_schema_to_ddl,
    )

    _register_avropy(spark)
    reader = spark.read.format("avropy").option("path", path)
    for k, v in (options or {}).items():
        # the fallback honors the file-listing options it implements
        # (avro_py._avro_files) and refuses the rest instead of
        # silently returning different data than the JVM path would
        if k.lower() in ("pathglobfilter", "recursivefilelookup", "ignoreextension"):
            reader = reader.option(k, v)
        else:
            raise NotImplementedError(
                f"read_avro option {k!r} is not supported by the pure-Python "
                "avropy fallback (JVM spark-avro module absent)"
            )
    if avro_schema is not None:
        import json as _json

        reader = reader.schema(avro_schema_to_ddl(_json.loads(avro_schema)))
    return reader.load()


def write_avro(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Avro sink: JVM spark-avro when present, else the distributed
    pure-Python container writer (one file per partition, deflate
    codec — see sources/avro_py.py). ``partition_by`` needs the JVM
    module (hive-style dir layout); the fallback raises on it rather
    than silently flattening."""
    try:
        writer = (
            df.write.format("avro").mode(mode).option("compression", compression)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        return
    except Exception as e:  # noqa: BLE001 - only the missing-module error falls back
        if not _is_missing_avro_module(e):
            raise  # real write errors must surface, never silent fallback
    if partition_by:
        raise NotImplementedError(
            "partitionBy needs the JVM spark-avro module; the pure-Python "
            "fallback writes one container file per partition"
        )
    import glob as _glob
    import shutil

    from lime_etl_spark.sources.avro_py import write_avro_py

    existing = _glob.glob(os.path.join(path, "*.avro")) if os.path.isdir(path) else []
    part_offset = 0
    mode = mode.lower()  # the JVM parses SaveMode case-insensitively
    if mode == "overwrite":
        if os.path.isdir(path):
            shutil.rmtree(path)
    elif mode in ("error", "errorifexists", "default"):
        if os.path.exists(path):
            raise FileExistsError(path)
    elif mode == "ignore":
        if os.path.exists(path):
            return  # JVM semantics: existing PATH wins, write skipped
    elif mode == "append":
        # new part numbering starts past the HIGHEST existing index
        # (not the count: empty partitions write no file, so existing
        # indexes are sparse and a count-offset could still collide)
        import re as _re

        taken = [
            int(m.group(1))
            for f in existing
            if (m := _re.search(r"part-(\d+)\.avro$", f))
        ]
        part_offset = max(taken) + 1 if taken else 0
    else:
        raise ValueError(f"unknown write mode: {mode}")
    write_avro_py(df, path, codec=compression, part_offset=part_offset)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Raw-text ingest → the engine's ``documents`` shape.

    ``spark.read.text`` streams line-per-row with zero parsing cost;
    each line becomes a document with a content-derived 63-bit id
    (md5-prefix — deterministic across runs/partitionings, unlike
    monotonically_increasing_id, and collision-safe at corpus scale),
    ``source`` = the originating file. This is the first hop of the
    LLM pipeline: land raw dumps, then run the text/dedup/curation
    operator families unchanged.

    Scale: one narrow projection per line; ids need no shuffle and no
    driver coordination, so ingest parallelism == input split count.
    """
    raw = spark.read.text(path).where(F.length("value") > 0)
    doc_id = F.conv(F.substring(F.md5("value"), 1, 15), 16, 10).cast("bigint")
    return raw.select(
        doc_id.alias("doc_id"),
        F.col("value").alias("text"),
        F.lit(None).cast("string").alias("lang"),
        F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("source"),
        F.length("value").cast("bigint").alias("n_chars"),
    )


def read_media_dir(
    spark: SparkSession, path: str, pattern: str = "*", max_bytes: int | None = None
) -> DataFrame:
    """Binary-media ingest via Spark's ``binaryFile`` source — the
    real-world entry point of the multimodal family (operators/
    multimodal.py): files land as opaque ``binary`` payloads with
    typed provenance columns, then decode/resize/frame-sample run as
    the same Arrow-batched stages regardless of how payloads arrived.

    media_id is content-derived (md5-prefix of the path — stable under
    re-listing); media_type comes from the extension. ``max_bytes``
    maps to pathGlobFilter/sizes a production ingest would set so a
    stray 10 GB video cannot OOM an executor reading a 128 MB batch.
    """
    reader = (
        spark.read.format("binaryFile").option("pathGlobFilter", pattern)
    )
    df = reader.load(path)
    if max_bytes is not None:
        df = df.where(F.col("length") <= max_bytes)
    ext = F.lower(F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1))
    media_type = (
        F.when(ext.isin("png", "jpg", "jpeg", "gif", "bmp"), "image")
        .when(ext.isin("wav", "mp3", "flac", "ogg"), "audio")
        .when(ext.isin("mp4", "avi", "mkv", "webm"), "video")
        .otherwise("binary")
    )
    return df.select(
        F.conv(F.substring(F.md5(F.col("path")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("media_id"),
        media_type.alias("media_type"),
        F.col("content"),
        F.col("path").alias("file_path"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified_ts"),
    )


def write_partition_overwrite(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """Incremental partition refresh: overwrite ONLY the partitions
    present in ``df``, leaving every other partition's files untouched
    (spark.sql.sources.partitionOverwriteMode=dynamic, scoped to this
    write). This is how a daily backfill (etl_backfill_plan's output)
    lands: recompute the stale days, rewrite just those directories —
    at 100 TB the difference between touching 3 partitions and
    rewriting the table.

    STATIC mode (the default) would first DELETE every partition and
    replace the table with df's content — the classic
    data-loss-on-backfill footgun this helper exists to avoid.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

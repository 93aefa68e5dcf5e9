"""Structured Streaming surface: the engine's stream analogs of the
batch event operators.

lime-etl has no streaming story — its closest concept is re-running a
batch on a refresh interval (reference lime_etl/domain/job_spec.py
``min_seconds_between_refreshes``). On Spark the idiomatic upgrade is
Structured Streaming: the SAME declarative aggregations run
incrementally with exactly-once file-sink semantics, so a "refresh
every N seconds" lime-etl job becomes a `readStream` with a trigger.

Scale design:

- **File source** with `maxFilesPerTrigger` so a backlogged 100 TB
  directory is consumed in bounded micro-batches instead of one
  giant batch that OOMs state.
- **Watermarks bound state.** Every streaming agg declares how late
  events may arrive; state for closed windows is dropped. Without a
  watermark, window state grows without bound — the classic
  streaming OOM at scale.
- **approx_count_distinct in streams.** Exact per-window distincts
  keep every user id in state; HLL sketches are O(1) per window and
  mergeable across partitions (map-side partial merge).
- **session_window for gap sessionization.** Spark's native session
  windows merge-as-they-arrive; this is the streaming equivalent of
  the batch lag→flag→cumsum in operators/events.py (which needs the
  whole history and therefore cannot stream).
- **foreachBatch upsert sink.** Parquet files are immutable, so
  merge-into-parquet is expressed per micro-batch with the SAME
  batch `upsert` operator (operators/etl.py) — one code path for
  batch and streaming writes, checkpointed for exactly-once.
"""

from __future__ import annotations

import os
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lime_etl_spark.sources.fs import overwrite_dir, path_exists
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lime_etl_spark.operators.etl import upsert

# Event-stream schema: the driver's events table minus the raw-nanos
# quirk (streams declare schemas explicitly — inference would scan).
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("user_id", LongType(), False),
        StructField("event_type", StringType(), False),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
        StructField("ts", TimestampType(), False),
    ]
)


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema: StructType = EVENT_SCHEMA,
    max_files_per_trigger: Optional[int] = 4,
    latest_first: bool = False,
    max_file_age: Optional[str] = None,
) -> DataFrame:
    """File-source stream over a directory of event parquet files.

    Rate limiting: ``max_files_per_trigger`` bounds micro-batch size —
    without it, a backfill (or the first start against a full
    directory) becomes ONE giant batch whose state update and sink
    commit must succeed atomically; bounded batches keep checkpoint
    deltas and watermark advances incremental. ``latest_first`` serves
    freshest-data-first after a long outage (at the cost of event-time
    disorder — watermarks will drop more late rows). ``max_file_age``
    (e.g. "7d") stops the source from even listing files older than
    the horizon — the listing itself is the bottleneck on a 100 TB
    directory, so age-bounding it matters before any row is read.
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if latest_first:
        reader = reader.option("latestFirst", "true")
    if max_file_age is not None:
        reader = reader.option("maxFileAge", max_file_age)
    return reader.parquet(path)


def windowed_kpis(
    stream: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window KPIs (stream analog of ev_daily_kpis)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("n_purchases"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "approx_users",
            "total_value",
            "n_purchases",
        )
    )


def sessionize_stream(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    user_col: str = "user_id",
) -> DataFrame:
    """Gap-based sessions via native session_window (merges incrementally)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sess"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            user_col,
            "n_events",
            "session_start",
            "session_end",
            F.col("sess.start").alias("window_start"),
            F.col("sess.end").alias("window_end"),
        )
    )


def _each_batch(stream: DataFrame, checkpoint_path: str, process: Callable) -> StreamingQuery:
    """Run ``process(batch_df, batch_id)`` on every micro-batch available
    now, checkpointed so a replayed batch is not applied twice."""
    return (
        stream.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )


def _rewrite_each_batch(
    stream: DataFrame,
    checkpoint_path: str,
    dst: str,
    write: Callable[[str, DataFrame, Optional[DataFrame]], None],
) -> StreamingQuery:
    """_each_batch for a sink that rewrites one parquet directory:
    ``write(tmp, batch_df, current)`` merges a micro-batch into
    ``current`` (``dst`` read back, None before the first batch), and
    sources/fs.py's crash-safe overwrite_dir swaps ``tmp`` over ``dst``."""
    spark = stream.sparkSession

    def process(batch_df: DataFrame, batch_id: int) -> None:
        def rewrite(tmp: str) -> None:
            current = spark.read.parquet(dst) if path_exists(spark, dst) else None
            write(tmp, batch_df, current)

        overwrite_dir(spark, dst, rewrite)

    return _each_batch(stream, checkpoint_path, process)


def stream_upsert_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: list,
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> StreamingQuery:
    """foreachBatch merge-into-parquet: each micro-batch is upserted
    into the target with the batch `upsert` operator (latest-wins on
    ``keys``), giving streaming writes and batch backfills one code
    path. The checkpoint makes replays idempotent: re-upserting the
    same batch is a no-op because the keys already hold those rows.
    """

    def write(tmp: str, batch_df: DataFrame, base: Optional[DataFrame]) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        increment = batch_df.dropDuplicates(keys)
        merged = increment if base is None else upsert(base, increment, keys)
        # rewrite-on-merge: parquet has no in-place update; a real lake
        # table format would make this a transactional MERGE. Localize
        # the rewrite by partitioning the target on a key prefix.
        merged.write.parquet(tmp)

    return _rewrite_each_batch(stream, checkpoint_path, target_path, write)




def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each left event paired with the right
    events for the same ``key`` in the window ``(left.ts - max_gap,
    left.ts]``.

    Both sides are watermarked and the join condition carries an
    explicit time range — that is what lets Spark BOUND the join
    state: a buffered right row can be evicted once the watermark
    passes ``right.ts + max_gap``, because no future left row can
    match it. A stream-stream join without the range predicate keeps
    every row forever — the state-OOM trap at 100 TB/day volumes.
    Inner-join results emit as soon as both sides arrive (no
    watermark-close latency); the watermark only gates state cleanup.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    return l.join(
        r,
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col("r.ts") <= F.col("l.ts"))
        & (F.col("r.ts") > F.col("l.ts") - F.expr(f"INTERVAL {max_gap}")),
    )


def purchase_attribution_stream(
    stream: DataFrame,
    max_gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming analog of the batch as-of attribution
    (operators/events.py ev_asof_attribution): every purchase joined
    to the clicks by the same user in the preceding ``max_gap``."""
    purchases = stream.where(F.col("event_type") == "purchase")
    clicks = stream.where(F.col("event_type") == "click")
    return interval_join_streams(purchases, clicks, "user_id", max_gap, watermark).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("purchase_ts"),
        F.col("r.event_id").alias("click_id"),
        F.col("r.ts").alias("click_ts"),
    )


class StreamRunMetrics(dict):
    """Aggregated StreamingQueryProgress counters for one drained run.

    Keys: ``input_rows``, ``rows_dropped_by_watermark``,
    ``state_rows``, ``micro_batches``. ``rows_dropped_by_watermark``
    is the operational late-data signal: rows that arrived behind the
    watermark and were excluded from stateful results. At scale this
    is the number to alert on — silent late-drop is how streaming
    pipelines lose data without erroring.
    """


def run_with_metrics(
    stream: DataFrame,
    query_name: str,
    output_mode: str = "update",
    timeout_s: int = 120,
) -> tuple[DataFrame, StreamRunMetrics]:
    """Drain the source (availableNow) into a memory sink and return
    (result, metrics) where metrics aggregates every micro-batch's
    progress — in production the same numbers stream to a metrics
    sink via a StreamingQueryListener."""
    q = (
        stream.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    metrics = StreamRunMetrics(
        input_rows=0, rows_dropped_by_watermark=0, state_rows=0, micro_batches=0
    )
    for progress in q.recentProgress:
        metrics["micro_batches"] += 1
        metrics["input_rows"] += progress.get("numInputRows", 0) or 0
        for op in progress.get("stateOperators", []):
            metrics["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0) or 0
            metrics["state_rows"] = max(metrics["state_rows"], op.get("numRowsTotal", 0) or 0)
    return stream.sparkSession.table(query_name), metrics


def run_available_now(
    stream: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
) -> DataFrame:
    """Drain everything currently in the source into a memory sink and
    return the result as a batch DataFrame (test/driver harness)."""
    return run_with_metrics(stream, query_name, output_mode, timeout_s)[0]


def dedup_stream(
    stream: DataFrame,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exactly-once-per-key dedup within the watermark
    horizon (``dropDuplicatesWithinWatermark``).

    At-least-once sources (reprocessed files, replayed Kafka offsets)
    emit the same event twice across micro-batches; plain
    ``dropDuplicates`` on a stream would keep EVERY key ever seen in
    state — unbounded at 100 TB/day. The watermark variant holds one
    state entry per key only until the watermark passes the key's
    event time, so state size tracks the late-data horizon, not the
    stream's lifetime. First occurrence wins; duplicates arriving
    within the horizon are dropped, and a duplicate arriving LATER
    than the horizon is the documented trade-off (it re-emits — size
    the watermark to the source's replay window)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


SCD2_COLS = ("effective_from_us", "effective_to_us", "is_current")


def stream_scd2_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: list,
    tiebreak: Optional[list] = None,
) -> StreamingQuery:
    """foreachBatch SCD-2 maintenance: each micro-batch of change
    events is merged into a parquet dimension-history table with the
    SAME ``scd2`` operator the batch rebuild uses — one semantics for
    streaming upkeep and batch backfill.

    Incremental merge, work ∝ touched keys (not table size):
    history rows for keys ABSENT from the batch pass through via an
    anti join; rows for touched keys are 'reopened' (the scd2 columns
    dropped — every history row still carries its original change
    columns), unioned with the new changes, deduplicated (replay
    idempotence), and re-windowed. Only that union re-sorts; at scale
    the per-batch cost tracks the hot-key set. The parquet rewrite is
    the same rewrite-on-merge trade documented on stream_upsert_sink.
    """
    tb = list(tiebreak or [])

    from lime_etl_spark.operators.etl import scd2

    def write(tmp: str, batch_df: DataFrame, hist: Optional[DataFrame]) -> None:
        changes = batch_df.dropDuplicates()
        if hist is not None:
            touched = changes.select(*keys).distinct()
            untouched = hist.join(touched, keys, "left_anti")
            reopened = hist.join(touched, keys, "left_semi").drop(*SCD2_COLS)
            merged = reopened.unionByName(changes).dropDuplicates()
            final = untouched.unionByName(
                scd2(merged, keys, F.unix_micros("ts"), tb)
            )
        else:
            final = scd2(changes, keys, F.unix_micros("ts"), tb)
        final.write.parquet(tmp)

    return _rewrite_each_batch(stream, checkpoint_path, target_path, write)


def kafka_reader_options(
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: Optional[int] = None,
    fail_on_data_loss: bool = False,
) -> dict:
    """Option set for a Kafka micro-batch source (pure, unit-testable).

    ``max_offsets_per_trigger`` is the backpressure bound — without it
    a backlogged topic arrives as ONE giant first micro-batch (the
    Kafka analog of the file source's maxFilesPerTrigger). At 100
    TB/day topics it is not optional; callers get it as an explicit
    argument rather than a buried .option.
    """
    if not brokers or not topic:
        raise ValueError("brokers and topic are required")
    opts = {
        "kafka.bootstrap.servers": brokers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        if max_offsets_per_trigger <= 0:
            raise ValueError("max_offsets_per_trigger must be positive")
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    value_schema: StructType = EVENT_SCHEMA,
    **options: object,
) -> DataFrame:
    """Kafka JSON-value stream projected onto ``value_schema``.

    The spark-sql-kafka connector jar does not ship in this container,
    so (like read_jdbc) the load path is exercised only as far as the
    data-source lookup; the option plumbing and projection logic are
    unit-tested. In production the projection keeps Kafka's
    ``timestamp`` as the event-time column fallback when the payload
    carries none.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(brokers, topic, **options).items():  # type: ignore[arg-type]
        reader = reader.option(k, str(v))
    raw = reader.load()
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("v.*", "kafka_ts")


class CompactionTrigger:
    """Rate-limited small-file compaction for append-style streaming
    sinks (the foreachBatch parquet dirs this module writes; NOT a
    native file-sink dir, whose ``_spark_metadata`` log must never be
    rewritten out-of-band).

    An append-per-micro-batch sink at 100 TB mints millions of KB
    files and scan planning starts to dominate read time. Call
    :meth:`maybe_compact` after each micro-batch commit; it fires only
    when BOTH gates pass:

    - file-count gate: the sink holds more than ``max_files`` parquet
      files (``os.walk`` locally; a lake table answers this from its
      manifest without listing);
    - rate gate: at least ``min_interval_s`` elapsed since the last
      compaction, so a hot stream spends a bounded fraction of its
      time rewriting and an idle stream never rewrites at all.

    Reference parity: the reference schedules housekeeping as admin
    jobs (lime_etl/service/admin/delete_old_logs.py); this is the
    streaming-era equivalent, inlined into the sink's commit point
    because streams have no natural between-batches scheduler.
    """

    def __init__(
        self,
        path: str,
        max_files: int = 64,
        min_interval_s: float = 300.0,
        target_file_mb: int = 128,
    ) -> None:
        self.path = path
        self.max_files = max_files
        self.min_interval_s = min_interval_s
        self.target_file_mb = target_file_mb
        self._last_compact_mono: float | None = None
        self.compactions = 0  # observability: exported to batch metrics

    def due(self) -> bool:
        # os.path is deliberate here: small-file compaction (os.walk
        # counting + rewrite) is local-maintenance tooling; a lake
        # table format owns compaction on remote filesystems.
        from lime_etl_spark.operators.maintenance import parquet_file_count

        if not os.path.exists(self.path):
            return False
        if parquet_file_count(self.path) <= self.max_files:
            return False
        if self._last_compact_mono is None:
            return True
        return (time.monotonic() - self._last_compact_mono) >= self.min_interval_s

    def maybe_compact(self, spark: SparkSession) -> bool:
        """Compact if due; returns whether a compaction ran."""
        from lime_etl_spark.operators.maintenance import compact_parquet

        if not self.due():
            return False
        compact_parquet(spark, self.path, target_file_mb=self.target_file_mb)
        self._last_compact_mono = time.monotonic()
        self.compactions += 1
        return True


def with_compaction(
    process: Callable[[DataFrame, int], None], trigger: CompactionTrigger
) -> Callable[[DataFrame, int], None]:
    """Wrap a foreachBatch function so each commit may trigger a
    rate-limited compaction of the sink it just appended to. The
    compaction runs on the driver inside the micro-batch slot —
    intentionally: it must not race the next append into the same dir.
    """

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        process(batch_df, batch_id)
        trigger.maybe_compact(batch_df.sparkSession)

    return wrapped


def enrich_with_static(
    stream: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the dimension-lookup pattern for
    streams: each micro-batch joins against a STATIC DataFrame, no
    state, no watermark interaction (only stream-stream joins build
    join state). The dim is re-planned per micro-batch, so at scale
    broadcast it (small dims — done here automatically under the
    broadcast threshold) or pre-bucket both sides on the key; for a
    slowly-changing dim, swap in ``stream_scd2_sink``'s output and
    re-read per batch via foreachBatch instead.
    """
    return stream.join(F.broadcast(dim), on=on, how=how)


def stream_near_dup_sink(
    doc_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
    tau: Optional[float] = None,
) -> StreamingQuery:
    """Incremental near-duplicate detection: every micro-batch of new
    documents is LSH-probed against ALL documents seen so far, using
    the same minhash/banding/verify operators as the batch
    ``dedup_minhash_lsh`` — detected pairs accumulate in
    ``pairs_path``, and the stream's union-over-batches equals the
    batch pipeline over the union corpus (pytest-gated).

    The index under ``index_path`` is two append-only parquet tables:
    ``buckets`` (doc_id, band, sig) — the LSH postings probed per
    batch — and ``shingles`` (doc_id, x) — read back ONLY for docs
    that became candidates (left-semi on candidate ids), so verify
    work scales with the batch's candidate set, never the corpus.

    Scale: per batch the work is shingle+minhash the increment (∝
    batch size), one hash probe of the bucket index (at 100 TB the
    postings are key-partitioned; the probe touches matching buckets),
    and candidate-scoped exact verification — the same asymptotics as
    re-running LSH on just the increment. Appends never rewrite the
    index. Replays are fenced by the checkpoint; a crash BETWEEN the
    pairs append and the index append can duplicate rows on redelivery
    — consumers read with dropDuplicates, the idempotence trade every
    at-least-once parquet sink makes (same note as stream_upsert_sink).
    """
    from lime_etl_spark.operators.dedup import (
        JACCARD_TAU,
        band_buckets,
        doc_shingles,
        jaccard_pairs,
        minhash_signatures,
    )

    spark = doc_stream.sparkSession
    tau_v = JACCARD_TAU if tau is None else tau
    sh_dir = os.path.join(index_path, "shingles")
    bk_dir = os.path.join(index_path, "buckets")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("doc_id", "text").dropDuplicates(["doc_id"])
        new_sh = doc_shingles(batch).persist()
        new_bk = band_buckets(minhash_signatures(new_sh)).persist()
        new_bk.count()

        a, b = new_bk.alias("a"), new_bk.alias("b")
        within = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        )
        if path_exists(spark, bk_dir):
            old_bk = spark.read.parquet(bk_dir).alias("o")
            # old×new probe: either id order can occur, canonicalize
            cross = (
                old_bk.join(
                    new_bk.alias("n"),
                    (F.col("o.band") == F.col("n.band"))
                    & (F.col("o.sig") == F.col("n.sig"))
                    & (F.col("o.doc_id") != F.col("n.doc_id")),
                )
                .select(
                    F.least(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_a"),
                    F.greatest(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_b"),
                )
            )
            cands = within.unionByName(cross).distinct().persist()
            cand_ids = (
                cands.select(F.col("doc_a").alias("doc_id"))
                .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            # verify shingles: the increment's own + ONLY the touched
            # old docs (left-semi) — never the whole historical table
            old_sh = spark.read.parquet(sh_dir).join(cand_ids, "doc_id", "left_semi")
            ver_sh = new_sh.unionByName(old_sh)
        else:
            cands = within.distinct().persist()
            ver_sh = new_sh
        pairs = jaccard_pairs(ver_sh, candidates=cands).where(
            F.col("jaccard") >= tau_v
        )
        pairs.write.mode("append").parquet(pairs_path)
        new_sh.write.mode("append").parquet(sh_dir)
        new_bk.write.mode("append").parquet(bk_dir)
        cands.unpersist()
        new_bk.unpersist()
        new_sh.unpersist()

    return _each_batch(doc_stream, checkpoint_path, process)


def stream_embedding_near_dup_sink(
    vec_stream: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Incremental EMBEDDING near-duplicate detection — the dense-
    vector twin of ``stream_near_dup_sink``, completing the
    batch/streaming symmetry the text family already has: every
    micro-batch of new vectors is probed against all vectors seen so
    far via the SAME sign-band LSH bucket join as the batch
    ``dedup_embedding_cosine`` (16 bands × 4 sign bits on
    (band, bv, label)), with the exact cosine verified on candidates
    only. Union-over-batches equals the batch operator on the union
    corpus (pytest-gated) — including the same documented τ-boundary
    LSH miss rate, since batch and stream share one candidate
    generator.

    Index layout (append-only parquet):
    ``bands`` (vec_id, label, band, bv) — the postings probed per
    batch — and ``vectors`` (vec_id, embedding, norm) — read back
    ONLY for vectors that became candidates (left-semi on candidate
    ids), so verify work scales with the batch's candidate set.

    Scale: per batch — band the increment (row-local), one equi-join
    probe of the band index on (band, bv, label) (key-partitioned
    postings at 100 TB), candidate-scoped cosine. Work ∝ increment,
    appends never rewrite the index. Same at-least-once idempotence
    trade as stream_near_dup_sink (consumers dropDuplicates)."""
    from lime_etl_spark.operators.dedup import (
        _emb_dot,
        cosine_verify_pairs,
        sign_band_values,
    )

    spark = vec_stream.sparkSession
    bd_dir = os.path.join(index_path, "bands")
    vc_dir = os.path.join(index_path, "vectors")

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select("vec_id", "label", "embedding").dropDuplicates(
            ["vec_id"]
        )
        new_vec = batch.withColumn(
            "norm", F.sqrt(_emb_dot(F.col("embedding"), F.col("embedding")))
        ).persist()
        new_bd = new_vec.select(
            "vec_id",
            "label",
            F.posexplode(sign_band_values(F.col("embedding"))).alias("band", "bv"),
        ).persist()
        new_bd.count()

        a, b = new_bd.alias("a"), new_bd.alias("b")
        within = a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        if path_exists(spark, bd_dir):
            old_bd = spark.read.parquet(bd_dir).alias("o")
            cross = old_bd.join(
                new_bd.alias("n"),
                (F.col("o.band") == F.col("n.band"))
                & (F.col("o.bv") == F.col("n.bv"))
                & (F.col("o.label") == F.col("n.label"))
                & (F.col("o.vec_id") != F.col("n.vec_id")),
            ).select(
                F.least(F.col("o.vec_id"), F.col("n.vec_id")).alias("vec_a"),
                F.greatest(F.col("o.vec_id"), F.col("n.vec_id")).alias("vec_b"),
            )
            cands = within.unionByName(cross).distinct().persist()
            cand_ids = (
                cands.select(F.col("vec_a").alias("vec_id"))
                .unionByName(cands.select(F.col("vec_b").alias("vec_id")))
                .distinct()
            )
            old_vec = spark.read.parquet(vc_dir).join(cand_ids, "vec_id", "left_semi")
            ver_vec = new_vec.select("vec_id", "embedding", "norm").unionByName(
                old_vec
            )
        else:
            cands = within.distinct().persist()
            ver_vec = new_vec.select("vec_id", "embedding", "norm")
        pairs = cosine_verify_pairs(cands, ver_vec)
        pairs.write.mode("append").parquet(pairs_path)
        new_vec.select("vec_id", "embedding", "norm").write.mode("append").parquet(
            vc_dir
        )
        new_bd.write.mode("append").parquet(bd_dir)
        cands.unpersist()
        new_bd.unpersist()
        new_vec.unpersist()

    return _each_batch(vec_stream, checkpoint_path, process)


class DqGateResult(dict):
    """Per-batch gate ledger: batch_id → {passed, n_rows, null_rate}."""


def with_dq_gate(
    apply: Callable[[DataFrame, int], None],
    check_cols: list,
    quarantine_path: str,
    max_null_rate: float = 0.0,
    min_rows: int = 0,
    ledger: Optional[DqGateResult] = None,
) -> Callable[[DataFrame, int], None]:
    """Streaming data-quality circuit breaker at the foreachBatch
    commit point: each micro-batch is profiled (null rate over
    ``check_cols``, row floor) BEFORE the sink function runs; a
    failing batch is diverted whole to the quarantine directory and
    the sink never sees it — the streaming analog of a lime-etl job
    ``test()`` guarding a refresh (reference job_spec.py:60), placed
    where exactly-once semantics already exist.

    Quarantine-not-drop: the bad batch is preserved (partitioned by
    batch id) for replay after the upstream fix, which is the
    operational contract a 100 TB ingest needs — data is never lost to
    a gate, only parked. The profile is ONE aggregate over the batch
    (counters only); the batch DataFrame is reused for the sink, so
    the gate adds a single cheap pass.
    """
    gate_ledger = ledger if ledger is not None else DqGateResult()

    def gated(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
            for c in check_cols
        ]
        prof = batch_df.agg(*aggs).collect()[0]
        n = prof["n_rows"]
        n_null = max((prof[f"n_null_{c}"] for c in check_cols), default=0)
        null_rate = (n_null / n) if n else 0.0
        passed = n >= min_rows and null_rate <= max_null_rate
        gate_ledger[batch_id] = {"passed": passed, "n_rows": n, "null_rate": null_rate}
        if not passed:
            if n:
                batch_df.write.mode("overwrite").parquet(
                    os.path.join(quarantine_path, f"batch_id={batch_id}")
                )
            return
        apply(batch_df, batch_id)

    return gated


def stream_cms_sink(
    stream: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
) -> StreamingQuery:
    """Incremental count-min sketch maintenance: each micro-batch
    builds its partial sketch (d×w counters — operators/profiling.py)
    and MERGES it into the stored sketch by plain counter addition.
    This is why sketches, not exact counts, are the streaming state
    story at 100 TB: the stored state is d×w rows forever, the merge
    is associative/commutative (replay-safe), and the result equals
    the batch sketch over all data seen — proven in pytest.
    """
    from lime_etl_spark.operators.profiling import CMS_DEPTH, _cms_bucket

    def batch_sketch(df: DataFrame) -> DataFrame:
        votes = df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            _cms_bucket(F.col(key_col), j).alias("bucket"),
                        )
                        for j in range(CMS_DEPTH)
                    ]
                )
            ).alias("v")
        ).select("v.j", "v.bucket")
        return votes.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    def write(tmp: str, batch_df: DataFrame, base: Optional[DataFrame]) -> None:
        inc = batch_sketch(batch_df)
        if base is not None:
            merged = (
                base.unionByName(inc)
                .groupBy("j", "bucket")
                .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            )
        else:
            merged = inc.select("j", "bucket", F.col("cnt").cast("bigint").alias("cnt"))
        merged.coalesce(1).write.parquet(tmp)

    return _rewrite_each_batch(stream, checkpoint_path, sketch_path, write)

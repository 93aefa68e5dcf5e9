"""Per-layer figures derived from the traced run's spans.

Span names are ``<layer>.<call>``; each function here reduces the spans
of the traced ops to the per-layer metrics named in
``perfbench/run.py:PER_LAYER``. Per-op figures are medians over the
traced ops of the kind they describe. All timing comes from wrappers
installed around the program's public calls; nothing inside
``lime_etl_spark/`` is changed.
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict
from typing import Dict, Iterable, List, Sequence

import pyarrow.parquet as pq

from perfbench.harness import OpLog, Span, Tracer, median_or_zero

APPEND = "adapter.admin_store.append."
LOOKUP = "adapter.admin_store.lookup."
COMPACT = "adapter.admin_store.compact."
ANALYTICS = "adapter.admin_store.analytics."
RUNNER = "service.runner."
TABLE_RUN = "service.table_jobs.run."
TABLE_TEST = "service.table_jobs.test."
DATATEST = "service.table_jobs.datatest."
LOAD_TABLE = "sources.load_table"
LEDGER_TABLES = ("batches", "jobs", "test_results")


class OpSpans:
    """The tracer's spans grouped by op, with self times."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.by_op: Dict[int, List[Span]] = defaultdict(list)
        for s in tracer.spans:
            self.by_op[s.op].append(s)
        self.by_id = {s.sid: s for s in tracer.spans}
        self.selfs = tracer.self_seconds()

    def spans(self, op: int, prefix: str, outermost: bool = False) -> List[Span]:
        out = []
        for s in self.by_op.get(op, ()):
            if not s.name.startswith(prefix):
                continue
            parent = self.by_id.get(s.parent)
            if outermost and parent is not None and parent.name.startswith(prefix):
                continue
            out.append(s)
        return out

    def seconds(self, op: int, prefix: str, outermost: bool = False) -> float:
        return sum(s.seconds for s in self.spans(op, prefix, outermost))

    def count(self, op: int, key: str) -> float:
        return self.tracer.counts.get((op, key), 0)

    def per_op(self, ops: Iterable[int], fn) -> float:
        return median_or_zero([fn(op) for op in ops])


def traced_ops(log: OpLog, kind: str) -> List[int]:
    return [i for i, o in enumerate(log.ops) if o.traced and o.kind == kind]


def ledger_table_bytes(root: str) -> int:
    size = 0
    for table in LEDGER_TABLES:
        path = os.path.join(root, table)
        if os.path.isdir(path):
            size += sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return size


def part_files(root: str) -> int:
    return sum(
        1 for _, _, files in os.walk(root) for f in files if f.endswith(".parquet")
    )


def ledger_bytes_per_row(root: str) -> float:
    """Bytes of the parquet files under an admin root per ledger row."""
    size = rows = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return size / rows if rows else 0.0


# -- wrappers ------------------------------------------------------------------


def install_store_tracing(tracer: Tracer) -> None:
    """Spans around SparkAdminStore's appends, lookups, rewrites, and the
    parquet files it writes (pyarrow.parquet.write_table)."""
    from lime_etl_spark.adapter.admin_store import SparkAdminStore

    for m in ("save_batch", "save_job_result", "flush_logs"):
        tracer.wrap(SparkAdminStore, m, APPEND + m)

    def files_at_lookup(store, *args, **kwargs) -> None:
        tracer.sample("files_per_lookup", part_files(store.root))

    for m in ("get_last_successful_ts", "latest_test_results", "get_previous_batch", "get_batch"):
        tracer.wrap(SparkAdminStore, m, LOOKUP + m, before=files_at_lookup)

    def rewritten(result, store, *args, **kwargs) -> None:
        tracer.count("bytes_rewritten", ledger_table_bytes(store.root))

    for m in ("compact", "delete_old_batches"):
        tracer.wrap(SparkAdminStore, m, COMPACT + m, after=rewritten)

    def file_written(result, table, where, *args, **kwargs) -> None:
        tracer.count("files_written")
        tracer.count("ledger_bytes_written", os.path.getsize(where))
        tracer.count("ledger_rows_written", table.num_rows)

    tracer.wrap(pq, "write_table", "adapter.admin_store.file_write", after=file_written)


def install_table_job_tracing(tracer: Tracer) -> None:
    """Spans around the prebuilt table jobs' run and test calls, named
    after the job (``service.table_jobs.run.<job>``)."""
    from lime_etl_spark.service.table_jobs import DataTestJob, TableRefreshJob

    tracer.wrap(TableRefreshJob, "run", lambda job, ctx: TABLE_RUN + job.job_name)
    tracer.wrap(TableRefreshJob, "test", lambda job, ctx: TABLE_TEST + job.job_name)
    tracer.wrap(DataTestJob, "test", lambda job, ctx: DATATEST + job.job_name)


def install_source_tracing(tracer: Tracer) -> None:
    """Spans around ``sources.load_table`` in every loaded module of the
    program that bound it by name (``from ... import load_table``)."""
    from lime_etl_spark.sources import readers

    orig = readers.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith("lime_etl_spark") and getattr(mod, "load_table", None) is orig:
            tracer.wrap(mod, "load_table", LOAD_TABLE)


# -- reductions ----------------------------------------------------------------


def runner_self(spans: OpSpans, ops: List[int]) -> float:
    """Median per op of the runner span's own time: the batch call minus
    the job bodies, tests and store calls under it."""

    def one(op: int) -> float:
        return sum(spans.selfs[s.sid] for s in spans.spans(op, RUNNER))

    return spans.per_op(ops, one)


def store_metrics(tracer: Tracer, spans: OpSpans, log: OpLog, batch_kind: str = "batch") -> Dict[str, float]:
    batches = traced_ops(log, batch_kind)
    admins = traced_ops(log, "admin")
    dashboards = traced_ops(log, "dashboard")
    lookups = [s.seconds for op in batches for s in spans.spans(op, LOOKUP, outermost=True)]
    written = sum(v for (op, k), v in tracer.counts.items() if k == "ledger_bytes_written")
    rows = sum(v for (op, k), v in tracer.counts.items() if k == "ledger_rows_written")
    return {
        "adapter.admin_store.append_calls": spans.per_op(batches, lambda op: len(spans.spans(op, APPEND))),
        "adapter.admin_store.append_s": spans.per_op(batches, lambda op: spans.seconds(op, APPEND)),
        "adapter.admin_store.files_written": spans.per_op(batches, lambda op: spans.count(op, "files_written")),
        "adapter.admin_store.lookup_calls": spans.per_op(
            batches, lambda op: len(spans.spans(op, LOOKUP, outermost=True))
        ),
        "adapter.admin_store.lookup_s": spans.per_op(
            batches, lambda op: spans.seconds(op, LOOKUP, outermost=True)
        ),
        "adapter.admin_store.lookup_s.p50": median_or_zero(lookups),
        "adapter.admin_store.files_per_lookup": median_or_zero(tracer.samples["files_per_lookup"]),
        "adapter.admin_store.compact_s": spans.per_op(admins, lambda op: spans.seconds(op, COMPACT)),
        "adapter.admin_store.bytes_rewritten": spans.per_op(admins, lambda op: spans.count(op, "bytes_rewritten")),
        "adapter.admin_store.analytics_s": spans.per_op(dashboards, lambda op: spans.seconds(op, ANALYTICS)),
        "adapter.admin_store.bytes_written_per_row": written / rows if rows else 0.0,
    }


def source_metrics(spans: OpSpans, ops: List[int]) -> Dict[str, float]:
    return {
        "sources.load_table_calls": spans.per_op(ops, lambda op: len(spans.spans(op, LOAD_TABLE))),
        "sources.load_table_s": spans.per_op(ops, lambda op: spans.seconds(op, LOAD_TABLE)),
    }


def job_spans(spans: OpSpans, op: int) -> Dict[str, List[Span]]:
    """A table-job batch op's run/test spans keyed by job name."""
    out: Dict[str, List[Span]] = defaultdict(list)
    for prefix in (TABLE_RUN, TABLE_TEST, DATATEST):
        for s in spans.spans(op, prefix):
            out[s.name[len(prefix):]].append(s)
    return out


def parallel_runner_metrics(
    spans: OpSpans, log: OpLog, ops: List[int], layers: Sequence[Sequence[str]], max_workers: int
) -> Dict[str, float]:
    """layer_wait_s: per op, the sum over DAG layers of last job end
    minus first job end. worker_busy_ratio: per op, the job run and test
    time over (op wall time x max_workers)."""

    def wait(op: int) -> float:
        ends = {job: max(s.end for s in ss) for job, ss in job_spans(spans, op).items()}
        total = 0.0
        for layer in layers:
            got = [ends[j] for j in layer if j in ends]
            if len(got) > 1:
                total += max(got) - min(got)
        return total

    def busy(op: int) -> float:
        work = sum(s.seconds for ss in job_spans(spans, op).values() for s in ss)
        return work / (log.ops[op].seconds * max_workers)

    return {
        "service.runner.layer_wait_s": spans.per_op(ops, wait),
        "service.runner.worker_busy_ratio": spans.per_op(ops, busy),
    }


def spark_metrics(deltas: List[Dict[str, int]]) -> Dict[str, float]:
    """Per-op medians of the Spark counter deltas of the traced ops
    (jobs launched, shuffle bytes, input records) and the spill total."""
    return {
        "spark.jobs_per_op": median_or_zero([d["jobs"] for d in deltas]),
        "spark.shuffle_bytes_per_op": median_or_zero([d["shuffle_bytes"] for d in deltas]),
        "spark.input_records_per_op": median_or_zero([d["input_records"] for d in deltas]),
        "spark.spill_bytes": float(sum(d["spill_bytes"] for d in deltas)),
    }

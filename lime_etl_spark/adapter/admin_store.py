"""Parquet-backed admin bookkeeping.

Parity: the reference's SQLAlchemy admin schema (lime_etl/adapter/
admin_orm.py: batches, jobs, job_test_results, batch_log, job_log)
and its repositories/loggers (sqlalchemy_*_repository.py,
sqlalchemy_batch_logger.py, sqlalchemy_job_logger.py).

Storage decisions (sized for a 1000-executor deployment where the
DATA is 100 TB but the admin ledger is kilobytes per batch run):

- **Append-only event sourcing.** Parquet files are immutable, so
  updates are new rows with a monotonically increasing ``seq``. One
  fold, ``_LedgerIndex``, reconstructs current state latest-wins for
  every reader: the runner's lookups, the dashboard and time travel.
  Every ``ts`` is naive UTC; a tz-aware foreign file reads as UTC too.
- **Driver-side writes and reads via Arrow.** Bookkeeping rows are
  driver metadata, written like Spark's own event logs by the driver on
  its local disk: one tiny pyarrow file per state transition costs
  microseconds, where a Spark job per row would cost a scheduling
  round-trip. pyarrow is also the only reader of ledger files: the
  analytical reads hand Spark the live rows already read, a snapshot
  that a later rewrite cannot break. The index already holds every
  ledger row on the driver and retention bounds the logs.
- **Date-partitioned logs** (hive-style ``log_date=YYYY-MM-DD``
  dirs) so ``delete_old_logs`` (reference service/admin/
  delete_old_logs.py) is a partition drop, never a rewrite of
  retained data.
- **Buffered log appends.** Log lines buffer in memory and flush as
  one file per batch run (or on explicit ``flush_logs()``).
- **One write path; rewrites retire files.** Every part file is
  written under a hidden ``.`` name, then renamed in, so no reader sees
  it half-written. A rewrite (``compact``, ``delete_old_batches``)
  publishes one file whose footer retires every part file it listed,
  then deletes those (Delta Lake's add/remove log in one footer key).
  Readers skip retired files, so a crash at any step shows each row
  once, and files appended during a rewrite are never touched.
- **One rewriter at a time, enforced** by an exclusive ``flock`` on the
  root directory (readers share it, appends skip it), as Delta Lake
  serialises commits. It needs a POSIX local disk: the ledger's by design.
- **Incremental keyed index for point lookups.** The runner's gates
  read an in-memory index of the ledger tables, never a table scan.
  Part files are immutable and uuid-named, so a lookup lists the table
  directory and ingests only unseen files. An ingested file that stops
  being live (compaction or retention, by any process) forces a
  rebuild. The store's own appends enter the index with no read-back.
"""

from __future__ import annotations

import contextlib
import datetime
import fcntl
import json
import os
import shutil
import threading
import time
import uuid
from typing import Any, Dict, FrozenSet, Iterator, List, NamedTuple, Optional, Sequence, Set, Tuple

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from lime_etl_spark.domain.clock import ClockAdapter
from lime_etl_spark.domain.statuses import BatchStatus, JobResult, JobState, JobStatus, TestResult
from lime_etl_spark.domain.value_objects import ExecutionMillis, LogLevel, LogMessage, Result

_RETIRES = b"lime_etl_spark.retires"  # footer key: the part files a rewrite file replaces
_REWRITE_TMP = ".rewrite-"  # a rewrite's hidden file; an append's is ``.part-<uuid>.parquet``

_BATCHES = pa.schema(
    [
        ("batch_id", pa.string()),
        ("name", pa.string()),
        ("running", pa.bool_()),
        ("error_occurred", pa.bool_()),
        ("error_message", pa.string()),
        ("execution_millis", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("seq", pa.int64()),
    ]
)

_JOBS = pa.schema(
    [
        ("job_id", pa.string()),
        ("batch_id", pa.string()),
        ("job_name", pa.string()),
        ("state", pa.string()),
        ("reason", pa.string()),
        ("execution_millis", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("seq", pa.int64()),
    ]
)

_TEST_RESULTS = pa.schema(
    [
        ("test_id", pa.string()),
        ("job_id", pa.string()),
        ("job_name", pa.string()),
        ("test_name", pa.string()),
        ("passed", pa.bool_()),
        ("failure_message", pa.string()),
        ("execution_millis", pa.int64()),
        ("ts", pa.timestamp("us")),
    ]
)

_LOG = pa.schema(  # a log part file; its rows' log_date is its partition's name
    [
        ("entry_id", pa.int64()),
        ("batch_id", pa.string()),
        ("job_name", pa.string()),
        ("level", pa.string()),
        ("message", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)


# --- seq minting (r8 verdict #8) --------------------------------------------
#
# seq must give a TOTAL order across every writer sharing a root. The
# encoding: wall-clock ns with the low 22 bits replaced by the minting
# process's pid (Linux pid_max ceiling is 2^22). Concurrent processes
# have distinct pids by OS guarantee, so no two live writers can ever
# mint the same seq — same-ns clock reads included; within a process a
# lock-guarded high-water mark bumps past the last issued seq (one
# 2^22 step ≈ 4 ms of the time field), so ordering is strictly
# monotone across every store instance in the process and survives
# fork (the child's pid bits differ). Cross-process ordering tracks
# wall time at ~4 ms granularity with the pid as tie-break — total,
# never equal. seq is only ever compared with other seqs (the index's
# latest-wins fold); time-travel reads filter on the `ts` column.
_SEQ_PID_BITS = 22
_SEQ_PID_MASK = (1 << _SEQ_PID_BITS) - 1
_SEQ_LOCK = threading.Lock()
_SEQ_LAST = 0


def _mint_seq() -> int:
    global _SEQ_LAST
    with _SEQ_LOCK:
        cand = (time.time_ns() & ~_SEQ_PID_MASK) | (os.getpid() & _SEQ_PID_MASK)
        if cand <= _SEQ_LAST:
            cand = _SEQ_LAST + (1 << _SEQ_PID_BITS)
        _SEQ_LAST = cand
        return cand


def _rows(tbl: pa.Table) -> List[Dict[str, Any]]:
    """Rows of a ledger table read from parquet, a tz-aware timestamp
    as naive UTC, like every ledger ts."""
    rows = tbl.to_pylist()
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            for r in rows:
                r[f.name] = r[f.name].astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return rows


_LEDGER = {"batches": _BATCHES, "jobs": _JOBS, "test_results": _TEST_RESULTS}


def _frame(spark: SparkSession, tbl: pa.Table) -> DataFrame:
    """``tbl`` as a Spark DataFrame whose naive timestamps (every ledger
    ``ts``) are TIMESTAMP_NTZ: the naive UTC value the ledger holds, so
    ``collect()`` and ``toPandas()`` return it under any local zone (a
    TimestampType column would be rendered in the process's local time)."""
    return spark.createDataFrame(tbl, schema=from_arrow_schema(tbl.schema, prefer_timestamp_ntz=True))


class _LedgerIndex:
    """Keyed state of the ledger tables, fed one part file at a time: the
    one place that decides which version row of a batch or job wins.
    Every fold is order-independent (latest-wins on seq, max over ts,
    union of test rows), so files may arrive in any order."""

    def __init__(self) -> None:
        self.files: Dict[str, Set[str]] = {t: set() for t in _LEDGER}
        self.batches: Dict[str, Dict[str, Any]] = {}  # batch_id -> max-seq row
        self.completed: Dict[str, Dict[str, int]] = {}  # name -> {batch_id: seq}, not running
        self.jobs: Dict[str, Dict[str, Any]] = {}  # job_id -> max-seq row
        self.jobs_of: Dict[str, Dict[str, None]] = {}  # batch_id -> job_ids (ordered set)
        self.last_success: Dict[str, datetime.datetime] = {}  # job_name -> max succeeded ts
        self.tests_of: Dict[str, List[TestResult]] = {}  # job_id -> its test results
        self.latest_tests: Dict[str, Tuple[datetime.datetime, List[TestResult]]] = {}

    def ingest(self, table: str, name: str, rows: List[Dict[str, Any]]) -> None:
        self.files[table].add(name)
        fold = {"batches": self._batch, "jobs": self._job, "test_results": self._test}[table]
        for r in rows:
            fold(r)

    def _batch(self, r: Dict[str, Any]) -> None:
        old = self.batches.get(r["batch_id"])
        if old is None or r["seq"] > old["seq"]:
            self.batches[r["batch_id"]] = r
            if old is not None:
                self.completed.get(old["name"], {}).pop(old["batch_id"], None)
            if not r["running"]:
                self.completed.setdefault(r["name"], {})[r["batch_id"]] = r["seq"]

    def _job(self, r: Dict[str, Any]) -> None:
        name = r["job_name"]
        if r["state"] == "succeeded":
            self.last_success[name] = max(r["ts"], self.last_success.get(name, r["ts"]))
        old = self.jobs.get(r["job_id"])
        if old is None or r["seq"] > old["seq"]:
            self.jobs[r["job_id"]] = r
            if old is not None:
                del self.jobs_of[old["batch_id"]][old["job_id"]]
            self.jobs_of.setdefault(r["batch_id"], {})[r["job_id"]] = None

    def _test(self, r: Dict[str, Any]) -> None:
        t = _test_result(r)
        self.tests_of.setdefault(r["job_id"], []).append(t)
        ts, tests = self.latest_tests.get(r["job_name"], (None, []))
        if ts is None or r["ts"] > ts:
            self.latest_tests[r["job_name"]] = (r["ts"], [t])
        elif r["ts"] == ts:
            tests.append(t)


_Footer = NamedTuple("_Footer", [("retires", FrozenSet[str]), ("rows", int)])  # of a part file


class SparkAdminStore:
    """All admin tables under one root directory.

    Concurrency contract: the reference got transactionality from
    SQLAlchemy; this store gets the equivalent BY CONSTRUCTION from its
    layout. Every append renames in a NEW uuid-named part file (no torn
    read, no name collision) and every read resolves latest-wins on
    `seq` (pid-stamped wall-clock ns, _mint_seq: a TOTAL order), so
    appends from many PROCESSES sharing a root merge safely. A rewrite
    survives a crash at any step and never touches a file appended
    while it runs: one rewriter at a time, enforced by a flock on the
    root directory (POSIX local filesystems), any number of appenders.
    Each lookup ingests the unseen live part files into the keyed index
    and rebuilds it when one stops being live. One lock, taken before the
    flock, guards the index, footers, log buffer and entry ids for threads.
    The analytical reads return Spark DataFrames built from Arrow
    snapshots of the live files; Spark never opens a ledger file.
    """

    LOG_TABLES = ("batch_log", "job_log")

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._lock = threading.RLock()
        self._log_buffer: Dict[str, List[dict]] = {t: [] for t in self.LOG_TABLES}
        self._entry_id = 0
        self._idx = _LedgerIndex()
        self._footers: Dict[str, Dict[str, _Footer]] = {}  # dir -> part file -> its footer

    # -- plumbing -----------------------------------------------------------

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    @contextlib.contextmanager
    def _flock(self, kind: int) -> Iterator[None]:
        """Hold ``kind`` (``LOCK_SH`` to read, ``LOCK_EX`` to rewrite) on the root
        directory, no lock file; the OS drops it with its process. Never nest it."""
        if not os.path.isdir(self.root):
            os.makedirs(self.root, exist_ok=True)
        fd = os.open(self.root, os.O_RDONLY)
        try:
            fcntl.flock(fd, kind)
            yield
        finally:
            os.close(fd)

    def _append(self, table: str, rows: Sequence[dict]) -> None:
        """One file per append (per log_date for logs); ledger rows also enter the index."""
        if not rows:
            return
        with self._lock:  # no lookup on another thread ingests the new file too
            if table in self.LOG_TABLES:
                by_date: Dict[str, List[dict]] = {}
                for r in rows:
                    by_date.setdefault(r["log_date"], []).append(r)
                for log_date, part in by_date.items():
                    path = os.path.join(self._path(table), f"log_date={log_date}")
                    self._write_file(path, pa.Table.from_pylist(part, schema=_LOG))
            else:
                tbl = pa.Table.from_pylist(rows, schema=_LEDGER[table])
                self._idx.ingest(table, self._write_file(self._path(table), tbl), _rows(tbl))

    def _write_file(self, dir_path: str, tbl: pa.Table, retires: Optional[Set[str]] = None) -> str:
        """Write ``tbl`` under a hidden name and rename it into ``dir_path``
        as a new part file (a rewrite's lists what it ``retires`` in its
        footer); returns its name. Call with ``self._lock`` held."""
        os.makedirs(dir_path, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        hidden = os.path.join(dir_path, ("." if retires is None else _REWRITE_TMP) + name)
        meta = None if retires is None else {_RETIRES: json.dumps(sorted(retires))}
        pq.write_table(tbl.replace_schema_metadata(meta), hidden)
        os.rename(hidden, os.path.join(dir_path, name))
        self._footers.setdefault(dir_path, {})[name] = _Footer(frozenset(retires or ()), len(tbl))
        return name

    def _scan(self, dir_path: str) -> Tuple[Set[str], Set[str]]:
        """``dir_path``'s part files and the live ones (no listed file
        retires them). An unseen file's footer is read once: files are
        immutable. Call with ``self._lock`` and the flock held."""
        names, old = _part_files(dir_path), self._footers.get(dir_path, {})
        self._footers[dir_path] = known = {n: old[n] for n in names & old.keys()}
        for n in names - old.keys():
            meta = pq.read_metadata(os.path.join(dir_path, n))
            retires = json.loads((meta.metadata or {}).get(_RETIRES, b"[]"))
            known[n] = _Footer(frozenset(retires), meta.num_rows)
        return names, names - frozenset().union(*(f.retires for f in known.values()))

    def _log_partitions(self, table: str) -> List[str]:
        path = self._path(table)
        entries = os.listdir(path) if os.path.isdir(path) else ()
        return [os.path.join(path, e) for e in entries if e.startswith("log_date=")]

    def _index(self, *tables: str) -> _LedgerIndex:
        """The index, caught up with the live part files of ``tables``.
        Call with ``self._lock`` held."""
        with self._flock(fcntl.LOCK_SH):
            live = {t: self._scan(self._path(t))[1] for t in tables}
            if any(not self._idx.files[t] <= live[t] for t in tables):  # one was retired
                self._idx = _LedgerIndex()
            for t in tables:
                for n in live[t] - self._idx.files[t]:
                    self._idx.ingest(t, n, _rows(pq.read_table(os.path.join(self._path(t), n))))
        return self._idx

    def _rewrite(self, path: str, schema: pa.Schema, keep: pc.Expression = pc.scalar(True)) -> int:
        """Replace the part files of ``path`` (a ledger table or log
        partition) with one file of their live rows that pass ``keep``;
        files appended after its listing stay. Returns how many it replaced;
        with none (a partition another store dropped) it writes nothing."""
        with self._lock, self._flock(fcntl.LOCK_EX):
            inputs, tbl = self._live_rows(path, schema)
            if not inputs:
                return 0
            self._write_file(path, tbl.filter(keep), retires=inputs)
            crashed = [n for n in os.listdir(path) if n.startswith(_REWRITE_TMP)]  # unpublished
            for n in sorted(inputs) + crashed:
                os.remove(os.path.join(path, n))
            return len(inputs)

    def _live_rows(self, dir_path: str, schema: pa.Schema) -> Tuple[Set[str], pa.Table]:
        """``dir_path``'s part files, and its live rows as one Arrow table.
        Call with ``self._lock`` and the flock held."""
        names, live = self._scan(dir_path)
        files = [os.path.join(dir_path, n) for n in sorted(live)]
        return names, pq.read_table(files, schema=schema) if files else schema.empty_table()

    def _arrow(self, table: str) -> pa.Table:
        """The table's live rows, read now; a log table's carry the
        ``log_date`` of their partition as a last column."""
        if table not in self.LOG_TABLES:
            with self._lock, self._flock(fcntl.LOCK_SH):
                return self._live_rows(self._path(table), _LEDGER[table])[1]
        self.flush_logs()
        tables, dates = [_LOG.empty_table()], []
        with self._lock, self._flock(fcntl.LOCK_SH):
            for d in self._log_partitions(table):
                tables.append(self._live_rows(d, _LOG)[1])
                dates += [d.rsplit("=", 1)[1]] * tables[-1].num_rows
        return pa.concat_tables(tables).append_column("log_date", pa.array(dates, pa.string()))

    def row_counts(self) -> Dict[str, int]:
        """Rows per ledger table on disk, from the live part files' footers."""
        with self._lock, self._flock(fcntl.LOCK_SH):
            live = {t: self._scan(self._path(t))[1] for t in _LEDGER}
            return {t: sum(self._footers[self._path(t)][n].rows for n in live[t]) for t in _LEDGER}

    # -- batches ------------------------------------------------------------

    def save_batch(self, status: BatchStatus) -> None:
        """Insert or update: append a new version row (latest-wins read)."""
        res, millis = status.execution_success_or_failure, status.execution_millis
        row = {
            "batch_id": status.id,
            "name": status.name,
            "running": status.running,
            "error_occurred": None if res is None else res.is_failure,
            "error_message": None if res is None else res.failure_message_or_none,
            "execution_millis": None if millis is None else millis.value,
            "ts": status.ts,
            "seq": _mint_seq(),
        }
        self._append("batches", [row])

    def get_batch(self, batch_id: str) -> Optional[BatchStatus]:
        with self._lock:
            b = self._index("batches").batches.get(batch_id)
            if b is None:
                return None
            job_results = frozenset(self.get_job_results(batch_id))
        if b["running"]:
            result, millis = None, None
        else:
            result = (
                Result.failure(b["error_message"] or "No error message was provided.")
                if b["error_occurred"]
                else Result.success()
            )
            millis = ExecutionMillis(b["execution_millis"] or 0)
        return BatchStatus(
            id=b["batch_id"],
            name=b["name"],
            job_results=job_results,
            execution_success_or_failure=result,
            execution_millis=millis,
            running=b["running"],
            ts=b["ts"],
        )

    def get_previous_batch(
        self, name: str, exclude_id: Optional[str] = None
    ) -> Optional[BatchStatus]:
        """Most recent COMPLETED run of this batch name (for BatchDelta).

        Reference: sqlalchemy_batch_repository.get_most_recent — the
        previous-run lookup batch_delta.py compares against."""
        with self._lock:
            completed = self._index("batches").completed.get(name, {})
            prev = [(seq, bid) for bid, seq in completed.items() if bid != exclude_id]
            return self.get_batch(max(prev)[1]) if prev else None

    def snapshot_as_of(self, table: str, ts: datetime.datetime) -> DataFrame:
        """Time travel over the event-sourced ledger: the latest-wins
        state of ``batches``/``jobs`` as it stood at ``ts`` (UTC) — the
        version rows with ts ≤ the snapshot time, folded by a fresh
        ``_LedgerIndex`` like every lookup. The ledger is append-only, so
        "what did the scheduler believe at 03:00?" is a filter, not a
        restore. A Spark DataFrame over the rows live at call time, its
        ``ts`` TIMESTAMP_NTZ (naive UTC, see ``_frame``)."""
        if table not in ("batches", "jobs"):
            raise ValueError(f"snapshot_as_of supports ('batches', 'jobs'), got {table!r}")
        idx = _LedgerIndex()
        keep = pc.field("ts") <= pa.scalar(ts, pa.timestamp("us"))
        idx.ingest(table, "", _rows(self._arrow(table).filter(keep)))
        latest = list((idx.batches if table == "batches" else idx.jobs).values())
        return _frame(self.spark, pa.Table.from_pylist(latest, schema=_LEDGER[table]))

    def compact(self) -> Dict[str, Tuple[int, int]]:
        """Fold each ledger table's part files into one file (and each log
        partition's), rows unchanged, since every read pays per file.
        Returns {table: (files_before, files_after)}."""
        self.flush_logs()
        stats: Dict[str, Tuple[int, int]] = {}
        for table in filter(lambda t: os.path.isdir(self._path(t)), _LEDGER):
            n = self._rewrite(self._path(table), _LEDGER[table])
            stats[table] = (n, min(n, 1))
        for table in filter(lambda t: os.path.isdir(self._path(t)), self.LOG_TABLES):
            parts = self._log_partitions(table)
            counts = [len(_part_files(part_dir)) for part_dir in parts]
            for part_dir in (p for p, n in zip(parts, counts) if n > 1):
                self._rewrite(part_dir, _LOG)
            stats[table] = (sum(counts), len(parts))
        return stats

    def delete_old_batches(self, cutoff: datetime.datetime) -> None:
        """Rewrite retained batch/job state (small tables by design):
        the rows with ``ts`` at or after ``cutoff``."""
        keep = pc.field("ts") >= pa.scalar(cutoff, pa.timestamp("us"))
        for table in filter(lambda t: os.path.isdir(self._path(t)), _LEDGER):
            self._rewrite(self._path(table), _LEDGER[table], keep)

    # -- jobs ----------------------------------------------------------------

    def save_job_result(self, result: JobResult) -> None:
        row = {
            "job_id": result.id,
            "batch_id": result.batch_id,
            "job_name": result.job_name,
            "state": str(result.status.state),
            "reason": result.status.reason,
            "execution_millis": result.execution_millis.value,
            "ts": result.ts,
            "seq": _mint_seq(),
        }
        self._append("jobs", [row])
        if result.test_results:
            self._append(
                "test_results",
                [
                    {
                        "test_id": t.id,
                        "job_id": t.job_id,
                        "job_name": result.job_name,
                        "test_name": t.test_name,
                        "passed": t.test_passed,
                        "failure_message": t.outcome.failure_message_or_none,
                        "execution_millis": t.execution_millis.value,
                        "ts": t.ts,
                    }
                    for t in result.test_results
                ],
            )

    def get_job_results(self, batch_id: str) -> List[JobResult]:
        with self._lock:
            idx = self._index("jobs", "test_results")
            rows = [idx.jobs[j] for j in idx.jobs_of.get(batch_id, ())]
            return [
                JobResult(
                    id=r["job_id"],
                    batch_id=r["batch_id"],
                    job_name=r["job_name"],
                    status=JobStatus(JobState(r["state"]), r["reason"]),
                    execution_millis=ExecutionMillis(r["execution_millis"] or 0),
                    test_results=frozenset(idx.tests_of.get(r["job_id"], ())),
                    ts=r["ts"],
                )
                for r in rows
            ]

    def get_test_results(self, job_ids: set) -> List[TestResult]:
        with self._lock:
            tests_of = self._index("test_results").tests_of
            return [t for j in job_ids for t in tests_of.get(j, ())]

    def get_last_successful_ts(self, job_name: str) -> Optional[datetime.datetime]:
        """Reference: sqlalchemy_job_repository.get_last_successful_ts."""
        with self._lock:
            return self._index("jobs").last_success.get(job_name)

    def latest_test_results(self, job_name: str) -> List[TestResult]:
        """Test results belonging to the job's most recent tested run.

        Reference: sqlalchemy_job_repository.latest_test_results."""
        with self._lock:
            latest = self._index("test_results").latest_tests.get(job_name)
            return [] if latest is None else list(latest[1])

    # -- logs -----------------------------------------------------------------

    def log(
        self,
        table: str,
        level: LogLevel,
        message: str,
        batch_id: Optional[str],
        job_name: Optional[str] = None,
        *,
        ts: datetime.datetime,
    ) -> None:
        row = {
            "batch_id": batch_id,
            "job_name": job_name,
            "level": str(level),
            "message": LogMessage(message).value,
            "ts": ts,
            "log_date": ts.strftime("%Y-%m-%d"),
        }
        with self._lock:
            self._entry_id += 1
            row["entry_id"] = self._entry_id
            self._log_buffer[table].append(row)

    def flush_logs(self) -> None:
        with self._lock:
            for table in self.LOG_TABLES:
                buf, self._log_buffer[table] = self._log_buffer[table], []
                if buf:
                    self._append(table, buf)

    def read_log(self, table: str) -> DataFrame:
        """The log table's live rows, read now, as a Spark DataFrame with
        ``ts`` TIMESTAMP_NTZ (naive UTC, see ``_frame``)."""
        return _frame(self.spark, self._arrow(table))

    def delete_old_logs(self, cutoff: datetime.datetime) -> None:
        """Drop whole log_date partitions dated before ``cutoff`` — a
        filesystem metadata operation, no data rewrite."""
        self.flush_logs()
        cutoff_date = cutoff.strftime("%Y-%m-%d")
        with self._lock, self._flock(fcntl.LOCK_EX):
            for table in self.LOG_TABLES:
                for part_dir in self._log_partitions(table):
                    if part_dir.rsplit("=", 1)[1] < cutoff_date:
                        shutil.rmtree(part_dir)
                        self._footers.pop(part_dir, None)

    def earliest_log_ts(self, table: str = "batch_log") -> Optional[datetime.datetime]:
        return pc.min(self._arrow(table)["ts"]).as_py()


def _part_files(dir_path: str) -> Set[str]:
    """``dir_path``'s part files, less the hidden ones still being written."""
    names = os.listdir(dir_path) if os.path.isdir(dir_path) else ()
    return {f for f in names if f.endswith(".parquet") and not f.startswith(".")}


def _test_result(r: Dict[str, Any]) -> TestResult:
    return TestResult(
        id=r["test_id"],
        job_id=r["job_id"],
        test_name=r["test_name"],
        outcome=Result.success()
        if r["passed"]
        else Result.failure(r["failure_message"] or "No error message was provided."),
        execution_millis=ExecutionMillis(r["execution_millis"]),
        ts=r["ts"],
    )


class _StoreLogger:
    """Log lines into one of the store's log tables, stamped by the
    runner's clock."""

    table = ""

    def __init__(
        self, store: SparkAdminStore, batch_id: str, job_name: Optional[str] = None,
        to_console: bool = False, *, clock: ClockAdapter,
    ):
        self.store = store
        self.batch_id = batch_id
        self.job_name = job_name
        self.to_console = to_console
        self.clock = clock

    def _log(self, level: LogLevel, message: str) -> None:
        ts = self.clock.now()
        if self.to_console:
            tag = f" [{self.job_name}]" if self.job_name else ""
            print(f"{ts.isoformat()} [{level}]{tag} {message}")
        self.store.log(self.table, level, message, self.batch_id, self.job_name, ts=ts)

    def debug(self, message: str) -> None:
        self._log(LogLevel.DEBUG, message)

    def info(self, message: str) -> None:
        self._log(LogLevel.INFO, message)

    def error(self, message: str) -> None:
        self._log(LogLevel.ERROR, message)

    def exception(self, e: BaseException) -> None:
        self._log(LogLevel.ERROR, repr(e))


class BatchLogger(_StoreLogger):
    """Reference SqlAlchemyBatchLogger: writes to batch_log."""

    table = "batch_log"

    def __init__(
        self, store: SparkAdminStore, batch_id: str, to_console: bool = False, *,
        clock: ClockAdapter,
    ):
        super().__init__(store, batch_id, None, to_console, clock=clock)

    def create_job_logger(self, job_name: str) -> "JobLogger":
        return JobLogger(self.store, self.batch_id, job_name, self.to_console, clock=self.clock)


class JobLogger(_StoreLogger):
    """Reference SqlAlchemyJobLogger: writes to job_log."""

    table = "job_log"


def job_health_stats(store: "SparkAdminStore") -> "DataFrame":
    """Operational analytics over the jobs ledger: per job name, run /
    failure counts, failure rate, and p50/p95 duration of successful
    runs, over the jobs rows live at call time. The latest row per
    job_id comes from the store's index, the fold every lookup reads, so
    a warm store reads no file; the aggregate runs in Spark. This is the
    dashboard query the reference's admin schema (adapter/admin_orm.py)
    exists to serve.
    """
    with store._lock:
        rows = [r for r in store._index("jobs").jobs.values() if r["state"] != "running"]
    latest = store.spark.createDataFrame(pa.Table.from_pylist(rows, schema=_JOBS))
    ok_ms = F.when(F.col("state") == "succeeded", F.col("execution_millis"))
    return (
        latest.groupBy("job_name")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum(F.when(F.col("state") == "failed", 1).otherwise(0)).alias("n_failed"),
            F.sum(F.when(F.col("state") == "skipped", 1).otherwise(0)).alias("n_skipped"),
            F.percentile(ok_ms, 0.5).alias("p50_millis"),
            F.percentile(ok_ms, 0.95).alias("p95_millis"),
        )
        .withColumn("failure_rate", F.col("n_failed").cast("double") / F.col("n_runs"))
        .orderBy("job_name")
    )

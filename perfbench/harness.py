"""Measurement plumbing shared by the workloads.

- ``SparkHost`` starts the program's SparkSession with every scratch
  path inside the run's work directory, and on ``close`` stops the
  session, shuts the JVM down and waits for it to exit.
- ``Tracer`` records spans (name, start, end, parent, op id) in memory
  around calls into the program's public functions; it patches those
  functions from outside the package and restores them on ``close``.
- ``OpLog`` holds the timed ops; ``summarize`` turns it into the
  end-to-end metrics.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, Iterator, List, Optional, Sequence, Tuple

# Percentiles op_s.tail may take, highest first; the first one with at
# least TAIL_MIN_BEYOND samples beyond it is reported.
TAIL_GRID = (99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: Sequence[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: Sequence[float]) -> Tuple[str, float]:
    """The highest grid percentile with at least TAIL_MIN_BEYOND
    samples beyond it, as (label, value). With fewer than
    2 * TAIL_MIN_BEYOND samples no percentile qualifies and the
    maximum is reported, labelled ``max``."""
    n = len(values)
    for p in TAIL_GRID:
        if n * (1.0 - p / 100.0) >= TAIL_MIN_BEYOND:
            return f"p{p:g}", percentile(values, p)
    return "max", max(values)


def median_or_zero(values: Sequence[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- the timed ops -----------------------------------------------------------


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool = True
    traced: bool = False


@dataclass
class OpLog:
    ops: List[Op] = field(default_factory=list)

    def add(self, kind: str, seconds: float, traced: bool = False) -> Op:
        op = Op(kind, seconds, traced=traced)
        self.ops.append(op)
        return op

    @property
    def timed_seconds(self) -> float:
        return sum(o.seconds for o in self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def seconds_of(self, kind: Optional[str] = None, traced: Optional[bool] = None) -> List[float]:
        return [
            o.seconds
            for o in self.ops
            if (kind is None or o.kind == kind) and (traced is None or o.traced == traced)
        ]


def summarize(log: OpLog) -> Tuple[Dict[str, float], Dict[str, Any]]:
    """op_s.p50 / op_s.tail / ops_per_s over every timed op, plus the
    detail fields (tail percentile, n, error_ratio) for the record."""
    secs = log.seconds_of()
    label, tail_value = tail(secs)
    metrics = {
        "op_s.p50": statistics.median(secs),
        "op_s.tail": tail_value,
        "ops_per_s": len(secs) / log.timed_seconds,
    }
    detail = {
        "op_s.tail_percentile": label,
        "ops": len(secs),
        "ops_by_kind": dict(Counter(o.kind for o in log.ops)),
        "error_ratio": log.failed / len(secs),
        "timed_seconds": round(log.timed_seconds, 4),
        "op_seconds": [[o.kind, round(o.seconds, 4), o.traced] for o in log.ops],
    }
    return metrics, detail


# -- memory ------------------------------------------------------------------


def _hwm_mb(pid: int | str) -> float:
    """VmHWM (peak resident set) of a process, in MiB; 0 if gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


# -- the Spark session ---------------------------------------------------------


class SparkHost:
    """Owns the run's SparkSession and the JVM behind it."""

    def __init__(self, work_dir: str, cpus: int):
        self.work_dir = work_dir
        self.cpus = cpus
        self.spark = None
        self._gateway = None

    def start(self):
        tmp = os.path.join(self.work_dir, "tmp")
        local = os.path.join(self.work_dir, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        # everything the JVM and its Python workers write stays in the
        # work directory
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_GRAFT_DRIVER_MEM="2g",
            SPARK_GRAFT_WAREHOUSE=os.path.join(self.work_dir, "warehouse"),
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
        )
        from pyspark import SparkContext

        from lime_etl_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.local.dir": local,
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        return self.spark

    @property
    def jvm_pid(self) -> Optional[int]:
        proc = getattr(self._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        jvm = self.jvm_pid
        return _hwm_mb("self") + (_hwm_mb(jvm) if jvm else 0.0)

    def job_count(self) -> int:
        """Spark jobs launched so far (max id + 1: ids are monotone)."""
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    def stage_totals(self) -> Dict[str, int]:
        """Cumulative input records, shuffle bytes and spill bytes over
        every stage the status store holds."""
        sc = self.spark.sparkContext
        gw = sc._gateway
        stages = (
            self.spark._jsc.sc()
            .statusStore()
            .stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        )
        totals = dict.fromkeys(("input_records", "shuffle_bytes", "spill_bytes"), 0)
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            totals["input_records"] += s.inputRecords()
            totals["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            totals["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return totals

    def counters(self) -> Dict[str, int]:
        """Spark jobs launched so far and the cumulative stage totals."""
        return {"jobs": self.job_count(), **self.stage_totals()}

    def calibrate(self) -> float:
        """bench.py's fixed-work host-speed probe at 1/16 of its rows: a
        data-independent JVM-side modular sum over spark.range. Warm
        once, then the median of three."""

        def probe() -> float:
            t0 = time.perf_counter()
            self.spark.range(0, 48_000_000, 1, 32).selectExpr(
                "sum(id * 2654435761 % 1000003) AS s"
            ).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        probe()
        return statistics.median(probe() for _ in range(3))

    def close(self) -> None:
        """Stop the session and the JVM; return once the JVM has exited."""
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gw, self._gateway = self._gateway, None
        if gw is None:
            return
        from pyspark import SparkContext

        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate, then wait for good
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- tracing -------------------------------------------------------------------


@dataclass(frozen=True)
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]
    thread: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the program.

    ``enabled`` is on for the timed phase of a traced run; while it is
    off the wrappers only pay one attribute read. A span's parent is the
    innermost open span on the same thread; a call made on a worker
    thread with no open span of its own is parented to the innermost
    span open on the op's thread at that moment (the batch runner call
    waiting on its pool). Each wrapper adds the time it spends on its
    own bookkeeping (hooks included) to the op's ``trace_own_s``.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: List[Span] = []
        self.counts: Counter = Counter()
        self.samples: Dict[str, List[float]] = defaultdict(list)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Optional[int] = None
        self._op_stack: List[int] = []
        self._patches: List[Tuple[Any, str, Any]] = []

    def _stack(self) -> List[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        stack = self._stack()
        outer = stack or self._op_stack
        parent = outer[-1] if outer else None
        sid = next(self._ids)
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, t0, t1, parent, self._op, threading.get_ident())
                )

    @contextlib.contextmanager
    def op(self, op_id: int, name: str) -> Iterator[None]:
        """Root span of one timed op."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self._op_stack = self._stack()
        try:
            with self.span(name):
                yield
        finally:
            self._op_stack = []

    def count(self, key: str, n: float = 1) -> None:
        """Add to a counter of the current op."""
        if self.enabled:
            with self._lock:
                self.counts[self._op, key] += n

    def sample(self, key: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.samples[key].append(value)

    @contextlib.contextmanager
    def paused(self) -> Iterator[None]:
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str | Callable[..., str],
        before: Optional[Callable[..., None]] = None,
        after: Optional[Callable[..., None]] = None,
    ) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` may be
        a function of the call's arguments; ``before``/``after`` get the
        arguments (``after`` also the result) and run outside the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            t0 = time.perf_counter()
            if before is not None:
                before(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else name
            with tracer.span(label):
                t1 = time.perf_counter()
                result = fn(*args, **kwargs)
                t2 = time.perf_counter()
            if after is not None:
                after(result, *args, **kwargs)
            tracer.count("trace_own_s", (t1 - t0) + (time.perf_counter() - t2))
            return result

        setattr(owner, attr, staticmethod(wrapper) if isinstance(orig, staticmethod) else wrapper)
        self._patches.append((owner, attr, orig))

    def close(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- derived figures -------------------------------------------------------

    def self_seconds(self) -> Dict[int, float]:
        """Per span: its duration minus the part of it its children
        cover (children on worker threads can overlap each other)."""
        kids: Dict[int, List[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if cur_end is None or a > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = a, b
                else:
                    cur_end = max(cur_end, b)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.sid] = s.seconds - covered
        return out

    def self_by_layer(self) -> Dict[str, float]:
        """Self seconds summed per layer (span name up to its last dot)."""
        selfs = self.self_seconds()
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name.rsplit(".", 1)[0]] += selfs[s.sid]
        return {k: round(v, 4) for k, v in sorted(out.items())}

    def dump(self, path: str) -> None:
        """Write the spans as JSON lines (sid, name, start, end, parent, op)."""
        import json

        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "name": s.name,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "parent": s.parent,
                            "op": s.op,
                        }
                    )
                    + "\n"
                )


def timed(fn: Callable[[], Any]) -> Tuple[Any, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0

"""ledger_churn: a seeded stream of small batches on one admin ledger.

One client, closed loop. A cycle is one run of each of N_TEMPLATES
seeded batch templates (32, 40 and 48 ``SimpleJobSpec``s in a layered
DAG)
through ``run_batch``, then the prebuilt admin batch (DeleteOldLogs +
CompactAdminLedger), then a dashboard read (``job_health_stats`` +
``snapshot_as_of`` + ``get_previous_batch``). Each of those is one op.
A ``FakeClockAdapter`` started at wall-clock now advances STEP_S before
every op, so refresh-interval skips happen on a fixed schedule.

Job bodies are pure Python; one in eight also runs a tiny Spark action.
Seeded shares of the jobs skip on their refresh interval, fail once and
pass on retry, fail their test, fail and return an ``on_execution_error``
replacement, or fail outright. No job depends on one that can skip or
fail, so the amount of work in a batch does not depend on the seed.

The ledger grows by about a hundred part files per batch and is folded
back to one file per table by each admin batch, so lookups see the
compaction sawtooth. Every op's outcome is checked outside the timed
region against the runner semantics replayed on the generator's plan.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import time
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Set, Tuple

import numpy as np

from perfbench.harness import OpLog, SparkHost, Tracer, median_or_zero
from perfbench.layers import (
    OpSpans,
    install_store_tracing,
    ledger_bytes_per_row,
    runner_self,
    store_metrics,
    traced_ops,
)

# Jobs per batch template. Sizes are fixed and kinds are dealt from
# exact quotas, so every seed puts the same amount of each kind of work
# into a cycle; the seed picks the DAG, which jobs get which kind, and
# the work sizes.
TEMPLATE_SIZES = (32, 40, 48)
N_TEMPLATES = len(TEMPLATE_SIZES)
STEP_S = 3600
COUNT_CYCLES = 1  # runner counts and the ledger size cover the first timed cycles
# A run times round(seconds / NOMINAL_CYCLE_S) cycles: a fixed amount of
# work for a given --seconds, near that much op time on a 4-cpu host
NOMINAL_CYCLE_S = 4.0
PERIOD_S = (N_TEMPLATES + 2) * STEP_S  # fake time between runs of one template

# job kinds and their shares of a template (the remainder are plain jobs)
SHARES = (("interval", 1 / 4), ("flaky", 1 / 8), ("test_fail", 1 / 16),
          ("replace", 1 / 16), ("fail", 1 / 32))
SPARK_SHARE = 1 / 8
TESTED_SHARE = 1 / 2
# Kinds whose jobs always end succeeded, after a retry or a replacement
# if need be. Only these are depended on, run a Spark action, or are
# tested besides the test_fail jobs, so the seed changes the DAG and
# which jobs play which part, never how many jobs run, skip or call
# Spark in a batch.
ALWAYS_SUCCEED = ("plain", "flaky", "test_fail", "replace")


@dataclass(frozen=True)
class JobPlan:
    name: str
    deps: Tuple[str, ...]
    kind: str
    spark: bool
    tested: bool
    interval_s: int
    work: int


def _pick(rng: np.random.Generator, candidates: List[int], k: int) -> Set[int]:
    """k of the candidates (all of them if fewer), chosen by the seed."""
    k = min(k, len(candidates))
    return set(rng.choice(candidates, k, replace=False).tolist()) if k else set()


def make_templates(seed: int) -> List[Tuple[str, List[JobPlan]]]:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    templates = []
    for t, n in enumerate(TEMPLATE_SIZES):
        n_layers = int(rng.integers(4, 7))
        layer_of = np.sort(rng.integers(0, n_layers, n))
        layer_of[0] = 0
        kinds: List[str] = []
        for kind, share in SHARES:
            kinds += [kind] * round(n * share)
        kinds = rng.permutation(kinds + ["plain"] * (n - len(kinds))).tolist()
        runs = [i for i in range(n) if kinds[i] in ALWAYS_SUCCEED]
        spark = _pick(rng, [i for i in runs if kinds[i] == "plain"], round(n * SPARK_SHARE))
        tested = _pick(
            rng, [i for i in runs if kinds[i] != "test_fail"], round(n * TESTED_SHARE) - kinds.count("test_fail")
        )
        intervals = [i for i in range(n) if kinds[i] == "interval"]
        plans: List[JobPlan] = []
        for i in range(n):
            earlier = [plans[j].name for j in runs if j < i and layer_of[j] < layer_of[i]]
            deps: Tuple[str, ...] = ()
            if earlier:
                k = min(len(earlier), int(rng.integers(1, 3)))
                deps = tuple(sorted(rng.choice(earlier, k, replace=False).tolist()))
            # 1.5 or 2.5 template periods: skip every other / two of three runs
            interval = 0
            if kinds[i] == "interval":
                interval = int(PERIOD_S * (1.5 if intervals.index(i) % 2 else 2.5))
            plans.append(
                JobPlan(
                    name=f"t{t}_job{i:02d}",
                    deps=deps,
                    kind=kinds[i],
                    spark=i in spark,
                    tested=kinds[i] == "test_fail" or i in tested,
                    interval_s=interval,
                    work=int(rng.integers(200, 2000)),
                )
            )
        templates.append((f"churn_{t}", plans))
    return templates


def expected_states(
    plans: List[JobPlan], last_ok: Dict[str, datetime.datetime], now: datetime.datetime
) -> Dict[str, Tuple[str, bool]]:
    """Replay the runner's gates on the plan: job name -> (state,
    tests_failed). Updates ``last_ok`` for the jobs that succeed."""
    out: Dict[str, Tuple[str, bool]] = {}
    for p in plans:
        dep_states = [out[d][0] for d in p.deps]
        prev = last_ok.get(p.name)
        if dep_states and all(s in ("skipped", "failed") for s in dep_states):
            out[p.name] = ("skipped", False)
        elif prev is not None and (now - prev).total_seconds() <= p.interval_s:
            out[p.name] = ("skipped", False)
        elif "failed" in dep_states or p.kind == "fail":
            out[p.name] = ("failed", False)
        else:
            out[p.name] = ("succeeded", p.kind == "test_fail")
            last_ok[p.name] = now
    return out


def _pure_work(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) % 1_000_003
    return acc


class LedgerChurn:
    name = "ledger_churn"
    units = {"jobs_per_s": "jobs/s", "dashboard_s.p50": "s", "ledger_bytes_per_row": "B/row"}

    def __init__(self, host: SparkHost, work_dir: str, seed: int, tracer: Tracer):
        self.host = host
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.templates: List[Tuple[str, List[JobPlan]]] = []
        self.body_calls = Counter()  # per cycle: body attempts / successful bodies
        self.jobs_per_op: List[int] = []
        self.counts = Counter()
        self.first_timed = 0  # index of the first timed cycle
        self.problems: List[str] = []

    # -- inputs ------------------------------------------------------------------

    def import_program(self) -> None:
        from lime_etl_spark.adapter import admin_store  # noqa: F401
        from lime_etl_spark.service import admin_jobs, runner  # noqa: F401

    def generate(self, rep: int) -> str:
        """The job plans (pure Python) and a fresh, empty admin root."""
        self.templates = make_templates(self.seed)
        self._fresh_root(f"admin-{rep}")
        return hashlib.sha256(repr(self.templates).encode()).hexdigest()

    def _fresh_root(self, tag: str) -> None:
        self.root = os.path.join(self.work_dir, tag)
        os.makedirs(self.root)

    def install_tracing(self) -> None:
        from lime_etl_spark.service import runner

        install_store_tracing(self.tracer)
        self.tracer.wrap(runner, "run_batch", "service.runner.run_batch")

    # -- the program's objects -----------------------------------------------------

    def _start_ledger(self) -> None:
        from lime_etl_spark.adapter.admin_store import SparkAdminStore
        from lime_etl_spark.domain.clock import FakeClockAdapter

        self.store = SparkAdminStore(self.host.spark, self.root)
        self.clock = FakeClockAdapter(datetime.datetime.now())
        self.last_ok: Dict[str, datetime.datetime] = {}
        self.expected_total = 0
        self.expected_failed = 0
        self.last_batch_of: Dict[str, str] = {}
        self.cycle = 0

    def _batch(self, name: str, plans: List[JobPlan]):
        from pyspark.sql import functions as F

        from lime_etl_spark.domain import JobStatus, Result, SimpleJobSpec, SimpleTestResult, SparkBatchSpec

        tracer, calls, cycle = self.tracer, self.body_calls, self.cycle
        attempts: Counter = Counter()

        def body(p: JobPlan, replacement: bool = False):
            def run(ctx):
                with tracer.span("job.body"):
                    attempts[p.name] += 1
                    calls[cycle, "calls"] += 1
                    if p.kind == "replace" and not replacement:
                        # a returned failure (not a raise) is what reaches on_execution_error
                        return JobStatus.failed(f"{p.name}: seeded failure, replacing")
                    if p.kind == "fail" or (p.kind == "flaky" and attempts[p.name] == 1):
                        if p.kind == "flaky":
                            calls[cycle, "retries"] += 1
                        raise RuntimeError(f"{p.name}: seeded {p.kind} failure")
                    _pure_work(p.work)
                    if p.spark:
                        got = ctx.spark.range(p.work).agg(F.sum("id")).collect()[0][0]
                        if got != p.work * (p.work - 1) // 2:
                            raise RuntimeError(f"{p.name}: spark sum {got}")
                    calls[cycle, "ok"] += 1
                return JobStatus.success()

            return run

        def test(p: JobPlan):
            outcome = Result.failure("seeded test failure") if p.kind == "test_fail" else Result.success()

            def run(ctx):
                with tracer.span("job.test"):
                    return [SimpleTestResult(test_name=f"{p.name} invariant", outcome=outcome)]

            return run

        def replace(p: JobPlan):
            def on_error(message: str):
                calls[cycle, "replacements"] += 1
                return SimpleJobSpec(name=p.name, run=body(p, replacement=True))

            return on_error

        jobs = [
            SimpleJobSpec(
                name=p.name,
                run=body(p),
                test=test(p) if p.tested else None,
                dependencies=p.deps,
                max_retries=1 if p.kind == "flaky" else 0,
                min_seconds_between_refreshes=p.interval_s,
                on_execution_error=replace(p) if p.kind == "replace" else None,
            )
            for p in plans
        ]
        return SparkBatchSpec(name=name, jobs=jobs)

    # -- ops -----------------------------------------------------------------------

    def _tick(self) -> None:
        self.clock.advance(STEP_S)

    def _check_batch(self, status, expected: Dict[str, Tuple[str, bool]]) -> bool:
        with self.tracer.paused():
            stored = self.store.get_batch(status.id)
        if stored is None or stored.running or not stored.execution_success_or_failure.is_success:
            return False

        def states(b) -> Dict[str, Tuple[str, bool]]:
            return {r.job_name: (r.status.state.value, r.tests_failed) for r in b.job_results}

        for label, got in (("returned", states(status)), ("stored", states(stored))):
            if got != expected:
                diff = {k: (got.get(k), v) for k, v in expected.items() if got.get(k) != v}
                self.problems.append(f"{status.name} {label}: (got, expected) {dict(list(diff.items())[:4])}")
                return False
        return True

    def _run_template(self, log: OpLog, name: str, plans: List[JobPlan]) -> None:
        from lime_etl_spark.service import runner

        self._tick()
        expected = expected_states(plans, self.last_ok, self.clock.now())
        batch = self._batch(name, plans)
        j0 = self.host.job_count()
        with self.tracer.op(len(log.ops), "op.batch"):
            t0 = time.perf_counter()
            status = runner.run_batch(batch, self.host.spark, self.store, clock=self.clock)
            op = log.add("batch", time.perf_counter() - t0, self.tracer.enabled)
        if op.traced:
            self.jobs_per_op.append(self.host.job_count() - j0)
        op.ok = self._check_batch(status, expected)
        states = Counter(s for s, _ in expected.values())
        if self.cycle - self.first_timed < COUNT_CYCLES:
            self.counts.update({f"jobs_{k}": v for k, v in states.items()})
        self.expected_total += len(plans)
        self.expected_failed += states["failed"]
        self.last_batch_of[name] = status.id

    def _run_admin(self, log: OpLog) -> None:
        from lime_etl_spark.service import runner
        from lime_etl_spark.service.admin_jobs import AdminConfig, admin_batch

        self._tick()
        batch = admin_batch(self.store, AdminConfig(admin_dir=self.root, min_seconds_between_runs=0))
        rows_before = self._job_rows()
        with self.tracer.op(len(log.ops), "op.admin"):
            t0 = time.perf_counter()
            status = runner.run_batch(batch, self.host.spark, self.store, clock=self.clock)
            op = log.add("admin", time.perf_counter() - t0, self.tracer.enabled)
        expected = {"delete_old_logs": ("succeeded", False), "compact_admin_ledger": ("succeeded", False)}
        # two admin jobs, each a running row and a final row
        op.ok = self._check_batch(status, expected) and self._job_rows() == rows_before + 4
        self.expected_total += 2

    def _run_dashboard(self, log: OpLog, name: str) -> None:
        from lime_etl_spark.adapter.admin_store import job_health_stats

        self._tick()
        with self.tracer.op(len(log.ops), "op.dashboard"):
            t0 = time.perf_counter()
            with self.tracer.span("adapter.admin_store.analytics.job_health_stats"):
                health = job_health_stats(self.store).collect()
            with self.tracer.span("adapter.admin_store.analytics.snapshot_as_of"):
                snapshot_rows = self.store.snapshot_as_of("jobs", self.clock.now()).count()
            previous = self.store.get_previous_batch(name)
            op = log.add("dashboard", time.perf_counter() - t0, self.tracer.enabled)
        op.ok = (
            sum(r["n_runs"] for r in health) == self.expected_total
            and sum(r["n_failed"] for r in health) == self.expected_failed
            and snapshot_rows == self.expected_total
            and previous is not None
            and previous.id == self.last_batch_of[name]
        )

    def _job_rows(self) -> int:
        import pyarrow.parquet as pq

        path = os.path.join(self.root, "jobs")
        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    def _cycle(self, log: OpLog) -> None:
        for name, plans in self.templates:
            self._run_template(log, name, plans)
        self._run_admin(log)
        self._run_dashboard(log, self.templates[self.cycle % N_TEMPLATES][0])
        self.cycle += 1

    def warm_up(self) -> bool:
        """One op of each kind on the ledger the timed cycles continue,
        so every timed cycle starts from a compacted ledger; True if
        they check out."""
        self._start_ledger()
        log = OpLog()
        name, plans = self.templates[0]
        self._run_template(log, name, plans)
        self._run_admin(log)
        self._run_dashboard(log, name)
        return log.failed == 0

    def measure(self, seconds: float, trace: bool) -> OpLog:
        self.first_timed = self.cycle
        self.results_before = self.expected_total
        self.counts.clear()
        self.body_calls.clear()
        log = OpLog()
        # traced runs alternate traced / untraced cycles
        for i in range(max(2 if trace else 1, round(seconds / NOMINAL_CYCLE_S))):
            self.tracer.enabled = trace and i % 2 == 0
            self._cycle(log)
            if i + 1 == COUNT_CYCLES:
                # taken after a fixed amount of work, so it does not
                # depend on how many cycles fit into the run
                self.bytes_per_row = ledger_bytes_per_row(self.root)
        self.tracer.enabled = False
        return log

    # -- metrics -----------------------------------------------------------------

    def end_to_end_extra(self, log: OpLog) -> Dict[str, float]:
        return {
            "jobs_per_s": (self.expected_total - self.results_before) / log.timed_seconds,
            "dashboard_s.p50": median_or_zero(log.seconds_of("dashboard")),
            "ledger_bytes_per_row": self.bytes_per_row,
        }

    def runner_counts(self) -> Dict[str, float]:
        c, counted = self.body_calls, range(self.first_timed, self.first_timed + COUNT_CYCLES)
        calls = sum(c[k, "calls"] for k in counted)
        ok = sum(c[k, "ok"] for k in counted)
        return {
            "service.runner.jobs_ran": self.counts["jobs_succeeded"],
            "service.runner.jobs_skipped": self.counts["jobs_skipped"],
            "service.runner.jobs_failed": self.counts["jobs_failed"],
            "service.runner.retries": sum(c[k, "retries"] for k in counted),
            "service.runner.replacements": sum(c[k, "replacements"] for k in counted),
            "service.runner.useful_attempt_ratio": ok / calls if calls else 0.0,
        }

    def per_layer(self, log: OpLog) -> Dict[str, float]:
        spans = OpSpans(self.tracer)
        return {
            "service.runner.self_s": runner_self(spans, traced_ops(log, "batch")),
            **self.runner_counts(),
            **store_metrics(self.tracer, spans, log),
            "spark.jobs_per_op": median_or_zero(self.jobs_per_op),
        }

"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ledger_churn --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads: ledger_churn, lake_refresh
(see ``perfbench/NOTES.md``). One client drives the program in a closed
loop on ``local[<cpus>]``; the seed fixes every generated input. ``--seconds`` sets the amount of timed work: whole
cycles or passes of the workload, as many as take about that much op
time on a 4-cpu host. The count depends only on ``--seconds``, so two
commits run the same work.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
run's detail record (tail percentile and sample count, error ratio,
the workload's own end-to-end metrics, input hash, calibration probes,
per-layer self times). ``--spans PATH`` also writes the traced spans
there as JSON lines.

Scratch data (generated inputs, lake targets, admin roots, Spark's
local and temp dirs) lives in a ``perfbench/.work-*`` directory that is
removed before exit; the JVM is shut down and waited for. Without
``lime_etl_spark/`` beside this directory the command exits with
status 2 and prints no result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.lake_refresh import REPORTS  # noqa: E402

WORKLOADS = {
    "ledger_churn": "perfbench.ledger_churn:LedgerChurn",
    "lake_refresh": "perfbench.lake_refresh:LakeRefresh",
}
SETUP_REPS = 3  # input generation is repeated and its median counted

# End-to-end metrics every workload has and that hold within their
# bounds from run to run. The others go into the detail record: the
# workload-specific ones (jobs_per_s, rows_per_s, dashboard_s.p50,
# ledger_bytes_per_row), error_ratio, op_s.tail and peak_rss_mb.
END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "ops_per_s": "ops/s",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.registry.import_s": "s",
    "inputs.generate_s": "s",
    "host.calib_before_s": "s",
    "host.calib_after_s": "s",
    "trace.overhead_s": "s",
    "setup.warmup_s": "s",
    "service.runner.self_s": "s",
    "service.runner.jobs_ran": "count",
    "service.runner.jobs_skipped": "count",
    "service.runner.jobs_failed": "count",
    "service.runner.retries": "count",
    "service.runner.replacements": "count",
    "service.runner.useful_attempt_ratio": "ratio",
    "service.runner.layer_wait_s": "s",
    "service.runner.worker_busy_ratio": "ratio",
    "adapter.admin_store.append_calls": "count",
    "adapter.admin_store.append_s": "s",
    "adapter.admin_store.files_written": "count",
    "adapter.admin_store.lookup_calls": "count",
    "adapter.admin_store.lookup_s": "s",
    "adapter.admin_store.lookup_s.p50": "s",
    "adapter.admin_store.files_per_lookup": "count",
    "adapter.admin_store.compact_s": "s",
    "adapter.admin_store.bytes_rewritten": "B",
    "adapter.admin_store.analytics_s": "s",
    "adapter.admin_store.bytes_written_per_row": "B/row",
    "service.table_jobs.full_run_s": "s",
    "service.table_jobs.incremental_run_s": "s",
    "service.table_jobs.test_s": "s",
    "service.table_jobs.datatest_s": "s",
    "service.table_jobs.rows_written": "rows",
    "operators.etl.upsert_s": "s",
    "operators.etl.cdc_apply_s": "s",
    "operators.etl.snapshot_diff_s": "s",
    "operators.etl.scd2_s": "s",
    "plans.registry.build_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.shuffle_bytes_per_op": "B",
    "spark.input_records_per_op": "rows",
    "spark.spill_bytes": "B",
    "sources.load_table_calls": "count",
    "sources.load_table_s": "s",
    **{f"query.{q}_s": "s" for q in REPORTS},
}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="also write the traced spans here (JSON lines)")
    return ap.parse_args(argv)


def measure(args, work_dir: str, host, tracer):
    from perfbench.harness import cpu_count, median_or_zero, summarize, timed

    mod, cls = WORKLOADS[args.workload].split(":")
    workload = getattr(importlib.import_module(mod), cls)(host, work_dir, args.seed, tracer)

    pre_session = time.perf_counter() - T0
    _, session_s = timed(host.start)
    _, import_s = timed(workload.import_program)
    digests, gen_times = [], []
    for rep in range(SETUP_REPS):
        digest, secs = timed(lambda: workload.generate(rep))
        digests.append(digest)
        gen_times.append(secs)
    warm_ok, warmup_s = timed(workload.warm_up)
    generate_s = statistics.median(gen_times)
    # one generation counted, at its median: the repeats only steady it
    setup_s = pre_session + session_s + import_s + generate_s + warmup_s

    if args.trace:
        workload.install_tracing()
    calib_before = host.calibrate()
    log = workload.measure(args.seconds, bool(args.trace))
    calib_after = host.calibrate()
    peak_rss = host.peak_rss_mb()

    e2e, detail = summarize(log)
    e2e["setup_s"] = setup_s
    detail["op_s.tail"] = {"value": e2e.pop("op_s.tail"), "unit": "s"}
    extra = workload.end_to_end_extra(log)
    checks_ok = bool(warm_ok) and len(set(digests)) == 1
    detail.update(
        workload=args.workload,
        seed=args.seed,
        cpus=cpu_count(),
        inputs_sha256=digests[0],
        inputs_repeatable=len(set(digests)) == 1,
        warm_up_ok=bool(warm_ok),
        problems=workload.problems[:5],
        calib_before_s=round(calib_before, 4),
        calib_after_s=round(calib_after, 4),
        peak_rss_mb={"value": peak_rss, "unit": "MiB"},
        workload_metrics={k: {"value": v, "unit": workload.units[k]} for k, v in extra.items()},
    )
    layer = {
        "session.get_spark_s": session_s,
        "plans.registry.import_s": import_s,
        "inputs.generate_s": generate_s,
        "setup.warmup_s": warmup_s,
        "host.calib_before_s": calib_before,
        "host.calib_after_s": calib_after,
    }
    if args.trace:
        layer.update(workload.per_layer(log))
        # what tracing adds to an op as the user sees it
        layer["trace.overhead_s"] = median_or_zero(log.seconds_of(traced=True)) - median_or_zero(
            log.seconds_of(traced=False)
        )
        own = [tracer.counts.get((i, "trace_own_s"), 0.0) for i, o in enumerate(log.ops) if o.traced]
        detail["trace_bookkeeping_s.p50"] = median_or_zero(own)
        detail["self_s_by_layer"] = tracer.self_by_layer()
        detail["spans"] = len(tracer.spans)
        if args.spans:
            tracer.dump(args.spans)
    return e2e, layer, detail, checks_ok, len(log.ops), log.failed


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "lime_etl_spark")):
        print(f"perfbench: no lime_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.harness import SparkHost, Tracer, cpu_count

    # a terminated run still stops the JVM and removes its scratch data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = tempfile.mkdtemp(prefix=".work-", dir=HERE)
    host, tracer = SparkHost(work_dir, cpu_count()), Tracer()
    try:
        e2e, layer, detail, checks_ok, attempted, failed = measure(args, work_dir, host, tracer)
    finally:
        tracer.close()
        host.close()
        shutil.rmtree(work_dir, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
    print(json.dumps(detail, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": checks_ok and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

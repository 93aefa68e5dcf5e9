"""Spark jobs per nightly lake_refresh batch, per runner job group.

Runs perfbench's ``lake_refresh`` workload (imported, not changed): the
warm-up night on a throwaway lake, then ``--passes`` passes over the
nights on a fresh lake, like a timed run. After each night it reads the
batch's job rows from the ledger and asks Spark's status tracker how
many jobs each runner job group (``batch_id:job_id:job_name``) started,
plus the jobs started outside any group. The first pass holds the cold
schema discoveries; later passes are the steady state.

    python3 tools/jobs_per_batch.py --seed 1 --passes 2

Prints one JSON line per night (``{"pass", "night", "total",
"ungrouped", "by_job"}``), then a summary line with each pass's totals.
Run from the repository root; scratch data goes to a temporary
directory that is removed before exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=2)
    args = ap.parse_args(argv)

    from perfbench.harness import OpLog, SparkHost, Tracer, cpu_count
    from perfbench.lake_refresh import N_NIGHTS, LakeRefresh

    work_dir = tempfile.mkdtemp(prefix="jobs-per-batch-")
    host = SparkHost(work_dir, cpu_count())
    try:
        host.start()
        lake = LakeRefresh(host, work_dir, args.seed, Tracer())
        lake.import_program()
        lake.generate(0)
        if not lake.warm_up():
            print(f"warm-up failed: {lake.problems[:3]}", file=sys.stderr)
            return 1
        lake._start_lake("counted")
        tracker, log, totals = host.spark.sparkContext.statusTracker(), OpLog(), []
        for i in range(args.passes * N_NIGHTS):
            before = set(tracker.getJobIdsForGroup(None))  # None: the jobs in no group
            night = i % N_NIGHTS + 1
            lake._run_night(log, night)
            batch = lake.store.get_previous_batch("nightly_lake")
            by_job = {
                r.job_name: len(tracker.getJobIdsForGroup(f"{batch.id}:{r.id}:{r.job_name}"))
                for r in sorted(batch.job_results, key=lambda r: r.job_name)
            }
            ungrouped = len(set(tracker.getJobIdsForGroup(None)) - before)
            total = sum(by_job.values()) + ungrouped
            row = {"pass": i // N_NIGHTS + 1, "night": night, "total": total,
                   "ungrouped": ungrouped, "by_job": by_job}
            print(json.dumps(row), flush=True)
            totals.append(total)
        print(json.dumps({"ok": log.failed == 0, "problems": lake.problems[:3], "totals_by_pass": [
            totals[p * N_NIGHTS:(p + 1) * N_NIGHTS] for p in range(args.passes)
        ]}))
        return 0 if log.failed == 0 else 1
    finally:
        host.close()
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

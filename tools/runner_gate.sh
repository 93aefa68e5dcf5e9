#!/usr/bin/env bash
# Runner gate: the orchestration-runtime tests (runner, ledger, table
# jobs, settings validation, declarative pipelines, sources), then every
# ledger reader through the snapshot_as_of tests. Two pytest runs, so the
# second's -k filters only test_ops_round1i.py.
#
# Usage: tools/runner_gate.sh [extra pytest args, passed to both runs]
set -euo pipefail
cd "$(dirname "$0")/.."
python -m pytest tests/test_parallel_runner.py tests/test_e2e_runner.py \
  tests/test_admin_store.py tests/test_table_jobs.py tests/test_domain_unit.py \
  tests/test_declarative.py tests/test_sources.py -q "$@"
exec python -m pytest tests/test_ops_round1i.py -k snapshot_as_of -q "$@"

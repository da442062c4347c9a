#!/usr/bin/env bash
# Full test gate: the whole suite, including the tests marked `slow`
# that pytest.ini's default `-m "not slow"` leaves out. Runs with the
# same environment as the default (tier-1) run. Extra arguments are
# passed to pytest.
#
#   tools/full_gate.sh            # whole suite
#   tools/full_gate.sh -x -q      # stop at the first failure
set -euo pipefail
cd "$(dirname "$0")/.."
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
exec python -m pytest tests/ -m "slow or not slow" -p no:cacheprovider "$@"

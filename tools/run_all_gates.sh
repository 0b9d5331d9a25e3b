#!/bin/bash
# Round exit gate: unit+property+e2e tests, oracle gate (engine session and
# vanilla driver-like session), the sf0.1 benchmark, and (VERDICT r9 #4)
# the full-registry sf1.0 smoke sweep — every query executed at 10x the
# driver bench's data, errors and >12x scale ratios flagged.
set -e
cd "$(dirname "$0")/.."
# the Tier-1 environment: cores for the local master, a scratch dir for
# Spark's shuffle and spill files
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
export SPARK_LOCAL_DIRS="${SPARK_LOCAL_DIRS:-/tmp/spark-local}"
echo "=== pytest ==="
python -m pytest tests/ -q
echo "=== perfbench unit tests ==="
python3 -m pytest perfbench/tests -q
echo "=== oracle gate (engine session) ==="
python tools/check_oracle.py
echo "=== oracle gate (vanilla session) ==="
python tools/check_oracle.py --vanilla
echo "=== bench sf0.1 ==="
SPARK_GRAFT_SF_DIR=${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1} python bench.py
echo "=== sf1.0 full-registry smoke sweep ==="
if [ ! -d "${SF1_DIR:-/root/repo/testdata_sf1}" ]; then
  python tools/gen_testdata.py 1.0 "${SF1_DIR:-/root/repo/testdata_sf1}" "${SPARK_GRAFT_CPUS:-32}"
fi
python tools/sf1_sweep.py

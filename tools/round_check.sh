#!/bin/bash
# Full round regression: tests + tri-scale oracle verify + bench.
set -e
cd "$(dirname "$0")/.."
# an explicit SPARK_GRAFT_CPUS wins; otherwise the host's core count
CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}"
echo "== tests =="
sbt -batch test 2>&1 | grep -E 'Tests:|\*\*\*' | tail -2
for sf in 0.001 0.01 0.1; do
  echo "== verify sf$sf =="
  sbt -batch "runMain graft.Verify /root/testdata/sf$sf /tmp/rc_$sf" \
    2>&1 | grep -E '\[verify\].*failed' || true
  python3 tools/check.py /root/testdata/sf$sf /tmp/rc_$sf | tail -1
done
echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$CPUS" \
  sbt -batch 'runMain graft.Bench' 2>&1 | grep '"metric"'

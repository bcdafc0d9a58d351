#!/bin/bash
# 3-point scaling sweep for SCALING_r06: per-query wall-times at generated
# sf0.1 / sf0.5 / sf1 (same seeded generator, same schemas as /root/testdata).
# Runs off compiled classes via tools/jrun.sh (no sbt lock); reps follow
# Bench's adaptive default (7, 15 for sub-second queries).
cd "$(dirname "$0")/.."
for sf in 0.1 0.5 1; do
  SPARK_GRAFT_SF_DIR=scaledata/sf$sf SPARK_GRAFT_BENCH_REPS=5 \
  SPARK_GRAFT_BENCH_OUT=scaledata/bench_sf$sf.json SPARK_GRAFT_CPUS=32 \
  SPARK_DRIVER_MEM=16g tools/jrun.sh graft.Bench > scaledata/benchlog_sf$sf.txt 2>&1
  echo "done sf$sf rc=$?" >> scaledata/sweep_status.txt
done
echo "SWEEP_COMPLETE" >> scaledata/sweep_status.txt

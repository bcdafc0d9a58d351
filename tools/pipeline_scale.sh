#!/bin/bash
# Pipeline-at-scale sweep: generate 3 staging-shaped lakes (GenLakeData),
# run DailyPipeline end-to-end over each in its OWN JVM (the isolation
# lesson from the r6 tail sweep), then fit per-stage slopes with
# tools/pipeline_report.py -> SCALING_r07_pipeline.json.
# Usage: tools/pipeline_scale.sh [workDir=scaledata/pipeline, under the checkout]
set -e
cd "$(dirname "$0")/.."
WORK="${1:-scaledata/pipeline}"
mkdir -p "$WORK"

# sizes: tickers per point (per-ticker files x4 + 9 per-source files);
# 5x steps spanning 25x in input volume, ~40k files at the top point
for size in 400 2000 10000; do
  if [ ! -d "$WORK/lake$size/master" ]; then
    tools/jrun.sh graft.tools.GenLakeData "$WORK/lake$size" "$size"
  fi
  rm -rf "$WORK/wh$size"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" \
  tools/jrun.sh graft.tools.PipelineScale \
    "$WORK/lake$size" "$WORK/wh$size" "$size" "$WORK/pipeline_$size.json" \
    2> "$WORK/pipeline_$size.log"
done

python3 tools/pipeline_report.py "$WORK" 400 2000 10000 \
  > SCALING_r07_pipeline.json
echo "wrote SCALING_r07_pipeline.json"

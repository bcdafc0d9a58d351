#!/bin/bash
# Corpus-pipeline-at-scale sweep: CorpusPipeline end-to-end over generated
# documents at sf0.1/0.5/1/2 (5k..100k docs), one JVM per point, fresh
# output dir per point -> per-stage wall-times + slopes via
# tools/corpus_report.py -> SCALING_r07_corpus.json.
set -e
cd "$(dirname "$0")/.."
WORK="${1:-scaledata/r07}"
mkdir -p "$WORK"

for sf in 0.1 0.5 1 2; do
  rm -rf "$WORK/corpus_out_$sf"
  SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-32}" SPARK_DRIVER_MEM=16g \
  tools/jrun.sh graft.tools.CorpusScale \
    "scaledata/sf$sf" "$WORK/corpus_out_$sf" "$sf" \
    "$WORK/corpus_$sf.json" 2> "$WORK/corpus_$sf.log"
  echo "done sf$sf rc=$?" >> "$WORK/corpus_status.txt"
done

python3 tools/corpus_report.py "$WORK" 0.1 0.5 1 2 > SCALING_r07_corpus.json
echo "wrote SCALING_r07_corpus.json"

#!/bin/bash
# Round-7 scaling sweep for the NEW operator families (q69-q81: span
# dedup/rewrite, SemDeDup, compaction plan, chunking, shard plan,
# classifier score, unigram-LM perplexity, DSIR weights/resample, ppl
# buckets, Zipf stats, tf-idf) at generated sf0.1/0.5/1/2 (5k..100k
# docs, 2k..40k embeddings — same seeded generator as the r6 sweeps).
# One JVM per SF point (light queries; the r6 isolation lesson applies
# to 100s-scale neighbors, which this family has none of — re-run
# isolated if an outlier appears). Bench twins run the PRODUCTION
# configs: q69 hashed windows, q70 autoNlist cluster sizing.
cd "$(dirname "$0")/.."
for sf in 0.1 0.5 1 2; do
  SPARK_GRAFT_SF_DIR=scaledata/sf$sf \
  SPARK_GRAFT_BENCH_ONLY=q69_span_dedup,q70_semdedup,q71_compaction_plan,q72_span_rewrite,q73_chunking,q74_shard_plan,q75_classifier_score,q76_lm_perplexity,q77_dsir_weights,q78_dsir_resample,q79_ppl_buckets,q80_zipf_stats,q81_tfidf_topk,q82_label_noise,q83_text_cleanup,q84_split_assign \
  SPARK_GRAFT_BENCH_REPS=5 \
  SPARK_GRAFT_BENCH_OUT=scaledata/r07/newops_sf$sf.json \
  SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=16g \
  tools/jrun.sh graft.Bench > scaledata/r07/newops_log_sf$sf.txt 2>&1
  echo "done sf$sf rc=$?" >> scaledata/r07/newops_status.txt
done
echo "NEWOPS_SWEEP_COMPLETE" >> scaledata/r07/newops_status.txt

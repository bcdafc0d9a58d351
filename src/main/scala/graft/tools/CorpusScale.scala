package graft.tools

import org.apache.spark.sql.functions.col

/** One corpus-pipeline-at-scale measurement point: run
  * [[graft.pipeline.CorpusPipeline]] end-to-end over a generated
  * documents table (GenScaleData's `documents.parquet`) and emit one JSON
  * line with per-stage wall-times — the training-data counterpart of
  * [[PipelineScale]]. One size per JVM invocation (the SCALING_r06_tail
  * isolation lesson); tools/corpus_scale.sh sweeps the sizes and
  * tools/pipeline_report.py-style fitting happens in
  * tools/corpus_report.py.
  *
  * The decontamination benchmark is the `doc_id % 997 == 0` slice of the
  * corpus itself (deterministic, scales with the corpus, guarantees real
  * hits), removed from the input so contamination is cross-document.
  *
  * Usage: jrun graft.tools.CorpusScale <sfDir> <outDir> <label>
  *          [<outJson>] [<bpeMerges>] [<pplLmOrder>] [<pplSampleMod>]
  *          [<pplMinBigramCount>]
  * `bpeMerges` > 0 measures the tokenizer-faithful configuration: the
  * tokenizer-training stage, BPE-denominated mixture/pack, and the
  * packed token-id materialization (`pack_ids`) on top of the word
  * baseline the committed rich4/8/16 points time.
  */
object CorpusScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: CorpusScale <sfDir> <outDir> <label> [<outJson>] [<bpeMerges>] " +
        "[<pplLmOrder>] [<pplSampleMod>]")
    val Array(sfDir, outDir, label) = args.take(3)
    val spark = graft.Graft.session("graft-corpus-scale")

    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val all = raw.select(col("doc_id"), col("text"), col("source"))
    val benchmark = all.filter(col("doc_id") % 997 === 0).select(col("text"))
    val docs = all.filter(col("doc_id") % 997 =!= 0)
    val totalChars = raw.selectExpr("sum(n_chars)").head.getLong(0)

    // host-window control probe before/after — the decade artifacts
    // self-report window quality (see WindowProbe; r13 verdict #6)
    val windowBefore = WindowProbe.sample(spark)

    val t0 = System.nanoTime()
    val results = graft.pipeline.CorpusPipeline.run(spark, docs, benchmark,
      outDir, graft.pipeline.CorpusPipeline.Config(
        // budget = ~40% of the corpus tokens so the mixture stage does
        // real work at every size (same fraction, any scale)
        budgetTokens = math.max(1L, (totalChars * 2) / 25),
        bpeMerges = args.lift(4).map(_.toInt).getOrElse(0),
        pplLmOrder = args.lift(5).map(_.toInt).getOrElse(1),
        pplSampleMod = args.lift(6).map(_.toInt).getOrElse(0),
        pplMinBigramCount = args.lift(7).map(_.toLong).getOrElse(1L)))
    val totalSec = (System.nanoTime() - t0) / 1e9
    require(results.nonEmpty && results.forall(_.ok),
      s"corpus pipeline not green: ${results.filterNot(_.ok).mkString("; ")}")

    val windowAfter = WindowProbe.sample(spark)
    val window = WindowProbe.windowJson(windowBefore, windowAfter)

    val stages = results.map(r =>
      s""""${r.stage}":{"sec":${r.durationMs / 1000.0},"rows":${r.rows}}""")
      .mkString("{", ",", "}")
    val line = s"""{"label":"$label","total_sec":${"%.3f".formatLocal(java.util.Locale.ROOT, totalSec)},"window":$window,"stages":$stages}"""
    args.lift(3).foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    }
    println(line)
    spark.stop()
  }
}

package graft.tools

import graft.functions.Bpe

/** Merges-dimension scale measurement for BPE training — the r10 verdict's
  * ceiling: the distributed trainer pays one sequential vocab-sized Spark
  * job PER MERGE (O(numMerges × vocab-tokens)), which is fine at the
  * 32-merge oracle config and days of job overhead at a tokenizer-real
  * 30k+. The production trainer ([[Bpe.trainMergesLocal]]) collects the
  * (word, cnt) vocabulary after the one corpus-sized word-count shuffle
  * and runs the merge loop driver-local with incremental pair counts.
  *
  * This tool measures, on a real generated corpus:
  *  1. the distributed word-count + collect (the only corpus-sized work —
  *     this is what still scales with DATA size);
  *  2. the local merge loop at >= 1k merges (per-merge microseconds —
  *     this is what no longer scales with data size at all);
  *  3. the distributed fallback loop at a small merge count (per-merge
  *     seconds — the job-per-round cost the local loop eliminates);
  *  4. merge-for-merge equality of the two trainers over the comparison
  *     prefix (the BpeSpec pin, re-asserted on the measured corpus).
  *
  * Usage: jrun graft.tools.BpeTrainScale <docsDir> <outJson>
  *          [<localMerges>=1024] [<distMerges>=32] [<minCount>=2]
  */
object BpeTrainScale {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BpeTrainScale <docsDir> <outJson> [<localMerges>] [<distMerges>] [<minCount>]")
    val docsDir = args(0)
    val outJson = args(1)
    val localMerges = args.lift(2).map(_.toInt).getOrElse(1024)
    val distMerges = args.lift(3).map(_.toInt).getOrElse(32)
    val minCount = args.lift(4).map(_.toLong).getOrElse(2L)
    val spark = graft.Graft.session("graft-bpe-train-scale")

    val df = spark.read.parquet(s"$docsDir/documents.parquet")
    val nDocs = df.count()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // 1. distributed word count + collect (untimed warm pass first so the
    // measurement isn't JIT/codegen/classload)
    Bpe.wordCounts(df, "text").collect()
    val (vocab, tCollect) = time {
      Bpe.wordCounts(df, "text").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val vocabWords = vocab.length
    val vocabOccurrences = vocab.map(_._2).sum
    val vocabSymbols = vocab.map { case (w, _) => w.codePointCount(0, w.length).toLong }.sum

    // 2. local merge loop at the large merge count (warm pass first)
    Bpe.trainMergesOnVocab(vocab, math.min(64, localMerges), minCount)
    val (localTable, tLocal) = time {
      Bpe.trainMergesOnVocab(vocab, localMerges, minCount)
    }
    val localLearned = localTable.length

    // 2b. encode throughput UNDER the large trained table — the consumer
    // side of the merges dimension: per-word encode must not scale with
    // table size (the dict-greedy kernel's claim). Full corpus scan
    // through the native expression into a noop sink; total tokens from
    // a second (cheap) aggregate.
    val bigTable = localTable
    def encodePass(): Double = {
      val t0 = System.nanoTime()
      df.select(Bpe.tokenCount(org.apache.spark.sql.functions.col("text"), bigTable)
          .as("n"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    encodePass() // warm (JIT + memo fill)
    val tEncode = encodePass()

    // 2c. MARKED ID EMISSION under the same table — the training-file
    // path (BpeTokenIdsExpr: encode + O(1) HashMap probe + arithmetic
    // word-initial marking). The claim under test: throughput tracks
    // the encode pass, INDEPENDENT of the vocabulary size (here
    // |base| = corpus alphabet + every learned merge — the real-table
    // regime a literal-map lookup could not survive).
    val vMarked = Bpe.vocabMarked(df, "text", bigTable)
    def idsPass(): Double = {
      val t0 = System.nanoTime()
      df.select(Bpe.tokenIdsMarked(
          org.apache.spark.sql.functions.col("text"), bigTable, vMarked)
          .as("ids"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    idsPass() // warm
    val tIds = idsPass()
    val totalTokens = df
      .select(org.apache.spark.sql.functions.sum(
        Bpe.tokenCount(org.apache.spark.sql.functions.col("text"), bigTable))
        .as("t"))
      .head().getLong(0)

    // 3. distributed fallback at the small merge count
    val (distTable, tDist) = time {
      Bpe.trainMerges(df, "text", distMerges, minCount)
    }
    // 4. equality over the comparison prefix
    val prefix = math.min(localLearned, distTable.length)
    val equal = localTable.take(prefix) == distTable.take(prefix)

    def f(d: Double): String = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val line =
      s"""{"docs_dir":"$docsDir","n_docs":$nDocs,""" +
        s""""vocab_words":$vocabWords,"vocab_occurrences":$vocabOccurrences,"vocab_symbols":$vocabSymbols,""" +
        s""""wordcount_collect_sec":${f(tCollect)},""" +
        s""""local_merges_requested":$localMerges,"local_merges_learned":$localLearned,""" +
        s""""local_loop_sec":${f(tLocal)},"local_us_per_merge":${f(if (localLearned > 0) tLocal * 1e6 / localLearned else -1)},""" +
        s""""encode_corpus_sec":${f(tEncode)},"encode_total_tokens":$totalTokens,""" +
        s""""encode_mtokens_per_sec":${f(totalTokens / tEncode / 1e6)},""" +
        s""""ids_vocab_entries":${vMarked.size},"ids_corpus_sec":${f(tIds)},""" +
        s""""ids_mtokens_per_sec":${f(totalTokens / tIds / 1e6)},""" +
        s""""dist_merges":${distTable.length},"dist_loop_sec":${f(tDist)},""" +
        s""""dist_sec_per_merge":${f(if (distTable.nonEmpty) tDist / distTable.length else -1)},""" +
        s""""prefix_equal":$equal,"min_count":$minCount}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line + "\n")
    println(line)
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Steady-state measurement of the streaming corpus-curation loop
  * ([[graft.streaming.StreamingIngest.curateStream]]): N fixed-size
  * micro-batches drain through the REAL file-source stream
  * (`maxFilesPerTrigger=1`, AvailableNow), and every batch's wall time is
  * captured from the StreamingQueryListener's progress events — the
  * O(batch) claim ("per-batch cost depends on batch size, never on
  * accumulated index size") as a measured flat line instead of a spec
  * assertion. The near-dup index grows by ~batchRows every batch; if the
  * probe were index-vs-index, per-batch time would trend UP linearly —
  * the artifact shows whether it does.
  *
  * Batch corpus: GenScaleData's documents generator sliced into
  * contiguous id ranges (one parquet file per batch), so content, dup
  * rate (~0.2% adjacent replays) and length distribution are identical
  * across batches — any wall-time drift is the loop, not the data.
  *
  * Usage: jrun graft.tools.CurateSteadyState <workDir> <nBatches> <batchRows> [<outJson>] [<compactEvery>] [<bands>] [<maxBucketSize>] [<vocabSize>] [<compactMinFiles>] [<tokenizerMerges>]
  * `compactEvery` > 0 turns on the loop's in-trigger index compaction
  * (curateStream's knob) — the A/B that separates file-count drift from
  * true per-row probe cost. `bands` (default 32 = curateStream's default,
  * i.e. 2 minhash rows/band) sets LSH banding selectivity: on this
  * 31-word-vocab synthetic corpus the default's per-band collision
  * probability j^2 makes nearly every doc collide with history, so the
  * candidate stream GROWS with the index (an LSH S-curve property of the
  * corpus, not loop overhead); bands=16 (j^4) is the selective
  * counter-point that isolates the loop's own drift.
  */
object CurateSteadyState {

  private final class ProgressCapture extends StreamingQueryListener {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      // triggerExecution spans the whole foreachBatch body (all sinks)
      val ms = Option(p.durationMs.get("triggerExecution"))
        .map(_.longValue).getOrElse(-1L)
      batches.add((p.batchId, ms, p.numInputRows))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: CurateSteadyState <workDir> <nBatches> <batchRows> [<outJson>]")
    val workDir = args(0)
    val nBatches = args(1).toInt
    val batchRows = args(2).toLong
    val spark = graft.Graft.session("graft-curate-steady-state")

    // one single-file parquet per batch: contiguous GenScaleData id slices.
    // vocabSize > 0 swaps GenScaleData's 31-word vocabulary for a hashed
    // synthetic one of that size, SAME doc shape (8-108 words, ~0.2%
    // adjacent exact-dup replays): the decomposition experiment — with 31
    // words every doc LSH-collides with most of the index (minhash
    // concentrates on the globally-smallest common shingles), so probe
    // work grows with the corpus by construction of the DATA; at
    // realistic vocabulary entropy collisions ≈ true near-dups and the
    // same loop runs flat
    val vocabSize = args.lift(7).map(_.toInt).getOrElse(0)
    val incoming = s"$workDir/incoming"
    val all =
      if (vocabSize <= 0) GenScaleData.documents(spark, nBatches * batchRows)
      else GenScaleData.documentsVocab(spark, nBatches * batchRows, vocabSize)
    (0 until nBatches).foreach { b =>
      all.filter(col("doc_id") >= b * batchRows &&
          col("doc_id") < (b + 1) * batchRows)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/stage_b$b")
      // move the part file in under a stable name so the file source sees
      // exactly one new file per batch, in id order
      val part = new java.io.File(s"$workDir/stage_b$b").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$incoming/batch_$b%04d.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    val capture = new ProgressCapture
    spark.streams.addListener(capture)
    val stream = spark.readStream
      .schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(incoming)
    val indexPath = s"$workDir/index"
    val compactEvery = args.lift(4).map(_.toInt).getOrElse(0)
    val bands = args.lift(5).map(_.toInt).getOrElse(32)
    val maxBucket = args.lift(6).map(_.toInt).getOrElse(1000)
    // compactMinFiles > 0 = the ADAPTIVE trigger (skip partitions at or
    // under that many part files; the r10 cadence experiment)
    val compactMinFiles = args.lift(8).map(_.toInt).getOrElse(0)
    // tokenizerMerges > 0 = TOKENIZER MODE (the r12 streaming twin of
    // CorpusPipeline(bpeMerges > 0)): train once on the full generated
    // corpus up front — the production train-offline shape — persist the
    // open marked artifact, and run the loop with BPE-denominated gates
    // + per-batch packed-id emission. The drift stats below then measure
    // whether per-batch ENCODE cost stays flat as the index grows.
    val tokenizerMerges = args.lift(9).map(_.toInt).getOrElse(0)
    val tokenizerPath = if (tokenizerMerges > 0) {
      import graft.functions.Bpe
      val merges = Bpe.trainMergesLocal(all, "text", tokenizerMerges, 2L)
      val vocab = Bpe.vocabMarkedBytes(all, "text", merges)
      Bpe.saveTokenizer(spark, merges, vocab, s"$workDir/tok", Bpe.ModelWordMarked)
      println(s"[steady] tokenizer: ${merges.size} merges, |V|=${vocab.size}")
      s"$workDir/tok"
    } else ""
    val q = graft.streaming.StreamingIngest.curateStream(spark, stream,
      "doc_id", "text", indexPath, s"$workDir/curated", s"$workDir/rejects",
      s"$workDir/ckpt", bands = bands, maxBucketSize = maxBucket,
      compactEvery = compactEvery, compactMinFiles = compactMinFiles,
      tokenizerPath = tokenizerPath,
      packedIdsPath = if (tokenizerMerges > 0) s"$workDir/packed" else "",
      seqLen = 2048L)
    q.awaitTermination()
    Thread.sleep(2000) // let the last progress event drain the listener bus
    spark.streams.removeListener(capture)

    // index size after each batch: the index partitions by batch_id, so
    // the cumulative row count per batch is a metadata-cheap group-by
    // partition-column inference reads batch_id back as int — go through
    // Number rather than assuming the written long survived
    val perBatch = spark.read.parquet(indexPath)
      .groupBy("batch_id").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.get(0).asInstanceOf[Number].longValue -> r.getLong(1)).toMap
    import scala.jdk.CollectionConverters._
    val rows = capture.batches.asScala.toSeq.sortBy(_._1)
    var cum = 0L
    val entries = rows.map { case (bid, ms, inRows) =>
      cum += perBatch.getOrElse(bid, 0L)
      s"""{"batch_id":$bid,"wall_ms":$ms,"input_rows":$inRows,"index_rows_after":$cum}"""
    }
    // drift fits over batches 3+ (first batches carry JIT/codegen
    // warm-up): least-squares AND Theil-Sen (median of pairwise slopes) —
    // one multi-second host-noise spike in a ~25-point window bends the
    // LSQ slope by tens of ms/batch (observed: batch-18 spike turned a
    // flat tail into "+89 ms/batch"); the median-of-slopes estimator is
    // robust to it and is the headline number
    val steady = rows.drop(3).filter(_._2 >= 0)
    val drift =
      if (steady.size < 2) 0.0
      else {
        val xs = steady.map(_._1.toDouble); val ys = steady.map(_._2.toDouble)
        val mx = xs.sum / xs.size; val my = ys.sum / ys.size
        xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum /
          math.max(1e-9, xs.map(x => (x - mx) * (x - mx)).sum)
      }
    val driftTs =
      if (steady.size < 2) 0.0
      else {
        val pts = steady.map(t => (t._1.toDouble, t._2.toDouble))
        val slopes = (for {
          i <- pts.indices; j <- (i + 1) until pts.size
        } yield (pts(j)._2 - pts(i)._2) / (pts(j)._1 - pts(i)._1)).sorted
        if (slopes.size % 2 == 1) slopes(slopes.size / 2)
        else (slopes(slopes.size / 2 - 1) + slopes(slopes.size / 2)) / 2.0
      }
    def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    // final index file count: the thing compaction bounds
    val idxFiles = {
      val p = new org.apache.hadoop.fs.Path(indexPath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.startsWith("part-")) n += 1 }
      n
    }
    val line = s"""{"n_batches":$nBatches,"batch_rows":$batchRows,""" +
      s""""compact_every":$compactEvery,"compact_min_files":$compactMinFiles,"bands":$bands,""" +
      s""""max_bucket_size":$maxBucket,"vocab_size":$vocabSize,""" +
      s""""tokenizer_merges":$tokenizerMerges,""" +
      s""""index_part_files":$idxFiles,""" +
      s""""drift_ms_per_batch":${f(drift)},"drift_theil_sen_ms_per_batch":${f(driftTs)},""" +
      s""""batches":[${entries.mkString(",")}]}"""
    args.lift(3).foreach { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    }
    println(line)
    spark.stop()
  }
}

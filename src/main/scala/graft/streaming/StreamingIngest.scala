package graft.streaming

import graft.operators.MergeSink
import graft.util.ArtifactIO
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types.{LongType, StructType}

/** Structured Streaming ingest (SURVEY.md §2.10): the reference's daily
  * cron + repair-pass + hash-upsert incremental semantics, re-expressed as
  * a file-source stream with foreachBatch MERGE.
  *
  * Mapping (SURVEY.md §2.10 table):
  *  - T1 daily batch trigger    -> Trigger.AvailableNow over the landing dir
  *    (drains everything present, then stops — a cron-able micro-batch run);
  *  - T2 row_hash change-detect -> MergeSink.merge inside foreachBatch;
  *  - T3 at-least-once + dedup  -> merge keyed on the natural key absorbs
  *    replayed files; checkpoint gives exactly-once per batch;
  *  - T4 late/failed repair     -> late files simply arrive in a later batch
  *    and MERGE (no watermark needed for upsert paths).
  *
  * Scale: the file source lists incrementally (maxFilesPerTrigger bounds a
  * batch); each micro-batch is one shuffle on the natural key. For a
  * 100 TB warehouse the foreachBatch body targets Delta `MERGE INTO`
  * instead of the parquet-swap sink — same call shape.
  */
object StreamingIngest {

  /** CSV landing-dir stream with the engine's header/BOM conventions. */
  def csvStream(spark: SparkSession, landingDir: String, schema: StructType,
                maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(landingDir)
      .withColumn("origin_file", input_file_name())

  /** Hash-guarded continuous upsert: every micro-batch MERGEs into the
    * parquet warehouse at `targetPath` on `keys`. */
  def upsertStream(spark: SparkSession, stream: DataFrame, targetPath: String,
                   keys: Seq[String], checkpoint: String,
                   hashCol: Option[String] = Some("row_hash"),
                   availableNow: Boolean = true): StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeSink.upsertParquet(spark, targetPath, batch, keys, hashCol)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Streaming incremental near-dup: the q65 daily-ingestion loop as a
    * continuously-running stream. Each micro-batch is deduped against the
    * PERSISTED [[graft.operators.Dedup.nearDupIndex]] parquet at
    * `indexPath` (near-dup pairs land under `pairsPath`), then the
    * batch's own index rows are appended — so batch N+1 sees every doc
    * from batches 1..N without ever re-reading their text. The probe and
    * the append are [[curateBatch]]'s own ([[probeIndex]],
    * [[appendIndex]]): the index carries its bucket sidecar at
    * [[bucketsPath]], so either loop can continue the other's index.
    *
    * Exactly-once on replay WITHOUT transactions: every sink partitions
    * by batch_id and uses DYNAMIC partition overwrite, so a crashed batch
    * rewrites only its own partition. A replay whose index append already
    * landed is still correct: the batch's ids are anti-joined OUT of the
    * index reads (enforcing the probe's disjoint-id precondition
    * mechanically), so the replayed batch sees exactly the index state
    * the original run saw and rewrites identical partitions. */
  def incrementalDedupStream(spark: SparkSession, stream: DataFrame,
                             idCol: String, textCol: String,
                             indexPath: String, pairsPath: String,
                             checkpoint: String, numHashes: Int = 64,
                             bands: Int = 32, shingleN: Int = 3,
                             threshold: Double = 0.5,
                             maxBucketSize: Int = 1000,
                             availableNow: Boolean = true): StreamingQuery = {
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        incrementalDedupBatch(spark, batch, batchId, idCol, textCol,
          indexPath, pairsPath, numHashes, bands, shingleN, threshold,
          maxBucketSize)
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** The bucket sidecar's conventional location, derived from the index
    * path: a SIBLING directory (never inside the index root, where its
    * dirs would corrupt partition discovery). */
  def bucketsPath(indexPath: String): String = indexPath + "_buckets"

  /** The near-dup pairs (id_a, id_b, jaccard) between `batch` and the
    * persisted index, plus those within the batch: the
    * [[graft.operators.Dedup.incrementalNearDupsIndexed]] probe over the
    * bucket sidecar, with shingle sets fetched only from the batch_id
    * partitions that collided. Per-batch work is O(batch) plus an
    * O(index) thin-bucket scan at ~24 B x bands per indexed doc (see that
    * method's doc for the floor argument).
    *
    * Replay-safe: both index reads anti-join this batch's ids out
    * (present iff this is a post-crash replay whose append already
    * landed), so a replay sees exactly the index state the original run
    * saw. Path-resolved Hadoop FS, not java.io.File — the index lives
    * wherever the deployment's warehouse does (HDFS/S3 at 100 TB); a
    * local-only check would silently dedup every batch against an empty
    * index there. The pairs are checkpointed: they never read
    * `indexPath`, so a sink may overwrite it. */
  private def probeIndex(spark: SparkSession, batch: DataFrame,
                         idCol: String, textCol: String, indexPath: String,
                         numHashes: Int, bands: Int, shingleN: Int,
                         threshold: Double, maxBucketSize: Int): DataFrame = {
    import graft.operators.Dedup
    val bPath = new org.apache.hadoop.fs.Path(bucketsPath(indexPath))
    val fs = bPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the batch id set is micro-batch-sized: a broadcast probe
    def replaySafe(index: DataFrame): DataFrame =
      index.join(broadcast(batch.select(col(idCol))), Seq(idCol), "left_anti")
    // Both reads pass the schema of the SAME builders that write the
    // files, derived on an empty slice (plan-only, zero Spark jobs), so
    // the loop never pays a per-batch schema-inference job on files this
    // engine wrote; batch_id is the partition column, typed so its filter
    // prunes partitions.
    val emptyIdx = Dedup.nearDupIndex(batch.limit(0), idCol, textCol,
      numHashes, shingleN)
    val emptyBuckets = Dedup.bandBuckets(emptyIdx, idCol, bands, numHashes)
    def read(path: String, empty: DataFrame): DataFrame =
      spark.read.schema(empty.schema.add("batch_id", LongType)).parquet(path)
    val iBuckets =
      if (ArtifactIO.hasParquet(fs, bPath))
        replaySafe(read(bPath.toString, emptyBuckets))
      else emptyBuckets.withColumn("batch_id", lit(null).cast(LongType))
    val fetchSets = (parts: Seq[Any]) =>
      replaySafe(read(indexPath, emptyIdx)
        .filter(col("batch_id").isin(parts: _*)))
    Dedup.incrementalNearDupsIndexed(batch, iBuckets, fetchSets, idCol,
      "batch_id", numHashes, bands, shingleN, threshold, maxBucketSize,
      textCol)
  }

  /** Writes `df` as the `batchId` partition of `path` with dynamic
    * partition overwrite: a replayed batch replaces only its own
    * partition. */
  private def sinkBatch(df: DataFrame, batchId: Long, path: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(path)

  /** Appends `docs` to the index as its `batchId` partition, then their
    * band buckets to the sidecar at [[bucketsPath]]: buckets are computed
    * ONCE here, at write time, so later batches probe 3 thin int64
    * columns instead of re-deriving buckets from every indexed signature
    * (same batch_id partitioning and dynamic overwrite, so the same
    * replay story as the index itself). */
  private def appendIndex(docs: DataFrame, batchId: Long, idCol: String,
                          textCol: String, indexPath: String,
                          numHashes: Int, bands: Int, shingleN: Int): Unit = {
    import graft.operators.Dedup
    val idx = Dedup.nearDupIndex(docs, idCol, textCol, numHashes, shingleN)
    sinkBatch(idx, batchId, indexPath)
    sinkBatch(Dedup.bandBuckets(idx, idCol, bands, numHashes), batchId,
      bucketsPath(indexPath))
  }

  /** One micro-batch of [[incrementalDedupStream]], callable directly so
    * replay semantics are testable: running it twice with the SAME
    * batchId (what a post-crash Structured Streaming replay does) must
    * leave identical pairs/index partitions. */
  def incrementalDedupBatch(spark: SparkSession, batch: DataFrame,
                            batchId: Long, idCol: String, textCol: String,
                            indexPath: String, pairsPath: String,
                            numHashes: Int, bands: Int, shingleN: Int,
                            threshold: Double, maxBucketSize: Int): Unit = {
    sinkBatch(probeIndex(spark, batch, idCol, textCol, indexPath, numHashes,
      bands, shingleN, threshold, maxBucketSize), batchId, pairsPath)
    appendIndex(batch, batchId, idCol, textCol, indexPath, numHashes, bands,
      shingleN)
  }

  /** Streaming corpus curation — the "corpus grows daily" twin of
    * [[graft.pipeline.CorpusPipeline]]'s front half: each micro-batch is
    * cleaned (q83), quality-gated (q34/q35), near-dup'd against the
    * PERSISTED signature index (q65's discipline — history text is never
    * re-read, never index-vs-index), and appended to the curated lake;
    * every drop lands beside it with a `drop_reason`.
    *
    * The probe and the index append are [[incrementalDedupBatch]]'s
    * ([[probeIndex]], [[appendIndex]]): the thin bucket sidecar, and
    * shingle sets fetched only from the batch_id partitions that
    * collided.
    *
    * Near-dup keep rules: a batch doc yields to ANY history match (the
    * canonical already shipped — it cannot be unshipped) and to a
    * smaller-id match within its own batch (the q53 keep-lowest
    * convention). Only KEPT docs join the index, so future batches dedup
    * against canonicals, exactly like the batch pipeline's near-dedup
    * stage.
    *
    * Exactly-once on replay without transactions, the
    * [[incrementalDedupBatch]] contract: all four sinks (curated,
    * rejects, index, bucket sidecar) partition by batch_id with dynamic
    * partition overwrite, and every index/sidecar read anti-joins this
    * batch's ids out, so a replayed batch recomputes identical
    * partitions. */
  def curateBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                  idCol: String, textCol: String, indexPath: String,
                  curatedPath: String, rejectsPath: String,
                  minTokens: Long = 10L, minQuality: Double = 0.3,
                  numHashes: Int = 64, bands: Int = 32, shingleN: Int = 3,
                  threshold: Double = 0.5, maxBucketSize: Int = 1000,
                  tokenizer: Option[graft.functions.Tokenizers.Tok] = None,
                  packedIdsPath: String = "", seqLen: Long = 2048L,
                  lm: Option[graft.operators.QualityModel.FrozenLm] = None,
                  minXent: Double = 0.0,
                  maxXent: Double = Double.MaxValue,
                  langAllow: Seq[String] = Nil,
                  langId: Option[graft.operators.QualityModel.LangIdModel]
                    = None,
                  bm25IndexPath: String = ""): Unit = {
    import graft.functions.TextFns
    // TOKENIZER MODE (tokenizer = Some(loaded artifact)): n_tokens — and
    // therefore the minTokens gate — is denominated in the artifact's BPE
    // tokens, the unit the training run downstream actually budgets in;
    // kept docs additionally emit per-batch PACKED marked-id sequences
    // (see the sink below). The vocabulary must be the open MARKED
    // byte-fallback layout (vocabMarkedBytes): an incremental stream is
    // exactly where unseen alphabet arrives, and one day-2 code point
    // must tokenize as its UTF-8 bytes, not kill the trigger.
    val nTokens: org.apache.spark.sql.Column = tokenizer match {
      case Some(t) => t.nTokens(col(textCol))
      case None => TextFns.tokenCount(col(textCol)).cast("long")
    }
    // FROZEN-LM perplexity gate (lm = Some(loaded artifact)): the stream
    // scores against a REFERENCE LM trained offline and persisted — the
    // CCNet deployment shape. Day-2 batches carry unseen tokens by
    // construction; the artifact's smoothed miss mass (add-one's
    // 1/(N+V)) prices them instead of killing the trigger. One
    // zero-shuffle codegen call per batch; NULL xent (token-less doc)
    // never trips the band, matching the batch pipeline's left-join
    // null semantics.
    val base0 = batch
      .withColumn(textCol, TextFns.cleanText(col(textCol)))
      .withColumn("n_tokens", nTokens)
      .withColumn("quality", TextFns.qualityScore(col(textCol)))
    val base1 = lm match {
      case Some(m) => base0.withColumn("xent",
        graft.operators.QualityModel.frozenXentOf(col(textCol), m))
      case None => base0 // no LM, no xent column — schema unchanged
    }
    // LANGUAGE GATE (langAllow nonempty): the CorpusPipeline quality
    // stage's gate on the stream — docs outside the allow-list drop as
    // wrong_language, kept docs carry the `lang` audit column, scored by
    // the trained classifier when langId supplies a loaded artifact
    // (QualityModel.gate).
    val scored = graft.operators.QualityModel.gate(base1, textCol,
      dropEmpty = true, minTokens = Some(minTokens),
      minQuality = Some(minQuality), xentBand = lm.map(_ => (minXent, maxXent)),
      langAllow = langAllow, langId = langId)
    // the gated batch is consumed four times (signature build, pair gen,
    // kept anti-join, index write) — one persist, released before return
    val passed = scored.filter(col("drop_reason").isNull).drop("drop_reason")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = probeIndex(spark, passed, idCol, textCol, indexPath,
        numHashes, bands, shingleN, threshold, maxBucketSize)
      // orient every pair both ways; batch ids and index ids are
      // disjoint, so "other side NOT in this batch" = history match and
      // everything else is within-batch — classified against the
      // micro-batch-sized id set, no index scan
      val oriented = pairs.select(col("id_a").as("__d"), col("id_b").as("__o"))
        .unionByName(pairs.select(col("id_b").as("__d"), col("id_a").as("__o")))
      val batchIds = passed.select(col(idCol).as("__o"))
      val dropHist = oriented.join(broadcast(batchIds), Seq("__o"), "left_anti")
      val dropBatch = oriented.filter(col("__o") < col("__d"))
        .join(broadcast(batchIds), Seq("__o"), "left_semi")
      // Sever the index-read lineage HERE: `drops` is the only frame
      // downstream of the indexPath scan, and the index sink below
      // overwrites indexPath — a sink whose plan reads the path it
      // writes is committer/filesystem sensitive (S3A object-store
      // committers can observe partial state even under dynamic
      // partition overwrite). The eager localCheckpoint materializes
      // the small id set (block store, not lineage), so every sink's
      // plan below reads only `passed` (persisted batch data) +
      // checkpointed ids — never indexPath. Executor loss after
      // truncation fails the batch, and the replay contract above
      // already makes a re-run idempotent.
      val drops = dropHist.unionByName(dropBatch)
        .select(col("__d").as(idCol)).distinct()
        .localCheckpoint(true)
      val kept = passed.join(drops, Seq(idCol), "left_anti")

      sinkBatch(kept, batchId, curatedPath)
      // BM25 INDEX MODE (bm25IndexPath nonempty): the batch's KEPT docs
      // append to the streaming retrieval index as their own batch_id
      // partition (CorpusStats.bm25AppendBatch) — O(batch) stats, and a
      // replayed batch rewrites only its own partition, so the index
      // inherits this loop's exactly-once contract. Only curated docs
      // enter: retrieval should never surface what curation dropped.
      if (bm25IndexPath.nonEmpty)
        graft.operators.CorpusStats.bm25AppendBatch(spark, bm25IndexPath,
          kept, idCol, textCol, batchId)
      // Tokenizer mode: the micro-batch's training-file shard — each
      // batch packs ITS OWN kept docs' marked token ids into seqLen
      // sequences (seq_id restarts per batch; the global key is
      // (batch_id, seq_id), and a training consumer concatenates batch
      // partitions in batch order). Packing within the batch keeps the
      // replay contract intact: a replayed batch re-derives the exact
      // same sequences into the same batch_id partition, while any
      // cross-batch packing would re-shuffle SEALED partitions on
      // replay. The ragged tail per batch is bounded: < seqLen tokens
      // of padding waste per micro-batch, amortized to nothing at
      // production batch sizes.
      tokenizer.foreach { t =>
        require(packedIdsPath.nonEmpty,
          "tokenizer mode needs a packedIdsPath for the packed-id sink")
        // faithful BPE artifacts emit the flat unmarked stream (decodes
        // to the EXACT batch text); marked word-model artifacts (BPE
        // legacy, unigram) emit the marked stream (decodes to their
        // word model) — the artifact's on-disk layout + meta tag decide
        // (Tokenizers.Tok), so a consumer can never pair ids with the
        // wrong model
        val ids = kept.select(col(idCol),
          t.encodeIds(col(textCol)).as("ids"))
        sinkBatch(graft.operators.Packer.packTokenIds(spark, ids, idCol,
          "ids", seqLen), batchId, packedIdsPath)
      }
      sinkBatch(scored.filter(col("drop_reason").isNotNull)
        .unionByName(passed.join(drops, Seq(idCol), "left_semi")
          .withColumn("drop_reason", lit("near_duplicate"))), batchId,
        rejectsPath)
      appendIndex(kept, batchId, idCol, textCol, indexPath, numHashes, bands,
        shingleN)
    } finally passed.unpersist()
  }

  /** [[curateBatch]] as a Structured Streaming sink: foreachBatch loop
    * with a checkpoint, AvailableNow by default (the daily-drain shape).
    *
    * `compactEvery` (0 = off): every K committed batches, compact the
    * near-dup index's and bucket sidecar's sealed `batch_id=` partitions
    * in place ([[graft.maintenance.Compaction.compactPartitionedDir]]).
    * Each batch appends one partition of small files; compaction keeps
    * per-file open/footer costs bounded as batches accumulate (measured
    * r9 A/B: with ~1 file/partition file count was NOT what drove
    * per-batch cost — but a many-task production batch writes `shuffle.partitions` files per
    * partition, where compaction is what keeps listings flat).
    * Per-partition compaction preserves the replay contract (dynamic
    * partition overwrite still replaces whole `batch_id=` dirs) and is
    * amortized O(1): partitions already at one file no-op on the next
    * pass. Runs inside the trigger, after the batch's own sinks — the
    * index is quiescent there.
    *
    * `compactMinFiles` (0 = unconditional) is the ADAPTIVE variant: a
    * partition is only rewritten once it holds more than that many part
    * files, so the every-K pass degenerates to FS listings until file
    * growth actually bites (the r9 cadence ablation measured
    * unconditional every-5 compaction as net-negative at short horizons).
    *
    * Crash safety: a compaction pass publishes its rewritten partitions
    * through [[graft.operators.MergeSink.swapDirs]], whose marker swap
    * has a real window — between its renames a partition exists only
    * under the `__old`/`__tmp` siblings (on S3A the rename is a
    * non-atomic copy, so the window is wide). A crash there aborts the
    * trigger, and because the REPLAYED batch must not dedup against a
    * silently-thinner index, every trigger first runs
    * [[graft.operators.MergeSink.recoverSwap]] on each compacted dir —
    * the index, its bucket sidecar and the BM25 parts dirs — a few FS
    * probes in the steady state. It runs whatever `compactEvery` is: a
    * run restarted with compaction off still finds a crashed pass's
    * stranded partitions. The
    * curated/rejects lakes are write-only for this loop; compact those on
    * the consumer's schedule instead. */
  def curateStream(spark: SparkSession, stream: DataFrame, idCol: String,
                   textCol: String, indexPath: String, curatedPath: String,
                   rejectsPath: String, checkpoint: String,
                   minTokens: Long = 10L, minQuality: Double = 0.3,
                   numHashes: Int = 64, bands: Int = 32, shingleN: Int = 3,
                   threshold: Double = 0.5, maxBucketSize: Int = 1000,
                   availableNow: Boolean = true,
                   compactEvery: Int = 0,
                   compactTargetBytes: Long = 128L * 1024 * 1024,
                   compactMinFiles: Int = 0,
                   tokenizerPath: String = "",
                   packedIdsPath: String = "",
                   seqLen: Long = 2048L,
                   lmPath: String = "",
                   minXent: Double = 0.0,
                   maxXent: Double = Double.MaxValue,
                   langAllow: Seq[String] = Nil,
                   langIdPath: String = "",
                   bm25IndexPath: String = ""): StreamingQuery = {
    // TOKENIZER MODE (tokenizerPath nonempty): the streaming twin of
    // CorpusPipeline(bpeMerges > 0)'s apply side. The tokenizer is
    // trained ONCE, offline (CorpusPipeline's tokenizer stage or an
    // explicit Bpe.trainMergesLocal run), persisted as the versioned
    // merges + MARKED-BYTES vocab artifact pair, and loaded here ONE
    // time at stream start — per-batch work is pure in-scan encode, no
    // artifact re-read per trigger. The load re-validates the artifact
    // invariants (loadMerges/loadVocab), tokenIdsMarked rejects an
    // unmarked vocabulary at plan build, and the require below insists
    // on the byte-fallback layout, so a mis-paired or closed artifact
    // fails the stream loudly at startup, never as silent mis-ids (or a
    // dead trigger on day-2 alphabet) mid-run. Re-training under a
    // running stream is NOT supported by design: ids are only
    // comparable within one artifact version — ship a new artifact at a
    // new path and restart.
    val tokenizer = if (tokenizerPath.isEmpty) None else
      // family-dispatching load (Tokenizers.load): detects a unigram
      // artifact ($path/unigram_meta) or a BPE one
      // ($path/{merges,vocab,meta}), so a stream can point
      // straight at a pipeline's outDir/tokenizer whatever family
      // trained it. The load insists on the open
      // byte-fallback layout for BPE (day-2 batches WILL contain code
      // points the training corpus lacked -- a closed artifact fails
      // the stream loudly at startup); a unigram artifact is always
      // open by construction (byte layout built from the model).
      Some(graft.functions.Tokenizers.load(spark, tokenizerPath))
    // FROZEN-LM MODE (lmPath nonempty): the reference LM loads ONCE at
    // stream start (loadLm re-validates row counts / duplicate
    // tokens loudly); each batch gets the perplexity band on top of the
    // quality gate, with unseen tokens priced by the artifact's
    // add-one miss mass — day-2 vocabulary can never kill the trigger.
    val lm = if (lmPath.isEmpty) None
      else Some(graft.operators.QualityModel.loadLm(spark, lmPath))
    // TRAINED LANG-ID MODE (langIdPath nonempty): the classifier artifact
    // loads ONCE at stream start (loadLangId re-validates tag, language
    // order, per-language bucket completeness loudly — a corrupted or
    // mis-paired artifact fails the stream at startup, never as silent
    // misclassification mid-run); each batch's language gate then scores
    // through plan-literal weights, zero per-trigger artifact IO. Only
    // meaningful with a nonempty langAllow (the gate itself).
    val langId = if (langIdPath.isEmpty) None
      else Some(graft.operators.QualityModel.loadLangId(spark, langIdPath))
    require(langIdPath.isEmpty || langAllow.nonEmpty,
      "langIdPath without langAllow: the trained model only acts through " +
        "the language gate — pass the allow-list (or drop the model path)")
    langId.foreach { m =>
      val missing = langAllow.filterNot(m.langs.contains)
      require(missing.isEmpty,
        s"langAllow contains ${missing.mkString(",")} but the lang-ID " +
          s"artifact at $langIdPath only scores ${m.langs.mkString(",")} — " +
          "every allowed language must be one the model can predict")
    }
    // the dirs a compaction pass rewrites: each gains a partition per
    // batch, and the BM25 parts dirs share the near-dup index's cadence
    // and replay story (per-partition rewrite under dynamic overwrite)
    val compacted = Seq(indexPath, bucketsPath(indexPath)) ++
      (if (bm25IndexPath.isEmpty) Nil
       else Seq(s"$bm25IndexPath/bm25_df_parts", s"$bm25IndexPath/bm25_meta_parts"))
    val writer = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // heal any partition stranded by a compaction crash BEFORE the
        // (possibly replayed) batch probes the index — see scaladoc
        compacted.foreach(graft.operators.MergeSink.recoverSwap(spark, _))
        curateBatch(spark, batch, batchId, idCol, textCol, indexPath,
          curatedPath, rejectsPath, minTokens, minQuality, numHashes,
          bands, shingleN, threshold, maxBucketSize, tokenizer,
          packedIdsPath, seqLen, lm, minXent, maxXent, langAllow, langId,
          bm25IndexPath)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compacted.foreach(graft.maintenance.Compaction.compactPartitionedDir(
            spark, _, compactTargetBytes, minFiles = compactMinFiles))
      }
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }

  /** Tumbling-window event aggregation with a watermark — the streaming
    * twin of SparkEntry q31; late events beyond the watermark are dropped,
    * on-time aggregates emit incrementally (append mode). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     window_ : String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("total_value"))

  /** At-least-once ingestion dedup (T3) in its streaming-native form:
    * duplicate deliveries of the same key arriving within the watermark
    * horizon are dropped by the state store itself
    * (`dropDuplicatesWithinWatermark`), BEFORE the foreachBatch merge —
    * so redelivered rows never even reach the sink. State is bounded:
    * entries age out once the watermark passes them (the plain
    * `dropDuplicates` on a stream would grow state forever). The
    * downstream hash-guarded merge stays idempotent for duplicates
    * arriving OUTSIDE the horizon — two bounded layers instead of one
    * unbounded one. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           tsCol: String, watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  // ---- custom state: flatMapGroupsWithState ----

  /** (key, row_hash) input row for the stateful change detector. */
  final case class KeyedRow(key: String, row_hash: String)
  /** Per-key state: last accepted hash + how many updates it has seen. */
  final case class KeyState(lastHash: String, changes: Long)
  /** Emitted transition: insert (first sight), update (hash changed), or
    * expired (idle past the timeout; state evicted). Replays with an
    * unchanged hash emit NOTHING — the streaming twin of the hash-guarded
    * merge's no-op arm. */
  final case class Change(key: String, row_hash: String, change_type: String,
                          changes: Long)

  /** The change-detect step both state APIs run: each row of `key`
    * against its last accepted hash — insert on first sight, update on a
    * changed hash, nothing on an unchanged one. Returns the key's new
    * state and the emitted changes. */
  private def transition(key: String, prior: Option[KeyState],
                         rows: Iterator[KeyedRow]): (KeyState, Iterator[Change]) = {
    var st = prior.getOrElse(KeyState(null, 0L))
    val out = Seq.newBuilder[Change]
    rows.foreach { r =>
      if (st.lastHash == null) {
        st = KeyState(r.row_hash, 0L)
        out += Change(key, r.row_hash, "insert", 0L)
      } else if (st.lastHash != r.row_hash) {
        st = KeyState(r.row_hash, st.changes + 1)
        out += Change(key, r.row_hash, "update", st.changes)
      }
    }
    (st, out.result().iterator)
  }

  /** Custom-state change detection over a keyed stream
    * (KeyValueGroupedDataset.flatMapGroupsWithState): GroupState holds each
    * key's last row_hash across micro-batches, so the operator classifies
    * every arriving row as insert/update/no-op WITHOUT re-reading the
    * warehouse — the state store is the "target side" of the merge.
    *
    * Scale notes: one shuffle per micro-batch (groupByKey on the natural
    * key); state is O(live keys). `idleTimeout = Some(d)` evicts idle keys
    * after d (emitting a final 'expired' row — the reference's liveness
    * lifecycle, SURVEY §2.10 T5, as streaming state) — but ONLY for
    * continuously-running queries: FlatMapGroupsWithStateExec's
    * shouldRunAnotherBatch is always true under ProcessingTimeTimeout
    * (wall-clock keeps advancing), so a Trigger.AvailableNow drain would
    * never terminate; batch-drain deployments must leave it None
    * (NoTimeout) and age keys out-of-band (Retention). At 100 TB key
    * cardinality the state store backs onto RocksDB via
    * spark.sql.streaming.stateStore.providerClass. */
  def changeDetect(spark: SparkSession, rows: Dataset[KeyedRow],
                   idleTimeout: Option[String] = None): Dataset[Change] = {
    import spark.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[KeyState, Change](OutputMode.Append, timeoutConf) {
        (key: String, it: Iterator[KeyedRow], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(Change(key, st.lastHash, "expired", st.changes))
          } else {
            val (st, out) = transition(key, state.getOption, it)
            state.update(st)
            idleTimeout.foreach(state.setTimeoutDuration)
            out
          }
      }
  }

  /** [[changeDetect]] on the Spark-4-native transformWithState API: typed
    * ValueState per key, optional state TTL handled by the store itself
    * (no timeout batches — TTL eviction is silent, so no 'expired' rows),
    * and the arbitrary-state flexibility (list/map state, timers) the old
    * single-state flatMapGroupsWithState lacks. Requires the RocksDB state
    * store provider in streaming mode:
    * spark.sql.streaming.stateStore.providerClass =
    * org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider. */
  class ChangeDetectProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, KeyedRow, Change] {
    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState]("keyState",
        Encoders.product[KeyState], ttl)

    override def handleInputRows(key: String, rows: Iterator[KeyedRow],
                                 timerValues: TimerValues): Iterator[Change] = {
      val (st, out) =
        transition(key, if (state.exists()) Some(state.get()) else None, rows)
      state.update(st)
      out
    }
  }

  /** transformWithState variant of [[changeDetect]] (same semantics minus
    * the 'expired' emission — TTL eviction is store-side and silent).
    * A non-NONE TTL requires TimeMode.ProcessingTime (Spark's handle
    * rejects TTL registration in any other mode), so the mode is derived
    * from the ttl argument. */
  def changeDetectTws(spark: SparkSession, rows: Dataset[KeyedRow],
                      ttl: TTLConfig = TTLConfig.NONE): Dataset[Change] = {
    import spark.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    rows.groupByKey(_.key)
      .transformWithState(new ChangeDetectProcessor(ttl),
        timeMode, OutputMode.Append())
  }

  /** Sessionization with idle-gap timeout via the built-in session_window —
    * the streaming twin of SparkEntry q32's batch computation. */
  def sessionized(events: DataFrame, tsCol: String, watermark: String,
                  gap: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .select(col("user_id"), col("n_events"),
        col("session_start"), col("session_end"))
}

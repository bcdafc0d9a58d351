package graft.pipeline

import graft.functions.{Bpe, TextFns}
import graft.operators.{Dedup, Mixture, Packer, Pca, PrefixSum, QualityModel, Sharding, Similarity}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The training-corpus counterpart of [[DailyPipeline]]: one driver program
  * chaining the engine's LLM-data operators into the standard curation
  * sequence — text cleanup → quality gate → perplexity gate → exact dedup
  * → near-dup clustering → (optional) embedding-space semantic dedup,
  * full-dim or share-guarded PCA-reduced → substring rewrite → benchmark
  * decontamination → mixture sampling → sequence packing → shard layout
  * — with the same
  * per-stage [[DailyPipeline.StageResult]] summary contract (rows out +
  * wall-clock, failures recorded, fail-fast propagation). With
  * `bpeMerges > 0` the run additionally trains a BPE tokenizer on the
  * decontaminated corpus (stage "tokenizer", artifact persisted),
  * denominates the mixture budget and packing coordinates in REAL BPE
  * tokens, and materializes the packed token-id training sequences
  * themselves (stage "pack_ids" → `s8b_packed_ids`).
  *
  * Stages communicate through parquet under `outDir` (`s0_clean` …
  * `s9_shards`, rejects kept beside them with a `drop_reason`), mirroring
  * the reference's staged file lake and the shape real curation runs take:
  * each stage is independently restartable, auditable, and its output is
  * the next run's input. At 100 TB that materialization is the point, not
  * overhead — every stage boundary is a resume point and a place to
  * inspect what was dropped and why.
  *
  * Scale notes are owned by the operators themselves (each stage is a thin
  * composition of an already-measured primitive — see SCALING_r07_newops
  * / SCALING_r06 for slopes); the pipeline adds no shuffle of its own
  * beyond the per-stage writes. */
object CorpusPipeline {

  import DailyPipeline.{PipelineFailedException, StageResult}

  /** Curation knobs. Defaults match the oracled per-operator configs. */
  final case class Config(
      // URL-level dedup FIRST stage (None = off): the RefinedWeb
      // pre-dedup — normalize the named URL column
      // (graft.operators.UrlDedup rules) and keep one doc per canonical
      // URL (minimum doc_id) BEFORE any text processing: one
      // short-string groupBy removes whole re-crawls at the cheapest
      // possible point. Docs with a null URL pass through (no metadata
      // is not a duplicate).
      urlCol: Option[String] = None,
      // keep-BEST URL dedup (r16 verdict): when set (and urlCol is on),
      // the url_dedup stage keeps, per canonical URL, the row with the
      // MAXIMUM value of this numeric column (e.g. a fetch timestamp —
      // production RefinedWeb keeps the newest crawl), min-id tie-break,
      // instead of the plain minimum-id keep.
      urlPriorityCol: Option[String] = None,
      minTokens: Long = 10L,
      minQuality: Double = 0.3,
      // language allow-list for the quality stage's marker-argmax gate
      // (q36's predictor): empty = gate off. Production pipelines filter
      // to target languages before spending dedup/LM compute on docs
      // they will not train on.
      langAllow: Seq[String] = Nil,
      // None => the marker-argmax predictor (q36) decides `lang`;
      // Some(model) => the TRAINED char-n-gram classifier (q112,
      // QualityModel.trainLangId) decides — the fastText-shaped
      // production gate, trained offline on a labeled seed set and
      // passed in as a frozen model (weights ride the plan as
      // literals; the gate stays one zero-shuffle scan either way)
      langIdModel: Option[graft.operators.QualityModel.LangIdModel] = None,
      numHashes: Int = 64,
      bands: Int = 32,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000,
      // SEMANTIC dedup stage (0 = off): embedding-space near-dup removal
      // (q70's SemDeDup operator) after the MinHash stage — MinHash sees
      // shared SURFACE n-grams, SemDeDup sees paraphrases and
      // re-renderings that share no shingles. Needs the `embeddings`
      // frame passed to run(); docs without a vector pass through
      // un-deduped (they cannot be compared, and dropping them for
      // missing metadata would be a silent corpus hole).
      semCentroids: Int = 0,
      semThresholdNum: Int = 3,
      semThresholdDen: Int = 10,
      // true = the PRODUCTION clustering config (q70's bench twin):
      // k-means++ init + converged Lloyd iterations before the tiled
      // self-join, so cluster occupancy is balanced and pair volume
      // tracks true neighborhoods. false = deterministic seed centroids
      // (the q70 oracle config — replayable in SQL, but skewed clusters
      // at scale make the within-cluster self-join the bottleneck).
      semConverge: Boolean = false,
      embedScale: Int = 1000,
      // pcaP > 0 = run semantic dedup in PCA-REDUCED space (the q119
      // composition): train on the stage's own live vectors, project,
      // dedup over p dims at p/dim of the per-pair dot cost. GUARDED by
      // the measured soundness precondition: varianceShare(pcaP) must
      // reach pcaMinShare or the stage FAILS LOUDLY — the r14 A/B
      // (scaling/r14/pca_semdedup_ab.json) measured a 62%-share
      // reduction over-flagging 39733/40000 where the full space flags
      // 229, while a 98%-share reduction agrees 99.94%. embedDim must
      // state the vector width when pcaP > 0 (the trainer's covariance
      // is allocated dim², and a ragged column fails loudly inside
      // Pca.train).
      pcaP: Int = 0,
      pcaMinShare: Double = 0.9,
      embedDim: Int = 0,
      spanTokens: Int = 8,
      // decontamination n-gram length: deliberately LONGER than the
      // dedup shingles — contamination means verbatim leakage of eval
      // text, and the literature matches on 8-13-grams (short n-grams
      // over a small vocabulary flag everything; measured here: 3-grams
      // marked 99% of the generated corpus contaminated, 8-grams the
      // realistic verbatim minority)
      decontamTokens: Int = 8,
      // perplexity gate band under the corpus-trained unigram LM (q76):
      // docs above maxXent nats/token are hapax noise (random strings,
      // OCR junk); below minXent are degenerate repetition. The CCNet
      // recipe calibrates these against the corpus distribution — the
      // defaults are permissive production starting points, and the tiny
      // spec corpora pass explicit bands (see CorpusPipelineSpec).
      minXent: Double = 0.0,
      maxXent: Double = 12.0,
      // LM order for the perplexity gate: 1 = add-one unigram (q76),
      // 2 = interpolated add-one bigram (q106 — the real CCNet shape:
      // KenLM is an n-gram model; a unigram bag cannot see degenerate
      // repetition like "the the the"). Both score through the
      // collected-local-LM inline column; same xent band applies.
      // 3 = interpolated add-one trigram (q114/q117), sampled-frozen
      // mode ONLY (pplSampleMod > 0): the exact self-trained order-3
      // gate would collect/exchange a distinct-trigram frame that grows
      // super-linearly on an open-vocabulary corpus.
      pplLmOrder: Int = 1,
      // 0 = the gate LM trains on the WHOLE corpus (exact, the oracled
      // q76/q106 semantics — but the order-2 distinct-bigram frame grows
      // ~linearly with an open-vocabulary corpus, so self-training the
      // bigram gate costs a pair-stream exchange per run). > 0 = the
      // CCNet deployment shape: the LM trains on the deterministic
      // xxhash64(doc_id) % mod == 0 slice, freezes, and the WHOLE
      // corpus scores through the zero-shuffle frozen kernel with
      // count-0 OOV pricing (unigram) / count-0 interpolation (bigram).
      // O(corpus/mod) training, O(corpus) scoring, no corpus-sized
      // count-frame exchange — the shape that survives 100 TB. Scores
      // differ from the self-trained LM's (different training set), so
      // the xent band should be calibrated per choice; opt-in.
      pplSampleMod: Int = 0,
      // KenLM-style count pruning for the sampled-frozen ORDER-2 gate:
      // bigrams below this count drop from the frozen table and score
      // as unseen (count-0 interpolation). Singletons are ~90% of an
      // open-vocabulary sample's bigram table and carry the least
      // signal — pruning them made the rich32 frozen bigram gate cost
      // the same as the unigram one (11.3 vs 11.7 s min, vs 21.4
      // unpruned and 89.7 self-trained exact;
      // scaling/r14/pplab_rich32.json). Ignored unless
      // pplSampleMod > 0 and pplLmOrder >= 2 (at order 3 the same knob
      // prunes the TRIGRAM table; the bigram/unigram backoff tables
      // stay exact).
      pplMinBigramCount: Long = 1L,
      budgetTokens: Long = 1000000L,
      seqLen: Int = 2048,
      shardSize: Long = 100000L,
      // 0 = word-denominated budgets (the legacy/word anchors). > 0 =
      // the pipeline gains a "tokenizer" stage: a BPE merge table of
      // this size is trained ON the decontaminated corpus (the text the
      // model will actually see), persisted as the versioned artifact
      // under outDir/tokenizer, and everything downstream of
      // it is denominated in REAL tokenizer tokens — the mixture budget,
      // the packing coordinates, and a final "pack_ids" stage that
      // materializes the training file itself (s8b_packed_ids: packed
      // seqLen-sized token-id sequences via [[graft.operators.Packer]]).
      // Upstream gates (quality minTokens, span windows, decontam
      // n-grams) stay word-denominated on purpose: they act on surface
      // text before a tokenizer exists, and training the tokenizer on
      // pre-curation text would bake noise into the vocabulary.
      bpeMerges: Int = 0,
      bpeMinCount: Long = 2L,
      // word model of the trained tokenizer — EITHER family (r17: the
      // flag governs the unigram stage too). true (default) = the
      // FAITHFUL model: case- and whitespace-preserving GPT-2-style
      // pretokens, UNMARKED open vocabulary — the packed training file
      // (s8b_packed_ids) decodes back to the EXACT curated document
      // text, byte for byte (the r12 verdict's fidelity gap: the
      // lowercasing word model could only ever reproduce a monocase
      // single-spaced word stream). false = the legacy marked word
      // model (kept for comparability with the r11/r12 anchors).
      bpeFaithful: Boolean = true,
      // UNIGRAM tokenizer family (r16 verdict #1c — the pipeline could
      // only train BPE): unigramVocabSize > 0 selects the unigram-LM
      // tokenizer for the "tokenizer" stage instead of BPE — same
      // downstream wiring (mixture budget, packing coordinates,
      // pack_ids training file) through the family-agnostic
      // [[graft.functions.Tokenizers.Tok]] interface; the packed file
      // stores the MARKED byte-fallback id stream
      // ([[graft.functions.UnigramLm.tokenIdsMarked]]), decodable to
      // the word model exactly like BPE's marked stream. Mutually
      // exclusive with bpeMerges > 0 (one tokenizer per run).
      unigramVocabSize: Int = 0,
      unigramSeedSize: Int = 400,
      unigramEmRounds: Int = 2) {
    require(!(bpeMerges > 0 && unigramVocabSize > 0),
      "bpeMerges and unigramVocabSize are mutually exclusive — one " +
        "tokenizer family per run (ship two runs for an A/B)")
    require(pplLmOrder >= 1 && pplLmOrder <= 3,
      s"pplLmOrder must be 1 (unigram), 2 (bigram) or 3 (trigram, " +
        s"sampled-frozen mode only), got $pplLmOrder")
    require(pplSampleMod >= 0,
      s"pplSampleMod must be >= 0, got $pplSampleMod")
    require(pplLmOrder < 3 || pplSampleMod > 0,
      "pplLmOrder=3 requires pplSampleMod > 0: the self-trained exact " +
        "trigram gate would pay a distinct-TRIGRAM frame that grows " +
        "super-linearly on an open-vocabulary corpus (the order-2 " +
        "lesson, worse); the deployment shape is sample-train + frozen " +
        "scoring (q117)")
    /** The "tokenizer" stage (and everything token-denominated after
      * it) runs when EITHER family is selected. */
    def tokenizerOn: Boolean = bpeMerges > 0 || unigramVocabSize > 0
  }

  /** Runs the full curation sequence over `docs` (doc_id, text, source).
    * `benchmark` is the decontamination reference (any frame with a text
    * column). Returns the per-stage summary; artifacts land under
    * `outDir`. */
  def run(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
          outDir: String, cfg: Config = Config(),
          embeddings: Option[DataFrame] = None): Seq[StageResult] = {
    require(cfg.semCentroids == 0 || embeddings.nonEmpty,
      "semCentroids > 0 turns the semantic-dedup stage on, which needs " +
        "the embeddings frame (doc_id, embedding) passed to run()")
    require(cfg.pcaP == 0 || cfg.semCentroids > 0,
      "pcaP > 0 only acts through the semantic-dedup stage — set " +
        "semCentroids > 0 (or drop pcaP)")
    require(cfg.pcaP == 0 || cfg.embedDim >= cfg.pcaP,
      s"pcaP=${cfg.pcaP} needs embedDim >= pcaP stating the vector " +
        s"width, got embedDim=${cfg.embedDim}")
    val results = Seq.newBuilder[StageResult]
    val runT0 = System.nanoTime()

    def stage(name: String)(body: => Long): Unit = {
      val (r, err) = DailyPipeline.timed(runT0, name, () => body)
      results += r
      err.foreach(e => throw new PipelineFailedException(results.result(), e))
    }

    def write(df: DataFrame, name: String): Long = {
      df.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name")
      // run-summary count measured from what LANDED on disk, but from
      // the parquet footers (block metadata) — no re-scan job per stage
      graft.util.ArtifactIO.footerRowCount(spark, s"$outDir/$name")
    }
    // the schema comes from the stage output's own footer: no
    // schema-inference job per read
    def read(name: String): DataFrame = {
      val path = s"$outDir/$name"
      spark.read.schema(graft.util.ArtifactIO.tableSchema(spark, path)).parquet(path)
    }

    cfg.urlCol.foreach { uc =>
      stage("url_dedup") {
        require(docs.columns.contains(uc),
          s"urlCol='$uc' is not a column of the input frame " +
            s"(${docs.columns.mkString(",")})")
        cfg.urlPriorityCol.foreach { pc =>
          require(docs.columns.contains(pc),
            s"urlPriorityCol='$pc' is not a column of the input frame " +
              s"(${docs.columns.mkString(",")})")
        }
        val withCanon = docs.withColumn("__canon",
          graft.operators.UrlDedup.normalizeUrl(col(uc)))
        // plain keep = min id; keep-best = argmax(priority), min-id
        // tie-break, null priorities never win (UrlDedup.dedupByUrlKeepBest
        // semantics, inlined here because the stage also writes rejects)
        val keep = cfg.urlPriorityCol match {
          case None =>
            withCanon.filter(col("__canon").isNotNull)
              .groupBy(col("__canon")).agg(min(col("doc_id")).as("__keep"))
          case Some(pc) =>
            withCanon.filter(col("__canon").isNotNull)
              .groupBy(col("__canon"))
              .agg(min(when(col(pc).isNotNull,
                  struct((col(pc) * lit(-1)).as("np"),
                    col("doc_id").as("bid")))).as("__b"),
                min(col("doc_id")).as("__minid"))
              .select(col("__canon"),
                coalesce(col("__b.bid"), col("__minid")).as("__keep"))
        }
        val joined = withCanon.join(keep, Seq("__canon"), "left")
        write(joined
          .filter(col("__canon").isNotNull && col("doc_id") =!= col("__keep"))
          .select(docs.columns.map(col).toSeq: _*)
          .withColumn("drop_reason", lit("url_duplicate")), "rejects_url")
        write(joined
          .filter(col("__canon").isNull || col("doc_id") === col("__keep"))
          .select(docs.columns.map(col).toSeq: _*), "s_url")
      }
    }

    stage("clean") {
      // mojibake repair + control strip + whitespace canonicalization
      // (q83): a zero-exchange rewrite of the text column, BEFORE any
      // scoring — a doc whose quality signals were computed on garbled
      // text gates wrong. Rows whose text empties out entirely are the
      // only drops.
      val cleanIn = if (cfg.urlCol.isDefined) read("s_url") else docs
      val cleaned = cleanIn.select(col("doc_id"),
        TextFns.cleanText(col("text")).as("text"), col("source"))
      write(cleaned.filter(length(col("text")) === 0)
        .withColumn("drop_reason", lit("empty_after_clean")), "rejects_clean")
      write(cleaned.filter(length(col("text")) > 0), "s0_clean")
    }

    stage("quality") {
      val in = read("s0_clean")
      // langAllow nonempty => the language gate rides the SAME pass:
      // docs outside the allow-list drop as wrong_language, kept docs
      // carry the `lang` audit column (QualityModel.gate). Empty list =
      // gate off, schema unchanged.
      val gated = QualityModel.gate(
        in.select(col("doc_id"), col("text"), col("source"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFns.qualityScore(col("text")).as("quality")),
        "text", minTokens = Some(cfg.minTokens),
        minQuality = Some(cfg.minQuality), langAllow = cfg.langAllow,
        langId = cfg.langIdModel)
      write(gated.filter(col("drop_reason").isNotNull), "rejects_quality")
      write(gated.filter(col("drop_reason").isNull)
        .drop("drop_reason"), "s1_quality")
    }

    stage("ppl_gate") {
      val in = read("s1_quality")
      // LM trained on the post-quality corpus itself (one word-count
      // shuffle, then the collected local LM scores IN PLACE — no
      // corpus×corpus join to re-attach xent; see withUnigramXent);
      // xent rides along as an audit column until span_rewrite
      // re-projects.
      val scored =
        if (cfg.pplSampleMod > 0) {
          // sampled-frozen gate (see Config.pplSampleMod): train on the
          // hash slice, score everything through the frozen kernel
          val sample = in.filter(
            pmod(xxhash64(col("doc_id")), lit(cfg.pplSampleMod)) === 0)
          if (cfg.pplLmOrder == 3)
            in.withColumn("xent", QualityModel.frozenTrigramXent(col("text"),
              QualityModel.trainTrigramLm(sample, "text",
                minTrigramCount = cfg.pplMinBigramCount)))
          else if (cfg.pplLmOrder == 2)
            in.withColumn("xent", QualityModel.frozenBigramXent(col("text"),
              QualityModel.trainBigramLm(sample, "text",
                minBigramCount = cfg.pplMinBigramCount)))
          else
            in.withColumn("xent", QualityModel.frozenXent(col("text"),
              QualityModel.trainUnigramLm(sample, "text")))
        }
        else if (cfg.pplLmOrder == 2) QualityModel.withBigramXent(in, "doc_id", "text")
        else QualityModel.withUnigramXent(in, "doc_id", "text")
      val gated = QualityModel.gate(scored, "text",
          xentBand = Some((cfg.minXent, cfg.maxXent)))
        // persist across the rejects/keep split: predicate pushdown
        // otherwise substitutes the xent definition into each write's
        // filter AND projection — 4 scorer evaluations of the corpus
        // for one gate (measured 43 s vs 15 at rich32). Serialized
        // blocks, spill-safe; freed before the stage returns.
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      try {
        write(gated.filter(col("drop_reason").isNotNull), "rejects_ppl")
        write(gated.filter(col("drop_reason").isNull)
          .drop("drop_reason"), "s2_ppl")
      } finally gated.unpersist()
    }

    stage("exact_dedup") {
      val in = read("s2_ppl")
      val keep = Dedup.exact(in, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      write(in.join(keep, Seq("doc_id"), "left_semi"), "s3_exact")
    }

    stage("near_dedup") {
      val in = read("s3_exact")
      val comps = Dedup.dedupClusters(in, "doc_id", "text",
        cfg.numHashes, cfg.bands, cfg.shingleN, cfg.threshold,
        cfg.maxBucketSize)
      write(in.join(comps.filter(col("doc_id") === col("canonical_id"))
        .select(col("doc_id")), Seq("doc_id"), "left_semi"), "s4_neardup")
    }

    if (cfg.semCentroids > 0) stage("sem_dedup") {
      val in = read("s4_neardup")
      // only the docs still alive carry into the index; docs WITHOUT an
      // embedding pass through (no vector = no comparison, and dropping
      // for missing metadata would be a silent corpus hole — their count
      // is auditable as in-rows minus index rows)
      val live = embeddings.get.select(col("doc_id"), col("embedding"))
        .join(in.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val (vecCol, indexed) =
        if (cfg.pcaP > 0) {
          // materialize the live frame ONCE: the trainer's covariance
          // reads it twice (both moment frames) and the projection a
          // third time — re-paying the semi-join under a 4096-way
          // coordinate-pair explode each time (measured ~2 s of the
          // stage at the 80k A/B point)
          write(live, "s4b_sem_live")
          val liveP = read("s4b_sem_live")
          val model = Pca.train(liveP, "embedding", cfg.embedDim, cfg.pcaP,
            cfg.embedScale)
          val share = model.varianceShare(cfg.pcaP)
          // the measured failure mode is catastrophic over-flagging, so
          // an insufficient spectrum is a HARD stop, not a warning
          require(share >= cfg.pcaMinShare,
            f"PCA-${cfg.pcaP} captures only $share%.4f of the embedding " +
              f"variance < pcaMinShare=${cfg.pcaMinShare}%.4f — reducing " +
              "here over-flags catastrophically (the r14 A/B: 62%% share " +
              "flagged 39733/40000 where the full space flags 229); raise " +
              "pcaP, or run the full space (pcaP = 0)")
          ("pca_vec", Pca.withProjection(liveP, "embedding", model, "pca_vec")
            .select(col("doc_id"), col("pca_vec")))
        } else ("embedding", live)
      // MATERIALIZE the (projected) index once — the q119 lesson: the
      // projection expression riding un-materialized through semDedup's
      // k-means iterations measured 8x recompute amplification. A stage
      // boundary write is the pipeline-native materialization
      // (restartable + auditable like every other stage artifact).
      write(indexed, "s4b_sem_index")
      val index = read("s4b_sem_index")
      val centroids =
        if (!cfg.semConverge) None
        else {
          val init = graft.operators.KMeansInt.kmeansPlusPlusInit(index,
            "doc_id", vecCol, cfg.semCentroids, scale = cfg.embedScale)
          Some(graft.operators.KMeansInt.converge(index, "doc_id", vecCol,
            init, scale = cfg.embedScale, maxIters = 8)._1)
        }
      val flagged = Similarity.semDedup(index, "doc_id",
          vecCol, nCentroids = cfg.semCentroids,
          thresholdNum = cfg.semThresholdNum,
          thresholdDen = cfg.semThresholdDen, scale = cfg.embedScale,
          centroids = centroids)
        .filter(!col("kept")).select(col("doc_id"), col("dup_of"))
      write(in.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_semi")
        .withColumn("drop_reason", lit("semantic_duplicate")),
        "rejects_semdedup")
      write(in.join(flagged.select(col("doc_id")), Seq("doc_id"), "left_anti"),
        "s4c_semdedup")
    }
    // span_rewrite consumes the semantic stage's output when it ran
    val afterNearDup = if (cfg.semCentroids > 0) "s4c_semdedup" else "s4_neardup"

    stage("span_rewrite") {
      val in = read(afterNearDup)
      val rewritten = Dedup.removeDuplicateSpans(in, "doc_id", "text",
          cfg.spanTokens, hashWindows = true)
        .select(col("doc_id"), col("kept_text").as("text"),
          (col("n_tokens") - col("n_removed")).cast("long").as("n_tokens"))
      write(in.select(col("doc_id"), col("source"))
        .join(rewritten, Seq("doc_id"))
        .filter(col("n_tokens") >= cfg.minTokens), "s5_rewritten")
    }

    stage("decontaminate") {
      val in = read("s5_rewritten")
      val benchShingles = Dedup.shingleSets(benchmark
          .withColumn("__bid", monotonically_increasing_id()),
          "__bid", "text", cfg.decontamTokens)
        .select(explode(col("shset")).as("sh")).distinct()
      val docShingles = Dedup.shingleSets(in, "doc_id", "text", cfg.decontamTokens)
        .select(col("doc_id"), explode(col("shset")).as("sh"))
      val contaminated = docShingles
        .join(broadcast(benchShingles), Seq("sh"))
        .select(col("doc_id")).distinct()
      write(in.join(contaminated, Seq("doc_id"), "left_anti"), "s6_clean")
    }

    // Trained in the "tokenizer" stage and consumed by every stage after
    // it; a failed tokenizer stage aborts the run before they start.
    var tok: graft.functions.Tokenizers.Tok = null
    if (cfg.tokenizerOn) stage("tokenizer") {
      val in = read("s6_clean")
      if (cfg.unigramVocabSize > 0) {
        // UNIGRAM family: one word-count shuffle + driver-local hard-EM
        // (UnigramLm.train); the artifact persists ALL rounds, so a
        // reload is bit-equal and the induction replay stays possible.
        // bpeFaithful selects the WORD MODEL for either family (r17):
        // true = case/whitespace-preserving pretokens, flat decodable
        // stream reconstructing the EXACT curated text; false = the
        // lowercasing marked word model.
        val model = graft.functions.UnigramLm.train(in, "text",
          cfg.unigramSeedSize, cfg.unigramVocabSize, cfg.unigramEmRounds,
          faithful = cfg.bpeFaithful)
        graft.functions.UnigramLm.save(spark, model, s"$outDir/tokenizer")
        tok = graft.functions.Tokenizers.UnigramTok(model)
        model.pieces.size.toLong
      } else {
        val model =
          if (cfg.bpeFaithful) Bpe.ModelFaithful else Bpe.ModelWordMarked
        val merges = Bpe.trainMergesLocal(in, "text", cfg.bpeMerges,
          cfg.bpeMinCount, faithful = cfg.bpeFaithful)
        // OPEN vocabulary either way (byte-fallback layout, ids 0..255
        // reserved for UTF-8 bytes): the PERSISTED artifact must encode
        // any future batch — one day-2 code point the training corpus
        // lacked must tokenize as its bytes, not kill the ingest job.
        //  - faithful: UNMARKED — pretokens carry their own case and
        //    whitespace, so the flat id stream already decodes to the
        //    exact text;
        //  - word model: MARKED (every token + its word-initial twin, the
        //    GPT-2 device) — without the marker the flat stream is not
        //    decodable at all.
        val vocab =
          if (cfg.bpeFaithful)
            Bpe.vocabBytesFrom(Bpe.vocab(in, "text", merges, faithful = true))
          else Bpe.vocabMarkedBytes(in, "text", merges)
        // unified artifact layout ($outDir/tokenizer/{merges,vocab,meta}) —
        // the same path curateStream's tokenizerPath loads (r12 ADVICE)
        Bpe.saveTokenizer(spark, merges, vocab, s"$outDir/tokenizer", model)
        tok = graft.functions.Tokenizers.BpeTok(
          Bpe.Tokenizer(merges, vocab, model))
        merges.size.toLong
      }
    }

    stage("mixture") {
      val in0 = read("s6_clean")
      // tokenizerOn: the budget below means what a training run means
      // by "tokens" — re-denominate with the in-scan encode expression
      val in = if (cfg.tokenizerOn) in0.withColumn("n_tokens", tok.nTokens(col("text")))
        else in0
      // equal per-source weights: budget splits evenly across the sources
      // present (the q64 machinery with weight=1 for each)
      val nSources = in.select(col("source")).distinct().count()
      val sampled = Mixture.tokenBudgetSampleOn(in, "doc_id", "source",
        "n_tokens", weightCol = lit(1L), weightTotal = math.max(1L, nSources),
        budgetTokens = cfg.budgetTokens)
      write(sampled.select(col("doc_id"), col("text"), col("source"),
        col("n_tokens")), "s7_mixture")
    }

    stage("pack") {
      val in = read("s7_mixture")
      val packed = PrefixSum.withRunningTotal(spark,
          in.select(col("doc_id"), col("source"), col("n_tokens")),
          "doc_id", "n_tokens", "cum_tokens")
        .filter(col("n_tokens") > 0)
        .selectExpr("doc_id", "source", "n_tokens", "cum_tokens",
          s"(cum_tokens - n_tokens) div ${cfg.seqLen} as seq_first",
          s"(cum_tokens - 1) div ${cfg.seqLen} as seq_last",
          s"(cum_tokens - n_tokens) % ${cfg.seqLen} as tok_offset")
      write(packed, "s8_packed")
    }

    if (cfg.tokenizerOn) stage("pack_ids") {
      // the training file itself: s7's documents encoded over the
      // tokenizer-stage vocabulary (s7 ⊆ s6, so every symbol is covered
      // and the id stream length == tokenCount under BPE; the unigram
      // marked stream can spend extra BYTE ids on out-of-alphabet code
      // points — none exist here, s7 ⊆ the training corpus — so the
      // coordinates of s8_packed address this stream exactly either
      // way) and packed into seqLen-sized sequences. Decodable by
      // construction — under faithful BPE Bpe.decodeIdsFlat over a
      // doc's coordinate slice reconstructs the EXACT curated text
      // (case, whitespace, bytes); under the marked word models (BPE
      // legacy, unigram) Tok.decodeIds reconstructs the word-model
      // text (CorpusPipelineSpec pins all three end to end).
      val in = read("s7_mixture")
      val ids = in.select(col("doc_id"), tok.encodeIds(col("text")).as("ids"))
      write(Packer.packTokenIds(spark, ids, "doc_id", "ids",
        cfg.seqLen.toLong), "s8b_packed_ids")
    }

    stage("shard") {
      // the trainer-facing layout (q74): deterministic md5 permutation of
      // the mixture output, cut into fixed-size shards, one directory per
      // shard with rows in permutation order. Reads s7_mixture (documents),
      // not s8_packed (token bookkeeping) — the two are parallel views of
      // the same curated set.
      val in = read("s7_mixture")
      Sharding.writeShards(spark, in, "doc_id", cfg.shardSize,
        s"$outDir/s9_shards")
      graft.util.ArtifactIO.footerRowCount(spark, s"$outDir/s9_shards")
    }

    results.result()
  }
}

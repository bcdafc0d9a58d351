package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import org.apache.spark.sql.types.{IntegerType => ITyp, LongType => LTyp, StringType => STyp}

/** Model-based quality scoring — the two standard "learned filter" shapes
  * of LLM data curation, next to q35's hand-crafted heuristics:
  *
  *  1. [[hashedLinearScore]] — a fastText-style linear classifier over
  *     hashed bag-of-token features (the CCNet / LLaMA-pipeline quality
  *     classifier shape): each token hashes into one of 2^bits buckets,
  *     the bucket's weight is looked up, and the document's score is the
  *     mean weight pushed through a sigmoid. Embarrassingly parallel —
  *     zero exchanges, pure per-row expression over the scan.
  *
  *  2. [[unigramCrossEntropy]] — perplexity-based filtering (the CCNet /
  *     KenLM step, reduced to the model the engine can train in one pass):
  *     a corpus-wide add-one-smoothed unigram LM, then each document's
  *     per-token cross-entropy under it. Low-perplexity ≈ fluent text;
  *     extreme tails are boilerplate or noise.
  *
  * Determinism contract (both): per-token terms are quantized to integer
  * fixed-point BEFORE aggregation, so every sum is an exact integer sum —
  * associative, order-independent, identical across Spark partitionings
  * and the DuckDB oracle. Floating-point enters only once, in the final
  * per-document division, with an explicit ROUND. (A double sum over a
  * shuffled groupBy would be order-nondeterministic — the same discipline
  * as q61's long token counts.)
  *
  * 100 TB design notes in each method's doc.
  */
object QualityModel {

  /** Hash of `s` into [0, 2^32): first 8 hex chars of md5, engine-portable
    * (DuckDB spells it `CAST('0x'||substr(md5(s),1,8) AS BIGINT)`). */
  private def h32(s: Column): Column =
    conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Broadcast memo for kernel weight tables, keyed by table/model
    * INSTANCE (weak keys — entries die with the model object, and the
    * ContextCleaner reclaims the broadcast). Before r16 every Column
    * construction broadcast a fresh copy — in a long-running stream
    * the per-micro-batch language gate accumulated one K×2^bits table
    * per batch (r15 ADVICE). Entries are re-made if the owning
    * SparkContext changed (test suites stop/start sessions; a broadcast
    * from a stopped context is unusable). */
  private val bcCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef,
      (org.apache.spark.SparkContext, org.apache.spark.broadcast.Broadcast[_])]())

  private def cachedBroadcast[T: scala.reflect.ClassTag](
      key: AnyRef, make: => T): org.apache.spark.broadcast.Broadcast[T] = {
    val sc = SparkSession.active.sparkContext
    bcCache.synchronized {
      bcCache.get(key) match {
        case (owner, bc) if (owner eq sc) && !sc.isStopped =>
          bc.asInstanceOf[org.apache.spark.broadcast.Broadcast[T]]
        case _ =>
          val bc = sc.broadcast(make)
          bcCache.put(key, (sc, bc))
          bc
      }
    }
  }

  /** Memo of [[derivedWeightTable]] as longs per `bits` — a stable
    * key/table instance so [[hashedLinearScore]]'s repeated Column
    * constructions share one broadcast (fresh arrays per call would
    * defeat the instance-keyed [[bcCache]]). */
  private val derivedLongTables =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Long]]

  /** Integer weight of feature bucket `b` in [-1000, 1000]: derived from
    * md5 of the bucket id so the oracle can replay it. A TRAINED model
    * replaces this with a literal weight array — see
    * [[hashedLinearScoreWeights]], which is plan-identical (the array is
    * inlined into codegen, no broadcast join, no UDF). */
  private def bucketWeightInt(b: Column): Column =
    h32(concat(lit("w:"), b.cast("string"))) % 2001 - 1000

  /** The hashed feature stream of a document: its tokens, and for
    * `wordNgrams >= 2` additionally its word BIGRAMS as
    * space-joined strings — fastText's actual recipe (`-wordNgrams 2`),
    * which lets the linear model see phrase signals a bag of unigrams is
    * blind to ("new york" vs "york new" hash to different buckets; the
    * unigram bags are identical). The bigram string cannot collide with
    * a unigram feature: tokens are whitespace-split, so no token
    * contains the joining space. Derived IN the scan (zip_with of two
    * slices) — still a pure Column expression, no shuffle. */
  private def featureStream(text: Column, wordNgrams: Int): Column = {
    require(wordNgrams >= 1 && wordNgrams <= 2,
      s"wordNgrams must be 1 or 2, got $wordNgrams")
    val toks = TextFns.tokens(text)
    if (wordNgrams == 1) toks
    else {
      val sz = org.apache.spark.sql.functions.size(toks)
      val grams = when(sz >= 2,
        zip_with(slice(toks, lit(1), sz - 1), slice(toks, lit(2), sz - 1),
          (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>"))
      concat(toks, grams)
    }
  }

  /** fastText-style hashed linear score of `text` with 2^bits feature
    * buckets: sigmoid( mean over features of w[bucket(feature)] / 1000 ).
    * Features are tokens, plus word bigrams at `wordNgrams = 2` (the
    * fastText `-wordNgrams` switch — see [[featureStream]]); `n_tokens`
    * then counts FEATURES (tokens + bigrams), keeping the score a true
    * mean. Returns a struct `(n_tokens, w_sum, score)`; `w_sum` is the
    * exact integer weight sum (the auditable raw margin), `score` is
    * rounded to 6 places. Empty docs score NULL (no tokens, no
    * evidence).
    *
    * 100 TB: a pure Column expression — tokenize, two md5s per feature,
    * an integer `aggregate` — all Catalyst builtins inside the scan's
    * codegen span; no shuffle, no UDF, no state. Scoring cost is linear
    * in corpus tokens and trivially partition-parallel. */
  def hashedLinearScore(text: Column, bits: Int, seed: String,
                        wordNgrams: Int = 1): Column = {
    require(bits > 0 && bits <= 30, s"bits must be in [1,30], got $bits")
    // bits <= 21: the md5-derived table is PRECOMPUTED (derivedWeightTable)
    // and probed by the native kernel — one md5 per feature instead of
    // two, no HOF fold (see hashedScoreStruct). Bit-identical to the fold
    // (QualityModelSpec pins it; the q75 oracle hash pins it cross-engine).
    // bits > 21: a dense 2^bits-long table is too large to precompute/
    // broadcast — fall back to the fold, which derives each bucket's
    // weight from md5 in-expression (same arithmetic, no table at all).
    // Automatic, not an error: the documented [1,30] domain holds on
    // every path (r15 ADVICE — the old require pointed callers at a
    // private method).
    if (bits <= 21) {
      val table = derivedLongTables.getOrElseUpdate(bits,
        derivedWeightTable(bits).map(_.toLong))
      hashedScoreStruct(text, seed, 1 << bits, wordNgrams == 2, table, table)
    } else hashedLinearScoreFold(text, bits, seed, wordNgrams)
  }

  /** The Column-composition fold [[hashedLinearScore]] replaced — kept
    * as the spec-pinned parity reference for the native kernel (HOFs are
    * CodegenFallback and re-evaluate under multi-field extraction, the
    * q112 lesson; and the fold pays TWO md5s per feature where the
    * kernel probes a precomputed table with one). */
  private[graft] def hashedLinearScoreFold(text: Column, bits: Int, seed: String,
                                           wordNgrams: Int = 1): Column = {
    require(bits > 0 && bits <= 30, s"bits must be in [1,30], got $bits")
    val toks = featureStream(text, wordNgrams)
    val bucket = (t: Column) =>
      h32(concat(lit(seed), lit(":"), t)) % (1 << bits)
    val wSum = aggregate(
      transform(toks, t => bucketWeightInt(bucket(t))),
      lit(0L), (acc, x) => acc + x)
    val n = org.apache.spark.sql.functions.size(toks)
    val mean = wSum.cast("double") / (n.cast("double") * 1000.0)
    val score = round(lit(1.0) / (lit(1.0) + exp(-mean * 4.0)), 6)
    struct(
      n.cast("int").as("n_tokens"),
      wSum.as("w_sum"),
      when(n > 0, score).as("score"))
  }

  /** Shared kernel-probe scorer: (n_tokens, w_sum, score) from one
    * native [[graft.functions.HashedProbeExpr]] pass (tokens + word
    * bigrams when `bigrams`, one md5 each, broadcast-table probe, exact
    * long sum) with the sigmoid/rounding arithmetic of the fold applied
    * OUTSIDE the kernel — integer-only inside, so the two paths cannot
    * diverge. */
  private def hashedScoreStruct(text: Column, seed: String, nBuckets: Int,
                                bigrams: Boolean, key: AnyRef,
                                table: => Array[Long]): Column = {
    val bc = cachedBroadcast(key, table)
    val s = org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.HashedProbeExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(TextFns.tokens(text)),
        bc, seed, nBuckets, bigrams))
    val n = s.getField("n_feats")
    val wSum = s.getField("sum")
    val mean = wSum.cast("double") / (n.cast("double") * 1000.0)
    val score = round(lit(1.0) / (lit(1.0) + exp(-mean * 4.0)), 6)
    struct(
      n.cast("int").as("n_tokens"),
      wSum.as("w_sum"),
      when(n > 0, score).as("score"))
  }

  /** The trained-model variant: same features, weights from an explicit
    * array (index = bucket id) instead of the md5 derivation. The array
    * is inlined as a literal into the plan — at 2^bits ≤ 2^21 buckets of
    * integer weights this rides the closure/plan broadcast exactly like
    * fastText ships its quantized matrix; still zero exchanges.
    * QualityModelSpec proves it plan- and result-equal to
    * [[hashedLinearScore]] when fed that function's own weight table. */
  def hashedLinearScoreWeights(text: Column, bits: Int, seed: String,
                               weights: Array[Int],
                               wordNgrams: Int = 1,
                               featuresOf: Option[Column => Column] = None)
      : Column = {
    require(weights.length == (1 << bits),
      s"need ${1 << bits} weights, got ${weights.length}")
    featuresOf match {
      // default word/bigram features: the native kernel probe (one md5
      // per feature, broadcast table, no HOF fold). Broadcast keyed by
      // the caller's weights INSTANCE: a loaded model scores every
      // micro-batch through one broadcast, not one per batch.
      case None =>
        hashedScoreStruct(text, seed, 1 << bits, wordNgrams == 2,
          weights, weights.map(_.toLong))
      // custom featurization (e.g. BPE-piece features): the Column fold
      // — the kernel's tokenize+bigram shape cannot express it
      case Some(f) =>
        val toks = f(text)
        val wLit = typedlit(weights)
        val bucket = (t: Column) =>
          h32(concat(lit(seed), lit(":"), t)) % (1 << bits)
        val wSum = aggregate(
          transform(toks, t => element_at(wLit, (bucket(t) + 1).cast("int"))
            .cast("long")),
          lit(0L), (acc, x) => acc + x)
        val n = org.apache.spark.sql.functions.size(toks)
        val mean = wSum.cast("double") / (n.cast("double") * 1000.0)
        val score = round(lit(1.0) / (lit(1.0) + exp(-mean * 4.0)), 6)
        struct(
          n.cast("int").as("n_tokens"),
          wSum.as("w_sum"),
          when(n > 0, score).as("score"))
    }
  }

  /** IN-ENGINE TRAINER for the hashed linear quality classifier (the r12
    * verdict's missing piece: scoring existed, but the weights had to
    * arrive from outside the engine). Deterministic FULL-BATCH logistic
    * gradient descent over the exact feature/margin/score definitions
    * [[hashedLinearScore]]/[[hashedLinearScoreWeights]] evaluate — so the
    * trained table plugs straight into the scorer.
    *
    * Model (weights w_b are integers in [-1000, 1000], b = md5 bucket of
    * a token under `seed`): score(d) = sigmoid(4 · Σ_t w_{b(t)} /
    * (n_d · 1000)). Loss = mean logistic loss over the labeled frame.
    * One epoch:
    *  1. per-doc margin w_sum_d = Σ_b c_{d,b} · w_b — EXACT integer sum;
    *  2. per-doc error err6_d = ⌊(σ(4·w_sum_d/(n_d·1000)) − y_d)·10^6
    *     + 0.5⌋ — floating point enters ONCE per doc, immediately
    *     quantized, identical expression on both engines;
    *  3. per-bucket gradient G_b = Σ_d ⌊err6_d · c_{d,b}/n_d + 0.5⌋ —
    *     integer sum of integer-quantized per-(doc,bucket) terms, so the
    *     shuffle order can never change the result;
    *  4. driver-side update w_b ← clamp(w_b − ⌊(G_b·lrMyriad)·4 /
    *     (N·10^7) + 0.5⌋, ±1000) over the collected 2^bits gradient rows.
    * Every constant above is replayed verbatim by the q105 oracle, which
    * re-derives the ENTIRE training run (all epochs, from zero weights)
    * in DuckDB CTEs — a hash match on the final table proves the trainer
    * step-for-step, the q87 induction discipline applied to GD.
    *
    * Full-batch (not per-example SGD) on purpose: SGD's result depends on
    * example ORDER, which a distributed engine cannot (and should not)
    * pin cheaply; full-batch GD is order-independent by construction,
    * embarrassingly parallel, and each epoch costs ONE job — a margin+
    * error scan over the packed per-doc frame feeding the bucket-keyed
    * gradient aggregate + one ≤ 2^bits-row collect.
    *
    * 100 TB: labeled seed frames are SMALL by nature (curated
    * positives/negatives — the fastText recipe trains on thousands to
    * millions of examples, not the corpus); the doc-keyed feature frame
    * is persisted once (one tokenize+hash pass), each epoch reuses it,
    * and the epoch's weight tables ride ONE broadcast probed by the
    * native [[graft.functions.BucketDotExpr]] kernel — fetched once per
    * executor, never deserialized per task (the FrozenBigramTables
    * lesson, applied to the trainer by the r15 verdict's #3). */
  def trainHashedLogistic(df: DataFrame, idCol: String, textCol: String,
                          labelCol: String, bits: Int, seed: String,
                          epochs: Int, lrMyriad: Long = 20000L,
                          wordNgrams: Int = 1,
                          maxTrainDocs: Long = 2000000L,
                          featuresOf: Option[Column => Column] = None)
      : Array[Int] = {
    require(bits > 0 && bits <= 21, s"bits must be in [1,21], got $bits")
    require(epochs >= 0 && epochs <= 64, s"epochs must be in [0,64], got $epochs")
    val nBuckets = 1 << bits
    featuresOf match {
      case Some(f) =>
        // CUSTOM featurization: kernel-inexpressible by definition —
        // the exploded Column path stays (documented non-production;
        // hashedLinearScoreWeights' custom branch is its scoring twin)
        val bucket = (t: Column) =>
          h32(concat(lit(seed), lit(":"), t)) % nBuckets
        val feats = df
          .select(col(idCol).as("__d"), explode(f(col(textCol))).as("__t"))
          .select(col("__d"), bucket(col("__t")).as("__b"))
          .groupBy(col("__d"), col("__b"))
          .agg(count(lit(1)).as("__c"))
        val labels = df
          .select(col(idCol).as("__d"), col(labelCol).cast("long").as("__y"))
        trainLogisticOnFeats(feats, labels, bits, epochs, lrMyriad,
          maxTrainDocs)
      case None =>
        // PRODUCTION path (r16 verdict #4): the per-doc (bucket, count)
        // pairs come out of ONE native codegen scan
        // ([[graft.functions.HashedCountsExpr]] — md5 bucketing
        // bit-identical to the Column h32, bigrams derived in-kernel),
        // so the doc frame build pays ZERO corpus exchanges and no
        // label join — where the previous chain paid the zip_with HOF
        // bigram derivation + explode + (doc,bucket) groupBy + doc
        // groupBy + join. Same (bucket, count) multisets, same doc set
        // (zero-feature docs drop, matching explode's semantics) —
        // the q105/q107 oracle hashes pin the arithmetic unchanged.
        val hc = org.apache.spark.sql.graft.ExprBridge.column(
          graft.functions.HashedCountsExpr(
            org.apache.spark.sql.graft.ExprBridge.expression(
              graft.functions.TextFns.tokens(col(textCol))),
            seed, nBuckets, bigrams = wordNgrams == 2))
        val docFrame = df
          .select(col(idCol).as("__d"), hc.as("__h"),
            col(labelCol).cast("long").as("__y_0"))
          .select(col("__d"), col("__h.__n").as("__n"),
            col("__h.__f").as("__f"), col("__y_0"))
          .filter(col("__n") > 0)
        trainLogisticOnDocFrameMulti(docFrame, 1, bits, epochs, lrMyriad,
          maxTrainDocs).head
    }
  }

  /** The trainer's epoch loop over a PREPARED feature frame
    * (`(__d, __b, __c)`, persisted) and per-doc label frame
    * (`(__d, __y)`). Factored out so [[trainLangId]] can derive the
    * (dominant) tokenize+hash feature frame ONCE and train its K
    * one-vs-rest classifiers against K label projections of it —
    * identical arithmetic to the single-label entry point (the q105
    * oracle replays it verbatim). */
  private def trainLogisticOnFeats(feats: DataFrame, labels: DataFrame,
                                   bits: Int, epochs: Int, lrMyriad: Long,
                                   maxTrainDocs: Long): Array[Int] =
    trainLogisticOnFeatsMulti(feats,
      labels.select(col("__d"), col("__y").as("__y_0")), 1,
      bits, epochs, lrMyriad, maxTrainDocs).head

  /** K-label FUSED epoch loop: trains K independent one-vs-rest
    * classifiers over ONE shared feature frame with K label columns
    * (`(__d, __y_0 .. __y_{K-1})`) in TWO aggregation jobs per epoch
    * instead of 2K — the per-doc margin groupBy computes all K weighted
    * sums as K aggregate columns, and the per-bucket gradient groupBy
    * sums all K quantized error terms in one pass. The per-label
    * arithmetic is column-wise independent and IDENTICAL to the
    * single-label loop (same quantization points, same clamped update),
    * so fusing is pure job scheduling: the q105/q112 oracles replay the
    * exact same training run and their hashes pin it (the r14 verdict's
    * #1 — q112 spent K × epochs × 2 sequential jobs over the same
    * persisted frame, ~15% of the whole sf0.1 bench). */
  private def trainLogisticOnFeatsMulti(feats: DataFrame, labels: DataFrame,
                                        k: Int, bits: Int, epochs: Int,
                                        lrMyriad: Long,
                                        maxTrainDocs: Long): Seq[Array[Int]] = {
    val docFrame = feats.groupBy(col("__d"))
      .agg(sum(col("__c")).as("__n"),
        collect_list(struct(col("__b"), col("__c"))).as("__f"))
      .join(labels, Seq("__d"))
    trainLogisticOnDocFrameMulti(docFrame, k, bits, epochs, lrMyriad,
      maxTrainDocs)
  }

  /** The epoch-loop CORE over an already-built doc frame
    * (`(__d, __n, __f: array<struct<__b,__c>>, __y_0..__y_{k-1})`) —
    * factored out (r16 verdict #4) so [[trainHashedLogistic]]'s
    * kernel-built frame (zero build exchanges) and the exploded-feats
    * builders above share one arithmetic body. */
  private def trainLogisticOnDocFrameMulti(docFrame0: DataFrame,
                                           k: Int, bits: Int, epochs: Int,
                                           lrMyriad: Long,
                                           maxTrainDocs: Long): Seq[Array[Int]] = {
    val nBuckets = 1 << bits
    val ks = 0 until k
    val sc = docFrame0.sparkSession.sparkContext
    // ONE doc-keyed frame built up front — per-doc feature count, the
    // packed (bucket, count) pairs, and the K labels. An epoch is then
    // ONE job: a pure scan computes every doc's K margins (the native
    // [[graft.functions.BucketDotExpr]] probe over the pairs — exact
    // long multiply-adds, order-free) and its K quantized errors
    // in-scan (zero joins, zero doc-keyed exchanges), and the only
    // shuffle is the bucket-keyed gradient aggregate (map-side
    // combined, ≤ 2^bits × partitions partial rows). Pre-r16 each
    // epoch paid a doc-groupBy + two joins + a bucket-groupBy, probing
    // weight arrays ridden as `typedlit` PLAN LITERALS — K × 8 MB
    // deserialized per task at the bits=21 ceiling, the engine's own
    // FrozenBigramTables OOM lesson (r15 verdict #3); the epoch's
    // tables now ride ONE broadcast, fetched once per executor and
    // destroyed after the gradient collect. The per-label arithmetic
    // is IDENTICAL (same quantization points, same clamped update) —
    // the q105/q107/q112 oracles replay the exact same training run
    // and their hashes pin it.
    val docFrame = docFrame0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // labeled frames are SMALL by nature (curated seed sets — the
      // fastText recipe: thousands to millions of examples, not the
      // corpus). Same loud-failure policy as trainUnigramLm's
      // maxLocalVocab (r13 verdict).
      val nDocs = docFrame.count()
      require(nDocs <= maxTrainDocs,
        s"labeled frame has $nDocs docs > maxTrainDocs=$maxTrainDocs — " +
          "the doc-keyed training frame is sized for seed-scale labeled " +
          "sets; sample the labels (or raise maxTrainDocs knowingly)")
      val ws = ks.map(_ => new Array[Int](nBuckets)) // zero init — replayable
      if (nDocs == 0) return ws
      var e = 0
      while (e < epochs) {
        val bc = sc.broadcast(
          graft.functions.LangIdTables(ws.map(w => w.clone()).toArray))
        val margins = org.apache.spark.sql.graft.ExprBridge.column(
          graft.functions.BucketDotExpr(
            org.apache.spark.sql.graft.ExprBridge.expression(col("__f")), bc))
        val errDocs = docFrame.select(
          (col("__n") +: col("__f") +: ks.map(i =>
            floor((lit(1.0) / (lit(1.0) +
              exp(lit(-4.0) * element_at(margins, i + 1) /
                (col("__n") * lit(1000.0))))
              - col(s"__y_$i")) * lit(1000000.0) + lit(0.5))
              .as(s"__err6_$i"))): _*)
        // Gradient reduce side is <= k × 2^bits longs BY CONSTRUCTION —
        // when that dense table is small (k·2^bits ≤ 2^19: ≤ 4 MB per
        // partition partial, ≤ ~128 MB transient driver merge at 32
        // partitions), collect per-partition DENSE partials in ONE
        // shuffle-free job instead of the explode + bucket-keyed groupBy
        // (2 AQE jobs/epoch + a feature-multiplied row blow-up) — the
        // r17 KMeansInt.assignmentPartials discipline. Long sums are
        // order-free and each per-(doc,bucket) term is the identical
        // floor((err6·c)/n + 0.5) IEEE arithmetic, so gradients are
        // bit-identical; the q105/q107/q112 oracle hashes pin it.
        // Bigger tables (bits=21 language gates) keep the map-side-
        // combined aggregate, whose shuffle stays bounded regardless.
        val errRdd = errDocs
          .select((col("__n") +: col("__f") +:
            ks.map(i => col(s"__err6_$i"))): _*)
          .queryExecution.toRdd
        val grads: Int => (Long => Long) =
          if (k.toLong * nBuckets <= (1L << 19) &&
              errRdd.getNumPartitions.toLong * k * nBuckets <= (1L << 26)) {
            val partials = errRdd.mapPartitions { it =>
                val acc = Array.fill(k)(new Array[Long](nBuckets))
                while (it.hasNext) {
                  val row = it.next()
                  val nD = row.getLong(0).toDouble
                  val fs = row.getArray(1)
                  var j = 0
                  val m = fs.numElements()
                  while (j < m) {
                    val pair = fs.getStruct(j, 2)
                    val b = pair.getLong(0).toInt
                    val c = pair.getLong(1)
                    var i = 0
                    while (i < k) {
                      acc(i)(b) += math.floor(
                        (row.getLong(2 + i) * c).toDouble / nD + 0.5).toLong
                      i += 1
                    }
                    j += 1
                  }
                }
                Iterator.single(acc)
              }.collect()
            val merged = Array.fill(k)(new Array[Long](nBuckets))
            partials.foreach { p =>
              var i = 0
              while (i < k) {
                var b = 0
                while (b < nBuckets) { merged(i)(b) += p(i)(b); b += 1 }
                i += 1
              }
            }
            (i: Int) => (b: Long) => merged(i)(b.toInt)
          } else {
            val gradRows = errDocs
              .select((explode(col("__f")).as("__e") +: col("__n") +:
                ks.map(i => col(s"__err6_$i"))): _*)
              .groupBy(col("__e.__b").as("__b"))
              .agg(
                sum(floor(col("__err6_0") * col("__e.__c") /
                  col("__n").cast("double") + lit(0.5))).as("__g_0"),
                ks.tail.map(i =>
                  sum(floor(col(s"__err6_$i") * col("__e.__c") /
                    col("__n").cast("double") + lit(0.5))).as(s"__g_$i")): _*)
              .collect()
            (i: Int) => {
              val m = gradRows.iterator
                .map(r => r.getLong(0) -> r.getLong(1 + i)).toMap
              (b: Long) => m.getOrElse(b, 0L)
            }
          }
        bc.destroy()
        ks.foreach { i =>
          val gOf = grads(i)
          val w = ws(i)
          var b = 0
          while (b < nBuckets) {
            val g = gOf(b.toLong)
            val delta = math.floor((g * lrMyriad).toDouble * 4.0 /
              (nDocs * 1.0e7) + 0.5).toLong
            w(b) = math.max(-1000L, math.min(1000L, w(b) - delta)).toInt
            b += 1
          }
        }
        e += 1
      }
      ws
    } finally docFrame.unpersist()
  }

  /** The md5-derived weight table [[hashedLinearScore]] implies, for
    * feeding [[hashedLinearScoreWeights]] in parity tests / as the init
    * of a trained model. */
  def derivedWeightTable(bits: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(1 << bits) { b =>
      val hex = md.digest(s"w:$b".getBytes("UTF-8"))
        .take(4).map(x => f"${x & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2001) - 1000).toInt
    }
  }

  /** A TRAINED one-vs-rest hashed char-n-gram language classifier — the
    * fastText lang-ID shape, replacing the marker-word argmax
    * ([[graft.functions.TextFns.langPredict]]) with a model that sees
    * subword shapes, inflections and word boundaries instead of a short
    * allow-list (a marker-free held-out sentence defeats the marker
    * predictor by construction; char n-grams generalize —
    * QualityModelSpec pins that gap). All K classifiers share ONE
    * feature space (same seed, same bits): scoring hashes each n-gram
    * once and probes K weight arrays, each riding as a plan literal. */
  final case class LangIdModel(langs: Seq[String], bits: Int, seed: String,
                               charN: Int, weights: Map[String, Array[Int]]) {
    require(langs.nonEmpty && langs.distinct == langs,
      s"langs must be non-empty and distinct, got $langs")
    require(weights.keySet == langs.toSet,
      s"weights keys ${weights.keySet} != langs ${langs.toSet}")
    weights.foreach { case (l, w) => require(w.length == (1 << bits),
      s"lang '$l' weight table has ${w.length} buckets, need ${1 << bits}") }
  }

  /** Train a [[LangIdModel]] on a labeled frame: one
    * [[trainHashedLogistic]] run per language over shared char-n-gram
    * features (one-vs-rest, the fastText multiclass recipe at this
    * scale). Labels come from `langCol` — a curated seed set, or a
    * weaker teacher to distill (q112 distills the marker-argmax
    * predictor into a model that then generalizes past the markers).
    * K × epochs aggregates over the labeled frame; seed-scale by the
    * same `maxTrainDocs` contract as the quality trainer. */
  def trainLangId(df: DataFrame, idCol: String, textCol: String,
                  langCol: String, langs: Seq[String],
                  bits: Int = 8, seed: String = "langid",
                  epochs: Int = 4, lrMyriad: Long = 20000L,
                  charN: Int = 3,
                  maxTrainDocs: Long = 2000000L): LangIdModel = {
    require(bits > 0 && bits <= 21, s"bits must be in [1,21], got $bits")
    require(epochs >= 0 && epochs <= 64, s"epochs must be in [0,64], got $epochs")
    val nBuckets = 1 << bits
    val bucket = (t: Column) =>
      h32(concat(lit(seed), lit(":"), t)) % nBuckets
    // the tokenize+hash feature frame is the dominant cost and is
    // LABEL-INDEPENDENT — derive it ONCE (read once at the trainer's
    // doc-frame build, which persists the packed per-doc frame), train
    // the K one-vs-rest classifiers against K tiny label projections
    // (vs K full feature derivations; 3x fewer corpus passes at K = 3)
    val feats = df
      .select(col(idCol).as("__d"),
        explode(TextFns.charNgrams(col(textCol), charN)).as("__t"))
      .select(col("__d"), bucket(col("__t")).as("__b"))
      .groupBy(col("__d"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    // K one-vs-rest label columns in ONE frame, trained FUSED: all K
    // classifiers advance together in ONE job per epoch instead of 2K
    // (bit-identical per-label math — see trainLogisticOnFeatsMulti;
    // the q112 oracle hash pins it)
    val langOf = df
      .select((col(idCol).as("__d") +: langs.zipWithIndex.map { case (l, i) =>
        (col(langCol) === lit(l)).cast("long").as(s"__y_$i")
      }): _*)
    val ws = trainLogisticOnFeatsMulti(feats, langOf, langs.size,
      bits, epochs, lrMyriad, maxTrainDocs)
    LangIdModel(langs, bits, seed, charN, langs.zip(ws).toMap)
  }

  /** Persist a [[LangIdModel]] as a versioned artifact (the frozen-LM
    * save/load discipline — train once offline, load at stream start):
    * `$path/langid_weights` = (lang_idx, lang, b, w) — one row per
    * (language, bucket), lang_idx pinning the model's language ORDER
    * (argmax tie-break depends on it) — and `$path/langid_meta` = one
    * row (bits, seed, char_n, n_langs, model_tag). The tag travels with
    * the artifact for the same reason the tokenizer's word-model tag
    * does: scoring text under a model whose featurization (seed, charN,
    * bits) differs from training silently misclassifies everything. */
  def saveLangId(spark: SparkSession, model: LangIdModel, path: String): Unit = {
    import spark.implicits._
    val rows = model.langs.zipWithIndex.flatMap { case (l, i) =>
      model.weights(l).iterator.zipWithIndex.map { case (w, b) => (i, l, b, w) }
    }
    rows.toDF("lang_idx", "lang", "b", "w").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/langid_weights")
    Seq((model.bits, model.seed, model.charN, model.langs.size, "langid-v1"))
      .toDF("bits", "seed", "char_n", "n_langs", "model_tag").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/langid_meta")
  }

  /** Load a [[saveLangId]] artifact, re-validating invariants loudly
    * (the [[loadUnigramLm]] policy): meta tag/arity, one full 2^bits
    * weight table per language, clamp range respected. Any mismatch is
    * a corrupted or mis-paired artifact — fail at load, never as silent
    * misclassification mid-stream. */
  def loadLangId(spark: SparkSession, path: String): LangIdModel = {
    import spark.implicits._
    val meta = graft.util.ArtifactIO.readLocal(spark, s"$path/langid_meta",
        "bits" -> ITyp, "seed" -> STyp, "char_n" -> ITyp,
        "n_langs" -> ITyp, "model_tag" -> STyp)
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    require(meta.length == 1,
      s"lang-ID meta at $path/langid_meta has ${meta.length} rows")
    val (bits, seed, charN, nLangs, tag) = meta.head
    require(tag == "langid-v1",
      s"lang-ID artifact at $path has model_tag '$tag', expected 'langid-v1'")
    val rows = graft.util.ArtifactIO.readLocal(spark, s"$path/langid_weights",
        "lang_idx" -> ITyp, "lang" -> STyp, "b" -> ITyp, "w" -> ITyp)
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
    val byLang = rows.groupBy(r => (r._1, r._2)).toSeq.sortBy(_._1._1)
    require(byLang.size == nLangs,
      s"lang-ID artifact at $path has ${byLang.size} languages, meta says $nLangs")
    require(byLang.map(_._1._1) == (0 until nLangs),
      s"lang-ID artifact at $path has non-contiguous lang_idx " +
        byLang.map(_._1._1).mkString(","))
    val langs = byLang.map(_._1._2)
    val weights = byLang.map { case ((_, l), rs) =>
      val w = new Array[Int](1 << bits)
      require(rs.length == w.length,
        s"lang '$l' at $path has ${rs.length} weight rows, need ${w.length}")
      require(rs.iterator.map(_._3).toSet.size == rs.length,
        s"lang '$l' at $path has duplicate bucket rows")
      rs.foreach { case (_, _, b, v) =>
        require(b >= 0 && b < w.length, s"lang '$l' bucket $b out of range")
        require(v >= -1000 && v <= 1000, s"lang '$l' weight $v outside clamp")
        w(b) = v
      }
      l -> w
    }.toMap
    LangIdModel(langs, bits, seed, charN, weights)
  }

  /** Per-language margin structs (n_tokens = n-gram count, w_sum, score)
    * of `text` under a [[LangIdModel]] — one entry per lang, in model
    * order. The md5 BUCKET ARRAY is one shared subexpression probed by
    * all K weight tables: the per-lang lambdas differ only in their
    * weight literal, so hashing happens once per n-gram, not K times —
    * the naive per-lang `hashedLinearScoreWeights` composition re-hashed
    * per language (lambda bodies are not CSE'd across each other) and
    * benched 3× the hash cost at sf0.1. Same arithmetic, q112
    * oracle-pinned.
    *
    * NOT FOR DEPLOYMENT (r16 verdict #7): this is the per-language
    * REFERENCE scorer — the weight tables ride as `typedlit` plan
    * literals and the HOF aggregate is CodegenFallback. Hot paths use
    * [[langMargins]] (the broadcast-table native kernel,
    * [[graft.functions.LangMarginsExpr]]); [[langMarginsFold]] is the
    * spec parity reference. */
  def langScoresTrained(text: Column, model: LangIdModel): Seq[(String, Column)] = {
    val nBuckets = 1 << model.bits
    val toks = TextFns.charNgrams(text, model.charN)
    val buckets = transform(toks, t =>
      ((h32(concat(lit(model.seed), lit(":"), t)) % nBuckets) + 1).cast("int"))
    val n = org.apache.spark.sql.functions.size(toks)
    model.langs.map { l =>
      val wLit = typedlit(model.weights(l))
      val wSum = aggregate(
        transform(buckets, b => element_at(wLit, b).cast("long")),
        lit(0L), (acc, x) => acc + x)
      val mean = wSum.cast("double") / (n.cast("double") * 1000.0)
      val score = round(lit(1.0) / (lit(1.0) + exp(-mean * 4.0)), 6)
      l -> struct(
        n.cast("int").as("n_tokens"),
        wSum.as("w_sum"),
        when(n > 0, score).as("score"))
    }
  }

  /** ALL K language margins in ONE pass, as a NATIVE compiled scan
    * ([[graft.functions.LangMarginsExpr]]): slice char-n-gram windows,
    * hash each ONCE, probe all K weight tables inside one codegen call.
    * Replaces the `aggregate`-fold composition ([[langMarginsFold]],
    * kept as the parity reference): higher-order functions are
    * CodegenFallback AND the fold measurably re-evaluated under the
    * multi-field q112 bench shape (8.2 s vs 4.3 s for the same scan at
    * sf0.1) — the native struct is computed exactly once per row no
    * matter how many fields the caller extracts. Bit-identical output
    * (integer-only arithmetic, same md5 bucketing — QualityModelSpec
    * pins kernel == fold on mixed-script text; the q112 oracle hash
    * pins it cross-engine). Weight tables ride a BROADCAST (fetched
    * once per executor, the frozen-LM discipline). */
  def langMargins(text: Column, model: LangIdModel): Column = {
    // broadcast memoized per MODEL instance (r15 ADVICE: the streaming
    // language gate built one K×2^bits broadcast per micro-batch,
    // reclaimed only when the ContextCleaner happened to GC the plan)
    val bc = cachedBroadcast(model,
      graft.functions.LangIdTables(
        model.langs.map(model.weights(_)).toArray))
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.LangMarginsExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(lower(text)),
        bc, model.langs, model.seed, model.charN, 1 << model.bits))
  }

  /** The Column-composition margins fold langMargins replaced — one
    * `aggregate` over the shared bucket array with a struct accumulator
    * (each n-gram hashed once, probing K weight literals). Kept as the
    * spec-pinned parity reference for the native kernel; prefer
    * [[langMargins]] everywhere (HOFs are CodegenFallback and re-evaluate
    * under multi-field extraction). */
  private[graft] def langMarginsFold(text: Column, model: LangIdModel): Column = {
    val nBuckets = 1 << model.bits
    val toks = TextFns.charNgrams(text, model.charN)
    val buckets = transform(toks, t =>
      ((h32(concat(lit(model.seed), lit(":"), t)) % nBuckets) + 1).cast("int"))
    val init = struct((lit(0L).as("n") +:
      model.langs.map(l => lit(0L).as(s"ws_$l"))): _*)
    aggregate(buckets, init, (acc, b) =>
      struct(((acc.getField("n") + 1L).as("n") +:
        model.langs.map { l =>
          (acc.getField(s"ws_$l") +
            element_at(typedlit(model.weights(l)), b).cast("long"))
            .as(s"ws_$l")
        }): _*))
  }

  /** Argmax language from a MATERIALIZED [[langMargins]] struct, ties
    * broken to the EARLIEST language in `langs` (the
    * [[TextFns.langPredict]] tie-break convention — en ≥ es ≥ de for
    * the default list). Margins compare by raw integer w_sum: every
    * classifier scores the same n-gram count, so the mean ordering IS
    * the sum ordering. */
  def langPredictFromMargins(margins: Column, langs: Seq[String]): Column = {
    val ss = langs.map(l => l -> margins.getField(s"ws_$l"))
    var result: Column = lit(ss.last._1)
    ss.zipWithIndex.init.reverse.foreach { case ((l, s), i) =>
      val cond = ss.drop(i + 1).map { case (_, s2) => s >= s2 }
        .reduce(_ && _)
      result = when(cond, lit(l)).otherwise(result)
    }
    result
  }

  /** One-column convenience predictor. On corpus-sized frames prefer
    * materializing [[langMargins]] first and calling
    * [[langPredictFromMargins]] — this composition re-evaluates the
    * margins aggregate per comparison branch (HOFs are CodegenFallback,
    * see [[langMargins]]). */
  def langPredictTrained(text: Column, model: LangIdModel): Column =
    langPredictFromMargins(langMargins(text, model), model.langs)

  /** The curators' one gate rule: `df` plus `drop_reason`, the FIRST
    * failed gate in the order empty_after_clean, too_short, low_quality,
    * high_perplexity, low_perplexity, wrong_language (NULL = kept). A gate
    * left at its default is off; the others read `n_tokens`, `quality`
    * and `xent`. [[graft.streaming.StreamingIngest.curateBatch]] runs
    * every gate in one call; [[graft.pipeline.CorpusPipeline]] runs the
    * xent band in its own ppl_gate stage, whose LM trains on the quality
    * stage's survivors.
    *
    * With `langAllow` nonempty the frame also gains the `lang` audit
    * column: the argmax of the TRAINED char-n-gram classifier when
    * `langId` supplies a loaded artifact (the fastText deployment shape:
    * train offline, freeze, score through plan-literal weights), else the
    * marker argmax (q36, [[TextFns.langPredict]]). Margins materialize
    * ONCE before the argmax reads fields — the HOF-CodegenFallback
    * contract ([[langMargins]]). */
  def gate(df: DataFrame, textCol: String, dropEmpty: Boolean = false,
           minTokens: Option[Long] = None, minQuality: Option[Double] = None,
           xentBand: Option[(Double, Double)] = None,
           langAllow: Seq[String] = Nil,
           langId: Option[LangIdModel] = None): DataFrame = {
    val withLang =
      if (langAllow.isEmpty) df
      else langId match {
        case Some(m) =>
          df.withColumn("__lmg", langMargins(col(textCol), m))
            .withColumn("lang", langPredictFromMargins(col("__lmg"), m.langs))
            .drop("__lmg")
        case None => df.withColumn("lang", TextFns.langPredict(col(textCol)))
      }
    val rules: Seq[(Column, String)] =
      (if (dropEmpty) Seq((length(col(textCol)) === 0) -> "empty_after_clean")
       else Nil) ++
        minTokens.map(m => (col("n_tokens") < m) -> "too_short") ++
        minQuality.map(q => (col("quality") < q) -> "low_quality") ++
        xentBand.toSeq.flatMap { case (lo, hi) =>
          Seq((col("xent") > hi) -> "high_perplexity",
            (col("xent") < lo) -> "low_perplexity")
        } ++
        (if (langAllow.isEmpty) Nil
         else Seq((!col("lang").isin(langAllow.map(lit): _*)) -> "wrong_language"))
    require(rules.nonEmpty, "gate: every gate is off")
    val reason = rules.tail.foldLeft(when(rules.head._1, lit(rules.head._2))) {
      case (r, (failed, why)) => r.when(failed, lit(why))
    }
    withLang.withColumn("drop_reason", reason)
  }

  /** Per-document cross-entropy under a corpus-trained add-one-smoothed
    * unigram LM: xent(d) = mean over tokens t of −ln P(t), with
    * P(t) = (count(t) + 1) / (N + V) over the whole corpus (N = total
    * tokens, V = vocabulary size). Output: (idCol, n_tokens, xent, ppl),
    * empty documents omitted (no tokens → no distribution). Per-token
    * −ln P is quantized to 1e-6 fixed point (bigint) before the per-doc
    * sum — see the object doc's determinism contract.
    *
    * 100 TB: three exchanges, all key-partitioned — (1) token counts with
    * map-side partial aggregation (the classic word-count shuffle, bytes
    * bounded by vocab × partitions); (2) the exploded-tokens ⋈ counts
    * equi-join on `tok`; (3) the per-doc sum, map-side combined. The
    * totals frame is ONE row (crossJoin-broadcast, not a window). Zipf
    * reality: vocab ≪ corpus, so when the count frame fits the broadcast
    * threshold Spark's AQE promotes join (2) to a broadcast-hash probe
    * at runtime with NO corpus shuffle — from the aggregate's MEASURED
    * output size, which is exactly the right signal. The join is never
    * forced to broadcast: a forced broadcast of an UNBOUNDED web-corpus
    * vocabulary (URLs, typos, hex blobs can push V past the
    * driver/broadcast limit) fails the job outright, whereas the AQE
    * path degrades to a shuffle join and completes.
    *
    * `tokensOf` is the LM's token unit — whitespace words by default, or
    * `Bpe.tokens(_, merges)` for a tokenizer-faithful LM (the real CCNet
    * shape: KenLM over sentencepiece tokens). A BPE unit SHRINKS the
    * closed vocabulary (subwords ≤ words + alphabet), so the count-frame
    * join is MORE broadcastable, and the per-token expression stays in
    * the scan's codegen span either way.
    *
    * LOCAL-LM fast path (r12): when the vocabulary fits
    * `maxLocalVocab`, the token -> lp_i table is collected ONCE (the
    * same Zipf bound that lets AQE broadcast it — a 2M-entry table is
    * ~tens of MB) and the scoring pass becomes a single zero-shuffle
    * codegen expression over the scan ([[graft.functions
    * .UnigramScoreExpr]]: O(1) hash probe + exact integer sum per
    * token). That deletes exchanges (2) and (3) AND the second corpus
    * explode — measured 66 s -> ~25 s on the rich32 ppl_gate, the
    * pipeline's most expensive stage. The lp_i values are computed BY
    * Catalyst on the collected count rows with the same round/log
    * expressions the distributed branch uses, so the paths are
    * bit-identical by construction (q76/q94/q95 hash-verify both: the
    * tiny Verify corpora take this path, and
    * QualityModelSpec pins local == distributed directly). A
    * vocabulary past the threshold (unbounded web-corpus tail) falls
    * back to the distributed plan, paying one extra vocabulary-count
    * materialization — the guard job is the count frame itself, which
    * the fallback plan recomputes. `maxLocalVocab = 0` disables the
    * fast path outright. */
  /** lp_i = round((ln(N + V) - ln(cnt + 1)) * 1e6): integer fixed-point
    * of -ln P(tok); ln over integer-valued doubles is bit-deterministic.
    * ONE builder for the local and distributed branches (and
    * [[withUnigramXent]]) — the paths cannot diverge on rounding. */
  private def lpOf(cnt: Column, nTotal: Column, vocab: Column): Column =
    round((log(nTotal.cast("double") + vocab)
      - log(cnt.cast("double") + 1.0)) * 1e6).cast("long")

  /** The local-LM table behind the r12 fast path: collect the (Zipf-
    * small) token-count frame and compute tok -> lp_i BY Catalyst on the
    * collected rows (same [[lpOf]] expression as the distributed
    * branch). None when the vocabulary exceeds `maxLocalVocab` — callers
    * fall back to the distributed plan. */
  private def collectUnigramLp(df: DataFrame, counts: DataFrame,
                               maxLocalVocab: Int): Option[Seq[(String, Long)]] = {
    val cRows = counts.limit(maxLocalVocab + 1).collect()
    if (cRows.length > maxLocalVocab) return None
    val spark = df.sparkSession
    import spark.implicits._
    val nTotal = cRows.iterator.map(_.getLong(1)).sum
    Some(cRows.iterator.map(r => (r.getString(0), r.getLong(1)))
      .toSeq.toDF("tok", "cnt")
      .select(col("tok"),
        lpOf(col("cnt"), lit(nTotal), lit(cRows.length.toLong)))
      .as[(String, Long)].collect().toSeq)
  }

  /** [[unigramCrossEntropy]]'s xent appended as a COLUMN on `df` — no
    * join. The corpus pipeline's perplexity gate needs every input row
    * back (kept rows AND rejects, each with its xent), so the
    * (id, xent) formulation forces a corpus×corpus equi-join just to
    * re-attach a value that is a pure function of the text column; with
    * the collected local LM the score is ONE zero-shuffle codegen call
    * appended in place (the two struct-field reads merge under codegen
    * subexpression elimination). Token-less documents get NULL (exactly
    * the left join's null). Past `maxLocalVocab` this degrades to the
    * join shape (distributed LM), result-identical.
    *
    * 100 TB: the stage's exchanges drop from {word-count agg, corpus
    * re-key for the join ×2 sides} to {word-count agg} — the gate
    * becomes scan-bound, which is what a filter should be. */
  def withUnigramXent(df: DataFrame, idCol: String, textCol: String,
                      outCol: String = "xent",
                      tokensOf: Column => Column = TextFns.tokens,
                      maxLocalVocab: Int = 2000000): DataFrame = {
    if (maxLocalVocab > 0) {
      val counts = df.select(explode(tokensOf(col(textCol))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val lpLocal = collectUnigramLp(df, counts, maxLocalVocab)
      if (lpLocal.isDefined) {
        val s = org.apache.spark.sql.graft.ExprBridge.column(
          graft.functions.UnigramScoreExpr(
            org.apache.spark.sql.graft.ExprBridge.expression(
              tokensOf(col(textCol))), lpLocal.get))
        return df.withColumn(outCol,
          when(s.getField("n_tokens") > 0,
            round(s.getField("lp_sum").cast("double")
              / (s.getField("n_tokens") * 1e6), 6)))
      }
    }
    df.join(
      unigramCrossEntropy(df, idCol, textCol, tokensOf = tokensOf,
          maxLocalVocab = 0)
        .select(col(idCol), col("xent").as(outCol)),
      Seq(idCol), "left")
  }

  /** A FROZEN add-one unigram LM — the artifact CCNet actually scores
    * with: the LM is trained once on a REFERENCE corpus (Wikipedia, a
    * curated slice) and every future batch is scored against it, so
    * unseen tokens are a certainty, not a bug. `lp` is the quantized
    * -ln P table for seen tokens; `missLp` is the smoothed mass an
    * unseen token gets — add-one reserves exactly 1/(N+V) for each, so
    * missLp = round(ln(N+V)·1e6) (the cnt=0 row of the same [[lpOf]]
    * expression: ln over integer-valued doubles, bit-deterministic).
    * `unit` is an informational tag of the token unit ("words", "bpe")
    * so a consumer can detect pairing an artifact with the wrong
    * tokenizer. */
  /** Common supertype of the frozen n-gram LM artifacts (orders 1–3):
    * what [[loadLm]] returns and [[frozenXentOf]] dispatches on, so one
    * `lmPath` config key accepts any persisted order. */
  sealed trait FrozenLm { def unit: String; def order: Int }

  final case class UnigramLm(lp: Seq[(String, Long)], missLp: Long,
                             nTotal: Long, vocab: Long, unit: String)
      extends FrozenLm {
    require(vocab == lp.size, s"vocab $vocab != lp table size ${lp.size}")
    override def order: Int = 1
  }

  /** Train a [[UnigramLm]] on `df` — the whole count frame collects (a
    * frozen artifact must ship; a reference corpus's vocabulary is
    * Zipf-bounded, and past `maxLocalVocab` this THROWS with the fix:
    * sample the reference corpus, which is the CCNet recipe anyway).
    * lp values (and missLp) are computed BY Catalyst with the same
    * [[lpOf]] expression as [[unigramCrossEntropy]], so a frozen LM
    * scoring its own training corpus is bit-identical to the
    * self-scored operator (spec-pinned). */
  def trainUnigramLm(df: DataFrame, textCol: String,
                     tokensOf: Column => Column = TextFns.tokens,
                     unit: String = "words",
                     maxLocalVocab: Int = 2000000): UnigramLm = {
    val counts = df.select(explode(tokensOf(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val cRows = counts.limit(maxLocalVocab + 1).collect()
    require(cRows.length <= maxLocalVocab,
      s"vocabulary exceeds maxLocalVocab=$maxLocalVocab — a frozen LM " +
        "artifact must collect; train on a sampled reference corpus")
    val spark = df.sparkSession
    import spark.implicits._
    val nTotal = cRows.iterator.map(_.getLong(1)).sum
    val vocabN = cRows.length.toLong
    // the cnt=0 row rides the SAME Catalyst expression — missLp cannot
    // round differently from the seen-token table
    val withMiss = (cRows.iterator.map(r => (r.getString(0), r.getLong(1)))
      ++ Iterator(("", -1L))).toSeq.toDF("tok", "cnt")
      .select(col("tok"),
        lpOf(when(col("cnt") >= 0, col("cnt")).otherwise(lit(0L)),
          lit(nTotal), lit(vocabN)).as("lp"),
        col("cnt"))
      .collect()
    val missLp = withMiss.find(_.getLong(2) == -1L).get.getLong(1)
    val lp = withMiss.filter(_.getLong(2) >= 0L)
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    UnigramLm(lp, missLp, nTotal, vocabN, unit)
  }

  /** Persist a [[UnigramLm]] as a versioned parquet artifact:
    * `$path/lm` = (tok, lp), `$path/lm_meta` = one row
    * (n_total, vocab, miss_lp, unit). lp values are integers — the
    * artifact is bit-lossless by construction, no recompute at load. */
  def saveUnigramLm(spark: SparkSession, lm: UnigramLm, path: String): Unit = {
    import spark.implicits._
    lm.lp.toDF("tok", "lp").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm")
    Seq((lm.nTotal, lm.vocab, lm.missLp, lm.unit))
      .toDF("n_total", "vocab", "miss_lp", "unit").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_meta")
  }

  /** Load a [[saveUnigramLm]] artifact, re-validating its invariants
    * loudly (a corrupt LM must fail the job, not mis-score a corpus). */
  def loadUnigramLm(spark: SparkSession, path: String): UnigramLm = {
    import spark.implicits._
    val meta = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_meta",
        "n_total" -> LTyp, "vocab" -> LTyp, "miss_lp" -> LTyp,
        "unit" -> STyp)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    require(meta.length == 1, s"LM meta at $path/lm_meta has ${meta.length} rows")
    val (nTotal, vocab, missLp, unit) = meta.head
    val lp = graft.util.ArtifactIO.readLocal(spark, s"$path/lm",
        "tok" -> STyp, "lp" -> LTyp)
      .map(r => (r.getString(0), r.getLong(1)))
    require(lp.size == vocab,
      s"LM table at $path/lm has ${lp.size} rows, meta says $vocab")
    require(lp.iterator.map(_._1).toSet.size == lp.size,
      s"LM table at $path/lm has duplicate tokens")
    UnigramLm(lp, missLp, nTotal, vocab, unit)
  }

  /** Score `text` under a FROZEN [[UnigramLm]]: returns the
    * (n_tokens, lp_sum) struct of the native scorer with unseen tokens
    * taking the artifact's smoothed mass — one zero-shuffle codegen
    * call, the day-2 scoring path. `tokensOf` must be the unit the LM
    * was trained with (check `lm.unit`). */
  def frozenScore(text: Column, lm: UnigramLm,
                  tokensOf: Column => Column = TextFns.tokens): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.UnigramScoreExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(tokensOf(text)),
        lm.lp, lm.missLp))

  /** [[frozenScore]] reduced to the xent value (6-dp, NULL for
    * token-less docs — the [[withUnigramXent]] contract). */
  def frozenXent(text: Column, lm: UnigramLm,
                 tokensOf: Column => Column = TextFns.tokens): Column = {
    val s = frozenScore(text, lm, tokensOf)
    when(s.getField("n_tokens") > 0,
      round(s.getField("lp_sum").cast("double")
        / (s.getField("n_tokens") * 1e6), 6))
  }

  /** A FROZEN interpolated add-one BIGRAM LM — [[UnigramLm]] one Markov
    * order up, the shape CCNet actually deploys (KenLM is an n-gram
    * model: a unigram bag scores "the the the" as perfectly fluent).
    * Unlike the unigram artifact (which ships precomputed lp values),
    * this one ships the RAW COUNT TABLES: an unseen (prev, cur) pair's
    * lp depends on three independent lookups (bcnt, pcnt, ccnt — each 0
    * on miss), so the OOV lp space cannot be precomputed; the scorer
    * derives each term from counts with arithmetic pinned to
    * [[lpInterp]] (see [[graft.functions.FrozenBigramKernel]]).
    * `uniCnt`/`bigCnt` are the distinct token / adjacent-pair counts of
    * the reference corpus; `nTotal` = total tokens, `vocab` =
    * |uniCnt|. */
  final case class BigramLm(uniCnt: Seq[(String, Long)],
                            bigCnt: Seq[((String, String), Long)],
                            nTotal: Long, vocab: Long, unit: String)
      extends FrozenLm {
    require(vocab == uniCnt.size,
      s"vocab $vocab != unigram table size ${uniCnt.size}")
    override def order: Int = 2
  }

  /** A FROZEN interpolated add-one TRIGRAM LM — [[BigramLm]] one order
    * up (the KenLM ladder's n=3 rung). Ships RAW COUNT TABLES for the
    * same reason: an unseen triple's lp depends on five independent
    * count lookups (tcnt, ctxcnt, bcnt, pcnt, ccnt — each 0 on miss),
    * so the OOV lp space cannot be precomputed; the scorer derives each
    * term with arithmetic pinned to [[lpInterp3]] (see
    * [[graft.functions.FrozenTrigramKernel]]). */
  final case class TrigramLm(uniCnt: Seq[(String, Long)],
                             bigCnt: Seq[((String, String), Long)],
                             triCnt: Seq[((String, String, String), Long)],
                             nTotal: Long, vocab: Long, unit: String)
      extends FrozenLm {
    require(vocab == uniCnt.size,
      s"vocab $vocab != unigram table size ${uniCnt.size}")
    override def order: Int = 3
  }

  /** Train a [[BigramLm]] on `df`. Like [[trainUnigramLm]] this THROWS
    * past the caps (a frozen artifact must collect; the CCNet recipe
    * trains the reference LM on a curated SAMPLE, which is also what
    * bounds the bigram table — pass the sample in, not the corpus).
    * One tokenize pass feeds both count frames (the token arrays persist
    * across the two aggregations). */
  def trainBigramLm(df: DataFrame, textCol: String,
                    tokensOf: Column => Column = TextFns.tokens,
                    unit: String = "words",
                    maxLocalVocab: Int = 2000000,
                    maxLocalBigrams: Int = 4000000,
                    minBigramCount: Long = 1L): BigramLm = {
    val base = df.select(tokensOf(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val uni = base.select(explode(col("__toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val uRows = uni.limit(maxLocalVocab + 1).collect()
      require(uRows.length <= maxLocalVocab,
        s"vocabulary exceeds maxLocalVocab=$maxLocalVocab — a frozen LM " +
          "artifact must collect; train on a sampled reference corpus")
      val sz = org.apache.spark.sql.functions.size(col("__toks"))
      val big = base
        .select(explode(when(sz >= 2,
          zip_with(slice(col("__toks"), lit(1), sz - 1),
            slice(col("__toks"), lit(2), sz - 1),
            (a, b) => struct(a.as("p"), b.as("c"))))).as("__pc"))
        .select(col("__pc.p").as("__p"), col("__pc.c").as("__c"))
        .groupBy(col("__p"), col("__c")).agg(count(lit(1)).as("bcnt"))
        // KenLM-style count pruning (minBigramCount > 1): singleton
        // pairs dominate an open-vocabulary bigram table (~90% at the
        // rich32 1/32-sample) while carrying the least signal; pruning
        // them shrinks the artifact ~10x. A pruned pair scores as
        // UNSEEN (count-0 interpolation) — a deliberate, documented
        // approximation of the exact table, NOT the oracle config
        // (q111 trains with minBigramCount = 1).
        .filter(col("bcnt") >= minBigramCount)
      val bRows = big.limit(maxLocalBigrams + 1).collect()
      require(bRows.length <= maxLocalBigrams,
        s"distinct bigrams exceed maxLocalBigrams=$maxLocalBigrams — a " +
          "frozen LM artifact must collect; train on a sampled reference " +
          "corpus (the CCNet recipe)")
      val uniCnt = uRows.iterator
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val bigCnt = bRows.iterator
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
      BigramLm(uniCnt, bigCnt,
        nTotal = uniCnt.iterator.map(_._2).sum,
        vocab = uniCnt.size.toLong, unit = unit)
    } finally base.unpersist()
  }

  /** Persist a [[BigramLm]]: `$path/lm_uni` = (tok, cnt), `$path/lm_big`
    * = (p, c, cnt), `$path/lm_meta` = one row
    * (n_total, vocab, unit, lm_order=2). Counts are integers — the
    * artifact is bit-lossless by construction. The meta's `lm_order`
    * column is what [[loadLm]] keys the layout on (the unigram artifact
    * predates it and has no such column). */
  def saveBigramLm(spark: SparkSession, lm: BigramLm, path: String): Unit = {
    import spark.implicits._
    lm.uniCnt.toDF("tok", "cnt").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_uni")
    lm.bigCnt.map { case ((p, c), v) => (p, c, v) }
      .toDF("p", "c", "cnt").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_big")
    Seq((lm.nTotal, lm.vocab, lm.unit, 2))
      .toDF("n_total", "vocab", "unit", "lm_order").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_meta")
  }

  /** Load a [[saveBigramLm]] artifact, re-validating invariants loudly
    * (the [[loadUnigramLm]] policy). */
  def loadBigramLm(spark: SparkSession, path: String): BigramLm = {
    import spark.implicits._
    val meta = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_meta",
        "n_total" -> LTyp, "vocab" -> LTyp, "unit" -> STyp,
        "lm_order" -> ITyp)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    require(meta.length == 1, s"LM meta at $path/lm_meta has ${meta.length} rows")
    val (nTotal, vocab, unit, order) = meta.head
    require(order == 2, s"LM at $path has lm_order=$order, expected 2")
    val uniCnt = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_uni",
        "tok" -> STyp, "cnt" -> LTyp)
      .map(r => (r.getString(0), r.getLong(1)))
    require(uniCnt.size == vocab,
      s"LM table at $path/lm_uni has ${uniCnt.size} rows, meta says $vocab")
    require(uniCnt.iterator.map(_._1).toSet.size == uniCnt.size,
      s"LM table at $path/lm_uni has duplicate tokens")
    require(uniCnt.iterator.map(_._2).sum == nTotal,
      s"LM table at $path/lm_uni sums != meta n_total $nTotal")
    val bigCnt = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_big",
        "p" -> STyp, "c" -> STyp, "cnt" -> LTyp)
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    require(bigCnt.iterator.map(_._1).toSet.size == bigCnt.size,
      s"LM table at $path/lm_big has duplicate pairs")
    BigramLm(uniCnt, bigCnt, nTotal, vocab, unit)
  }

  /** Train a [[TrigramLm]] on `df` — [[trainBigramLm]]'s contract one
    * order up: THROWS past any cap (a frozen artifact must collect;
    * train on a sampled reference corpus, the CCNet recipe). One
    * tokenize pass feeds all three count frames. `minTrigramCount` > 1
    * is the KenLM-style pruning knob at this order (singleton triples
    * dominate an open-vocabulary trigram table even harder than pairs
    * do the bigram one); a pruned triple scores as UNSEEN. */
  def trainTrigramLm(df: DataFrame, textCol: String,
                     tokensOf: Column => Column = TextFns.tokens,
                     unit: String = "words",
                     maxLocalVocab: Int = 2000000,
                     maxLocalBigrams: Int = 4000000,
                     maxLocalTrigrams: Int = 4000000,
                     minTrigramCount: Long = 1L): TrigramLm = {
    val base = df.select(tokensOf(col(textCol)).as("__toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val uni = base.select(explode(col("__toks")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      val uRows = uni.limit(maxLocalVocab + 1).collect()
      require(uRows.length <= maxLocalVocab,
        s"vocabulary exceeds maxLocalVocab=$maxLocalVocab — a frozen LM " +
          "artifact must collect; train on a sampled reference corpus")
      val sz = org.apache.spark.sql.functions.size(col("__toks"))
      val big = base
        .select(explode(when(sz >= 2,
          zip_with(slice(col("__toks"), lit(1), sz - 1),
            slice(col("__toks"), lit(2), sz - 1),
            (a, b) => struct(a.as("p"), b.as("c"))))).as("__pc"))
        .select(col("__pc.p").as("__p"), col("__pc.c").as("__c"))
        .groupBy(col("__p"), col("__c")).agg(count(lit(1)).as("bcnt"))
      val bRows = big.limit(maxLocalBigrams + 1).collect()
      require(bRows.length <= maxLocalBigrams,
        s"distinct bigrams exceed maxLocalBigrams=$maxLocalBigrams — a " +
          "frozen LM artifact must collect; train on a sampled reference " +
          "corpus (the CCNet recipe)")
      val tri = base
        .select(explode(when(sz >= 3, transform(sequence(lit(3), sz), i =>
          struct(element_at(col("__toks"), i - 2).as("p2"),
            element_at(col("__toks"), i - 1).as("p1"),
            element_at(col("__toks"), i).as("c"))))).as("__t"))
        .select(col("__t.p2").as("__p2"), col("__t.p1").as("__p1"),
          col("__t.c").as("__c"))
        .groupBy(col("__p2"), col("__p1"), col("__c"))
        .agg(count(lit(1)).as("tcnt"))
        .filter(col("tcnt") >= minTrigramCount)
      val tRows = tri.limit(maxLocalTrigrams + 1).collect()
      require(tRows.length <= maxLocalTrigrams,
        s"distinct trigrams exceed maxLocalTrigrams=$maxLocalTrigrams — a " +
          "frozen LM artifact must collect; train on a sampled reference " +
          "corpus (the CCNet recipe)")
      val uniCnt = uRows.iterator
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      TrigramLm(uniCnt,
        bRows.iterator
          .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq,
        tRows.iterator
          .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
            r.getLong(3))).toSeq,
        nTotal = uniCnt.iterator.map(_._2).sum,
        vocab = uniCnt.size.toLong, unit = unit)
    } finally base.unpersist()
  }

  /** Persist a [[TrigramLm]]: the [[saveBigramLm]] layout plus
    * `$path/lm_tri` = (p2, p1, c, cnt) and meta `lm_order` = 3. */
  def saveTrigramLm(spark: SparkSession, lm: TrigramLm, path: String): Unit = {
    import spark.implicits._
    lm.uniCnt.toDF("tok", "cnt").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_uni")
    lm.bigCnt.map { case ((p, c), v) => (p, c, v) }
      .toDF("p", "c", "cnt").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_big")
    lm.triCnt.map { case ((p2, p1, c), v) => (p2, p1, c, v) }
      .toDF("p2", "p1", "c", "cnt").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_tri")
    Seq((lm.nTotal, lm.vocab, lm.unit, 3))
      .toDF("n_total", "vocab", "unit", "lm_order").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/lm_meta")
  }

  /** Load a [[saveTrigramLm]] artifact, re-validating invariants loudly
    * (the [[loadUnigramLm]] policy). */
  def loadTrigramLm(spark: SparkSession, path: String): TrigramLm = {
    import spark.implicits._
    val meta = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_meta",
        "n_total" -> LTyp, "vocab" -> LTyp, "unit" -> STyp,
        "lm_order" -> ITyp)
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3)))
    require(meta.length == 1, s"LM meta at $path/lm_meta has ${meta.length} rows")
    val (nTotal, vocab, unit, order) = meta.head
    require(order == 3, s"LM at $path has lm_order=$order, expected 3")
    val uniCnt = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_uni",
        "tok" -> STyp, "cnt" -> LTyp)
      .map(r => (r.getString(0), r.getLong(1)))
    require(uniCnt.size == vocab,
      s"LM table at $path/lm_uni has ${uniCnt.size} rows, meta says $vocab")
    require(uniCnt.iterator.map(_._1).toSet.size == uniCnt.size,
      s"LM table at $path/lm_uni has duplicate tokens")
    require(uniCnt.iterator.map(_._2).sum == nTotal,
      s"LM table at $path/lm_uni sums != meta n_total $nTotal")
    val bigCnt = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_big",
        "p" -> STyp, "c" -> STyp, "cnt" -> LTyp)
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    require(bigCnt.iterator.map(_._1).toSet.size == bigCnt.size,
      s"LM table at $path/lm_big has duplicate pairs")
    val triCnt = graft.util.ArtifactIO.readLocal(spark, s"$path/lm_tri",
        "p2" -> STyp, "p1" -> STyp, "c" -> STyp, "cnt" -> LTyp)
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3)))
    require(triCnt.iterator.map(_._1).toSet.size == triCnt.size,
      s"LM table at $path/lm_tri has duplicate triples")
    TrigramLm(uniCnt, bigCnt, triCnt, nTotal, vocab, unit)
  }

  /** Layout-detecting load: meta `lm_order` = 3 → [[TrigramLm]], 2 →
    * [[BigramLm]]; a meta without the column is the legacy unigram
    * layout. The streaming gate points `lmPath` here so one config key
    * accepts any persisted order. */
  def loadLm(spark: SparkSession, path: String): FrozenLm = {
    // layout detection from the parquet FOOTER (zero Spark jobs): the
    // column SET is the information — no schema-inference job, no
    // 1-row collect job (r18)
    val cols = graft.util.ArtifactIO.localColumns(spark, s"$path/lm_meta")
    if (!cols.contains("lm_order")) loadUnigramLm(spark, path)
    else graft.util.ArtifactIO.readLocal(spark, s"$path/lm_meta",
        "lm_order" -> ITyp) match {
      case rows if rows.length == 1 && rows(0).getInt(0) == 3 =>
        loadTrigramLm(spark, path)
      case rows if rows.length == 1 && rows(0).getInt(0) == 2 =>
        loadBigramLm(spark, path)
      case rows => throw new IllegalStateException(
        s"LM meta at $path/lm_meta: unsupported lm_order rows " +
          rows.map(_.toString).mkString(","))
    }
  }

  /** Score `text` under a FROZEN [[BigramLm]]: (n_terms, lp_sum) over
    * the conditional stream, unseen tokens/pairs priced from the same
    * add-one interpolation with count 0 — one zero-shuffle codegen
    * call, the day-2 scoring path one order up from [[frozenScore]]. */
  def frozenBigramScore(text: Column, lm: BigramLm,
                        tokensOf: Column => Column = TextFns.tokens): Column = {
    // the probe tables BROADCAST (fetched once per executor, shared by
    // its tasks) instead of riding the plan as a literal — a reference
    // object deserializes once per TASK, and a multi-million-entry
    // bigram table × 32 concurrent tasks OOMs the JVM (measured; see
    // FrozenBigramTables). One broadcast per column construction: build
    // the column once and reuse it.
    val bc = SparkSession.active.sparkContext.broadcast(
      graft.functions.FrozenBigramTables.build(lm.uniCnt, lm.bigCnt))
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.FrozenBigramScoreExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(tokensOf(text)),
        bc, lm.nTotal, lm.vocab))
  }

  /** [[frozenBigramScore]] reduced to the xent value (6-dp, NULL for
    * docs with < 2 tokens — the [[withBigramXent]] contract). */
  def frozenBigramXent(text: Column, lm: BigramLm,
                       tokensOf: Column => Column = TextFns.tokens): Column = {
    val s = frozenBigramScore(text, lm, tokensOf)
    when(s.getField("n_terms") > 0,
      round(s.getField("lp_sum").cast("double")
        / (s.getField("n_terms") * 1e6), 6))
  }

  /** Score `text` under a FROZEN [[TrigramLm]]: (n_terms, lp_sum) over
    * the order-3 conditional stream, unseen tokens/pairs/triples priced
    * from the same add-one interpolation with count 0 — one zero-shuffle
    * codegen call. Tables BROADCAST (the [[frozenBigramScore]]
    * rationale, with a strictly bigger table). */
  def frozenTrigramScore(text: Column, lm: TrigramLm,
                         tokensOf: Column => Column = TextFns.tokens): Column = {
    val bc = SparkSession.active.sparkContext.broadcast(
      graft.functions.FrozenTrigramTables.build(lm.uniCnt, lm.bigCnt,
        lm.triCnt))
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.FrozenTrigramScoreExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(tokensOf(text)),
        bc, lm.nTotal, lm.vocab))
  }

  /** [[frozenTrigramScore]] reduced to the xent value (6-dp, NULL for
    * docs with < 3 tokens — the [[trigramCrossEntropy]] omission
    * contract, as a column). */
  def frozenTrigramXent(text: Column, lm: TrigramLm,
                        tokensOf: Column => Column = TextFns.tokens): Column = {
    val s = frozenTrigramScore(text, lm, tokensOf)
    when(s.getField("n_terms") > 0,
      round(s.getField("lp_sum").cast("double")
        / (s.getField("n_terms") * 1e6), 6))
  }

  /** Order-dispatching frozen xent: the one call sites with a
    * [[loadLm]] result use (streaming gate, pipeline sampled mode). */
  def frozenXentOf(text: Column, lm: FrozenLm,
                   tokensOf: Column => Column = TextFns.tokens): Column =
    lm match {
      case u: UnigramLm => frozenXent(text, u, tokensOf)
      case b: BigramLm  => frozenBigramXent(text, b, tokensOf)
      case t: TrigramLm => frozenTrigramXent(text, t, tokensOf)
    }

  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                          tokensOf: Column => Column = TextFns.tokens,
                          maxLocalVocab: Int = 2000000): DataFrame = {
    val toksDf = df.select(col(idCol),
        explode(tokensOf(col(textCol))).as("tok"))
    val counts = toksDf.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    if (maxLocalVocab > 0) {
      val lpLocal = collectUnigramLp(df, counts, maxLocalVocab)
      if (lpLocal.isDefined) {
        return df.select(col(idCol),
            org.apache.spark.sql.graft.ExprBridge.column(
              graft.functions.UnigramScoreExpr(
                org.apache.spark.sql.graft.ExprBridge.expression(
                  tokensOf(col(textCol))), lpLocal.get)).as("__s"))
          .select(col(idCol), col("__s.n_tokens").as("n_tokens"),
            col("__s.lp_sum").as("lp_sum"))
          .filter(col("n_tokens") > 0) // empty docs omitted, as distributed
          .select(col(idCol), col("n_tokens"),
            round(col("lp_sum").cast("double") / (col("n_tokens") * 1e6), 6)
              .as("xent"),
            round(exp(col("lp_sum").cast("double") / (col("n_tokens") * 1e6)), 4)
              .as("ppl"))
      }
    }
    val totals = counts.agg(
      sum(col("cnt")).as("n_total"), count(lit(1)).as("vocab"))
    val lp = toksDf.join(counts, "tok")
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        lpOf(col("cnt"), col("n_total"), col("vocab")).as("lp_i"))
    lp.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_tokens"),
        sum(col("lp_i")).as("lp_sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("lp_sum").cast("double") / (col("n_tokens") * 1e6), 6)
          .as("xent"),
        round(exp(col("lp_sum").cast("double") / (col("n_tokens") * 1e6)), 4)
          .as("ppl"))
  }

  /** Per-document cross-entropy under a corpus-trained INTERPOLATED
    * BIGRAM LM — one Markov order up from [[unigramCrossEntropy]], the
    * shape CCNet actually runs (KenLM is an n-gram model, not a unigram
    * bag: "the the the" is perfectly fluent to a unigram LM and
    * gibberish to any n-gram model). For each position i ≥ 2:
    *
    *   P(t_i | t_{i-1}) = ½·(c₂(t_{i-1},t_i)+1)/(c₁(t_{i-1})+V)
    *                    + ½·(c₁(t_i)+1)/(N+V)
    *
    * — an add-one bigram estimate interpolated (Jelinek-Mercer, fixed
    * λ=½) with the add-one unigram, so unseen continuations of a seen
    * context still get calibrated mass. xent(d) = mean over the doc's
    * n−1 conditional positions of −ln P; documents with < 2 tokens are
    * omitted (no conditional evidence). Output:
    * (idCol, n_terms, xent, ppl).
    *
    * Determinism: −ln P is quantized to 1e-6 fixed point (bigint) per
    * position BEFORE the per-doc sum (the object doc's contract); the
    * interpolation arithmetic is a fixed left-associated expression
    * (`0.5·(c₂+1)/(c₁p+V) + 0.5·(c₁c+1)/(N+V)` over integer-valued
    * doubles) that the DuckDB oracle replays verbatim.
    *
    * 100 TB: the conditional stream is derived IN the scan (zip_with of
    * two slices — no second tokenize, no struct explode until the count
    * aggregate); counts are two map-side-combined hash aggregates
    * (vocab- and distinct-bigram-bounded — both Zipf-small relative to
    * corpus positions); scoring joins are all count-frame-sided, so AQE
    * promotes them to broadcast probes exactly as q76's. LOCAL-LM fast
    * path: when the distinct bigram set fits `maxLocalBigrams`, the
    * (prev,cur) → lp_i table is computed BY Catalyst on the collected
    * count rows (same `lpInterp` expression as the distributed branch —
    * the paths cannot diverge on rounding) and the scoring pass becomes
    * ONE zero-shuffle codegen call ([[graft.functions.BigramScoreExpr]]:
    * two O(1) probes per position, exact integer sum, loud throw on a
    * tokensOf mismatch). Past the threshold the distributed plan runs
    * unchanged — degrade, don't die, the unigram discipline. */
  /** lp_i = round(-ln(½(bcnt+1)/(pcnt+V) + ½(ccnt+1)/(N+V)) · 1e6): ONE
    * expression builder for the local and distributed bigram branches —
    * bit-parity by construction. */
  private def lpInterp(bcnt: Column, pcnt: Column, ccnt: Column,
                       nTotal: Column, vocab: Column): Column =
    round(-log(
      lit(0.5) * (bcnt + lit(1)).cast("double") / (pcnt + vocab).cast("double")
        + lit(0.5) * (ccnt + lit(1)).cast("double") / (nTotal + vocab).cast("double")
    ) * 1e6).cast("long")

  /** The local bigram-LM table: collect the distinct-bigram count frame
    * (and the unigram frame) and compute (prev, cur) -> lp_i BY Catalyst
    * on the collected rows (same [[lpInterp]] expression as the
    * distributed branch). None past `maxLocalBigrams` — the cap bounds
    * BOTH collects: "vocab ≤ bigrams" is NOT a theorem (a corpus
    * dominated by single-token documents grows vocabulary without
    * growing bigrams), so the unigram frame gets the same limit+check
    * instead of an unbounded collect (r13 ADVICE). */
  private def collectBigramLpFrames(df: DataFrame, uni: DataFrame,
                                    big: DataFrame, maxLocalBigrams: Int)
      : Option[Seq[((String, String), Long)]] = {
    val bRows = big.limit(maxLocalBigrams + 1).collect()
    if (bRows.length > maxLocalBigrams) return None
    val spark = df.sparkSession
    import spark.implicits._
    val uRows = uni.limit(maxLocalBigrams + 1).collect()
    if (uRows.length > maxLocalBigrams) return None
    val cntOf = uRows.iterator
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nTotal = uRows.iterator.map(_.getLong(1)).sum
    val vocabN = uRows.length.toLong
    Some(bRows.iterator
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        cntOf(r.getString(0)), cntOf(r.getString(1))))
      .toSeq.toDF("__p", "__c", "bcnt", "pcnt", "ccnt")
      .select(col("__p"), col("__c"),
        lpInterp(col("bcnt"), col("pcnt"), col("ccnt"),
          lit(nTotal), lit(vocabN)))
      .as[(String, String, Long)].collect()
      .map { case (p, c, v) => ((p, c), v) }.toSeq)
  }

  /** [[collectBigramLpFrames]] with the count frames derived from `df`
    * (for callers outside [[bigramCrossEntropy]]'s plan, e.g.
    * [[withBigramXent]]). */
  private def collectBigramLp(df: DataFrame, textCol: String,
                              tokensOf: Column => Column,
                              maxLocalBigrams: Int)
      : Option[Seq[((String, String), Long)]] = {
    val base = df.select(tokensOf(col(textCol)).as("__toks"))
    val uni = base.select(explode(col("__toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val sz = org.apache.spark.sql.functions.size(col("__toks"))
    val big = base
      .select(explode(when(sz >= 2,
        zip_with(slice(col("__toks"), lit(1), sz - 1),
          slice(col("__toks"), lit(2), sz - 1),
          (a, b) => struct(a.as("p"), b.as("c"))))).as("__pc"))
      .select(col("__pc.p").as("__p"), col("__pc.c").as("__c"))
      .groupBy(col("__p"), col("__c")).agg(count(lit(1)).as("bcnt"))
    collectBigramLpFrames(df, uni, big, maxLocalBigrams)
  }

  // Local-path cap default RETUNED from 4M (r14, interleaved A/B in
  // `scaling/r14/newops_sweep.json`, "triab_order2"): the
  // collected-kernel path wins only while the bigram table is small
  // (270k tokens: 0.91 s local vs 1.11 distributed) and LOSES 5x once
  // the table reaches millions (2.9M tokens / ~1.9M bigrams: 29.3 local
  // vs 5.9 distributed — driver collect + map build + broadcast
  // dominate). 500k keeps the winning regime and hands the cliff to the
  // distributed plan.
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                         tokensOf: Column => Column = TextFns.tokens,
                         maxLocalBigrams: Int = 500000): DataFrame = {
    val base = df.select(col(idCol), tokensOf(col(textCol)).as("__toks"))
    val toksDf = base.select(col(idCol), explode(col("__toks")).as("tok"))
    val uni = toksDf.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // conditional stream: (prev, cur) at positions 2..n, derived in-scan
    val pairsOf = (toksC: Column) =>
      when(org.apache.spark.sql.functions.size(toksC) >= 2,
        zip_with(
          slice(toksC, lit(1), org.apache.spark.sql.functions.size(toksC) - 1),
          slice(toksC, lit(2), org.apache.spark.sql.functions.size(toksC) - 1),
          (a, b) => struct(a.as("p"), b.as("c"))))
    val pairsDf = base
      .select(col(idCol), explode(pairsOf(col("__toks"))).as("__pc"))
      .select(col(idCol), col("__pc.p").as("__p"), col("__pc.c").as("__c"))
    val big = pairsDf.groupBy(col("__p"), col("__c"))
      .agg(count(lit(1)).as("bcnt"))
    def finish(scored: DataFrame): DataFrame =
      scored.groupBy(col(idCol))
        .agg(count(lit(1)).cast("int").as("n_terms"),
          sum(col("lp_i")).as("lp_sum"))
        .select(col(idCol), col("n_terms"),
          round(col("lp_sum").cast("double") / (col("n_terms") * 1e6), 6)
            .as("xent"),
          round(exp(col("lp_sum").cast("double") / (col("n_terms") * 1e6)), 4)
            .as("ppl"))
    if (maxLocalBigrams > 0) {
      val lpLocal = collectBigramLpFrames(df, uni, big, maxLocalBigrams)
      if (lpLocal.isDefined) {
        val bc = df.sparkSession.sparkContext.broadcast(
          graft.functions.BigramLpTable.build(lpLocal.get))
        return df.select(col(idCol),
            org.apache.spark.sql.graft.ExprBridge.column(
              graft.functions.BigramScoreExpr(
                org.apache.spark.sql.graft.ExprBridge.expression(
                  tokensOf(col(textCol))), bc)).as("__s"))
          .select(col(idCol), col("__s.n_terms").as("n_terms"),
            col("__s.lp_sum").as("lp_sum"))
          .filter(col("n_terms") > 0) // < 2 tokens omitted, as distributed
          .select(col(idCol), col("n_terms"),
            round(col("lp_sum").cast("double") / (col("n_terms") * 1e6), 6)
              .as("xent"),
            round(exp(col("lp_sum").cast("double") / (col("n_terms") * 1e6)), 4)
              .as("ppl"))
      }
    }
    val totals = uni.agg(
      sum(col("cnt")).as("n_total"), count(lit(1)).as("vocab"))
    val scored = pairsDf
      .join(uni.select(col("tok").as("__p"), col("cnt").as("pcnt")), Seq("__p"))
      .join(uni.select(col("tok").as("__c"), col("cnt").as("ccnt")), Seq("__c"))
      .join(big, Seq("__p", "__c"))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        lpInterp(col("bcnt"), col("pcnt"), col("ccnt"),
          col("n_total"), col("vocab")).as("lp_i"))
    finish(scored)
  }

  /** [[bigramCrossEntropy]]'s xent appended as a COLUMN on `df` — the
    * bigram twin of [[withUnigramXent]] (same no-join rationale).
    * Documents with < 2 tokens get NULL (no conditional evidence —
    * exactly the left join's null for rows [[bigramCrossEntropy]]
    * omits). Past `maxLocalBigrams` degrades to the join shape over the
    * distributed three-join plan, result-identical. */
  def withBigramXent(df: DataFrame, idCol: String, textCol: String,
                     outCol: String = "xent",
                     tokensOf: Column => Column = TextFns.tokens,
                     maxLocalBigrams: Int = 500000): DataFrame = {
    if (maxLocalBigrams > 0) {
      val lpLocal = collectBigramLp(df, textCol, tokensOf, maxLocalBigrams)
      if (lpLocal.isDefined) {
        val bc = df.sparkSession.sparkContext.broadcast(
          graft.functions.BigramLpTable.build(lpLocal.get))
        val s = org.apache.spark.sql.graft.ExprBridge.column(
          graft.functions.BigramScoreExpr(
            org.apache.spark.sql.graft.ExprBridge.expression(
              tokensOf(col(textCol))), bc))
        return df.withColumn(outCol,
          when(s.getField("n_terms") > 0,
            round(s.getField("lp_sum").cast("double")
              / (s.getField("n_terms") * 1e6), 6)))
      }
    }
    df.join(
      bigramCrossEntropy(df, idCol, textCol, tokensOf = tokensOf,
          maxLocalBigrams = 0)
        .select(col(idCol), col("xent").as(outCol)),
      Seq(idCol), "left")
  }

  /** Fixed-point -ln P_interp(c | p2 p1) at Markov order 3: equal-weight
    * add-one interpolation of trigram, bigram and unigram evidence —
    * [[lpInterp]]'s recipe one order up (KenLM's deployed filters are
    * n-gram models; this is the n=3 rung of that ladder). Same
    * association order on both engine paths and in the oracle SQL. */
  private def lpInterp3(tcnt: Column, ctxcnt: Column, bcnt: Column,
                        pcnt: Column, ccnt: Column,
                        nTotal: Column, vocab: Column): Column =
    round(-log(
      lit(1.0 / 3) * (tcnt + lit(1)).cast("double") / (ctxcnt + vocab).cast("double")
        + lit(1.0 / 3) * (bcnt + lit(1)).cast("double") / (pcnt + vocab).cast("double")
        + lit(1.0 / 3) * (ccnt + lit(1)).cast("double") / (nTotal + vocab).cast("double")
    ) * 1e6).cast("long")

  /** Interpolated TRIGRAM-LM cross-entropy per document — the order-3
    * rung of the [[unigramCrossEntropy]]/[[bigramCrossEntropy]] ladder
    * (KenLM's deployed corpus filters run at order ≥ 3; a bigram model
    * can't see that "a b a c a" and "a c a b a" — identical bigram
    * MULTISETS — differ in word order). Each position 3..n contributes
    * -ln of the equal-weight add-one interpolation of trigram, bigram
    * and unigram evidence, fixed-point-quantized BEFORE the per-doc sum.
    * Documents with < 3 tokens are omitted (no order-3 conditional
    * evidence). Output: (idCol, n_terms, xent, ppl).
    *
    * 100 TB design: three count aggregations (all map-side-combined,
    * keyed by token/pair/triple) and five joins probing them. Unlike the
    * unigram/bigram orders there is no collected-table kernel path: a
    * 3-token context almost never repeats, so the distinct-trigram table
    * tracks the POSITION count instead of compressing Zipf-style, and a
    * collected table lost at every size measured (local[32],
    * `scaling/r14/newops_sweep.json` "triab_order3"; 270k tokens: 1.34 s
    * distributed vs 1.50 collected; 2.9M tokens: 9.4 vs 53.4 — the
    * driver collect + nested-map build + broadcast dominates). Broadcasting only the uni/bigram side tables lost too
    * (interleaved one-JVM A/B at sf0.1, `scaling/r18/triab18.txt`:
    * 2.34 s vs 1.71 s distributed): AQE already promotes the small side
    * joins to broadcast hash joins and ReuseExchange dedupes the two uni
    * and two big subtrees (OPTIMIZATION_r18.md). */
  def trigramCrossEntropy(df: DataFrame, idCol: String, textCol: String,
                          tokensOf: Column => Column = TextFns.tokens): DataFrame = {
    val base = df.select(col(idCol), tokensOf(col(textCol)).as("__toks"))
    val uni = base.select(explode(col("__toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val pairsOf = (toksC: Column) => {
      val n = org.apache.spark.sql.functions.size(toksC)
      when(n >= 2,
        zip_with(slice(toksC, lit(1), n - 1), slice(toksC, lit(2), n - 1),
          (a, b) => struct(a.as("p"), b.as("c"))))
    }
    val big = base.select(explode(pairsOf(col("__toks"))).as("__pc"))
      .select(col("__pc.p").as("__p"), col("__pc.c").as("__c"))
      .groupBy(col("__p"), col("__c")).agg(count(lit(1)).as("bcnt"))
    val tripsOf = (toksC: Column) => {
      val n = org.apache.spark.sql.functions.size(toksC)
      when(n >= 3, transform(sequence(lit(3), n), i =>
        struct(element_at(toksC, i - 2).as("p2"),
          element_at(toksC, i - 1).as("p1"),
          element_at(toksC, i).as("c"))))
    }
    val tripsDf = base
      .select(col(idCol), explode(tripsOf(col("__toks"))).as("__t"))
      .select(col(idCol), col("__t.p2").as("__p2"),
        col("__t.p1").as("__p1"), col("__t.c").as("__c"))
    val tri = tripsDf.groupBy(col("__p2"), col("__p1"), col("__c"))
      .agg(count(lit(1)).as("tcnt"))
    val totals = uni.agg(
      sum(col("cnt")).as("n_total"), count(lit(1)).as("vocab"))
    val scored = tripsDf
      .join(uni.select(col("tok").as("__p1"), col("cnt").as("pcnt")),
        Seq("__p1"))
      .join(uni.select(col("tok").as("__c"), col("cnt").as("ccnt")),
        Seq("__c"))
      .join(big.select(col("__p").as("__p2"), col("__c").as("__p1"),
        col("bcnt").as("ctxcnt")), Seq("__p2", "__p1"))
      .join(big.select(col("__p").as("__p1"), col("__c"),
        col("bcnt").as("bcnt")), Seq("__p1", "__c"))
      .join(tri, Seq("__p2", "__p1", "__c"))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        lpInterp3(col("tcnt"), col("ctxcnt"), col("bcnt"), col("pcnt"),
          col("ccnt"), col("n_total"), col("vocab")).as("lp_i"))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum(col("lp_i")).as("lp_sum"))
      .select(col(idCol), col("n_terms"),
        round(col("lp_sum").cast("double") / (col("n_terms") * 1e6), 6)
          .as("xent"),
        round(exp(col("lp_sum").cast("double") / (col("n_terms") * 1e6)), 4)
          .as("ppl"))
  }

  /** CCNet-style perplexity bucketing: every document assigned to one of
    * `nBuckets` equal-population bands (bucket 1 = most fluent /
    * lowest cross-entropy) by its rank under the corpus unigram LM —
    * CCNet's head/middle/tail split at nBuckets=3, generalized. Output:
    * (idCol, n_tokens, xent, ppl, bucket).
    *
    * Rank semantics are exactly SQL `ntile(n) OVER (ORDER BY xent, id)`
    * — leading buckets take the remainder — but the rank is computed
    * with [[PrefixSum]]'s two-phase parallel scan over a sortable
    * composite key (zero-padded fixed-point xent ‖ id), NOT a
    * SinglePartition window: floor((rank−1)·n / N) reproduces ntile's
    * assignment while both shuffles stay range-partitioned. xent ≥ 0
    * always (−ln P of a probability), so the zero-padded key order is
    * the numeric order.
    *
    * Id tie-break encoding: an integral `idCol` is keyed as the 16-hex
    * encoding of `id XOR Long.MinValue` — the sign-bit flip maps signed
    * order onto unsigned/lexicographic order, so the FULL Long range
    * (negatives included) ranks numerically with no padding assumption.
    * A string id is appended raw: the xent prefix is fixed-width, so
    * whole-key comparison is exactly (xent, id) lexicographic. (The
    * previous `lpad(id, 20)` silently TRUNCATED >20-char ids and
    * mis-ordered negatives — Spark's lpad cuts, it never errors.) */
  def perplexityBuckets(spark: org.apache.spark.sql.SparkSession,
                        df: DataFrame, idCol: String, textCol: String,
                        nBuckets: Int = 3,
                        tokensOf: Column => Column = TextFns.tokens): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}
    val isIntegral = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case StringType => false
      case other => throw new IllegalArgumentException(
        s"perplexityBuckets: idCol '$idCol' must be integral or string " +
          s"for a well-defined ntile tie-break, got $other")
    }
    val idKey =
      if (isIntegral)
        lpad(hex(col(idCol).cast("long").bitwiseXOR(lit(Long.MinValue))), 16, "0")
      else col(idCol)
    val xent = unigramCrossEntropy(df, idCol, textCol, tokensOf = tokensOf)
    // round BEFORE the long cast: xent is a 6-decimal value whose binary
    // double can sit just under the integer (3.456789e6 = 3456788.999…);
    // a bare cast truncates and would collide adjacent keys that the
    // oracle's ORDER BY xent keeps distinct.
    val keyed = xent.withColumn("__k",
        concat(lpad(round(col("xent") * 1e6).cast("long").cast("string"), 14, "0"),
          lit(":"), idKey))
      .withColumn("__one", lit(1L))
    // N comes out of the prefix sum's own phase-2 totals (r17) — the
    // previous shape re-ran the whole post-checkpoint window subtree
    // under a max() aggregate to derive it (the q79/q95 before-plans
    // show the doubled subtree + the crossJoin that glued it back)
    val (ranked, grand) = PrefixSum.withRunningTotalAndGrand(spark, keyed,
      orderCol = "__k", valueCol = "__one", outCol = "__rank")
    ranked
      .select(col(idCol), col("n_tokens"), col("xent"), col("ppl"),
        // integer `div`, not Column `/` (double division — the Sharding
        // lesson): floor((rank-1)*n/N) + 1 is ntile's bucket
        (expr(s"((__rank - 1) * $nBuckets) div $grand") + 1)
          .cast("int").as("bucket"))
  }
}

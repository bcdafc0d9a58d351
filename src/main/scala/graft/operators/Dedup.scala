package graft.operators

import graft.functions.{ShingleKernel, TextFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators: the reference's keyed dedups (SURVEY.md §2.6
  * A3–A5, §2.5 J4) plus the LLM-corpus near-dup family (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard) from the north star.
  *
  * Scale design (100 TB):
  *  - every candidate-generation step is a key-partitioned shuffle (band
  *    bucket / bit chunk / content hash), never a cross join;
  *  - signatures are computed in one pass over an exploded shingle frame —
  *    map-side partial min aggregation means the shuffle carries k longs per
  *    doc, not the shingles;
  *  - pathological LSH buckets (stopword-like shingles, near-constant docs)
  *    are capped by `maxBucketSize` — a documented recall/robustness tradeoff
  *    that prevents a single hot bucket from producing O(n^2) pairs.
  */
object Dedup {

  /** A3/A4 (00_performance_data_cleaner.py:110, 00_master_list_cleaner.py:75-77):
    * keyed dedup with explicit deterministic priority — `keep first by order`.
    * Spark's dropDuplicates is nondeterministic under shuffle; a window +
    * row_number pins the survivor. */
  def keyedKeepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact content dedup: group by fingerprint, keep the lowest id.
    * Output: one row per distinct content with its surviving id and the
    * duplicate count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFns.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  // ---------------------------------------------------------------- MinHash

  // token/shingle hashing delegates to the shared compiled kernel
  // (graft.functions.ShingleKernel) — one implementation feeds the UDF
  // path, the native ShingleSetExpr codegen path, and the MinHash/SimHash
  // families below
  @inline private def mix64(z0: Long): Long = ShingleKernel.mix64(z0)
  @inline private def hashString(s: String): Long = ShingleKernel.hashString(s)

  /** Non-distinct hashed word-shingle LIST per document (`array<long>`) —
    * the frequency-preserving sibling of [[shingleSets]], for consumers
    * that weight by occurrence (corpus-frequency scoring). Same compiled
    * kernel rationale: the equivalent nested higher-order expressions are
    * CodegenFallback AND re-evaluate the token-hash subtree per output
    * element — O(tokens^2) per document interpreted, vs this linear loop.
    * Backed by the NATIVE Catalyst expression
    * ([[graft.functions.ShingleListExpr]]) since round 6 — the last
    * hot-path ScalaUDF in the dedup family, now inside whole-stage
    * codegen like its distinct sibling. */
  def shingleLists(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int): DataFrame =
    df.select(col(idCol), shingleListCol(col(textCol), shingleN).as("shlist"))

  /** The compiled frequency-preserving shingle kernel as a reusable
    * Column — native-codegen twin of [[shingleSetCol]]. */
  def shingleListCol(text: Column, shingleN: Int): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.ShingleListExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(text), shingleN))

  /** Distinct HASHED word-shingle set per document (`array<long>`) — the
    * shared basis of the Jaccard family, ONE narrow compiled projection
    * (no explode, no shuffle). Hashed shingles keep every downstream
    * distinct/join/shuffle in integer land, with set semantics identical
    * to string shingles modulo a ~2^-64 per-pair collision. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int): DataFrame =
    df.select(col(idCol), shingleSetCol(col(textCol), shingleN).as("shset"))

  /** The compiled distinct-shingle kernel as a reusable Column — backed
    * by the NATIVE Catalyst expression ([[graft.functions.ShingleSetExpr]]):
    * its doGenCode emits a direct static call into the kernel, so the
    * projection stays inside the whole-stage-codegen span instead of
    * paying the ScalaUDF encoder boundary per row. */
  def shingleSetCol(text: Column, shingleN: Int): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      graft.functions.ShingleSetExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(text), shingleN))

  /** MinHash signatures: k independent hash functions simulated as
    * splitmix64(seed_i ^ shingle); signature_i = min over the doc's shingle
    * set. Computed per-row by a compiled kernel (narrow, zero shuffle) —
    * at 100 TB this pipelines with the parquet scan instead of paying an
    * explode + k-column groupBy shuffle. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingleN: Int = 3): DataFrame =
    minhashSignaturesFromSets(
      shingleSets(df, idCol, textCol, shingleN), idCol, numHashes)

  /** Signature kernel over a precomputed `shset` frame — lets callers that
    * already hold the shingle sets (minhashDedup) reuse them instead of
    * re-shingling the corpus per consumer. Native codegen expression
    * ([[graft.functions.MinHashSigExpr]]), same rationale as
    * [[shingleSetCol]]: the k-hash min loop runs inside the whole-stage
    * span, no ScalaUDF array re-encoding per row. */
  def minhashSignaturesFromSets(sets: DataFrame, idCol: String,
                                numHashes: Int): DataFrame =
    sets.select(col(idCol),
      org.apache.spark.sql.graft.ExprBridge.column(
        graft.functions.MinHashSigExpr(
          org.apache.spark.sql.graft.ExprBridge.expression(col("shset")),
          numHashes)).as("signature"))

  /** Exploded (id, band, bucket) frame of a signature table: bucket =
    * xxhash64 of the band's signature slice. Factored out so the
    * incremental path can bucket the batch and the persisted index with
    * the SAME expression — a deployment materializes this frame for its
    * index (partitioned by band / bucket-mod) and band-bucket probes
    * become partition pruning. */
  def bandBuckets(signatures: DataFrame, idCol: String,
                  bands: Int, numHashes: Int): DataFrame = {
    // numHashes is a caller-supplied parameter: deriving it from the data
    // (head() on the signature frame) would run an extra driver-side Spark
    // job recomputing the signature kernel, and throw on an empty corpus.
    // Derivation shape (r13): posexplode of an array<long> — the band IS
    // the position — instead of exploding an array<struct>: identical
    // (id, band, bucket) output schema (the index/sidecar on-disk
    // contract is unchanged), but the per-row struct allocation and
    // struct-row explode are gone — measured at rich32 (51M bucket rows)
    // the candidate phase dropped 32.8 -> 10.6 s on this change alone.
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      xxhash64(slice(col("signature"), b * rows + 1, rows))
    }
    signatures
      .select(col(idCol), posexplode(array(bandCols: _*)).as(Seq("band", "bucket")))
  }

  /** LSH banding: signature split into `bands` bands of k/bands rows; docs
    * sharing any band bucket become candidate pairs. Returns distinct
    * (id_a, id_b) with id_a < id_b, EAGERLY materialized (the pair set
    * is match-sized; eager checkpointing is what lets downstream
    * consumers reuse it without re-running candidate generation — the
    * [[minhashDedup]] discipline).
    *
    * Shape (r12, profiled step-by-step at rich16 — 800k docs, 25.6M
    * bucket rows, 49.7k colliding):
    *  1. one pass aggregates (count, min, max) per bucket — FIXED-WIDTH,
    *     so the whole frame runs in the codegen HashAggregate (~4 s; a
    *     direct `collect_list` here rode ObjectHashAggregate, whose
    *     sort-based fallback after a few hundred map entries re-sorted
    *     all 25.6M rows — measured ~14 s);
    *  2. the colliding under-cap stats are CHECKPOINTED (match-sized,
    *     and the exact leaf stats are what lets the membership join
    *     broadcast — the lazy filter-on-aggregate alternative carries
    *     the full agg stage's docs x bands estimate, which demoted that
    *     join to a sort-merge re-exchange of the whole bucket frame);
    *  3. 2-member buckets (the overwhelming majority of collisions)
    *     emit their pair DIRECTLY as (min, max) — no membership at all;
    *  4. only >= 3-member buckets get membership: a second linear
    *     bucket derivation probed by the broadcast key frame, and the
    *     object-based `collect_list` only ever sees those rows (pair
    *     combinations generate inside the sorted member arrays, ids
    *     distinct within a bucket by construction, lists bounded by the
    *     cap — default 1000 -> at most ~500k pair structs per hot row).
    * The bucket frame is deliberately NOT persisted: caching it was
    * MEASURED slower than the one recompute it saves (columnar
    * write+read of docs x bands rows vs re-running explode + xxhash64
    * off the upstream cache). With the cap DISABLED a pathological
    * all-same corpus still builds one giant member list — the cap
    * exists exactly so production never runs that way (see
    * [[minhashDedup]]'s measured tradeoff). */
  def lshCandidatePairs(signatures: DataFrame, idCol: String,
                        bands: Int, numHashes: Int,
                        maxBucketSize: Int = 1000): DataFrame = {
    val buckets = bandBuckets(signatures, idCol, bands, numHashes)
    val stats = buckets.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"),
        min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
      .filter(col("__n") >= 2 &&
        (if (maxBucketSize == Int.MaxValue) lit(true)
         else col("__n") <= maxBucketSize))
      .localCheckpoint(true)
    // __lo =!= __hi: a duplicate doc id in the signatures frame (a
    // violated-but-possible input contract) would otherwise emit a
    // self-pair here, where the old self-join's id_a < id_b silently
    // excluded it — keep the cheap filter so duplicate-id inputs degrade
    // the same way as before (r12 ADVICE).
    val pairs2 = stats.filter(col("__n") === 2 && col("__lo") =!= col("__hi"))
      .select(col("__lo").as("id_a"), col("__hi").as("id_b"))
    val bigKeys = stats.filter(col("__n") >= 3)
      .select(col("band"), col("bucket"))
    // One aggregate job over the checkpointed match-sized stats sizes the
    // >=3-member branch: when NO bucket has 3+ members (the common clean
    // corpus) the whole membership subtree is skipped — its empty join +
    // object aggregate still schedule real stages otherwise.
    val nBig = bigKeys.count()
    if (nBig == 0) return pairs2.distinct().localCheckpoint(true)
    // EXPLICIT broadcast under a byte-budget-derived bound: ~24 B per
    // (band, bucket) key row -> 1M rows ≈ 24 MB raw, a few x that as a
    // driver-built hashed relation — the conventional safe broadcast
    // ceiling (the old 5M-row guard allowed hundreds of MB replicated to
    // every executor; r12 ADVICE). The hint exists because the
    // checkpoint's LogicalRDD carries no usable size estimate, so
    // without it the planner assumes worst-case and demotes this probe
    // to a sort-merge join that re-exchanges AND re-sorts the full docs
    // x bands bucket frame (measured: 26 s vs 8 s for the whole
    // candidate phase at rich16). Past the guard (an adversarial
    // all-boilerplate corpus) the plain join degrades to that shuffle
    // but completes — same policy as unigramCrossEntropy's threshold.
    val probeKeys = if (nBig <= 1000000L) broadcast(bigKeys) else bigKeys
    val members = buckets.join(probeKeys, Seq("band", "bucket"), "leftsemi")
      .groupBy(col("band"), col("bucket"))
      .agg(sort_array(collect_list(col(idCol))).as("__m"))
    val m = col("__m")
    val pairsBig = members
      .select(explode(flatten(transform(sequence(lit(1), size(m) - 1), i =>
        transform(slice(m, i + 1, size(m) - i), b =>
          struct(element_at(m, i).as("id_a"), b.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .filter(col("id_a") =!= col("id_b"))
    pairs2.unionByName(pairsBig)
      .distinct()
      .localCheckpoint(true)
  }

  /** The `pairPartitions=0` sizing rule, factored out so the spec can pin
    * its regimes directly: one partition per ~24 KiB of the input's
    * Catalyst size estimate, floored at the session shuffle width (small
    * corpora keep the default plan), clamped at 1024× it (size estimates
    * inflate multiplicatively through joins). Reads
    * `optimizedPlan.stats.sizeInBytes` — file bytes for a scan, row-count
    * × row-width for in-memory plans; never runs a job. */
  private[graft] def sizedPairPartitions(df: DataFrame): Int = {
    val base = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val sized = (bytes / (24 * 1024)).min(BigInt(1024L * base)).toLong
    math.max(base.toLong, sized).toInt
  }

  /** Exhaustive-on-candidates n-gram Jaccard dedup: candidate pairs are docs
    * sharing at least one shingle (inverted-index join — shuffle keyed by
    * shingle, hot shingles capped), then exact Jaccard >= threshold.
    *
    * Spill discipline (the r6 sf2 thrash fix): the candidate stage is
    * quadratic in posting density, so per-task state — the join task's
    * pair-counting hash map, and the window sort of the cap — must be
    * bounded by PARTITION COUNT, not left to the session default. The
    * posting exchange (which feeds the join AND the partial pair-count
    * aggregate running on its output) therefore runs at `pairPartitions`,
    * an EXPLICIT repartition count: AQE sizes partitions by the shuffle's
    * own bytes and cannot see the join's quadratic output, so it would
    * coalesce the postings into a few giant partitions exactly when the
    * candidate volume explodes — explicit counts are exempt from
    * coalescing.
    *
    * When `pairPartitions` is 0 the width is SIZED from the input's
    * Catalyst size estimate (`optimizedPlan.stats.sizeInBytes` — file
    * bytes for a scan, no extra job): one partition per ~24 KiB of
    * compressed input, floored at `spark.sql.shuffle.partitions`. With
    * `maxPostings` capped, per-partition candidate work is
    * ≤ cap × postings / P, and postings grow linearly with input bytes —
    * so a bytes-proportional width keeps per-task state constant as the
    * corpus grows ("more, smaller tasks", never same-task sort-spill
    * thrash), while a small corpus keeps the session-default width
    * instead of paying hundreds of near-empty tasks (the r7 regression:
    * a flat 512-task pin cost 2.3× at sf0.1). Calibration: the measured
    * stable sf2 regime (SCALING_r07_q39.json, 12.4 MiB input) ran at
    * 512 partitions. The heuristic clamps at 1024 × the session width
    * (Catalyst size estimates inflate multiplicatively through joins);
    * past that — or at 100 TB — pass `pairPartitions` explicitly, sized
    * so a partition's candidate set (~Σ min(DF,cap)² / P) fits an
    * executor's aggregation memory. */

  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   maxPostings: Int = 1000, pairPartitions: Int = 0): DataFrame = {
    val p = if (pairPartitions > 0) pairPartitions else sizedPairPartitions(df)
    // each posting row carries its doc's set size, so the Jaccard needs NO
    // side join back to a sizes table (which would recompute the shingling
    // once per join side) — one explode, one shuffle, one groupBy
    val sets = shingleSets(df, idCol, textCol, shingleN)
    val sh = sets.select(col(idCol).as("__id"), size(col("shset")).as("sz"),
      explode(col("shset")).as("sh"))
      // ONE fine explicit exchange on the posting key, shared by the cap
      // window (partitionBy sh — already satisfied, no extra exchange) and
      // REUSED by both self-join sides (identical subtree -> ReusedExchange)
      .repartition(p, col("sh"))
    val capped =
      if (maxPostings == Int.MaxValue) sh // cap disabled -> skip the window sort
      else sh
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__n") <= maxPostings).drop("__n")
    val posts = capped
    posts.select(col("sh"), col("__id").as("id_a"), col("sz").as("sz_a"))
      .join(posts.select(col("sh"), col("__id").as("id_b"), col("sz").as("sz_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      // NO explicit repartition before the groupBy: that would plan the
      // pair exchange BELOW the partial aggregate and ship every pair
      // occurrence unaggregated (shuffle bytes × avg intersection size).
      // The partial agg's hash map is the state `p` bounds; the final
      // exchange carries once-per-task-combined counts.
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** CONTAINMENT near-dup pairs: threshold on
    * C(A,B) = |A∩B| / min(|A|,|B|) over shingle sets — the one-sided
    * overlap coefficient, catching SUB-DOCUMENT duplication that
    * symmetric Jaccard is blind to by construction: a 50-shingle quote
    * embedded verbatim in a 5000-shingle page has Jaccard ≈ 0.01 but
    * containment 1.0 (J ≤ min/max vanishes as sizes diverge; C does
    * not). The curation use is quote/boilerplate audit and
    * strict-superset detection before span rewrite.
    *
    * Same single-exchange inverted-index shape as [[jaccardPairs]]
    * (posting rows carry their doc's set size; one explode, one sized
    * exchange reused by both self-join sides, map-side-combined pair
    * counts; `maxPostings` caps hot shingles identically). The
    * threshold compares in INTEGERS — `inter·den ≥ num·min(szA,szB)` —
    * so boundary pairs can never flip on float rounding (the semDedup
    * discipline); the reported `containment` is one rounded division at
    * the end. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, thresholdNum: Int = 8,
                       thresholdDen: Int = 10, maxPostings: Int = 1000,
                       pairPartitions: Int = 0): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0,
      s"need thresholdDen > 0, thresholdNum >= 0; got $thresholdNum/$thresholdDen")
    val p = if (pairPartitions > 0) pairPartitions else sizedPairPartitions(df)
    val sets = shingleSets(df, idCol, textCol, shingleN)
    val sh = sets.select(col(idCol).as("__id"), size(col("shset")).as("sz"),
      explode(col("shset")).as("sh"))
      .repartition(p, col("sh"))
    val capped =
      if (maxPostings == Int.MaxValue) sh
      else sh
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__n") <= maxPostings).drop("__n")
    capped.select(col("sh"), col("__id").as("id_a"), col("sz").as("sz_a"))
      .join(capped.select(col("sh"), col("__id").as("id_b"), col("sz").as("sz_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .filter(col("inter") * thresholdDen >=
        least(col("sz_a"), col("sz_b")) * thresholdNum)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"), 6).as("containment"))
  }

  /** INCREMENTAL containment against a persisted shingle-set index (the
    * r15 verdict's #6): containment pairs BETWEEN a new batch and the
    * index plus pairs WITHIN the batch — never index-vs-index — equal to
    * [[containmentPairs]] over the union corpus RESTRICTED to pairs
    * touching the batch (DedupSpec pins the equality in both cap
    * regimes; the q128 oracle replays it in SQL). The daily-ingestion
    * twin of q122: the full operator re-pays a corpus self-join every
    * run, this one pays O(batch × posting occupancy).
    *
    * `index` is any frame carrying (`idCol`, `shset`) —
    * [[nearDupIndex]]'s layout, so one persisted artifact serves both
    * the Jaccard and the containment incremental paths. The index's
    * posting explode is SEMI-JOIN-PRUNED to the batch's shingle set
    * (broadcast — batch-sized) before any exchange, so index bytes
    * shuffled scale with collisions, not corpus. Cap semantics match
    * the full run exactly: for a shingle the batch contains, the
    * combined (batch + index) population IS the union corpus's
    * population, so `maxPostings` drops the same shingles both ways.
    * Id spaces must be disjoint (the [[incrementalNearDups]] contract). */
  def containmentIncremental(batch: DataFrame, index: DataFrame,
                             idCol: String, textCol: String,
                             shingleN: Int = 3, thresholdNum: Int = 8,
                             thresholdDen: Int = 10, maxPostings: Int = 1000,
                             pairPartitions: Int = 0): DataFrame = {
    require(thresholdDen > 0 && thresholdNum >= 0,
      s"need thresholdDen > 0, thresholdNum >= 0; got $thresholdNum/$thresholdDen")
    val p = if (pairPartitions > 0) pairPartitions else sizedPairPartitions(batch)
    val bsets = shingleSets(batch, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bpost = bsets.select(col(idCol).as("__id"),
        size(col("shset")).as("sz"), explode(col("shset")).as("sh"))
      .withColumn("__new", lit(true))
    val ipost = index.select(col(idCol).as("__id"),
        size(col("shset")).as("sz"), explode(col("shset")).as("sh"))
      .join(broadcast(bpost.select(col("sh")).distinct()), Seq("sh"), "leftsemi")
      .withColumn("__new", lit(false))
    val posts = bpost.unionByName(ipost).repartition(p, col("sh"))
    val capped =
      if (maxPostings == Int.MaxValue) posts
      else posts
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("sh"))))
        .filter(col("__n") <= maxPostings).drop("__n")
    val a = capped.select(col("sh"), col("__id").as("id_a"),
      col("sz").as("sz_a"), col("__new").as("__na"))
    val b = capped.select(col("sh"), col("__id").as("id_b"),
      col("sz").as("sz_b"), col("__new").as("__nb"))
    val out = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__na") || col("__nb")) // drop index-vs-index collisions
      .groupBy("id_a", "id_b", "sz_a", "sz_b").agg(count(lit(1)).as("inter"))
      .filter(col("inter") * thresholdDen >=
        least(col("sz_a"), col("sz_b")) * thresholdNum)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("sz_a"), col("sz_b"),
        round(col("inter").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"), 6).as("containment"))
      .localCheckpoint(true) // the minhashDedup lineage-release discipline
    bsets.unpersist()
    out
  }

  /** Full MinHash+LSH near-dup pipeline: signatures -> banded candidates ->
    * exact-Jaccard verification -> pairs >= threshold.
    *
    * Measured cap tradeoff (DedupSpec "MEASURED recall" corpus: 1100-doc
    * identical hot cluster + 50 scattered ~0.85-Jaccard pairs + noise):
    * at `maxBucketSize=1000` recall OUTSIDE the overflowing bucket is
    * 1.000 (50/50) while the hot cluster's 604,450 intra-pairs are
    * suppressed entirely; uncapped recall on the same corpus is 1.0.
    * The cap is surgical: it only forfeits pairs inside >cap-member
    * near-identical clusters — boilerplate dropped wholesale at 100 TB,
    * never enumerated pairwise. */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   maxBucketSize: Int = 1000): DataFrame = {
    // Shingle the corpus ONCE and persist: the set frame feeds (1) the
    // signature kernel and (2) both sides of the verification join — without
    // the persist, the tokenize+hash kernel (the dominant scan cost at
    // 100 TB) would run three times. MEMORY_AND_DISK: spills rather than
    // recomputes when the corpus outgrows executor memory.
    val sets = shingleSets(df, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs  = minhashSignaturesFromSets(sets, idCol, numHashes)
    val pairs = lshCandidatePairs(sigs, idCol, bands, numHashes, maxBucketSize)
    // eager localCheckpoint severs lineage so the set cache can be
    // RELEASED here instead of leaking one persisted frame per call for
    // the session's lifetime; the checkpointed pair set is small and its
    // blocks are GC-cleaned once unreferenced. Tradeoffs, deliberately
    // accepted: the call executes the pipeline NOW (this operator's
    // result is always consumed), and local checkpoint blocks don't
    // survive executor loss — HA deployments with dynamic allocation
    // should set spark.checkpoint.dir and switch to reliable checkpoint
    val out = jaccardForPairsSets(sets, pairs, idCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    sets.unpersist()
    out
  }

  /** Write-once near-dup index for incremental ingestion: one row per doc
    * with its hashed shingle set AND MinHash signature, both from a single
    * compiled-kernel scan. Persist this when the corpus is first deduped;
    * [[incrementalNearDups]] then dedups each new batch against it without
    * ever re-reading yesterday's TEXT — at 100 TB the index is ~1-2% of
    * corpus bytes. Deployments should also materialize
    * [[bandBuckets]] over it, partitioned by (band, bucket mod N): the
    * batch probe then prunes partitions instead of scanning the index. */
  def nearDupIndex(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, shingleN: Int = 3): DataFrame = {
    val sets = shingleSets(df, idCol, textCol, shingleN)
    sets.select(col(idCol), col("shset"),
      org.apache.spark.sql.graft.ExprBridge.column(
        graft.functions.MinHashSigExpr(
          org.apache.spark.sql.graft.ExprBridge.expression(col("shset")),
          numHashes)).as("signature"))
  }

  /** Incremental near-dup detection: MinHash+LSH pairs between a NEW batch
    * and an existing [[nearDupIndex]], plus pairs within the batch — never
    * index-vs-index. This is the daily-ingestion shape at 100 TB: work is
    * O(batch x bucket occupancy), not O(corpus²), and the existing corpus
    * contributes only (a) its bucket frame SEMI-JOIN-PRUNED to the batch's
    * band buckets (with the bucket frame persisted partitioned, that is
    * partition pruning; here the batch bucket set broadcasts, so the index
    * scan never shuffles) and (b) the shingle sets of candidate ids for the
    * exact-Jaccard verify.
    *
    * Id spaces of batch and index must be disjoint (same doc re-ingested =
    * new id or upstream MergeSink upsert). Pair candidates collide on any
    * shared band bucket exactly as [[minhashDedup]] over the union corpus
    * would — so the result equals the full run's pair set restricted to
    * pairs touching the batch (DedupSpec pins this equality; the q65
    * oracle replays it in SQL).
    *
    * `maxBucketSize` caps the COMBINED (batch + index) bucket population,
    * matching the full run's cap semantics. */
  def incrementalNearDups(batch: DataFrame, index: DataFrame, idCol: String,
                          textCol: String, numHashes: Int = 64,
                          bands: Int = 16, shingleN: Int = 3,
                          threshold: Double = 0.8,
                          maxBucketSize: Int = 1000): DataFrame = {
    val batchIdx = nearDupIndex(batch, idCol, textCol, numHashes, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBuckets = bandBuckets(batchIdx, idCol, bands, numHashes)
    val iBuckets = bandBuckets(index, idCol, bands, numHashes)
      .join(broadcast(bBuckets.select(col("band"), col("bucket")).distinct()),
        Seq("band", "bucket"), "leftsemi")
    val union = bBuckets.withColumn("__new", lit(true))
      .unionByName(iBuckets.withColumn("__new", lit(false)))
    val capped =
      if (maxBucketSize == Int.MaxValue) union
      else union
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n")
    val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"), col("__new").as("__na"))
    val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"), col("__new").as("__nb"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__na") || col("__nb")) // drop index-vs-index collisions
      .select(col("id_a"), col("id_b"))
      .distinct()
    val allSets = batchIdx.select(col(idCol), col("shset"))
      .unionByName(index.select(col(idCol), col("shset")))
    // same lineage-severing release discipline as minhashDedup
    val out = jaccardForPairsSets(allSets, pairs, idCol)
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)
    batchIdx.unpersist()
    out
  }

  /** [[incrementalNearDups]] against a MATERIALIZED bucket sidecar — the
    * deployment shape the [[nearDupIndex]] scaladoc prescribes, with the
    * set fetch partition-pruned. It is the one probe of both streaming
    * loops (`StreamingIngest.incrementalDedupStream` and `curateStream`),
    * which append each batch's sidecar partition beside its index
    * partition. Same pair set as [[incrementalNearDups]] over the same
    * index — q65's operator stays the reference, and DedupSpec pins the
    * equality in BOTH cap regimes (uncapped, and with a maxBucketSize
    * that actually truncates a hot bucket, the branch the production
    * curateBatch default exercises); the difference is per-batch IO:
    *
    *  - [[incrementalNearDups]] re-derives band buckets from the FULL
    *    index's signature column every batch (O(index x bands) explode +
    *    hash) and the Jaccard verify scans the full index's shingle-set
    *    arrays — both grow with the corpus, which is the measured drift
    *    of the r9 curation steady state (~160 ms/batch at 2k docs/batch).
    *  - here the buckets were computed ONCE, at index-write time, into
    *    `indexBuckets` (3 thin int64 columns + a partition value — ~1.5%
    *    of the index's array bytes), and the fat shingle sets are fetched
    *    only for the PARTITIONS whose rows actually collided with the
    *    batch, via `fetchIndexSets` (the caller maps partition values to
    *    a pruned scan of its lake layout).
    *
    * The one driver-side step is collecting the DISTINCT collided
    * partition values — bounded by the number of ingested batches (one
    * value per `partCol` partition, ~bytes each; years of daily batches
    * collect in KBs), the same bounded-metadata class as compaction's
    * file listing.
    *
    * The thin bucket scan itself remains O(index) bytes — the honest
    * floor of LSH probing on immutable files: Spark cannot point-look-up
    * a bucket. Its coefficient is ~24 B x bands per indexed doc, two
    * orders below the signature+set re-derivation it replaces; a
    * deployment needing true O(batch) probes puts the sidecar behind a
    * hash-partitioned store keyed by (band, bucket). */
  def incrementalNearDupsIndexed(batch: DataFrame, indexBuckets: DataFrame,
                                 fetchIndexSets: Seq[Any] => DataFrame,
                                 idCol: String, partCol: String,
                                 numHashes: Int = 64, bands: Int = 16,
                                 shingleN: Int = 3, threshold: Double = 0.8,
                                 maxBucketSize: Int = 1000,
                                 textCol: String = "text"): DataFrame = {
    val batchIdx = nearDupIndex(batch, idCol, textCol, numHashes, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bBuckets = bandBuckets(batchIdx, idCol, bands, numHashes)
      .withColumn("__part", lit(null).cast(indexBuckets.schema(partCol).dataType))
    val iBuckets = indexBuckets
      .join(broadcast(bBuckets.select(col("band"), col("bucket")).distinct()),
        Seq("band", "bucket"), "leftsemi")
      .select(col("band"), col("bucket"), col(idCol), col(partCol).as("__part"))
    val union = bBuckets.withColumn("__new", lit(true))
      .unionByName(iBuckets.withColumn("__new", lit(false)))
    val capped = (
      if (maxBucketSize == Int.MaxValue) union
      else union
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n")
    ).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // bounded driver collect: one value per collided index partition
      val parts = capped.filter(!col("__new"))
        .select(col("__part")).distinct().collect().map(_.get(0)).toSeq
      val a = capped.select(col("band"), col("bucket"), col(idCol).as("id_a"), col("__new").as("__na"))
      val b = capped.select(col("band"), col("bucket"), col(idCol).as("id_b"), col("__new").as("__nb"))
      val pairs = a.join(b, Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .filter(col("__na") || col("__nb"))
        .select(col("id_a"), col("id_b"))
        .distinct()
      val idxSets =
        if (parts.isEmpty) batchIdx.select(col(idCol), col("shset")).limit(0)
        else fetchIndexSets(parts).select(col(idCol), col("shset"))
      val allSets = batchIdx.select(col(idCol), col("shset")).unionByName(idxSets)
      // same lineage-severing release discipline as minhashDedup
      jaccardForPairsSets(allSets, pairs, idCol)
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally {
      capped.unpersist()
      batchIdx.unpersist()
    }
  }

  /** Exact-Jaccard verification of candidate pairs: join each side's
    * shingle-set array, intersect per row (array_intersect). Shuffles only
    * the candidate pairs and two set arrays — never an exploded posting
    * list — so verification cost scales with |pairs|, not corpus size. */
  def jaccardForPairs(df: DataFrame, pairs: DataFrame, idCol: String,
                      textCol: String, shingleN: Int = 3): DataFrame =
    jaccardForPairsSets(shingleSets(df, idCol, textCol, shingleN), pairs, idCol)

  /** Same as [[jaccardForPairs]], over a precomputed (and ideally persisted)
    * shingle-set frame. */
  def jaccardForPairsSets(sets: DataFrame, pairs: DataFrame,
                          idCol: String): DataFrame =
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("shset").as("__sa")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("shset").as("__sb")), Seq("id_b"))
      .withColumn("__inter", size(array_intersect(col("__sa"), col("__sb"))))
      .withColumn("jaccard", col("__inter").cast("double") /
        (size(col("__sa")) + size(col("__sb")) - col("__inter")).cast("double"))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  // ----------------------------------------------------- dedup clustering

  /** Connected components over a near-dup pair list — the step that turns
    * pairwise similarity into actual deduplication: docs linked (directly
    * or transitively) form one cluster; the minimum id is the canonical
    * survivor.
    *
    * Algorithm: min-label propagation with POINTER JUMPING (path halving —
    * the PRAM shortcutting step of Shiloach-Vishkin, the same device the
    * MapReduce CC literature's large-star round uses). Labels start as
    * self; each round every node takes (1) the min of its own and its
    * neighbors' labels, then (2) its label's label — so label chains halve
    * every round and a path of n nodes converges in O(log n) rounds, not
    * O(n). Dense near-dup clusters still converge in 2-3 rounds. Each
    * round is two joins + one aggregation keyed by node; the driver-side
    * loop condition is an aggregated sum, not a data collect.
    *
    * Returns (idCol, canonical_id) for EVERY node in `nodes` (singletons
    * map to themselves). Ids must be numeric (the convergence witness is
    * an exact decimal label sum). The result is locally checkpointed
    * (consumers re-read materialized blocks, not the iteration lineage;
    * blocks are GC-cleaned when the frame is unreferenced). */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
                          maxIterations: Int = 20,
                          maxLocalEdges: Long = 4000000L): DataFrame = {
    // persist the pair list BEFORE the symmetric union: both union branches
    // otherwise materialize the (expensive) upstream pair pipeline once each
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // SMALL-GRAPH fast path: near-dup pair lists are match-sized, not
    // corpus-sized — on realistic corpora a few thousand edges against
    // millions of docs — and the distributed loop pays ~0.5 s of
    // plan-compile + job overhead PER ROUND regardless of graph size
    // (measured ~3 s for 748 edges at rich16). Under `maxLocalEdges`
    // (bounded METADATA, the k-means-sums collect class: 4M boxed
    // (Long, Long) tuples ≈ 200-300 MB transient driver heap — well
    // inside the driver sizing this engine assumes, and freed at method
    // exit), collect the edges and run union-find with min-id canonicals
    // locally — exactly the propagation loop's fixed point (DedupSpec
    // pins local == distributed on randomized graphs). Bigger pair lists
    // (boilerplate-heavy corpora) take the distributed pointer-jumping
    // loop unchanged. GATED ON INTEGRAL ID TYPES: the local path rides a
    // cast to long, which nulls out string ids (an opaque decode crash)
    // and silently TRUNCATES fractional ids, potentially merging
    // unrelated docs — non-integral ids take the distributed loop, which
    // compares ids without conversion (r12 ADVICE).
    val integralIds = {
      import org.apache.spark.sql.types._
      def ok(t: DataType) = t match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      ok(nodes.schema(idCol).dataType) &&
        ok(p.schema("id_a").dataType) && ok(p.schema("id_b").dataType)
    }
    // ONE guarded collect decides the path AND delivers the edges (r17):
    // the former count()-then-collect paid two materializations of the
    // persisted pair list; limit(max+1) bounds driver exposure the same
    // way (and populates the persist blocks the distributed path reuses
    // if the guard overflows — the rare >4M-edge corpus pays one extra
    // job, the common match-sized corpus saves one)
    val edgesOrOver =
      if (integralIds)
        p.select(col("id_a").cast("long"), col("id_b").cast("long"))
          .limit(math.min(maxLocalEdges, Int.MaxValue - 1L).toInt + 1)
          .as[(Long, Long)](org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.scalaLong,
            org.apache.spark.sql.Encoders.scalaLong)).collect()
      else Array.empty[(Long, Long)]
    if (integralIds && edgesOrOver.length <= maxLocalEdges) {
      val spark = nodes.sparkSession
      import spark.implicits._
      val edges = edgesOrOver
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min-id root wins: the canonical convention
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val labels = edges.iterator.flatMap(e => Iterator(e._1, e._2))
        .toSeq.distinct.map(id => (id, find(id)))
      p.unpersist()
      val idType = nodes.schema(idCol).dataType
      return nodes.select(col(idCol))
        .join(broadcast(labels.toDF(idCol, "__c")
          .select(col(idCol).cast(idType), col("__c").cast(idType))),
          Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__c"), col(idCol)).as("canonical_id"))
    }
    val sym = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Iterate ONLY over nodes an edge touches: every other node is a
      // singleton whose canonical is itself, and feeding them through
      // the propagation loop made EVERY round's joins corpus-sized
      // (measured 4.6 s of rich8's 22 s dedupClusters wall for 748
      // pairs). The touched set is 2x|pairs| ids at most — the rounds
      // now cost O(edges), and the singleton majority pays one
      // left-join (broadcast when pairs are few) at the end.
      val touched = sym.select(col("src").as(idCol)).distinct()
      val labeled = connectedComponentsFromSym(touched, idCol, sym,
        maxIterations)._1
      // NO checkpoint on the final join: `labeled` is already an
      // eagerly-checkpointed leaf (FromSym's contract) and `nodes` is
      // the caller's source frame, so the composed plan references
      // nothing the finally below unpersists — consumers replay a
      // broadcast left join off materialized blocks, and eagerly
      // materializing the corpus-sized canonical map here would cost a
      // full extra pass per call (measured ~1.5 s of the 3.4 s cc step
      // at rich16) for nothing
      nodes.select(col(idCol))
        .join(labeled.withColumnRenamed("canonical_id", "__c"),
          Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__c"), col(idCol)).as("canonical_id"))
    } finally { sym.unpersist(); p.unpersist() }
  }

  /** Test seam: same as [[connectedComponents]] but also reports the round
    * count, so specs can pin the O(log n) convergence of pointer jumping
    * (a 64-node path must converge in ~log2(64) rounds, not 63). */
  private[graft] def connectedComponentsFromSym(
      nodes: DataFrame, idCol: String, sym: DataFrame,
      maxIterations: Int): (DataFrame, Int) = {
    var labels = nodes.select(col(idCol).as("node"), col(idCol).as("label"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // labels only ever DECREASE (least of own + neighbors' + jumped), so
    // the label sum is a strictly-decreasing convergence witness: one
    // aggregate per round instead of a full old-vs-new comparison join
    // decimal sum: exact at any node count (a wrapped long sum could
    // collide with the previous round's and fake convergence); SUM over
    // zero rows is NULL -> coalesce so an empty node set converges
    // immediately instead of NPEing
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // step 1 — propagate: min over (own label, neighbors' labels)
      val viaEdges = sym
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("label", "nLabel"), Seq("dst"))
        .groupBy(col("src").as("node"))
        .agg(min(col("nLabel")).as("minNeighbor"))
      // eager localCheckpoint, not persist: the pointer-jump self-join
      // below references this frame TWICE, so without lineage truncation
      // the logical plan would double every round (exponential plan size —
      // Catalyst chokes long before the data does). Checkpointing makes
      // each round's plan a constant-depth join of materialized leaves.
      val propagated = labels.join(viaEdges, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("minNeighbor"), col("label"))).as("label"))
        .localCheckpoint(true)
      // step 2 — pointer jump: label(v) <- label(label(v)). Every label IS
      // a node id (labels are mins over initial ids), so the self-join
      // resolves; the left join + coalesce covers nodes whose label row
      // filtered out only defensively. This is what turns O(diameter)
      // rounds into O(log diameter): chains shortcut through their
      // midpoints instead of shrinking one hop per round.
      val next = propagated.join(
          propagated.select(col("node").as("label"), col("label").as("jLabel")),
          Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("jLabel"), col("label"))).as("label"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nextSum = labelSum(next)
      // `next` is now materialized in its own persist blocks, so this
      // round's checkpoint is dead weight — free it NOW. Checkpoint
      // blocks aren't cache-manager-tracked (unpersist on the Dataset
      // wouldn't touch them) and otherwise stay resident until JVM GC,
      // accumulating one generation per round across the whole loop.
      org.apache.spark.sql.graft.ExprBridge.releaseLocalCheckpoint(propagated)
      labels.unpersist()
      labels = next
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iter += 1
    }
    // a silent non-converged return would emit WRONG canonical ids (and
    // diverge from the oracle's exact closure) — fail loudly instead
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds " +
          "(even with pointer jumping — at log2 shrink per round this " +
          "graph is pathological); raise maxIterations")
    // sever lineage so the loop's label cache can be released now rather
    // than leaking per call (blocks are GC-cleaned once unreferenced)
    val out = labels.select(col("node").as(idCol), col("label").as("canonical_id"))
      .localCheckpoint(true)
    labels.unpersist()
    (out, iter)
  }

  /** Full near-dup deduplication: MinHash-LSH pairs -> connected
    * components -> one row per doc with its canonical survivor and the
    * cluster size (survivors have canonical_id == id). */
  def dedupClusters(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 64, bands: Int = 32,
                    shingleN: Int = 3, threshold: Double = 0.5,
                    maxBucketSize: Int = 1000): DataFrame = {
    val pairs = minhashDedup(df, idCol, textCol, numHashes, bands, shingleN,
      threshold, maxBucketSize)
    val comps = connectedComponents(df.select(col(idCol)), idCol, pairs)
    // cluster sizes from the NON-SINGLETON rows only (pairs-sized, so the
    // aggregate and the join-back broadcast): sizing via a corpus-keyed
    // groupBy + join would add two corpus-sized exchanges just to stamp
    // `1` on the singleton majority
    val sizes = comps.filter(col(idCol) =!= col("canonical_id"))
      .groupBy(col("canonical_id"))
      .agg((count(lit(1)) + 1L).as("__sz"))
    comps.join(sizes, Seq("canonical_id"), "left")
      .select(col(idCol), col("canonical_id"),
        coalesce(col("__sz"), lit(1L)).as("cluster_size"))
  }

  /** [[dedupClusters]] with the SURVIVOR chosen by a PRIORITY column —
    * what production near-dup actually ships: when a cluster collapses
    * to one document, you keep the BEST copy (highest quality score,
    * longest, most recent), not the one with the smallest id. Survivor
    * per cluster = argmax(priority), ties broken by MIN id (total and
    * deterministic — priority ties are common when the copies are
    * near-identical). Output shape is [[dedupClusters]]'s:
    * (idCol, canonical_id, cluster_size), canonical_id now the best
    * member; survivors are the rows with canonical_id == id.
    *
    * 100 TB: the relabel adds ZERO corpus exchanges on top of
    * [[dedupClusters]] — non-singleton members are match-sized (pairs-
    * bounded), so they BROADCAST into one priority-probe scan of `df`,
    * the argmax is a match-sized aggregate, and the best-id map
    * broadcasts back onto the cluster frame. */
  def dedupClustersKeepBest(df: DataFrame, idCol: String, textCol: String,
                            priority: Column,
                            numHashes: Int = 64, bands: Int = 32,
                            shingleN: Int = 3, threshold: Double = 0.5,
                            maxBucketSize: Int = 1000): DataFrame = {
    val base = dedupClusters(df, idCol, textCol, numHashes, bands, shingleN,
      threshold, maxBucketSize)
    val members = base.filter(col("cluster_size") > 1)
      .select(col(idCol), col("canonical_id"))
    // corpus scans ONCE; the match-sized member set broadcasts into it
    val withPrio = df.select(col(idCol), priority.as("__prio"))
      .join(broadcast(members), Seq(idCol))
    // the negate-and-min trick below needs a NUMERIC priority; a string
    // priority would otherwise fail deep inside analysis with an
    // unhelpful binary-op error (r13 verdict)
    withPrio.schema("__prio").dataType match {
      case _: org.apache.spark.sql.types.NumericType => ()
      case other => throw new IllegalArgumentException(
        s"dedupClustersKeepBest: priority must be numeric (argmax needs " +
          s"an ordered negatable value), got ${other.catalogString} — " +
          "cast or rank the column to a numeric score first")
    }
    // argmax(priority) with min-id tie-break as ONE struct-min: the
    // negated priority orders descending, the id field (its natural
    // type and ordering) breaks ties ascending. NULL priorities are
    // dropped BEFORE the aggregate — a null negates to null, and null
    // struct fields sort FIRST under min, so a null-priority member
    // would otherwise silently win its cluster (r13 ADVICE); dropping
    // it means a null-priority member never wins, and a cluster whose
    // members are ALL null keeps dedupClusters' min-id canonical via
    // the left-join coalesce below.
    val best = withPrio.filter(col("__prio").isNotNull)
      .groupBy(col("canonical_id"))
      .agg(min(struct((col("__prio") * lit(-1)).as("np"),
        col(idCol).as("bid"))).as("__b"))
      .select(col("canonical_id"), col("__b.bid").as("__best_id"))
    base.join(broadcast(best), Seq("canonical_id"), "left")
      .select(col(idCol),
        coalesce(col("__best_id"), col("canonical_id")).as("canonical_id"),
        col("cluster_size"))
  }

  // ---------------------------------------------------------------- SimHash

  /** 64-bit SimHash over word tokens: per bit position, sum +1/-1 weighted
    * by token frequency; bit = sign. Native codegen expression
    * ([[graft.functions.SimHash64Expr]]) — the classic explode +
    * 64-column groupBy formulation shuffles every token; this computes
    * each doc's simhash inside the scan's codegen span with zero shuffle. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      org.apache.spark.sql.graft.ExprBridge.column(
        graft.functions.SimHash64Expr(
          org.apache.spark.sql.graft.ExprBridge.expression(col(textCol))))
        .as("simhash"))

  /** 60-bit ENGINE-PORTABLE SimHash: token hash = first 15 hex chars of
    * md5(utf8(token)) parsed base-16 (< 2^60, so every shift/mask stays in
    * signed-64 range for any SQL engine), frequency-weighted ±1 bit votes,
    * bit = sign; token-less docs get sentinel -1 (see
    * [[graft.functions.ShingleKernel.simhash60Md5]] for the rationale).
    * Native codegen expression ([[graft.functions.SimHash60Md5Expr]]) —
    * slower than [[simhash]]'s FNV kernel (one MD5 per token); use it when
    * an external system (the DuckDB oracle, a Python sidecar) must
    * reproduce signatures exactly; use [[simhash]] for the 100 TB path. */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      org.apache.spark.sql.graft.ExprBridge.column(
        graft.functions.SimHash60Md5Expr(
          org.apache.spark.sql.graft.ExprBridge.expression(col(textCol))))
        .as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxHamming, using the
    * standard pigeonhole blocking: split 64 bits into (maxHamming+1) chunks;
    * any pair within distance must agree on >= 1 chunk -> equi-join per chunk. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    simhashNearDupsFrom(simhash(df, idCol, textCol), idCol, 64, maxHamming)

  /** Portable variant: same pigeonhole blocking over [[simhashPortable]]'s
    * 60-bit signatures (chunk width 60/(maxHamming+1)); token-less docs
    * (sentinel signature) take part in no pairs, matching the SQL oracle
    * where their empty token list unnests to nothing. */
  def simhashNearDupsPortable(df: DataFrame, idCol: String, textCol: String,
                              maxHamming: Int = 3): DataFrame =
    simhashNearDupsFrom(
      simhashPortable(df, idCol, textCol).filter(col("simhash") >= 0),
      idCol, 60, maxHamming)

  /** Pigeonhole-blocked Hamming self-join over a precomputed
    * (id, simhash) frame with `bits`-wide signatures. */
  def simhashNearDupsFrom(sh: DataFrame, idCol: String, bits: Int,
                          maxHamming: Int): DataFrame = {
    val chunks = maxHamming + 1
    require(bits % chunks == 0,
      s"pigeonhole blocking needs bits ($bits) divisible by maxHamming+1 ($chunks)")
    val width = bits / chunks
    val chunkCol = (c: Int) => shiftright(col("simhash"), c * width)
      .bitwiseAND(lit((1L << width) - 1)).as("chunk_val")
    val blocked = sh.select(
      col(idCol), col("simhash"),
      explode(array((0 until chunks).map(c =>
        struct(lit(c).as("chunk_id"), chunkCol(c))): _*)).as("c"))
      .select(col(idCol), col("simhash"), col("c.chunk_id"), col("c.chunk_val"))
      // shared exchange on the block key -> both self-join sides reuse one
      // computation of the simhash aggregation instead of running it twice
      .repartition(col("chunk_id"), col("chunk_val"))
    val a = blocked.select(col("chunk_id"), col("chunk_val"),
      col(idCol).as("id_a"), col("simhash").as("sim_a"))
    val b = blocked.select(col("chunk_id"), col("chunk_val"),
      col(idCol).as("id_b"), col("simhash").as("sim_b"))
    a.join(b, Seq("chunk_id", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- substring spans

  /** Exact duplicated-SPAN detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": exact substring dedup) —
    * the missing granularity between [[exact]] (whole-document) and the
    * MinHash family (whole-document, approximate): find every
    * `spanTokens`-token window whose exact text occurs more than once in
    * the corpus (across documents OR repeated within one), and report
    * per-document how much of the text is covered by such spans. The
    * canonical paper config is 50-token spans over BPE tokens; the default
    * here is proportionate to the short synthetic fixture docs.
    *
    * Output: one row per input document —
    * (idCol, n_windows, n_dup_windows, dup_frac_myriad) where
    * `dup_frac_myriad = floor(10000 * n_dup_windows / max(n_windows,1) + 0.5)`
    * (integer quantization — engine-portable, no double rounding).
    *
    * 100 TB shape (r12): windows come from a linear in-scan kernel pass
    * and global frequency is ONE hash-AGGREGATED wk-keyed exchange
    * (map-side partials collapse within-partition repeats; the exchange
    * carries (wk, cnt) — never sorted occurrence rows, which is what
    * the previous window-function formulation shuffled AND sorted).
    * The duplicated-key frame that survives `cnt > 1` is the corpus's
    * duplicated-span minority, so the occurrence re-join against a
    * SECOND kernel scan broadcasts under AQE — unique windows (the vast
    * majority) never shuffle anywhere. Re-running the linear kernel
    * beats persisting the exploded window frame at any corpus size.
    * With `hashWindows=true` (production) the keys are the compiled
    * [[graft.functions.ShingleListExpr]] kernel's 8-byte hashes (window
    * STRINGS never exist at all); a 64-bit collision marks two distinct
    * spans as shared duplicates at p ~ n^2/2^65 — the documented
    * approximation; the portable string path (`hashWindows=false`) is
    * what the SQL oracle replays bit-for-bit, kept for Verify-scale
    * corpora. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      spanTokens: Int = 8,
                      hashWindows: Boolean = true,
                      windowShapeMaxBytes: Long = 16L * 1024 * 1024): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val k = spanTokens
    val toks = TextFns.tokens(col(textCol))
    val base = df.select(col(idCol),
      greatest(size(toks) - (k - 1), lit(0)).cast("int").as("n_windows"))
    // zero windows for docs shorter than k tokens — the guard matters in
    // BOTH branches: the kernel emits a whole-doc shingle for short docs,
    // and sequence(a, b) DESCENDS when b < a
    val windows =
      if (hashWindows)
        when(size(toks) >= k, shingleListCol(col(textCol), k))
          .otherwise(lit(Array.empty[Long]))
      else
        when(size(toks) >= k, TextFns.shingles(col(textCol), k))
          .otherwise(lit(Array.empty[String]))
    val wins = df.select(col(idCol), explode(windows).as("wk"))
    // ADAPTIVE SHAPE (r12 verdict "what's wrong" #3). The r12 rewrite —
    // aggregate the duplicated-KEY frame, then re-derive the window
    // stream and probe it through an AQE-broadcast key frame — bought 2x
    // at scale (rich8 span stage 8.1 -> 4.0 s: the window SORT is the
    // scale bottleneck and the probe shape never sorts), but it pays the
    // corpus derivation TWICE, so on a SMALL corpus — where one window
    // sort costs ~nothing and the derivation dominates — it loses (q69
    // at the 0.6 MB sf0.1 fixture regressed 0.66 -> 0.94 s; measured
    // there: an extra probe JOB costs more than it informs, and the
    // fixture's dup mass is 4.7%, so pruning isn't the issue — size is).
    // Decide from the input's Catalyst size estimate (file bytes for a
    // scan; ZERO jobs — the sizedPairPartitions device): small corpora
    // take the single window-exchange shape, large ones the probe shape.
    // Both branches compute identical exact counts — only the plan
    // changes, so the oracle gate covers them interchangeably.
    val inputBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val perDoc =
      if (inputBytes > BigInt(windowShapeMaxBytes)) {
        // dup-minority (the production regime): key aggregate + pruned
        // re-derivation probe (AQE broadcasts the match-sized key frame)
        val dupKeys = wins.groupBy(col("wk"))
          .agg(count(lit(1)).as("__occ")).filter(col("__occ") > 1)
          .select(col("wk"))
        wins.join(dupKeys, Seq("wk"))
          .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
      } else
        // small corpus: one wk window exchange beats deriving the
        // windows twice — the sort this shape pays is trivial here
        wins.withColumn("__occ",
            count(lit(1)).over(Window.partitionBy(col("wk"))))
          .filter(col("__occ") > 1)
          .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    base.join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).cast("int").as("n_dup_windows"),
        floor(lit(10000.0) * coalesce(col("n_dup"), lit(0L)) /
          greatest(col("n_windows"), lit(1)) + 0.5).cast("int")
          .as("dup_frac_myriad"))
  }

  /** The REWRITE half of exact substring dedup (Lee et al. 2022 remove
    * duplicated spans from the corpus, they don't just count them —
    * [[duplicatedSpans]] is the diagnostic, this is the treatment): every
    * occurrence of a duplicated `spanTokens`-token window EXCEPT the
    * canonical one (lowest `(doc, pos)` corpus-wide — "keep the first")
    * has its tokens removed, and each document's text is rebuilt from the
    * surviving tokens (in the engine's normalized token form, like every
    * text operator here).
    *
    * Output: one row per document —
    * (idCol, n_tokens, n_removed, kept_text).
    *
    * 100 TB shape (r12): ONE corpus-sized exchange total — the same
    * hash-aggregated (wk)-keyed frequency pass as [[duplicatedSpans]]
    * (count + canonical witness in one aggregate; map-side partials, no
    * sort), everything after it sized by the DUPLICATED minority:
    * occurrences of duplicated keys re-derived from a second linear
    * kernel scan against the broadcast dup-key frame, their covered
    * token indices collected into one per-doc removal set (pairs-sized
    * aggregate), and each AFFECTED document rebuilt IN its token array
    * (an index-aware `filter` lambda) after a broadcast join — while
    * untouched documents (the vast majority) take the
    * removal-set-is-null branch in the same projection, never exploding
    * a token or crossing an exchange. The previous formulation sorted
    * every window occurrence through the key exchange AND shuffled the
    * full posexploded token frame twice more ((id, idx) anti-join +
    * per-doc collect_list rebuild): 3 corpus-sized exchanges, measured
    * 40.5 s of rich16's 185 s pipeline wall. `hashWindows` as in
    * [[duplicatedSpans]]: 8-byte kernel keys on the exchange
    * (production) vs oracle-replayable window strings. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           spanTokens: Int = 8,
                           hashWindows: Boolean = true): DataFrame = {
    require(spanTokens >= 2, s"spanTokens must be >= 2, got $spanTokens")
    val k = spanTokens
    val toks = TextFns.tokens(col(textCol))
    val windows =
      if (hashWindows)
        when(size(toks) >= k, shingleListCol(col(textCol), k))
          .otherwise(lit(Array.empty[Long]))
      else
        when(size(toks) >= k, TextFns.shingles(col(textCol), k))
          .otherwise(lit(Array.empty[String]))
    val wins = df.select(col(idCol), posexplode(windows).as(Seq("pos", "wk")))
    // global frequency + canonical witness (lowest (doc, pos) — "keep
    // the first") + the MAX occurrence, in ONE aggregate; only
    // duplicated keys survive. Carrying max alongside min is the
    // lshCandidatePairs device (r13): for an occ == 2 key — measured to
    // be EVERY duplicated window on the rich corpora — (min, max) IS the
    // (canonical, removed) pair, so the non-canonical occurrence falls
    // out of the aggregate itself and the previous second corpus-wide
    // window derivation (a full kernel re-scan probed by the broadcast
    // key frame) is skipped entirely. Only occ >= 3 keys (when any
    // exist) still need the re-derivation probe, restricted to that
    // minority.
    val stats = wins.groupBy(col("wk"))
      .agg(count(lit(1)).as("__occ"),
        min(struct(col(idCol), col("pos"))).as("__canon"),
        max(struct(col(idCol), col("pos"))).as("__max"))
      .filter(col("__occ") > 1)
      .localCheckpoint(true) // match-sized; also powers the cheap counts
    val rem2 = stats.filter(col("__occ") === 2)
      .select(col("__max").getField(idCol).as(idCol),
        col("__max").getField("pos").as("pos"))
    val bigKeys = stats.filter(col("__occ") >= 3)
      .select(col("wk"), col("__canon"))
    val remOcc =
      if (bigKeys.count() == 0L) rem2
      else rem2.unionByName(
        wins.join(broadcast(bigKeys), Seq("wk"))
          .filter(struct(col(idCol), col("pos")) =!= col("__canon"))
          .select(col(idCol), col("pos")))
    // non-canonical occurrences -> per-doc removed token-index sets
    // (distinct via collect_set; interval overlap is the norm for runs
    // of duplicated windows)
    val remIdx = remOcc
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("idx"))
      .groupBy(col(idCol))
      .agg(collect_set(col("idx")).as("__rm"))
    df.select(col(idCol), toks.as("__toks"))
      .join(remIdx, Seq(idCol), "left")
      .select(col(idCol),
        size(col("__toks")).cast("int").as("n_tokens"),
        when(col("__rm").isNull, lit(0)).otherwise(size(col("__rm")))
          .cast("int").as("n_removed"),
        when(col("__rm").isNull, concat_ws(" ", col("__toks")))
          .otherwise(concat_ws(" ", filter(col("__toks"),
            (_, i) => !array_contains(col("__rm"), i)))).as("kept_text"))
  }
}

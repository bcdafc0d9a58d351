package graft.operators

import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding column
  * (`array<float>`), per the north-star extension list.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k of a *small* query set against
  *    the full corpus — broadcast the queries, one corpus scan, per-query
  *    window top-k. At 100 TB this is the right baseline when |queries| is
  *    small (the corpus scan dominates and is embarrassingly parallel; no
  *    shuffle of the corpus, only of (query, topk-candidate) rows).
  *  - [[srpTopK]]: sign-random-projection LSH bucketing — corpus and queries
  *    hashed into 2^bits buckets by deterministic hyperplanes; candidates are
  *    bucket collisions (optionally multi-probe over Hamming-1 neighbor
  *    buckets), exact cosine re-rank inside the bucket. The corpus side can
  *    be pre-bucketed on write (partitionBy("bucket")) so queries prune
  *    partitions instead of scanning.
  */
object Similarity {

  /** Deterministic Gaussian hyperplanes (fixed seed -> identical across
    * executors/JVMs; java.util.Random LCG is specified). */
  def hyperplanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Deterministic ±1 Rademacher hyperplanes (java.util.Random LCG, spec'd
    * — identical on every JVM). Used by the integer SRP path, where the
    * bucket must be exactly reproducible outside the JVM too. */
  def rademacherPlanes(dim: Int, nPlanes: Int, seed: Long = 42L): Seq[Array[Int]] =
    (0 until nPlanes).map { i =>
      val rnd = new scala.util.Random(seed ^ (i * 0x9e3779b97f4a7c15L))
      Array.fill(dim)(if (rnd.nextBoolean()) 1 else -1)
    }

  /** Bits sizing for SRP bucketing: 2^bits buckets must keep the expected
    * bucket population bounded, or the within-bucket self-join goes
    * quadratic — at 100 TB a `bits` tuned for a 60k-row test corpus is a
    * mega-partition factory. Derive bits from the (approx) corpus count:
    * bits = ceil(log2(n / targetBucketRows)), clamped to [1, 62]. Callers
    * with a fixed `bits` can assert it with [[requireSaneBits]]. */
  def autoBits(corpusRows: Long, targetBucketRows: Long = 256L): Int = {
    require(corpusRows >= 0, s"corpusRows must be >= 0, got $corpusRows")
    val buckets = math.max(1.0, corpusRows.toDouble / math.max(1L, targetBucketRows))
    math.min(62, math.max(1, math.ceil(math.log(buckets) / math.log(2)).toInt))
  }

  /** Bands (seed tables) sizing for multi-band SRP blocking: the standard
    * LSH OR-of-ANDs recall identity. A pair at angle θ collides in one
    * `bits`-plane band with p = (1 − θ/π)^bits, so recall over `b`
    * independent bands is 1 − (1 − p)^b; solving for the smallest b that
    * reaches `targetRecall` at `nearDupCosine`:
    * b = ceil(ln(1 − R) / ln(1 − p)).
    *
    * This is the missing half of [[autoBits]]: bits must GROW with the
    * corpus to hold bucket occupancy (cost) constant, which shrinks
    * per-band recall geometrically — bands are how recall is bought back.
    * Both knobs derived together give a config whose cost AND recall are
    * stated, instead of a fixed `bands=3` whose recall silently decays as
    * the corpus grows. Clamped to [1, maxBands]: past ~16 bands the
    * explode/shuffle volume usually costs more than a smaller-bits rerun. */
  def autoBands(bits: Int, nearDupCosine: Double = 0.9,
                targetRecall: Double = 0.9, maxBands: Int = 16): Int = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1,62], got $bits")
    require(nearDupCosine > -1.0 && nearDupCosine < 1.0,
      s"nearDupCosine must be in (-1,1), got $nearDupCosine")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1), got $targetRecall")
    val theta = math.acos(nearDupCosine)
    val pBand = math.pow(1.0 - theta / math.Pi, bits)
    if (pBand >= targetRecall) 1
    else {
      val b = math.ceil(math.log(1.0 - targetRecall) / math.log(1.0 - pBand))
      math.max(1, math.min(maxBands, b.toInt))
    }
  }

  /** Guard: fail fast (with the fix in the message) when a fixed `bits`
    * leaves expected bucket sizes above `maxExpectedBucketRows`. */
  def requireSaneBits(bits: Int, corpusRows: Long,
                      maxExpectedBucketRows: Long = 10000L): Unit = {
    val expected = corpusRows.toDouble / math.pow(2.0, bits)
    require(expected <= maxExpectedBucketRows,
      f"SRP bits=$bits gives ~$expected%.0f rows per bucket for a $corpusRows-row corpus " +
        f"(limit $maxExpectedBucketRows); raise bits to >= ${autoBits(corpusRows, maxExpectedBucketRows)} " +
        "or derive it with Similarity.autoBits")
  }

  /** Exact cosine top-k per query. `queries` must be small (broadcast). */
  def bruteForceTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
                     queries: DataFrame, queryId: String, queryVec: String,
                     k: Int): DataFrame = {
    val scored = corpus.crossJoin(
        broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .withColumn("cosine", VectorFns.cosine(col(corpusVec), col("__qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col(corpusId).asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(corpusId).as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Adds a deterministic SRP LSH bucket column. */
  def withSrpBucket(df: DataFrame, vecCol: String, dim: Int, bits: Int = 12,
                    seed: Long = 42L, out: String = "bucket"): DataFrame =
    df.withColumn(out, VectorFns.srpBucket(col(vecCol), hyperplanes(dim, bits, seed)))

  /** LSH-bucketed ANN top-k: candidates share the query's SRP bucket;
    * exact cosine re-rank within bucket. Recall grows with lower `bits`
    * (bigger buckets) — callers trade recall for candidate count. */
  def srpTopK(corpus: DataFrame, corpusId: String, corpusVec: String,
              queries: DataFrame, queryId: String, queryVec: String,
              k: Int, dim: Int, bits: Int = 8, seed: Long = 42L): DataFrame = {
    val c = withSrpBucket(corpus, corpusVec, dim, bits, seed)
      .select(col("bucket"), col(corpusId).as("neighbor_id"), col(corpusVec).as("__cv"))
    val q = withSrpBucket(queries, queryVec, dim, bits, seed)
      .select(col("bucket"), col(queryId).as("query_id"), col(queryVec).as("__qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .withColumn("cosine", VectorFns.cosine(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Integer-SRP ANN top-k: the engine-portable variant of [[srpTopK]].
    * Embeddings are integer-quantized (round(x*scale)); buckets come from
    * ±1 Rademacher planes over the quantized vector; ranking is the exact
    * integer dot product. Every step is integer arithmetic, so a SQL oracle
    * with the same inlined plane constants reproduces the result
    * bit-for-bit — and the integer kernel is cheaper than the Gaussian
    * double-dot at the same recall class. */
  def srpTopKInt(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, dim: Int, bits: Int = 8, seed: Long = 42L,
                 scale: Int = 10000): DataFrame = {
    val planes = rademacherPlanes(dim, bits, seed)
    val c = corpus.select(col(corpusId).as("neighbor_id"),
        VectorFns.quantize(col(corpusVec), scale).as("__cv"))
      .withColumn("bucket", VectorFns.srpBucketInt(col("__cv"), planes))
    val q = queries.select(col(queryId).as("query_id"),
        VectorFns.quantize(col(queryVec), scale).as("__qv"))
      .withColumn("bucket", VectorFns.srpBucketInt(col("__qv"), planes))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id").asc)
    c.join(q, Seq("bucket"))
      .withColumn("qdot", VectorFns.quantizedDot(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("qdot"), col("rank"))
  }

  /** Integer-SRP embedding near-dup pairs: multi-seed ±1-plane blocking over
    * quantized vectors, then an ALL-INTEGER cosine threshold test —
    * qdot > 0 && qdot^2 * tden^2 >= tnum^2 * |a|^2 * |b|^2, i.e.
    * cosine(qa, qb) >= tnum/tden on the quantized vectors, evaluated in
    * arbitrary precision so no dim/scale choice can wrap. (An external SQL
    * oracle replaying the test in fixed-width integers must size scale/dim
    * so its own products fit — the q44 config is validated for DuckDB
    * BIGINT.) */
  def embeddingNearDupsInt(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                           thresholdNum: Int = 3, thresholdDen: Int = 10,
                           bits: Int = 10, seeds: Seq[Long] = Seq(42L, 43L, 44L),
                           scale: Int = 1000): DataFrame = {
    // all seeds' buckets in ONE kernel pass over the corpus, then ONE
    // seed-tagged explode + ONE (seed, bucket)-keyed self-join — the
    // per-seed union formulation scans and shuffles the corpus |seeds|
    // times for identical pairs (this is the same multi-band shape as
    // Dedup.lshCandidatePairs)
    val qdf = df.select(col(idCol),
      VectorFns.quantize(col(vecCol), scale).as("__qv"))
      // per-row norm ONCE before the explode/join — not per candidate pair
      .withColumn("__n2", aggregate(col("__qv"), lit(0L), (acc, v) => acc + v * v))
    val seedBuckets = seeds.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("seed"),
        VectorFns.srpBucketInt(col("__qv"), rademacherPlanes(dim, bits, s)).as("bucket"))
    }
    val blocked = qdf
      .select(col(idCol), col("__qv"), col("__n2"), explode(array(seedBuckets: _*)).as("sb"))
      .select(col(idCol), col("__qv"), col("__n2"), col("sb.seed"), col("sb.bucket"))
      // shared exchange: both self-join sides reuse one bucket computation
      .repartition(col("seed"), col("bucket"))
    val a = blocked.select(col("seed"), col("bucket"), col(idCol).as("id_a"),
      col("__qv").as("__qa"), col("__n2").as("__na2"))
    val c = blocked.select(col("seed"), col("bucket"), col(idCol).as("id_b"),
      col("__qv").as("__qb"), col("__n2").as("__nb2"))
    // the threshold products (qdot^2*tden^2 vs tnum^2*na2*nb2) can exceed
    // Long for large dim/scale and Spark would wrap silently; the native
    // CosineThresholdExpr compares 192-bit limbs (Math.multiplyHigh) so
    // the test stays exact at ANY configuration — inside whole-stage
    // codegen, zero allocation (the former BigInt UDF was the last UDF in
    // the 68 oracle plans).
    import org.apache.spark.sql.graft.ExprBridge
    val passes = (qdot: Column, a2: Column, b2: Column) =>
      ExprBridge.column(graft.functions.CosineThresholdExpr(
        ExprBridge.expression(qdot), ExprBridge.expression(a2),
        ExprBridge.expression(b2), thresholdNum.toLong, thresholdDen.toLong))
    // dot + threshold evaluate INSIDE the bucket-join stage (pipelined on
    // the join output, per duplicate candidate) and the vectors drop out
    // of the projection immediately — so the only thing the dedup
    // exchange ever carries is surviving (id_a, id_b, qdot) scalars. The
    // earlier dropDuplicates-first formulation shuffled BOTH dim-length
    // vectors per CANDIDATE (~1 KB x every bucket collision — the
    // operator's single largest data movement at scale); re-testing the
    // ~bands-x duplicated survivors is integer noise by comparison.
    a.join(c, Seq("seed", "bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("qdot", VectorFns.quantizedDot(col("__qa"), col("__qb")))
      .filter(passes(col("qdot"), col("__na2"), col("__nb2")))
      .select(col("id_a"), col("id_b"), col("qdot"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Squared L2 distance between two quantized (`array<long>`) vectors —
    * pure integer arithmetic, associative, engine-portable. */
  private[graft] def qdist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)

  /** Deterministic seed centroids for the IVF coarse quantizer: the `n`
    * lowest-id corpus vectors, integer-quantized, collected to the driver
    * (bounded by `n`, like a broadcast dim — NOT a data collect). Production
    * swaps in k-means|| output ([[KMeansInt.lloydStep]] is the distributed
    * refinement step); the centroid CHOICE moves recall, not plan shape. */
  def seedCentroidsInt(corpus: DataFrame, idCol: String, vecCol: String,
                       n: Int, scale: Int): Seq[(Long, Array[Long])] =
    corpus.select(col(idCol).cast("long").as("cid"),
        VectorFns.quantize(col(vecCol), scale).as("cv"))
      .orderBy(col("cid")).limit(n)
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))

  /** nCentroids sizing for IVF: keep expected list population near
    * `targetListRows` as the corpus grows (the fixed-nlist analog of the
    * fixed-bits mega-bucket hazard [[autoBits]] guards against). The
    * standard sqrt(n) rule is the upper bound — inlined-literal assignment
    * costs O(nlist) per row, so cap where that map stays cheap. */
  def autoNlist(corpusRows: Long, targetListRows: Long = 4096L, maxNlist: Int = 4096): Int = {
    require(corpusRows >= 0, s"corpusRows must be >= 0, got $corpusRows")
    val byOccupancy = math.ceil(corpusRows.toDouble / math.max(1L, targetListRows))
    val bySqrt = math.ceil(math.sqrt(corpusRows.toDouble))
    math.max(1, math.min(maxNlist.toDouble, math.min(byOccupancy, bySqrt)).toInt)
  }

  /** Per-row (dist², cid)-sorted ranking of INLINED centroid literals over a
    * quantized vector column: `array_sort` on the struct orders by dist²
    * then cid ascending (the documented tie-break — lowest cid wins);
    * element 1 is the argmin assignment. Zero-shuffle, whole-stage-codegen
    * map — shared by [[ivfTopKInt]] and [[KMeansInt.assignmentSums]]. */
  private[graft] def centroidRanking(cents: Seq[(Long, Array[Long])])(qv: Column): Column = {
    val centArr = array(cents.map { case (cid, cv) =>
      struct(lit(cid).as("cid"), array(cv.map(lit(_)).toIndexedSeq: _*).as("cv"))
    }: _*)
    array_sort(transform(centArr, c =>
      struct(qdist2(qv, c.getField("cv")).as("d"), c.getField("cid").as("cid"))))
  }

  /** Native squared-L2 argmin assignment over inlined centroids — the
    * `element 1` fast path of [[centroidRanking]], backed by
    * [[graft.functions.CentroidArgminExpr]] (whole-stage codegen, zero
    * per-row allocation; the HOF ranking chain is interpreted and
    * dominated the k-means converge at the sf4 profile). Identical
    * semantics incl. the lowest-cid tie-break (VectorExprSpec pins it);
    * non-null input -> non-null assignment. Used wherever only the argmin
    * is needed (corpus assignment, Lloyd steps, SemDeDup, label audit);
    * [[centroidRanking]] remains the nProbe>1 query-side form. */
  private[graft] def centroidArgmin(cents: Seq[(Long, Array[Long])])(qv: Column): Column = {
    val sorted = cents.sortBy(_._1)
    import org.apache.spark.sql.graft.ExprBridge
    ExprBridge.column(graft.functions.CentroidArgminExpr(
      ExprBridge.expression(qv),
      sorted.map(_._2).toArray, sorted.map(_._1).toArray))
  }

  /** IVF-Flat ANN top-k (the list-partitioned scale path next to the
    * LSH-bucketed [[srpTopKInt]]): every corpus vector is assigned to its
    * nearest coarse centroid by squared-L2 argmin; a query probes its
    * `nProbe` nearest centroids and exact-re-ranks only those lists.
    *
    * 100 TB shape: centroids are INLINED LITERALS, so assignment is a
    * zero-shuffle map (`array_sort` over a per-row centroid array inside
    * whole-stage codegen — no crossJoin, no groupBy-argmin shuffle of the
    * corpus). The only corpus movement is the centroid_id equi-join, and a
    * deployment that writes the corpus `partitionBy("centroid_id")` turns
    * probing into partition pruning: a query touches nProbe/nCentroids of
    * the data. All-integer (quantize → dist² in Long), so an external SQL
    * oracle replays the result bit-for-bit: ties break on (dist², cid) /
    * (dist², neighbor_id) ascending, both explicit in the sort keys. */
  def ivfTopKInt(corpus: DataFrame, corpusId: String, corpusVec: String,
                 queries: DataFrame, queryId: String, queryVec: String,
                 k: Int, nCentroids: Int = 8, nProbe: Int = 2,
                 scale: Int = 1000,
                 centroids: Option[Seq[(Long, Array[Long])]] = None): DataFrame = {
    // MEASURED recall (SimilaritySpec "MEASURED IVF recall at the
    // production config" — 2000×16 corpus of 64 OVERLAPPING clusters,
    // autoNlist=32, nProbe=4, k=10, vs exact brute-force ground truth):
    // recall@10 = 0.994 with converged kmeansPlusPlusInit +
    // KMeansInt.converge centroids; 0.966 with the lowest-id seed
    // fallback. The centroid CHOICE moves recall, not plan shape — both
    // run the identical zero-shuffle argmin + equi-join.
    require(nProbe >= 1 && nProbe <= nCentroids,
      s"nProbe must be in [1, nCentroids=$nCentroids], got $nProbe")
    val cents = centroids.getOrElse(
      seedCentroidsInt(corpus, corpusId, corpusVec, nCentroids, scale))
    require(cents.nonEmpty && nProbe <= cents.length,
      s"need >= nProbe=$nProbe centroids, got ${cents.length}")
    def ranked(qv: Column): Column = centroidRanking(cents)(qv)
    val c = corpus.select(col(corpusId).as("neighbor_id"),
        VectorFns.quantize(col(corpusVec), scale).as("__cv"))
      .withColumn("centroid_id", centroidArgmin(cents)(col("__cv")))
    val q = queries.select(col(queryId).as("query_id"),
        VectorFns.quantize(col(queryVec), scale).as("__qv"))
      .withColumn("centroid_id",
        explode(transform(slice(ranked(col("__qv")), 1, nProbe), x => x.getField("cid"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2").asc, col("neighbor_id").asc)
    c.join(q, Seq("centroid_id"))
      .withColumn("dist2", qdist2(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist2"), col("rank"))
  }

  /** Embedding near-duplicate pairs: SRP-bucket blocking + exact cosine >=
    * threshold inside each bucket (near-identical vectors collide with high
    * probability; multi-band variant = run with several seeds and union). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double = 0.95, bits: Int = 10,
                        seeds: Seq[Long] = Seq(42L, 43L, 44L)): DataFrame = {
    // single multi-band pass (see embeddingNearDupsInt): one bucket-kernel
    // scan, one seed-tagged explode, one (seed, bucket) self-join
    val seedBuckets = seeds.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("seed"),
        VectorFns.srpBucket(col(vecCol), hyperplanes(dim, bits, s)).as("bucket"))
    }
    val blocked = df
      .select(col(idCol), col(vecCol), explode(array(seedBuckets: _*)).as("sb"))
      .select(col(idCol), col(vecCol), col("sb.seed"), col("sb.bucket"))
      // shared exchange: both self-join sides reuse one bucket computation
      .repartition(col("seed"), col("bucket"))
    val a = blocked.select(col("seed"), col("bucket"), col(idCol).as("id_a"), col(vecCol).as("__va"))
    val c = blocked.select(col("seed"), col("bucket"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
    // cosine + threshold inside the bucket-join stage; vectors never reach
    // the dedup exchange (see embeddingNearDupsInt for the full rationale)
    a.join(c, Seq("seed", "bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", VectorFns.cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Tile sizing for the bounded within-cluster pair join shared by
    * [[semDedup]] and [[labelNoiseKnn]]: every cluster `c` is split into
    * `B_c = ceil(|c| / tileRows)` tiles (a row's tile is
    * `xxhash64(id) mod B_c` — deterministic, balanced for any id
    * distribution), and the pair test joins on (centroid_id, tile_a,
    * tile_b), so ONE task's candidate set is at most `tileRows`^2 pairs no
    * matter what join strategy Catalyst picks, how AQE coalesces, or how
    * skewed the clusters are (a hot cluster fans into B_c^2 keys instead
    * of one). Each side replicates its rows B_c-fold across the opposite
    * tile axis — at the [[autoNlist]] design occupancy B_c is 1..2, so the
    * replication is metadata-noise next to the |c|^2 pair work it bounds.
    *
    * Returns the per-row tile-count COLUMN (an inlined nlist-entry literal
    * map over centroid_id, same discipline as the centroid literals) and
    * the EXPLICIT pair-exchange width: the exact tile-pair key count
    * `sum B_c^2`, floored at the session shuffle width and clamped at
    * 1024x it (the [[graft.operators.Dedup.sizedPairPartitions]] clamp
    * rationale) — parallelism proportional to actual pair work, zero
    * guessed constants.
    *
    * Cost: one EAGER counts job over `assigned` (scan + assignment +
    * map-side partial count; the collected result is nlist rows — a
    * bounded driver transfer like the centroid literals, never data). At
    * 100 TB that extra assignment pass is the price of sizing the tiles
    * from exact counts instead of an occupancy guess that cluster skew
    * (measured: seed centroids reach only 0.767 cluster recall vs 0.985
    * converged) would invalidate exactly when it matters. */
  private[operators] def clusterTiles(assigned: DataFrame, idCol: String,
                                      tileRows: Int): (Column, Int) = {
    require(tileRows >= 1, s"tileRows must be >= 1, got $tileRows")
    val counts = assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("__cn"))
      .collect().map { r =>
        r.getLong(0) -> math.max(1L,
          math.ceil(r.getLong(1).toDouble / tileRows).toLong)
      }
    require(counts.nonEmpty, "corpus is empty — no clusters to tile")
    val base = assigned.sparkSession.sessionState.conf.numShufflePartitions
    val keys = counts.map { case (_, b) => b * b }.sum
    val p = math.max(base.toLong, math.min(keys, 1024L * base)).toInt
    // coalesce makes the column NON-NULLABLE (a key can't miss — the map
    // is built from the same assignment — but element_at is nullable by
    // type): nullable pair-join keys make constraint propagation push
    // isnotnull filters that RE-EVALUATE the full nlist x dim assignment
    // argmin per row in the scan stage (observed: 3x the assignment work
    // at the q70 plan audit); non-nullable keys generate no constraint.
    val tileCol = coalesce(element_at(
      map(counts.sortBy(_._1).flatMap { case (cid, b) =>
        Seq(lit(cid), lit(b.toInt))
      }.toIndexedSeq: _*),
      col("centroid_id")), lit(1))
    (tileCol, p)
  }

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the IVF coarse
    * quantizer, then WITHIN each cluster drop every vector that has an
    * earlier (lower-id) cluster-mate with cosine >= tnum/tden; the
    * lowest-id member of each semantic group survives. Unlike the
    * LSH-blocked [[embeddingNearDupsInt]] (random hyperplane buckets,
    * probabilistic recall), the cluster restriction IS the operator's
    * contract: cross-cluster near-dups are out of scope by design — that
    * bound is what makes the pairwise test tractable at corpus scale.
    * MEASURED cluster recall (SimilaritySpec "MEASURED SemDeDup cluster
    * recall" — 2000×16 corpus of 64 overlapping clusters, tau=8/10,
    * 31k true pairs, autoNlist=32): 0.985 with converged
    * [[KMeansInt.kmeansPlusPlusInit]]+[[KMeansInt.converge]] centroids,
    * 0.767 with the lowest-id seed fallback — for THIS operator the
    * centroid choice is not cosmetic; run the k-means build.
    *
    * Output: one row per input vector —
    * (idCol, centroid_id, kept, dup_of) with `dup_of` = the lowest
    * earlier qualifying cluster-mate (NULL iff kept).
    *
    * 100 TB shape: centroid assignment is the zero-shuffle inlined-literal
    * argmin shared with [[ivfTopKInt]]; the pairwise test is a TILED
    * within-cluster self-join (see [[clusterTiles]]) on composite keys
    * (centroid_id, tile_a, tile_b), so per-task candidate work is bounded
    * at `tileRows`^2 BY CONSTRUCTION — independent of the join strategy
    * Catalyst picks, of AQE coalescing, and of cluster skew. (The r8
    * sweep measured why this matters: the previous centroid_id-keyed join
    * assumed its build side broadcasts; past the 10 MB broadcast
    * threshold the plan flipped to a sort-merge join on the ~nlist-valued
    * centroid key whose exchange AQE coalesced — blind to the quadratic
    * join OUTPUT — into a handful of giant tasks: 25.6 s -> 324.9 s
    * across the sf2->sf4 doubling. Tiling removes the broadcastability
    * assumption instead of re-tuning it.) Pair work is sum over clusters
    * of |c|^2, bounded by balanced k-means sizing ([[autoNlist]] holds
    * expected occupancy flat as the corpus grows); the tile exchanges run
    * at an explicit width proportional to the exact tile-pair count, so
    * parallelism tracks work. The threshold test runs INSIDE the join
    * stage via the native 192-bit [[graft.functions.CosineThresholdExpr]]
    * (exact at any dim/scale, whole-stage codegen); only (vec_id, dup_of)
    * scalars reach the min-aggregation exchange. All-integer, so a SQL
    * oracle replays it bit-for-bit — tiling repartitions the pair test,
    * never changes its result set. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int = 8, thresholdNum: Int = 3,
               thresholdDen: Int = 10, scale: Int = 1000,
               centroids: Option[Seq[(Long, Array[Long])]] = None,
               tileRows: Int = 2048): DataFrame = {
    val cents = centroids.getOrElse(
      seedCentroidsInt(df, idCol, vecCol, nCentroids, scale))
    val assigned = df.select(col(idCol),
        VectorFns.quantize(col(vecCol), scale).as("__qv"))
      // norm once per row, before the self-join fans out candidates
      .withColumn("__n2", aggregate(col("__qv"), lit(0L), (acc, x) => acc + x * x))
      // coalesce: non-nullable join key, so constraint propagation adds
      // no isnotnull filter re-evaluating the assignment argmin (the
      // ranking array is never empty — cents is non-empty by require)
      .withColumn("centroid_id", coalesce(
        centroidArgmin(cents)(col("__qv")), lit(-1L)))
    val (tiles, p) = clusterTiles(assigned, idCol, tileRows)
    // shared exchange: both self-join sides (and nothing else) reuse one
    // assignment pass through this explicit-count repartition — explicit
    // so AQE cannot coalesce it (the exchange input is ~1 MB of vectors
    // at bench scale; AQE is blind to the quadratic join OUTPUT behind
    // it — the q39 posting-exchange lesson).
    val v = assigned
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("centroid_id"), col(idCol))
      .withColumn("__nt", tiles)
      // coalesce: pmod is nullable by type (divisor-0 -> null; __nt >= 1
      // by construction) — same non-nullable-join-key rule as centroid_id
      .withColumn("__tile", coalesce(
        pmod(xxhash64(col(idCol)), col("__nt").cast("long")).cast("int"),
        lit(0)))
    val a = v
      .withColumn("__pb", explode(sequence(lit(0), col("__nt") - 1)))
      .select(col("centroid_id"), col("__tile").as("__pa"), col("__pb"),
        col(idCol).as("__ida"), col("__qv").as("__qa"), col("__n2").as("__na2"))
      .repartition(p, col("centroid_id"), col("__pa"), col("__pb"))
    val b = v
      .withColumn("__pa", explode(sequence(lit(0), col("__nt") - 1)))
      .select(col("centroid_id"), col("__pa"), col("__tile").as("__pb"),
        col(idCol).as("__idb"), col("__qv").as("__qb"), col("__n2").as("__nb2"))
      .repartition(p, col("centroid_id"), col("__pa"), col("__pb"))
    import org.apache.spark.sql.graft.ExprBridge
    val passes = (qdot: Column, a2: Column, b2: Column) =>
      ExprBridge.column(graft.functions.CosineThresholdExpr(
        ExprBridge.expression(qdot), ExprBridge.expression(a2),
        ExprBridge.expression(b2), thresholdNum.toLong, thresholdDen.toLong))
    // Formulation note (measured, same-window A/B at sf0.1, reps=7): an
    // aggregated LEFT OUTER pair join — every vector straight to the
    // output with its min witness, no join-back, base consumed once —
    // looks strictly cleaner but benched 3.58 s vs 2.20 s for this
    // inner-join + broadcast join-back shape. The pairwise condition
    // evaluation is the hot loop either way, and the outer-join path
    // evaluates it outside the codegen'd probe; the extra narrow base
    // scan this formulation pays is metadata-cheap by comparison. The
    // inner self-join's symmetric IsNotNull constraints also keep both
    // pair sides identical, so the assignment pass runs once under a
    // ReusedExchange.
    val dropped = a.join(b, Seq("centroid_id", "__pa", "__pb"))
      .filter(col("__idb") < col("__ida"))
      .withColumn("__qdot", VectorFns.quantizedDot(col("__qa"), col("__qb")))
      .filter(passes(col("__qdot"), col("__na2"), col("__nb2")))
      // scalars only past this point; min picks the deterministic witness
      // (partial agg combines per tile, so the final exchange carries at
      // most one (ida, min idb) row per tile per survivor)
      .groupBy(col("__ida")).agg(min(col("__idb")).as("dup_of"))
    assigned.select(col(idCol), col("centroid_id"))
      .join(dropped.withColumnRenamed("__ida", idCol), Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** Persisted signature index for INCREMENTAL embedding dedup — the
    * embedding analog of [[graft.operators.Dedup.nearDupIndex]]: one row
    * per (seed, bucket) membership carrying the quantized vector and its
    * norm, so future batches probe buckets without ever re-reading or
    * re-hashing the history corpus. Persist partitioned by
    * (seed, bucket) for probe-side partition pruning. */
  def embedIndex(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                 bits: Int = 10, seeds: Seq[Long] = Seq(42L, 43L, 44L),
                 scale: Int = 1000): DataFrame = {
    val qdf = df.select(col(idCol),
        VectorFns.quantize(col(vecCol), scale).as("qv"))
      .withColumn("n2", aggregate(col("qv"), lit(0L), (acc, v) => acc + v * v))
    val seedBuckets = seeds.zipWithIndex.map { case (s, i) =>
      struct(lit(i).as("seed"),
        VectorFns.srpBucketInt(col("qv"), rademacherPlanes(dim, bits, s)).as("bucket"))
    }
    qdf.select(col(idCol), col("qv"), col("n2"),
        explode(array(seedBuckets: _*)).as("sb"))
      .select(col(idCol), col("sb.seed").as("seed"),
        col("sb.bucket").as("bucket"), col("qv"), col("n2"))
  }

  /** Incremental embedding near-dup pairs: a NEW batch against a
    * persisted [[embedIndex]] — O(batch) daily embedding ingestion, the
    * q65 discipline for vectors. History is touched only through the
    * index rows whose (seed, bucket) the batch actually occupies (a
    * broadcast semi-join probe — with a (seed, bucket)-partitioned index
    * that is partition pruning), and index-vs-index collisions are
    * filtered out before the threshold test, so work scales with the
    * batch, never the corpus. Same exact integer cosine contract as
    * [[embeddingNearDupsInt]] (native 192-bit threshold expr inside the
    * join stage; only scalar survivors reach the dedup exchange).
    * Precondition: batch ids are disjoint from index ids (enforce by
    * anti-joining a replayed batch out of the index read — see
    * StreamingIngest.probeIndex for the pattern). */
  def incrementalEmbedNearDups(batch: DataFrame, index: DataFrame,
                               idCol: String, vecCol: String, dim: Int,
                               thresholdNum: Int = 3, thresholdDen: Int = 10,
                               bits: Int = 10,
                               seeds: Seq[Long] = Seq(42L, 43L, 44L),
                               scale: Int = 1000,
                               maxBucketSize: Int = 1000): DataFrame = {
    val bIdx = embedIndex(batch, idCol, vecCol, dim, bits, seeds, scale)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val touched = bIdx.select(col("seed"), col("bucket")).distinct()
    val iIdx = index.join(broadcast(touched), Seq("seed", "bucket"), "leftsemi")
    val union = bIdx.withColumn("__new", lit(true))
      .unionByName(iIdx.withColumn("__new", lit(false)))
      .repartition(col("seed"), col("bucket"))
    val capped =
      if (maxBucketSize == Int.MaxValue) union
      else union
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy(col("seed"), col("bucket"))))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n")
    val a = capped.select(col("seed"), col("bucket"), col(idCol).as("id_a"),
      col("qv").as("__qa"), col("n2").as("__na2"), col("__new").as("__na"))
    val c = capped.select(col("seed"), col("bucket"), col(idCol).as("id_b"),
      col("qv").as("__qb"), col("n2").as("__nb2"), col("__new").as("__nb"))
    import org.apache.spark.sql.graft.ExprBridge
    val passes = (qdot: Column, a2: Column, b2: Column) =>
      ExprBridge.column(graft.functions.CosineThresholdExpr(
        ExprBridge.expression(qdot), ExprBridge.expression(a2),
        ExprBridge.expression(b2), thresholdNum.toLong, thresholdDen.toLong))
    val out = a.join(c, Seq("seed", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("__na") || col("__nb")) // drop index-vs-index collisions
      .withColumn("qdot", VectorFns.quantizedDot(col("__qa"), col("__qb")))
      .filter(passes(col("qdot"), col("__na2"), col("__nb2")))
      .select(col("id_a"), col("id_b"), col("qdot"))
      .dropDuplicates("id_a", "id_b")
      .localCheckpoint(true)
    bIdx.unpersist()
    out
  }

  /** kNN label-noise detection (the confident-learning / Deep-kNN audit
    * shape, Northcutt et al. 2021 lineage): every labeled vector gets the
    * majority label of its k nearest neighbors; a disagreement with its
    * own label flags a candidate annotation error — the label-audit step
    * of classifier-filtered data curation (labels here are quality/domain
    * classes, and noisy ones poison the filter).
    *
    * Neighbor order is the repo's established integer convention
    * (q42/q43): quantized-dot descending, id ascending — exact integer
    * comparisons, so rank and vote replay bit-for-bit in SQL. Votes tie-
    * break toward the SMALLEST label. Output: (idCol, label, knn_label,
    * votes, k_eff, mislabeled); `k_eff` < k when the cluster runs out of
    * neighbors.
    *
    * Scale contract = [[semDedup]]'s: candidates are bounded by the IVF
    * coarse clusters (`nCentroids = 1` degrades to exact brute-force kNN
    * — the oracle config; production uses [[autoNlist]] so per-cluster
    * occupancy — and with it the quadratic term — stays constant as the
    * corpus grows), and the pair test is the same TILED self-join
    * ([[clusterTiles]]): per-task candidate work is capped at
    * `tileRows`^2 by construction, whatever join strategy or AQE decides
    * (the r8 sweep measured the untiled centroid-keyed join flipping off
    * broadcast past 10 MB and cliffing 31.2 s -> 262.1 s over the
    * sf2->sf4 doubling). Ranking is two-phase top-k, the standard tiled
    * refinement: each tile ranks its own candidates IN PLACE (the tile
    * window keys subsume the pair exchange — no extra shuffle) and keeps
    * `k`, then a per-query window over the <= k * B_c scalar survivors
    * picks the global top-k — identical result, since a global top-k
    * neighbor is top-k within its tile. Only (id, label, qdot) scalars
    * leave the join stage. */
  def labelNoiseKnn(df: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, nCentroids: Int = 8,
                    scale: Int = 1000,
                    centroids: Option[Seq[(Long, Array[Long])]] = None,
                    tileRows: Int = 1024): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cents = centroids.getOrElse(
      seedCentroidsInt(df, idCol, vecCol, nCentroids, scale))
    val assigned = df.select(col(idCol), col(labelCol).cast("int").as("__lbl"),
        VectorFns.quantize(col(vecCol), scale).as("__qv"))
      // coalesce: non-nullable join key, so constraint propagation adds
      // no isnotnull filter re-evaluating the assignment argmin (the
      // ranking array is never empty — cents is non-empty by require)
      .withColumn("centroid_id", coalesce(
        centroidArgmin(cents)(col("__qv")), lit(-1L)))
    val (tiles, p) = clusterTiles(assigned, idCol, tileRows)
    // the semDedup exchange discipline: explicit partition count so the
    // shared assignment pass survives AQE coalescing and is reused by
    // both pair sides
    val v = assigned
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("centroid_id"), col(idCol))
      .withColumn("__nt", tiles)
      // coalesce: pmod is nullable by type (divisor-0 -> null; __nt >= 1
      // by construction) — same non-nullable-join-key rule as centroid_id
      .withColumn("__tile", coalesce(
        pmod(xxhash64(col(idCol)), col("__nt").cast("long")).cast("int"),
        lit(0)))
    val a = v
      .withColumn("__pb", explode(sequence(lit(0), col("__nt") - 1)))
      .select(col("centroid_id"), col("__tile").as("__pa"), col("__pb"),
        col(idCol).as("__ida"), col("__lbl").as("__la"), col("__qv").as("__qa"))
      .repartition(p, col("centroid_id"), col("__pa"), col("__pb"))
    val b = v
      .withColumn("__pa", explode(sequence(lit(0), col("__nt") - 1)))
      .select(col("centroid_id"), col("__pa"), col("__tile").as("__pb"),
        col(idCol).as("__idb"), col("__lbl").as("__lb"), col("__qv").as("__qb"))
      .repartition(p, col("centroid_id"), col("__pa"), col("__pb"))
    val ranked = a.join(b, Seq("centroid_id", "__pa", "__pb"))
      .filter(col("__idb") =!= col("__ida"))
      .withColumn("__qdot", VectorFns.quantizedDot(col("__qa"), col("__qb")))
      // scalars only past the join stage
      .select(col("centroid_id"), col("__pa"), col("__pb"), col("__ida"),
        col("__la"), col("__lb"), col("__idb"), col("__qdot"))
      // phase 1: per-tile top-k, ranked IN PLACE — the window keys
      // (centroid, pa, pb, ida) are a superset of the pair exchange's
      // (centroid, pa, pb), so the O(tile^2) candidate stream sorts
      // locally and never re-shuffles (the r7 lesson: windowing the raw
      // candidates by bare __ida measured 114 s at the sf2 sweep point)
      .withColumn("__tr", row_number().over(
        Window.partitionBy(col("centroid_id"), col("__pa"), col("__pb"),
            col("__ida"))
          .orderBy(col("__qdot").desc, col("__idb"))))
      .filter(col("__tr") <= k)
      // phase 2: global top-k per query over <= k * B_c scalar rows
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("__ida"))
          .orderBy(col("__qdot").desc, col("__idb"))))
      .filter(col("__r") <= k)
    val votes = ranked.groupBy(col("__ida"), col("__la"), col("__lb"))
      .agg(count(lit(1)).cast("int").as("votes"))
    val w = Window.partitionBy(col("__ida"))
    votes
      .withColumn("k_eff", sum(col("votes")).over(w).cast("int"))
      .withColumn("__vr", row_number().over(
        w.orderBy(col("votes").desc, col("__lb"))))
      .filter(col("__vr") === 1)
      .select(col("__ida").as(idCol), col("__la").as("label"),
        col("__lb").as("knn_label"), col("votes"), col("k_eff"),
        (col("__la") =!= col("__lb")).as("mislabeled"))
  }
}

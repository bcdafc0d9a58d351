package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED IVF dense-retrieval index (r16 verdict #2 — sparse
  * retrieval got the full artifact lifecycle in q120; dense had none:
  * every `hybridTopK` call at scale re-derived or re-shipped its
  * centroids). The artifact is (coarse centroids + the centroid-
  * partitioned quantized corpus vectors): build once per ingest epoch,
  * append day-2 vectors incrementally under FROZEN centroids (the
  * FAISS `IndexIVF.add` convention — assignment geometry must not move
  * under a live index; re-train by shipping a new artifact), and probe
  * with partition pruning — a query reads `nProbe / nlist` of the
  * corpus, which is the entire point of IVF at 100 TB.
  *
  * ON-DISK LAYOUT — the [[CorpusStats.Bm25Index]] durability contract
  * (r15 verdict #1, re-applied verbatim): each write lands a complete
  * `$path/v=<n>/` unit — `ivf_vectors` (partitioned by centroid_id)
  * and `ivf_centroids` FIRST, `ivf_meta` LAST — and readers take the
  * newest version whose meta exists. No in-place rename of a live
  * directory anywhere, so no crash point can publish a half-appended
  * vector set: either the new meta landed (version complete,
  * atomically visible) or it didn't (readers still see the previous
  * version untouched). The meta carries the vector frame's row count +
  * content fingerprint (re-validated at load) and the ingested-batch
  * ledger, so a replayed [[ivfAppendBatch]] is a loud no-op instead of
  * a silent double-insert. */
object DenseIndex {

  /** A loaded dense index: driver-resident centroids (nlist × dim
    * longs — broadcast-dim-sized, never data) + the centroid-partitioned
    * quantized vector frame (`neighbor_id`, `cv`, `centroid_id`). */
  final case class IvfIndex(centroids: Seq[(Long, Array[Long])],
                            scale: Int, nVectors: Long, vectors: DataFrame)

  private final case class IvfMeta(scale: Int, nlist: Int, dim: Int,
                                   nVectors: Long, vecFp: Long,
                                   batchIds: Seq[Long])

  private val IvfTag = "ivf-dense-v1"

  // Explicit artifact schemas: the distributed vector read passes one,
  // so it pays no schema-inference job (the r17 per-step lifecycle
  // trace, OPTIMIZATION_r17.md, showed one "parquet at" job per artifact
  // read before this). The
  // DRIVER-SIZED artifact tables (1-row meta, nlist-row centroids) are
  // read with graft.util.ArtifactIO.readLocal — zero Spark jobs (r18:
  // the remaining lifecycle jobs were exactly these collect round-trips).
  private val VectorsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("neighbor_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("cv",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("centroid_id",
      org.apache.spark.sql.types.LongType)))

  /** Order-independent exact fingerprint of the (neighbor_id, cv,
    * centroid_id) frame: (count, XOR of xxhash64 over all three) — the
    * [[CorpusStats]] dfFingerprint discipline; ids are unique, so pairs
    * can never self-cancel. */
  private def vecFingerprint(v: DataFrame): (Long, Long) = {
    // ONE job, zero exchanges: XOR and count are commutative/associative,
    // so per-partition partials merged on the driver are bit-identical to
    // the SQL bit_xor aggregate this replaces (which paid a partial+final
    // exchange = 2 AQE jobs per fingerprint)
    val partials = v.selectExpr("xxhash64(neighbor_id, cv, centroid_id)")
      .queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var x = 0L
        while (it.hasNext) { x ^= it.next().getLong(0); n += 1L }
        Iterator((n, x))
      }.collect()
    partials.foldLeft((0L, 0L)) { case ((n, x), (pn, px)) => (n + pn, x ^ px) }
  }

  private def readMeta(spark: SparkSession,
                       vDir: org.apache.hadoop.fs.Path): IvfMeta = {
    import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
    val rows = graft.util.ArtifactIO.readLocal(spark, s"$vDir/ivf_meta",
      "model_tag" -> StringType, "scale" -> IntegerType,
      "nlist" -> IntegerType, "dim" -> IntegerType,
      "n_vectors" -> LongType, "vec_fp" -> LongType,
      "batch_ids" -> ArrayType(LongType))
    require(rows.length == 1,
      s"IVF meta at $vDir/ivf_meta has ${rows.length} rows, expected 1")
    val r = rows.head
    require(r.getString(0) == IvfTag,
      s"IVF artifact at $vDir has model_tag '${r.getString(0)}', " +
        s"expected '$IvfTag'")
    require(r.getInt(1) >= 1 && r.getInt(2) >= 1 && r.getInt(3) >= 1 &&
        r.getLong(4) >= 0,
      s"IVF artifact at $vDir has out-of-domain stats")
    IvfMeta(r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4),
      r.getLong(5), r.getSeq[Long](6))
  }

  /** The artifact's versions: `v=<n>/` dirs committed by `ivf_meta`. */
  private val IvfVersions =
    new graft.util.ArtifactIO.Versioned[IvfMeta]("ivf_meta", readMeta)

  /** Load one ALREADY-RESOLVED version (meta in hand) — the shared core
    * of [[ivfLoadIndex]] and the append path, so resolving a version
    * and loading it costs exactly one meta read total. */
  private def loadFrom(spark: SparkSession, vDir: org.apache.hadoop.fs.Path,
                       meta: IvfMeta, validate: Boolean): IvfIndex = {
    val cents = {
      import org.apache.spark.sql.types.{ArrayType, LongType}
      graft.util.ArtifactIO.readLocal(spark, s"$vDir/ivf_centroids",
          "cid" -> LongType, "cv" -> ArrayType(LongType))
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
    }
    require(cents.size == meta.nlist,
      s"IVF artifact at $vDir has ${cents.size} centroids, meta says " +
        s"${meta.nlist}")
    require(cents.forall(_._2.length == meta.dim),
      s"IVF artifact at $vDir has a centroid of the wrong dimension " +
        s"(meta dim = ${meta.dim})")
    val vecs = spark.read.schema(VectorsSchema)
      .parquet(s"$vDir/ivf_vectors")
      .select(col("neighbor_id"), col("cv"), col("centroid_id"))
    if (validate) {
      val (n, fp) = vecFingerprint(vecs)
      require(n == meta.nVectors && fp == meta.vecFp,
        s"IVF artifact at $vDir is inconsistent: vectors frame has $n " +
          s"rows / fingerprint $fp but meta recorded ${meta.nVectors} / " +
          s"${meta.vecFp} — the vectors were modified behind the meta's back")
    }
    IvfIndex(cents, meta.scale, meta.nVectors, vecs)
  }

  /** Land a new version as one unit: vectors (centroid-partitioned) and
    * centroids FIRST, meta (with the fingerprint measured from what was
    * actually written) LAST, then best-effort prune of older versions
    * ([[graft.util.ArtifactIO.Versioned]], shared with [[CorpusStats]]). */
  private def writeVersion(spark: SparkSession, path: String,
                           centroids: Seq[(Long, Array[Long])], scale: Int,
                           vecs: DataFrame,
                           batchIds: Seq[Long]): IvfIndex = {
    import spark.implicits._
    require(centroids.nonEmpty, "IVF artifact needs >= 1 centroid")
    val dim = centroids.head._2.length
    val next = IvfVersions.nextVersion(spark, path)
    val vDir = s"$path/v=$next"
    // cluster rows by centroid BEFORE the partitioned write: each task
    // then writes whole lists (one file per centroid instead of one per
    // (input-partition, centroid) — nlist × width small files), which is
    // also the production layout a probe wants to read: a centroid's
    // list is one contiguous file set, not shards of every writer task
    vecs.select(col("neighbor_id").cast("long"), col("cv"),
        col("centroid_id").cast("long"))
      .repartition(col("centroid_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$vDir/ivf_vectors")
    centroids.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv").coalesce(1)
      .write.mode("overwrite").parquet(s"$vDir/ivf_centroids")
    val written = spark.read.schema(VectorsSchema)
      .parquet(s"$vDir/ivf_vectors")
      .select(col("neighbor_id"), col("cv"), col("centroid_id"))
    val (n, fp) = vecFingerprint(written)
    Seq((IvfTag, scale, centroids.size, dim, n, fp, batchIds))
      .toDF("model_tag", "scale", "nlist", "dim", "n_vectors", "vec_fp",
        "batch_ids")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$vDir/ivf_meta") // commits the version
    IvfVersions.pruneExcept(spark, path, next)
    IvfIndex(centroids, scale, n, written)
  }

  /** Recovery/compaction for a versioned IVF artifact (safe any time):
    * prunes interrupted writes (no meta) and superseded complete
    * versions. Returns the surviving version number, -1 if none. */
  def ivfRecover(spark: SparkSession, path: String): Long =
    IvfVersions.recoverKeep(spark, path).map(_._1).getOrElse(-1L)

  /** Build an in-memory [[IvfIndex]] from a corpus: coarse centroids
    * (deterministic lowest-id seeds by default — the oracle-portable
    * q62 config; `converge = true` runs k-means++ init + Lloyd to
    * convergence, the production recall config, recall measured in
    * SimilaritySpec), then one zero-shuffle argmin assignment pass.
    * The assignment column is what [[ivfSaveIndex]] partitions by. */
  def ivfBuildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nlist: Int = 8, scale: Int = 1000,
                    converge: Boolean = false): IvfIndex = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val cents0 =
      if (converge) KMeansInt.kmeansPlusPlusInit(corpus, idCol, vecCol,
        nlist, scale)
      else Similarity.seedCentroidsInt(corpus, idCol, vecCol, nlist, scale)
    val cents =
      if (converge)
        KMeansInt.converge(corpus, idCol, vecCol, cents0, scale)._1
      else cents0
    val vecs = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        graft.functions.VectorFns.quantize(col(vecCol), scale).as("cv"))
      .withColumn("centroid_id", Similarity.centroidArgmin(cents)(col("cv")))
    val n = vecs.count()
    IvfIndex(cents, scale, n, vecs)
  }

  /** Persist an [[IvfIndex]] as a fresh artifact version under `path`
    * (vectors + centroids first, meta LAST). All-integer — bit-lossless. */
  def ivfSaveIndex(spark: SparkSession, index: IvfIndex,
                   path: String): Unit = {
    writeVersion(spark, path, index.centroids, index.scale, index.vectors,
      batchIds = Seq.empty)
    ()
  }

  /** FUSED build + save — the build-for-persistence path (guide §1.2:
    * remove whole passes before tuning anything else). [[ivfBuildIndex]]
    * runs a full assignment-scan `count()` only to fill `nVectors`, and
    * [[ivfSaveIndex]] then re-derives the count anyway from the
    * read-back fingerprint; landing the artifact directly lets the
    * write job be the ONLY corpus pass (centroid seeding aside) and the
    * fingerprint supply the count. Byte-identical artifact, one fewer
    * corpus scan — the r17 before/after plan pair for q136 shows the
    * dropped count job. */
  def ivfBuildSaveIndex(spark: SparkSession, corpus: DataFrame,
                        idCol: String, vecCol: String, path: String,
                        nlist: Int = 8, scale: Int = 1000,
                        converge: Boolean = false): IvfIndex = {
    require(nlist >= 1, s"nlist must be >= 1, got $nlist")
    val cents0 =
      if (converge) KMeansInt.kmeansPlusPlusInit(corpus, idCol, vecCol,
        nlist, scale)
      else Similarity.seedCentroidsInt(corpus, idCol, vecCol, nlist, scale)
    val cents =
      if (converge)
        KMeansInt.converge(corpus, idCol, vecCol, cents0, scale)._1
      else cents0
    val vecs = corpus.select(col(idCol).cast("long").as("neighbor_id"),
        graft.functions.VectorFns.quantize(col(vecCol), scale).as("cv"))
      .withColumn("centroid_id", Similarity.centroidArgmin(cents)(col("cv")))
    writeVersion(spark, path, cents, scale, vecs, batchIds = Seq.empty)
  }

  /** Load the newest COMPLETE version, re-validating loudly: tag, meta
    * arity/domain, centroid frame arity vs nlist, and — `validate =
    * true` (default) — the vector frame's count + content fingerprint,
    * so a damaged or hand-edited vector set can never silently skew
    * probes. */
  def ivfLoadIndex(spark: SparkSession, path: String,
                   validate: Boolean = true): IvfIndex = {
    val (_, vDir, meta) = IvfVersions.latestComplete(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"IVF artifact at $path has no complete version " +
          "(run ivfRecover to prune interrupted writes, or rebuild)"))
    loadFrom(spark, vDir, meta, validate)
  }

  /** INCREMENTAL vector append: assign the batch under the artifact's
    * FROZEN centroids (assignment geometry must not move under a live
    * index — re-train by shipping a new artifact at a new path) and
    * land (existing ∪ batch) as one new version. Replay-safe via the
    * ingested-batch ledger: a batch id already in the meta is a loud
    * no-op returning the current index. O(batch) assignment work plus
    * the union rewrite; runs [[ivfRecover]] first, crash-safe at every
    * boundary (DenseIndexSpec injects crashes like CorpusStatsSpec). */
  def ivfAppendBatch(spark: SparkSession, path: String, batch: DataFrame,
                     idCol: String, vecCol: String,
                     batchId: Long = -1L): IvfIndex = {
    // ONE version resolution serves recovery, the ledger check and the
    // load below — the pre-r17 shape re-read the 1-row meta parquet
    // three times on this path (a Spark job each)
    val (_, vDir, meta) = IvfVersions.recoverKeep(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"IVF artifact at $path has no complete version to append to"))
    if (batchId >= 0 && meta.batchIds.contains(batchId)) {
      return loadFrom(spark, vDir, meta, validate = false)
    }
    val cur = loadFrom(spark, vDir, meta, validate = false)
    val inc = batch.select(col(idCol).cast("long").as("neighbor_id"),
        graft.functions.VectorFns.quantize(col(vecCol), cur.scale).as("cv"))
      .withColumn("centroid_id",
        Similarity.centroidArgmin(cur.centroids)(col("cv")))
    writeVersion(spark, path, cur.centroids, cur.scale,
      cur.vectors.unionByName(inc),
      if (batchId >= 0) meta.batchIds :+ batchId else meta.batchIds)
  }

  /** Probe the index: each query ranks the driver-resident centroids,
    * takes its `nProbe` nearest lists, and exact-re-ranks ONLY those —
    * the vector frame is filtered by the probed centroid-id LITERALS,
    * so a read from the partitioned artifact prunes to the probed
    * partitions (plan-pinned in DenseIndexSpec: the scan's partition
    * filters name centroid_id). Queries collect to the driver first —
    * a query set IS driver-sized by definition; the loud `maxQueries`
    * guard keeps a mis-wired corpus-as-queries call from OOMing the
    * driver (the moreLikeThisIndexed maxSeedTerms policy). Ranking:
    * squared-L2 ASC, ties (dist2, neighbor_id) ASC — the q62
    * convention, bit-replayable. */
  def ivfTopKIndexed(index: IvfIndex, queries: DataFrame, queryId: String,
                     queryVec: String, k: Int, nProbe: Int = 2,
                     maxQueries: Int = 4096): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nProbe >= 1 && nProbe <= index.centroids.size,
      s"nProbe must be in [1, nlist=${index.centroids.size}], got $nProbe")
    val qRows = queries.select(col(queryId).cast("long"),
        graft.functions.VectorFns.quantize(col(queryVec), index.scale))
      .limit(maxQueries + 1).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    require(qRows.length <= maxQueries,
      s"ivfTopKIndexed: > $maxQueries queries — a corpus is not a query " +
        "set; probe in batches or raise the guard knowingly")
    probeQuantized(index, qRows, k, nProbe)
  }

  /** The probe core over ALREADY-QUANTIZED driver-side query vectors —
    * shared by [[ivfTopKIndexed]] (which quantizes raw query vectors)
    * and [[hybridTopKIndexed]] (whose query vector comes out of the
    * artifact pre-quantized; re-quantizing it would scale it twice). */
  private def probeQuantized(index: IvfIndex,
                             qRows: Seq[(Long, Array[Long])], k: Int,
                             nProbe: Int): DataFrame = {
    val spark = index.vectors.sparkSession
    import spark.implicits._
    // driver-side probe selection over driver-resident centroids: the
    // probed-list union becomes a PARTITION-PRUNING literal on the scan
    val probes = qRows.flatMap { case (qid, qv) =>
      index.centroids.map { case (cid, cv) =>
        var s = 0L
        var i = 0
        while (i < cv.length) { val d = qv(i) - cv(i); s += d * d; i += 1 }
        (qid, cid, s)
      }.sortBy { case (_, cid, d2) => (d2, cid) }.take(nProbe)
        .map { case (qid2, cid, _) => (qid2, cid, qv.toSeq) }
    }
    val probedCids = probes.map(_._2).distinct.sorted
    val probeDf = probes.toDF("query_id", "centroid_id", "__qv")
    index.vectors
      .filter(col("centroid_id").isin(probedCids: _*))
      .join(broadcast(probeDf), Seq("centroid_id"))
      .withColumn("dist2", Similarity.qdist2(col("cv"), col("__qv")))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("dist2").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("dist2"), col("rank"))
  }

  /** Fully-indexed hybrid retrieval: RRF fusion of the persisted BM25
    * artifact (sparse) and THIS persisted IVF artifact (dense) — the
    * r16 verdict's #2 end state: `hybridTopK` probing BOTH persisted
    * artifacts, zero per-call corpus statistics or centroid work. The
    * query vector is looked up in the dense artifact itself (the
    * stored-query convention of q127). */
  def hybridTopKIndexed(docs: DataFrame, idCol: String, textCol: String,
                        queryTerms: Seq[String],
                        sparseIx: CorpusStats.Bm25Index, denseIx: IvfIndex,
                        queryVecId: Long, nSparse: Int = 20,
                        nDense: Int = 20, nProbe: Int = 2, kRrf: Int = 60,
                        topK: Int = 10): DataFrame = {
    val sparse = CorpusStats.bm25TopKIndexed(docs, idCol, textCol,
        queryTerms, sparseIx, topK = nSparse)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_i").desc, col(idCol))))
    val qRows = denseIx.vectors.filter(col("neighbor_id") === queryVecId)
      .select(col("neighbor_id"), col("cv")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray)).toSeq
    require(qRows.nonEmpty,
      s"hybridTopKIndexed: query vector $queryVecId is not in the dense " +
        "artifact")
    val dense = probeQuantized(denseIx, qRows, k = nDense, nProbe = nProbe)
      .select(col("neighbor_id").as(idCol), col("rank"))
    Retrieval.rrfFuse(sparse, dense, idCol, "rank", kRrf, topK)
  }
}

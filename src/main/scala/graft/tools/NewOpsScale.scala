package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CorpusStats, Pca, QualityModel}

/** Scaling sweep for the round-14 retrieval/LM/embedding additions
  * (q113–q117) over GenScaleData corpora — one JVM per scale point (run
  * the tool once per point; the Bench sweep discipline), WindowProbe
  * bracketing in-file.
  *
  * The BM25 query terms are corpus-appropriate (`w7 w42 w1234` exist in
  * the rich<N> 20k vocab; the testdata terms don't), and the frozen
  * trigram runs its PRODUCTION config (sample-trained, mod 16 — the
  * whole-corpus oracle config throws past the trigram cap on an
  * open-vocabulary corpus by design).
  *
  * usage: NewOpsScale <docsDir|-> <embDir|-> [reps]
  * prints one JSON line: {"docs_dir":…,"n_docs":…,"n_vectors":…,
  * "window_ratio":…,"queries_min":{…},"queries_med":{…}}
  */
object NewOpsScale {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: NewOpsScale <docsDir|-> <embDir|-> [reps]")
    val docsDir = args(0)
    val embDir = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.Graft.session("graft-newops-scale")

    def docs: DataFrame = spark.read.parquet(s"$docsDir/documents.parquet")
    def embs: DataFrame = spark.read.parquet(s"$embDir/embeddings.parquet")
    // fast-decay spectrum (weight e^{-k/4}: top-8 variance share ~98%)
    // — the regime where a top-8 reduction is SOUND. The first A/B run
    // used 1/(1+k/8) damping, whose top-8 share is only ~62%: the
    // reduced space inflated random-pair cosine and over-flagged 39733
    // of 40000 where full-dim flagged 229 — the honest lesson that
    // PCA-p dedup requires the spectrum to justify p (the model exposes
    // eigenvalues exactly so a pipeline can check the share).
    def embsAniso: DataFrame = embs.withColumn("embedding",
      zip_with(col("embedding"),
        sequence(lit(0), org.apache.spark.sql.functions.size(col("embedding")) - 1),
        (x, k) => (x * exp(-k.cast("double") / 4.0)).cast("float")))
    val nDocs = if (docsDir == "-") 0L else docs.count()
    val nVecs = if (embDir == "-") 0L else embs.count()

    def semDedupProd(e: DataFrame, vecCol: String): DataFrame = {
      import graft.operators.{KMeansInt, Similarity}
      val nlist = Similarity.autoNlist(e.count(), targetListRows = 4096L)
      val init = KMeansInt.kmeansPlusPlusInit(e, "vec_id", vecCol, nlist,
        scale = 1000)
      val (cents, _) = KMeansInt.converge(e, "vec_id", vecCol, init,
        scale = 1000, maxIters = 8)
      // threshold 0.8 (not the q70 oracle's 0.3): the damped-spectrum
      // corpus concentrates random-pair cosine, and 0.3 flags ~100% of
      // it — a degenerate A/B (first run measured exactly that)
      Similarity.semDedup(e, "vec_id", vecCol, nCentroids = nlist,
          thresholdNum = 8, thresholdDen = 10, scale = 1000,
          centroids = Some(cents))
        .orderBy(col("vec_id"))
    }

    val ops: Seq[(String, () => DataFrame)] = {
      val text: Seq[(String, () => DataFrame)] = if (docsDir == "-") Nil else Seq(
        "q113_bm25_topk" -> (() =>
          CorpusStats.bm25TopK(docs, "doc_id", "text",
            Seq("w7", "w42", "w1234"), topK = 25)),
        "q114_trigram_perplexity" -> (() =>
          QualityModel.trigramCrossEntropy(docs, "doc_id", "text")
            .orderBy(col("doc_id"))),
        "q117_frozen_trigram_lm_p" -> (() => {
          val sample = docs.filter(
            pmod(xxhash64(col("doc_id")), lit(16)) === 0)
          val lm = QualityModel.trainTrigramLm(sample, "text")
          val sc = QualityModel.frozenTrigramScore(
            concat(col("text"), lit(graft.SparkEntry.OovSuffix)), lm)
          docs.select(col("doc_id"), sc.as("__s"))
            .select(col("doc_id"),
              col("__s.n_terms").cast("int").as("n_terms"),
              floor(col("__s.lp_sum").cast("double") / col("__s.n_terms")
                + lit(0.5)).cast("long").as("xent_micro"))
            .orderBy(col("doc_id"))
        }))
      val emb: Seq[(String, () => DataFrame)] = if (embDir == "-") Nil else Seq(
        "q115_embed_cov" -> (() =>
          Pca.embedCovariance(embs, "embedding", scale = 1000)),
        "q116_pca_project" -> (() => {
          val model = Pca.train(embs, "embedding", dim = 64, p = 4,
            scale = 1000)
          Pca.projectInt(embs, "vec_id", "embedding", model)
            .orderBy(col("vec_id"))
        }),
        // the q119 composition's payoff A/B, both in the PRODUCTION
        // semDedup config (autoNlist converged k-means — the q70 bench
        // twin): full-dim vs top-8-reduced over the ANISOTROPIC view
        // (dim k damped by 1/(1+k/8): the generated embeddings are
        // i.i.d.-isotropic, where ANY 8-dim reduction is maximally
        // lossy by construction and the comparison would only measure
        // machinery cost; real embedding spectra decay). Includes the
        // PCA train + projection cost, so the reported ratio is the
        // honest end-to-end one; flagged-set agreement is computed
        // after timing and lands in the JSON.
        "semdedup_full_p" -> (() => semDedupProd(embsAniso, "embedding")),
        "semdedup_pca8_p" -> (() => {
          // production shape: train, project, MATERIALIZE the reduced
          // index once (k-means + the tiled self-join otherwise
          // re-evaluate the projection expression per pass — the first
          // run measured 8x recompute amplification), then dedup over
          // the materialized 8-dim vectors. The write+read is inside
          // the timed thunk — the honest end-to-end cost.
          val model = graft.operators.Pca.train(embsAniso, "embedding",
            dim = 64, p = 8, scale = 1000)
          val path = s"/tmp/newops_pca8_$nVecs"
          graft.operators.Pca.withProjection(embsAniso, "embedding", model,
              "pca_vec")
            .select(col("vec_id"), col("pca_vec"))
            .write.mode("overwrite").parquet(path)
          semDedupProd(spark.read.parquet(path), "pca_vec")
        }))
      text ++ emb
    }


    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val before = WindowProbe.sample(spark)
    ops.foreach { case (_, f) => exec(f()) } // warm-up (JIT + page cache)
    val results = ops.map { case (name, f) =>
      val ts = (1 to reps).map { _ =>
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        exec(f())
        (System.nanoTime() - t0) / 1e9
      }.sorted
      name -> (ts.head, ts(ts.length / 2))
    }
    val after = WindowProbe.sample(spark)
    // flagged-set agreement of the semDedup A/B (computed AFTER timing)
    val agree =
      if (embDir == "-") ""
      else {
        def dupIds(df: DataFrame): Set[Long] =
          df.filter(!col("kept")).select(col("vec_id"))
            .collect().map(_.getLong(0)).toSet
        val full = dupIds(ops.toMap.apply("semdedup_full_p")())
        val proj = dupIds(ops.toMap.apply("semdedup_pca8_p")())
        val inter = (full & proj).size
        s""","semdedup_flagged":{"full":${full.size},"pca8":${proj.size},"both":$inter}"""
      }
    def fmt(d: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, d)
    val mins = results.map { case (k, v) => s""""$k":${fmt(v._1)}""" }
      .mkString("{", ",", "}")
    val meds = results.map { case (k, v) => s""""$k":${fmt(v._2)}""" }
      .mkString("{", ",", "}")
    val wr = fmt(math.max(before.worst, after.worst))
    println(s"""{"docs_dir":"$docsDir","emb_dir":"$embDir","n_docs":$nDocs,"n_vectors":$nVecs,"reps":$reps,"window_ratio":$wr$agree,"queries_min":$mins,"queries_med":$meds}""")
    spark.stop()
  }
}

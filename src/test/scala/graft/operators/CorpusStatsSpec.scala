package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  // counts by construction: a=8, b=4, c=2, d=1
  private val corpus = Seq(
    (1L, "a a a a b b"), (2L, "a a a a b b c"), (3L, "c d")
  ).toDF("doc_id", "text")

  test("tokenFrequencies: counts and total-order ranks") {
    val got = CorpusStats.tokenFrequencies(corpus, "text", topN = 3)
      .select("tok", "cnt", "rank").as[(String, Long, Int)]
      .collect().toSeq.sortBy(_._3)
    assert(got == Seq(("a", 8L, 1), ("b", 4L, 2), ("c", 2L, 3)))
  }

  test("zipfStats: slope matches the closed-form integer regression") {
    // replicate the operator's fixed-point arithmetic exactly
    val pts = Seq((1, 8L), (2, 4L), (3, 2L), (4, 1L)).map { case (r, c) =>
      (math.round(math.log(r.toDouble) * 1e4),
        math.round(math.log(c.toDouble) * 1e4)) }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val expect = BigDecimal((n * sxy - sx * sy).toDouble /
      (n * sxx - sx * sx).toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

    val got = CorpusStats.zipfStats(corpus, "text", topN = 100)
      .select("n_tokens", "vocab", "top1_cnt", "zipf_slope")
      .as[(Long, Long, Long, Double)].collect().head
    assert(got._1 == 15L && got._2 == 4L && got._3 == 8L)
    assert(math.abs(got._4 - expect) < 1e-9, s"slope ${got._4} vs $expect")
    // the constructed corpus halves each rank step: slope ~ -1.5 on ln-ln
    assert(got._4 < -1.0 && got._4 > -2.0)
  }

  test("tfidfTopK: corpus-wide tokens score zero, distinctive tokens win") {
    val df = Seq(
      (1L, "shared shared quantum"), // 'quantum' only in doc 1
      (2L, "shared recipe recipe"),  // 'recipe' only in doc 2
      (3L, "shared plain")
    ).toDF("doc_id", "text")
    val got = CorpusStats.tfidfTopK(spark, df, "doc_id", "text", k = 1)
      .select("doc_id", "tok", "score_i").as[(Long, String, Long)]
      .collect().toSeq.sortBy(_._1)
    // 'shared' appears in all 3 docs: idf = ln(4/4) = 0 -> score 0; the
    // doc-unique tokens carry tf * ln(4/2) > 0
    assert(got.map(t => (t._1, t._2)) ==
      Seq((1L, "quantum"), (2L, "recipe"), (3L, "plain")))
    assert(got.forall(_._3 > 0L))
    val full = CorpusStats.tfidfTopK(spark, df, "doc_id", "text", k = 10)
      .filter(col("tok") === "shared").select("score_i")
      .as[Long].collect().toSeq
    assert(full == Seq(0L, 0L, 0L))
  }

  test("tfidfTopK: k bounds the per-doc rows with (score desc, tok) order") {
    // two docs so idf > 0 for doc-1's tokens (a single-doc corpus has
    // idf = ln(2/2) = 0 everywhere and ranks alphabetically)
    val df = Seq((1L, "x x y z"), (2L, "other other")).toDF("doc_id", "text")
    val got = CorpusStats.tfidfTopK(spark, df, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L)
      .select("tok").as[String].collect().toSeq.sorted
    assert(got == Seq("x", "y")) // tf 2 wins; y-vs-z tie broken by tok
  }

  test("tfidfTopK is fully LAZY: building the frame runs ZERO Spark jobs " +
      "(the corpus count rides the plan as a broadcast one-row frame — " +
      "r14 verdict #4: the eager count() was a redundant full job)") {
    val df = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val frame = CorpusStats.tfidfTopK(spark, df, "doc_id", "text", k = 2)
      // listener delivery is async; an eager job inside tfidfTopK blocks
      // on its result before returning, so a short quiesce suffices
      Thread.sleep(300)
      assert(jobs.get() == 0,
        s"tfidfTopK construction ran ${jobs.get()} eager jobs; must be lazy")
      // and the in-plan count yields the same scores as before
      assert(frame.filter(col("tok") === "x").select("score_i")
        .as[Long].head() ==
        math.round((math.log(3.0) - math.log(2.0)) * 1e6))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Scala replica of bm25TopK's per-doc score (same association order),
    * for exact fixed-point checks on hand corpora. */
  private def bm25Expect(n: Long, avgdl: Double, k1: Double, b: Double,
                         termStats: Seq[(Long, Long)], dl: Long): Long =
    termStats.map { case (tf, df) =>
      val idf = math.log(1.0 + (n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5))
      val sat = (tf.toDouble * (k1 + 1.0)) /
        (tf.toDouble + k1 * ((1.0 - b) + b * dl.toDouble / avgdl))
      BigDecimal(idf * sat * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }.sum

  test("bm25TopK: exact fixed-point scores, rank order, miss exclusion") {
    val df = Seq(
      (1L, "merge merge scan"),        // tf(merge)=2, dl=3
      (2L, "merge scan scan scan"),    // tf(merge)=1, dl=4
      (3L, "scan scan scan"),          // no query term -> excluded
      (4L, "vector merge")             // both terms, shortest doc
    ).toDF("doc_id", "text")
    val got = CorpusStats.bm25TopK(df, "doc_id", "text",
        Seq("merge", "vector"), topK = 10)
      .select("doc_id", "n_hits", "score_i")
      .as[(Long, Int, Long)].collect().toSeq
    // corpus stats: N=4, sum dl=12, avgdl=3.0; df(merge)=3, df(vector)=1
    val avgdl = 12.0 / 4
    val e1 = bm25Expect(4, avgdl, 1.2, 0.75, Seq((2L, 3L)), 3)
    val e2 = bm25Expect(4, avgdl, 1.2, 0.75, Seq((1L, 3L)), 4)
    val e4 = bm25Expect(4, avgdl, 1.2, 0.75, Seq((1L, 3L), (1L, 1L)), 2)
    assert(got.map(_._1) == Seq(4L, 1L, 2L)) // rare 'vector' dominates
    assert(got == Seq((4L, 2, e4), (1L, 1, e1), (2L, 1, e2)))
  }

  test("bm25TopK: length normalization — same tf, shorter doc wins") {
    val df = Seq(
      (1L, "merge pad pad pad pad pad pad pad"),
      (2L, "merge pad")
    ).toDF("doc_id", "text")
    val got = CorpusStats.bm25TopK(df, "doc_id", "text", Seq("merge"))
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L, 1L))
  }

  test("bm25TopK: topK boundary ties break by id; saturation is monotone") {
    // three identical docs tie exactly; topK=2 keeps the two smallest ids
    val ties = Seq((7L, "merge x"), (3L, "merge x"), (5L, "merge x"))
      .toDF("doc_id", "text")
    val kept = CorpusStats.bm25TopK(ties, "doc_id", "text", Seq("merge"),
      topK = 2).select("doc_id").as[Long].collect().toSeq
    assert(kept == Seq(3L, 5L))
    // tf saturates: 10 occurrences < (k1+1)x the single-occurrence score
    val sat = Seq((1L, ("merge " * 10).trim), (2L, "merge"))
      .toDF("doc_id", "text")
    val s = CorpusStats.bm25TopK(sat, "doc_id", "text", Seq("merge"))
      .select("doc_id", "score_i").as[(Long, Long)].collect().toMap
    assert(s(1L) > s(2L) && s(1L) < math.ceil(s(2L) * 2.2).toLong)
  }

  test("BM25 persisted index: save/load round-trip re-validates loudly; " +
      "incremental update over a disjoint day-2 batch equals a full " +
      "rebuild; indexed scoring == per-call bm25TopK when the index " +
      "covers the scored corpus; unseen query terms score at df=0") {
    val day1 = Seq((1L, "merge merge scan"), (2L, "merge scan scan scan"),
      (3L, "scan scan scan")).toDF("doc_id", "text")
    val day2 = Seq((4L, "vector merge"), (5L, "pad pad vector"))
      .toDF("doc_id", "text")
    val all = day1.unionByName(day2)
    val root = java.nio.file.Files.createTempDirectory("bm25_idx").toString

    CorpusStats.bm25SaveIndex(spark,
      CorpusStats.bm25BuildIndex(day1, "doc_id", "text"), root)
    val updated = CorpusStats.bm25UpdateIndex(spark, root, day2,
      "doc_id", "text")
    val rebuilt = CorpusStats.bm25BuildIndex(all, "doc_id", "text")
    assert(updated.nDocs == rebuilt.nDocs && updated.sumDl == rebuilt.sumDl)
    val mergedDf = updated.df.orderBy("tok")
      .as[(String, Long)].collect().toSeq
    val rebuiltDf = rebuilt.df.orderBy("tok")
      .as[(String, Long)].collect().toSeq
    assert(mergedDf == rebuiltDf,
      s"incremental df table must equal a full rebuild: $mergedDf vs $rebuiltDf")

    // the loaded artifact scores identically to the per-call path
    val loaded = CorpusStats.bm25LoadIndex(spark, root)
    assert(loaded.nDocs == rebuilt.nDocs && loaded.sumDl == rebuilt.sumDl)
    val direct = CorpusStats.bm25TopK(all, "doc_id", "text",
        Seq("merge", "vector"), topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    val indexed = CorpusStats.bm25TopKIndexed(all, "doc_id", "text",
        Seq("merge", "vector"), loaded, topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    assert(indexed == direct,
      s"indexed scoring must equal direct: $indexed vs $direct")

    // day-2 query vocabulary: unseen term scores at df=0, never fails
    val unseen = CorpusStats.bm25TopKIndexed(all, "doc_id", "text",
        Seq("zebra", "merge"), loaded, topK = 10)
      .select("doc_id", "n_hits").as[(Long, Int)].collect().toMap
    assert(unseen.keySet == Set(1L, 2L, 4L)) // only 'merge' matches

    // corrupted meta tag in the live version rejected at load
    val liveV = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .map(_.getName.drop(2).toLong).max
    Seq((5L, 99L, "not-bm25", 1L, 0L, Seq.empty[Long]))
      .toDF("n_docs", "sum_dl", "model_tag", "vocab", "df_fp", "batch_ids")
      .write.mode("overwrite").parquet(s"$root/v=$liveV/bm25_meta")
    val e = intercept[IllegalArgumentException] {
      CorpusStats.bm25LoadIndex(spark, root)
    }
    assert(e.getMessage.contains("model_tag"))
  }

  test("BM25 versioned artifact survives a crash at every update " +
      "boundary: df-without-meta falls back to the pre-update version " +
      "and recovers; two complete versions resolve to the newest; a " +
      "tampered df frame fails the fingerprint check; a replayed " +
      "batchId is a no-op, never a df double-count") {
    val day1 = Seq((1L, "merge merge scan"), (2L, "merge scan scan scan"))
      .toDF("doc_id", "text")
    val day2 = Seq((3L, "vector merge"), (4L, "pad pad vector"))
      .toDF("doc_id", "text")
    val all = day1.unionByName(day2)
    def dfRows(i: CorpusStats.Bm25Index): Seq[(String, Long)] =
      i.df.orderBy("tok").as[(String, Long)].collect().toSeq
    val rebuilt1 = CorpusStats.bm25BuildIndex(day1, "doc_id", "text")
    val rebuiltAll = CorpusStats.bm25BuildIndex(all, "doc_id", "text")

    // crash point 1: merged df landed, meta did NOT (the r15 verdict's
    // missing-artifact window). On disk: v=0 complete, v=1 df-only.
    val r1 = java.nio.file.Files.createTempDirectory("bm25_crash1").toString
    CorpusStats.bm25SaveIndex(spark,
      CorpusStats.bm25BuildIndex(day1, "doc_id", "text"), r1)
    rebuiltAll.df.write.parquet(s"$r1/v=1/bm25_df") // simulated interrupt
    val afterCrash1 = CorpusStats.bm25LoadIndex(spark, r1)
    assert(afterCrash1.nDocs == rebuilt1.nDocs &&
      afterCrash1.sumDl == rebuilt1.sumDl &&
      dfRows(afterCrash1) == dfRows(rebuilt1),
      "an interrupted update must leave the pre-update state visible")
    assert(CorpusStats.bm25Recover(spark, r1) == 0L)
    assert(!new java.io.File(s"$r1/v=1").exists(),
      "recover must prune the interrupted version")
    // the retried update then completes and equals a full rebuild
    val retried = CorpusStats.bm25UpdateIndex(spark, r1, day2,
      "doc_id", "text")
    assert(retried.nDocs == rebuiltAll.nDocs &&
      dfRows(retried) == dfRows(rebuiltAll))

    // crash point 2: meta landed, prune did not — two COMPLETE
    // versions; readers must take the newest and recover must keep it.
    val r2 = java.nio.file.Files.createTempDirectory("bm25_crash2").toString
    val r2b = java.nio.file.Files.createTempDirectory("bm25_crash2b").toString
    CorpusStats.bm25SaveIndex(spark,
      CorpusStats.bm25BuildIndex(day1, "doc_id", "text"), r2)
    CorpusStats.bm25SaveIndex(spark, rebuiltAll, r2b)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$r2b/v=0"),
      java.nio.file.Paths.get(s"$r2/v=1"))
    val afterCrash2 = CorpusStats.bm25LoadIndex(spark, r2)
    assert(afterCrash2.nDocs == rebuiltAll.nDocs &&
      dfRows(afterCrash2) == dfRows(rebuiltAll),
      "with two complete versions the newest must win")
    assert(CorpusStats.bm25Recover(spark, r2) == 1L)
    assert(!new java.io.File(s"$r2/v=0").exists())

    // tampered df behind a committed meta: fingerprint check is loud
    val r3 = java.nio.file.Files.createTempDirectory("bm25_tamper").toString
    CorpusStats.bm25SaveIndex(spark, rebuilt1, r3)
    Seq(("zzz", 99L)).toDF("tok", "df")
      .write.mode("overwrite").parquet(s"$r3/v=0/bm25_df")
    val e = intercept[IllegalArgumentException] {
      CorpusStats.bm25LoadIndex(spark, r3)
    }
    assert(e.getMessage.contains("inconsistent"))

    // replayed batchId: the ledger makes at-least-once delivery safe
    val r4 = java.nio.file.Files.createTempDirectory("bm25_replay").toString
    CorpusStats.bm25SaveIndex(spark, rebuilt1, r4)
    val once = CorpusStats.bm25UpdateIndex(spark, r4, day2,
      "doc_id", "text", batchId = 7L)
    val twice = CorpusStats.bm25UpdateIndex(spark, r4, day2,
      "doc_id", "text", batchId = 7L)
    assert(twice.nDocs == once.nDocs && twice.sumDl == once.sumDl &&
      dfRows(twice) == dfRows(once),
      "a replayed batch must be a no-op, not a df double-count")
    assert(dfRows(twice) == dfRows(rebuiltAll))

    // an artifact with NO complete version fails loudly at load
    val r5 = java.nio.file.Files.createTempDirectory("bm25_none").toString
    rebuilt1.df.write.parquet(s"$r5/v=0/bm25_df")
    val e2 = intercept[IllegalArgumentException] {
      CorpusStats.bm25LoadIndex(spark, r5)
    }
    assert(e2.getMessage.contains("no complete version"))
    Seq(r1, r2, r2b, r3, r4, r5).foreach(p =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(p)))
  }

  test("moreLikeThisIndexed == moreLikeThis when the artifact covers " +
      "the corpus; zero corpus-stats jobs beyond the seed scan") {
    val df = Seq(
      (1L, "quantum flux quantum shared stuff"),
      (2L, "quantum theory shared and more shared padding here"),
      (3L, "flux capacitor shared text"),
      (4L, "unrelated shared content entirely")
    ).toDF("doc_id", "text")
    val idx = CorpusStats.bm25BuildIndex(df, "doc_id", "text")
    val direct = CorpusStats.moreLikeThis(df, "doc_id", "text",
        seedId = 1L, nTerms = 2, topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    val indexed = CorpusStats.moreLikeThisIndexed(df, "doc_id", "text",
        seedId = 1L, idx, nTerms = 2, topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    assert(indexed == direct, s"indexed $indexed vs direct $direct")
    // loud failures match the direct path's contract
    val e = intercept[IllegalArgumentException] {
      CorpusStats.moreLikeThisIndexed(df, "doc_id", "text", 99L, idx)
    }
    assert(e.getMessage.contains("no tokens"))
    val e2 = intercept[IllegalArgumentException] {
      CorpusStats.moreLikeThisIndexed(df, "doc_id", "text", 1L, idx,
        maxSeedTerms = 2)
    }
    assert(e2.getMessage.contains("maxSeedTerms"))
  }

  test("moreLikeThis: the seed's top tf-idf terms drive BM25 — equal to " +
      "bm25TopK with the hand-derived query; corpus-wide terms never " +
      "picked; loud failure on a missing seed or a megadoc") {
    val df = Seq(
      (1L, "quantum flux quantum shared stuff"), // seed: quantum tf2, flux tf1
      (2L, "quantum theory shared and more shared padding here"),
      (3L, "flux capacitor shared text"),
      (4L, "unrelated shared content entirely")
    ).toDF("doc_id", "text")
    // seed terms by tf*idf: 'shared' has idf ln(5/5)=0 -> score 0;
    // quantum (tf2, df2), flux (tf1, df2), stuff (tf1, df1 - higher idf)
    // idf_i: quantum/flux = round((ln5-ln3)*1e6), stuff = round((ln5-ln2)*1e6)
    // scores: quantum 2*510826=1021652 > stuff 916291 > flux 510826
    val got = CorpusStats.moreLikeThis(df, "doc_id", "text",
        seedId = 1L, nTerms = 2, topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    val expect = CorpusStats.bm25TopK(df, "doc_id", "text",
        Seq("quantum", "stuff"), topK = 10)
      .as[(Long, Int, Long)].collect().toSeq
    assert(got == expect, s"got $got, expect $expect")
    assert(got.map(_._1).toSet == Set(1L, 2L),
      s"only docs matching quantum/stuff qualify: $got")
    val e = intercept[IllegalArgumentException] {
      CorpusStats.moreLikeThis(df, "doc_id", "text", seedId = 99L)
    }
    assert(e.getMessage.contains("no tokens"))
    val e2 = intercept[IllegalArgumentException] {
      CorpusStats.moreLikeThis(df, "doc_id", "text", seedId = 1L,
        maxSeedTerms = 2)
    }
    assert(e2.getMessage.contains("maxSeedTerms"))
  }

  test("BM25 streaming layout: per-batch partitions load-merge to the " +
      "full rebuild; re-appending a batch (replay) is idempotent; an " +
      "empty index loads as empty, not a crash") {
    val b0 = Seq((1L, "merge merge scan"), (2L, "merge scan scan scan"))
      .toDF("doc_id", "text")
    val b1 = Seq((3L, "scan scan scan"), (4L, "vector merge"))
      .toDF("doc_id", "text")
    val root = java.nio.file.Files.createTempDirectory("bm25_parts").toString
    // day-one load before any batch: empty index, no fileless-dir crash
    val empty = CorpusStats.bm25LoadParts(spark, root)
    assert(empty.nDocs == 0L && empty.df.count() == 0L)
    CorpusStats.bm25AppendBatch(spark, root, b0, "doc_id", "text", 0L)
    CorpusStats.bm25AppendBatch(spark, root, b1, "doc_id", "text", 1L)
    def snapshot(): (Long, Long, Seq[(String, Long)]) = {
      val idx = CorpusStats.bm25LoadParts(spark, root)
      (idx.nDocs, idx.sumDl,
        idx.df.orderBy("tok").as[(String, Long)].collect().toSeq)
    }
    val s1 = snapshot()
    val rebuilt = CorpusStats.bm25BuildIndex(b0.unionByName(b1),
      "doc_id", "text")
    assert(s1._1 == rebuilt.nDocs && s1._2 == rebuilt.sumDl)
    assert(s1._3 == rebuilt.df.orderBy("tok")
      .as[(String, Long)].collect().toSeq)
    // replay batch 1: dynamic overwrite rewrites only its partition
    CorpusStats.bm25AppendBatch(spark, root, b1, "doc_id", "text", 1L)
    assert(snapshot() == s1, "a replayed batch must leave the index unchanged")
    // a parts dir whose only part files sit where an uncommitted task
    // attempt leaves them (a crashed write) loads as empty too
    val leftover = java.nio.file.Files.createTempDirectory("bm25_leftover")
    Seq("bm25_meta_parts", "bm25_df_parts").foreach { parts =>
      val from = java.nio.file.Paths.get(root, parts)
      val walk = java.nio.file.Files.walk(from)
      try walk.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toList
        .foreach { f =>
          val to = leftover.resolve(parts)
            .resolve("_temporary/0/_temporary/attempt_0").resolve(from.relativize(f))
          java.nio.file.Files.createDirectories(to.getParent)
          java.nio.file.Files.copy(f, to)
        }
      finally walk.close()
    }
    val crashed = CorpusStats.bm25LoadParts(spark, leftover.toString)
    assert(crashed.nDocs == 0L && crashed.sumDl == 0L && crashed.df.count() == 0L)
  }

  test("bm25TopKQueries: batched result == per-query bm25TopK, query by " +
      "query; non-matching docs never appear") {
    val rnd = new scala.util.Random(31)
    val words = Seq("merge", "vector", "scan", "pad", "row", "agg")
    val df = (1 to 80).map(i => (i.toLong,
      Seq.fill(3 + rnd.nextInt(12))(words(rnd.nextInt(words.size)))
        .mkString(" "))).toDF("doc_id", "text")
    val queries = Seq("qa" -> Seq("merge", "vector"), "qb" -> Seq("scan"),
      "qz" -> Seq("nosuchterm"))
    val batched = CorpusStats.bm25TopKQueries(df, "doc_id", "text",
        queries, topK = 5)
      .select("qid", "doc_id", "n_hits", "score_i")
      .as[(String, Long, Int, Long)].collect().toSeq
    queries.foreach { case (qid, ts) =>
      val single = CorpusStats.bm25TopK(df, "doc_id", "text", ts, topK = 5)
        .select("doc_id", "n_hits", "score_i")
        .as[(Long, Int, Long)].collect().toSeq
      val got = batched.filter(_._1 == qid).map(t => (t._2, t._3, t._4))
      assert(got == single, s"batched != per-query for $qid")
    }
    assert(!batched.exists(_._1 == "qz"),
      "a query matching nothing must contribute zero rows")
  }
}

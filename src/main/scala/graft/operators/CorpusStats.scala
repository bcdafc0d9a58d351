package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Corpus-level statistics for training-data health checks: the token
  * frequency table, a Zipf-law fit over its head, and per-document
  * tf-idf keywords. These are the "know your corpus" queries every
  * curation run reports next to its drop counts.
  *
  * Determinism: all aggregation happens on integer counts; logarithms
  * are quantized to fixed point BEFORE any cross-row arithmetic (the q76
  * discipline), so the Zipf regression is an exact integer computation
  * with one rounded division at the end.
  *
  * 100 TB design: everything here lives in word-count shape — one
  * hash-keyed token shuffle with map-side partial aggregation, bytes
  * bounded by vocab × partitions, and Zipf reality (vocab ≪ corpus)
  * keeps every downstream frame small. The only global window runs over
  * the top-`topN` HEAD of the frequency table (≤ a few hundred rows by
  * construction — explicitly not over the corpus).
  */
object CorpusStats {

  /** The token frequency table with dense global rank: (tok, cnt, rank),
    * rank 1 = most frequent, ties broken by token text so the rank is a
    * total order. Limited to the top `topN` tokens — the window that
    * assigns ranks therefore sees topN candidate rows per partition at
    * most (a per-partition LIMIT runs before the final ordered window),
    * never the corpus. */
  def tokenFrequencies(df: DataFrame, textCol: String,
                       topN: Int = 100): DataFrame = {
    val counts = df.select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    // TakeOrdered materializes the head; the rank window then runs over
    // topN rows only (vocab-sized sort avoided twice).
    val head = counts.orderBy(col("cnt").desc, col("tok")).limit(topN)
    head.withColumn("rank",
      row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
  }

  /** Zipf-law fit over the top-`topN` frequency head: least-squares
    * slope of ln(cnt) against ln(rank) (a healthy natural-language
    * corpus sits near −1; flat slopes mean boilerplate/dedup failure,
    * steep ones template domination). One row:
    * (n_tokens, vocab, top1_cnt, zipf_slope).
    *
    * The regression runs on 1e-4 fixed-point logs so every sum is an
    * exact integer sum: with topN ≤ 1000 and ln ≤ 25 the extreme
    * magnitude is n·Σxy ≤ 1000 · 1000 · (25e4)^2 ≈ 6e16 — signed-64
    * safe. Slope is the one rounded division, to 4 places. */
  def zipfStats(df: DataFrame, textCol: String,
                topN: Int = 100): DataFrame = {
    require(topN > 1 && topN <= 1000, s"topN must be in [2,1000], got $topN")
    val counts = df.select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab"), max(col("cnt")).as("top1_cnt"))
    val head = counts.orderBy(col("cnt").desc, col("tok")).limit(topN)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("tok"))))
      .select(
        round(log(col("rank").cast("double")) * 1e4).cast("long").as("x"),
        round(log(col("cnt").cast("double")) * 1e4).cast("long").as("y"))
    val fit = head.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(round(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
        4).as("zipf_slope"))
    totals.crossJoin(fit)
      .select(col("n_tokens"), col("vocab").cast("long").as("vocab"),
        col("top1_cnt"), col("zipf_slope"))
  }

  /** Per-document tf-idf keywords: the `k` tokens of each document with
    * the highest tf·idf, idf = ln((N+1)/(df+1)) over distinct-doc
    * frequency, quantized to 1e-6 so the score `tf * idf_i` is an exact
    * integer. Output (idCol, tok, tf, df, score_i), the per-doc rank
    * window is hash-partitioned by document — no global window.
    *
    * 100 TB: two word-count-shaped shuffles (per-doc tf, per-token df)
    * + one equi-join on `tok`; Zipf-small df frame broadcasts. */
  def tfidfTopK(spark: SparkSession, df: DataFrame, idCol: String,
                textCol: String, k: Int = 3): DataFrame = {
    val tf = df.select(col(idCol),
        explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    // corpus size rides the PLAN as a broadcast one-row frame instead of
    // a separate driver count() action (r14 verdict #4: the eager count
    // was a redundant full job before the real one). Semantics
    // unchanged: distinct ids of the INPUT frame, so token-less docs
    // still count toward N exactly as the q81 oracle's
    // COUNT(DISTINCT doc_id) does.
    val nd = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__nd"))
    val idfI = round((log(col("__nd").cast("double") + 1.0)
      - log(col("df").cast("double") + 1.0)) * 1e6).cast("long")
    val scored = tf.join(broadcast(dfreq), Seq("tok"))
      .crossJoin(broadcast(nd))
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        (col("tf") * idfI).as("score_i"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_i").desc, col("tok"))
    scored.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= k).drop("__r")
  }

  /** BM25 ranked retrieval: the top-`topK` documents for a fixed query
    * term set under Okapi BM25 (Robertson et al., TREC-3) — the sparse
    * retrieval primitive a curation stack uses to pull topical slices
    * ("find the docs about X") and to build seed sets for classifier
    * training. Output: (idCol, n_hits, score_i), score descending, id
    * tie-break; only documents matching ≥ 1 query term appear.
    *
    * Scoring: score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5)) — the
    * non-negative idf variant (Lucene's choice), so scores are ≥ 0 and
    * monotone in tf. Determinism: each TERM's contribution is quantized
    * to fixed-point (×1e6, BIGINT) before the cross-term sum — double
    * addition order never matters (the q76/q106 discipline).
    *
    * 100 TB design: NO explode and NO corpus-keyed shuffle anywhere.
    * Pass 1 computes per-term tf in the scan (`size(filter(toks, =t))`,
    * codegen'd) and reduces to ONE row (N, Σdl, df per term) — df of the
    * |Q| query terms only, never a vocabulary exchange. The collected
    * stats come back as literals, so pass 2 is a pure map over the scan
    * feeding TakeOrderedAndProject (per-partition top-K, driver merges
    * K·parts rows). Wide shuffles: zero. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      "bm25TopK: queryTerms must be distinct (a duplicate would double-count)")
    val terms = queryTerms.toIndexedSeq
    val base = df.select(col(idCol),
        TextFns.tokens(col(textCol)).as("__toks"))
      .select(
        (col(idCol) +: size(col("__toks")).as("__dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t))).as(s"__tf$i")
          }): _*)
    // pass 1: one row — N, Σdl, and df_t for the |Q| query terms
    val aggCols =
      count(lit(1)).as("__n") +: sum(col("__dl").cast("long")).as("__sdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val st = base.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nDocs = st.getLong(0)
    require(nDocs > 0, "bm25TopK: empty corpus")
    val avgdl = st.getLong(1).toDouble / nDocs
    // pass 2: per-term fixed-point contribution, exact long sum, top-K.
    // tf = 0 contributes exactly 0 (round(idf·0·1e6)), so the blind sum
    // over all terms is the match-only sum.
    val contribs = terms.indices.map { i =>
      val dft = st.getLong(2 + i).toDouble
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - lit(dft) + lit(0.5)) / (lit(dft) + lit(0.5)))
      val tf = col(s"__tf$i").cast("double")
      val sat = (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl").cast("double") / lit(avgdl)))
      round(idf * sat * 1e6).cast("long")
    }
    val hits = terms.indices
      .map(i => when(col(s"__tf$i") > 0, 1).otherwise(0))
      .reduce(_ + _).cast("int")
    // match on n_hits, not score: a near-ubiquitous term's quantized
    // contribution legitimately rounds to 0 at production N (idf ~ 1/2N
    // falls under the 0.5 micro-unit floor), and "documents matching
    // >= 1 query term appear" must hold independent of corpus size
    // (r14 ADVICE)
    base.select(col(idCol), hits.as("n_hits"),
        contribs.reduce(_ + _).as("score_i"))
      .filter(col("n_hits") > 0)
      .orderBy(col("score_i").desc, col(idCol))
      .limit(topK)
  }

  /** BATCHED BM25: per-query top-`topK` for a whole query set in ONE
    * corpus scan — the production retrieval shape ([[bm25TopK]] runs one
    * query; a curation stack pulls hundreds of topical slices per pass).
    * Output: (qid, idCol, n_hits, score_i), ordered (qid, score desc,
    * id). Same scoring/quantization contract as [[bm25TopK]].
    *
    * 100 TB design: pass 1 is the same ONE-ROW stats aggregate, now over
    * the DISTINCT term set of all queries (each term's tf computed once
    * in the scan and shared by every query containing it — codegen
    * subexpression sharing, not |Q| re-tokenizations). Pass 2 emits only
    * MATCHING (doc, query) pairs (score > 0 filter under the explode —
    * the inverted-index volume, not |docs|×|queries|), then one
    * qid-keyed window takes each query's top-K. The only shuffle is
    * match-sized and query-keyed; a query matching half the corpus makes
    * a fat partition — at that selectivity per-query [[bm25TopK]] with
    * its shuffle-free TakeOrdered is the right tool, and this one is for
    * the many-selective-queries regime. */
  def bm25TopKQueries(df: DataFrame, idCol: String, textCol: String,
                      queries: Seq[(String, Seq[String])],
                      k1: Double = 1.2, b: Double = 0.75,
                      topK: Int = 10): DataFrame = {
    require(queries.nonEmpty, "bm25TopKQueries: queries must be non-empty")
    require(queries.map(_._1).distinct == queries.map(_._1),
      "bm25TopKQueries: query ids must be distinct")
    queries.foreach { case (qid, ts) =>
      require(ts.nonEmpty && ts.distinct == ts,
        s"bm25TopKQueries: query '$qid' terms must be non-empty and distinct")
    }
    val terms = queries.flatMap(_._2).distinct.toIndexedSeq
    val termIdx = terms.zipWithIndex.toMap
    val base = df.select(col(idCol),
        TextFns.tokens(col(textCol)).as("__toks"))
      .select(
        (col(idCol) +: size(col("__toks")).as("__dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t))).as(s"__tf$i")
          }): _*)
    val aggCols =
      count(lit(1)).as("__n") +: sum(col("__dl").cast("long")).as("__sdl") +:
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val st = base.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val nDocs = st.getLong(0)
    require(nDocs > 0, "bm25TopKQueries: empty corpus")
    val avgdl = st.getLong(1).toDouble / nDocs
    val contrib = terms.indices.map { i =>
      val dft = st.getLong(2 + i).toDouble
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - lit(dft) + lit(0.5)) / (lit(dft) + lit(0.5)))
      val tf = col(s"__tf$i").cast("double")
      val sat = (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl").cast("double") / lit(avgdl)))
      round(idf * sat * 1e6).cast("long")
    }
    // one struct per query, exploded to (qid, n_hits, score_i) rows for
    // MATCHING docs only
    val perQuery = queries.map { case (qid, ts) =>
      val idxs = ts.map(termIdx)
      struct(lit(qid).as("qid"),
        idxs.map(i => when(col(s"__tf$i") > 0, 1).otherwise(0))
          .reduce(_ + _).cast("int").as("n_hits"),
        idxs.map(contrib).reduce(_ + _).as("score_i"))
    }
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_i").desc, col(idCol))
    base.select(col(idCol), explode(array(perQuery: _*)).as("__q"))
      .select(col("__q.qid").as("qid"), col(idCol),
        col("__q.n_hits").as("n_hits"), col("__q.score_i").as("score_i"))
      // n_hits, not score — the bm25TopK rounding-floor rationale
      .filter(col("n_hits") > 0)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= topK).drop("__r")
      .orderBy(col("qid"), col("score_i").desc, col(idCol))
  }

  /** Per-source corpus health report — the "know your corpus BY source"
    * aggregate every curation run prints next to its drop counts: doc /
    * token / char counts, token-length extremes, and the quality-score
    * mass per source (Σ per-doc quality quantized ×1e6 BEFORE the sum —
    * summing raw doubles across a shuffle is order-sensitive, the q50
    * lesson; mean = quality_q6_sum / n_docs / 1e6 at the consumer).
    * One zero-join scan (per-doc signals are the fused q34/q35 kernels)
    * into a source-keyed groupBy — ~tens of groups, map-side combined,
    * bytes bounded by sources × partitions. */
  def sourceHealth(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.select(col(srcCol).as("source"),
        TextFns.tokenCount(col(textCol)).cast("long").as("__ntok"),
        length(col(textCol)).cast("long").as("__nchars"),
        floor(TextFns.qualityScore(col(textCol)) * 1e6 + 0.5).as("__q6"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        sum(col("__nchars")).as("n_chars"),
        sum(col("__q6")).as("quality_q6_sum"),
        min(col("__ntok")).as("min_tokens"),
        max(col("__ntok")).as("max_tokens"))

  /** MORE-LIKE-THIS retrieval: the BM25 top-K for a query DERIVED from a
    * seed document — its `nTerms` highest-tf·idf tokens (the q81
    * arithmetic: idf = ln((N+1)/(df+1)) quantized ×1e6, ties
    * (score desc, tok)). The "find documents like this one" primitive a
    * curation stack uses to expand topical seed sets from exemplars.
    *
    * 100 TB design: NOT a corpus-wide tf-idf pass — df is computed for
    * the SEED'S OWN TERMS only (one corpus scan whose distinct-(doc,tok)
    * aggregation is semi-join-bounded to the seed vocabulary), the
    * seed-term ranking happens on a seed-sized frame, and the final
    * scoring is [[bm25TopK]]'s zero-wide-shuffle scan. `maxSeedTerms`
    * bounds the semi-join probe loudly (a pathological megadoc's
    * vocabulary is not a query). */
  def moreLikeThis(df: DataFrame, idCol: String, textCol: String,
                   seedId: Long, nTerms: Int = 3, k1: Double = 1.2,
                   b: Double = 0.75, topK: Int = 10,
                   maxSeedTerms: Int = 10000): DataFrame = {
    require(nTerms > 0, s"moreLikeThis: nTerms must be > 0, got $nTerms")
    val seedTf = df.filter(col(idCol) === seedId)
      .select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .limit(maxSeedTerms + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(seedTf.nonEmpty,
      s"moreLikeThis: seed doc $seedId has no tokens (or does not exist)")
    require(seedTf.length <= maxSeedTerms,
      s"moreLikeThis: seed doc $seedId has > $maxSeedTerms distinct " +
        "terms — a megadoc's vocabulary is not a query; raise " +
        "maxSeedTerms knowingly or pre-truncate the seed")
    val seedToks = seedTf.map(_._1).toSeq
    // df for the seed's terms only + the tf-idf N (distinct input ids,
    // the q81 semantics), one scan + one seed-bounded aggregation
    val dfq = df.select(col(idCol),
        explode(array_distinct(TextFns.tokens(col(textCol)))).as("tok"))
      .filter(col("tok").isin(seedToks: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nd = df.select(col(idCol)).distinct()
      .agg(count(lit(1)).as("__nd"))
    val idfI = round((log(col("__nd").cast("double") + 1.0)
      - log(col("df").cast("double") + 1.0)) * 1e6).cast("long")
    val sp = df.sparkSession
    import sp.implicits._
    val seedFrame = seedTf.toSeq.toDF("tok", "tf")
    val terms = seedFrame.join(dfq, Seq("tok"))
      .crossJoin(broadcast(nd))
      .select(col("tok"), (col("tf") * idfI).as("score_i"))
      .orderBy(col("score_i").desc, col("tok"))
      .limit(nTerms)
      .collect().map(_.getString(0)).toSeq
    bm25TopK(df, idCol, textCol, terms, k1, b, topK)
  }

  /** [[moreLikeThis]] from a PERSISTED [[Bm25Index]] (r15 verdict #8):
    * the direct path pays a corpus-wide `distinct()` for N and a
    * corpus-scan df aggregation per call — but when an artifact exists,
    * its `nDocs` IS that N and its df frame already holds every seed
    * term's df. This overload leaves exactly TWO corpus passes in the
    * plan: the seed-doc tf scan and the final scoring scan
    * ([[bm25TopKIndexed]]'s shape); term ranking runs driver-side over
    * the seed's own vocabulary (≤ `maxSeedTerms` rows, loud guard) with
    * the SAME integer arithmetic as the direct path — idf quantized
    * ×1e6 HALF_UP (Spark `round` on a non-negative double), score
    * = tf · idf_i, ties (score desc, tok) — so when the index covers
    * exactly the queried corpus of unique-id docs, results are
    * IDENTICAL to [[moreLikeThis]] (spec- and oracle-pinned). */
  def moreLikeThisIndexed(df: DataFrame, idCol: String, textCol: String,
                          seedId: Long, index: Bm25Index, nTerms: Int = 3,
                          k1: Double = 1.2, b: Double = 0.75, topK: Int = 10,
                          maxSeedTerms: Int = 10000): DataFrame = {
    require(nTerms > 0, s"moreLikeThisIndexed: nTerms must be > 0, got $nTerms")
    require(index.nDocs > 0, "moreLikeThisIndexed: empty index")
    val seedTf = df.filter(col(idCol) === seedId)
      .select(explode(TextFns.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      .limit(maxSeedTerms + 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(seedTf.nonEmpty,
      s"moreLikeThisIndexed: seed doc $seedId has no tokens (or does not exist)")
    require(seedTf.length <= maxSeedTerms,
      s"moreLikeThisIndexed: seed doc $seedId has > $maxSeedTerms distinct " +
        "terms — a megadoc's vocabulary is not a query; raise " +
        "maxSeedTerms knowingly or pre-truncate the seed")
    val seedToks = seedTf.map(_._1).toSeq
    // df from the ARTIFACT — |seed vocab| rows off the index frame, no
    // corpus aggregation
    val dfOf = index.df.filter(col("tok").isin(seedToks: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lnN1 = math.log(index.nDocs.toDouble + 1.0)
    def idfI(dft: Long): Long =
      BigDecimal((lnN1 - math.log(dft.toDouble + 1.0)) * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble.toLong
    // tie-break in UTF-8 BYTE order (Bpe.cpCompare — what Spark's
    // orderBy and DuckDB's binary collation both use), NOT Scala's
    // default UTF-16 code-unit String ordering, which ranks
    // supplementary characters below U+E000..U+FFFF and would break the
    // documented "identical to moreLikeThis" contract on such ties
    // (r16 ADVICE)
    val terms = seedTf.toSeq
      .map { case (tok, tf) => (tok, tf * idfI(dfOf.getOrElse(tok, 0L))) }
      .sortWith { case ((ta, sa), (tb, sb)) =>
        if (sa != sb) sa > sb else graft.functions.Bpe.cpCompare(ta, tb) < 0 }
      .take(nTerms).map(_._1)
    bm25TopKIndexed(df, idCol, textCol, terms, index, k1, b, topK)
  }

  // ---- persisted BM25 retrieval index (the r14 verdict's #6) ----

  /** A PERSISTED BM25 corpus-statistics artifact: `nDocs`/`sumDl` plus
    * the full-vocabulary document-frequency FRAME (never driver-collected
    * — Zipf-small relative to the corpus but still vocab-sized; a query
    * filters it down to its |Q| terms and collects |Q| rows). The frozen-
    * LM deployment ladder applied to sparse retrieval: [[bm25TopK]]
    * recomputes (N, Σdl, df) with a full corpus aggregate on EVERY call,
    * which a curation stack pays hundreds of times per day over the same
    * corpus — this artifact is computed once per ingest batch
    * (incrementally — [[bm25UpdateIndex]]) and reused by every query.
    *
    * ON-DISK LAYOUT (r15 verdict #1 — the durability contract): the
    * artifact is VERSIONED as one unit. Each write lands a complete
    * `$path/v=<n>/` directory — `bm25_df` first, `bm25_meta` LAST — and
    * readers pick the newest version whose meta exists; a version with
    * no meta is by construction an interrupted write and is skipped (and
    * pruned by [[bm25Recover]]). There is no in-place rename of a live
    * directory anywhere, so no crash point can publish a half-merged
    * df/meta pair or a missing-df window: either the new meta landed
    * (version complete, atomically visible) or it didn't (readers still
    * see the previous version untouched). The meta additionally carries
    * the df frame's row count + content fingerprint, re-validated at
    * load, and the set of ingested batch ids so a replayed
    * [[bm25UpdateIndex]] is a loud no-op instead of a silent df
    * double-count. */
  final case class Bm25Index(nDocs: Long, sumDl: Long, df: DataFrame)

  /** Meta row of one artifact version (internal): stats + df
    * fingerprint + the ingested-batch ledger. */
  private final case class Bm25Meta(nDocs: Long, sumDl: Long, vocab: Long,
                                    dfFp: Long, batchIds: Seq[Long])

  private val Bm25Tag = "bm25-v2"

  // Explicit artifact schemas (r17): the distributed df read passes one,
  // so it pays no schema-inference job — the r17 per-step lifecycle
  // trace (OPTIMIZATION_r17.md) showed one "parquet at" job per read
  // before this. The 1-row meta is read
  // with graft.util.ArtifactIO.readLocal (r18): zero Spark jobs for
  // driver-bound metadata.
  private val Bm25DfSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("tok",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType)))

  /** Order-independent exact fingerprint of a (tok, df) frame:
    * (row count, XOR of xxhash64(tok, df)). XOR is commutative,
    * associative and overflow-free, so the aggregate is bit-stable
    * under any partitioning; rows are unique by `tok`, so pairs can
    * never self-cancel. */
  private def dfFingerprint(df: DataFrame): (Long, Long) = {
    // ONE job, zero exchanges: XOR/count partials merged driver-side are
    // bit-identical to the SQL bit_xor aggregate this replaces (which
    // paid a partial+final exchange = 2 AQE jobs per fingerprint)
    val partials = df.selectExpr("xxhash64(tok, df)")
      .queryExecution.toRdd.mapPartitions { it =>
        var n = 0L; var x = 0L
        while (it.hasNext) { x ^= it.next().getLong(0); n += 1L }
        Iterator((n, x))
      }.collect()
    partials.foldLeft((0L, 0L)) { case ((n, x), (pn, px)) => (n + pn, x ^ px) }
  }

  /** Read + validate one version's meta. Loud on corruption (wrong tag,
    * arity, negative stats) — a READABLE meta is a completed write, so
    * anything malformed inside it is damage, not a crash artifact. */
  private def readMeta(spark: SparkSession,
                       vDir: org.apache.hadoop.fs.Path): Bm25Meta = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    val rows = graft.util.ArtifactIO.readLocal(spark, s"$vDir/bm25_meta",
      "n_docs" -> LongType, "sum_dl" -> LongType,
      "model_tag" -> StringType, "vocab" -> LongType,
      "df_fp" -> LongType, "batch_ids" -> ArrayType(LongType))
    require(rows.length == 1,
      s"BM25 meta at $vDir/bm25_meta has ${rows.length} rows, expected 1")
    val r = rows.head
    require(r.getString(2) == Bm25Tag,
      s"BM25 artifact at $vDir has model_tag '${r.getString(2)}', " +
        s"expected '$Bm25Tag'")
    require(r.getLong(0) >= 0 && r.getLong(1) >= 0,
      s"BM25 artifact at $vDir has negative stats " +
        s"(n=${r.getLong(0)}, sum_dl=${r.getLong(1)})")
    Bm25Meta(r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
      r.getSeq[Long](5))
  }

  /** The artifact's versions: `v=<n>/` dirs committed by `bm25_meta`. */
  private val Bm25Versions =
    new graft.util.ArtifactIO.Versioned[Bm25Meta]("bm25_meta", readMeta)

  /** Land a new version as one unit: df FIRST, meta (with the df
    * fingerprint measured from what was actually written) LAST, then
    * best-effort prune of all older/incomplete versions. A crash at any
    * point before the meta commit leaves the previous version as the
    * newest complete one; a crash during pruning leaves extra complete
    * versions that readers ignore (newest wins) and the next write
    * prunes. */
  private def writeVersion(spark: SparkSession, path: String,
                           dfFrame: DataFrame, nDocs: Long, sumDl: Long,
                           batchIds: Seq[Long]): Bm25Index =
    writeVersionLazy(spark, path, dfFrame, () => (nDocs, sumDl), batchIds)

  /** [[writeVersion]] with the (nDocs, sumDl) stats supplied AFTER the
    * df write lands — the seam that lets a fused build+save compute the
    * stats as observe() metrics of the write job itself instead of a
    * separate corpus pass (guide §1.2: remove whole passes first). */
  private def writeVersionLazy(spark: SparkSession, path: String,
                               dfFrame: DataFrame,
                               stats: () => (Long, Long),
                               batchIds: Seq[Long]): Bm25Index = {
    import spark.implicits._
    val next = Bm25Versions.nextVersion(spark, path)
    val vDir = s"$path/v=$next"
    dfFrame.select(col("tok"), col("df").cast("long").as("df"))
      .write.mode("overwrite").parquet(s"$vDir/bm25_df")
    val written = spark.read.schema(Bm25DfSchema).parquet(s"$vDir/bm25_df")
    val (vocab, fp) = dfFingerprint(written)
    val (nDocs, sumDl) = stats()
    Seq((nDocs, sumDl, Bm25Tag, vocab, fp, batchIds))
      .toDF("n_docs", "sum_dl", "model_tag", "vocab", "df_fp", "batch_ids")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$vDir/bm25_meta") // meta commits the version
    Bm25Versions.pruneExcept(spark, path, next)
    Bm25Index(nDocs, sumDl, written)
  }

  /** Recovery/compaction routine for a versioned BM25 artifact, run by
    * [[bm25UpdateIndex]] at every entry and safe to run any time:
    * deletes version dirs with no committed meta (interrupted writes)
    * and all complete versions older than the newest (prune leftovers
    * from a crash mid-prune). Returns the surviving version number, or
    * -1 if the artifact has no complete version. */
  def bm25Recover(spark: SparkSession, path: String): Long =
    Bm25Versions.recoverKeep(spark, path).map(_._1).getOrElse(-1L)

  /** Corpus statistics of `df` as a [[Bm25Index]]: one word-count-shaped
    * aggregation (per-doc DISTINCT terms exploded → df per term, with
    * map-side partial aggregation) plus a one-row (N, Σdl) reduce.
    * Token unit is [[TextFns.tokens]], matching [[bm25TopK]]. */
  def bm25BuildIndex(df: DataFrame, idCol: String, textCol: String): Bm25Index = {
    val base = bm25Base(df, idCol, textCol)
    val meta = base.agg(count(lit(1)).as("n"), sum(col("__dl")).as("sdl"))
      .collect()(0)
    val dfFrame = base.select(explode(col("__terms")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    Bm25Index(meta.getLong(0), if (meta.isNullAt(1)) 0L else meta.getLong(1),
      dfFrame)
  }

  /** Persist a [[Bm25Index]] as a fresh artifact version under `path`
    * (df first, meta LAST — see the [[Bm25Index]] layout contract).
    * Counts are integers — bit-lossless, the frozen-LM artifact
    * discipline; the meta records the written df's fingerprint. */
  def bm25SaveIndex(spark: SparkSession, index: Bm25Index, path: String): Unit = {
    writeVersion(spark, path, index.df, index.nDocs, index.sumDl,
      batchIds = Seq.empty)
    ()
  }

  /** The per-doc (length, distinct-term) base frame both the stats
    * aggregate and the df frame derive from — shared by the eager and
    * fused build paths so their arithmetic can never diverge. */
  private def bm25Base(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    df.select(col(idCol), TextFns.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), size(col("__toks")).cast("long").as("__dl"),
        array_distinct(col("__toks")).as("__terms"))

  /** FUSED build + save: ONE corpus pass lands the artifact — the
    * (N, Σdl) stats ride the df write job as observe() metrics instead
    * of a separate aggregate scan ([[bm25BuildIndex]] + [[bm25SaveIndex]]
    * reads the corpus twice for the same result; guide §1.2 — remove
    * whole passes before tuning anything). Byte-identical artifact:
    * same df frame, same meta arithmetic, same fingerprint discipline. */
  def bm25BuildSaveIndex(spark: SparkSession, df: DataFrame, idCol: String,
                         textCol: String, path: String): Bm25Index = {
    val obs = org.apache.spark.sql.Observation()
    val base = bm25Base(df, idCol, textCol)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("__dl")), lit(0L)).as("sdl"))
    val dfFrame = base.select(explode(col("__terms")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    writeVersionLazy(spark, path, dfFrame,
      () => (obs.get("n").asInstanceOf[Long],
        obs.get("sdl").asInstanceOf[Long]),
      batchIds = Seq.empty)
  }

  /** Load the newest COMPLETE version of a persisted artifact,
    * re-validating loudly (the loadUnigramLm policy): tag, meta arity,
    * stats domain, and — `validate = true` (default) — the df frame's
    * row count + content fingerprint against the meta's record, so a
    * damaged or hand-edited df can never silently misprice idf. The
    * fingerprint check is one vocab-sized aggregate, paid once per
    * session; pass `validate = false` only on a hot path that re-loads
    * an artifact it just wrote. */
  def bm25LoadIndex(spark: SparkSession, path: String,
                    validate: Boolean = true): Bm25Index = {
    val (_, vDir, meta) = Bm25Versions.latestComplete(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"BM25 artifact at $path has no complete version " +
          "(run bm25Recover to prune interrupted writes, or rebuild)"))
    val df = spark.read.schema(Bm25DfSchema).parquet(s"$vDir/bm25_df")
    if (validate) {
      val (vocab, fp) = dfFingerprint(df)
      require(vocab == meta.vocab && fp == meta.dfFp,
        s"BM25 artifact at $vDir is inconsistent: df has $vocab terms / " +
          s"fingerprint $fp but meta recorded ${meta.vocab} / ${meta.dfFp} " +
          "— the df frame was modified behind the meta's back")
    }
    Bm25Index(meta.nDocs, meta.sumDl, df)
  }

  /** INCREMENTAL index update for batch ingest: merge a batch of NEW
    * documents into the persisted artifact — N and Σdl add, and df is
    * additive over DISJOINT document sets. The disjointness
    * precondition is GUARDED, not trusted: pass the ingest `batchId`
    * and a replay of an already-merged batch is a no-op returning the
    * current index (the meta keeps the ingested-batch ledger), so
    * at-least-once delivery upstream can never double-count df.
    * Calling without a batchId (default -1) keeps the caller
    * responsible for disjointness — document-level dedup belongs to
    * the curation layer's exactly-once machinery.
    *
    * Durability: runs [[bm25Recover]] first (prunes interrupted
    * writes), then lands the merged df + meta as one new version —
    * a crash at ANY point leaves the previous version as the newest
    * complete one, never a half-merged pair or a missing df
    * (crash-injection spec'd at each boundary in CorpusStatsSpec).
    * O(batch) stats work plus one vocab-sized merge aggregation. */
  def bm25UpdateIndex(spark: SparkSession, path: String, batch: DataFrame,
                      idCol: String, textCol: String,
                      batchId: Long = -1L): Bm25Index = {
    // ONE version resolution serves recovery, the ledger check and the
    // merge below (the pre-r17 shape read the meta twice on this path)
    val (_, vDir, meta) = Bm25Versions.recoverKeep(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"BM25 artifact at $path has no complete version to update"))
    if (batchId >= 0 && meta.batchIds.contains(batchId)) {
      // replayed batch: the ledger says it is already merged — loud
      // no-op (the parts layout's dynamic-overwrite idempotence,
      // expressed for the merged layout)
      return Bm25Index(meta.nDocs, meta.sumDl,
        spark.read.schema(Bm25DfSchema).parquet(s"$vDir/bm25_df"))
    }
    val cur = spark.read.schema(Bm25DfSchema).parquet(s"$vDir/bm25_df")
    // fused batch stats: the (n, Σdl) of the incoming batch ride the
    // merged-df write job as observe() metrics — the pre-r17 shape
    // scanned the batch twice (stats aggregate, then again inside the
    // union feeding the write)
    val obs = org.apache.spark.sql.Observation()
    val incBase = bm25Base(batch, idCol, textCol)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("__dl")), lit(0L)).as("sdl"))
    val incDf = incBase.select(explode(col("__terms")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val merged = cur.unionByName(incDf)
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    writeVersionLazy(spark, path, merged,
      () => (meta.nDocs + obs.get("n").asInstanceOf[Long],
        meta.sumDl + obs.get("sdl").asInstanceOf[Long]),
      if (batchId >= 0) meta.batchIds :+ batchId else meta.batchIds)
  }

  /** STREAMING-native BM25 index layout: per-batch df/meta PARTITIONS
    * (`$path/bm25_df_parts` and `$path/bm25_meta_parts`, partitioned by
    * batch_id, dynamic partition overwrite) instead of the
    * read-modify-write swap of [[bm25UpdateIndex]] — a replayed
    * micro-batch rewrites ONLY its own partition, so the
    * exactly-once-on-replay contract of
    * [[graft.streaming.StreamingIngest.curateBatch]] extends to the
    * retrieval index for free (an aggregate artifact cannot be made
    * replay-safe by overwrite; per-batch partitions can). Appends are
    * O(batch); [[bm25LoadParts]] pays one vocab-sized merge aggregation
    * at load, which a query stack does once per session, and
    * [[graft.maintenance.Compaction.compactPartitionedDir]] keeps the
    * partition listings flat on the ingest loop's schedule (publishing
    * through [[MergeSink.swapDirs]], healed by [[MergeSink.recoverSwap]]). */
  def bm25AppendBatch(spark: SparkSession, path: String, batch: DataFrame,
                      idCol: String, textCol: String, batchId: Long): Unit = {
    import spark.implicits._
    // fused: the batch's (n, Σdl) stats ride the df-partition write job
    // as observe() metrics instead of a separate batch scan (same
    // discipline as bm25BuildSaveIndex; the meta partition still lands
    // strictly after the df partition)
    val obs = org.apache.spark.sql.Observation()
    val incBase = bm25Base(batch, idCol, textCol)
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("__dl")), lit(0L)).as("sdl"))
    incBase.select(explode(col("__terms")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$path/bm25_df_parts")
    Seq((obs.get("n").asInstanceOf[Long], obs.get("sdl").asInstanceOf[Long],
      "bm25-v1", batchId))
      .toDF("n_docs", "sum_dl", "model_tag", "batch_id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id").parquet(s"$path/bm25_meta_parts")
  }

  /** Load a [[bm25AppendBatch]] artifact: per-batch metas sum to
    * (N, Σdl) and the df partitions merge by term. An index with no
    * batches yet (or only fully-rejected ones, or only a crashed write's
    * part files under `_temporary/`) loads as the EMPTY index rather
    * than crashing on a fileless directory — day one of a production
    * loop. */
  def bm25LoadParts(spark: SparkSession, path: String): Bm25Index = {
    import spark.implicits._
    val metaPath = new org.apache.hadoop.fs.Path(s"$path/bm25_meta_parts")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!graft.util.ArtifactIO.hasParquet(fs, metaPath))
      return Bm25Index(0L, 0L,
        Seq.empty[(String, Long)].toDF("tok", "df"))
    val metas = {
      import org.apache.spark.sql.types.{LongType, StringType}
      // per-batch 1-row metas, driver-local (zero Spark jobs); the
      // partition column (batch_id, a dir name) is not needed here
      graft.util.ArtifactIO.readLocal(spark, metaPath.toString,
          "n_docs" -> LongType, "sum_dl" -> LongType,
          "model_tag" -> StringType)
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    }
    metas.foreach { case (_, _, tag) => require(tag == "bm25-v1",
      s"BM25 batch artifact at $path has model_tag '$tag'") }
    val dfPath = new org.apache.hadoop.fs.Path(s"$path/bm25_df_parts")
    val df =
      if (graft.util.ArtifactIO.hasParquet(fs, dfPath))
        spark.read.parquet(dfPath.toString)
          .groupBy(col("tok")).agg(sum(col("df")).as("df"))
      else Seq.empty[(String, Long)].toDF("tok", "df")
    Bm25Index(metas.map(_._1).sum, metas.map(_._2).sum, df)
  }

  /** [[bm25TopK]] scored from a PERSISTED index instead of a per-call
    * stats aggregate: the |Q| query terms' df values come from the
    * artifact's df frame (|Q| collected rows), N/avgdl from its meta —
    * the only corpus pass left is the scoring scan itself (per-term tf
    * in-scan, fixed-point contributions, TakeOrdered; zero wide
    * shuffles, the q113 plan shape). A term absent from the artifact
    * scores with df = 0 (idf = ln(1 + (N+0.5)/0.5)) — day-2 query
    * vocabulary never fails the call. Scoring arithmetic is pinned to
    * [[bm25TopK]]'s: same quantization, same tie-break, same n_hits
    * match filter — when the index was built from exactly the scored
    * corpus, the results are identical (the q120 oracle proves it). */
  def bm25TopKIndexed(df: DataFrame, idCol: String, textCol: String,
                      queryTerms: Seq[String], index: Bm25Index,
                      k1: Double = 1.2, b: Double = 0.75,
                      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKIndexed: queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms,
      "bm25TopKIndexed: queryTerms must be distinct")
    require(index.nDocs > 0, "bm25TopKIndexed: empty index")
    val terms = queryTerms.toIndexedSeq
    val dfOf = index.df.filter(col("tok").isin(terms: _*))
      .select(col("tok"), col("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nDocs = index.nDocs
    val avgdl = index.sumDl.toDouble / nDocs
    val base = df.select(col(idCol),
        TextFns.tokens(col(textCol)).as("__toks"))
      .select(
        (col(idCol) +: size(col("__toks")).as("__dl") +:
          terms.zipWithIndex.map { case (t, i) =>
            size(filter(col("__toks"), x => x === lit(t))).as(s"__tf$i")
          }): _*)
    val contribs = terms.indices.map { i =>
      val dft = dfOf.getOrElse(terms(i), 0L).toDouble
      val idf = log(lit(1.0) +
        (lit(nDocs.toDouble) - lit(dft) + lit(0.5)) / (lit(dft) + lit(0.5)))
      val tf = col(s"__tf$i").cast("double")
      val sat = (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__dl").cast("double") / lit(avgdl)))
      round(idf * sat * 1e6).cast("long")
    }
    val hits = terms.indices
      .map(i => when(col(s"__tf$i") > 0, 1).otherwise(0))
      .reduce(_ + _).cast("int")
    base.select(col(idCol), hits.as("n_hits"),
        contribs.reduce(_ + _).as("score_i"))
      .filter(col("n_hits") > 0)
      .orderBy(col("score_i").desc, col(idCol))
      .limit(topK)
  }
}

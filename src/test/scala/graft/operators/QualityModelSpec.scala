package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("hashedLinearScore: derived-weight path == explicit-weight-array path " +
      "(the trained-model API is plan-compatible with the oracled one)") {
    val df = docs((1L, "the quick brown fox"), (2L, "lorem ipsum dolor"),
      (3L, ""), (4L, "the the the"))
    val a = df.select(col("doc_id"),
        QualityModel.hashedLinearScore(col("text"), bits = 10,
          seed = "s").as("m"))
      .select("doc_id", "m.n_tokens", "m.w_sum", "m.score")
      .orderBy("doc_id").collect().toSeq
    val w = QualityModel.derivedWeightTable(10)
    val b = df.select(col("doc_id"),
        QualityModel.hashedLinearScoreWeights(col("text"), bits = 10,
          seed = "s", weights = w).as("m"))
      .select("doc_id", "m.n_tokens", "m.w_sum", "m.score")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("hashedLinearScore native kernel == the Column-composition fold " +
      "it replaced (unigram and bigram features, multibyte, empty)") {
    val df = docs((1L, "the quick brown fox"), (2L, "lorem ipsum dolor"),
      (3L, ""), (4L, "the the the"), (5L, "Grüße aus München 日本語"))
    for (ng <- Seq(1, 2)) {
      val got = df.select(col("doc_id"),
          QualityModel.hashedLinearScore(col("text"), 10, "s-par", ng).as("k"),
          QualityModel.hashedLinearScoreFold(col("text"), 10, "s-par", ng).as("f"))
        .select(col("doc_id"),
          col("k.n_tokens"), col("k.w_sum"), col("k.score"),
          col("f.n_tokens"), col("f.w_sum"), col("f.score"))
        .as[(Long, Int, Long, Option[Double], Int, Long, Option[Double])]
        .collect()
      got.foreach { case (id, n1, w1, s1, n2, w2, s2) =>
        assert((n1, w1, s1) == ((n2, w2, s2)),
          s"ngrams=$ng doc $id: kernel ($n1,$w1,$s1) != fold ($n2,$w2,$s2)")
      }
    }
  }

  test("null-text contract (r15 ADVICE, pinned): the kernel scores a " +
      "null text as an EMPTY doc (n_tokens=0, w_sum=0, score null) " +
      "where the fold propagates NULL into the count fields — absent " +
      "and empty text are one state on the kernel path") {
    val df = Seq((1L, Option.empty[String]), (2L, Some("")))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        QualityModel.hashedLinearScore(col("text"), 10, "s-null").as("k"),
        QualityModel.hashedLinearScoreFold(col("text"), 10, "s-null").as("f"))
      .select(col("doc_id"),
        col("k.n_tokens"), col("k.w_sum"), col("k.score"),
        col("f.n_tokens"), col("f.w_sum"), col("f.score"))
      .as[(Long, Option[Int], Option[Long], Option[Double],
           Option[Int], Option[Long], Option[Double])]
      .orderBy("doc_id").collect().toSeq
    // null text: kernel (0, 0, null); fold (-1, null, null) — legacy
    // size(null) = -1 under this session's ANSI-off config, an even
    // stronger case for the kernel's single empty-doc state
    assert(got(0) == ((1L, Some(0), Some(0L), None, Some(-1), None, None)))
    // empty text: both paths agree exactly
    assert(got(1) == ((2L, Some(0), Some(0L), None, Some(0), Some(0L), None)))
  }

  test("hashedLinearScore: bits > 21 falls back to the md5-derived fold " +
      "automatically (the documented [1,30] domain holds on every path)") {
    val df = docs((1L, "alpha beta gamma"))
    val got = df.select(
        QualityModel.hashedLinearScore(col("text"), 22, "s-big").as("m"))
      .select("m.n_tokens", "m.w_sum", "m.score")
      .as[(Int, Long, Option[Double])].collect().head
    assert(got._1 == 3 && got._3.isDefined)
  }

  test("hashedLinearScore: empty doc scores NULL, weights bounded, " +
      "score in (0,1)") {
    val got = docs((1L, ""), (2L, "alpha beta gamma delta"))
      .select(col("doc_id"),
        QualityModel.hashedLinearScore(col("text"), 12, "graft-q75").as("m"))
      .select("doc_id", "m.n_tokens", "m.w_sum", "m.score")
      .as[(Long, Int, Long, Option[Double])].orderBy("doc_id").collect().toSeq
    assert(got(0) == ((1L, 0, 0L, None)))
    val (_, n, wSum, Some(score)) = got(1)
    assert(math.abs(wSum) <= 1000L * n)
    assert(score > 0.0 && score < 1.0)
  }

  test("unigramCrossEntropy: hand-checked tiny corpus") {
    // corpus: "a a b" + "b c"  =>  counts a=2 b=2 c=1, N=5, V=3
    // P(a)=P(b)=3/8, P(c)=2/8; doc1 xent = ln(8/3); doc2 = (ln(8/3)+ln(4))/2
    val got = QualityModel.unigramCrossEntropy(
        docs((1L, "a a b"), (2L, "b c"), (3L, "")), "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "xent", "ppl")
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L), "empty doc must be omitted")
    val x1 = math.log(8.0 / 3.0)
    val x2 = (math.log(8.0 / 3.0) + math.log(4.0)) / 2.0
    assert(math.abs(got(0)._3 - x1) < 2e-6, s"doc1 xent ${got(0)._3} != $x1")
    assert(math.abs(got(1)._3 - x2) < 2e-6, s"doc2 xent ${got(1)._3} != $x2")
    assert(math.abs(got(0)._4 - math.exp(got(0)._3)) < 1e-3)
  }

  test("unigramCrossEntropy: local native-scorer path == distributed plan, " +
      "row for row (the r12 fast path)") {
    val rnd = new scala.util.Random(7)
    val corpus = docs((1 to 300).map(i => (i.toLong,
      Seq.fill(1 + rnd.nextInt(40))(s"w${rnd.nextInt(60)}").mkString(" "))): _*)
    val local = QualityModel.unigramCrossEntropy(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val dist = QualityModel.unigramCrossEntropy(corpus, "doc_id", "text",
        maxLocalVocab = 0) // force the distributed branch
      .orderBy("doc_id").collect().toSeq
    assert(local == dist, "local LM path diverged from the distributed plan")
    // the local path plans ZERO exchanges for the scoring pass
    val plan = QualityModel.unigramCrossEntropy(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"local-LM scoring pass should be zero-shuffle:\n$plan")
  }

  test("unigramCrossEntropy: BPE token unit == word unit over the " +
      "pre-tokenized rewrite (tokensOf cross-validation)") {
    // xent with tokensOf = Bpe.tokens(merges) over `text` must equal the
    // DEFAULT word-unit xent over text' = the BPE tokens space-joined:
    // BPE tokens contain no whitespace and are already lowercase, so the
    // whitespace word model of text' recovers exactly the token sequence.
    // Two independent code paths (native encode expr inside the LM vs
    // encode-then-retokenize) over the same corpus distribution.
    import graft.functions.Bpe
    val df = docs((1L, "the sea was wet as wet could be"),
      (2L, "the sands were dry as dry could be"),
      (3L, "talk of many things of shoes and ships"),
      (4L, ""), (5L, "sea sea sea shells she sells"))
    val merges = Bpe.trainMergesLocal(df, "text", numMerges = 24, minCount = 2L)
    assert(merges.nonEmpty)
    val a = QualityModel.unigramCrossEntropy(df, "doc_id", "text",
        tokensOf = Bpe.tokens(_, merges))
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "xent", "ppl")
      .as[(Long, Int, Double, Double)].collect().toSeq
    val pre = df.select(col("doc_id"),
      concat_ws(" ", Bpe.tokens(col("text"), merges)).as("text"))
    val b = QualityModel.unigramCrossEntropy(pre, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "xent", "ppl")
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(a == b)
    assert(a.map(_._1) == Seq(1L, 2L, 3L, 5L), "empty doc omitted")
    // the BPE unit must actually differ from the word unit (subword
    // tokens > words) or the pin proves nothing
    val words = QualityModel.unigramCrossEntropy(df, "doc_id", "text")
      .orderBy("doc_id").select("n_tokens").as[Int].collect().toSeq
    assert(a.map(_._2).sum > words.sum)
  }

  test("unigramCrossEntropy: repeated boilerplate scores lower xent than " +
      "unique text (the filtering property)") {
    val boiler = (1L to 20L).map(i => (i, "click here to subscribe now"))
    val unique = (21L to 25L).map(i =>
      (i, s"zephyr$i quixotic$i bramble$i ossify$i lament$i"))
    val got = QualityModel.unigramCrossEntropy(
        docs((boiler ++ unique): _*), "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    val boilerMean = boiler.map(b => got(b._1)).sum / boiler.size
    val uniqueMean = unique.map(u => got(u._1)).sum / unique.size
    assert(boilerMean < uniqueMean,
      s"boilerplate $boilerMean !< unique $uniqueMean")
  }

  test("unigramCrossEntropy: partitioning-independent (integer fixed-point " +
      "inner sums make the result exact, not an FP race)") {
    val base = (1L to 200L).map(i => (i, s"tok${i % 17} tok${i % 5} common word"))
    val a = QualityModel.unigramCrossEntropy(docs(base: _*), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = QualityModel.unigramCrossEntropy(
        docs(base: _*).repartition(11), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("perplexityBuckets: assignment == ntile over (xent, id), computed " +
      "without a SinglePartition window") {
    val base = (1L to 50L).map(i =>
      (i, if (i % 10 == 0) s"uniq${i}a uniq${i}b uniq${i}c uniq${i}d"
          else "the common words repeat across most documents here"))
    val got = QualityModel.perplexityBuckets(spark, docs(base: _*),
        "doc_id", "text", nBuckets = 3)
      .select("doc_id", "xent", "bucket")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got.size == 50)
    // expected ntile: sort by (xent, doc_id); leading buckets take the
    // remainder (50 = 17 + 17 + 16)
    val sorted = got.sortBy(r => (r._2, r._1))
    val expect = sorted.zipWithIndex.map { case (r, i) =>
      r._1 -> (i * 3 / 50 + 1) }.toMap
    assert(got.map(r => r._1 -> r._3).toMap == expect)
    // the hapax docs are the tail bucket
    assert(got.filter(_._1 % 10 == 0).forall(_._3 == 3))
    // the data-carrying rank window must be partitioned by __pid (the
    // PrefixSum two-phase shape); a naive ntile would plan an UNpartitioned
    // window over the documents. SinglePartition exchanges remain in the
    // plan but only above the per-partition-totals / scalar-max frames
    // (rows = #partitions), the documented bounded funnels.
    val plan = QualityModel.perplexityBuckets(spark, docs(base: _*),
      "doc_id", "text", 3).queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(__pid"),
      "rank window must be __pid-partitioned")
    assert(!plan.contains("ntile"), "no global ntile window")
  }

  test("trainHashedLogistic: planted separable labels learn — the trained " +
      "table fed to hashedLinearScoreWeights separates positives from " +
      "negatives, including held-out docs; training is deterministic") {
    import org.apache.spark.sql.functions._
    val pos = Seq(
      "excellent wonderful brilliant insightful thorough precise",
      "wonderful precise writing with excellent thorough analysis",
      "brilliant insightful and precise excellent arguments throughout",
      "thorough excellent insightful wonderful brilliant reasoning here")
    val neg = Seq(
      "spam junk clickbait garbage noise filler",
      "garbage filler junk spam with clickbait noise everywhere",
      "noise clickbait spam filler garbage junk repeated",
      "junk noise garbage clickbait spam filler nothing else")
    val train = (pos.map((_, 1)) ++ neg.map((_, 0))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("doc_id", "text", "label")
    val bits = 8
    val w = QualityModel.trainHashedLogistic(train, "doc_id", "text", "label",
      bits, "graft-sep", epochs = 20, lrMyriad = 50000L)
    assert(w.length == (1 << bits))
    assert(w.exists(_ != 0), "training left all weights zero")
    // determinism: bit-identical on a re-run (and on a repartitioned input)
    val w2 = QualityModel.trainHashedLogistic(train.repartition(7), "doc_id",
      "text", "label", bits, "graft-sep", epochs = 20, lrMyriad = 50000L)
    assert(w.toSeq == w2.toSeq, "training is partitioning-dependent")
    // the trained table, consumed by the SCORER, separates the classes —
    // held-out compositions included
    val held = Seq(
      (100L, "a thorough and insightful excellent read", 1),
      (101L, "pure clickbait junk and filler spam", 0))
    val all = train.unionByName(held.toDF("doc_id", "text", "label"))
    val scored = all.select(col("doc_id"), col("label"),
        QualityModel.hashedLinearScoreWeights(col("text"), bits, "graft-sep", w)
          .getField("score").as("score"))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    val posScores = scored.filter(_._1 == 1).map(_._2)
    val negScores = scored.filter(_._1 == 0).map(_._2)
    assert(posScores.min > negScores.max,
      s"trained classifier failed to separate: pos=${posScores.toSeq} neg=${negScores.toSeq}")
    // and it actually LEARNED something the md5-derived table doesn't have:
    // the derived table cannot separate these planted classes
    val dw = QualityModel.derivedWeightTable(bits)
    val dScored = all.select(col("label"),
        QualityModel.hashedLinearScoreWeights(col("text"), bits, "graft-sep", dw)
          .getField("score").as("score"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val dPos = dScored.filter(_._1 == 1).map(_._2)
    val dNeg = dScored.filter(_._1 == 0).map(_._2)
    assert(!(dPos.min > dNeg.max),
      "fixture too easy: even the untrained md5 table separates it")
  }

  test("wordNgrams=2 features: an order-encoded label that unigram " +
      "features provably cannot separate, bigram features do") {
    // every doc is the SAME bag of words; the label is the word ORDER.
    // With wordNgrams=1 all docs have identical features, so every score
    // is identical and no weight table can separate them. With
    // wordNgrams=2 the phrase features differ and training separates.
    val pos = (0L to 3L).map(i => (i, "good service fast delivery", 1))
    val neg = (4L to 7L).map(i => (i, "delivery good fast service", 0))
    val train = (pos ++ neg).toDF("doc_id", "text", "label")
    val bits = 8
    val w2 = QualityModel.trainHashedLogistic(train, "doc_id", "text",
      "label", bits, "graft-ng", epochs = 20, lrMyriad = 50000L,
      wordNgrams = 2)
    val scored = train.select(col("label"),
        QualityModel.hashedLinearScoreWeights(col("text"), bits, "graft-ng",
          w2, wordNgrams = 2).getField("score").as("s"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val p = scored.filter(_._1 == 1).map(_._2)
    val n = scored.filter(_._1 == 0).map(_._2)
    assert(p.min > n.max,
      s"bigram features failed to separate order classes: pos=${p.toSeq} neg=${n.toSeq}")
    // the unigram model is STRUCTURALLY blind here: identical bags =>
    // identical features => one score for all docs, whatever it trains
    val w1 = QualityModel.trainHashedLogistic(train, "doc_id", "text",
      "label", bits, "graft-ng", epochs = 20, lrMyriad = 50000L)
    val s1 = train.select(
        QualityModel.hashedLinearScoreWeights(col("text"), bits, "graft-ng",
          w1).getField("score").as("s"))
      .collect().map(_.getDouble(0)).distinct
    assert(s1.length == 1, s"unigram scores should be identical: ${s1.toSeq}")
    // scorer parity: derived-path (trained table through Weights) n_tokens
    // counts features — tokens + bigrams
    val nFeats = train.select(
        QualityModel.hashedLinearScoreWeights(col("text"), bits, "graft-ng",
          w2, wordNgrams = 2).getField("n_tokens").as("n"))
      .collect().map(_.getInt(0)).distinct.toSeq
    assert(nFeats == Seq(7), s"4 tokens + 3 bigrams = 7 features: $nFeats")
  }

  test("withUnigramXent: inline column == left-join of unigramCrossEntropy " +
      "(empty docs NULL both ways); local path plans zero exchanges after " +
      "the count collect") {
    val rnd = new scala.util.Random(23)
    val corpus = docs(((1 to 200).map(i => (i.toLong,
      Seq.fill(rnd.nextInt(30))(s"w${rnd.nextInt(40)}").mkString(" ")))
      :+ (900L -> "") :+ (901L -> "   ")): _*)
    val inline = QualityModel.withUnigramXent(corpus, "doc_id", "text")
      .select("doc_id", "text", "xent")
      .orderBy("doc_id").collect().toSeq
    val joined = corpus.join(
        QualityModel.unigramCrossEntropy(corpus, "doc_id", "text")
          .select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .select("doc_id", "text", "xent")
      .orderBy("doc_id").collect().toSeq
    assert(inline == joined, "inline xent diverged from the join shape")
    assert(inline.exists(_.isNullAt(2)), "fixture needs token-less docs")
    // fallback (distributed LM via join) is also result-identical
    val fallback = QualityModel.withUnigramXent(corpus, "doc_id", "text",
        maxLocalVocab = 0)
      .select("doc_id", "text", "xent")
      .orderBy("doc_id").collect().toSeq
    assert(inline == fallback)
    val plan = QualityModel.withUnigramXent(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"inline xent should add zero exchanges:\n$plan")
  }

  test("bigramCrossEntropy: hand-checked tiny corpus (one-token docs feed " +
      "the unigram LM but are omitted from scoring)") {
    // corpus: "a a b", "b c", "z", "" => unigram a=2 b=2 c=1 z=1, N=6 V=4
    // bigrams: (a,a)=1 (a,b)=1 (b,c)=1
    // doc1: P(a|a) = .5*2/6 + .5*3/10;  P(b|a) = same = 0.31666…
    // doc2: P(c|b) = .5*2/6 + .5*2/10 = 0.26666…
    val got = QualityModel.bigramCrossEntropy(
        docs((1L, "a a b"), (2L, "b c"), (3L, "z"), (4L, "")),
        "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_terms", "xent", "ppl")
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L), "docs with < 2 tokens must be omitted")
    assert(got.map(_._2) == Seq(2, 1))
    val p1 = 0.5 * 2.0 / 6.0 + 0.5 * 3.0 / 10.0
    val p2 = 0.5 * 2.0 / 6.0 + 0.5 * 2.0 / 10.0
    assert(math.abs(got(0)._3 - (-math.log(p1))) < 2e-6,
      s"doc1 xent ${got(0)._3} != ${-math.log(p1)}")
    assert(math.abs(got(1)._3 - (-math.log(p2))) < 2e-6,
      s"doc2 xent ${got(1)._3} != ${-math.log(p2)}")
    assert(math.abs(got(0)._4 - math.exp(got(0)._3)) < 1e-3)
  }

  test("bigramCrossEntropy: local native-scorer path == distributed " +
      "three-join plan, row for row; local scoring pass is zero-shuffle") {
    val rnd = new scala.util.Random(13)
    val corpus = docs((1 to 300).map(i => (i.toLong,
      Seq.fill(1 + rnd.nextInt(40))(s"w${rnd.nextInt(60)}").mkString(" "))): _*)
    val local = QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val dist = QualityModel.bigramCrossEntropy(corpus, "doc_id", "text",
        maxLocalBigrams = 0) // force the distributed branch
      .orderBy("doc_id").collect().toSeq
    assert(local == dist, "local bigram-LM path diverged from the distributed plan")
    val plan = QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"local bigram-LM scoring pass should be zero-shuffle:\n$plan")
  }

  test("bigramCrossEntropy: word order matters — a scrambled doc scores " +
      "higher than the fluent order the corpus repeats, while the unigram " +
      "LM (order-blind by construction) cannot tell them apart") {
    val fluent = (1L to 20L).map(i => (i, "alpha beta gamma delta"))
    val corpus = docs((fluent :+ (21L -> "delta beta alpha gamma")): _*)
    val bi = QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(bi(21L) > bi(1L),
      s"bigram LM missed the scramble: ${bi(21L)} !> ${bi(1L)}")
    val uni = QualityModel.unigramCrossEntropy(corpus, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(uni(21L) == uni(1L),
      "fixture broken: unigram xent should be identical for equal bags")
  }

  test("frozen UnigramLm: self-scoring == unigramCrossEntropy bit for bit; " +
      "save/load round-trips; unseen tokens take exactly the add-one miss " +
      "mass") {
    val rnd = new scala.util.Random(41)
    val corpus = docs((1 to 120).map(i => (i.toLong,
      Seq.fill(1 + rnd.nextInt(20))(s"w${rnd.nextInt(25)}").mkString(" "))): _*)
    val lm = QualityModel.trainUnigramLm(corpus, "text")
    // artifact round trip is lossless (integer lp values)
    val path = java.nio.file.Files.createTempDirectory("lm_rt").toString
    QualityModel.saveUnigramLm(spark, lm, path)
    val lm2 =
      try QualityModel.loadUnigramLm(spark, path)
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    assert(lm2.copy(lp = lm2.lp.sortBy(_._1)) == lm.copy(lp = lm.lp.sortBy(_._1)))
    // frozen self-scoring == the self-scored operator, row for row
    val frozen = corpus.select(col("doc_id"),
        QualityModel.frozenXent(col("text"), lm2).as("xent"))
      .orderBy("doc_id").as[(Long, Double)].collect().toSeq
    val self = QualityModel.unigramCrossEntropy(corpus, "doc_id", "text")
      .select("doc_id", "xent").orderBy("doc_id")
      .as[(Long, Double)].collect().toSeq
    assert(frozen == self, "frozen LM diverged from the self-scored operator")
    // unseen tokens: a doc of k unseen tokens scores exactly missLp
    // (the add-one reserved mass), and never throws
    val oov = Seq((1L, "zzz9 qqq8 try7")).toDF("doc_id", "text")
      .select(QualityModel.frozenScore(col("text"), lm2).as("s"))
      .select("s.n_tokens", "s.lp_sum").as[(Int, Long)].head()
    assert(oov == ((3, 3L * lm2.missLp)))
    // and missLp is ln(N+V) quantized — the probability add-one reserves
    assert(math.abs(lm2.missLp -
      math.round(math.log((lm2.nTotal + lm2.vocab).toDouble) * 1e6)) <= 1)
  }

  test("frozen BigramLm: self-scoring == bigramCrossEntropy bit for bit " +
      "(local AND distributed paths); save/load round-trips; unseen " +
      "pairs/tokens price from count-0 interpolation, never throw") {
    val rnd = new scala.util.Random(47)
    val corpus = docs(((1 to 140).map(i => (i.toLong,
      Seq.fill(2 + rnd.nextInt(18))(s"w${rnd.nextInt(22)}").mkString(" ")))
      :+ (900L -> "") :+ (901L -> "solo")): _*)
    val lm = QualityModel.trainBigramLm(corpus, "text")
    // artifact round trip is lossless (integer counts)
    val path = java.nio.file.Files.createTempDirectory("bilm_rt").toString
    QualityModel.saveBigramLm(spark, lm, path)
    val lm2 =
      try QualityModel.loadBigramLm(spark, path)
      finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    assert(lm2.copy(uniCnt = lm2.uniCnt.sortBy(_._1),
        bigCnt = lm2.bigCnt.sortBy(_._1)) ==
      lm.copy(uniCnt = lm.uniCnt.sortBy(_._1),
        bigCnt = lm.bigCnt.sortBy(_._1)))
    // frozen self-scoring == the self-scored operator, row for row —
    // against BOTH the collected-local path and the distributed
    // three-join fallback (the kernel's lpInterp arithmetic is thereby
    // pinned to Catalyst's on real data)
    val frozen = corpus.select(col("doc_id"),
        QualityModel.frozenBigramXent(col("text"), lm2).as("xent"))
      .orderBy("doc_id").collect().toSeq
    val selfLocal = corpus.join(
        QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
          .select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .select("doc_id", "xent").orderBy("doc_id").collect().toSeq
    val selfDist = corpus.join(
        QualityModel.bigramCrossEntropy(corpus, "doc_id", "text",
            maxLocalBigrams = 0)
          .select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .select("doc_id", "xent").orderBy("doc_id").collect().toSeq
    assert(frozen == selfLocal, "frozen bigram LM diverged from local path")
    assert(frozen == selfDist, "frozen bigram LM diverged from distributed path")
    // day-2 OOV: an entirely-unseen pair stream scores finite values
    // via count-0 interpolation — and matches a hand computation
    val oov = Seq((1L, "zzz9 qqq8 www7")).toDF("doc_id", "text")
      .select(QualityModel.frozenBigramScore(col("text"), lm2).as("s"))
      .select("s.n_terms", "s.lp_sum").as[(Int, Long)].head()
    val term = graft.functions.FrozenBigramKernel.lpInterp(
      0L, 0L, 0L, lm2.nTotal, lm2.vocab)
    assert(oov == ((2, 2L * term)), s"got $oov, want (2, ${2L * term})")
    // loadLm dispatches on the meta layout: lm_order=2 -> BigramLm,
    // legacy orderless meta -> UnigramLm
    val p2 = java.nio.file.Files.createTempDirectory("bilm_any").toString
    try {
      QualityModel.saveBigramLm(spark, lm, s"$p2/b")
      QualityModel.saveUnigramLm(spark,
        QualityModel.trainUnigramLm(corpus, "text"), s"$p2/u")
      assert(QualityModel.loadLm(spark, s"$p2/b")
        .isInstanceOf[QualityModel.BigramLm])
      assert(QualityModel.loadLm(spark, s"$p2/u")
        .isInstanceOf[QualityModel.UnigramLm])
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p2))
  }

  test("frozen TrigramLm: self-scoring == trigramCrossEntropy bit for bit; " +
      "save/load round-trips; loadLm dispatches order 3; unseen triples " +
      "price from count-0 interpolation") {
    val rnd = new scala.util.Random(53)
    val corpus = docs(((1 to 120).map(i => (i.toLong,
      Seq.fill(3 + rnd.nextInt(16))(s"w${rnd.nextInt(20)}").mkString(" ")))
      :+ (900L -> "") :+ (901L -> "solo duo")): _*)
    val lm = QualityModel.trainTrigramLm(corpus, "text")
    val path = java.nio.file.Files.createTempDirectory("trilm_rt").toString
    val lm2 =
      try {
        QualityModel.saveTrigramLm(spark, lm, path)
        val loaded = QualityModel.loadLm(spark, path)
        assert(loaded.isInstanceOf[QualityModel.TrigramLm],
          s"loadLm must dispatch lm_order=3, got $loaded")
        loaded.asInstanceOf[QualityModel.TrigramLm]
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    assert(lm2.copy(uniCnt = lm2.uniCnt.sortBy(_._1),
        bigCnt = lm2.bigCnt.sortBy(_._1), triCnt = lm2.triCnt.sortBy(_._1)) ==
      lm.copy(uniCnt = lm.uniCnt.sortBy(_._1),
        bigCnt = lm.bigCnt.sortBy(_._1), triCnt = lm.triCnt.sortBy(_._1)))
    val frozen = corpus.select(col("doc_id"),
        QualityModel.frozenTrigramXent(col("text"), lm2).as("xent"))
      .orderBy("doc_id").collect().toSeq
    val selfDist = corpus.join(
        QualityModel.trigramCrossEntropy(corpus, "doc_id", "text")
          .select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .select("doc_id", "xent").orderBy("doc_id").collect().toSeq
    assert(frozen == selfDist, "frozen trigram LM diverged from trigramCrossEntropy")
    // day-2 OOV: an all-unseen stream scores n-2 identical count-0 terms
    val oov = Seq((1L, "zzz9 qqq8 www7 vvv6")).toDF("doc_id", "text")
      .select(QualityModel.frozenTrigramScore(col("text"), lm2).as("s"))
      .select("s.n_terms", "s.lp_sum").as[(Int, Long)].head()
    val term = graft.functions.FrozenTrigramKernel.lpInterp3(
      0L, 0L, 0L, 0L, 0L, lm2.nTotal, lm2.vocab)
    assert(oov == ((2, 2L * term)), s"got $oov, want (2, ${2L * term})")
    // frozenXentOf dispatches the trait; < 3 tokens -> NULL
    val short = Seq((1L, "solo duo")).toDF("doc_id", "text")
      .select(QualityModel.frozenXentOf(col("text"),
        lm2: QualityModel.FrozenLm).as("xent"))
      .collect().head
    assert(short.isNullAt(0), "docs with < 3 tokens must score NULL at order 3")
  }

  test("trainTrigramLm minTrigramCount: singleton triples pruned from the " +
      "artifact score as UNSEEN; backoff tables stay exact") {
    // 'a b c' x3 (kept at min 2), 'x y z' once (pruned)
    val corpus = docs((1L, "a b c"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"))
    val pruned = QualityModel.trainTrigramLm(corpus, "text",
      minTrigramCount = 2L)
    assert(pruned.triCnt.map(_._1) == Seq(("a", "b", "c")),
      s"singleton triple must prune: ${pruned.triCnt}")
    // bigram/unigram backoff unpruned
    assert(pruned.bigCnt.size == 4 && pruned.uniCnt.size == 6)
    val full = QualityModel.trainTrigramLm(corpus, "text")
    val scoreOf = (lm: QualityModel.TrigramLm, text: String) =>
      Seq((1L, text)).toDF("doc_id", "text")
        .select(QualityModel.frozenTrigramScore(col("text"), lm).as("s"))
        .select("s.lp_sum").as[Long].head()
    // the kept triple scores identically; the pruned one scores as if
    // its trigram count were 0 (bigram/unigram evidence still applies)
    assert(scoreOf(pruned, "a b c") == scoreOf(full, "a b c"))
    val expectPruned = graft.functions.FrozenTrigramKernel.lpInterp3(
      0L, 1L, 1L, 1L, 1L, full.nTotal, full.vocab)
    assert(scoreOf(pruned, "x y z") == expectPruned,
      "pruned triple must score count-0 with exact backoff counts")
    assert(scoreOf(pruned, "x y z") > scoreOf(full, "x y z"),
      "pruning must not make a pruned triple MORE probable")
  }

  test("trainBigramLm minBigramCount: singleton pairs pruned from the " +
      "artifact (scored as unseen), unigram backoff stays exact") {
    val corpus = docs(
      (1L, "a b a b a b"),   // (a,b) x3, (b,a) x2
      (2L, "c d"))           // (c,d) x1 — the singleton to prune
    val full = QualityModel.trainBigramLm(corpus, "text")
    val pruned = QualityModel.trainBigramLm(corpus, "text",
      minBigramCount = 2L)
    assert(full.bigCnt.toMap == Map(("a", "b") -> 3L, ("b", "a") -> 2L,
      ("c", "d") -> 1L))
    assert(pruned.bigCnt.toMap == Map(("a", "b") -> 3L, ("b", "a") -> 2L))
    // unigram side identical — pruning touches only the bigram table
    assert(pruned.uniCnt.sortBy(_._1) == full.uniCnt.sortBy(_._1))
    assert(pruned.nTotal == full.nTotal && pruned.vocab == full.vocab)
    // a pruned pair scores exactly as an UNSEEN pair (count-0
    // interpolation), seen pairs identically to the full table
    val probe = Seq((1L, "c d"), (2L, "a b")).toDF("doc_id", "text")
    def scoreWith(lm: QualityModel.BigramLm) = probe
      .select(col("doc_id"),
        QualityModel.frozenBigramScore(col("text"), lm).as("s"))
      .select(col("doc_id"), col("s.lp_sum")).as[(Long, Long)]
      .collect().toMap
    val sf = scoreWith(full); val sp = scoreWith(pruned)
    assert(sp(2L) == sf(2L), "seen pair must score identically")
    assert(sp(1L) == graft.functions.FrozenBigramKernel.lpInterp(
      0L, full.uniCnt.toMap.apply("c"), full.uniCnt.toMap.apply("d"),
      full.nTotal, full.vocab),
      "pruned pair must take the count-0 interpolation")
    assert(sp(1L) != sf(1L), "fixture: pruning must actually change c-d")
  }

  test("withBigramXent: inline column == left-join of bigramCrossEntropy " +
      "(sub-2-token docs NULL both ways); local path zero exchanges; " +
      "fallback identical") {
    val rnd = new scala.util.Random(31)
    val corpus = docs(((1 to 150).map(i => (i.toLong,
      Seq.fill(rnd.nextInt(25))(s"w${rnd.nextInt(30)}").mkString(" ")))
      :+ (900L -> "") :+ (901L -> "solo")): _*)
    val inline = QualityModel.withBigramXent(corpus, "doc_id", "text")
      .select("doc_id", "text", "xent").orderBy("doc_id").collect().toSeq
    val joined = corpus.join(
        QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
          .select(col("doc_id"), col("xent")), Seq("doc_id"), "left")
      .select("doc_id", "text", "xent").orderBy("doc_id").collect().toSeq
    assert(inline == joined)
    assert(inline.exists(_.isNullAt(2)), "fixture needs sub-2-token docs")
    val fallback = QualityModel.withBigramXent(corpus, "doc_id", "text",
        maxLocalBigrams = 0)
      .select("doc_id", "text", "xent").orderBy("doc_id").collect().toSeq
    assert(inline == fallback)
    val plan = QualityModel.withBigramXent(corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"inline bigram xent should add zero exchanges:\n$plan")
  }

  test("bigramCrossEntropy: partitioning-independent") {
    val base = (1L to 200L).map(i => (i, s"tok${i % 17} tok${i % 5} common word"))
    val a = QualityModel.bigramCrossEntropy(docs(base: _*), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    val b = QualityModel.bigramCrossEntropy(
        docs(base: _*).repartition(11), "doc_id", "text")
      .orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("charNgrams: overlapping lowered 3-grams; short text empty; " +
      "oracle-shaped boundaries") {
    val got = Seq((1L, "AbCd"), (2L, "ab"), (3L, ""), (4L, "x y"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.TextFns.charNgrams(col("text"), 3).as("g"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect().toSeq
    assert(got == Seq(
      (1L, Seq("abc", "bcd")),
      (2L, Seq.empty),
      (3L, Seq.empty),
      (4L, Seq("x y"))))
  }

  test("trainLangId beats the marker argmax on HELD-OUT text with no " +
      "marker words (where the marker predictor degenerates to its " +
      "tie-break) — the q112 capability gap") {
    // labeled seed set: varied sentences per language, real inflections
    val train = Seq(
      ("en", "the children were running quickly through the winding streets"),
      ("en", "a bright morning sun is shining over the green hills"),
      ("en", "reading books and writing letters is a quiet evening pleasure"),
      ("en", "the weather turned cold and the leaves started falling"),
      ("en", "travelers walking along the river watched the boats drifting"),
      ("en", "cooking dinner together brings the whole family happiness"),
      ("en", "the teacher explained everything slowly and clearly again"),
      ("en", "singing birds woke the sleeping village early that morning"),
      ("es", "el perro corre por la calle cada manana muy temprano"),
      ("es", "las montanas estaban cubiertas de nieve blanca brillante"),
      ("es", "los ninos cantaban canciones alegres durante la celebracion"),
      ("es", "la cocina olia a pan recien horneado esta manana"),
      ("es", "caminando despacio llegamos hasta la orilla del rio"),
      ("es", "el maestro explicaba la leccion con mucha paciencia"),
      ("es", "las estrellas brillaban sobre el pueblo dormido anoche"),
      ("es", "comiendo juntos la familia compartia historias divertidas"),
      ("de", "der hund lauft schnell durch die engen strassen der stadt"),
      ("de", "die berge waren mit frischem weissem schnee bedeckt"),
      ("de", "die kinder sangen frohliche lieder wahrend des festes"),
      ("de", "die kuche roch heute morgen nach frisch gebackenem brot"),
      ("de", "langsam gehend erreichten wir das ufer des flusses"),
      ("de", "der lehrer erklarte die aufgabe mit grosser geduld"),
      ("de", "die sterne leuchteten gestern nacht uber dem dorf"),
      ("de", "beim gemeinsamen essen erzahlte die familie geschichten"))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val model = QualityModel.trainLangId(train, "doc_id", "text", "lang",
      Seq("en", "es", "de"), bits = 10, seed = "spec-langid",
      epochs = 8, charN = 3)
    // held-out: NO marker words (the|a|is|and|of / el|la|de|que|es /
    // der|die|das|und|ist) — the marker argmax scores 0 everywhere and
    // falls to its tie-break ('en'), so it gets exactly the EN rows
    val heldOut = Seq(
      ("en", "children playing outside were singing cheerful songs together"),
      ("en", "travelers watched sailing boats drifting slowly downstream"),
      ("es", "corriendo rapidamente cruzaron aquellas calles estrechas anoche"),
      ("es", "cantaban canciones alegres mientras caminaban hacia casa"),
      ("de", "kinder spielten draussen frohliche lieder zusammen heute"),
      ("de", "langsam erreichten wanderer gestern jenes kleine dorf"))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "truth")
    val scored = heldOut.select(col("truth"),
        QualityModel.langPredictTrained(col("text"), model).as("trained"),
        graft.functions.TextFns.langPredict(col("text")).as("marker"))
      .collect()
    val markerHits = scored.count(r => r.getString(2) == r.getString(0))
    val trainedHits = scored.count(r => r.getString(1) == r.getString(0))
    // fixture sanity: the marker predictor must indeed see no markers
    assert(scored.forall(_.getString(2) == "en"),
      "fixture broken: held-out text must carry no marker words")
    assert(trainedHits > markerHits,
      s"trained=$trainedHits must beat marker=$markerHits on held-out " +
        s"text: ${scored.mkString("; ")}")
    assert(trainedHits >= 5,
      s"trained model should get >= 5/6 held-out right, got $trainedHits")
    // degenerate input: zero features -> all margins 0 -> first lang
    val empty = Seq((1L, "")).toDF("doc_id", "text")
      .select(QualityModel.langPredictTrained(col("text"), model))
      .as[String].head()
    assert(empty == "en")
  }

  test("langMargins native kernel == the Column-composition fold it " +
      "replaced, on multibyte/mixed-script/short/empty/null text (window " +
      "slicing must step code points exactly like substringSQL; md5 " +
      "bucketing byte-identical)") {
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog", "en"),
      (1L, "el perro corre por la calle cada manana", "es"))
      .toDF("doc_id", "text", "lang")
    val model = QualityModel.trainLangId(train, "doc_id", "text", "lang",
      Seq("en", "es"), bits = 7, seed = "spec-native", epochs = 2, charN = 3)
    val probes = Seq(
      (1L, "plain ascii words here"),
      (2L, "Grüße aus München — schöne Straße"),       // 2-byte points
      (3L, "日本語のテキストと漢字が混ざる"),               // 3-byte points
      (4L, "mixed 語 ascii ü and 🙂 emoji 🚀 tails"),   // 4-byte points
      (5L, "AB"),                                      // shorter than charN
      (6L, ""),                                        // empty
      (7L, null.asInstanceOf[String]),                 // null
      (8L, "UPPER Case FOLDS through spark's own lower()"))
      .toDF("doc_id", "text")
    val got = probes.select(col("doc_id"),
        QualityModel.langMargins(col("text"), model).as("m"),
        QualityModel.langMarginsFold(col("text"), model).as("f"))
      .select(col("doc_id"),
        col("m.n"), col("m.ws_en"), col("m.ws_es"),
        col("f.n"), col("f.ws_en"), col("f.ws_es"))
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    got.foreach { case (id, n1, e1, s1, n2, e2, s2) =>
      assert((n1, e1, s1) == (n2, e2, s2),
        s"doc $id: native ($n1,$e1,$s1) != fold ($n2,$e2,$s2)")
    }
    // fixture sanity: the multibyte rows must actually produce n-grams
    assert(got.filter(r => r._1 >= 2 && r._1 <= 4).forall(_._2 > 0))
  }

  test("saveLangId/loadLangId: bit-exact artifact round-trip (language " +
      "ORDER preserved — the argmax tie-break depends on it) and loud " +
      "failure on a corrupted or mis-tagged artifact") {
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today", "en"),
      (1L, "a bright morning sun is shining over the hills", "en"),
      (2L, "el perro corre por la calle cada manana temprano", "es"),
      (3L, "las montanas estaban cubiertas de nieve blanca", "es"))
      .toDF("doc_id", "text", "lang")
    val model = QualityModel.trainLangId(train, "doc_id", "text", "lang",
      Seq("en", "es"), bits = 6, seed = "spec-save", epochs = 2, charN = 3)
    val root = java.nio.file.Files.createTempDirectory("langid_art").toString
    QualityModel.saveLangId(spark, model, root)
    val loaded = QualityModel.loadLangId(spark, root)
    assert(loaded.langs == model.langs, "language order must survive")
    assert(loaded.bits == model.bits && loaded.seed == model.seed &&
      loaded.charN == model.charN)
    model.langs.foreach { l =>
      assert(java.util.Arrays.equals(loaded.weights(l), model.weights(l)),
        s"lang '$l' weight table must round-trip bit-exactly")
    }
    // the loaded model scores identically (same plan-literal weights)
    val probe = Seq((1L, "corriendo por aquellas calles estrechas"))
      .toDF("doc_id", "text")
    val a = probe.select(QualityModel.langPredictTrained(col("text"), model))
      .as[String].head()
    val b = probe.select(QualityModel.langPredictTrained(col("text"), loaded))
      .as[String].head()
    assert(a == b)
    // corrupted: drop one weight row -> per-language completeness fails
    val w = spark.read.parquet(s"$root/langid_weights")
    w.filter(!(col("lang") === "en" && col("b") === 0))
      .write.mode("overwrite").parquet(s"$root/langid_weights_bad")
    val fs = new java.io.File(s"$root/langid_weights")
    org.apache.commons.io.FileUtils.deleteDirectory(fs)
    new java.io.File(s"$root/langid_weights_bad").renameTo(fs)
    val e1 = intercept[IllegalArgumentException] {
      QualityModel.loadLangId(spark, root)
    }
    assert(e1.getMessage.contains("weight rows"))
    // mis-tagged meta -> rejected before any weight read
    Seq((6, "spec-save", 3, 2, "some-other-model"))
      .toDF("bits", "seed", "char_n", "n_langs", "model_tag")
      .write.mode("overwrite").parquet(s"$root/langid_meta")
    val e2 = intercept[IllegalArgumentException] {
      QualityModel.loadLangId(spark, root)
    }
    assert(e2.getMessage.contains("model_tag"))
  }

  test("trigramCrossEntropy: hand-checked tiny corpus (< 3-token docs feed " +
      "the lower-order frames but are omitted from scoring)") {
    // corpus: "a a b a", "b c", "z" => unigram a=3 b=2 c=1 z=1, N=7 V=4
    // bigrams: (a,a)=1 (a,b)=1 (b,a)=1 (b,c)=1
    // trigrams: (a,a,b)=1 (a,b,a)=1
    // doc1 pos3: P(b|a a) = (1/3)(2/5) + (1/3)(2/7) + (1/3)(3/11)
    //      pos4: P(a|a b) = (1/3)(2/5) + (1/3)(2/6) + (1/3)(4/11)
    val got = QualityModel.trigramCrossEntropy(
        docs((1L, "a a b a"), (2L, "b c"), (3L, "z")),
        "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_terms", "xent", "ppl")
      .as[(Long, Int, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L), "docs with < 3 tokens must be omitted")
    assert(got.map(_._2) == Seq(2))
    val w = 1.0 / 3
    val lp1 = -math.log(w * 2.0 / 5 + w * 2.0 / 7 + w * 3.0 / 11)
    val lp2 = -math.log(w * 2.0 / 5 + w * 2.0 / 6 + w * 4.0 / 11)
    assert(math.abs(got(0)._3 - (lp1 + lp2) / 2) < 2e-6,
      s"doc1 xent ${got(0)._3} != ${(lp1 + lp2) / 2}")
    assert(math.abs(got(0)._4 - math.exp(got(0)._3)) < 1e-3)
    // on a random corpus the plan keeps its five side joins, every
    // >= 3-token doc scores n - 2 positions, and its rows are stable
    // run to run
    val rnd = new scala.util.Random(17)
    val lens = (1 to 300).map(i => i.toLong -> (1 + rnd.nextInt(40)))
    val corpus = docs(lens.map { case (id, n) =>
      (id, Seq.fill(n)(s"w${rnd.nextInt(60)}").mkString(" ")) }: _*)
    val plan = QualityModel.trigramCrossEntropy(corpus, "doc_id", "text")
    val joins = "(?i)sortmergejoin|broadcasthashjoin|shuffledhashjoin".r
      .findAllIn(plan.queryExecution.executedPlan.toString).length
    assert(joins >= 5, s"the plan should keep the five side joins:\n" +
      plan.queryExecution.executedPlan)
    val rows = plan.orderBy("doc_id").collect().toSeq
    assert(rows.map(r => r.getLong(0) -> r.getInt(1)) ==
      lens.collect { case (id, n) if n >= 3 => id -> (n - 2) })
    assert(QualityModel.trigramCrossEntropy(corpus, "doc_id", "text")
      .orderBy("doc_id").collect().toSeq == rows,
      "trigramCrossEntropy rows changed between two runs")
  }

  test("trigramCrossEntropy: sees word order BEYOND adjacency — two docs " +
      "with IDENTICAL bigram multisets split at order 3") {
    // "a b a c a" and "a c a b a" have the same bigram multiset
    // {ab, ba, ac, ca}; a third doc repeats doc1's (b,a,c) context so
    // trigram counts favor doc1's order.
    val corpus = docs(
      (1L, "a b a c a"), (2L, "a c a b a"), (3L, "b a c"))
    val bi = QualityModel.bigramCrossEntropy(corpus, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(bi(1L) == bi(2L),
      "fixture broken: bigram xent should tie for equal bigram multisets")
    val tri = QualityModel.trigramCrossEntropy(corpus, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(tri(1L) < tri(2L),
      s"trigram LM missed the order difference: ${tri(1L)} !< ${tri(2L)}")
  }
}

package graft.pipeline

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions.{col, lit, when}

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // Every curation stage has a designated victim:
  //   10 -> clean (whitespace-only text empties out),
  //   6 -> quality (too short), 7 -> quality (punctuation junk),
  //   2 -> exact dedup (identical to 1), 3 -> near-dup (1 word off 1),
  //   5 -> loses its copied 8-token span to 4's canonical occurrence,
  //   8 -> decontamination (quotes an 8-token benchmark passage verbatim),
  //   1, 4, 9 -> survive intact.
  private val span = "one two three four five six seven eight"
  private val leak = "held out eval answers nobody should train on"
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river", "srcA"),
    (2L, "the quick brown fox jumps over the lazy dog near the river", "srcA"),
    (3L, "the quick brown fox jumps over the lazy dog near the creek", "srcA"),
    (4L, s"$span and then the story continued with more detail", "srcB"),
    (5L, s"a completely different opening here $span with an original ending of its own", "srcB"),
    (6L, "tiny doc", "srcA"),
    (7L, "a$b! c#d? e%f& g(h) i*j+ k,l- m.n/ o:p; q<r= s>t@", "srcB"),
    (8L, s"this document quotes $leak verbatim in the middle of it", "srcA"),
    (9L, "an entirely ordinary document about the weather and the sea with plenty of words", "srcB"),
    (10L, "\u0000\u0001\u0002", "srcA") // control chars only -> empties at clean
  ).toDF("doc_id", "text", "source")
  private val benchmark =
    Seq(s"the eval set passage reads $leak and must stay unseen")
      .toDF("text")

  test("full curation run: every stage drops exactly its victims, packing is seam-correct") {
    val out = Files.createTempDirectory("corpus").toString
    val summary = CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L))
    assert(summary.map(_.stage) == Seq("clean", "quality", "ppl_gate",
      "exact_dedup", "near_dedup", "span_rewrite", "decontaminate",
      "mixture", "pack", "shard"))
    assert(summary.forall(_.ok))
    assert(summary.forall(_.durationMs >= 0))
    val rows = summary.map(r => r.stage -> r.rows).toMap
    assert(rows("clean") == 9)                                            // -10
    assert(spark.read.parquet(s"$out/rejects_clean")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == Map(10L -> "empty_after_clean"))
    assert(rows("quality") == 7, s"quality kept ${rows("quality")}")      // -6, -7
    assert(rows("ppl_gate") == 7)             // default band keeps all (see focused test)
    assert(rows("exact_dedup") == 6)                                      // -2
    assert(rows("near_dedup") == 5)                                       // -3
    assert(rows("span_rewrite") == 5)                                     // 5 rewritten, none emptied
    assert(rows("decontaminate") == 4)                                    // -8
    assert(rows("mixture") == 4)                                          // budget >> corpus
    assert(rows("pack") == 4)
    assert(rows("shard") == 4)

    // quality rejects carry their reasons
    val rejects = spark.read.parquet(s"$out/rejects_quality")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(rejects == Map(6L -> "too_short", 7L -> "low_quality"))

    // doc 5 lost exactly the copied span; doc 4 (canonical) kept it
    val rewritten = spark.read.parquet(s"$out/s5_rewritten")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rewritten(4L).contains("one two three"))
    assert(!rewritten(5L).contains("one two three"))
    assert(rewritten(5L).startsWith("a completely different opening here"))

    // survivors are 1, 4, 5, 9; packing covers the token stream without
    // gaps: cum_tokens is the running sum in doc_id order
    val packed = spark.read.parquet(s"$out/s8_packed")
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(packed.map(_._1) == Seq(1L, 4L, 5L, 9L))
    assert(packed.scanLeft(0L)(_ + _._2).tail == packed.map(_._3))

    // shards: 4 survivors at shardSize=2 -> shards {0,1}, each full; the
    // permutation is the md5 rank of the ids (pure function of the id set)
    val shards = spark.read.parquet(s"$out/s9_shards")
      .select("shard_id", "pos_in_shard", "doc_id")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(shards.map(s => (s._1, s._2)) ==
      Seq((0L, 0L), (0L, 1L), (1L, 0L), (1L, 1L)))
    val expectedOrder = Seq(1L, 4L, 5L, 9L)
      .sortBy(id => java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString)
    assert(shards.map(_._3) == expectedOrder)
  }

  test("sem_dedup stage: embedding-space paraphrases drop as " +
      "semantic_duplicate (keep-lowest), docs WITHOUT a vector pass " +
      "through; the PCA-reduced path flags the same set when the " +
      "variance share justifies p; an insufficient spectrum FAILS LOUDLY") {
    import org.apache.spark.sql.functions.col
    // signal lives in dims 0-1; dims 2-7 carry tiny per-doc noise, so
    // the top-2 PCA basis is the signal subspace (share ~0.999).
    // 9 is a near-copy of 4 IN EMBEDDING SPACE (texts share no shingles
    // — exactly what MinHash cannot see); 8 has NO embedding.
    def vec(a: Double, b: Double, seed: Int): Seq[Float] =
      (Seq(a, b) ++ Seq.tabulate(6)(k => 0.01 * ((seed + k) % 5 - 2))).map(_.toFloat)
    val embeddings = Seq(
      (1L, vec(1.0, 0.0, 1)),
      (4L, vec(0.0, 1.0, 2)),
      (5L, vec(0.7, -0.7, 3)),
      (9L, vec(0.02, 0.999, 4))).toDF("doc_id", "embedding")

    def runWith(cfg: CorpusPipeline.Config): (Seq[DailyPipeline.StageResult], String) = {
      val out = Files.createTempDirectory("corpus_sem").toString
      (CorpusPipeline.run(spark, docs, benchmark, out, cfg,
        embeddings = Some(embeddings)), out)
    }
    val base = CorpusPipeline.Config(minTokens = 8L, seqLen = 16,
      shardSize = 2L, semCentroids = 1,
      semThresholdNum = 97, semThresholdDen = 100)

    for (cfg <- Seq(base, base.copy(pcaP = 2, embedDim = 8, pcaMinShare = 0.9))) {
      val (summary, out) = runWith(cfg)
      assert(summary.map(_.stage) == Seq("clean", "quality", "ppl_gate",
        "exact_dedup", "near_dedup", "sem_dedup", "span_rewrite",
        "decontaminate", "mixture", "pack", "shard"))
      assert(summary.forall(_.ok))
      val rows = summary.map(r => r.stage -> r.rows).toMap
      assert(rows("near_dedup") == 5)
      assert(rows("sem_dedup") == 4,
        s"pcaP=${cfg.pcaP}: sem_dedup kept ${rows("sem_dedup")}") // -9
      assert(spark.read.parquet(s"$out/rejects_semdedup")
        .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
        == Map(9L -> "semantic_duplicate"),
        s"pcaP=${cfg.pcaP}: 9 must yield to its lower-id embedding twin 4")
      // 8 has no embedding: passes sem_dedup, drops at decontaminate
      assert(rows("decontaminate") == 3)
      assert(spark.read.parquet(s"$out/s6_clean").select("doc_id")
        .as[Long].collect().toSet == Set(1L, 4L, 5L))
      // the stage's index artifact carries the dedup space it ran in
      val idxCols = spark.read.parquet(s"$out/s4b_sem_index").columns.toSet
      assert(idxCols ==
        Set("doc_id", if (cfg.pcaP > 0) "pca_vec" else "embedding"))
    }

    // GUARD: four simplex-corner vectors have three EQUAL nonzero
    // eigenvalues — top-2 share = 2/3 < 0.9 — and the stage must refuse
    // to reduce (the r14 A/B's catastrophic over-flagging regime)
    val simplex = Seq(1L, 4L, 5L, 9L).zipWithIndex.map { case (id, k) =>
      (id, Seq.tabulate(8)(j => if (j == k) 1.0f else 0.0f))
    }.toDF("doc_id", "embedding")
    val out2 = Files.createTempDirectory("corpus_sem_bad").toString
    val e = intercept[DailyPipeline.PipelineFailedException] {
      CorpusPipeline.run(spark, docs, benchmark, out2,
        base.copy(pcaP = 2, embedDim = 8),
        embeddings = Some(simplex))
    }
    assert(e.getCause.getMessage.contains("variance"),
      s"got: ${e.getCause.getMessage}")
    // config sanity guards
    intercept[IllegalArgumentException] {
      CorpusPipeline.run(spark, docs, benchmark, out2, base)
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.run(spark, docs, benchmark, out2,
        CorpusPipeline.Config(pcaP = 2, embedDim = 8),
        embeddings = Some(embeddings))
    }
  }

  test("ppl_gate: hapax-noise docs exceed the xent band and are rejected with a reason") {
    import graft.operators.QualityModel
    // a corpus whose vocabulary repeats heavily, plus one doc of pure
    // hapax gibberish — under the corpus unigram LM the gibberish doc's
    // per-token surprisal is strictly the worst (every token has count 1)
    val common = "the model reads the data and the model writes the data again"
    val gibberish = "qzv1 xkw2 bnm3 plo4 wer5 tyu6 asd7 fgh8 jkl9 zxc0 vbn1 mqa2"
    val pplDocs = Seq(
      (1L, common, "srcA"),
      (2L, common + " with a small twist at the end of the data", "srcA"),
      (3L, "the data and the model and the data and the model once more", "srcB"),
      (4L, gibberish, "srcB")
    ).toDF("doc_id", "text", "source")

    // pick the band from the operator's own measurements: midpoint between
    // the worst normal doc and the gibberish doc
    val xents = QualityModel.unigramCrossEntropy(pplDocs, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(xents(4L) > Seq(1L, 2L, 3L).map(xents).max)
    val cut = (xents(4L) + Seq(1L, 2L, 3L).map(xents).max) / 2

    val out = Files.createTempDirectory("corpus_ppl").toString
    val summary = CorpusPipeline.run(spark, pplDocs, benchmark, out,
      CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L,
        maxXent = cut))
    val rows = summary.map(r => r.stage -> r.rows).toMap
    assert(rows("quality") == 4 && rows("ppl_gate") == 3)
    val rejected = spark.read.parquet(s"$out/rejects_ppl")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(rejected == Map(4L -> "high_perplexity"))
  }

  test("langAllow: the marker-argmax gate drops off-language docs as " +
      "wrong_language; kept docs carry the lang audit column; empty " +
      "allow-list leaves the schema untouched") {
    val langDocs = Seq(
      (1L, "the model is one of the best and most useful of the tools here", "srcA"),
      (2L, "el modelo es uno de los mejores y la herramienta que es util aqui", "srcA"),
      (3L, "der hund und die katze und das pferd ist im haus und der garten", "srcB"),
      (4L, "the data and the code and the tests are all of the work here", "srcB")
    ).toDF("doc_id", "text", "source")
    val out = Files.createTempDirectory("corpus_lang").toString
    val summary = CorpusPipeline.run(spark, langDocs, benchmark, out,
      CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L,
        langAllow = Seq("en")))
    assert(summary.map(r => r.stage -> r.rows).toMap.apply("quality") == 2)
    val rejected = spark.read.parquet(s"$out/rejects_quality")
      .select("doc_id", "drop_reason", "lang")
      .as[(Long, String, String)].collect()
      .map { case (i, r, l) => i -> ((r, l)) }.toMap
    assert(rejected == Map(2L -> (("wrong_language", "es")),
      3L -> (("wrong_language", "de"))), s"got $rejected")
    assert(spark.read.parquet(s"$out/s1_quality")
      .select("lang").as[String].collect().toSet == Set("en"))
    // default config: no lang column anywhere
    val out2 = Files.createTempDirectory("corpus_nolang").toString
    CorpusPipeline.run(spark, langDocs, benchmark, out2,
      CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L))
    assert(!spark.read.parquet(s"$out2/s1_quality")
      .columns.contains("lang"))
  }

  test("langIdModel: the TRAINED char-n-gram predictor drives the " +
      "language gate (q112's model swapped in via Config) — drops match " +
      "the trained argmax, audit column carried") {
    import graft.operators.QualityModel
    import org.apache.spark.sql.functions.col
    val langDocs = Seq(
      (1L, "the model is one of the best and most useful of the tools here", "srcA"),
      (2L, "el modelo es uno de los mejores y la herramienta que es util aqui", "srcA"),
      (3L, "der hund und die katze und das pferd ist im haus und der garten", "srcB"),
      (4L, "the data and the code and the tests are all of the work here", "srcB")
    ).toDF("doc_id", "text", "source")
    // distill the marker teacher into the trained model on the same
    // tiny frame (the q112 shape), then gate WITH the trained model
    val labeled = langDocs.select(col("doc_id"), col("text"),
      graft.functions.TextFns.langPredict(col("text")).as("lang"))
    val model = QualityModel.trainLangId(labeled, "doc_id", "text", "lang",
      Seq("en", "es", "de"), bits = 8, seed = "spec-gate", epochs = 6,
      charN = 3)
    val trained = langDocs.select(col("doc_id"),
        QualityModel.langPredictTrained(col("text"), model).as("p"))
      .as[(Long, String)].collect().toMap
    val out = Files.createTempDirectory("corpus_langid").toString
    CorpusPipeline.run(spark, langDocs, benchmark, out,
      CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L,
        langAllow = Seq("en"), langIdModel = Some(model)))
    val kept = spark.read.parquet(s"$out/s1_quality")
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    val rejected = spark.read.parquet(s"$out/rejects_quality")
      .select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert((kept ++ rejected) == trained,
      s"gate lang must equal the trained argmax: got ${kept ++ rejected}, want $trained")
    assert(kept.keySet == trained.filter(_._2 == "en").keySet)
  }

  test("ppl_gate with pplLmOrder=2: a scrambled doc the unigram LM " +
      "cannot see (identical word bag) is rejected by the bigram gate") {
    import graft.operators.QualityModel
    val fluent = "the model reads the data and writes the result"
    val scrambled = "result the and model writes data the reads the"
    val pplDocs = ((1L to 8L).map(i => (i, fluent, "srcA"))
      :+ (9L, scrambled, "srcB")).toDF("doc_id", "text", "source")
    val bi = QualityModel.bigramCrossEntropy(pplDocs, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(bi(9L) > bi(1L), "fixture: bigram xent must separate the scramble")
    val cut = (bi(9L) + bi(1L)) / 2
    // unigram xent is IDENTICAL for equal bags — the unigram gate with
    // this cut keeps everything
    val uni = QualityModel.unigramCrossEntropy(pplDocs, "doc_id", "text")
      .select("doc_id", "xent").as[(Long, Double)].collect().toMap
    assert(uni(9L) == uni(1L))

    val out2 = Files.createTempDirectory("corpus_ppl2").toString
    val s2 = CorpusPipeline.run(spark, pplDocs, benchmark, out2,
      CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L,
        maxXent = cut, pplLmOrder = 2))
    assert(s2.map(r => r.stage -> r.rows).toMap.apply("ppl_gate") == 8)
    val rejected = spark.read.parquet(s"$out2/rejects_ppl")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(rejected == Map(9L -> "high_perplexity"))

    // the unigram gate is order-blind: whatever cut is chosen, the
    // scramble and the fluent docs land on the SAME side (their word
    // bags are identical) — directly on the operator, where the scale
    // of the cut is irrelevant
    assert(Seq(1L, 9L).map(uni).distinct.size == 1)
  }

  test("pplSampleMod > 0: the gate LM trains on the hash slice and the " +
      "frozen kernel scores everything — OOV docs (unseen by the sample) " +
      "are priced, gated, and never kill the run; orders 1, 2 and 3") {
    import graft.operators.QualityModel
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val common = "the model reads the data and the model writes the data again"
    val gibberish = "qzv1 xkw2 bnm3 plo4 wer5 tyu6 asd7 fgh8 jkl9 zxc0 vbn1 mqa2"
    // ids 1..40: common docs (the mod-4 hash slice lands ~10 of them in
    // the training sample); id 99: hapax gibberish — certainly NOT fully
    // represented in the sample's vocabulary, so its frozen score rides
    // the OOV pricing
    val pplDocs = ((1L to 40L).map(i => (i, common, "srcA"))
      :+ (99L, gibberish, "srcB")).toDF("doc_id", "text", "source")
    for (order <- Seq(1, 2, 3)) {
      val mod = 4
      val sample = pplDocs.filter(pmod(xxhash64(col("doc_id")), lit(mod)) === 0)
      assert(sample.count() > 0, "fixture: the hash slice must be non-empty")
      val cut =
        if (order == 3) {
          val lm = QualityModel.trainTrigramLm(sample, "text")
          val x = pplDocs.select(col("doc_id"),
              QualityModel.frozenTrigramXent(col("text"), lm).as("x"))
            .as[(Long, Double)].collect().toMap
          assert(x(99L) > x(1L)); (x(99L) + x(1L)) / 2
        } else if (order == 2) {
          val lm = QualityModel.trainBigramLm(sample, "text")
          val x = pplDocs.select(col("doc_id"),
              QualityModel.frozenBigramXent(col("text"), lm).as("x"))
            .as[(Long, Double)].collect().toMap
          assert(x(99L) > x(1L)); (x(99L) + x(1L)) / 2
        } else {
          val lm = QualityModel.trainUnigramLm(sample, "text")
          val x = pplDocs.select(col("doc_id"),
              QualityModel.frozenXent(col("text"), lm).as("x"))
            .as[(Long, Double)].collect().toMap
          assert(x(99L) > x(1L)); (x(99L) + x(1L)) / 2
        }
      val out = Files.createTempDirectory(s"corpus_pplfz$order").toString
      val s = CorpusPipeline.run(spark, pplDocs, benchmark, out,
        CorpusPipeline.Config(minTokens = 5L, seqLen = 16, shardSize = 2L,
          maxXent = cut, pplLmOrder = order, pplSampleMod = mod))
      assert(s.map(r => r.stage -> r.rows).toMap.apply("ppl_gate") == 40,
        s"order=$order")
      assert(spark.read.parquet(s"$out/rejects_ppl")
        .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
        == Map(99L -> "high_perplexity"), s"order=$order")
    }
  }

  test("bpeMerges > 0 (FAITHFUL default): tokenizer trained on the " +
      "decontaminated corpus, budgets re-denominated, and the packed " +
      "training file decodes back to the EXACT curated text") {
    import graft.functions.Bpe
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("corpus_bpe").toString
    val summary = CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        bpeMerges = 8))
    assert(summary.map(_.stage) == Seq("clean", "quality", "ppl_gate",
      "exact_dedup", "near_dedup", "span_rewrite", "decontaminate",
      "tokenizer", "mixture", "pack", "pack_ids", "shard"))
    assert(summary.forall(_.ok))

    // the persisted artifact IS the faithful table trained on s6_clean,
    // tagged with its word model
    val tok = Bpe.loadTokenizer(spark, s"$out/tokenizer")
    assert(tok.model == Bpe.ModelFaithful)
    val merges = tok.merges
    val s6 = spark.read.parquet(s"$out/s6_clean")
    assert(merges == Bpe.trainMergesLocal(s6, "text", 8, 2L, faithful = true))
    assert(summary.find(_.stage == "tokenizer").get.rows == merges.size.toLong)

    // downstream token accounting is the faithful tokenizer's
    val s7 = spark.read.parquet(s"$out/s7_mixture")
    val mismatch = s7
      .withColumn("bpe", Bpe.tokenCount(col("text"), merges, faithful = true))
      .filter(col("bpe") =!= col("n_tokens")).count()
    assert(mismatch == 0, "s7_mixture n_tokens is not BPE-denominated")

    // the packed training file covers exactly the mixture's faithful id
    // stream in doc order, full seqLen sequences except the ragged tail
    val expected = s7.orderBy("doc_id")
      .select(Bpe.tokenIdsFaithful(col("text"), merges, tok.vocab))
      .as[Seq[Int]].collect().toSeq.flatten
    val packed = spark.read.parquet(s"$out/s8b_packed_ids")
      .orderBy("seq_id").select("seq_id", "n_tokens", "token_ids")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    assert(packed.flatMap(_._3) == expected)
    packed.dropRight(1).foreach { case (_, n, ids) =>
      assert(n == 16 && ids.size == 16)
    }
    assert(packed.map(_._1) == packed.indices.map(_.toLong))

    // THE training-file contract (r12 verdict top task): every document
    // reconstructs from the packed sequences + s8_packed coordinates
    // alone, EXACTLY — case, whitespace, punctuation, bytes — not merely
    // its lowercased word model
    val stream = packed.flatMap(_._3)
    val exactText = s7.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val coords = spark.read.parquet(s"$out/s8_packed")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(coords.nonEmpty)
    val slices = coords.map { case (id, n, cum) =>
      (id, stream.slice((cum - n).toInt, cum.toInt)) }.toDF("doc_id", "ids")
    val bad = slices
      .select(col("doc_id"),
        Bpe.decodeIdsFlat(col("ids"), tok.vocab).as("got"))
      .as[(Long, String)].collect()
      .filter { case (id, got) => got != exactText(id) }
    assert(bad.isEmpty,
      s"docs failed EXACT reconstruction: ${bad.take(2).mkString("; ")}")
  }

  test("bpeFaithful = false: the legacy marked word model still trains, " +
      "packs, and reconstructs its word-model text") {
    import graft.functions.Bpe
    import org.apache.spark.sql.functions.{col, concat_ws}
    val out = Files.createTempDirectory("corpus_bpe_word").toString
    val summary = CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        bpeMerges = 8, bpeFaithful = false))
    assert(summary.forall(_.ok))
    val tok = Bpe.loadTokenizer(spark, s"$out/tokenizer")
    assert(tok.model == Bpe.ModelWordMarked)
    val s7 = spark.read.parquet(s"$out/s7_mixture")
    val packed = spark.read.parquet(s"$out/s8b_packed_ids")
      .orderBy("seq_id").select("token_ids")
      .as[Seq[Int]].collect().toSeq
    val stream = packed.flatten
    val wordText = s7.select(col("doc_id"),
        concat_ws(" ", Bpe.words(col("text"))).as("w"))
      .as[(Long, String)].collect().toMap
    val coords = spark.read.parquet(s"$out/s8_packed")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(coords.nonEmpty)
    val slices = coords.map { case (id, n, cum) =>
      (id, stream.slice((cum - n).toInt, cum.toInt)) }.toDF("doc_id", "ids")
    val bad = slices
      .select(col("doc_id"), Bpe.decodeIds(col("ids"), tok.vocab).as("got"))
      .as[(Long, String)].collect()
      .filter { case (id, got) => got != wordText(id) }
    assert(bad.isEmpty, s"word-model reconstruction failed: ${bad.take(2).mkString("; ")}")
  }

  test("unigramVocabSize > 0 (r16 verdict #1c): the pipeline trains the " +
      "UNIGRAM family, budgets re-denominate in pieces, and every " +
      "document reconstructs from the packed marked-id file") {
    import graft.functions.{Tokenizers, UnigramLm, Bpe}
    import org.apache.spark.sql.functions.{col, concat_ws}
    val out = Files.createTempDirectory("corpus_unigram").toString
    // bpeFaithful = false: this test pins the WORD-MODEL variant (the
    // faithful default gets its own test below)
    val summary = CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        unigramVocabSize = 40, unigramSeedSize = 80, unigramEmRounds = 2,
        bpeFaithful = false))
    assert(summary.map(_.stage).contains("tokenizer"))
    assert(summary.map(_.stage).contains("pack_ids"))
    assert(summary.forall(_.ok),
      s"stages failed: ${summary.filterNot(_.ok).mkString("; ")}")

    // the persisted artifact IS the unigram model trained on s6_clean;
    // a FRESH consumer gets it through the family dispatch
    val tok = Tokenizers.load(spark, s"$out/tokenizer")
    assert(tok.family == "unigram")
    val s6 = spark.read.parquet(s"$out/s6_clean")
    val retrained = UnigramLm.train(s6, "text", 80, 40, 2)
    assert(tok.asInstanceOf[Tokenizers.UnigramTok].model == retrained,
      "persisted model must be bit-equal to a retrain on s6_clean")

    // downstream token accounting is piece-denominated
    val s7 = spark.read.parquet(s"$out/s7_mixture")
    val mismatch = s7
      .withColumn("uni", UnigramLm.pieceCount(col("text"), retrained))
      .filter(col("uni") =!= col("n_tokens")).count()
    assert(mismatch == 0, "s7_mixture n_tokens is not piece-denominated")

    // the packed file is the marked byte-fallback stream in doc order
    val expected = s7.orderBy("doc_id")
      .select(UnigramLm.tokenIdsMarked(col("text"), retrained))
      .as[Seq[Int]].collect().toSeq.flatten
    val packed = spark.read.parquet(s"$out/s8b_packed_ids")
      .orderBy("seq_id").select("seq_id", "n_tokens", "token_ids")
      .as[(Long, Int, Seq[Int])].collect().toSeq
    assert(packed.flatMap(_._3) == expected)
    assert(expected.forall(_ >= 0), "no sentinel ids in a training file")

    // the training-file contract: every document reconstructs from the
    // packed sequences + s8_packed coordinates alone (word-model text —
    // the marked-stream contract, same as legacy BPE)
    val stream = packed.flatMap(_._3)
    val wordText = s7.select(col("doc_id"),
        concat_ws(" ", Bpe.words(col("text"))).as("w"))
      .as[(Long, String)].collect().toMap
    val coords = spark.read.parquet(s"$out/s8_packed")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(coords.nonEmpty)
    val slices = coords.map { case (id, n, cum) =>
      (id, stream.slice((cum - n).toInt, cum.toInt)) }.toDF("doc_id", "ids")
    val bad = slices
      .select(col("doc_id"), tok.decodeIds(col("ids")).as("got"))
      .as[(Long, String)].collect()
      .filter { case (id, got) => got != wordText(id) }
    assert(bad.isEmpty,
      s"unigram reconstruction failed: ${bad.take(2).mkString("; ")}")

    // one tokenizer per run: selecting both families fails loudly
    val e = intercept[IllegalArgumentException] {
      CorpusPipeline.Config(bpeMerges = 8, unigramVocabSize = 40)
    }
    assert(e.getMessage.contains("mutually exclusive"))
  }

  test("unigram FAITHFUL (the default word model, r17): the packed file " +
      "decodes back to the EXACT curated text — case, whitespace, bytes") {
    import graft.functions.{Tokenizers, UnigramLm}
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("corpus_unigram_f").toString
    val summary = CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        unigramVocabSize = 60, unigramSeedSize = 120, unigramEmRounds = 2))
    assert(summary.forall(_.ok),
      s"stages failed: ${summary.filterNot(_.ok).mkString("; ")}")
    val tok = Tokenizers.load(spark, s"$out/tokenizer")
    assert(tok.family == "unigram")
    assert(tok.asInstanceOf[Tokenizers.UnigramTok].model.faithful,
      "bpeFaithful default must select the faithful unigram word model")
    val s7 = spark.read.parquet(s"$out/s7_mixture")
    val packed = spark.read.parquet(s"$out/s8b_packed_ids")
      .orderBy("seq_id").select("token_ids")
      .as[Seq[Int]].collect().toSeq
    val stream = packed.flatten
    assert(stream.forall(_ >= 0))
    val exactText = s7.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    val coords = spark.read.parquet(s"$out/s8_packed")
      .select("doc_id", "n_tokens", "cum_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(coords.nonEmpty)
    val slices = coords.map { case (id, n, cum) =>
      (id, stream.slice((cum - n).toInt, cum.toInt)) }.toDF("doc_id", "ids")
    val bad = slices
      .select(col("doc_id"), tok.decodeIds(col("ids")).as("got"))
      .as[(Long, String)].collect()
      .filter { case (id, got) => got != exactText(id) }
    assert(bad.isEmpty,
      s"docs failed EXACT reconstruction: ${bad.take(2).mkString("; ")}")
  }

  test("fully-rejected corpus: every stage (incl. tokenizer mode) survives " +
      "empty frames end to end instead of crashing the run") {
    // the r9 streaming lesson, batch edition: an over-aggressive gate at
    // 100 TB must produce an EMPTY curated set, not a dead pipeline
    val out = Files.createTempDirectory("corpus_empty").toString
    val hopeless = Seq(
      (1L, "\u0000\u0001\u0002", "srcA"), // empties at clean
      (2L, "tiny doc", "srcA")            // under minTokens
    ).toDF("doc_id", "text", "source")
    val summary = CorpusPipeline.run(spark, hopeless, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        bpeMerges = 4))
    assert(summary.forall(_.ok),
      s"stages failed: ${summary.filterNot(_.ok).mkString("; ")}")
    assert(summary.map(_.stage).contains("tokenizer"))
    assert(summary.filter(s => Set("mixture", "pack", "pack_ids",
      "shard").contains(s.stage)).forall(_.rows == 0L))
    val merges = graft.functions.Bpe.loadTokenizer(spark, s"$out/tokenizer").merges
    assert(merges.isEmpty)
  }

  test("day-2 ingest: the persisted tokenizer artifact encodes a batch " +
      "whose alphabet the training corpus never saw (byte fallback)") {
    import graft.functions.Bpe
    import org.apache.spark.sql.functions.{col, concat_ws}
    val out = Files.createTempDirectory("corpus_day2").toString
    CorpusPipeline.run(spark, docs, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        bpeMerges = 8))
    // the production restart path: a FRESH consumer loads the artifact…
    val t = Bpe.loadTokenizer(spark, s"$out/tokenizer")
    assert(t.faithful)
    // …and day-2 documents carry code points the training corpus lacked
    // (accents, CJK, an astral emoji) — under the open faithful layout
    // the batch must encode AND reconstruct the EXACT text (mixed case,
    // double spaces included), not kill the ingest job
    val day2 = Seq(
      (101L, "The quick zèbre JUMPS über the 中文 river"),
      (102L, "routine ascii  only   document"),
      (103L, "Emoji day " + new String(Character.toChars(0x1F600))))
      .toDF("doc_id", "text")
    val bad = day2.select(
        (Bpe.decodeIdsFlat(
          Bpe.tokenIdsFaithful(col("text"), t.merges, t.vocab), t.vocab)
          === col("text")).as("rt"))
      .filter(!col("rt")).count()
    assert(bad == 0L, s"$bad day-2 rows failed the EXACT artifact round trip")
  }

  test("Config rejects a bad LM setting at construction, before any stage writes") {
    intercept[IllegalArgumentException](CorpusPipeline.Config(pplLmOrder = 4))
    intercept[IllegalArgumentException](CorpusPipeline.Config(pplSampleMod = -1))
    intercept[IllegalArgumentException](CorpusPipeline.Config(pplLmOrder = 3))
    CorpusPipeline.Config(pplLmOrder = 3, pplSampleMod = 4)
  }

  test("fail-fast: a broken stage aborts with the partial summary intact") {
    val out = Files.createTempDirectory("corpus_fail").toString
    val bad = docs.withColumnRenamed("text", "body") // quality stage can't resolve `text`
    val e = intercept[DailyPipeline.PipelineFailedException] {
      CorpusPipeline.run(spark, bad, benchmark, out)
    }
    assert(e.summary.map(_.stage) == Seq("clean")) // first text consumer
    assert(!e.summary.head.ok && e.summary.head.error.nonEmpty)
  }
  test("url_dedup stage: canonical-URL duplicates drop BEFORE clean with " +
      "their own reason; null urls pass through; survivors keep the " +
      "minimum id") {
    val out = Files.createTempDirectory("corpus_url").toString
    val withUrl = docs.withColumn("url",
      when(col("doc_id") === 2L, lit("https://www.a.com/x/"))
        .when(col("doc_id") === 3L, lit("HTTPS://a.com/x?utm_source=f"))
        .when(col("doc_id") === 9L, lit("https://b.com/y"))
        .otherwise(lit(null).cast("string")))
    val summary = CorpusPipeline.run(spark, withUrl, benchmark, out,
      CorpusPipeline.Config(minTokens = 8L, seqLen = 16, shardSize = 2L,
        urlCol = Some("url")))
    assert(summary.head.stage == "url_dedup" && summary.head.ok)
    // docs 2 and 3 normalize to the same canonical URL; min id 2 survives
    val rej = spark.read.parquet(s"$out/rejects_url")
    assert(rej.select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(rej.select("drop_reason").distinct().as[String]
      .collect().toSeq == Seq("url_duplicate"))
    assert(spark.read.parquet(s"$out/s_url").count() == docs.count() - 1)
    // downstream sees the pruned frame: doc 3 is gone from s0_clean
    assert(!spark.read.parquet(s"$out/s0_clean")
      .select("doc_id").as[Long].collect().contains(3L))
    // misnamed column fails loudly
    val e = intercept[Exception] {
      CorpusPipeline.run(spark, docs, benchmark, out,
        CorpusPipeline.Config(urlCol = Some("nope")))
    }
    assert(e.getCause.getMessage.contains("nope"))
  }

}

package graft.streaming

import graft.SparkSpec
import graft.functions.HashFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ticker", StringType), StructField("price", DoubleType)))

  private def write(dir: Path, name: String, content: String): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve(name), content)
  }

  test("file stream + foreachBatch merge: drain, then late file, then replayed content") {
    val root = Files.createTempDirectory("stream")
    val landing = root.resolve("landing")
    val target = s"$root/warehouse"
    write(landing, "f1.csv", "ticker,price\nAAA,10.0\nBBB,20.0\n")

    def drain(): Unit = {
      val stream = StreamingIngest.csvStream(spark, landing.toString, schema)
        .withColumn("row_hash",
          HashFns.canonicalRowHash(Seq(col("ticker")), Seq(col("price"))))
        .drop("origin_file")
      val q = StreamingIngest.upsertStream(spark, stream, target,
        Seq("ticker"), s"$root/ckpt")
      q.awaitTermination()
    }

    drain()
    assert(spark.read.parquet(target).count() == 2)

    // T4: a late/repair file lands; next AvailableNow run picks up ONLY it
    // (checkpoint remembers f1) and merges: BBB updated, CCC inserted
    write(landing, "f2.csv", "ticker,price\nBBB,21.0\nCCC,30.0\n")
    drain()
    val rows = spark.read.parquet(target).orderBy("ticker")
      .select("ticker", "price").as[(String, Double)].collect().toSeq
    assert(rows == Seq(("AAA", 10.0), ("BBB", 21.0), ("CCC", 30.0)))

    // T3: replayed content (same rows, new file name) is absorbed by the merge
    write(landing, "f3_replay.csv", "ticker,price\nBBB,21.0\nCCC,30.0\n")
    drain()
    assert(spark.read.parquet(target).count() == 3)
  }

  /** Drains one CSV batch into a fresh table through `upsertStream`,
    * lands the same rows again under a new file name (at-least-once
    * redelivery), drains again and checks the sink wrote no file. */
  private def replayWritesNoFile(name: String, shape: DataFrame => DataFrame,
                                 hashCol: Option[String]): Unit = {
    val root = Files.createTempDirectory(name)
    val landing = root.resolve("landing")
    val target = s"$root/warehouse"
    write(landing, "f1.csv", "ticker,price\nAAA,10.0\nBBB,20.0\nCCC,30.0\n")

    // micro-batches committed so far, from the checkpoint's commit log
    def drain(): Int = {
      val stream = shape(StreamingIngest.csvStream(spark, landing.toString, schema)
        .drop("origin_file"))
      StreamingIngest.upsertStream(spark, stream, target,
        Seq("ticker"), s"$root/ckpt", hashCol).awaitTermination()
      new java.io.File(s"$root/ckpt/commits").list()
        .count(_.forall(_.isDigit))
    }
    def stamps(): Map[String, Long] = {
      val s = Files.walk(java.nio.file.Paths.get(target))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally s.close()
    }

    assert(drain() == 1)
    val before = stamps()
    Thread.sleep(20)
    write(landing, "f1_redelivered.csv", "ticker,price\nAAA,10.0\nBBB,20.0\nCCC,30.0\n")
    assert(drain() == 2) // the redelivered batch ran through the sink
    assert(stamps() == before)
    assert(spark.read.parquet(target).count() == 3)
  }

  test("a replayed micro-batch (at-least-once redelivery) writes no file") {
    replayWritesNoFile("stream_replay", _.withColumn("row_hash",
      HashFns.canonicalRowHash(Seq(col("ticker")), Seq(col("price")))),
      hashCol = Some("row_hash"))
  }

  test("a replayed micro-batch into a K4 table (no hash column) writes no file") {
    // every batch stamps its own load time, as the daily NAV load does
    replayWritesNoFile("stream_replay_k4",
      _.withColumn("updated_at", current_timestamp()), hashCol = None)
  }

  test("incrementalDedupStream: batches dedup against the growing index; replay is idempotent") {
    val root = Files.createTempDirectory("incdedup")
    val landing = root.resolve("landing")
    val indexPath = s"$root/index"
    val pairsPath = s"$root/pairs"
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def drain(): Unit = {
      val stream = spark.readStream.schema(docSchema)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(landing.toString)
      val q = StreamingIngest.incrementalDedupStream(spark, stream,
        "doc_id", "text", indexPath, pairsPath, s"$root/ckpt",
        numHashes = 64, bands = 32, shingleN = 3, threshold = 0.5,
        maxBucketSize = Int.MaxValue)
      q.awaitTermination()
    }

    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // batch 1: two unrelated docs -> no pairs, index seeded
    write(landing, "b1.csv", s"doc_id,text\n1,$a\n2,$b\n")
    drain()
    assert(spark.read.parquet(indexPath).count() == 2)
    // zero pairs in batch 1 -> dynamic overwrite writes no partition files
    // at all; a parquet read of the bare directory can't infer a schema
    assert(scala.util.Try(spark.read.parquet(pairsPath).count()).getOrElse(0L) == 0L)

    // batch 2: near-dup of doc 1 (straddling pair) + near-dup pair INSIDE
    // the batch (5, 6) + noise
    val a2 = a.replace("dog", "cat")
    write(landing, "b2.csv",
      s"doc_id,text\n5,$b\n6,${b.replace("mu", "nu")}\n7,$a2\n")
    drain()
    val pairs = spark.read.parquet(pairsPath)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // straddling: batch-2 docs vs batch-1 index (1,7) and (2,5), (2,6);
    // within-batch: (5,6); never (1,2) (both in the index by then)
    assert(pairs == Set((1L, 7L), (2L, 5L), (2L, 6L), (5L, 6L)), s"got $pairs")
    assert(spark.read.parquet(indexPath).count() == 5)

    // replay idempotence: a post-crash Structured Streaming replay re-runs
    // the SAME batch content with the SAME batchId against an index whose
    // append already landed — invoke the batch body directly to simulate
    // exactly that. The anti-join guard + dynamic partition overwrite must
    // leave the pair set, index ids, and batch_id partitions unchanged.
    val batch2 = Seq((5L, b), (6L, b.replace("mu", "nu")), (7L, a2))
      .toDF("doc_id", "text")
    StreamingIngest.incrementalDedupBatch(spark, batch2, batchId = 1L,
      "doc_id", "text", indexPath, pairsPath,
      numHashes = 64, bands = 32, shingleN = 3, threshold = 0.5,
      maxBucketSize = Int.MaxValue)
    val idx = spark.read.parquet(indexPath).select("doc_id").as[Long].collect()
    assert(idx.length == 5 && idx.length == idx.distinct.length,
      s"replay corrupted the index: ${idx.sorted.toSeq}")
    val pairs2 = spark.read.parquet(pairsPath)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs2 == pairs, s"replay changed the pair set: $pairs2")
    assert(spark.read.parquet(pairsPath).count() == pairs.size,
      "replay duplicated pair rows")
  }

  test("curateStream: clean -> gate -> incremental near-dup -> curated lake; replay idempotent") {
    val root = Files.createTempDirectory("curate")
    val landing = root.resolve("landing")
    val (indexPath, curatedPath, rejectsPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    def drain(): Unit = {
      val stream = spark.readStream.schema(docSchema)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(landing.toString)
      StreamingIngest.curateStream(spark, stream, "doc_id", "text",
        indexPath, curatedPath, rejectsPath, s"$root/ckpt",
        minTokens = 8L, maxBucketSize = Int.MaxValue)
        .awaitTermination()
    }

    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    // batch 1: doc 1 survives; doc 2 survives; doc 3 too short
    write(landing, "b1.csv", s"doc_id,text\n1,$a\n2,$b\n3,tiny doc\n")
    drain()
    assert(spark.read.parquet(curatedPath).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L))
    assert(spark.read.parquet(rejectsPath)
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == Map(3L -> "too_short"))

    // batch 2: doc 7 = near-dup of HISTORY doc 1 (yields to the shipped
    // canonical); docs 5 < 6 near-dups of each other within the batch
    // (keep-lowest); doc 8 new and clean
    val a2 = a.replace("dog", "cat")
    val c = "completely original sentences about sailing boats across the wide open sea"
    val d = "some fresh unique paragraph about mountain hiking trails in early autumn weather"
    write(landing, "b2.csv",
      s"doc_id,text\n7,$a2\n5,$d\n6,${d.replace("weather", "sunshine")}\n8,$c\n")
    drain()
    val curated2 = spark.read.parquet(curatedPath).select("doc_id")
      .as[Long].collect().toSet
    assert(curated2 == Set(1L, 2L, 5L, 8L), s"got $curated2")
    val rejects2 = spark.read.parquet(rejectsPath)
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
    assert(rejects2 == Map(3L -> "too_short",
      6L -> "near_duplicate", 7L -> "near_duplicate"), s"got $rejects2")
    // only kept docs joined the index (canonical-only, like the batch
    // pipeline's near-dedup stage)
    assert(spark.read.parquet(indexPath).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 5L, 8L))

    // replay: same content, same batchId, index append already landed
    val batch2 = Seq((7L, a2), (5L, d), (6L, d.replace("weather", "sunshine")), (8L, c))
      .toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, batch2, batchId = 1L,
      "doc_id", "text", indexPath, curatedPath, rejectsPath,
      minTokens = 8L, maxBucketSize = Int.MaxValue)
    assert(spark.read.parquet(curatedPath).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 5L, 8L))
    assert(spark.read.parquet(curatedPath).count() == 4,
      "replay duplicated curated rows")
    assert(spark.read.parquet(rejectsPath)
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == rejects2, "replay changed the rejects")
    val idx = spark.read.parquet(indexPath).select("doc_id").as[Long].collect()
    assert(idx.sorted.toSeq == Seq(1L, 2L, 5L, 8L),
      s"replay corrupted the index: ${idx.sorted.toSeq}")
  }

  test("curateStream frozen-LM mode: the reference-LM perplexity band " +
      "rejects gibberish; unseen day-2 vocabulary is smoothed, never a " +
      "dead trigger") {
    import graft.operators.QualityModel
    val root = Files.createTempDirectory("curate_lm")
    val landing = root.resolve("landing")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // reference corpus: repeated fluent vocabulary — trained OFFLINE,
    // persisted, loaded once by the stream
    val ref = (1L to 30L).map(i =>
      (i, "the model reads the data and the model writes the data"))
      .toDF("doc_id", "text")
    val lm = QualityModel.trainUnigramLm(ref, "text")
    val lmPath = s"$root/lm_artifact"
    QualityModel.saveUnigramLm(spark, lm, lmPath)

    // band: gibberish (all unseen tokens at full miss mass) must exceed
    // it; a fluent doc with a COUPLE of unseen tokens must not
    val fluentNew = "the model reads the data and writes the summary today"
    val gibberish = "qzv1 xkw2 bnm3 plo4 wer5 tyu6 asd7 fgh8 jkl9 zxc0 vbn1 mqa2"
    val xOf = (t: String) => Seq((1L, t)).toDF("doc_id", "text")
      .select(QualityModel.frozenXent(col("text"), lm)).as[Double].head()
    val cut = (xOf(gibberish) + xOf(fluentNew)) / 2
    assert(xOf(gibberish) > cut && xOf(fluentNew) < cut,
      "fixture: the band must separate gibberish from fluent-with-OOV")

    write(landing, "b1.csv",
      s"doc_id,text\n1,$fluentNew\n2,$gibberish\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      s"$root/index", s"$root/curated", s"$root/rejects", s"$root/ckpt",
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      lmPath = lmPath, maxXent = cut)
      .awaitTermination()
    assert(spark.read.parquet(s"$root/curated").select("doc_id")
      .as[Long].collect().toSet == Set(1L),
      "fluent doc with unseen tokens must survive the frozen-LM gate")
    assert(spark.read.parquet(s"$root/rejects")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == Map(2L -> "high_perplexity"))
    // kept docs carry the audit xent column in LM mode
    val keptXent = spark.read.parquet(s"$root/curated")
      .select("xent").as[Double].head()
    assert(math.abs(keptXent - xOf(fluentNew)) < 1e-9)
  }

  test("curateStream frozen BIGRAM-LM gate (lm_order=2 artifact via the " +
      "same lmPath): degenerate repetition of a high-frequency token is " +
      "rejected — the case a unigram bag provably cannot see") {
    import graft.operators.QualityModel
    val root = Files.createTempDirectory("curate_bilm")
    val landing = root.resolve("landing")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    val ref = (1L to 30L).map(i =>
      (i, "the model reads the data and the model writes the data"))
      .toDF("doc_id", "text")
    val bilm = QualityModel.trainBigramLm(ref, "text")
    val lmPath = s"$root/lm_artifact"
    QualityModel.saveBigramLm(spark, bilm, lmPath)

    // "data" is a frequent reference token — a unigram LM loves this
    // doc; its bigram ("data","data") never occurs in the reference.
    // (λ=½ interpolation bounds the unseen-pair penalty by the unigram
    // half, so the repeated token must be mid-frequency for the bigram
    // signal to dominate — exactly the calibration a production band
    // would do.)
    val degenerate = "data data data data data data data data data data data data"
    val fluentNew = "the model reads the data and the model writes the summary"
    val biOf = (t: String) => Seq((1L, t)).toDF("doc_id", "text")
      .select(QualityModel.frozenBigramXent(col("text"), bilm))
      .as[Double].head()
    val cut = (biOf(degenerate) + biOf(fluentNew)) / 2
    assert(biOf(degenerate) > cut && biOf(fluentNew) < cut,
      "fixture: the bigram band must separate repetition from fluent")
    // the unigram LM on the SAME reference would PASS the degenerate doc
    // at any band that passes the fluent one — the capability gap
    val uni = QualityModel.trainUnigramLm(ref, "text")
    val uniOf = (t: String) => Seq((1L, t)).toDF("doc_id", "text")
      .select(QualityModel.frozenXent(col("text"), uni)).as[Double].head()
    assert(uniOf(degenerate) < uniOf(fluentNew),
      "fixture: unigram must score the degenerate doc MORE fluent")

    write(landing, "b1.csv",
      s"doc_id,text\n1,$fluentNew\n2,$degenerate\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      s"$root/index", s"$root/curated", s"$root/rejects", s"$root/ckpt",
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      lmPath = lmPath, maxXent = cut)
      .awaitTermination()
    assert(spark.read.parquet(s"$root/curated").select("doc_id")
      .as[Long].collect().toSet == Set(1L),
      "fluent doc must survive the frozen bigram gate")
    assert(spark.read.parquet(s"$root/rejects")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == Map(2L -> "high_perplexity"))
    val keptXent = spark.read.parquet(s"$root/curated")
      .select("xent").as[Double].head()
    assert(math.abs(keptXent - biOf(fluentNew)) < 1e-9)
  }

  test("curateStream trained lang-ID mode: the persisted classifier " +
      "artifact loads once at stream start and gates a batch on " +
      "wrong_language; marker-free text the q36 argmax cannot place is " +
      "classified correctly (the q112 capability, deployed)") {
    import graft.operators.QualityModel
    val root = Files.createTempDirectory("curate_langid")
    val landing = root.resolve("landing")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // labeled seed set trained OFFLINE (the QualityModelSpec fixture),
    // persisted, loaded once by the stream — the fastText deployment shape
    val train = Seq(
      ("en", "the children were running quickly through the winding streets"),
      ("en", "a bright morning sun is shining over the green hills"),
      ("en", "reading books and writing letters is a quiet evening pleasure"),
      ("en", "travelers walking along the river watched the boats drifting"),
      ("es", "el perro corre por la calle cada manana muy temprano"),
      ("es", "las montanas estaban cubiertas de nieve blanca brillante"),
      ("es", "los ninos cantaban canciones alegres durante la celebracion"),
      ("es", "caminando despacio llegamos hasta la orilla del rio"))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, t, l) }
      .toDF("doc_id", "text", "lang")
    val model = QualityModel.trainLangId(train, "doc_id", "text", "lang",
      Seq("en", "es"), bits = 10, seed = "spec-stream-langid",
      epochs = 8, charN = 3)
    val langIdPath = s"$root/langid_artifact"
    QualityModel.saveLangId(spark, model, langIdPath)

    // day-2 batch: marker-free Spanish (the q36 argmax sees no marker
    // words and falls to its 'en' tie-break — fixture-checked) plus
    // fluent English; allow-list = en only
    val enDoc = "children playing outside were singing cheerful songs together"
    val esDoc = "corriendo rapidamente cruzaron aquellas calles estrechas anoche"
    assert(Seq((1L, esDoc)).toDF("doc_id", "text")
      .select(graft.functions.TextFns.langPredict(col("text")))
      .as[String].head() == "en",
      "fixture: the marker argmax must NOT see the Spanish doc")
    write(landing, "b1.csv", s"doc_id,text\n1,$enDoc\n2,$esDoc\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      s"$root/index", s"$root/curated", s"$root/rejects", s"$root/ckpt",
      minTokens = 5L, maxBucketSize = Int.MaxValue,
      langAllow = Seq("en"), langIdPath = langIdPath)
      .awaitTermination()
    assert(spark.read.parquet(s"$root/curated").select("doc_id")
      .as[Long].collect().toSet == Set(1L),
      "English doc must survive the trained language gate")
    assert(spark.read.parquet(s"$root/rejects")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toMap
      == Map(2L -> "wrong_language"),
      "marker-free Spanish must drop as wrong_language under the TRAINED gate")
    // kept docs carry the lang audit column
    assert(spark.read.parquet(s"$root/curated")
      .select("lang").as[String].head() == "en")
    // guard: a model path without the gate it acts through is a config bug
    val e = intercept[IllegalArgumentException] {
      StreamingIngest.curateStream(spark, stream, "doc_id", "text",
        s"$root/index2", s"$root/curated2", s"$root/rejects2", s"$root/ckpt2",
        langIdPath = langIdPath)
    }
    assert(e.getMessage.contains("langAllow"))
    // guard: allow-list outside the model's label space fails at startup
    val e2 = intercept[IllegalArgumentException] {
      StreamingIngest.curateStream(spark, stream, "doc_id", "text",
        s"$root/index3", s"$root/curated3", s"$root/rejects3", s"$root/ckpt3",
        langAllow = Seq("en", "fr"), langIdPath = langIdPath)
    }
    assert(e2.getMessage.contains("fr"))
  }

  test("curateStream BM25-index mode: the streaming retrieval index " +
      "holds exactly the KEPT docs (rejects never enter), equals a full " +
      "rebuild over the curated lake, and a replayed batch leaves it " +
      "unchanged") {
    import graft.operators.CorpusStats
    val root = Files.createTempDirectory("curate_bm25")
    val landing = root.resolve("landing")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val keptText = "a perfectly ordinary document about merge and scan work"
    write(landing, "b1.csv",
      s"doc_id,text\n1,$keptText\n2,too short\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    val idxPath = s"$root/bm25"
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      s"$root/index", s"$root/curated", s"$root/rejects", s"$root/ckpt",
      minTokens = 5L, maxBucketSize = Int.MaxValue,
      bm25IndexPath = idxPath)
      .awaitTermination()
    val idx = CorpusStats.bm25LoadParts(spark, idxPath)
    assert(idx.nDocs == 1L, "only the kept doc enters the retrieval index")
    val curated = spark.read.parquet(s"$root/curated")
      .select("doc_id", "text")
    val rebuilt = CorpusStats.bm25BuildIndex(curated, "doc_id", "text")
    assert(idx.sumDl == rebuilt.sumDl)
    assert(idx.df.orderBy("tok").as[(String, Long)].collect().toSeq ==
      rebuilt.df.orderBy("tok").as[(String, Long)].collect().toSeq)
    // the loaded index serves queries over the curated lake
    val hits = CorpusStats.bm25TopKIndexed(curated, "doc_id", "text",
      Seq("merge"), idx, topK = 5).select("doc_id").as[Long].collect().toSeq
    assert(hits == Seq(1L))
    // replay batch 0 directly (the post-crash path): index unchanged
    val batch = Seq((1L, keptText), (2L, "too short")).toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, batch, batchId = 0L,
      "doc_id", "text", s"$root/index", s"$root/curated", s"$root/rejects",
      minTokens = 5L, maxBucketSize = Int.MaxValue,
      bm25IndexPath = idxPath)
    val replayed = CorpusStats.bm25LoadParts(spark, idxPath)
    assert(replayed.nDocs == 1L && replayed.sumDl == idx.sumDl)
  }

  test("curateStream tokenizer mode: token-denominated gates, per-batch " +
      "packed marked-id shards, day-2 unseen alphabet, replay idempotent") {
    import graft.functions.{Bpe, TextFns}
    val root = Files.createTempDirectory("curate_tok")
    val landing = root.resolve("landing")
    val (indexPath, curatedPath, rejectsPath, packedPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects", s"$root/packed")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // offline train-once: the artifact a production stream would load
    // (CorpusPipeline's tokenizer stage shape — MARKED + byte fallback)
    val trainCorpus = Seq(
      (1L, "the cat chased the other cat near the heated hearth"),
      (2L, "the hat that the cat had was the best hat ever made"),
      (3L, "each cheat sheet teaches the arcane art of the trade"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(trainCorpus, "text", 8, 2L)
    assert(merges.nonEmpty)
    val vocab = Bpe.vocabMarkedBytes(trainCorpus, "text", merges)
    Bpe.saveTokenizer(spark, merges, vocab, s"$root/tok", Bpe.ModelWordMarked)

    def drain(): Unit = {
      val stream = spark.readStream.schema(docSchema)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(landing.toString)
      StreamingIngest.curateStream(spark, stream, "doc_id", "text",
        indexPath, curatedPath, rejectsPath, s"$root/ckpt",
        minTokens = 8L, maxBucketSize = Int.MaxValue,
        tokenizerPath = s"$root/tok", packedIdsPath = packedPath,
        seqLen = 16L).awaitTermination()
    }

    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    write(landing, "b1.csv", s"doc_id,text\n1,$a\n2,$b\n3,tiny doc\n")
    drain()
    // gates are BPE-denominated: curated n_tokens equals the artifact's
    // token count, and differs from whitespace words somewhere (the
    // tokenizer splits out-of-corpus words into pieces)
    val cur1 = spark.read.parquet(curatedPath)
    assert(cur1.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(cur1.filter(Bpe.tokenCount(col("text"), merges) =!= col("n_tokens"))
      .count() == 0, "n_tokens is not tokenizer-denominated")
    assert(cur1.filter(TextFns.tokenCount(col("text")).cast("long")
      =!= col("n_tokens")).count() > 0,
      "BPE and word counts coincide — the denomination test is vacuous")

    // day-2 batch: unseen alphabet (accents, CJK, astral emoji) must
    // tokenize through the byte fallback, not kill the trigger
    val d2 = "a fresh día with zürich 中文 notes and " +
      new String(Character.toChars(0x1F600)) + " emoji reactions all around"
    write(landing, "b2.csv", s"doc_id,text\n9,$d2\n")
    drain()
    assert(spark.read.parquet(curatedPath).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 9L))

    // the packed training shards: per-batch sequences whose concatenated
    // stream equals the kept docs' marked ids in doc order, and whose
    // decode reconstructs every document's word-model text
    val packed = spark.read.parquet(packedPath)
      .select("batch_id", "seq_id", "token_ids")
      .as[(Long, Long, Seq[Int])].collect().sortBy(p => (p._1, p._2))
    assert(packed.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L))
    for (bid <- Seq(0L, 1L)) {
      val stream = packed.filter(_._1 == bid).flatMap(_._3).toSeq
      val expect = spark.read.parquet(curatedPath)
        .filter(col("batch_id") === bid).orderBy("doc_id")
        .select(Bpe.tokenIdsMarked(col("text"), merges, vocab))
        .as[Seq[Int]].collect().toSeq.flatten
      assert(stream == expect, s"batch $bid packed stream diverged")
    }
    // full-shard invariant within each batch (ragged tail only at the end)
    packed.groupBy(_._1).foreach { case (_, seqs) =>
      seqs.sortBy(_._2).dropRight(1).foreach(s => assert(s._3.size == 16))
    }

    // replay of batch 1 (same content, same batchId): identical packed
    // partition — no duplicated or reordered sequences
    val batch2 = Seq((9L, d2)).toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, batch2, batchId = 1L,
      "doc_id", "text", indexPath, curatedPath, rejectsPath,
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      tokenizer = Some(graft.functions.Tokenizers.BpeTok(
        Bpe.Tokenizer(merges, vocab, Bpe.ModelWordMarked))),
      packedIdsPath = packedPath,
      seqLen = 16L)
    val replayed = spark.read.parquet(packedPath)
      .select("batch_id", "seq_id", "token_ids")
      .as[(Long, Long, Seq[Int])].collect().sortBy(p => (p._1, p._2))
    assert(replayed.toSeq == packed.toSeq, "replay changed the packed shards")
    // decode of the CONCATENATED batch stream (sequences may split a
    // word or byte run at the boundary — decode is defined over the
    // reassembled stream) proves the shards are a faithful training file
    val ids1 = replayed.filter(_._1 == 1L).flatMap(_._3).toSeq
    val decoded = Seq(Tuple1(ids1)).toDF("ids")
      .select(Bpe.decodeIds(col("ids"), vocab)).as[String].head
    assert(decoded == spark.read.parquet(curatedPath)
      .filter(col("batch_id") === 1L)
      .select(concat_ws(" ", Bpe.words(col("text")))).as[String].head,
      s"decoded batch-1 stream diverged: '$decoded'")
  }

  test("curateStream FAITHFUL tokenizer mode: packed shards decode to the " +
      "EXACT curated batch text (case, whitespace, day-2 bytes)") {
    import graft.functions.Bpe
    val root = Files.createTempDirectory("curate_tok_f")
    val landing = root.resolve("landing")
    val (indexPath, curatedPath, rejectsPath, packedPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects", s"$root/packed")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // offline train-once, FAITHFUL model, unified artifact with meta tag
    val trainCorpus = Seq(
      (1L, "The cat chased the Other cat near the heated hearth"),
      (2L, "the Hat that the cat had was the best hat ever made"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(trainCorpus, "text", 8, 2L, faithful = true)
    val vocab = Bpe.vocabBytesFrom(
      Bpe.vocab(trainCorpus, "text", merges, faithful = true))
    Bpe.saveTokenizer(spark, merges, vocab, s"$root/tok", Bpe.ModelFaithful)

    // one batch with mixed case + a day-2 code point (byte fallback)
    val d = "The Quick brown FOX likes the caffè and jumps the lazy stream"
    write(landing, "b1.csv", s"doc_id,text\n1,$d\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      indexPath, curatedPath, rejectsPath, s"$root/ckpt",
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      tokenizerPath = s"$root/tok", packedIdsPath = packedPath,
      seqLen = 16L).awaitTermination()

    val curated = spark.read.parquet(curatedPath)
    assert(curated.count() == 1L)
    // the shard stream decodes to the EXACT curated text — the faithful
    // contract, not the word model (text passed cleanText, so compare
    // against the curated text column)
    val ids = spark.read.parquet(packedPath)
      .orderBy("seq_id").select("token_ids")
      .as[Seq[Int]].collect().toSeq.flatten
    val decoded = Seq(Tuple1(ids)).toDF("ids")
      .select(Bpe.decodeIdsFlat(col("ids"), vocab)).as[String].head
    val exact = curated.select(col("text")).as[String].head
    assert(decoded == exact, s"faithful shard decode diverged: '$decoded'")
    assert(exact.contains("The Quick") && exact.contains("caffè"),
      "fixture lost the case/byte content the test exists to pin")
  }

  test("curateStream UNIGRAM tokenizer mode (r16 verdict #1): a stream " +
      "points at a pipeline-trained unigram artifact; day-2 unseen " +
      "alphabet tokenizes via byte fallback and the packed shards decode " +
      "to the word-model text") {
    import graft.functions.{Bpe, Tokenizers, UnigramLm}
    val root = Files.createTempDirectory("curate_tok_u")
    val landing = root.resolve("landing")
    val (indexPath, curatedPath, rejectsPath, packedPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects", s"$root/packed")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    // offline train-once: the unigram artifact (the CorpusPipeline
    // tokenizer-stage layout — a stream points straight at it)
    val trainCorpus = Seq(
      (1L, "the cat chased the other cat near the heated hearth"),
      (2L, "the hat that the cat had was the best hat ever made"))
      .toDF("doc_id", "text")
    val model = UnigramLm.train(trainCorpus, "text", seedSize = 80,
      vocabSize = 40, emRounds = 2)
    UnigramLm.save(spark, model, s"$root/tok")

    // day-2 batch: mixed case + unseen alphabet (accents, CJK, astral
    // emoji) — must tokenize through the byte fallback, not emit -1
    // (Packer would kill the trigger loudly on a sentinel now)
    val d2 = "The Cat chased zürich 中文 " +
      new String(Character.toChars(0x1F600)) +
      " hats near the heated hearth all day"
    write(landing, "b1.csv", s"doc_id,text\n9,$d2\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      indexPath, curatedPath, rejectsPath, s"$root/ckpt",
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      tokenizerPath = s"$root/tok", packedIdsPath = packedPath,
      seqLen = 16L).awaitTermination()

    val curated = spark.read.parquet(curatedPath)
    assert(curated.count() == 1L)
    // n_tokens is PIECE-denominated (the artifact's unit)
    val tok = Tokenizers.load(spark, s"$root/tok")
    assert(tok.family == "unigram")
    val nExpect = curated.select(
      UnigramLm.pieceCount(col("text"), model)).as[Long].head
    assert(curated.select(col("n_tokens")).as[Long].head == nExpect)
    // the packed shard stream: non-negative ids, decodes to the curated
    // batch's word-model text through the loaded artifact
    val ids = spark.read.parquet(packedPath)
      .orderBy("seq_id").select("token_ids")
      .as[Seq[Int]].collect().toSeq.flatten
    assert(ids.nonEmpty && ids.forall(_ >= 0),
      "a unigram training file must never carry sentinel ids")
    val decoded = Seq(Tuple1(ids)).toDF("ids")
      .select(tok.decodeIds(col("ids"))).as[String].head
    val wordText = curated
      .select(concat_ws(" ", Bpe.words(col("text")))).as[String].head
    assert(decoded == wordText,
      s"unigram shard decode diverged: '$decoded' vs '$wordText'")
    assert(wordText.contains("zürich") && wordText.contains("中文"),
      "fixture lost the day-2 alphabet the test exists to pin")
  }

  test("curateStream FAITHFUL unigram mode (r17 q138): the packed " +
      "shards decode to the EXACT day-2 batch text — case, whitespace, " +
      "unseen alphabet — through the loaded artifact") {
    import graft.functions.{Tokenizers, UnigramLm}
    val root = Files.createTempDirectory("curate_tok_uf")
    val landing = root.resolve("landing")
    val (indexPath, curatedPath, rejectsPath, packedPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects", s"$root/packed")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val trainCorpus = Seq(
      (1L, "The cat chased the Other cat near the heated hearth"),
      (2L, "the Hat that the cat had was the best hat ever made"))
      .toDF("doc_id", "text")
    val model = UnigramLm.train(trainCorpus, "text", seedSize = 80,
      vocabSize = 40, emRounds = 2, faithful = true)
    UnigramLm.save(spark, model, s"$root/tok")

    val d2 = "The Quick brown FOX visits zürich 中文 and naps by the hearth"
    write(landing, "b1.csv", s"doc_id,text\n9,$d2\n")
    val stream = spark.readStream.schema(docSchema)
      .option("header", "true").option("maxFilesPerTrigger", 1)
      .csv(landing.toString)
    StreamingIngest.curateStream(spark, stream, "doc_id", "text",
      indexPath, curatedPath, rejectsPath, s"$root/ckpt",
      minTokens = 8L, maxBucketSize = Int.MaxValue,
      tokenizerPath = s"$root/tok", packedIdsPath = packedPath,
      seqLen = 16L).awaitTermination()

    val curated = spark.read.parquet(curatedPath)
    assert(curated.count() == 1L)
    val tok = Tokenizers.load(spark, s"$root/tok")
    assert(tok.asInstanceOf[Tokenizers.UnigramTok].model.faithful)
    val ids = spark.read.parquet(packedPath)
      .orderBy("seq_id").select("token_ids")
      .as[Seq[Int]].collect().toSeq.flatten
    assert(ids.nonEmpty && ids.forall(_ >= 0))
    val decoded = Seq(Tuple1(ids)).toDF("ids")
      .select(tok.decodeIds(col("ids"))).as[String].head
    // the faithful contract: EXACT curated text (post-cleanText), not
    // the word model
    val exact = curated.select(col("text")).as[String].head
    assert(decoded == exact, s"faithful unigram shard decode: '$decoded'")
    assert(exact.contains("The Quick") && exact.contains("zürich"),
      "fixture lost the case/alphabet content the test exists to pin")
  }

  test("curateStream compactEvery: identical curated/rejects/index rows, fewer index files, replay boundaries intact") {
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val texts = (0 until 12).map {
      case 4 => "tiny" // one reject per run keeps the rejects lake non-empty
      case i =>
        s"document number $i with its own distinct words about topic_$i and " +
          s"subject_${i * 7} plus filler tokens to clear the gate"
    }
    def run(compactEvery: Int): (Set[Long], Set[(Long, String)], Set[Long], Int, String) = {
      val root = Files.createTempDirectory(s"curatec$compactEvery")
      val landing = root.resolve("landing")
      // 4 single-file batches of 3 docs each
      (0 until 4).foreach { b =>
        val rows = (0 until 3).map(j => s"${b * 3 + j},${texts(b * 3 + j)}")
        write(landing, f"b$b%02d.csv", "doc_id,text\n" + rows.mkString("\n") + "\n")
      }
      val stream = spark.readStream.schema(docSchema)
        .option("header", "true").option("maxFilesPerTrigger", 1)
        .csv(landing.toString)
      StreamingIngest.curateStream(spark, stream, "doc_id", "text",
        s"$root/index", s"$root/curated", s"$root/rejects", s"$root/ckpt",
        minTokens = 8L, maxBucketSize = Int.MaxValue,
        compactEvery = compactEvery)
        .awaitTermination()
      val curated = spark.read.parquet(s"$root/curated")
        .select("doc_id").as[Long].collect().toSet
      val rejects = spark.read.parquet(s"$root/rejects")
        .select("doc_id", "drop_reason").as[(Long, String)].collect().toSet
      val index = spark.read.parquet(s"$root/index")
        .select("doc_id").as[Long].collect().toSet
      val fs = new org.apache.hadoop.fs.Path(s"$root/index")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(s"$root/index"), true)
      var nFiles = 0
      while (it.hasNext) { if (it.next().getPath.getName.startsWith("part-")) nFiles += 1 }
      (curated, rejects, index, nFiles, s"$root/index")
    }
    val (c0, r0, i0, f0, _) = run(compactEvery = 0)
    val (c1, r1, i1, f1, idxPath) = run(compactEvery = 2)
    assert(c1 == c0 && r1 == r0 && i1 == i0,
      s"compaction changed results: curated $c1 vs $c0, rejects $r1 vs $r0, index $i1 vs $i0")
    // tiny single-task batches already write 1 file/partition, so equality
    // is possible here; the file-REDUCTION behavior is pinned by
    // CompactionSpec — this test pins result-invariance in the loop
    assert(f1 <= f0, s"compaction grew index files: $f1 vs $f0")
    // partition dirs (the replay overwrite boundaries) survive compaction
    val dirs = new java.io.File(idxPath).listFiles().map(_.getName)
      .filter(_.startsWith("batch_id=")).toSet
    assert(dirs == (0 until 4).map(b => s"batch_id=$b").toSet, s"partitions: $dirs")
  }

  test("curateBatch survives a fully-rejected FIRST batch (empty sinks create fileless dirs, not a readable index)") {
    val root = Files.createTempDirectory("curatefr")
    val (indexPath, curatedPath, rejectsPath) =
      (s"$root/index", s"$root/curated", s"$root/rejects")
    // batch 0: everything fails the gate -> curated/index/sidecar sinks
    // all write EMPTY partitions (dir + _SUCCESS, zero part files)
    val b0 = Seq((1L, "tiny"), (2L, "also tiny")).toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, b0, batchId = 0L,
      "doc_id", "text", indexPath, curatedPath, rejectsPath, minTokens = 8L)
    // batch 1 must read those fileless dirs as "no index yet", not crash
    // schema inference, and proceed normally
    val ok = "a perfectly ordinary document with enough words to clear the gate"
    val b1 = Seq((3L, ok), (4L, ok.replace("ordinary", "unusual"))).toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, b1, batchId = 1L,
      "doc_id", "text", indexPath, curatedPath, rejectsPath,
      minTokens = 8L, maxBucketSize = Int.MaxValue)
    assert(spark.read.parquet(curatedPath).select("doc_id")
      .as[Long].collect().toSet == Set(3L), "3 kept, 4 its near-dup")
    assert(spark.read.parquet(rejectsPath).select("doc_id", "drop_reason")
      .as[(Long, String)].collect().toMap ==
      Map(1L -> "too_short", 2L -> "too_short", 4L -> "near_duplicate"))
    assert(spark.read.parquet(indexPath).select("doc_id")
      .as[Long].collect().toSet == Set(3L))
    // and batch 2 probes the now-real index + sidecar
    val b2 = Seq((5L, ok.replace("gate", "bar"))).toDF("doc_id", "text")
    StreamingIngest.curateBatch(spark, b2, batchId = 2L,
      "doc_id", "text", indexPath, curatedPath, rejectsPath,
      minTokens = 8L, maxBucketSize = Int.MaxValue)
    assert(spark.read.parquet(rejectsPath)
      .filter(col("doc_id") === 5L).select("drop_reason")
      .as[String].collect().toSeq == Seq("near_duplicate"),
      "batch 2 must dedup against the history index")
  }

  test("incrementalDedupStream writes curateBatch's index layout: the " +
      "sidecar holds each batch's band buckets, and curation dedups against it") {
    val root = Files.createTempDirectory("incdedupsc")
    val landing = root.resolve("landing")
    val indexPath = s"$root/index"
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def drain(): Unit =
      StreamingIngest.incrementalDedupStream(spark,
        spark.readStream.schema(docSchema).option("header", "true")
          .option("maxFilesPerTrigger", 1).csv(landing.toString),
        "doc_id", "text", indexPath, s"$root/pairs", s"$root/ckpt",
        maxBucketSize = Int.MaxValue).awaitTermination()
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    val b = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    write(landing, "b1.csv", s"doc_id,text\n1,$a\n2,$b\n")
    drain()
    val docs2 = Seq(5L -> b, 6L -> b.replace("mu", "nu"), 7L -> a.replace("dog", "cat"))
    write(landing, "b2.csv",
      docs2.map { case (i, t) => s"$i,$t\n" }.mkString("doc_id,text\n", "", ""))
    drain()
    // the same-batchId replay of batch 2, whose appends already landed
    StreamingIngest.incrementalDedupBatch(spark, docs2.toDF("doc_id", "text"),
      batchId = 1L, "doc_id", "text", indexPath, s"$root/pairs", numHashes = 64,
      bands = 32, shingleN = 3, threshold = 0.5, maxBucketSize = Int.MaxValue)

    val index = spark.read.parquet(indexPath)
    assert(index.select("batch_id", "doc_id").as[(Long, Long)].collect().toSet ==
      Set((0L, 1L), (0L, 2L), (1L, 5L), (1L, 6L), (1L, 7L)))
    val expected = graft.operators.Dedup.bandBuckets(index, "doc_id", 32, 64)
      .join(index.select("doc_id", "batch_id"), "doc_id")
    def rows(df: DataFrame): Seq[(Long, Int, Long, Long)] =
      df.select(col("batch_id"), col("band"), col("bucket"), col("doc_id"))
        .as[(Long, Int, Long, Long)].collect().toSeq.sorted
    val sidecar = rows(spark.read.parquet(StreamingIngest.bucketsPath(indexPath)))
    assert(sidecar.nonEmpty && sidecar == rows(expected))

    // curation continues the dedup loop's index
    StreamingIngest.curateBatch(spark,
      Seq((9L, a.replace("bank", "shore"))).toDF("doc_id", "text"),
      batchId = 2L, "doc_id", "text", indexPath, s"$root/curated",
      s"$root/rejects", minTokens = 8L, maxBucketSize = Int.MaxValue)
    assert(spark.read.parquet(s"$root/rejects")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toSeq ==
      Seq(9L -> "near_duplicate"))
  }

  test("curateStream heals a partition stranded by a compaction crash even " +
      "with compaction off") {
    val root = Files.createTempDirectory("curaterec")
    val landing = root.resolve("landing")
    val indexPath = s"$root/index"
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def drain(): Unit =
      StreamingIngest.curateStream(spark,
        spark.readStream.schema(docSchema).option("header", "true")
          .option("maxFilesPerTrigger", 1).csv(landing.toString),
        "doc_id", "text", indexPath, s"$root/curated", s"$root/rejects",
        s"$root/ckpt", minTokens = 8L, maxBucketSize = Int.MaxValue,
        compactEvery = 0).awaitTermination()
    val a = "the quick brown fox jumps over the lazy dog near the river bank"
    write(landing, "b0.csv", s"doc_id,text\n1,$a\n")
    drain()
    // a compaction pass crashed inside its marker swap: index partition 0
    // exists ONLY under the `__old` sibling
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new org.apache.hadoop.fs.Path(indexPath, "batch_id=0")
    val parked = new org.apache.hadoop.fs.Path(indexPath + "__old", "batch_id=0")
    fs.mkdirs(parked.getParent)
    assert(fs.rename(part, parked))
    val marker = fs.create(new org.apache.hadoop.fs.Path(indexPath + "__swap"), true)
    marker.write("batch_id=0".getBytes("UTF-8")); marker.close()

    // the restart runs with compaction off; its batch holds a near-dup of
    // the stranded partition's doc
    write(landing, "b1.csv", s"doc_id,text\n7,${a.replace("dog", "cat")}\n")
    drain()
    assert(spark.read.parquet(s"$root/curated").select("doc_id")
      .as[Long].collect().toSeq == Seq(1L))
    assert(spark.read.parquet(s"$root/rejects")
      .select("doc_id", "drop_reason").as[(Long, String)].collect().toSeq ==
      Seq(7L -> "near_duplicate"))
    assert(fs.exists(part) && !fs.exists(parked.getParent))
  }

  test("dedupWithinWatermark drops redelivered keys via bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("wmdedup")
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val t0 = java.sql.Timestamp.valueOf("2024-05-01 10:00:00")
    def ts(min: Int) = java.sql.Timestamp.valueOf(s"2024-05-01 10:${"%02d".format(min)}:00")
    // duplicate deliveries of AAA within the horizon + a distinct BBB
    input.addData(("AAA", t0, 10.0), ("AAA", ts(1), 10.0), ("BBB", ts(2), 20.0),
      ("AAA", ts(3), 10.0))
    val deduped = StreamingIngest.dedupWithinWatermark(
      input.toDF().toDF("ticker", "ts", "price"),
      keys = Seq("ticker"), tsCol = "ts", watermark = "10 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("wm_dedup").outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("wm_dedup").orderBy("ticker")
      .select("ticker").as[String].collect().toSeq
    assert(got == Seq("AAA", "BBB"), s"duplicates within watermark must drop: $got")
  }

  test("changeDetect keeps per-key hash state across micro-batches (flatMapGroupsWithState)") {
    import StreamingIngest.KeyedRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("cd")
    val input = MemoryStream[KeyedRow]
    // AvailableNow runs, NOT processAllAvailable: with ProcessingTimeTimeout
    // armed, a default-trigger query schedules empty timeout-check batches
    // forever and processAllAvailable never settles
    def drain(): Unit = {
      val q = StreamingIngest.changeDetect(spark, input.toDS())
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two fresh keys -> two inserts
    input.addData(KeyedRow("AAA", "h1"), KeyedRow("BBB", "h2"))
    drain()
    // batch 2: AAA changed, BBB replayed unchanged -> one update, no no-op
    // row; state survives the restart via the checkpointed state store
    input.addData(KeyedRow("AAA", "h1b"), KeyedRow("BBB", "h2"))
    drain()
    val out = spark.read.parquet(s"$root/out")
      .select("key", "row_hash", "change_type", "changes")
      .as[(String, String, String, Long)].collect().toSeq.sorted
    assert(out == Seq(
      ("AAA", "h1", "insert", 0L),
      ("AAA", "h1b", "update", 1L),
      ("BBB", "h2", "insert", 0L)))
  }

  test("changeDetectTws (transformWithState + RocksDB) matches the fMGWS semantics") {
    import StreamingIngest.KeyedRow
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("cdtws")
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[KeyedRow]
      def drain(): Unit = {
        val q = StreamingIngest.changeDetectTws(spark, input.toDS())
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      input.addData(KeyedRow("AAA", "h1"), KeyedRow("BBB", "h2"))
      drain()
      input.addData(KeyedRow("AAA", "h1b"), KeyedRow("BBB", "h2"))
      drain()
      val out = spark.read.parquet(s"$root/out")
        .select("key", "row_hash", "change_type", "changes")
        .as[(String, String, String, Long)].collect().toSeq.sorted
      assert(out == Seq(
        ("AAA", "h1", "insert", 0L),
        ("AAA", "h1b", "update", 1L),
        ("BBB", "h2", "insert", 0L)))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("windowedCounts is a valid streaming plan and matches batch semantics") {
    // semantic check runs the same expression in batch mode
    val events = Seq(
      ("2024-05-01 10:05:00", "click", 1.0),
      ("2024-05-01 10:20:00", "click", 2.0),
      ("2024-05-01 11:05:00", "view", 3.0))
      .toDF("ts", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val out = StreamingIngest.windowedCounts(events, "ts", "1 hour", "1 hour")
      .orderBy("ws", "event_type")
      .select(col("ws").cast("string"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect().toSeq
    assert(out == Seq(
      ("2024-05-01 10:00:00", "click", 2L),
      ("2024-05-01 11:00:00", "view", 1L)))
  }

  test("sessionized (session_window) matches the batch sessionization of q32") {
    val events = Seq(
      (1L, "2024-05-01 10:00:00"), (1L, "2024-05-01 10:10:00"), // session 1
      (1L, "2024-05-01 11:30:00"),                              // session 2
      (2L, "2024-05-01 09:00:00"))
      .toDF("user_id", "ts").withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", lit(1.0))
    val out = StreamingIngest.sessionized(events, "ts", "1 hour", "30 minutes")
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }
}

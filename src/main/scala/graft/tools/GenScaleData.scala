package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for scale-factor-shaped test data BEYOND the read-only
  * `/root/testdata` (which tops out at sf0.1): same 10 tables, same schemas
  * and dtypes, same value distributions (measured off sf0.1), at any sf —
  * the input for the SCALING_r06 slope measurements.
  *
  * Fully deterministic and fully distributed: every value is a pure
  * function of (table, column, row id, seed 42) through xxhash64 — no RNG
  * state, no driver-side data, so the same sf generates bit-identical
  * tables at any parallelism, and generating sf1000 would be the same
  * code on a real cluster (spark.range parallelizes; every column expr is
  * codegen'd).
  *
  * Usage: runMain graft.tools.GenScaleData <outDir> <sf> [<sf2> ...]
  * Row counts scale linearly off the sf0.1 shape (documents/embeddings
  * floored at 500 like the driver's own small SFs).
  */
object GenScaleData {

  private val Seed = 42L

  /** Independent hash stream per (tag, key columns). */
  private def h(tag: String, cs: Column*): Column =
    xxhash64((lit(tag) +: cs :+ lit(Seed)): _*)
  private def pm(c: Column, m: Long): Column = pmod(c, lit(m))
  /** Uniform [0,1) off a hash stream. */
  private def u(tag: String, cs: Column*): Column =
    pm(h(tag, cs: _*), 1000000L).cast("double") / 1e6
  private def pick(opts: Seq[String], tag: String, cs: Column*): Column =
    element_at(array(opts.map(lit): _*),
      (pm(h(tag, cs: _*), opts.size.toLong) + 1).cast("int"))

  private def ids(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).toDF("id")

  // 1995-01-01 / 1995-01-02 / 2024-01-01 midnights UTC
  private val OrderEpoch = 788918400L
  private val ShipEpoch  = 789004800L
  private val EventEpochUs = 1704067200000000L

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  def customer(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pm(h("c_nat", col("id")), 25L).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + u("c_bal", col("id")) * 11000.0, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"),
        "c_seg", col("id")).as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pm(h("s_nat", col("id")), 25L).cast("int").as("s_nationkey"),
      round(u("s_bal", col("id")) * 9999.0, 2).as("s_acctbal"))

  def part(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("p_partkey"),
      concat_ws(" ",
        pick(Seq("large", "small", "hot", "cold", "blue", "red", "green",
          "plated", "brushed", "polished"), "p_adj", col("id")),
        pick(Seq("ring", "bolt", "washer", "gear", "cog", "pin", "plate",
          "rod", "wheel", "spring"), "p_noun", col("id"))).as("p_name"),
      concat(lit("Brand#"), (pm(h("p_brand", col("id")), 25L) + 1).cast("string"))
        .as("p_brand"),
      pick(Seq("LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO", "ECONOMY"),
        "p_type", col("id")).as("p_type"),
      (pm(h("p_size", col("id")), 50L) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pm(h("p_rp", col("id")), 1000L).cast("double") / 10.0, 1)
        .as("p_retailprice"))

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("o_orderkey"),
      pm(h("o_cust", col("id")), nCust).as("o_custkey"),
      pick(Seq("O", "P", "F"), "o_stat", col("id")).as("o_orderstatus"),
      round(lit(1000.0) + u("o_tot", col("id")) * 499000.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(OrderEpoch) +
        pm(h("o_date", col("id")), 2404L) * 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        "o_prio", col("id")).as("o_orderpriority"))

  /** l_orderkey hashed over orders (not id div 4): lines-per-order becomes
    * ~Poisson(4) with natural duplicate (l_orderkey, l_linenumber) pairs
    * carrying distinct payloads — the same degeneracy the driver's data
    * has (FIXTURES/TESTDATA) and the queries' total ORDER BYs exist for. */
  def lineitem(spark: SparkSession, n: Long, nOrders: Long, nPart: Long,
               nSupp: Long): DataFrame =
    ids(spark, n).select(
      pm(h("l_ord", col("id")), nOrders).as("l_orderkey"),
      pm(h("l_part", col("id")), nPart).as("l_partkey"),
      pm(h("l_supp", col("id")), nSupp).as("l_suppkey"),
      (pm(h("l_ln", col("id")), 7L) + 1).cast("int").as("l_linenumber"),
      (pm(h("l_qty", col("id")), 50L) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + u("l_ep", col("id")) * 104100.0, 2).as("l_extendedprice"),
      (pm(h("l_disc", col("id")), 11L).cast("double") / 100.0).as("l_discount"),
      (pm(h("l_tax", col("id")), 9L).cast("double") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), "l_rf", col("id")).as("l_returnflag"),
      pick(Seq("O", "F"), "l_ls", col("id")).as("l_linestatus"),
      timestamp_seconds(lit(ShipEpoch) +
        pm(h("l_ship", col("id")), 2498L) * 86400L).as("l_shipdate"))

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(EventEpochUs) +
        pm(h("e_ts", col("id")), 30L * 86400L * 1000000L)).as("ts"),
      pm(h("e_user", col("id")), nUsers).as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"),
        "e_type", col("id")).as("event_type"),
      round(u("e_v1", col("id")) * u("e_v2", col("id")) * 560.0, 2).as("value"),
      format_string("{\"k\": %d}", pm(h("e_k", col("id")), 100L)).as("props"))

  def documents(spark: SparkSession, n: Long): DataFrame = {
    // ~0.2% of docs replay the PREVIOUS doc's content seed -> exact dups
    // (what exact-dedup and the near-dup families chew on), without any
    // cross-row reference: text is a pure function of the content seed
    val seed0 = col("id")
    val contentSeed = when(
      pm(h("d_dup", seed0), 500L) === 0 && seed0 > 0, seed0 - 1).otherwise(seed0)
    val len = (pm(h("d_len", contentSeed), 100L) + 8).cast("int")
    val vocabArr = array(Vocab.map(lit): _*)
    val text = array_join(
      transform(sequence(lit(1), len), i =>
        element_at(vocabArr,
          (pm(h("d_w", contentSeed, i), Vocab.size.toLong) + 1).cast("int"))),
      " ")
    ids(spark, n).select(
      col("id").as("doc_id"),
      text.as("text"),
      // en 40%, zh/fr/es/de ~15% each (the sf0.1 mix)
      element_at(
        array((Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++ Seq.fill(3)("fr") ++
          Seq.fill(3)("es") ++ Seq.fill(3)("de")).map(lit): _*),
        (pm(h("d_lang", col("id")), 20L) + 1).cast("int")).as("lang"),
      concat(lit("src"), pm(h("d_src", col("id")), 20L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** [[documents]] with a PARAMETERIZED synthetic vocabulary ("w0".."wN-1"
    * via the same per-(seed,position) hash stream), same shape otherwise:
    * 8-108 words, ~0.2% adjacent exact-dup replays, 20-source mix. The
    * 31-word default corpus is deliberately low-entropy (it mirrors the
    * driver's testdata) — which makes minhash/LSH collision load grow with
    * corpus size by construction of the DATA (minhash concentrates on the
    * globally smallest common shingles). This variant generates
    * realistic-entropy text for the decomposition experiments that
    * separate operator scaling from that data artifact
    * (SCALING_r09 curate_steady_state / corpus_rich series). */
  def documentsVocab(spark: SparkSession, n: Long, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val seed0 = col("id")
    val contentSeed = when(
      pm(h("d_dup", seed0), 500L) === 0 && seed0 > 0, seed0 - 1).otherwise(seed0)
    val len = (pm(h("d_len", contentSeed), 100L) + 8).cast("int")
    val text = array_join(
      transform(sequence(lit(1), len), i =>
        concat(lit("w"), pm(h("d_w", contentSeed, i), vocabSize.toLong))),
      " ")
    ids(spark, n).select(
      col("id").as("doc_id"),
      text.as("text"),
      element_at(
        array((Seq.fill(8)("en") ++ Seq.fill(3)("zh") ++ Seq.fill(3)("fr") ++
          Seq.fill(3)("es") ++ Seq.fill(3)("de")).map(lit): _*),
        (pm(h("d_lang", col("id")), 20L) + 1).cast("int")).as("lang"),
      concat(lit("src"), pm(h("d_src", col("id")), 20L).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** A HEAPS-LAW corpus with real long-tail morphology — the regime the
    * 31-word/20k-vocab corpora cannot show (r13 verdict #4: the word
    * model saturates fertility 1.0 on them by whole-variant
    * memorization, hiding where faithful pre-tokenization wins).
    * Surface forms = Zipf-ish ROOT (2-4 deterministic syllables from a
    * fixed inventory, spelled identically at every occurrence) × a
    * skewed SUFFIX family (-s/-ed/-ing/-ly/-er/-tion/-ness) ×
    * capitalization (sentence-initial + ~1/9 random Initcap) ×
    * attached punctuation (~1/9 '.', ~1/13 ',') — hundreds of
    * thousands of distinct surface forms whose shared STEMS are
    * exactly what subword merges exist to exploit. Pure hash-stream
    * Column expressions (same 100 TB contract as the other
    * generators). */
  def documentsHeaps(spark: SparkSession, n: Long,
                     nRoots: Int = 6000): DataFrame = {
    val onsets = Seq("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
      "n", "p", "r", "s", "t", "v", "w", "z", "br", "ch", "cl", "dr",
      "fl", "gr", "pl", "pr", "sh", "sl", "st", "th", "tr")
    val nuclei = Seq("a", "e", "i", "o", "u", "ai", "ea", "ie", "oo", "ou")
    val codas = Seq("", "b", "ck", "d", "g", "l", "m", "n", "nd", "ng",
      "nt", "p", "r", "rd", "s", "st", "t", "x")
    def pickC(opts: Seq[String], tag: String, cs: Column*): Column =
      element_at(array(opts.map(lit): _*),
        (pm(h(tag, cs: _*), opts.size.toLong) + 1).cast("int"))
    // root spelling keyed by ROOT ID alone — every occurrence of root r
    // is the same string
    def rootStr(r: Column): Column = {
      val nSyl = (pm(h("hp_ns", r), 3L) + 2).cast("int") // 2-4 syllables
      array_join(transform(sequence(lit(1), nSyl), k =>
        concat(pickC(onsets, "hp_on", r, k), pickC(nuclei, "hp_nu", r, k),
          // inner syllables rarely take a coda (pronounceable stems);
          // the last one usually does
          when(k === nSyl, pickC(codas, "hp_co", r, k))
            .otherwise(when(pm(h("hp_ic", r, k), 3L) === 0,
              pickC(codas, "hp_co", r, k)).otherwise(lit(""))))), "")
    }
    val seed0 = col("id")
    val len = (pm(h("hp_len", seed0), 50L) + 30).cast("int") // 30-79 words
    val word = (i: Column) => {
      // Zipf-ish root: u^3 concentrates mass on low root ids
      val u = this.u("hp_r", seed0, i)
      val r = floor(u * u * u * nRoots).cast("long")
      val sfx = pm(h("hp_sfx", seed0, i), 100L)
      val suffix = when(sfx < 55, lit("")).when(sfx < 70, lit("s"))
        .when(sfx < 80, lit("ed")).when(sfx < 88, lit("ing"))
        .when(sfx < 93, lit("ly")).when(sfx < 97, lit("er"))
        .when(sfx < 99, lit("tion")).otherwise(lit("ness"))
      val base = concat(rootStr(r), suffix)
      val capped = when(i === 1 || pm(h("hp_cap", seed0, i), 9L) === 0,
        initcap(base)).otherwise(base)
      val punct = when(pm(h("hp_p", seed0, i), 9L) === 0, lit("."))
        .when(pm(h("hp_p", seed0, i), 13L) === 0, lit(","))
        .otherwise(lit(""))
      concat(capped, punct)
    }
    ids(spark, n).select(
      col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), len), word), " ").as("text"),
      concat(lit("src"), pm(h("hp_src", col("id")), 20L).cast("string"))
        .as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame =
    ids(spark, n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d =>
        ((pm(h("v", col("id"), d), 2000L) - 1000L).cast("double") / 2500.0)
          .cast("float")).as("embedding"),
      pm(h("v_label", col("id")), 10L).cast("int").as("label"))

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      pm(col("id"), 5L).cast("int").as("n_regionkey"))

  /** Writes all 10 tables at `sf`. `docVocab` picks the documents corpus:
    * a hashed synthetic vocabulary of that size (default 20000 — the
    * REALISTIC-ENTROPY corpus, the r10 sweep default: operator slopes
    * read on operator scaling by default), or 0 for the 31-word
    * testdata-mirror corpus (kept as the LABELED ADVERSARIAL case — its
    * shared-shingle degeneracy makes LSH collision load grow with corpus
    * size by construction of the data; measure it by exception, not by
    * default). */
  def writeAll(spark: SparkSession, outDir: String, sf: Double,
               docVocab: Int = 20000): Unit = {
    def rows(perSf1: Long, floor: Long = 0L): Long =
      math.max(floor, (perSf1 * sf).toLong)
    val nCust = rows(150000L)
    val nSupp = rows(10000L)
    val nPart = rows(200000L)
    val nOrd  = rows(1500000L)
    val nLine = rows(6000000L)
    val nEvt  = rows(1000000L)
    val nUsers = math.max(100L, (15000L * sf).toLong)
    val nDoc  = rows(50000L, 500L)
    val nEmb  = rows(20000L, 500L)
    def w(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[gen] $name -> $outDir/$name.parquet")
    }
    w(region(spark), "region")
    w(nation(spark), "nation")
    w(customer(spark, nCust), "customer")
    w(supplier(spark, nSupp), "supplier")
    w(part(spark, nPart), "part")
    w(orders(spark, nOrd, nCust), "orders")
    w(lineitem(spark, nLine, nOrd, nPart, nSupp), "lineitem")
    w(events(spark, nEvt, nUsers), "events")
    w(if (docVocab <= 0) documents(spark, nDoc)
      else documentsVocab(spark, nDoc, docVocab), "documents")
    w(embeddings(spark, nEmb), "embeddings")
    writeMeta(outDir, sf, docVocab, nDoc)
  }

  /** Generation-metadata sidecar: the r10 default-vocab change made
    * regenerating an existing sf dir silently produce a DIFFERENT corpus
    * than the one committed bench/correctness anchors were built from —
    * this file makes a stale-corpus comparison detectable (and records
    * which vocab a dir actually carries). */
  private def writeMeta(outDir: String, sf: Double, docVocab: Int,
                        nDoc: Long): Unit = {
    val meta = s"""{"generator":"GenScaleData","seed":$Seed,"sf":$sf,""" +
      s""""doc_vocab":$docVocab,"n_documents":$nDoc,""" +
      s""""corpus":"${if (docVocab <= 0) "testdata-mirror-31-word" else s"synthetic-vocab-$docVocab"}"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/_gen_meta.json"), meta + "\n")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: GenScaleData <outBase> [--vocab <V>] <sf> [<sf2> ...] (writes <outBase>/sf<sf>;\n" +
        "       documents vocab defaults to 20000 realistic-entropy, 0 = 31-word testdata mirror)\n" +
        "   or: GenScaleData <outBase> --docs-vocab <V> <sf> [<sf2> ...] " +
        "(documents-only, writes <outBase>/rich<sf>/ or v31-<sf>/ for V=0)")
    val outBase = args(0)
    val spark = graft.Graft.session("graft-gen-scale-data")
    if (args.lift(1).contains("--embs")) {
      // embeddings-only generation (the similarity-family sweep input):
      // --embs <sf> [<sf2> ...] writes <outBase>/emb<sf>/embeddings.parquet
      args.drop(2).foreach { sfs =>
        val n = math.max(500L, (20000L * sfs.toDouble).toLong)
        val dir = s"$outBase/emb$sfs"
        embeddings(spark, n)
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
        println(s"[gen] embeddings($n) -> $dir")
      }
    } else if (args.lift(1).contains("--heaps")) {
      // Heaps-law morphology corpus (documents-only): --heaps <nDocs>
      // writes <outBase>/heaps/documents.parquet
      val nDoc = args(2).toLong
      val dir = s"$outBase/heaps"
      documentsHeaps(spark, nDoc)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val forms = spark.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(col("text"), " ")).as("w"))
        .select(col("w")).distinct().count()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/_gen_meta.json"),
        s"""{"generator":"GenScaleData","seed":$Seed,"corpus":"heaps-morphology","n_documents":$nDoc,"n_surface_forms":$forms}\n""")
      println(s"[gen] documentsHeaps($nDoc) -> $dir (surface forms: $forms)")
    } else if (args.lift(1).contains("--docs-vocab")) {
      // documents-only generation into a named dir: --docs-vocab <V>
      // writes rich<sf>/ at vocab V, --docs-vocab 0 writes v31-<sf>/ with
      // the testdata-mirror corpus (the labeled adversarial case)
      val vocab = args(2).toInt
      args.drop(3).foreach { s =>
        val nDoc = math.max(500L, (50000L * s.toDouble).toLong)
        val dir = if (vocab <= 0) s"$outBase/v31-$s" else s"$outBase/rich$s"
        (if (vocab <= 0) documents(spark, nDoc)
         else documentsVocab(spark, nDoc, vocab))
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        writeMeta(dir, s.toDouble, vocab, nDoc)
        println(s"[gen] documents(vocab=$vocab) -> $dir/documents.parquet")
      }
    } else {
      // full-table generation; optional `--vocab <V>` overrides the
      // documents corpus (default 20000 realistic-entropy; 0 = 31-word)
      val (vocab, sfs) =
        if (args.lift(1).contains("--vocab")) (args(2).toInt, args.drop(3))
        else (20000, args.drop(1))
      sfs.foreach { s =>
        val sf = s.toDouble
        writeAll(spark, s"$outBase/sf$s", sf, vocab)
      }
    }
    spark.stop()
  }
}

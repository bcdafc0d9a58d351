package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class BpeSpec extends SparkSpec {
  import spark.implicits._

  // vocab: the:4, cat:1, hat:1, that:1 — greedy rounds are hand-derivable
  private lazy val docs = Seq(
    (1L, "the cat the hat"),
    (2L, "the the that")
  ).toDF("doc_id", "text")

  test("trainMerges matches hand-derived greedy merges and stops at minCount") {
    // r0: (t,h) the*4 + that*1 = 5; r1: (th,e) = 4; r2: (a,t) cat+hat+that = 3;
    // r3: best remaining pair count is 1 < minCount=2 -> stop early
    val got = Bpe.trainMerges(docs, "text", numMerges = 10, minCount = 2L)
    assert(got == Seq(
      Bpe.Merge(0, "t", "h", 5L),
      Bpe.Merge(1, "th", "e", 4L),
      Bpe.Merge(2, "a", "t", 3L)))
  }

  test("trainMerges tiebreak is deterministic: count desc, then (l, r) ascending") {
    // after the three merges above, round 3 candidates all have count 1:
    // (c,at), (h,at), (th,at) -> lexicographically smallest left wins
    val got = Bpe.trainMerges(docs, "text", numMerges = 4, minCount = 1L)
    assert(got.length == 4)
    assert(got(3) == Bpe.Merge(3, "c", "at", 1L))
    // repeated training is bit-identical (exact integer counts, total order)
    assert(Bpe.trainMerges(docs, "text", numMerges = 4, minCount = 1L) == got)
  }

  /** Textbook greedy BPE encode (lowest-rank PRESENT pair first, one
    * leftmost-nonoverlapping pass per pick) — deliberately a DIFFERENT
    * control flow from BpeKernel's rank-order chain, to pin the
    * equivalence the kernel scaladoc proves. */
  private def refEncode(word: String, merges: Seq[(String, String)]): Seq[String] = {
    val rank = merges.zipWithIndex.toMap
    var syms = word.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    var go = syms.length > 1
    while (go) {
      val present = syms.zip(syms.tail).filter(rank.contains)
      if (present.isEmpty) go = false
      else {
        val best = present.minBy(rank)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && (syms(i), syms(i + 1)) == best) {
            out += best._1 + best._2; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.toSeq
        go = syms.length > 1
      }
    }
    syms
  }

  test("kernel encode == textbook greedy reference on randomized words + learned merges") {
    val rnd = new scala.util.Random(7)
    val alpha = "abcde"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = (0 until 300).map(i => (i.toLong, Seq.fill(8)(word(1 + rnd.nextInt(9))).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMerges(corpus, "text", numMerges = 20, minCount = 2L)
    assert(merges.length == 20, s"fixture too small: ${merges.length} merges")
    val pairs = merges.map(m => (m.left, m.right))
    val ranks = new BpeRanks(pairs.toArray)
    val words = (0 until 500).map(_ => word(1 + rnd.nextInt(12))).distinct
    words.foreach { w =>
      val kern = ranks.encode(w).toSeq
      val ref = refEncode(w, pairs)
      assert(kern == ref, s"word=$w kernel=$kern ref=$ref")
      assert(kern.mkString == w, s"encode must partition the word: $w -> $kern")
    }
  }

  /** Spark-side replay of the ORACLE's replace chain (delimiterize, apply
    * merges in rank order as literal replaces, count U+0002 terminators) —
    * pins expression == chain inside Spark; the DuckDB side of the same
    * chain is the driver's q88 compare. */
  private def chainCount(text: Column, merges: Seq[Bpe.Merge]): Column = {
    val perWord = (w: Column) => {
      val delim = regexp_replace(w, "(?s)(.)", "\u0001$1\u0002")
      val enc = merges.foldLeft(delim)((acc, m) => org.apache.spark.sql.functions.replace(
        acc,
        lit("\u0001" + m.left + "\u0002\u0001" + m.right + "\u0002"),
        lit("\u0001" + m.left + m.right + "\u0002")))
      size(split(enc, "\u0002", -1)) - 1
    }
    coalesce(aggregate(Bpe.words(text), lit(0L), (acc, w) => acc + perWord(w)), lit(0L))
  }

  test("BpeTokenCountExpr == oracle replace-chain replay; tokens flatten in order") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcdef"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = (0 until 200).map(i =>
        (i.toLong, Seq.fill(6)(word(1 + rnd.nextInt(10))).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMerges(corpus, "text", numMerges = 16, minCount = 2L)
    val mismatches = corpus
      .select(Bpe.tokenCount(col("text"), merges).as("a"),
        chainCount(col("text"), merges).cast("long").as("b"),
        size(Bpe.tokens(col("text"), merges)).cast("long").as("c"))
      .filter(col("a") =!= col("b") || col("a") =!= col("c"))
      .count()
    assert(mismatches == 0L)
    // token order: concatenation reconstructs the lowercased words
    val row = corpus.orderBy("doc_id")
      .select(concat_ws("", Bpe.tokens(col("text"), merges)).as("joined"),
        concat_ws("", Bpe.words(col("text"))).as("plain"))
      .head()
    assert(row.getString(0) == row.getString(1))
  }

  test("word model: delimiters stripped, null/blank -> 0, codepoint symbols") {
    val ranks = new BpeRanks(Array(("a", "b")))
    assert(BpeKernel.tokenCount(null, ranks) == 0L)
    assert(BpeKernel.tokenCount("   ", ranks) == 0L)
    assert(BpeKernel.tokenCount("AB ab", ranks) == 2L) // lowercased, both merge
    assert(BpeKernel.tokenCount("a\u0001b \u0002ab", ranks) == 2L) // strip first
    // astral char is ONE symbol (code point), not two UTF-16 halves
    assert(BpeKernel.tokenCount("😀x", new BpeRanks(Array.empty)) == 2L)
  }

  test("trainMergesLocal == distributed trainMerges: hand-derived case + early stop") {
    val loc = Bpe.trainMergesLocal(docs, "text", numMerges = 10, minCount = 2L)
    assert(loc == Seq(
      Bpe.Merge(0, "t", "h", 5L),
      Bpe.Merge(1, "th", "e", 4L),
      Bpe.Merge(2, "a", "t", 3L)))
    assert(loc == Bpe.trainMerges(docs, "text", numMerges = 10, minCount = 2L))
  }

  test("trainMergesLocal == distributed trainMerges, merge-for-merge, on a randomized corpus") {
    // minCount=1 + a small alphabet drives the loop deep into count-1
    // tiebreak territory — the argmax order (count DESC, then (l, r)
    // ascending) is exercised on every round past the head
    val rnd = new scala.util.Random(23)
    val alpha = "abcd"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = (0 until 250).map(i =>
        (i.toLong, Seq.fill(7)(word(1 + rnd.nextInt(8))).mkString(" ")))
      .toDF("doc_id", "text")
    val dist = Bpe.trainMerges(corpus, "text", numMerges = 24, minCount = 1L)
    val loc = Bpe.trainMergesLocal(corpus, "text", numMerges = 24, minCount = 1L)
    assert(dist.length == 24, s"fixture too small: ${dist.length} merges")
    assert(loc == dist,
      s"local/distributed diverge first at rank ${loc.zip(dist).indexWhere(p => p._1 != p._2)}:\n  local=$loc\n  dist=$dist")
  }

  test("trainMergesOnVocab: occurrence-weighted overlapping pairs ('aaa' counts (a,a) twice)") {
    // vocab {aaa: 3} — (a,a) has 2 adjacencies x cnt 3 = 6; after the
    // merge the word is [aa, a] and the next best pair is (aa, a) at 3
    val got = Bpe.trainMergesOnVocab(Seq(("aaa", 3L)), numMerges = 2, minCount = 1L)
    assert(got == Seq(Bpe.Merge(0, "a", "a", 6L), Bpe.Merge(1, "aa", "a", 3L)))
  }

  test("unicode line separators (U+2028) are one symbol in trainer, kernel, and chain alike") {
    // U+2028 survives the ASCII \s+ word split, so it lands INSIDE a
    // word; the (?s) delimiterizer must treat it as a normal symbol
    // (pre-fix, Java's '(.)' skipped it and produced corrupted
    // multi-codepoint symbols in the distributed trainer only)
    val sep = "\u2028"
    val corpus = Seq(
      (1L, s"ab${sep}ab ab${sep}ab cd"),
      (2L, s"ab${sep}ab xy")).toDF("doc_id", "text")
    val dist = Bpe.trainMerges(corpus, "text", numMerges = 3, minCount = 2L)
    val loc = Bpe.trainMergesLocal(corpus, "text", numMerges = 3, minCount = 2L)
    assert(loc == dist, s"local=$loc dist=$dist")
    // the kernel and the oracle-shaped replace chain agree on the counts
    val merges = loc
    val mism = corpus
      .select(Bpe.tokenCount(col("text"), merges).as("a"),
        chainCount(col("text"), merges).cast("long").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mism == 0L)
  }

  test("kernel word model == Column word model on non-ASCII case folding") {
    // kernel lowercases through UTF8String — the same implementation
    // Spark's lower() uses — so the two word models cannot diverge on
    // non-ASCII text regardless of the default JVM locale
    val texts = Seq("ÄRGER Straße MASSE", "İstanbul IJssel", "ΣΟΦΙΑ σοφια")
    texts.foreach { t =>
      val colWords = Seq(Tuple1(t)).toDF("text")
        .select(Bpe.words(col("text"))).head().getSeq[String](0)
      assert(BpeKernel.words(t).toSeq == colWords, s"text=$t")
    }
  }

  test("cpCompare agrees with UTF8String (UTF-8 byte) order, including astral chars") {
    import org.apache.spark.unsafe.types.UTF8String
    // U+FFFF vs U+1F600: UTF-16 code-unit order would invert these
    val samples = Seq("a", "ab", "b", "é", "￿", "😀", "z￿", "z😀", "")
    for (a <- samples; b <- samples) {
      val exp = Integer.signum(UTF8String.fromString(a).compareTo(UTF8String.fromString(b)))
      assert(Integer.signum(Bpe.cpCompare(a, b)) == exp, s"a=$a b=$b")
    }
  }

  test("exhaustion-scale table: kernel == textbook greedy, no duplicate pairs, chain parity") {
    // train far past what the vocabulary yields (the tokenizer-real
    // shape): per-word encode must stay correct when |table| >> |word|,
    // and the table must satisfy the chain==greedy precondition the
    // oracle generator asserts (no duplicate (l, r) entry)
    val rnd = new scala.util.Random(41)
    val alpha = "abcdef"
    def word(n: Int) = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = (0 until 400).map(i =>
        (i.toLong, Seq.fill(8)(word(1 + rnd.nextInt(10))).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(corpus, "text", numMerges = 100000, minCount = 2L)
    assert(merges.length > 100, s"fixture too small: ${merges.length} merges")
    val pairs = merges.map(m => (m.left, m.right))
    assert(pairs.distinct.size == pairs.size, "duplicate pair in exhausted table")
    val ranks = new BpeRanks(pairs.toArray)
    val sample = (0 until 300).map(_ => word(1 + rnd.nextInt(14))).distinct
    sample.foreach { w =>
      assert(ranks.encode(w).toSeq == refEncode(w, pairs), s"word=$w")
    }
    // chain parity spot-check on the first 48 merges (a full-table chain
    // would be an impractically deep nested-replace expression — the
    // equivalence proof covers the rest given no-duplicates, asserted
    // above and at oracle-generation time)
    val head = merges.take(48)
    val mism = corpus
      .select(Bpe.tokenCount(col("text"), head).as("a"),
        chainCount(col("text"), head).cast("long").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mism == 0L)
  }

  test("saveMerges/loadMerges roundtrip; load rejects corrupt artifacts") {
    val table = Bpe.trainMergesLocal(docs, "text", numMerges = 16, minCount = 2L)
    assert(table.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("bpe-artifact").toString
    val path = s"$dir/merges.parquet"
    Bpe.saveMerges(spark, table, path)
    assert(Bpe.loadMerges(spark, path) == table)
    // tokenization under the loaded table is identical (the contract the
    // artifact exists for)
    val a = docs.select(Bpe.tokenCount(col("text"), table)).collect().toSeq
    val b = docs.select(Bpe.tokenCount(col("text"), Bpe.loadMerges(spark, path)))
      .collect().toSeq
    assert(a == b)
    // corrupt: non-contiguous ranks fail loudly
    Bpe.saveMerges(spark, table.map(m => m.copy(rank = m.rank * 2)), path)
    intercept[IllegalArgumentException](Bpe.loadMerges(spark, path))
    // corrupt: duplicate pair fails loudly
    Bpe.saveMerges(spark,
      table.zipWithIndex.map { case (m, i) =>
        m.copy(rank = i, left = "x", right = "y") }, path)
    intercept[IllegalArgumentException](Bpe.loadMerges(spark, path))
  }

  test("marked stream round trip: decodeMarked(tokensMarked) recovers the " +
      "word model exactly; wordTokens flatten/rejoin invariants hold") {
    val rnd = new scala.util.Random(11)
    val alpha = "abcde"
    def word(n: Int) =
      Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    val corpus = (0 until 200).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(10))(word(1 + rnd.nextInt(9))).mkString(" ")))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(corpus, "text", 16, 2L)
    assert(merges.nonEmpty)
    val checked = corpus.select(
        // lossless round trip back to the word model
        (Bpe.decodeMarked(Bpe.tokensMarked(col("text"), merges)) ===
          concat_ws(" ", Bpe.words(col("text")))).as("rt"),
        // flattening per-word arrays == the flat oracle-checked stream
        (flatten(Bpe.wordTokens(col("text"), merges)) ===
          Bpe.tokens(col("text"), merges)).as("fl"),
        // each word's pieces concatenate back to the word
        (transform(Bpe.wordTokens(col("text"), merges),
            ts => concat_ws("", ts)) ===
          Bpe.words(col("text"))).as("wd"))
      .agg(sum(when(col("rt") && col("fl") && col("wd"), 0).otherwise(1)))
      .head.getLong(0)
    assert(checked == 0L, s"$checked rows failed a marked-stream invariant")
    // mixed case + messy whitespace normalize through the word model
    val messy = Seq((1L, "  The  CAT\tthe hat ")).toDF("doc_id", "text")
    assert(messy.select(Bpe.decodeMarked(
        Bpe.tokensMarked(col("text"), merges))).head.getString(0)
      == "the cat the hat")
    // id level: the native marked-ids kernel round-trips too, and equals
    // the composed string path mapped through the marked vocabulary
    val vm = Bpe.vocabMarked(corpus, "text", merges)
    val idBad = corpus.select(
        (Bpe.decodeIds(Bpe.tokenIdsMarked(col("text"), merges, vm), vm) ===
          concat_ws(" ", Bpe.words(col("text")))).as("rt"),
        (Bpe.tokenIdsMarked(col("text"), merges, vm) ===
          Bpe.idsOf(Bpe.tokensMarked(col("text"), merges), vm)).as("eq"))
      .agg(sum(when(col("rt") && col("eq"), 0).otherwise(1)))
      .head.getLong(0)
    assert(idBad == 0L, s"$idBad rows failed the id-level round trip")
    // base-only vocab is rejected loudly (marked ids would be wrong)
    intercept[IllegalArgumentException] {
      Bpe.tokenIdsMarked(col("text"), merges,
        Bpe.vocab(corpus, "text", merges))
    }
  }

  test("byte fallback: open vocabulary encodes unseen code points as UTF-8 " +
      "byte ids (hand-checked, all widths); closed vocabulary still throws") {
    // trained on docs ("the cat the hat" / "the the that"): alphabet
    // {a,c,e,h,t}, merges th,the,at,cat -> plain vocab a=0,c=1,e=2,h=3,
    // t=4,th=5,the=6,at=7,cat=8; open layout shifts by 256
    val merges = Bpe.trainMergesLocal(docs, "text", 4, 1L)
    assert(merges.map(m => m.left + m.right) == Seq("th", "the", "at", "cat"))
    val vb = Bpe.vocabBytes(docs, "text", merges)
    assert(vb.take(2) == Seq((Bpe.byteToken(0), 0), (Bpe.byteToken(1), 1)))
    assert(vb(256) == ("a", 256) && vb(261) == ("th", 261))
    val oov = Seq((1L,
      "the café 中文 " + new String(Character.toChars(0x1F600))))
      .toDF("doc_id", "text")
    val ids = oov.select(Bpe.tokenIds(col("text"), merges, vb))
      .head.getSeq[Int](0)
    assert(ids == Seq(
      262,                     // "the"
      257, 256, 0x66,          // "café": c, a, f (1-byte fallback 'f'!)
      0xC3, 0xA9,              //         é -> 2-byte UTF-8
      0xE4, 0xB8, 0xAD,        // "中文": U+4E2D -> 3 bytes
      0xE6, 0x96, 0x87,        //         U+6587 -> 3 bytes
      0xF0, 0x9F, 0x98, 0x80), // "😀": U+1F600 -> 4 bytes
      s"got $ids")
    // the CLOSED vocabulary on the same text still fails loudly — a miss
    // there means a wiring bug (corpus != training corpus), never data
    val closed = Bpe.vocab(docs, "text", merges)
    val e = intercept[Exception] {
      oov.select(Bpe.tokenIds(col("text"), merges, closed)).collect()
    }
    assert(Option(e.getMessage).getOrElse(e.getCause.getMessage)
      .contains("not in the") || e.getCause != null)
    // malformed byte blocks are rejected at plan build, not mis-encoded
    intercept[IllegalArgumentException] {
      Bpe.tokenIds(col("text"), merges, vb.drop(1)) // 255 byte entries
    }
    intercept[IllegalArgumentException] {
      Bpe.vocabBytesFrom(vb) // double-lift: input not dense from 0
    }
  }

  test("byte fallback marked stream: word-initial mark lands on the first " +
      "byte; decodeIds reassembles UTF-8 runs; randomized round trip") {
    val merges = Bpe.trainMergesLocal(docs, "text", 4, 1L)
    val vmb = Bpe.vocabMarkedBytes(docs, "text", merges)
    val base = 265 // 256 bytes + 9 vocab entries
    assert(vmb.size == 2 * base)
    val oneWord = Seq((1L,
      new String(Character.toChars(0x1F600)) + " café")).toDF("doc_id", "text")
    val mids = oneWord.select(Bpe.tokenIdsMarked(col("text"), merges, vmb))
      .head.getSeq[Int](0)
    assert(mids == Seq(
      0xF0 + base, 0x9F, 0x98, 0x80,      // 😀: mark on the FIRST byte only
      257 + base, 256, 0x66, 0xC3, 0xA9), // café: mark on the word-initial piece
      s"got $mids")
    // decode reassembles the byte runs back to the word model exactly
    assert(oneWord.select(Bpe.decodeIds(
        Bpe.tokenIdsMarked(col("text"), merges, vmb), vmb)).head.getString(0)
      == new String(Character.toChars(0x1F600)) + " café")
    // randomized: mixed in-vocab words and words with unseen code points
    // of every width round-trip losslessly through the id stream
    val rnd = new scala.util.Random(12)
    val pool = "ttthhheeeacz9éß中文" +
      new String(Character.toChars(0x1F600)) +
      new String(Character.toChars(0x10348))
    val cps = pool.codePoints().toArray
    def word() = {
      val n = 1 + rnd.nextInt(6)
      val sb = new java.lang.StringBuilder
      (0 until n).foreach(_ => sb.appendCodePoint(cps(rnd.nextInt(cps.length))))
      sb.toString
    }
    val corpus = (0 until 150).map(i => (i.toLong,
        Seq.fill(1 + rnd.nextInt(8))(word()).mkString(" ")))
      .toDF("doc_id", "text")
    val bad = corpus.select(
        (Bpe.decodeIds(Bpe.tokenIdsMarked(col("text"), merges, vmb), vmb) ===
          concat_ws(" ", Bpe.words(col("text")))).as("rt"))
      .agg(sum(when(col("rt"), 0).otherwise(1))).head.getLong(0)
    assert(bad == 0L, s"$bad rows failed the byte-fallback round trip")
    // native decode == composed reference form on a byte-FREE vocabulary
    val vm = Bpe.vocabMarked(docs, "text", merges)
    val eq = docs.select(
        (Bpe.decodeIds(Bpe.tokenIdsMarked(col("text"), merges, vm), vm) ===
          Bpe.decodeIdsComposed(
            Bpe.tokenIdsMarked(col("text"), merges, vm), vm)).as("eq"))
      .agg(sum(when(col("eq"), 0).otherwise(1))).head.getLong(0)
    assert(eq == 0L, "native decodeIds diverged from the composed reference")
  }

  test("byte-fallback artifact: saveVocab/loadVocab round-trips the open " +
      "marked layout and the loaded artifact encodes day-2 text") {
    val merges = Bpe.trainMergesLocal(docs, "text", 4, 1L)
    val vmb = Bpe.vocabMarkedBytes(docs, "text", merges)
    val dir = java.nio.file.Files.createTempDirectory("bpe-vocab").toString
    Bpe.saveVocab(spark, vmb, s"$dir/vocab")
    Bpe.saveMerges(spark, merges, s"$dir/merges")
    val m2 = Bpe.loadMerges(spark, s"$dir/merges")
    val v2 = Bpe.loadVocab(spark, s"$dir/vocab")
    assert(m2 == merges && v2 == vmb)
    // the production day-2 path: loaded artifact, unseen alphabet
    val day2 = Seq((1L, "the zürich update")).toDF("doc_id", "text")
    assert(day2.select(Bpe.decodeIds(
        Bpe.tokenIdsMarked(col("text"), m2, v2), v2)).head.getString(0)
      == "the zürich update")
  }

  test("trainMergesCached memoizes per (dir, col, config)") {
    val key = s"bpe-spec-memo-${System.nanoTime()}"
    val a = Bpe.trainMergesCached(docs, key, "text", 2)
    val b = Bpe.trainMergesCached(docs.limit(0), key, "text", 2) // ignored: memo hit
    assert(a == b && a.length == 2)
  }

  // ------------------------------------------------ faithful word model

  /** Literal Java-regex implementation of the faithful pre-tokenizer's
    * documented pattern — a DIFFERENT implementation (backtracking regex
    * vs the kernel's hand scanner) pinning the equivalence the oracle's
    * RE2 replay depends on. */
  private def refPretokens(text: String): Seq[String] = {
    val stripped = text.replaceAll("[\u0001\u0002]", "")
    val pat = java.util.regex.Pattern.compile(
      " ?[A-Za-z\\x80-\\x{10FFFF}]+| ?[0-9]+" +
        "| ?[^A-Za-z0-9\\x80-\\x{10FFFF} \\t\\n\\x0B\\f\\r]+" +
        "|[ \\t\\n\\x0B\\f\\r]+")
    val m = pat.matcher(stripped)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  private val faithfulAlphabet: Array[String] = Array(
    "a", "b", "T", "Z", "0", "7", ",", ".", "!", "-",
    " ", "  ", "\t", "\n", "\r\n", "\u00e9", "\u4e2d",
    new String(Character.toChars(0x1F600)), "\u0001", "\u0002")

  private def randomFaithfulText(rnd: scala.util.Random, n: Int): String =
    (0 until n).map(_ => faithfulAlphabet(rnd.nextInt(faithfulAlphabet.length)))
      .mkString

  test("pretokens: hand-checked split, tiling invariant, and parity with " +
      "the literal regex reference on randomized mixed text") {
    assert(BpeKernel.pretokens("Hello, world!  New\nline").toSeq ==
      Seq("Hello", ",", " world", "!", "  ", "New", "\n", "line"))
    // attached space only for a SINGLE space directly before a run;
    // digits and punctuation attach too; other whitespace never does
    assert(BpeKernel.pretokens("a 12 ,. b\tc").toSeq ==
      Seq("a", " 12", " ,.", " b", "\t", "c"))
    // case preserved: "The" and "the" are different pretokens
    assert(BpeKernel.pretokens("The the THE").toSeq ==
      Seq("The", " the", " THE"))
    val rnd = new scala.util.Random(13)
    (0 until 300).foreach { _ =>
      val t = randomFaithfulText(rnd, 1 + rnd.nextInt(30))
      val got = BpeKernel.pretokens(t).toSeq
      val stripped = t.replaceAll("[\u0001\u0002]", "")
      assert(got.mkString == stripped, s"tiling broke on ${t.toList}")
      assert(got == refPretokens(t), s"regex parity broke on ${t.toList}")
      assert(got.forall(_.nonEmpty))
    }
    assert(BpeKernel.pretokens(null).isEmpty)
    assert(BpeKernel.pretokens("").isEmpty)
  }

  test("faithful training: case-sensitive vocabulary, pretoken word counts") {
    val d = Seq((1L, "The cat the cat The Cat"), (2L, "the cat"))
      .toDF("doc_id", "text")
    val wc = Bpe.wordCounts(d, "text", faithful = true)
      .as[(String, Long)].collect().toMap
    // leading spaces attach; case variants are distinct words
    assert(wc == Map("The" -> 1L, " cat" -> 3L, " the" -> 1L, " The" -> 1L,
      " Cat" -> 1L, "the" -> 1L))
    val merges = Bpe.trainMergesLocal(d, "text", 3, 1L, faithful = true)
    assert(merges.nonEmpty)
    // ('a','t') and ('h','e') tie at 4 — "a" < "h" in UTF-8 order wins
    assert(merges.head == Bpe.Merge(0, "a", "t", 4L))
    // and the faithful local trainer equals the distributed fallback
    assert(merges == Bpe.trainMerges(d, "text", 3, 1L, faithful = true))
  }

  test("FAITHFUL ROUND TRIP: decodeIdsFlat(tokenIdsFaithful(text)) == text " +
      "EXACTLY — case, whitespace runs, punctuation, digits, unseen code " +
      "points through the byte fallback — on randomized corpora") {
    val train = Seq(
      (1L, "The quick Brown fox\n\njumped over 42 lazy dogs!"),
      (2L, "Mixed CASE text,  with   double and triple spaces."),
      (3L, "punctuation-heavy: (a) [b] {c} <d> e=f g&h i|j"))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(train, "text", 16, 1L, faithful = true)
    val vocab = Bpe.vocabBytesFrom(Bpe.vocab(train, "text", merges, faithful = true))
    // 1) the training corpus itself round-trips byte-for-byte
    val bad1 = train.select(
        (Bpe.decodeIdsFlat(Bpe.tokenIdsFaithful(col("text"), merges, vocab), vocab)
          === col("text")).as("rt"))
      .filter(!col("rt")).count()
    assert(bad1 == 0L)
    // 2) randomized day-2 text (unseen alphabet in all UTF-8 widths,
    //    tabs/newlines/multi-space, U+0001/U+0002 stripped by contract)
    val rnd = new scala.util.Random(29)
    val day2 = (0 until 120).map(i =>
      (i.toLong, randomFaithfulText(rnd, 1 + rnd.nextInt(40))))
      .toDF("doc_id", "text")
    val got = day2.orderBy("doc_id").select(
      Bpe.decodeIdsFlat(Bpe.tokenIdsFaithful(col("text"), merges, vocab), vocab))
      .as[String].collect().toSeq
    val want = day2.orderBy("doc_id")
      .select(regexp_replace(col("text"), "[\u0001\u0002]", ""))
      .as[String].collect().toSeq
    assert(got == want, "faithful round trip diverged on randomized day-2 text")
    // 3) a closed (no-byte) faithful vocabulary still throws on unseen input
    val closed = Bpe.vocab(train, "text", merges, faithful = true)
    val e = intercept[Exception] {
      Seq(Tuple1("zebra \u00fc")).toDF("text")
        .select(Bpe.tokenIdsFaithful(col("text"), merges, closed)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("not in the")))
  }

  test("cleanText ∘ tokenIdsFaithful is byte-exact on RAW C0-bearing input " +
      "(the supported end-to-end contract for arbitrary bytes): " +
      "decode(encode(cleanText(raw))) == cleanText(raw) even when raw " +
      "carries the kernel's own U+0001/U+0002 marker bytes") {
    val train = Seq(
      (1L, "The quick Brown fox jumped over 42 lazy dogs!"),
      (2L, "Mixed CASE text, with double spaces and (punct)."))
      .toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(train, "text", 16, 1L, faithful = true)
    val vocab = Bpe.vocabBytesFrom(Bpe.vocab(train, "text", merges, faithful = true))
    // raw inputs deliberately carry the marker bytes, other C0 controls,
    // DEL, and mojibake-adjacent content — everything cleanText handles
    val raw = Seq(
      (1L, "has\u0001marker\u0002bytes and NUL\u0000 plus \u0007bell"),
      (2L, "tab\tand newline\nsurvive; \u0002\u0001 leading run"),
      (3L, "\u0001\u0002\u0000"), // empties out entirely after clean
      (4L, "plain text, no controls at all"))
      .toDF("doc_id", "text")
    val cleaned = raw.select(col("doc_id"),
      TextFns.cleanText(col("text")).as("text"))
    val bad = cleaned.filter(length(col("text")) > 0).select(
        (Bpe.decodeIdsFlat(
          Bpe.tokenIdsFaithful(col("text"), merges, vocab), vocab)
          === col("text")).as("rt"))
      .filter(!col("rt")).count()
    assert(bad == 0L,
      "cleanText∘tokenizeFaithful not byte-exact on C0-bearing raw input")
  }

  test("faithful ids/counts agree; decodeIdsFlat rejects out-of-vocabulary " +
      "ids and marked vocabularies") {
    val train = Seq((1L, "Seq of Words to train On")).toDF("doc_id", "text")
    val merges = Bpe.trainMergesLocal(train, "text", 4, 1L, faithful = true)
    val vocab = Bpe.vocabBytesFrom(Bpe.vocab(train, "text", merges, faithful = true))
    val row = train.select(
      size(Bpe.tokens(col("text"), merges, faithful = true)).cast("long").as("nt"),
      Bpe.tokenCount(col("text"), merges, faithful = true).as("tc"),
      size(Bpe.tokenIdsFaithful(col("text"), merges, vocab)).cast("long").as("ni"))
      .as[(Long, Long, Long)].head()
    assert(row._1 == row._2 && row._2 == row._3)
    // corrupt id (outside the vocabulary) throws, never mis-decodes
    val eBad = intercept[Exception] {
      Seq(Tuple1(Seq(vocab.size + 5))).toDF("ids")
        .select(Bpe.decodeIdsFlat(col("ids"), vocab)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(eBad).exists(_.contains("outside")))
    // a marked vocabulary is the WRONG layout for the faithful decode
    intercept[IllegalArgumentException] {
      Bpe.decodeIdsFlat(col("ids"), Bpe.vocabMarkedBytes(train, "text", merges))
    }
    intercept[IllegalArgumentException] {
      Bpe.tokenIdsFaithful(col("text"), merges,
        Bpe.vocabMarkedBytes(train, "text", merges))
    }
  }

  test("tokenizer artifact meta: model tag round-trips; an artifact " +
      "without its meta fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("tok_meta").toString
    val merges = Bpe.trainMergesLocal(docs, "text", 2, 1L, faithful = true)
    val vocab = Bpe.vocabBytesFrom(Bpe.vocab(docs, "text", merges, faithful = true))
    Bpe.saveTokenizer(spark, merges, vocab, dir, Bpe.ModelFaithful)
    val t = Bpe.loadTokenizer(spark, dir)
    assert(t.model == Bpe.ModelFaithful && t.faithful)
    assert(t.merges == merges && t.vocab == vocab)
    val bare = java.nio.file.Files.createTempDirectory("tok_bare").toString
    Bpe.saveMerges(spark, merges, s"$bare/merges")
    Bpe.saveVocab(spark, vocab, s"$bare/vocab")
    val e = intercept[IllegalArgumentException](Bpe.loadTokenizer(spark, bare))
    assert(e.getMessage.contains(s"$bare/meta"), e.getMessage)
  }
}

package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private def table(pieces: Seq[UnigramLm.Piece]) = {
    val m = new java.util.HashMap[String, java.lang.Long]()
    pieces.foreach(p => m.put(p.piece, p.logpQ))
    m
  }

  test("seed: full single-char alphabet always kept; multi-char pieces " +
      "ranked (freq desc, piece asc); overlapping occurrences counted; " +
      "logp quantized over the selected set") {
    // words: "aaa" x 2, "ab" x 1 → substrings (P=2):
    // a: 3*2 + 1 = 7, b: 1, aa: 2*2 = 4 (overlapping!), ab: 1
    val s = UnigramLm.seed(Seq(("aaa", 2L), ("ab", 1L)), seedSize = 3,
      maxPieceLen = 2)
    val byPiece = s.map(p => p.piece -> p).toMap
    assert(byPiece.keySet == Set("a", "b", "aa")) // chars + top-1 multi
    assert(byPiece("a").freq == 7L && byPiece("b").freq == 1L &&
      byPiece("aa").freq == 4L)
    val total = 12.0
    // multi-char seed pieces carry the +4-nat/char length prior (the
    // hard-EM bootstrap — see UnigramLm.SeedLenBonusQ); chars don't
    assert(byPiece("aa").logpQ ==
      math.floor((math.log(4.0) - math.log(total)) * 1e6 + 0.5).toLong +
        UnigramLm.SeedLenBonusQ)
    assert(byPiece("a").logpQ ==
      math.floor((math.log(7.0) - math.log(total)) * 1e6 + 0.5).toLong)
    // seedSize smaller than alphabet: alphabet still complete
    val s2 = UnigramLm.seed(Seq(("ab", 1L)), seedSize = 1, maxPieceLen = 2)
    assert(s2.map(_.piece).toSet == Set("a", "b"))
  }

  test("viterbi: picks the max-score segmentation with exact integer " +
      "sums; ties prefer the longest last piece; long words fall back " +
      "to chars; unk code points become their own pieces") {
    val t = table(Seq(
      UnigramLm.Piece("a", 0, -100L), UnigramLm.Piece("b", 0, -100L),
      UnigramLm.Piece("ab", 0, -150L), UnigramLm.Piece("ba", 0, -500L)))
    // "ab": piece 'ab' (-150) beats 'a'+'b' (-200)
    assert(UnigramLm.viterbi("ab", t, 2, 16).toSeq == Seq("ab"))
    // "aba": ab+a (-250) beats a+ba (-600) and a+b+a (-300)
    assert(UnigramLm.viterbi("aba", t, 2, 16).toSeq == Seq("ab", "a"))
    // tie: make 'ab' cost exactly a+b → smallest prev position wins →
    // the LAST piece is the longer one ('ab' chosen at j=2 over b)
    val t2 = table(Seq(
      UnigramLm.Piece("a", 0, -100L), UnigramLm.Piece("b", 0, -100L),
      UnigramLm.Piece("ab", 0, -200L)))
    assert(UnigramLm.viterbi("ab", t2, 2, 16).toSeq == Seq("ab"))
    // long word: char fallback
    assert(UnigramLm.viterbi("abababab", t, 2, 4).toSeq ==
      Seq("a", "b", "a", "b", "a", "b", "a", "b"))
    // unk: 'x' not in table
    assert(UnigramLm.viterbi("axb", t, 2, 16).toSeq == Seq("a", "x", "b"))
    // supplementary code points slice correctly (🦆 = 2 UTF-16 units)
    val t3 = table(Seq(UnigramLm.Piece("🦆", 0, -10L),
      UnigramLm.Piece("a", 0, -10L), UnigramLm.Piece("🦆a", 0, -15L)))
    assert(UnigramLm.viterbi("🦆a🦆", t3, 2, 16).toSeq == Seq("🦆a", "🦆"))
  }

  test("emRound: counts are Viterbi counts weighted by word count; " +
      "alphabet survives pruning at count 0; multi-char pieces below " +
      "the vocab cut are dropped; add-one smoothed logp") {
    val vocab = Seq(("abab", 3L), ("ab", 2L), ("cc", 1L))
    val prev = UnigramLm.seed(vocab, seedSize = 20, maxPieceLen = 3)
    val r1 = UnigramLm.emRound(vocab, prev, keepSize = 5,
      maxPieceLen = 3, maxWordLen = 16)
    val byPiece = r1.map(p => p.piece -> p).toMap
    // chars always present even if their Viterbi count is 0
    assert(Set("a", "b", "c").subsetOf(byPiece.keySet))
    // every kept piece's logp matches the smoothed formula
    val total = r1.map(_.freq).sum
    r1.foreach { p =>
      assert(p.logpQ == math.floor((math.log((p.freq + 1).toDouble) -
        math.log((total + r1.size).toDouble)) * 1e6 + 0.5).toLong)
    }
    // vocab cap respected (chars can exceed it, multis fill the rest)
    assert(r1.size <= math.max(5, 3))
  }

  test("train: deterministic (two runs bit-equal); rounds recorded for " +
      "the oracle induction; segmentation round-trips every corpus word " +
      "exactly (concat pieces == word)") {
    val df = docs(
      (1L, "the internationalization of internationalization"),
      (2L, "tokenization tokenizer tokens token"),
      (3L, "Grüße aus München 日本語 token"),
      (4L, "the the the of of tokenization"))
    val m1 = UnigramLm.train(df, "text", seedSize = 60, vocabSize = 30,
      emRounds = 2)
    val m2 = UnigramLm.train(df, "text", seedSize = 60, vocabSize = 30,
      emRounds = 2)
    assert(m1 == m2, "training must be bit-deterministic")
    assert(m1.rounds.size == 3)
    // every round's vocab contains the full alphabet
    val alphabet = m1.rounds.head.map(_.piece)
      .filter(p => p.codePointCount(0, p.length) == 1).toSet
    m1.rounds.tail.foreach(r =>
      assert(alphabet.subsetOf(r.map(_.piece).toSet)))
    // roundtrip over the whole corpus via the native kernel
    val rt = df.select(
        UnigramLm.segmentWords(Bpe.words(col("text")), m1).as("s"),
        concat_ws("", Bpe.words(col("text"))).as("joined"))
      .select(concat_ws("", col("s.pieces")).as("glued"), col("joined"))
      .as[(String, String)].collect()
    rt.foreach { case (glued, joined) =>
      assert(glued == joined, s"roundtrip broke: '$glued' != '$joined'")
    }
  }

  test("native kernel == driver viterbi word by word; score_q is the " +
      "exact sum of piece logpQ; unk code points price at UnkLogpQ") {
    val df = docs((1L, "alpha beta alpha"), (2L, "γάμμα alpha"))
    val m = UnigramLm.train(df, "text", seedSize = 40, vocabSize = 25,
      emRounds = 1)
    val lookup = table(m.pieces)
    val got = df.select(col("doc_id"),
        UnigramLm.segmentWords(Bpe.words(col("text")), m).as("s"))
      .select(col("doc_id"), col("s.n_pieces"), col("s.score_q"),
        col("s.pieces"))
      .as[(Long, Long, Long, Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val rows = df.as[(Long, String)].collect()
    rows.foreach { case (id, text) =>
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val expect = words.flatMap(w =>
        UnigramLm.viterbi(w, lookup, m.maxPieceLen, m.maxWordLen))
      val (gn, gscore, gpieces) = got(id)
      assert(gpieces == expect.toSeq, s"doc $id pieces")
      assert(gn == expect.length.toLong)
      val score = expect.map(p => Option(lookup.get(p))
        .map(_.longValue()).getOrElse(UnigramLm.UnkLogpQ)).sum
      assert(gscore == score)
    }
    // unk: encode text containing a char the corpus never saw
    val unk = Seq((9L, "zzz qqq ~")).toDF("doc_id", "text")
      .select(UnigramLm.segmentWords(Bpe.words(col("text")), m).as("s"))
      .select(col("s.pieces")).as[Seq[String]].collect().head
    assert(unk.nonEmpty) // still segments — every char becomes a piece
  }

  test("tokenIds: ids are the binary-order vocabulary assignment of the " +
      "Viterbi segmentation, in document order; unk pieces emit -1") {
    val df = docs((1L, "tokenization of tokens"), (2L, "the tokenizer"))
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    val ids = UnigramLm.pieceIds(m)
    val lookup = table(m.pieces)
    val got = df.select(col("doc_id"),
        UnigramLm.tokenIds(col("text"), m).as("ids"))
      .as[(Long, Seq[Int])].collect().toMap
    df.as[(Long, String)].collect().foreach { case (id, text) =>
      val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val expect = words.flatMap(w =>
        UnigramLm.viterbi(w, lookup, m.maxPieceLen, m.maxWordLen))
        .map(p => ids.getOrElse(p, -1)).toSeq
      assert(got(id) == expect, s"doc $id: ${got(id)} vs $expect")
      assert(got(id).forall(_ >= 0), "corpus text must never emit unk ids")
    }
    // out-of-corpus char: unk id -1, stream length preserved
    val unk = Seq((9L, "zzz ~")).toDF("doc_id", "text")
      .select(UnigramLm.tokenIds(col("text"), m).as("ids"))
      .as[Seq[Int]].collect().head
    assert(unk.nonEmpty && unk.contains(-1))
  }

  test("artifact save/load: round-trip is bit-equal (all rounds), " +
      "segmentation under the loaded model identical; corrupted tag and " +
      "lost alphabet fail loudly") {
    val df = docs((1L, "tokenization of tokens token"),
      (2L, "the tokenizer tokenized"))
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    val root = java.nio.file.Files.createTempDirectory("unigram_art").toString
    UnigramLm.save(spark, m, root)
    val loaded = UnigramLm.load(spark, root)
    assert(loaded == m, "loaded model must be bit-equal to the trained one")
    val a = df.select(UnigramLm.segmentWords(Bpe.words(col("text")), m)
      .getField("pieces")).as[Seq[String]].collect().toSeq
    val b = df.select(UnigramLm.segmentWords(Bpe.words(col("text")), loaded)
      .getField("pieces")).as[Seq[String]].collect().toSeq
    assert(a == b)
    // corrupted tag rejected
    Seq((5, 16, 50, 30, 3, "not-unigram", Bpe.ModelWordMarked))
      .toDF("max_piece_len", "max_word_len", "seed_size", "vocab_size",
        "n_rounds", "model_tag", "word_model")
      .write.mode("overwrite").parquet(s"$root/unigram_meta")
    val e = intercept[IllegalArgumentException] {
      UnigramLm.load(spark, root)
    }
    assert(e.getMessage.contains("model_tag"))
    // alphabet corruption rejected: drop all single-char pieces from the
    // FINAL round behind a valid meta
    val root2 = java.nio.file.Files.createTempDirectory("unigram_art2").toString
    UnigramLm.save(spark, m, root2)
    val pieces = spark.read.parquet(s"$root2/unigram_pieces")
    pieces.filter(!(col("round") === (m.rounds.size - 1) &&
        length(col("piece")) === 1))
      .write.mode("overwrite").parquet(s"$root2/unigram_pieces_tmp")
    spark.read.parquet(s"$root2/unigram_pieces_tmp")
      .write.mode("overwrite").parquet(s"$root2/unigram_pieces")
    val e2 = intercept[IllegalArgumentException] {
      UnigramLm.load(spark, root2)
    }
    assert(e2.getMessage.contains("alphabet"))
    Seq(root, root2).foreach(pth =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pth)))
  }

  test("tokenIdsBytes: open flat layout — piece ids shifted by 256, OOV " +
      "code points as UTF-8 byte ids, NO -1 anywhere (r16 verdict #1b)") {
    val df = docs((1L, "tokenization of tokens"), (2L, "the tokenizer"))
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    // corpus text: exactly the closed ids + 256
    val flat = df.select(UnigramLm.tokenIds(col("text"), m).as("a"),
        UnigramLm.tokenIdsBytes(col("text"), m).as("b"))
      .as[(Seq[Int], Seq[Int])].collect()
    flat.foreach { case (a, b) => assert(b == a.map(_ + 256)) }
    // OOV text: bytes of the unknown code points, never -1.
    // 'ö' = U+00F6 → UTF-8 c3 b6 → ids 195, 182; '€' = U+20AC →
    // e2 82 ac → 226, 130, 172
    val oov = Seq((9L, "zö€")).toDF("doc_id", "text")
      .select(UnigramLm.tokenIdsBytes(col("text"), m).as("ids"))
      .as[Seq[Int]].collect().head
    assert(oov.forall(_ >= 0), s"no sentinel ids allowed: $oov")
    assert(oov.containsSlice(Seq(195, 182)), s"expected ö bytes in $oov")
    assert(oov.containsSlice(Seq(226, 130, 172)), s"expected € bytes in $oov")
    // and the packer accepts the open stream where the closed one throws
    val packed = graft.operators.Packer.packTokenIds(spark,
      Seq((9L, "zö€")).toDF("doc_id", "text")
        .select(col("doc_id"), UnigramLm.tokenIdsBytes(col("text"), m).as("ids")),
      "doc_id", "ids", 16L).count()
    assert(packed == 1L)
  }

  test("tokenIdsMarked + decodeIds: roundtrip to the word model for " +
      "corpus AND out-of-alphabet text; word-initial ids carry the twin " +
      "shift (r16 verdict #1a)") {
    val df = docs((1L, "tokenization of tokens"), (2L, "the tokenizer"))
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    val markShift = 256 + m.pieces.size
    val texts = Seq(
      (1L, "tokenization of tokens"),
      (2L, "The   Tokenizer\tof tokens"),      // case/whitespace consumed
      (3L, "zö€ tokens Wörld 中文 😀"),         // unseen alphabet
      (4L, ""))
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        UnigramLm.tokenIdsMarked(col("text"), m).as("ids"),
        UnigramLm.decodeIds(
          UnigramLm.tokenIdsMarked(col("text"), m), m).as("rt"))
      .as[(Long, Seq[Int], String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    texts.foreach { case (id, text) =>
      val words = text.toLowerCase
        .split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
      val (ids, rt) = (got(id)._1, got(id)._2)
      assert(rt == words.mkString(" "),
        s"doc $id roundtrip: '$rt' vs '${words.mkString(" ")}'")
      // exactly one marked id per word, always the first of its word
      assert(ids.count(_ >= markShift) == words.length,
        s"doc $id: ${ids.count(_ >= markShift)} marks for ${words.length} words")
      assert(ids.forall(i => i >= 0 && i < 2 * markShift))
    }
  }

  test("vocab layouts: plain = sorted pieces; bytes = 256-block + shift; " +
      "markedBytes = base + twins (the Bpe.vocabMarkedBytes structure)") {
    val df = docs((1L, "aa ab ba"))
    val m = UnigramLm.train(df, "text", seedSize = 10, vocabSize = 6,
      emRounds = 1)
    val plain = UnigramLm.vocabPlain(m)
    assert(plain.map(_._2) == plain.indices)
    assert(plain.map(_._1) == plain.map(_._1).sorted)
    val bytes = UnigramLm.vocabBytes(m)
    assert(bytes.size == 256 + plain.size)
    assert(bytes.take(256).forall { case (t, i) => t.startsWith("\u0002") && i < 256 })
    assert(bytes.drop(256).map { case (t, i) => (t, i - 256) } == plain)
    val marked = UnigramLm.vocabMarkedBytes(m)
    assert(marked.size == 2 * bytes.size)
    val base = bytes.size
    marked.drop(base).zip(bytes).foreach { case ((mt, mi), (t, i)) =>
      assert(mt == "\u0001" + t && mi == i + base)
    }
  }

  test("Tokenizers.load: family dispatch by layout — unigram artifact → " +
      "UnigramTok, BPE artifact → BpeTok, mixed dir and closed BPE fail " +
      "loudly (r16 verdict #1c)") {
    val df = docs((1L, "tokenization of tokens token"),
      (2L, "the tokenizer tokenized"))
    val root = java.nio.file.Files.createTempDirectory("tok_dispatch").toString
    // unigram artifact
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    UnigramLm.save(spark, m, s"$root/uni")
    val ut = graft.functions.Tokenizers.load(spark, s"$root/uni")
    assert(ut.family == "unigram")
    // the loaded Tok encodes + decodes day-2 text end to end
    val rt = Seq((1L, "Wörld of tokens")).toDF("doc_id", "text")
      .select(ut.decodeIds(ut.encodeIds(col("text"))).as("rt"))
      .as[String].collect().head
    assert(rt == "wörld of tokens")
    val nt = Seq((1L, "the tokenizer")).toDF("doc_id", "text")
      .select(ut.nTokens(col("text")).as("n")).as[Long].collect().head
    assert(nt > 0L)
    // BPE artifact (open marked layout)
    val merges = Bpe.trainMergesLocal(df, "text", 8)
    val vocab = Bpe.vocabMarkedBytes(df, "text", merges)
    Bpe.saveTokenizer(spark, merges, vocab, s"$root/bpe")
    val bt = graft.functions.Tokenizers.load(spark, s"$root/bpe")
    assert(bt.family == "bpe")
    val rtb = Seq((1L, "Wörld of tokens")).toDF("doc_id", "text")
      .select(bt.decodeIds(bt.encodeIds(col("text"))).as("rt"))
      .as[String].collect().head
    assert(rtb == "wörld of tokens")
    // closed BPE vocabulary rejected at load (deployment default)
    Bpe.saveTokenizer(spark, merges, Bpe.vocabMarked(df, "text", merges),
      s"$root/bpe_closed")
    val e = intercept[IllegalArgumentException] {
      graft.functions.Tokenizers.load(spark, s"$root/bpe_closed")
    }
    assert(e.getMessage.contains("CLOSED"))
    // mixed directory fails loudly
    UnigramLm.save(spark, m, s"$root/mixed")
    Bpe.saveTokenizer(spark, merges, vocab, s"$root/mixed")
    val e2 = intercept[IllegalArgumentException] {
      graft.functions.Tokenizers.load(spark, s"$root/mixed")
    }
    assert(e2.getMessage.contains("BOTH"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("FAITHFUL unigram (r17): trains on pretokens, flat byte-fallback " +
      "stream decodes to the EXACT text (case, whitespace, day-2 bytes); " +
      "artifact round-trips the word-model tag; wrong-model calls fail " +
      "loudly") {
    val df = docs(
      (1L, "The Cat chased the Other cat near the heated hearth"),
      (2L, "the Hat that the cat had was the best hat ever made"))
    val m = UnigramLm.train(df, "text", seedSize = 80, vocabSize = 40,
      emRounds = 2, faithful = true)
    assert(m.faithful)
    // exact roundtrip incl. mixed case, double spaces, unseen alphabet
    val texts = Seq(
      (1L, "The Cat  chased the OTHER cat"),
      (2L, "day-2 caffè 中文 " + new String(Character.toChars(0x1F600))),
      (3L, ""))
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        UnigramLm.decodeIdsFlat(
          UnigramLm.tokenIdsFaithful(col("text"), m), m).as("rt"),
        UnigramLm.tokenIdsFaithful(col("text"), m).as("ids"))
      .as[(Long, String, Seq[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    texts.foreach { case (id, text) =>
      assert(got(id)._1 == text, s"doc $id: '${got(id)._1}' != '$text'")
      assert(got(id)._2.forall(_ >= 0))
    }
    // artifact: tag round-trips, loaded model bit-equal, Tok dispatch
    val root = java.nio.file.Files.createTempDirectory("uni_faith").toString
    UnigramLm.save(spark, m, root)
    val loaded = UnigramLm.load(spark, root)
    assert(loaded == m && loaded.faithful)
    val tok = graft.functions.Tokenizers.load(spark, root)
    val rt = Seq((1L, "The Quick  brown FOX")).toDF("doc_id", "text")
      .select(tok.decodeIds(tok.encodeIds(col("text")))).as[String].head
    assert(rt == "The Quick  brown FOX")
    // wrong-model guards
    val mw = UnigramLm.train(df, "text", seedSize = 80, vocabSize = 40,
      emRounds = 1)
    intercept[IllegalArgumentException] {
      UnigramLm.tokenIdsFaithful(col("text"), mw)
    }
    intercept[IllegalArgumentException] {
      UnigramLm.tokenIdsMarked(col("text"), m)
    }
    intercept[IllegalArgumentException] {
      UnigramLm.decodeIds(col("ids"), m)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("fertility sanity: at equal vocab budget the unigram model " +
      "produces a valid piece count and pieceIds is a total order") {
    val df = docs((1L, "tokenization of tokens"), (2L, "the tokenizer"))
    val m = UnigramLm.train(df, "text", seedSize = 50, vocabSize = 30,
      emRounds = 2)
    val ids = UnigramLm.pieceIds(m)
    assert(ids.size == m.pieces.size)
    assert(ids.values.toSeq.sorted == (0 until ids.size))
    val n = df.select(UnigramLm.pieceCount(col("text"), m).as("n"))
      .agg(sum(col("n"))).as[Long].collect().head
    assert(n > 0L)
  }
}

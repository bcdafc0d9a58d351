package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer — the OTHER half of
  * production tokenization next to BPE (r15 verdict #4): instead of
  * greedy merges, a vocabulary of PIECES with a unigram language model
  * over them, trained by EM and applied by Viterbi segmentation (Kudo,
  * "Subword Regularization", ACL 2018 — the SentencePiece `--model_type
  * unigram` algorithm, re-expressed in this engine's deterministic
  * integer-replayable form).
  *
  * Differences from the reference algorithm, chosen so the DuckDB
  * oracle can replay TRAINING round by round (the q87 induction
  * discipline) and so results are bit-stable under any partitioning:
  *
  *  - HARD EM (Viterbi-EM): the E-step counts pieces from each word's
  *    single best segmentation instead of forward-backward expected
  *    counts. Deterministic integer counts; the standard convergence
  *    argument still applies (each round's corpus Viterbi score is
  *    non-decreasing up to quantization).
  *  - Piece log-probabilities are QUANTIZED to 1e-6 fixed point
  *    (micro-nats, `floor(x*1e6 + 0.5)` — the q105 trainer convention)
  *    the moment they are computed; Viterbi scores are exact long sums
  *    of those integers, so the argmax segmentation is identical across
  *    Spark, driver Scala and DuckDB.
  *  - Pruning keeps the single-code-point ALPHABET unconditionally
  *    (coverage: every word is always segmentable) plus the top
  *    `vocabSize - |alphabet|` multi-char pieces by (count DESC, piece
  *    ASC in UTF-8 byte order — Spark UTF8String sort == DuckDB binary
  *    collation, [[Bpe.cpCompare]]).
  *  - Words longer than `maxWordLen` code points segment as single
  *    chars (both in the E-step and at encode) — the DP replay unrolls
  *    one CTE per position, so the bound is what makes the SQL oracle
  *    finite; a >maxWordLen "word" is URL/DNA/garbage in practice and
  *    single-char pricing is the conservative treatment.
  *
  * Word model: shared with BPE ([[Bpe.wordCounts]] — strip U+0001/2,
  * lowercase, explicit-whitespace split), so fertility comparisons
  * against BPE at equal vocab are apples to apples.
  *
  * 100 TB: ONE distributed word-count shuffle (the only corpus-sized
  * work), then seeding + EM run DRIVER-LOCAL over the Heaps-law-sized
  * vocabulary under a loud `maxLocalVocab` guard (the
  * [[Bpe.trainMergesLocal]] scale design); encode is a native
  * zero-shuffle kernel ([[UnigramSegmentExpr]]) probing the broadcast
  * piece table.
  */
object UnigramLm {

  /** One vocabulary entry: `freq` is the seed substring frequency
    * (round 0) or the E-step Viterbi count (rounds >= 1); `logpQ` the
    * quantized log-probability used by the NEXT round / at encode. */
  final case class Piece(piece: String, freq: Long, logpQ: Long)

  /** A trained model: `rounds(k)` is the full vocabulary table after
    * round k (round 0 = seed), so the oracle can replay the induction;
    * encode uses `rounds.last`. `faithful` records the WORD MODEL the
    * table was trained under ([[Bpe.pretokens]] vs the lowercasing
    * [[Bpe.words]]) — encode/decode semantics are not recoverable from
    * the piece table alone, so the flag travels with the model and its
    * artifact (the [[Bpe.Tokenizer]] meta-tag discipline). */
  final case class Model(rounds: Seq[Seq[Piece]], maxPieceLen: Int,
                         maxWordLen: Int, seedSize: Int, vocabSize: Int,
                         faithful: Boolean = false) {
    def pieces: Seq[Piece] = rounds.last
  }

  /** `floor(x*1e6 + 0.5)` — the engine-wide fixed-point convention
    * (identical in DuckDB as `CAST(floor(x * 1e6 + 0.5) AS BIGINT)`). */
  private def q6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /** Code points of `w` as individual strings (DuckDB's substr/len are
    * code-point based; Java String indices are UTF-16 units — slicing
    * must agree with the oracle on supplementary characters). */
  private def cps(w: String): Array[String] = {
    val arr = w.codePoints().toArray
    arr.map(cp => new String(Character.toChars(cp)))
  }

  /** UTF-8 byte-order comparator for tie-breaks (== DuckDB binary
    * collation == Spark UTF8String sort — [[Bpe.cpCompare]]). */
  private val pieceOrd: Ordering[String] =
    (a: String, b: String) => Bpe.cpCompare(a, b)

  /** Seed vocabulary (round 0): every substring of <= `maxPieceLen`
    * code points of every word, occurrence-weighted by word count
    * (overlapping occurrences each count); the full single-char
    * alphabet plus the top `seedSize - |alphabet|` multi-char
    * substrings by (freq DESC, piece ASC). logp = ln(freq / total)
    * over the SELECTED set, quantized. */
  private[graft] def seed(vocab: Seq[(String, Long)], seedSize: Int,
                          maxPieceLen: Int): Seq[Piece] = {
    val freq = scala.collection.mutable.HashMap.empty[String, Long]
    vocab.foreach { case (w, c) =>
      val a = cps(w)
      var s = 0
      while (s < a.length) {
        val sb = new StringBuilder
        var l = 0
        while (l < maxPieceLen && s + l < a.length) {
          sb.append(a(s + l))
          val p = sb.toString
          freq.update(p, freq.getOrElse(p, 0L) + c)
          l += 1
        }
        s += 1
      }
    }
    val (chars, multis) = freq.toSeq.partition { case (p, _) =>
      p.codePointCount(0, p.length) == 1
    }
    // stable sorts compose: piece ASC first, then freq DESC on top
    val keptMulti = multis
      .sortBy(_._1)(pieceOrd)
      .sortBy(_._2)(Ordering.Long.reverse)
      .take(math.max(0, seedSize - chars.size))
    val kept = (chars ++ keptMulti).sortBy(_._1)(pieceOrd)
    val total = kept.iterator.map(_._2).sum
    kept.map { case (p, f) =>
      Piece(p, f, q6(math.log(f.toDouble) - math.log(total.toDouble))
        + (p.codePointCount(0, p.length) - 1).toLong * SeedLenBonusQ)
    }
  }

  /** Exponential LENGTH PRIOR on the SEED table only: +4 nats per code
    * point past the first. Raw substring counts systematically
    * over-price long pieces (every piece is out-frequencied by each of
    * its own characters), so a hard-EM round-1 Viterbi under
    * count-proportional probs degenerates to per-char segmentation and
    * the M-step never sees multi-char counts — soft EM escapes via
    * fractional counts; this deterministic bootstrap escapes via the
    * prior (measured on rich2: fertility 2.59 → see
    * scaling/r16/unigram_fert_rich2.json). Rounds >= 1 re-price purely
    * from observed counts — the prior never touches a trained table. */
  val SeedLenBonusQ: Long = 4000000L

  /** Viterbi segmentation of one word under a piece table: maximize the
    * exact long sum of piece logpQ; ties choose the SMALLEST previous
    * position (longest last piece). Words longer than `maxWordLen` code
    * points (or empty) segment per code point. Returns the piece list;
    * a code point absent from the table becomes its own piece (only
    * reachable at encode on out-of-corpus text — training alphabets
    * always cover). */
  private[graft] def viterbi(word: String,
                             logp: java.util.HashMap[String, java.lang.Long],
                             maxPieceLen: Int, maxWordLen: Int): Array[String] = {
    val a = cps(word)
    val n = a.length
    if (n == 0) return Array.empty
    if (n > maxWordLen) return a
    val dp = new Array[Long](n + 1)
    val bt = new Array[Int](n + 1)
    java.util.Arrays.fill(dp, Long.MinValue)
    dp(0) = 0L
    var j = 1
    while (j <= n) {
      var best = Long.MinValue
      var bestI = -1
      var i = math.max(0, j - maxPieceLen)
      while (i < j) {
        if (dp(i) != Long.MinValue) {
          val piece = a.slice(i, j).mkString
          val lp = logp.get(piece)
          if (lp != null) {
            val s = dp(i) + lp.longValue()
            // strict >: i ascends, so the FIRST maximum keeps the
            // smallest i — the longest-last-piece tie-break the oracle
            // replays as ORDER BY score DESC, previ ASC LIMIT 1
            if (s > best) { best = s; bestI = i }
          }
        }
        i += 1
      }
      if (bestI < 0) { // unk code point at j-1 (encode-time only)
        best = dp(j - 1) + UnkLogpQ
        bestI = j - 1
      }
      dp(j) = best
      bt(j) = bestI
      j += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) {
      val i = bt(p)
      out += a.slice(i, p).mkString
      p = i
    }
    out.reverseIterator.toArray
  }

  /** Fixed unknown-code-point penalty (encode-time only; the trained
    * alphabet always covers its corpus): -20 nats in micro-nat fixed
    * point — far below any trained piece, so unk pieces never displace
    * a real segmentation. */
  val UnkLogpQ: Long = -20000000L

  /** One hard-EM round: Viterbi-segment every word under `prev`
    * (single-char fallback past `maxWordLen`), count pieces weighted by
    * word count, keep the alphabet (all single-char pieces of `prev`)
    * unconditionally plus the top `keepSize - |alphabet|` multi-char
    * pieces by (count DESC, piece ASC) among count >= 1, and re-price
    * with add-one smoothing over the kept set:
    * logp = ln((cnt+1) / (total + |kept|)) quantized (smoothing keeps
    * unused alphabet entries finite). `keepSize` implements the
    * SentencePiece GRADUAL prune (see [[train]]) — jumping from seed
    * straight to the target vocab lets the first round's
    * winner-take-all Viterbi wipe mid-length pieces before their
    * counts stabilize (measured +31% fertility vs BPE on the uniform
    * rich2 corpus without it). */
  private[graft] def emRound(vocab: Seq[(String, Long)], prev: Seq[Piece],
                             keepSize: Int, maxPieceLen: Int,
                             maxWordLen: Int): Seq[Piece] = {
    val table = new java.util.HashMap[String, java.lang.Long](prev.size * 2)
    prev.foreach(p => table.put(p.piece, p.logpQ))
    val cnt = scala.collection.mutable.HashMap.empty[String, Long]
    vocab.foreach { case (w, c) =>
      viterbi(w, table, maxPieceLen, maxWordLen).foreach { p =>
        cnt.update(p, cnt.getOrElse(p, 0L) + c)
      }
    }
    val (chars, multis) = prev.map(_.piece)
      .partition(p => p.codePointCount(0, p.length) == 1)
    val keptMulti = multis.iterator
      .map(p => (p, cnt.getOrElse(p, 0L)))
      .filter(_._2 >= 1L)
      .toSeq
      .sortBy(_._1)(pieceOrd)
      .sortBy(_._2)(Ordering.Long.reverse)
      .take(math.max(0, keepSize - chars.size))
    val kept = (chars.map(p => (p, cnt.getOrElse(p, 0L))) ++ keptMulti)
      .sortBy(_._1)(pieceOrd)
    val total = kept.iterator.map(_._2).sum
    val denom = math.log((total + kept.size).toDouble)
    kept.map { case (p, c) =>
      Piece(p, c, q6(math.log((c + 1).toDouble) - denom))
    }
  }

  /** Train a unigram-LM tokenizer: one distributed word-count shuffle,
    * then seed + `emRounds` hard-EM rounds driver-local (see object
    * doc). Loud `maxLocalVocab` guard — the [[Bpe.trainMergesLocal]] /
    * trainUnigramLm scale contract. */
  def train(df: DataFrame, textCol: String, seedSize: Int = 400,
            vocabSize: Int = 200, emRounds: Int = 2, maxPieceLen: Int = 5,
            maxWordLen: Int = 16,
            maxLocalVocab: Long = 5000000L,
            faithful: Boolean = false): Model = {
    require(seedSize >= 1 && vocabSize >= 1 && vocabSize <= seedSize,
      s"need 1 <= vocabSize <= seedSize, got vocabSize=$vocabSize seedSize=$seedSize")
    require(emRounds >= 0 && emRounds <= 16,
      s"emRounds must be in [0,16], got $emRounds")
    require(maxPieceLen >= 1 && maxPieceLen <= 12,
      s"maxPieceLen must be in [1,12], got $maxPieceLen")
    require(maxWordLen >= maxPieceLen && maxWordLen <= 48,
      s"maxWordLen must be in [$maxPieceLen,48], got $maxWordLen")
    val wc = Bpe.wordCounts(df, textCol, faithful)
    val guarded = wc
      .limit(math.min(maxLocalVocab + 1, Int.MaxValue.toLong).toInt)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(guarded.length <= maxLocalVocab,
      s"word vocabulary exceeds maxLocalVocab=$maxLocalVocab — the " +
        "driver-local trainer is sized for Heaps-law vocabularies; raise " +
        "the guard knowingly or pre-truncate the corpus")
    // deterministic driver-side order (collect order is partition order)
    val vocab = guarded.sortBy(_._1)(pieceOrd)
    val rounds = scala.collection.mutable.ArrayBuffer(
      seed(vocab, seedSize, maxPieceLen))
    var r = 0
    while (r < emRounds) {
      // GRADUAL prune (the SentencePiece shrink schedule, made exactly
      // integer-replayable): intermediate rounds keep
      // max(vocabSize, ceil(3·|prev|/4)); the FINAL round lands on
      // vocabSize. ceil(3n/4) = (3n+3) div 4 — pure integer arithmetic,
      // so the oracle re-derives the bound from the previous round's
      // row count with no engine state injected.
      val keep =
        if (r == emRounds - 1) vocabSize
        else math.max(vocabSize, (3 * rounds.last.size + 3) / 4)
      rounds += emRound(vocab, rounds.last, keep, maxPieceLen, maxWordLen)
      r += 1
    }
    Model(rounds.toSeq, maxPieceLen, maxWordLen, seedSize, vocabSize,
      faithful)
  }

  // ---- per-JVM memo (a tokenizer is trained once per corpus and then
  // reused by every downstream query — the trainMergesCached shape) ----
  private val modelCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, Int, Int, Int, Boolean), Model]

  def trainCached(df: DataFrame, dirKey: String, textCol: String,
                  seedSize: Int = 400, vocabSize: Int = 200,
                  emRounds: Int = 2, faithful: Boolean = false): Model =
    // textCol IS part of the key (r16 ADVICE: omitting it silently
    // returned the first column's model for a second column's call)
    modelCache.getOrElseUpdate(
      (dirKey, textCol, seedSize, vocabSize, emRounds, faithful),
      train(df, textCol, seedSize, vocabSize, emRounds, faithful = faithful))

  /** Piece ids, assigned by UTF-8 byte order over the final vocabulary
    * (a deterministic total order both engines share). */
  def pieceIds(model: Model): Map[String, Int] =
    model.pieces.map(_.piece).sorted(pieceOrd).zipWithIndex.toMap

  // ---- persisted artifact (the frozen-LM / saveLangId discipline:
  // train once offline, load at pipeline/stream start) ----

  private val ArtifactTag = "unigram-tok-v1"

  /** Persist a trained [[Model]]: `$path/unigram_pieces` = one row per
    * (round, piece) — ALL rounds, so a loaded model is bit-equal to the
    * trained one (and the oracle's induction replay stays possible from
    * the artifact alone) — and `$path/unigram_meta` = one row of the
    * training geometry + tag. Counts and quantized logps are integers:
    * bit-lossless. */
  def save(spark: org.apache.spark.sql.SparkSession, model: Model,
           path: String): Unit = {
    import spark.implicits._
    model.rounds.zipWithIndex.flatMap { case (ps, k) =>
      ps.map(p => (k, p.piece, p.freq, p.logpQ))
    }.toDF("round", "piece", "freq", "logp_q")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/unigram_pieces")
    Seq((model.maxPieceLen, model.maxWordLen, model.seedSize,
        model.vocabSize, model.rounds.size, ArtifactTag,
        if (model.faithful) Bpe.ModelFaithful else Bpe.ModelWordMarked))
      .toDF("max_piece_len", "max_word_len", "seed_size", "vocab_size",
        "n_rounds", "model_tag", "word_model")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/unigram_meta")
  }

  /** Load a [[save]]d artifact, re-validating loudly (the loadLangId
    * policy): tag, meta arity, contiguous rounds, per-round
    * non-emptiness, no duplicate piece within a round, final-round
    * alphabet coverage of every round-0 single-char piece (a model
    * whose alphabet was corrupted away would silently unk-price at
    * encode). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String): Model = {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType => ITyp, LongType => LTyp, StringType => STyp}
    val meta = graft.util.ArtifactIO.readLocal(spark, s"$path/unigram_meta",
        "max_piece_len" -> ITyp, "max_word_len" -> ITyp, "seed_size" -> ITyp,
        "vocab_size" -> ITyp, "n_rounds" -> ITyp, "model_tag" -> STyp,
        "word_model" -> STyp)
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5), r.getString(6)))
    require(meta.length == 1,
      s"unigram meta at $path/unigram_meta has ${meta.length} rows")
    val (p, lw, ss, vs, nRounds, tag, wordModel) = meta.head
    require(tag == ArtifactTag,
      s"unigram artifact at $path has model_tag '$tag', expected '$ArtifactTag'")
    require(wordModel == Bpe.ModelWordMarked || wordModel == Bpe.ModelFaithful,
      s"unigram artifact at $path carries unknown word model '$wordModel'")
    val rows = graft.util.ArtifactIO.readLocal(spark,
        s"$path/unigram_pieces", "round" -> ITyp, "piece" -> STyp,
        "freq" -> LTyp, "logp_q" -> LTyp)
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byRound = rows.groupBy(_._1)
    require(byRound.keySet == (0 until nRounds).toSet,
      s"unigram artifact at $path has rounds ${byRound.keySet.toSeq.sorted}, " +
        s"meta says 0..${nRounds - 1}")
    val rounds = (0 until nRounds).map { k =>
      val rs = byRound(k)
      require(rs.nonEmpty, s"unigram artifact round $k at $path is empty")
      require(rs.map(_._2).distinct.length == rs.length,
        s"unigram artifact round $k at $path has duplicate pieces")
      rs.sortBy(_._2)(pieceOrd).map(r => Piece(r._2, r._3, r._4)).toSeq
    }
    val alphabet = rounds.head.map(_.piece)
      .filter(x => x.codePointCount(0, x.length) == 1).toSet
    require(alphabet.subsetOf(rounds.last.map(_.piece).toSet),
      s"unigram artifact at $path lost alphabet coverage — encode would " +
        "silently unk-price corpus characters")
    Model(rounds, p, lw, ss, vs, faithful = wordModel == Bpe.ModelFaithful)
  }

  /** Segment every word of `wordsCol` (array<string>) under the model's
    * final table: one native compiled pass ([[UnigramSegmentExpr]]),
    * returning (n_pieces, score_q, pieces) with pieces concatenated
    * across words in order — `concat_ws("", pieces)` equals the
    * concatenated words EXACTLY (roundtrip by construction; unknown
    * code points become their own pieces). Broadcast-table probe, zero
    * exchanges — the [[HashedProbeExpr]] deployment shape. */
  // broadcast memoized per MODEL instance (the r16 bcCache discipline:
  // a loaded model scoring every micro-batch shares one broadcast)
  private val tableBcCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Model,
      (org.apache.spark.SparkContext,
        org.apache.spark.broadcast.Broadcast[UnigramTable])]())

  private def tableBroadcast(model: Model)
      : org.apache.spark.broadcast.Broadcast[UnigramTable] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    tableBcCache.synchronized {
      tableBcCache.get(model) match {
        case (owner, b) if (owner eq sc) && !sc.isStopped => b
        case _ =>
          val pieces = model.pieces
          val b = sc.broadcast(UnigramTable(
            pieces.map(_.piece).toArray, pieces.map(_.logpQ).toArray))
          tableBcCache.put(model, (sc, b))
          b
      }
    }
  }

  def segmentWords(wordsCol: Column, model: Model): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      UnigramSegmentExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(wordsCol),
        tableBroadcast(model), model.maxPieceLen, model.maxWordLen))

  /** Token IDS of `text` under the model — id = the piece's index in
    * the UTF-8-byte-order-sorted final vocabulary ([[pieceIds]]; the
    * `rounds` builders and [[load]] all emit the table pre-sorted, so
    * the broadcast array index IS that id). The training-file encode
    * path next to [[Bpe.tokenIds]]; unknown pieces (out-of-corpus text
    * only) emit -1, never a silent skip. */
  def tokenIds(text: Column, model: Model): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      UnigramIdsExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(
          Bpe.words(text, model.faithful)),
        tableBroadcast(model), model.maxPieceLen, model.maxWordLen))

  /** Sum of pieces over the whole document — the tokenizer-faithful
    * token count for fertility comparisons vs BPE at equal vocab. */
  def pieceCount(text: Column, model: Model): Column =
    segmentWords(Bpe.words(text, model.faithful), model).getField("n_pieces")

  // ---- deployment-grade id layouts (r16 verdict #1 — BPE parity:
  // the marked decodable stream, the byte fallback replacing the -1
  // sentinel, and the vocabulary frames a consumer decodes against) ----

  /** PLAIN closed vocabulary: piece -> id = index in the UTF-8-sorted
    * final table (== [[pieceIds]], as an ordered frame — the q131/q132
    * id assignment). */
  def vocabPlain(model: Model): Seq[(String, Int)] =
    model.pieces.map(_.piece).sorted(pieceOrd).zipWithIndex

  /** OPEN byte-fallback vocabulary ([[Bpe.vocabBytesFrom]]'s layout):
    * ids 0..255 are the 256 UTF-8 byte tokens, every piece at its plain
    * id + 256. The layout a PERSISTED unigram artifact encodes under —
    * day-2 text containing a code point the training corpus lacked
    * tokenizes as its bytes instead of emitting the -1 sentinel. */
  def vocabBytes(model: Model): Seq[(String, Int)] =
    Bpe.vocabBytesFrom(vocabPlain(model))

  /** [[vocabBytes]] plus every entry's word-initial twin at id + |base|
    * (the GPT-2 marking device, [[Bpe.vocabMarkedBytes]]'s structure) —
    * what [[tokenIdsMarked]] emits and [[decodeIds]] decodes against. */
  def vocabMarkedBytes(model: Model): Seq[(String, Int)] = {
    val base = vocabBytes(model)
    // U+0001 is the word-initial marker (Bpe.strip guarantees no token
    // can contain it -- the same collision-freedom argument as BPE's twins)
    base ++ base.map { case (t, i) => ("\u0001" + t, base.size + i) }
  }

  /** OPEN flat token ids: the [[tokenIds]] stream in the byte-fallback
    * layout — piece ids shifted by 256, unknown code points as UTF-8
    * byte ids 0..255. No -1 can ever reach a training file
    * ([[graft.operators.Packer.packTokenIds]] now rejects negatives
    * loudly; this is the encode that makes them unreachable). */
  def tokenIdsBytes(text: Column, model: Model): Column =
    org.apache.spark.sql.graft.ExprBridge.column(
      UnigramIdsExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(
          Bpe.words(text, model.faithful)),
        tableBroadcast(model), model.maxPieceLen, model.maxWordLen,
        markShift = 0, byteBase = 0))

  /** The DECODABLE marked id stream — what a training file that must
    * reconstruct its documents stores ([[Bpe.tokenIdsMarked]]'s unigram
    * twin): byte-fallback layout, each word-initial id shifted by
    * |base| = 256 + |pieces|. `decodeIds(tokenIdsMarked(text)) ==
    * concat_ws(" ", words(text))` for ANY input, unseen code points
    * included (UnigramLmSpec pins it; the q134 oracle replays it). */
  def tokenIdsMarked(text: Column, model: Model): Column = {
    require(!model.faithful,
      "tokenIdsMarked is the WORD-model decodable stream — a faithful " +
        "model's pretokens carry their own case/whitespace, so its flat " +
        "stream is already decodable: use tokenIdsFaithful/decodeIdsFlat")
    org.apache.spark.sql.graft.ExprBridge.column(
      UnigramIdsExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(Bpe.words(text)),
        tableBroadcast(model), model.maxPieceLen, model.maxWordLen,
        markShift = 256 + model.pieces.size, byteBase = 0))
  }

  /** Token IDS under the FAITHFUL word model — the unigram twin of
    * [[Bpe.tokenIdsFaithful]] (r17: the family's last fidelity gap):
    * case- and whitespace-preserving pretokens ([[Bpe.pretokens]])
    * Viterbi-segmented under a faithful-trained table, emitted as the
    * FLAT byte-fallback stream (no word-initial twin — a pretoken
    * carries its own leading space), so the concatenated id stream
    * decodes back to the EXACT text (modulo the documented
    * U+0001/U+0002 strip — [[Bpe.tokenIdsFaithful]]'s byte-domain
    * caveat applies verbatim; the supported end-to-end contract is
    * cleanText-then-encode). */
  def tokenIdsFaithful(text: Column, model: Model): Column = {
    require(model.faithful,
      "tokenIdsFaithful needs a FAITHFUL-trained model (train with " +
        "faithful = true): encoding pretokens under a lowercased-word " +
        "table would unk-price every capitalized or space-led piece")
    org.apache.spark.sql.graft.ExprBridge.column(
      UnigramIdsExpr(
        org.apache.spark.sql.graft.ExprBridge.expression(
          Bpe.words(text, faithful = true)),
        tableBroadcast(model), model.maxPieceLen, model.maxWordLen,
        markShift = 0, byteBase = 0))
  }

  /** Inverse of [[tokenIdsFaithful]] (and of any flat [[tokenIdsBytes]]
    * stream): pieces concatenate verbatim, byte runs reassemble —
    * [[Bpe.decodeIdsFlat]] against the unmarked byte-fallback
    * vocabulary (decode is a pure function of the layout). */
  def decodeIdsFlat(ids: Column, model: Model): Column =
    Bpe.decodeIdsFlat(ids, vocabBytes(model))

  /** Ids → word-model text, ONE native kernel call: the unigram marked
    * stream decodes through the SAME [[BpeDecodeIdsExpr]] kernel as
    * BPE's (decode is a pure function of the vocabulary layout — marked
    * twins become word breaks, byte runs reassemble as UTF-8; the
    * segmentation algorithm that produced the ids is irrelevant). */
  def decodeIds(ids: Column, model: Model): Column = {
    require(!model.faithful,
      "decodeIds decodes the MARKED word-model stream; faithful ids " +
        "decode with decodeIdsFlat")
    Bpe.decodeIds(ids, vocabMarkedBytes(model))
  }
}

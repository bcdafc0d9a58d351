package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DataTypes, StructField, StructType}

/** Static kernel for [[UnigramScoreExpr]] — shared by interpreted eval
  * and generated code (the [[BpeKernel]] pattern). */
object UnigramKernel {

  /** Sentinel for [[score]]'s `missLp`: a vocabulary miss THROWS (the
    * self-scored contract — the LM and the scoring pass derive from the
    * SAME corpus and tokenizer, so a miss is a wiring bug). Any other
    * value is the smoothed fixed-point -ln P of an unseen token (the
    * FROZEN-artifact contract: day-2 text WILL contain new tokens, and
    * add-one smoothing has exactly 1/(N+V) mass reserved for each). */
  val MissThrows: Long = Long.MinValue

  /** Sum the fixed-point -ln P(tok) terms of one document's token array
    * through an O(1) hash probe per token. Returns packed
    * (n_tokens, lp_sum) as an InternalRow-compatible struct. */
  def score(toks: ArrayData,
            lp: java.util.HashMap[String, java.lang.Long],
            missLp: Long): InternalRow = {
    val n = if (toks == null) 0 else toks.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i).toString
      val v = lp.get(t)
      if (v == null) {
        if (missLp == MissThrows) throw new IllegalStateException(
          s"token '$t' not in the ${lp.size}-entry unigram LM vocabulary — " +
            "the LM was trained with a different tokensOf than the scorer")
        sum += missLp
      } else sum += v.longValue
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, sum))
  }
}

/** Native unigram-LM scorer: per document, `(n_tokens, lp_sum)` under a
  * driver-collected token -> lp_i table riding as a codegen reference
  * object — the zero-shuffle scoring pass of
  * [[graft.operators.QualityModel.unigramCrossEntropy]] when the
  * vocabulary is Zipf-small enough to collect. The distributed
  * formulation explodes every corpus token a second time, probes the
  * count frame through a join, and re-aggregates doc-keyed — measured
  * as the corpus pipeline's single most expensive stage at rich32
  * (66 s of 196 s) for work that is per-row arithmetic. lp_i values are
  * computed BY Catalyst on the collected vocabulary frame (same
  * round/log expressions as the distributed path), so the two paths
  * cannot diverge on floating-point rounding. */
case class UnigramScoreExpr(child: Expression, lp: Seq[(String, Long)],
                            missLp: Long = UnigramKernel.MissThrows)
  extends UnaryExpression {

  @transient private lazy val table = {
    val m = new java.util.HashMap[String, java.lang.Long](lp.size * 2)
    lp.foreach { case (t, v) => m.put(t, java.lang.Long.valueOf(v)) }
    m
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"unigram_score expects an ARRAY<STRING> child, got ${other.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", DataTypes.IntegerType, nullable = false),
    StructField("lp_sum", DataTypes.LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "unigram_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    UnigramKernel.score(v.asInstanceOf[ArrayData], table, missLp)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("unigramLp", table, "java.util.HashMap")
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.UnigramKernel.score(
            ${c.isNull} ? null : ${c.value}, $ref, ${missLp}L);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramScoreExpr =
    copy(child = newChild)
}

/** Static kernel for [[BigramScoreExpr]] — shared by interpreted eval and
  * generated code. */
object BigramKernel {

  /** Sum the fixed-point -ln P(t_i | t_{i-1}) terms over one document's
    * conditional stream (positions 2..n) through two O(1) hash probes per
    * position. The lp table is keyed (prev -> cur -> lp_i) as a NESTED
    * map — no separator string, so tokens containing any code point
    * (including NUL) can never alias a different pair. A miss throws:
    * the LM's bigram table is derived from the SAME corpus and tokenizer
    * as the scoring pass, so every scored pair was counted — a miss is a
    * wiring bug (different tokensOf between passes), never data. Returns
    * packed (n_terms, lp_sum); documents with < 2 tokens yield (0, 0)
    * and are filtered by the caller (no conditional evidence). */
  def score(toks: ArrayData,
            lp: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]])
      : InternalRow = {
    val n = if (toks == null) 0 else toks.numElements()
    var sum = 0L
    var i = 1
    var prev: String = if (n > 0) toks.getUTF8String(0).toString else null
    while (i < n) {
      val cur = toks.getUTF8String(i).toString
      val inner = lp.get(prev)
      val v = if (inner == null) null else inner.get(cur)
      if (v == null) throw new IllegalStateException(
        s"bigram ('$prev','$cur') not in the ${lp.size}-context bigram LM " +
          "table — the LM was trained with a different tokensOf than the scorer")
      sum += v.longValue
      prev = cur
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (n >= 2) n - 1 else 0, sum))
  }
}

/** [[BigramScoreExpr]]'s nested probe table in executor-ready form. */
object BigramLpTable {
  def build(lp: Seq[((String, String), Long)])
      : java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
    lp.foreach { case ((p, c), v) =>
      var inner = m.get(p)
      if (inner == null) {
        inner = new java.util.HashMap[String, java.lang.Long]()
        m.put(p, inner)
      }
      inner.put(c, java.lang.Long.valueOf(v))
    }
    m
  }
}

/** Native interpolated-bigram-LM scorer: per document, `(n_terms, lp_sum)`
  * over the conditional stream (positions 2..n) under a driver-collected
  * (prev, cur) -> lp_i table — the zero-shuffle scoring pass of
  * [[graft.operators.QualityModel.bigramCrossEntropy]] when the distinct
  * bigram set is Zipf-small enough to collect. The distributed
  * formulation explodes every corpus position a second time and probes
  * THREE count frames through joins; here the lp_i values are computed BY
  * Catalyst on the collected bigram frame (same arithmetic expression as
  * the distributed path, built by the same function), so the two paths
  * cannot diverge on floating-point rounding. The table rides a
  * BROADCAST, not a plan-literal reference object: a reference object
  * deserializes once per TASK, and the collectable-table cap admits
  * multi-million-entry tables — exactly the per-task × threads OOM
  * measured for [[FrozenBigramTables]]. */
case class BigramScoreExpr(child: Expression,
                           table: org.apache.spark.broadcast.Broadcast[java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bigram_score expects an ARRAY<STRING> child, got ${other.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_terms", DataTypes.IntegerType, nullable = false),
    StructField("lp_sum", DataTypes.LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "bigram_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    BigramKernel.score(v.asInstanceOf[ArrayData], table.value)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("bigramLpBc", table,
      "org.apache.spark.broadcast.Broadcast")
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.BigramKernel.score(
            ${c.isNull} ? null : ${c.value},
            (java.util.HashMap) $ref.value());
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BigramScoreExpr =
    copy(child = newChild)
}

/** Static kernel for [[FrozenBigramScoreExpr]] — shared by interpreted
  * eval and generated code. */
object FrozenBigramKernel {

  /** The per-position fixed-point interpolated-bigram term, computed
    * from raw COUNTS with EXACTLY QualityModel.lpInterp's arithmetic
    * (same association order, same Catalyst ROUND semantics —
    * BigDecimal.valueOf + HALF_UP + truncating long cast — so a frozen
    * LM scoring its own training corpus is bit-identical to the
    * self-scored operator; QualityModelSpec pins it, and q106's oracle
    * match transfers the DuckDB parity). Unseen unigrams/bigrams take
    * count 0 — add-one interpolation prices any pair, so OOV is a
    * number, never an exception (the q109 contract, one order up). */
  def lpInterp(bcnt: Long, pcnt: Long, ccnt: Long,
               nTotal: Long, vocab: Long): Long = {
    // mirrors: round(-log(0.5*(b+1)/(p+V) + 0.5*(c+1)/(N+V)) * 1e6)
    // with Catalyst's left-associated double ops
    val prob = 0.5 * (bcnt + 1L).toDouble / (pcnt + vocab).toDouble +
      0.5 * (ccnt + 1L).toDouble / (nTotal + vocab).toDouble
    val v = -math.log(prob) * 1e6
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Sum the conditional stream's lp terms (positions 2..n) with counts
    * probed from the frozen tables (0 on miss). Returns packed
    * (n_terms, lp_sum); < 2 tokens yields (0, 0) — no conditional
    * evidence, filtered/NULLed by the caller. */
  def score(toks: ArrayData,
            uni: java.util.HashMap[String, java.lang.Long],
            big: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]],
            nTotal: Long, vocab: Long): InternalRow = {
    val n = if (toks == null) 0 else toks.numElements()
    var sum = 0L
    var i = 1
    var prev: String = if (n > 0) toks.getUTF8String(0).toString else null
    var pcnt: Long = if (prev != null) cntOf(uni, prev) else 0L
    while (i < n) {
      val cur = toks.getUTF8String(i).toString
      val ccnt = cntOf(uni, cur)
      val inner = big.get(prev)
      val bv = if (inner == null) null else inner.get(cur)
      val bcnt = if (bv == null) 0L else bv.longValue
      sum += lpInterp(bcnt, pcnt, ccnt, nTotal, vocab)
      prev = cur
      pcnt = ccnt
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (n >= 2) n - 1 else 0, sum))
  }

  private def cntOf(m: java.util.HashMap[String, java.lang.Long],
                    t: String): Long = {
    val v = m.get(t)
    if (v == null) 0L else v.longValue
  }
}

/** The frozen LM's probe tables in executor-ready form. BROADCAST, not
  * a plan literal: a reference-object table is deserialized once per
  * TASK (the task binary is per-task state), so a multi-million-entry
  * bigram table times 32 concurrent local tasks OOMs the JVM — measured
  * at rich32 (1/32-sample LM ~2.9M bigrams, 92 MiB task binary, 16g heap
  * dead in stage 92). A broadcast value is fetched and deserialized once
  * per EXECUTOR and shared read-only by its tasks — the same contract a
  * 1000-executor cluster needs, exercised in local mode. */
final case class FrozenBigramTables(
    uni: java.util.HashMap[String, java.lang.Long],
    big: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]])

object FrozenBigramTables {
  def build(uniCnt: Seq[(String, Long)],
            bigCnt: Seq[((String, String), Long)]): FrozenBigramTables = {
    val u = new java.util.HashMap[String, java.lang.Long](
      math.max(16, uniCnt.size * 2))
    uniCnt.foreach { case (t, c) => u.put(t, java.lang.Long.valueOf(c)) }
    val b = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
    bigCnt.foreach { case ((p, c), v) =>
      var inner = b.get(p)
      if (inner == null) {
        inner = new java.util.HashMap[String, java.lang.Long]()
        b.put(p, inner)
      }
      inner.put(c, java.lang.Long.valueOf(v))
    }
    FrozenBigramTables(u, b)
  }
}

/** Native FROZEN interpolated-bigram-LM scorer: per document,
  * `(n_terms, lp_sum)` over the conditional stream under a PERSISTED
  * reference LM's raw count tables — the day-2 scoring path of
  * [[graft.operators.QualityModel.BigramLm]] (the CCNet deployment
  * shape one Markov order up from [[UnigramScoreExpr]]'s frozen mode).
  * Unlike [[BigramScoreExpr]] (self-scored: every pair was counted, a
  * miss throws), this scorer prices UNSEEN pairs/tokens from the same
  * add-one interpolation with count 0 — so the lp table cannot be
  * precomputed (the OOV pair space is unbounded) and each term is
  * derived from counts in the kernel, with arithmetic pinned to
  * QualityModel.lpInterp (see [[FrozenBigramKernel.lpInterp]]).
  * Zero-shuffle: one codegen call per row, count tables ride as
  * reference objects. */
case class FrozenBigramScoreExpr(child: Expression,
                                 tables: org.apache.spark.broadcast.Broadcast[FrozenBigramTables],
                                 nTotal: Long, vocab: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"frozen_bigram_score expects an ARRAY<STRING> child, got ${other.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_terms", DataTypes.IntegerType, nullable = false),
    StructField("lp_sum", DataTypes.LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "frozen_bigram_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val t = tables.value
    FrozenBigramKernel.score(v.asInstanceOf[ArrayData], t.uni, t.big,
      nTotal, vocab)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("frozenLmTables", tables,
      "org.apache.spark.broadcast.Broadcast")
    ev.copy(
      code = code"""
        ${c.code}
        graft.functions.FrozenBigramTables ${ev.value}_t =
          (graft.functions.FrozenBigramTables) $ref.value();
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.FrozenBigramKernel.score(
            ${c.isNull} ? null : ${c.value}, ${ev.value}_t.uni(), ${ev.value}_t.big(),
            ${nTotal}L, ${vocab}L);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FrozenBigramScoreExpr =
    copy(child = newChild)
}

/** Static kernel for [[FrozenTrigramScoreExpr]] — shared by interpreted
  * eval and generated code. */
object FrozenTrigramKernel {

  /** The per-position fixed-point interpolated-trigram term, computed
    * from raw COUNTS with EXACTLY QualityModel.lpInterp3's arithmetic
    * (same association order, same Catalyst ROUND semantics — so a
    * frozen trigram LM scoring its own training corpus is bit-identical
    * to the self-scored q114 operator; QualityModelSpec pins it).
    * Unseen unigrams/pairs/triples take count 0 — add-one interpolation
    * prices any triple, so OOV is a number, never an exception. */
  def lpInterp3(tcnt: Long, ctxcnt: Long, bcnt: Long, pcnt: Long,
                ccnt: Long, nTotal: Long, vocab: Long): Long = {
    // mirrors: round(-log((1/3)(t+1)/(ctx+V) + (1/3)(b+1)/(p+V)
    //   + (1/3)(c+1)/(N+V)) * 1e6) with Catalyst's left-assoc double ops
    val w = 1.0 / 3
    val prob = w * (tcnt + 1L).toDouble / (ctxcnt + vocab).toDouble +
      w * (bcnt + 1L).toDouble / (pcnt + vocab).toDouble +
      w * (ccnt + 1L).toDouble / (nTotal + vocab).toDouble
    val v = -math.log(prob) * 1e6
    java.math.BigDecimal.valueOf(v)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Sum the order-3 conditional stream's lp terms (positions 3..n)
    * with counts probed from the frozen tables (0 on miss). Returns
    * packed (n_terms, lp_sum); < 3 tokens yields (0, 0) — no order-3
    * conditional evidence, NULLed by the caller. */
  def score(toks: ArrayData,
            uni: java.util.HashMap[String, java.lang.Long],
            big: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]],
            tri: java.util.HashMap[String, java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]],
            nTotal: Long, vocab: Long): InternalRow = {
    val n = if (toks == null) 0 else toks.numElements()
    var sum = 0L
    var i = 2
    var p2: String = if (n > 0) toks.getUTF8String(0).toString else null
    var p1: String = if (n > 1) toks.getUTF8String(1).toString else null
    var p1cnt: Long = if (p1 != null) cntOf(uni, p1) else 0L
    while (i < n) {
      val cur = toks.getUTF8String(i).toString
      val ccnt = cntOf(uni, cur)
      val ctxcnt = cnt2Of(big, p2, p1)
      val bcnt = cnt2Of(big, p1, cur)
      val t1 = tri.get(p2)
      val t2 = if (t1 == null) null else t1.get(p1)
      val tv = if (t2 == null) null else t2.get(cur)
      val tcnt = if (tv == null) 0L else tv.longValue
      sum += lpInterp3(tcnt, ctxcnt, bcnt, p1cnt, ccnt, nTotal, vocab)
      p2 = p1
      p1 = cur
      p1cnt = ccnt
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (n >= 3) n - 2 else 0, sum))
  }

  private def cntOf(m: java.util.HashMap[String, java.lang.Long],
                    t: String): Long = {
    val v = m.get(t)
    if (v == null) 0L else v.longValue
  }

  private def cnt2Of(m: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]],
                     p: String, c: String): Long = {
    val inner = m.get(p)
    if (inner == null) return 0L
    val v = inner.get(c)
    if (v == null) 0L else v.longValue
  }
}

/** The frozen trigram LM's probe tables in executor-ready form —
  * BROADCAST, not a plan literal (the [[FrozenBigramTables]] rationale,
  * with a strictly bigger table at this order). */
final case class FrozenTrigramTables(
    uni: java.util.HashMap[String, java.lang.Long],
    big: java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]],
    tri: java.util.HashMap[String, java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]])

object FrozenTrigramTables {
  def build(uniCnt: Seq[(String, Long)],
            bigCnt: Seq[((String, String), Long)],
            triCnt: Seq[((String, String, String), Long)]): FrozenTrigramTables = {
    val b2 = FrozenBigramTables.build(uniCnt, bigCnt)
    val t = new java.util.HashMap[String, java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]]()
    triCnt.foreach { case ((p2, p1, c), v) =>
      var m1 = t.get(p2)
      if (m1 == null) {
        m1 = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
        t.put(p2, m1)
      }
      var m2 = m1.get(p1)
      if (m2 == null) {
        m2 = new java.util.HashMap[String, java.lang.Long]()
        m1.put(p1, m2)
      }
      m2.put(c, java.lang.Long.valueOf(v))
    }
    FrozenTrigramTables(b2.uni, b2.big, t)
  }
}

/** Native FROZEN interpolated-trigram-LM scorer: per document,
  * `(n_terms, lp_sum)` over the order-3 conditional stream under a
  * PERSISTED reference LM's raw count tables — the day-2 scoring path
  * of [[graft.operators.QualityModel.TrigramLm]] (the KenLM deployment
  * shape one order up from [[FrozenBigramScoreExpr]]). Unseen
  * tokens/pairs/triples price from the same add-one interpolation with
  * count 0 (the lp table cannot be precomputed — the OOV triple space
  * is unbounded). Zero-shuffle: one codegen call per row, tables ride
  * a broadcast. */
case class FrozenTrigramScoreExpr(child: Expression,
                                  tables: org.apache.spark.broadcast.Broadcast[FrozenTrigramTables],
                                  nTotal: Long, vocab: Long)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: org.apache.spark.sql.types.StringType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"frozen_trigram_score expects an ARRAY<STRING> child, got ${other.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("n_terms", DataTypes.IntegerType, nullable = false),
    StructField("lp_sum", DataTypes.LongType, nullable = false)))
  override def nullable: Boolean = false
  override def prettyName: String = "frozen_trigram_score"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    val t = tables.value
    FrozenTrigramKernel.score(v.asInstanceOf[ArrayData], t.uni, t.big,
      t.tri, nTotal, vocab)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("frozenTriLmTables", tables,
      "org.apache.spark.broadcast.Broadcast")
    ev.copy(
      code = code"""
        ${c.code}
        graft.functions.FrozenTrigramTables ${ev.value}_t =
          (graft.functions.FrozenTrigramTables) $ref.value();
        org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
          graft.functions.FrozenTrigramKernel.score(
            ${c.isNull} ? null : ${c.value}, ${ev.value}_t.uni(), ${ev.value}_t.big(),
            ${ev.value}_t.tri(), ${nTotal}L, ${vocab}L);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): FrozenTrigramScoreExpr =
    copy(child = newChild)
}

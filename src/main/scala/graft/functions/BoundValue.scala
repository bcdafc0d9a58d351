package graft.functions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral, JavaCode, TrueLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExprBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructField, StructType}

/** A value computed once on the driver and read by generated code as
  * data. Generated code takes it as a codegen reference object, as
  * [[SrpBucketExpr]] takes its planes, never as an inlined constant, so
  * two plans that differ only in a bound value compile to the same
  * source and Spark's codegen cache serves the second from the first's
  * classes. A literal in its place (a day's `asOf`, the bucket list of an
  * upsert) is folded into the source, and every new value compiles new
  * classes.
  *
  * It is not foldable, so the optimizer never turns it back into a
  * literal. It is deterministic, so a predicate over it and partition
  * columns still prunes partitions. `value` is in Catalyst's internal
  * form: a `UTF8String`, days for a date, an `ArrayData`. */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  override def foldable: Boolean = false
  override def nullable: Boolean = value == null
  override def eval(input: InternalRow): Any = value
  override def toString: String = s"bound(${Literal(value, dataType)})"
  override def sql: String = s"bound(${Literal(value, dataType).sql})"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null)
      ev.copy(isNull = TrueLiteral, value = JavaCode.defaultLiteral(dataType))
    else {
      val ref = ctx.addReferenceObj("boundValue", value, CodeGenerator.boxedType(dataType))
      ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
        isNull = FalseLiteral)
    }
}

object BoundValue {

  /** `c` bound as data: evaluated once, over a one-row local relation that
    * the optimizer folds into a local table scan, so the driver computes
    * it and no Spark job runs. The result keeps `c`'s type, so casts and
    * comparisons over it coerce as they did over `c`. A column that is
    * already bound is returned as it is. */
  def bind(spark: SparkSession, c: Column): Column = ExprBridge.expression(c) match {
    case _: BoundValue => c
    case _ =>
      val df = spark.createDataFrame(java.util.List.of(Row(0)),
        StructType(Seq(StructField("_", IntegerType)))).select(c)
      val t = df.schema.head.dataType
      val row = df.queryExecution.executedPlan.executeCollect().head
      ExprBridge.column(BoundValue(InternalRow.copyValue(row.get(0, t)), t))
  }

  /** An int array bound as data — the partition values a filter keeps,
    * e.g. `array_contains(ints(bs), col("__bucket"))`. */
  def ints(values: Array[Int]): Column =
    ExprBridge.column(BoundValue(ArrayData.toArrayData(values),
      ArrayType(IntegerType, containsNull = false)))
}

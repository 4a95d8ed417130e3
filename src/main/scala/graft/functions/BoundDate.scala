package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DateType}

/** A date that is bound into a plan as a value, not written into its
  * generated code.
  *
  * `lit(date)` reaches whole-stage codegen as an int constant in the Java
  * source, so a loop that reruns the same pipeline for day D, D+1, ...
  * generates a new source, and compiles a new class, for every day.
  * [[BoundDate]] reads its day through `ctx.addReferenceObj` instead: every
  * day's generated source is byte-identical and hits Spark's codegen cache.
  *
  * It is `foldable = false`, so the optimizer cannot turn it back into a
  * literal. The price: a predicate over it is not translated into a data
  * source filter, so it does not push into a parquet scan. Use it for values
  * that change between calls in one session (the pipelines' loop-day
  * bounds); use `lit` where the value is fixed and pushdown matters.
  *
  * The case class carries the day, so canonical plans, `sameResult` and the
  * CacheManager still tell day D from day D+1.
  *
  * @param days days since the epoch (Spark's internal DateType value)
  */
case class BoundDate(days: Int) extends LeafExpression {
  override def dataType: DataType = DateType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def prettyName: String = "bound_date"

  private def dateString: String = DateTimeUtils.toJavaDate(days).toString
  override def toString: String = s"$prettyName($dateString)"
  override def sql: String = s"$prettyName(DATE '$dateString')"

  override def eval(input: InternalRow): Any = days

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val day = ctx.addReferenceObj("boundDay", Integer.valueOf(days), "java.lang.Integer")
    ev.copy(code = code"int ${ev.value} = $day.intValue();", isNull = FalseLiteral)
  }
}

object BoundDate {
  /** `d` as a [[BoundDate]] column: the bound counterpart of `lit(d)`. */
  def of(d: java.sql.Date): Column =
    ExpressionUtils.column(BoundDate(DateTimeUtils.fromJavaDate(d)))
}

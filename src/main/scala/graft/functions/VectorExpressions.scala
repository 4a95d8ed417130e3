package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.{bridge => ExpressionUtils}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expressions for the embedding hot path (SURVEY.md §7 M7).
  *
  * The Column-function formulation (`aggregate(zip_with(...))`) materializes
  * an intermediate array per row and evaluates a lambda per element; for a
  * 64-float dot product inside a Q×N ANN scan that is the entire inner loop.
  * These expressions generate a tight primitive loop over the underlying
  * `ArrayData` (no boxing, no intermediate arrays) and stay inside
  * whole-stage codegen.
  *
  * Semantics are bit-identical to the ordered-fold Column form: left-to-right
  * double accumulation over float elements — so they can replace it under an
  * oracle-checked query without changing results.
  */
object VectorExpressions {

  /** Σ a_i·b_i over two array<float> columns, double accumulator.
    * Null on input null or on length mismatch — exactly the
    * `aggregate(zip_with(a, b, _*_), ...)` fold form, whose zip_with
    * null-pads the shorter array and so folds a null product into a null sum.
    */
  case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true // unequal lengths → null, even for non-null inputs
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "float_vec_dot"

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |  }
           |  ${ev.value} = $acc;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ a_i² (squared L2 norm) over an array<float> column. */
  case class FloatVecNormSq(child: Expression) extends
      org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "float_vec_norm_sq"

    override def nullSafeEval(v: Any): Any = {
      val a = v.asInstanceOf[ArrayData]
      var acc = 0.0
      var i = 0
      val n = a.numElements()
      while (i < n) {
        val x = a.getFloat(i).toDouble
        acc += x * x
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val x = ctx.freshName("x")
        s"""
           |int $n = $a.numElements();
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = (double) $a.getFloat($i);
           |  $acc += $x * $x;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def floatVecDot(a: Column, b: Column): Column =
    ExpressionUtils.column(FloatVecDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def floatVecNormSq(a: Column): Column =
    ExpressionUtils.column(FloatVecNormSq(ExpressionUtils.expression(a)))
}

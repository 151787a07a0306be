package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The one vector kernel under `vec_dot` and `vec_dist2`: a sum of
  * per-element terms over the common prefix of two `array<double>` columns,
  * accumulated left to right, with `doGenCode` so it stays inside
  * whole-stage codegen as a primitive double loop — no boxing, no
  * per-element lambda interpretation (the higher-order-function
  * formulation `aggregate(zip_with(a,b,*), 0d, +)` is interpreted and ~6×
  * slower on hot paths). A subclass gives only its term, once in Scala for
  * eval and once as Java source for codegen.
  *
  * Null elements contribute 0 (embeddings carry no nulls; this matches
  * `zip_with` multiply-by-null → null → skipped-by-+ semantics closely
  * enough for our pipelines, and deterministically so).
  */
abstract class VectorFold extends BinaryExpression {

  /** The term element pair (x, y) adds to the sum. */
  protected def term(x: Double, y: Double): Double

  /** Java source of [[term]] over the generated-code doubles `x` and `y`. */
  protected def termCode(x: String, y: String): String

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) s += term(x.getDouble(i), y.getDouble(i))
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $x = $a.getDouble($i);
         |    double $y = $b.getDouble($i);
         |    $s += ${termCode(x, y)};
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}

/** `vec_dot(a, b)`: sequential dot product. Accumulation is left-to-right,
  * matching both the HOF fold and the DuckDB oracle's sequential list sum,
  * so results are bit-identical across all three. */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override protected def term(x: Double, y: Double): Double = x * y
  override protected def termCode(x: String, y: String): String = s"$x * $y"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** `vec_dist2(a, b)`: squared L2 distance — the k-means assignment kernel.
  * Bit-identical to DuckDB's sequential
  * `list_sum(list_transform(range(1,len+1), i -> (a[i]-b[i])^2))`, which is
  * what lets the IVF training oracle replay Lloyd assignments exactly
  * (see [[graft.operators.Similarity.trainIvfCentroids]]). */
case class L2Dist2(left: Expression, right: Expression) extends VectorFold {
  override protected def term(x: Double, y: Double): Double = { val d = x - y; d * d }
  override protected def termCode(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2Dist2 =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dist2"
}

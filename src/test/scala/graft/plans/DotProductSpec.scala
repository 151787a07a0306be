package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.VectorFunctions

/** The native vec_dot and vec_dist2 expressions must agree bit-for-bit
  * with their HOF folds and survive codegen. */
class DotProductSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("vec_dot == HOF fold on random vectors (bit-exact)") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 100).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("fast"),
      VectorFunctions.dotHof(col("a"), col("b")).as("ref")).collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // exact, not approximate
    }
  }

  test("vec_dot participates in whole-stage codegen") {
    // Non-foldable input (derived from range) so the expression survives
    // constant folding and lands inside a codegen stage.
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(call_function("vec_dot", col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).sum == 10 * 8.0 + 3.0 * 45.0)
    // The `*(N)` prefix marks operators inside a WholeStageCodegen stage.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_dot"), s"plan was:\n$plan")
  }

  test("mismatched lengths use the common prefix; empty arrays give 0") {
    val df = Seq((Array(1.0, 2.0, 9.0), Array(3.0, 4.0)),
      (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
      .select(call_function("vec_dot", col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(11.0, 0.0))
  }

  test("vec_dist2 == HOF fold on random vectors (bit-exact)") {
    val rnd = new scala.util.Random(12)
    val df = (1 to 100).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }.toDF("id", "a", "b")
    val got = df.select(
      VectorFunctions.dist2(col("a"), col("b")).as("fast"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0d, (s, v) -> s + v)")
        .as("ref")).collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("vec_dist2 participates in whole-stage codegen") {
    val df = spark.range(10)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
      .select(call_function("vec_dist2", col("a"), col("b")).as("d"))
    // Σ (id − 3)² over 0..9 = 105, plus (2 − 4)² = 4 per row.
    assert(df.collect().map(_.getDouble(0)).sum == 105.0 + 10 * 4.0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_dist2"), s"plan was:\n$plan")
  }

  test("vec_dist2 uses the common prefix; empty arrays give 0") {
    val df = Seq((Array(1.0, 2.0, 9.0), Array(3.0, 5.0)),
      (Array.empty[Double], Array.empty[Double])).toDF("a", "b")
      .select(call_function("vec_dist2", col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(13.0, 0.0))
  }
}

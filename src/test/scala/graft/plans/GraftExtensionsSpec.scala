package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.Tables

class GraftExtensionsSpec extends AnyFunSuite with SparkSpec {

  // Parquet-backed (a LocalRelation would be constant-folded away before
  // the rewrite is observable in the optimized plan).
  private def emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** `body` with the rule excluded: the session installs it, so the
    * unrewritten baseline each test compares against needs it off. */
  private def withoutRule[T](body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", CountFilterToExists.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("size(filter(...)) > 0 rewrites to exists and results are unchanged") {
    val query = () => emb.filter(size(filter(col("v"), x => x > lit(0.4))) > 0)
      .select("vec_id")
    assert(withoutRule(query().queryExecution.optimizedPlan.toString).contains("size(filter("))
    val before = withoutRule(query().orderBy("vec_id").collect().map(_.getLong(0)).toSeq)
    val df = query()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("exists("), s"expected exists() in:\n$optimized")
    assert(!optimized.contains("size(filter("),
      s"filter-count should be rewritten away in:\n$optimized")
    assert(df.orderBy("vec_id").collect().map(_.getLong(0)).toSeq === before)
    assert(before.nonEmpty)
  }

  test("the shared session rewrites size(filter(...)) > 0 with no extra optimizations set") {
    assert(spark.experimental.extraOptimizations.isEmpty)
    val df = emb.filter(size(filter(col("v"), x => x > lit(0.4))) > 0).select("vec_id")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("exists("), s"expected exists() in:\n$optimized")
    assert(!optimized.contains("size(filter("), optimized)
  }

  test("index-based two-arg filter lambda is NOT rewritten (exists can't take it)") {
    // filter((x, i) -> ...) has no exists() equivalent — ArrayExists
    // destructures a ONE-arg lambda and would MatchError at eval. The
    // rule must leave the two-arg form untouched AND it must still run.
    val query = () => emb.filter(
      size(filter(col("v"), (x, i) => x > lit(0.4) && i >= lit(0))) > 0)
      .select("vec_id")
    val before = withoutRule(query().orderBy("vec_id").collect().map(_.getLong(0)).toSeq)
    val df = query()
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("exists("),
      s"two-arg filter must not become exists in:\n$optimized")
    assert(df.orderBy("vec_id").collect().map(_.getLong(0)).toSeq === before)
    assert(before.nonEmpty)
  }

  test("size(filter(...)) = 0 rewrites to NOT exists") {
    val query = () => emb.filter(size(filter(col("v"), x => x > lit(0.4))) === 0)
      .select("vec_id")
    val before = withoutRule(query().orderBy("vec_id").collect().map(_.getLong(0)).toSeq)
    val df = query()
    assert(df.queryExecution.optimizedPlan.toString.contains("exists("))
    assert(df.orderBy("vec_id").collect().map(_.getLong(0)).toSeq === before)
    assert(before.nonEmpty)
  }
}

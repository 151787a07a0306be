package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** `jaccardDistinct` computes |A∪B| as |A| + |B| − |A∩B| instead of
  * materializing array_union per pair. The identity holds exactly when
  * both inputs are distinct-element arrays — which every caller passes
  * (word/char shingle sets, distinct by construction). This spec pins the
  * arithmetic form ≡ the array_union form on those shapes, empty sets
  * included (both-empty scores 0.0, not a 0/0). */
class JaccardIdentitySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def unionForm(a: org.apache.spark.sql.Column,
                        b: org.apache.spark.sql.Column) = {
    val union = size(array_union(a, b))
    when(union === 0, lit(0.0))
      .otherwise(size(array_intersect(a, b)).cast("double") / union)
  }

  test("arithmetic union size == array_union size on distinct arrays") {
    val rows = Seq(
      (Seq("a b c", "b c d"), Seq("b c d", "c d e")),
      (Seq("x"), Seq("x")),
      (Seq("x"), Seq("y")),
      (Seq.empty[String], Seq("y z w")),
      (Seq.empty[String], Seq.empty[String]),
      ((1 to 40).map(i => s"g$i"), (20 to 60).map(i => s"g$i"))
    ).toDF("a", "b")
    val bad = rows.select(
        TextFunctions.jaccardDistinct(col("a"), col("b")).as("fast"),
        unionForm(col("a"), col("b")).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("live shingle-set parity at sf0.001") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = docs.limit(60).select(col("doc_id"),
      TextFunctions.shingles(col("text"), 3).as("s"))
    val pairs = sh.as("x").join(sh.as("y"), col("x.doc_id") < col("y.doc_id"))
    val bad = pairs.select(
        TextFunctions.jaccardDistinct(col("x.s"), col("y.s")).as("fast"),
        unionForm(col("x.s"), col("y.s")).as("ref"))
      .where(col("fast") =!= col("ref"))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }
}

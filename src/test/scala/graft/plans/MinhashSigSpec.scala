package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.functions.TextFunctions

/** The native `minhash_sig` expression must equal the interpreted HOF it
  * replaced for every reachable shape — the DuckDB oracle replays the HOF
  * formulation (min over keyed md5 hex), so any divergence is a latent
  * oracle failure. Covers empty sets, single shingles, null elements, and
  * the live shingle pipeline. */
class MinhashSigSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def both(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.select(
      TextFunctions.minhashSignature(col("sh"), k).as("native"),
      TextFunctions.minhashSignatureHof(col("sh"), k).as("hof")).collect()

  test("native equals HOF on hand shapes incl. empty and null elements") {
    val rows = Seq(
      Seq("a b c", "b c d", "x"),
      Seq("one"),
      Seq.empty[String],
      Seq("dup", "dup"),
      Seq("z", "y", "x", "w", "v", "u", "t"),
      (1 to 50).map(i => s"sh$i ${i * 7}")).toDF("sh")
    both(rows, 12).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // null element: md5(null) is null, array_min skips it
    val withNull = Seq(1).toDF("x")
      .select(array(lit("a"), lit(null).cast("string"), lit("b")).as("sh"))
    both(withNull, 4).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // null array passes through as null
    val nullArr = Seq(1).toDF("x")
      .select(lit(null).cast("array<string>").as("sh"))
    nullArr.select(TextFunctions.minhashSignature(col("sh"), 3).as("n"))
      .collect().foreach(r => assert(r.isNullAt(0)))
  }

  test("native equals HOF on the live shingle pipeline") {
    val docs = (1L to 40L)
      .map(i => (i, s"the quick brown fox ${i % 7} jumps over lazy dog ${i % 3} again"))
      .toDF("doc_id", "text")
    val sh = docs.select(TextFunctions.shingles(col("text"), 3).as("sh"))
    both(sh, 12).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
  }
}

package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.functions.TextFunctions

/** The native `word_shingles` expression must equal the interpreted HOF
  * chain it replaced — order included (array_distinct keeps first
  * occurrence, and the oracle replays the same list construction). */
class WordShinglesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def both(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.select(
      TextFunctions.shinglesFromTokens(col("t"), n).as("native"),
      TextFunctions.shinglesFromTokensHof(col("t"), n).as("hof")).collect()

  test("native equals HOF incl. order, dups, short arrays, null tokens") {
    val rows = Seq(
      Seq("a", "b", "c", "d"),
      Seq("a", "b", "a", "b", "a", "b"),     // duplicate grams — first-kept order
      Seq("x"), Seq("x", "y"),               // shorter than n=3
      Seq.empty[String],
      Seq("", "a", ""),                      // empty-string tokens
      (1 to 40).map(i => s"w${i % 9}")).toDF("t")
    both(rows, 3).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    both(rows, 1).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // null elements: concat_ws skips them
    val withNull = Seq(1).toDF("x").select(
      array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")).as("t"))
    both(withNull, 3).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), r.toString)
    }
    // null ARRAY routes to the otherwise(array()) branch in both
    val nullArr = Seq(1).toDF("x").select(lit(null).cast("array<string>").as("t"))
    both(nullArr, 3).foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1) &&
        r.getSeq[String](0).isEmpty)
    }
  }

  test("native equals HOF on the live tokenize pipeline") {
    val docs = (1L to 40L)
      .map(i => (i, s"the quick brown fox ${i % 7} jumps over the lazy dog ${i % 3}"))
      .toDF("doc_id", "text")
    val t = docs.select(TextFunctions.tokens(col("text")).as("t"))
    Seq(2, 3, 4).foreach { n =>
      both(t, n).foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    }
  }
}

package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.functions.TextFunctions

/** The native byte-scan feature counts must equal the regex formulations
  * they replaced, on adversarial shapes: empty text, all-whitespace,
  * leading/trailing non-space whitespace (trim strips 0x20 only, and
  * Pattern.split(limit=-1) keeps the leading/trailing empty segments),
  * multi-byte UTF-8 (one regexp_count match per CODE POINT), marker words
  * embedded in longer \w-runs (no \b match), digit/underscore adjacency
  * (\w includes both), and case (langScore lowers first). */
class TextFeatureCountsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "",
    " ",
    "   ",
    "\t",                       // trim keeps it; split -> ["", ""]
    "\t a  b \n",               // leading/trailing \s survive trim
    "a",
    "a b\tc\nde\ff\rg",   // every \s class member as separator
    "the quick brown fox",
    "The THE the. the's theory and_more a-b a_b",
    "of to in is that it for and a the",
    "punct: !@#$%^&*() end.",
    "digits 123 mixed a1b2 _lead trail_ 9the the9",
    "unicode éè café 中文 😀 the",
    "ÉTRE the É is Über",  // uppercase accents through lower()
    "nbsp the end",   // U+00A0 is NOT Java \s and NOT \w
    "tab\tthe\ttab",
    "a  b   c",                 // multi-space runs collapse to one separator
    "and")

  private val df = texts.toDF("text")

  test("ws_token_count == size(split(trim(text), \\s+))") {
    df.select(TextFunctions.wsTokenCount(col("text")).as("n"),
        TextFunctions.wsTokenCountHof(col("text")).as("r"))
      .collect().zip(texts).foreach { case (row, t) =>
        assert(row.getLong(0) == row.getLong(1), s"text=<$t> $row")
      }
  }

  test("punct_count == regexp_count(text, [^a-zA-Z0-9\\s])") {
    df.select(TextFunctions.punctCount(col("text")).as("n"),
        TextFunctions.punctCountHof(col("text")).as("r"))
      .collect().zip(texts).foreach { case (row, t) =>
        assert(row.getLong(0) == row.getLong(1), s"text=<$t> $row")
      }
  }

  test("marker_count == regexp_count(lower(text), \\b(alt)\\b) for every lang") {
    TextFunctions.langMarkers.foreach { case (lang, pat) =>
      df.select(TextFunctions.langScore(col("text"), pat).as("n"),
          TextFunctions.langScoreHof(col("text"), pat).as("r"))
        .collect().zip(texts).foreach { case (row, t) =>
          assert(row.getLong(0) == row.getLong(1), s"lang=$lang text=<$t> $row")
        }
    }
  }

  test("ascii_count == regexp_replace length diffs (space and digit counts)") {
    val len = length(col("text")).cast("double")
    df.where(length(col("text")) > 0)
      .select(
        call_function("ascii_count", col("text"), lit(" ")).as("sp_n"),
        (len - length(regexp_replace(col("text"), " ", ""))).cast("long").as("sp_r"),
        call_function("ascii_count", col("text"), lit("0123456789")).as("dg_n"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("dg_r"))
      .collect().foreach { row =>
        assert(row.getLong(0) == row.getLong(1), s"space $row")
        assert(row.getLong(2) == row.getLong(3), s"digit $row")
      }
  }

  test("null text propagates NULL through all four (ANSI session)") {
    val n = Seq(1).toDF("x").select(lit(null).cast("string").as("text"))
    val r = n.select(
      TextFunctions.wsTokenCount(col("text")),
      TextFunctions.punctCount(col("text")),
      TextFunctions.langScore(col("text"), TextFunctions.langMarkers.head._2),
      call_function("ascii_count", col("text"), lit(" "))).collect().head
    (0 to 3).foreach(i => assert(r.isNullAt(i), s"col $i"))
  }

  test("literal-argument builders check arity, then name a non-literal " +
    "or NULL argument") {
    def refusal(c: org.apache.spark.sql.Column): String = {
      val e = intercept[Exception](df.select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    }
    Seq("word_shingles" -> "n", "minhash_sig" -> "k",
        "marker_count" -> "words", "ascii_count" -> "chars").foreach { case (fn, arg) =>
      val arity = refusal(call_function(fn, col("text")))
      assert(arity.contains(s"$fn expects") && arity.contains("got 1 args"), arity)
      val column = refusal(call_function(fn, col("text"), col("text")))
      assert(column.contains(s"$fn: argument $arg must be a literal"), column)
      val nul = refusal(call_function(fn, col("text"), lit(null)))
      assert(nul.contains(s"$fn: argument $arg must not be NULL"), nul)
    }
  }

  test("live corpus parity at sf0.001") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val bad = docs.select(
        TextFunctions.wsTokenCount(col("text")).as("a1"),
        TextFunctions.wsTokenCountHof(col("text")).as("b1"),
        TextFunctions.punctCount(col("text")).as("a2"),
        TextFunctions.punctCountHof(col("text")).as("b2"),
        TextFunctions.langScore(col("text"), TextFunctions.langMarkers.head._2).as("a3"),
        TextFunctions.langScoreHof(col("text"), TextFunctions.langMarkers.head._2).as("b3"))
      .where(col("a1") =!= col("b1") || col("a2") =!= col("b2") ||
        col("a3") =!= col("b3"))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }
}

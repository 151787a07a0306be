package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The native tokenizer-fold expressions (TokenizerFolds.GreedySegment /
  * BpeMergeFold) must be EXACTLY the interpreted HOF folds they replaced —
  * the DuckDB oracle replays the original folds, so any divergence is an
  * oracle failure waiting for a rarer word shape. Pins native ≡ HOF on an
  * adversarial word set (overlaps, repeats, boundary lengths) for both.
  */
class TokenizerFoldsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // The original interpreted greedy fold, verbatim shape (string
  // accumulator "pos|pieces"), from Corpus.greedyFoldExpr.
  private def hofSegment(maxLen: Int): String = {
    val fold = graft.operators.Corpus.greedyFoldExpr(maxLen)
    s"split(trim(element_at(split($fold, '\\\\|'), 2)), ' ')"
  }

  test("greedy_segment equals the interpreted fold on adversarial words") {
    val words = Seq(
      "a", "ab", "aba", "abab", "ababab", "ababa", "abcde", "aaaa", "aaaaa",
      "xyzzy", "zzzzzzzz", "abcabcabc", "dcba", "q", "qq", "qqq", "qqqq",
      "banana", "mississippi", "deterministic").toDF("w")
    // Vocab with pieces of every length 2..4, chosen to force longest-match
    // ties and overlaps: "ab" vs "aba" vs "abab", "aa" vs "aaa" vs "aaaa".
    val vocab = Seq("ab", "aba", "abab", "aa", "aaa", "aaaa", "an", "ana",
      "ss", "ssi", "ipp", "zz", "zzz", "bc", "abc", "de", "dete", "mini")
      .toDF("piece")
    val lists = vocab.agg(
      sort_array(collect_list(when(length(col("piece")) === 2, col("piece")))).as("v2"),
      sort_array(collect_list(when(length(col("piece")) === 3, col("piece")))).as("v3"),
      sort_array(collect_list(when(length(col("piece")) === 4, col("piece")))).as("v4"))
    val both = words.crossJoin(broadcast(lists))
      .select(col("w"), expr("greedy_segment(w, v2, v3, v4)").as("native"),
        expr(hofSegment(4)).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"divergence on '${r.getString(0)}': ${r.getSeq[String](1)} vs ${r.getSeq[String](2)}")
    }
  }

  test("greedy_segment at maxLen 2 and on the empty-piece-table edge") {
    val words = Seq("abab", "zz").toDF("w")
    val lists = Seq("ab").toDF("piece").agg(
      sort_array(collect_list(when(length(col("piece")) === 2, col("piece")))).as("v2"))
    val rows = words.crossJoin(broadcast(lists))
      .select(expr("greedy_segment(w, v2)").as("native"),
        expr(hofSegment(2)).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
    // All-empty piece tables: pure char fallback.
    val empt = words.crossJoin(broadcast(
        Seq.empty[String].toDF("piece").agg(
          sort_array(collect_list(when(length(col("piece")) === 2, col("piece")))).as("v2"))))
      .select(expr("greedy_segment(w, v2)").as("native")).collect()
    assert(empt.map(_.getSeq[String](0).mkString("")).toSet == Set("abab", "zz"))
  }

  private val hofMerge =
    "aggregate(syms, CAST(array() AS array<string>), (acc, x) -> " +
      "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b " +
      "THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b))) " +
      "ELSE concat(acc, array(x)) END)"

  test("bpe_merge_fold equals the interpreted fold, incl. overlap runs") {
    val syms = Seq(
      Seq("a", "b", "a", "b"),        // two merges
      Seq("a", "a", "a", "a"),        // overlapping run with a=b: greedy non-overlap
      Seq("a", "b", "b", "a", "b"),   // interrupted pair
      Seq("x"), Seq.empty[String],    // singleton + empty
      Seq("b", "a"), Seq("a", "b", "a")).toDF("syms")
    val cases = Seq(("a", "b"), ("a", "a"), ("b", "a"))
    cases.foreach { case (a, b) =>
      val rows = syms
        .withColumn("a", lit(a)).withColumn("b", lit(b))
        .select(expr("bpe_merge_fold(syms, a, b)").as("native"),
          expr(hofMerge).as("hof")).collect()
      rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"merge ($a,$b): ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
  }

  test("bpe_merge_fold matches on the live bpeTrain word-type shape") {
    val docs = (1L to 30L).map(i => (i, "the quick brown fox ababab banana"))
      .toDF("doc_id", "text")
    val words = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(split(col("w"), "").as("syms"), col("freq"))
      .withColumn("a", lit("a")).withColumn("b", lit("b"))
    val rows = words.select(expr("bpe_merge_fold(syms, a, b)").as("native"),
      expr(hofMerge).as("hof")).collect()
    rows.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }
}

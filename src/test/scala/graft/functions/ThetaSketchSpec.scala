package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** KMV theta sketch: losslessness below k, estimation accuracy at
  * saturation, mergeability (group rollup == single pass), set algebra,
  * and — the ADVICE r2 item — proof that the `within_tol` oracle predicate
  * used by the sketch queries CAN go false on a bad estimate. */
class ThetaSketchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("lossless below k: estimate is exactly the distinct count") {
    val df = (1 to 5000).map(i => ("g" + (i % 4), (i % 700).toLong)).toDF("g", "k")
    val got = df.groupBy($"g")
      .agg(call_function("theta_estimate",
        call_function("theta_sketch", $"k")).as("est"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 700 distinct values, every group sees a subset; all < k=4096 → exact.
    val exact = df.groupBy($"g").agg(countDistinct($"k").cast("double"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == exact)
  }

  test("saturated estimate lands within 5% (k=2048 over 60k distinct keys)") {
    // RSE ≈ 1/√(k−1): 2.2% at k=2048, so a 5% bound is ~2.3σ — and the
    // data + hash are deterministic, so the measured value is fixed.
    val df = (1L to 60000L).toDF("k")
    val est = df.agg(call_function("theta_estimate",
      call_function("theta_sketch", $"k", lit(2048))).as("e"))
      .collect().head.getDouble(0)
    assert(math.abs(est - 60000.0) / 60000.0 <= 0.05, s"est=$est")
  }

  test("string keys hash deterministically and estimate exactly below k") {
    val df = (1 to 3000).map(i => s"doc-${i % 901}").toDF("k")
    val est = df.agg(call_function("theta_estimate",
      call_function("theta_sketch", $"k")).as("e")).collect().head.getDouble(0)
    assert(est == 901.0)
  }

  test("theta_kmv_union_agg rollup over group sketches == one-pass sketch") {
    val df = (1L to 20000L).map(i => (i % 16, i % 7001)).toDF("g", "k")
    val rolled = df.groupBy($"g")
      .agg(call_function("theta_sketch", $"k", lit(1024)).as("sk"))
      .agg(call_function("theta_kmv_union_agg", $"sk").as("sk"))
      .select(call_function("theta_estimate", $"sk"))
      .collect().head.getDouble(0)
    val onePass = df
      .agg(call_function("theta_estimate",
        call_function("theta_sketch", $"k", lit(1024))).as("e"))
      .collect().head.getDouble(0)
    // Same retained hash set either way — identical estimates, not merely close.
    assert(rolled == onePass)
  }

  test("union + intersection set algebra: exact below k, within tol saturated") {
    // A = [1, 4000], B = [3001, 8000] → |A∪B| = 8000, |A∩B| = 1000.
    val a = (1L to 4000L).toDF("k")
    val b = (3001L to 8000L).toDF("k")
    def sk(df: org.apache.spark.sql.DataFrame, k: Int) =
      df.agg(call_function("theta_sketch", $"k", lit(k)).as("sk"))
    // Lossless (k=16384 > 8000): both exact.
    val exact = sk(a, 16384).crossJoin(sk(b, 16384).withColumnRenamed("sk", "sk2"))
      .select(
        call_function("theta_estimate", call_function("theta_kmv_union", $"sk", $"sk2")),
        call_function("theta_intersect_estimate", $"sk", $"sk2"))
      .collect().head
    assert(exact.getDouble(0) == 8000.0 && exact.getDouble(1) == 1000.0)
    // Saturated (k=512): union within 5%, intersection within 15%
    // (intersection RSE grows as the overlap fraction shrinks).
    val approx = sk(a, 512).crossJoin(sk(b, 512).withColumnRenamed("sk", "sk2"))
      .select(
        call_function("theta_estimate", call_function("theta_kmv_union", $"sk", $"sk2")),
        call_function("theta_intersect_estimate", $"sk", $"sk2"))
      .collect().head
    assert(math.abs(approx.getDouble(0) - 8000.0) / 8000.0 <= 0.05)
    assert(math.abs(approx.getDouble(1) - 1000.0) / 1000.0 <= 0.15)
  }

  test("theta_sketch rejects k < 1 when the function is built") {
    // With k = 0 the buffer has no room, and every row would fail in TreeSet.last().
    val e = intercept[Exception](
      (1L to 3L).toDF("k").select(call_function("theta_sketch", $"k", lit(0))).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case iae: IllegalArgumentException => iae.getMessage }.toList
    assert(messages.exists(_.contains("theta_sketch k must be >= 1, got 0")), e.toString)
  }

  test("within_tol predicate is falsifiable: a bad estimate flips it false") {
    // ADVICE r2: the oracle asserts literal TRUE for within_tol, so prove
    // here that the predicate itself can go false — feed an estimate that
    // is deliberately 2x the exact count through the same expression shape
    // used by q_sketch_merge / q_approx_distinct.
    val df = Seq((2000.0, 1000L), (1020.0, 1000L)).toDF("est", "exact")
      .withColumn("within_tol",
        abs(col("est") - col("exact").cast("double")) /
          col("exact").cast("double") <= 0.05)
    assert(df.collect().map(_.getBoolean(2)).toSeq == Seq(false, true))
  }
}

package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Quantile sketch: bucket derivation parity with the integer-shift
  * formula the DuckDB oracle replays, the relative-error guarantee
  * (estimate is a grid lower bound within 2^-P of the true rank value),
  * exact merge identity, and partial-aggregation robustness. */
class QuantileSketchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("bucket matches the bin-length shift derivation the oracle replays") {
    def oracle(v: Long): Long = {
      val e = if (v == 0) 0 else v.toBinaryString.length - 1
      val s = math.max(e - QuantileSketch.P, 0)
      (v >> s) << s
    }
    val vs = Seq(0L, 1L, 2L, 63L, 64L, 127L, 128L, 129L, 12345L,
      999999L, 50000000L, Long.MaxValue) ++ (1L to 2000L)
    vs.foreach(v => assert(QuantileSketch.bucket(v) == oracle(v), s"v=$v"))
  }

  test("estimate is a lower bound within 2^-P relative of the exact rank value") {
    // Log-uniform-ish values over 5 decades, deterministic.
    val rows = (1 to 20000).map(i => ((i.toLong * 2654435761L) % 100000000L).abs)
    val df = rows.toDF("c")
    val got = df.agg(call_function("qsk_sketch", $"c").as("sk"))
      .select(
        call_function("qsk_quantile", $"sk", lit(0.5)).as("p50"),
        call_function("qsk_quantile", $"sk", lit(0.9)).as("p90"),
        call_function("qsk_quantile", $"sk", lit(0.99)).as("p99"),
        call_function("qsk_n", $"sk").as("n"))
      .collect().head
    assert(got.getLong(3) == rows.size)
    val sorted = rows.sorted
    for ((q, est) <- Seq(0.5 -> got.getLong(0), 0.9 -> got.getLong(1),
                         0.99 -> got.getLong(2))) {
      val exact = sorted(math.max(math.ceil(q * rows.size).toInt, 1) - 1)
      assert(est <= exact, s"q=$q: est $est above exact rank value $exact")
      // est is the grid lower bound of exact's bucket: gap < 2^-P * 2^(e+1).
      assert(exact - est <= (exact >> (QuantileSketch.P - 1)),
        s"q=$q: est $est too far below exact $exact")
    }
  }

  test("merged per-group sketches == one-pass sketch, bit-identical") {
    val df = (1L to 40000L).map(i => (i % 7, (i * 31) % 99991)).toDF("g", "c")
    val rolled = df.groupBy($"g")
      .agg(call_function("qsk_sketch", $"c").as("sk"))
      .agg(call_function("qsk_merge_agg", $"sk").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    val direct = df.agg(call_function("qsk_sketch", $"c").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rolled, direct))
  }

  test("estimate is invariant to partitioning (partial-agg merge path)") {
    val rows = (1L to 30000L).map(i => (i * 7919L) % 1000000L)
    def p50(parts: Int): Long = rows.toDF("c").repartition(parts)
      .agg(call_function("qsk_quantile",
        call_function("qsk_sketch", $"c"), lit(0.5)).as("p"))
      .collect().head.getLong(0)
    assert(p50(1) == p50(13))
  }

  test("sketch state folds incrementally across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("c")
      .groupBy()
      .agg(call_function("qsk_quantile",
        call_function("qsk_sketch", $"c"), lit(0.5)).as("p50"))
      .writeStream.format("memory").queryName("qsk_stream")
      .outputMode("update").start()
    try {
      ms.addData(1L to 1000L: _*)
      q.processAllAvailable()
      ms.addData(1001L to 2000L: _*)
      q.processAllAvailable()
      // Last update reflects BOTH batches folded into one sketch state.
      val streamed = spark.table("qsk_stream").collect().last.getLong(0)
      val direct = (1L to 2000L).toDF("c")
        .agg(call_function("qsk_quantile",
          call_function("qsk_sketch", $"c"), lit(0.5)))
        .collect().head.getLong(0)
      assert(streamed == direct,
        s"incremental state $streamed != one-pass $direct")
    } finally {
      q.stop()
      spark.catalog.dropTempView("qsk_stream")
    }
  }

  test("empty sketch yields null quantile; nulls are skipped") {
    val df = Seq[Option[Long]](None, Some(10L), None).toDF("c")
    val r = df.agg(
      call_function("qsk_quantile",
        call_function("qsk_sketch", $"c"), lit(0.5)).as("p"),
      call_function("qsk_n", call_function("qsk_sketch", $"c")).as("n"))
      .collect().head
    assert(r.getLong(0) == 10L && r.getLong(1) == 1L)
    val empty = df.where($"c".isNull).agg(call_function("qsk_quantile",
      call_function("qsk_sketch", $"c"), lit(0.5)).as("p")).collect().head
    assert(empty.isNullAt(0))
  }
}

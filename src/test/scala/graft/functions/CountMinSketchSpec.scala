package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Count-min sketch: bucket derivation parity with the hex-substr formula
  * the DuckDB oracle replays, the one-sided error guarantee (never
  * underestimates), bounded overestimate on skewed data, exact merge
  * identity, and partial-aggregation robustness. */
class CountMinSketchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("buckets match the hex-substr derivation the oracle replays") {
    def fromHex(key: String): Seq[Int] = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8")).map(b => f"${b & 0xFF}%02x").mkString
      (0 until CountMinSketch.D).map(i =>
        Integer.parseInt(hex.substring(3 * i, 3 * i + 3), 16))
    }
    val keys = (1 to 1000).map(String.valueOf) ++ Seq("", "doc-42", "-17", "0")
    keys.foreach { k =>
      assert(CountMinSketch.buckets(k).toSeq == fromHex(k), s"key=$k")
    }
  }

  test("never underestimates; overestimate bounded on zipf-ish data") {
    // Key j appears ~30000/j times — a skewed frequency profile.
    val rows = (1 to 60).flatMap(j => Seq.fill(30000 / j / 10)(j.toLong))
    val df = rows.toDF("k")
    val sk = df.agg(call_function("cms_sketch", $"k").as("sk"))
    val got = sk.select(explode(array((1L to 60L).map(p => struct(
        lit(p).as("k"),
        call_function("cms_estimate", $"sk", lit(p)).as("est"))): _*)).as("e"))
      .select("e.*").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = rows.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    exact.foreach { case (k, n) =>
      val est = got(k)
      assert(est >= n, s"k=$k underestimated: $est < $n")
      // n_total * e / w per row, min over 4 rows — generous deterministic cap.
      assert(est - n <= rows.size * 3 / CountMinSketch.W, s"k=$k over by ${est - n}")
    }
  }

  test("merged per-group grids == one-pass grid, bit-identical") {
    val df = (1L to 40000L).map(i => (i % 11, i % 997)).toDF("g", "k")
    val rolled = df.groupBy($"g")
      .agg(call_function("cms_sketch", $"k").as("sk"))
      .agg(call_function("cms_merge_agg", $"sk").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    val direct = df.agg(call_function("cms_sketch", $"k").as("sk"))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(rolled, direct))
  }

  test("estimate is invariant to partitioning (partial-agg merge path)") {
    def estAt(parts: Int): Long =
      (1L to 20000L).map(_ % 500).toDF("k").repartition(parts)
        .agg(call_function("cms_estimate",
          call_function("cms_sketch", $"k"), lit(123L)).as("e"))
        .collect().head.getLong(0)
    assert(estAt(1) == estAt(7) && estAt(7) == estAt(32))
  }

  test("absent key estimates 0 when its buckets are clean; nulls skipped") {
    val df = Seq[java.lang.Long](1L, 1L, null).toDF("k")
    val est = df.agg(call_function("cms_estimate",
      call_function("cms_sketch", $"k"), lit(99999L)).as("e"))
      .collect().head.getLong(0)
    // 2 occupied buckets out of 4×4096 — probe buckets are clean for this
    // deterministic key; the null contributed nothing.
    assert(est == 0L)
  }
}

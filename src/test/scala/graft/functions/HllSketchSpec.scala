package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** md5-derived HLL sketch: register/rho derivation parity with the
  * hex-string formula the DuckDB oracle replays, estimator accuracy on
  * both branches (linear counting + raw), exact mergeability (rollup ==
  * one-pass, bit-identical), union, and partial-aggregation robustness
  * across partition counts. */
class HllSketchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("registerAndRho matches the hex-string derivation the oracle replays") {
    // Reference implementation straight off the md5 HEX STRING — the
    // formula the DuckDB SQL uses (SketchQueries.HllOracle).
    def fromHex(key: String): (Int, Int) = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xFF}%02x").mkString
      val reg = Integer.parseInt(hex.substring(0, 3), 16)
      val sfx = hex.substring(3, 16)
      val rho =
        if (sfx.forall(_ == '0')) 53
        else {
          val lead = sfx.takeWhile(_ == '0').length
          val first = sfx.dropWhile(_ == '0').head
          val nib = first match {
            case '1' => 3
            case '2' | '3' => 2
            case '4' | '5' | '6' | '7' => 1
            case _ => 0
          }
          4 * lead + nib + 1
        }
      (reg, rho)
    }
    val keys = (1 to 2000).map(String.valueOf) ++
      Seq("", "doc-42", "BUILDING", "-17", "0", "9999999999")
    keys.foreach { k =>
      assert(HllSketch.registerAndRho(k) == fromHex(k), s"key=$k")
    }
  }

  test("linear-counting branch: small cardinalities estimate within 2%") {
    val df = (1 to 10000).map(i => (i % 800).toLong).toDF("k")
    val est = df.agg(call_function("hll_md5_estimate",
      call_function("hll_md5_sketch", $"k")).as("e")).collect().head.getDouble(0)
    // 800 distinct over 4096 registers — deep in linear-counting range,
    // where the estimator is near-exact; data + hash deterministic.
    assert(math.abs(est - 800.0) / 800.0 <= 0.02, s"est=$est")
  }

  test("raw branch: 60k distinct keys estimate within 5% (RSE ~1.6%)") {
    val df = (1L to 60000L).toDF("k")
    val est = df.agg(call_function("hll_md5_estimate",
      call_function("hll_md5_sketch", $"k")).as("e")).collect().head.getDouble(0)
    assert(math.abs(est - 60000.0) / 60000.0 <= 0.05, s"est=$est")
  }

  test("merge rollup over group sketches == one-pass sketch, bit-identical") {
    val df = (1L to 30000L).map(i => (i % 13, i % 9001)).toDF("g", "k")
    val rolled = df.groupBy($"g")
      .agg(call_function("hll_md5_sketch", $"k").as("sk"))
      .agg(call_function("hll_md5_estimate",
        call_function("hll_md5_merge_agg", $"sk")).as("e"))
      .collect().head.getDouble(0)
    val direct = df.agg(call_function("hll_md5_estimate",
      call_function("hll_md5_sketch", $"k")).as("e")).collect().head.getDouble(0)
    assert(rolled == direct) // register-wise max is associative — EXACT
  }

  test("hll_md5_union of disjoint halves == sketch of the whole") {
    val lo = (1L to 5000L).toDF("k")
      .agg(call_function("hll_md5_sketch", $"k").as("a"))
    val hi = (5001L to 10000L).toDF("k")
      .agg(call_function("hll_md5_sketch", $"k").as("b"))
    val unioned = lo.crossJoin(hi)
      .select(call_function("hll_md5_estimate",
        call_function("hll_md5_union", $"a", $"b")).as("e"))
      .collect().head.getDouble(0)
    val whole = (1L to 10000L).toDF("k")
      .agg(call_function("hll_md5_estimate",
        call_function("hll_md5_sketch", $"k")).as("e"))
      .collect().head.getDouble(0)
    assert(unioned == whole)
  }

  test("estimate is invariant to partitioning (partial-agg merge path)") {
    def estAt(parts: Int): Double =
      (1L to 20000L).toDF("k").repartition(parts)
        .agg(call_function("hll_md5_estimate",
          call_function("hll_md5_sketch", $"k")).as("e"))
        .collect().head.getDouble(0)
    assert(estAt(1) == estAt(7) && estAt(7) == estAt(32))
  }

  test("nulls are skipped; empty input yields the zero sketch (estimate 0)") {
    val df = Seq[java.lang.Long](null, null).toDF("k")
    val est = df.agg(call_function("hll_md5_estimate",
      call_function("hll_md5_sketch", $"k")).as("e")).collect().head.getDouble(0)
    // All-zero registers → linear counting with V = m → m·ln(1) = 0.
    assert(est == 0.0)
  }

  test("string and long keys of equal canonical form land identically") {
    val asLong = (1L to 1000L).toDF("k")
      .agg(call_function("hll_md5_sketch", $"k").as("sk")).collect().head.getAs[Array[Byte]](0)
    val asStr = (1L to 1000L).map(String.valueOf).toDF("k")
      .agg(call_function("hll_md5_sketch", $"k").as("sk")).collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(asLong, asStr))
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** The sketch families' one checked wire decode: every value an encoder
  * writes reads back (partial forms included), and a value of one family
  * is refused by another's functions instead of being read as garbage. */
class SketchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def sketchOf(fn: String, extra: Column*): Array[Byte] =
    (1L to 500L).toDF("k").agg(call_function(fn, $"k" +: extra: _*))
      .head().getAs[Array[Byte]](0)

  /** `body` throws, with an IllegalArgumentException naming `fn` in its
    * cause chain. */
  private def refusedBy(fn: String)(body: => Any): Unit = {
    val e = intercept[Exception](body)
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    val named = chain.collectFirst {
      case iae: IllegalArgumentException if iae.getMessage.startsWith(s"$fn: not a ") => iae
    }
    assert(named.nonEmpty, chain.map(_.toString).mkString(" | "))
  }

  private def applied(fn: String, sketch: Array[Byte]): Unit =
    Seq(sketch).toDF("sk").select(call_function(fn, $"sk")).collect()

  test("every wire value a family writes decodes, partial forms included") {
    def roundTrips[B](f: Sketch[B]): Unit = {
      val built = f.empty
      val key = f.key(LongType)
      (1L to 300L).foreach(v => f.add(built, key(v)))
      for (b <- Seq(f.empty, f.identity, built); form <- Seq(f.partial _, f.result _)) {
        val bytes = form(b)
        assert(form(f.decode(bytes, "spec")).sameElements(bytes), s"$f: ${bytes.length} bytes")
      }
    }
    roundTrips(HllSketch)
    roundTrips(ThetaSketch())
    roundTrips(ThetaSketch(16))
    roundTrips(CountMinSketch)
    roundTrips(QuantileSketch)
    roundTrips(Bloom(1024, 3))
    // The identity partials: HLL's no-width empty array, theta's uncapped k.
    assert(HllSketch.partial(HllSketch.identity).isEmpty)
    assert(java.nio.ByteBuffer.wrap(ThetaSketch().partial(ThetaSketch().identity)).getInt
      == Int.MaxValue)
  }

  test("theta_estimate over a cms_sketch throws") {
    refusedBy("theta_estimate")(applied("theta_estimate", sketchOf("cms_sketch")))
  }

  test("hll_md5_estimate over a theta_sketch throws") {
    refusedBy("hll_md5_estimate")(applied("hll_md5_estimate", sketchOf("theta_sketch")))
  }

  test("hll_md5_estimate over a string column fails its type check under its own name") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a").toDF("s").select(call_function("hll_md5_estimate", $"s")).collect()
    }
    assert(e.getMessage.contains("hll_md5_estimate requires a binary sketch"), e.getMessage)
  }

  test("bloom_might_contain over an HLL sketch throws") {
    val hll = sketchOf("hll_md5_sketch")
    refusedBy("bloom_might_contain") {
      (1L to 10L).toDF("k").where(call_function("bloom_might_contain", lit(hll), $"k")).collect()
    }
  }

  test("a truncated sketch throws in every family") {
    Seq("theta_estimate" -> sketchOf("theta_sketch"), "hll_md5_estimate" -> sketchOf("hll_md5_sketch"),
        "qsk_n" -> sketchOf("qsk_sketch"), "cms_merge_agg" -> sketchOf("cms_sketch"))
      .foreach { case (fn, sk) =>
        refusedBy(fn)(applied(fn, sk.dropRight(8)))
        refusedBy(fn)(applied(fn, sk.take(5)))
      }
    refusedBy("bloom_might_contain")(Bloom.mightContainBytes(
      sketchOf("bloom_agg", lit(1024), lit(3)).dropRight(8), 1L))
  }
}

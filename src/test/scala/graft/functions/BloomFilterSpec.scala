package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

class BloomFilterSpec extends AnyFunSuite with SparkSpec {

  private def buildBloom(keys: Seq[Long], numBits: Int, k: Int): Array[Byte] = {
    import spark.implicits._
    keys.toDF("k")
      .select(call_function("bloom_agg", col("k"), lit(numBits), lit(k)))
      .head().getAs[Array[Byte]](0)
  }

  test("no false negatives, distributed build == local build") {
    val keys = (0L until 5000L).map(_ * 7919L)
    val bytes = buildBloom(keys, numBits = 1 << 16, k = 5)
    val bf = Bloom.decode(bytes, "spec")
    val (nb, k, words) = (bf.numBits, bf.k, bf.words)
    assert(nb == (1 << 16) && k == 5)
    keys.foreach { key =>
      assert(Bloom.mightContain(words, nb, k, SketchKeys.hashLong(key)),
        s"false negative for $key")
    }
    // Local single-threaded build must produce the identical bit array
    // (OR-merge of partials is order-independent).
    val local = new Array[Long](nb / 64)
    keys.foreach(key => Bloom.setBits(local, nb, k, SketchKeys.hashLong(key)))
    assert(words.toSeq == local.toSeq)
  }

  test("false-positive rate near target") {
    val n = 5000L
    val (nb, k) = Bloom.sizeFor(n, 0.01)
    val bytes = buildBloom((0L until n).map(_ * 7919L), nb, k)
    val bf = Bloom.decode(bytes, "spec")
    val probes = (1L to 20000L).map(_ * 7919L + 3L) // disjoint from keys
    val fp = probes.count(p => Bloom.mightContain(bf.words, bf.numBits, bf.k, SketchKeys.hashLong(p)))
    val rate = fp.toDouble / probes.size
    assert(rate < 0.05, s"fp rate $rate far above the 0.01 target")
  }

  test("codegen'd probe filter matches exact semi join") {
    import spark.implicits._
    val dim = (0L until 200L).map(_ * 3L)
    val fact = (0L until 600L)
    val (nb, k) = Bloom.sizeFor(dim.size.toLong, 0.01)
    val bytes = buildBloom(dim, nb, k)
    val pre = fact.toDF("f")
      .where(call_function("bloom_might_contain", lit(bytes), col("f")))
      .as[Long].collect().toSet
    // Everything in dim survives; survivors beyond dim are false positives
    // removed by the exact join the operator composes with.
    assert(dim.toSet.subsetOf(pre))
    val exact = fact.toDF("f")
      .join(dim.toDF("d"), col("f") === col("d"), "left_semi")
      .as[Long].collect().toSet
    assert(exact == dim.filter(_ < 600).toSet)
    assert(exact.subsetOf(pre))
  }

  test("string keys round-trip") {
    import spark.implicits._
    val keys = (0 until 300).map(i => s"doc_$i")
    val bytes = keys.toDF("k")
      .select(call_function("bloom_agg", col("k"), lit(1 << 13), lit(4)))
      .head().getAs[Array[Byte]](0)
    val hits = (keys ++ (1000 until 1300).map(i => s"doc_$i")).toDF("k")
      .where(call_function("bloom_might_contain", lit(bytes), col("k")))
      .as[String].collect().toSet
    assert(keys.toSet.subsetOf(hits))
  }
}

package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.plans.Morton
import graft.TestDirs.tempDir

/** Sort-clustered data layout: the Morton code's algebra (roundtrip,
  * per-dimension monotonicity incl. negatives), clusterParquet's
  * disjoint-per-file-range contract, and the z-order skipping win a
  * single-column sort can't give — all on content-identical rewrites.
  */
class ClusteredLayoutSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("Morton interleave/deinterleave roundtrip incl. negatives") {
    val probes = Seq(0, 1, -1, 42, -42, 65535, -65536,
      Int.MaxValue, Int.MinValue, 123456789, -987654321)
    for (a <- probes; b <- probes) {
      val z = Morton.interleave(a, b)
      assert(Morton.deinterleaveA(z) == a, s"A roundtrip ($a,$b)")
      assert(Morton.deinterleaveB(z) == b, s"B roundtrip ($a,$b)")
    }
  }

  test("Morton code is monotone in each dimension with the other fixed") {
    val sorted = Seq(Int.MinValue, -1000, -1, 0, 1, 7, 1000, Int.MaxValue)
    for (fixed <- Seq(-5, 0, 12345)) {
      val byA = sorted.map(a => Morton.interleave(a, fixed))
      assert(byA == byA.sorted, s"monotone in a at b=$fixed")
      val byB = sorted.map(b => Morton.interleave(fixed, b))
      assert(byB == byB.sorted, s"monotone in b at a=$fixed")
    }
  }

  test("clusterParquet: disjoint per-file ranges, content unchanged") {
    val dir = s"${tempDir("graft_cluster").toString}/t"
    // Shuffled key order across 8 files — the worst layout for stats.
    val rnd = new scala.util.Random(7)
    rnd.shuffle((0 until 4000).toList).map(k => (k.toLong, s"p_$k"))
      .toDF("k", "payload").repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq

    val (nBefore, nAfter) = Maintenance.clusterParquet(spark, dir, Seq("k"),
      targetFileBytes = 16L * 1024)
    assert(nBefore == 8 && nAfter > 1)

    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)

    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"k").as("lo"), max($"k").as("hi"))
      .orderBy($"lo").collect()
    assert(ranges.length == nAfter)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(b.getLong(1) > a.getLong(2),
        s"overlap: ${a.mkString(",")} vs ${b.mkString(",")}")
      case _ =>
    }
  }

  test("z-order clustering skips files for a 2-D box; 1-D sort cannot") {
    def write(dir: String): Unit = {
      val rnd = new scala.util.Random(11)
      rnd.shuffle((for (a <- 0 until 64; b <- 0 until 64) yield (a, b)).toList)
        .toDF("a", "b").repartition(8).write.parquet(dir)
    }
    def overlapping(dir: String): (Long, Long) = {
      // Box [0..15] x [0..15]: a file can hold matches only if both
      // per-dimension minima reach into the box.
      val r = spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min($"a").as("ma"), min($"b").as("mb"))
        .agg(count(lit(1)).as("total"),
          sum(when($"ma" <= 15 && $"mb" <= 15, 1).otherwise(0)).as("hit"))
        .collect()(0)
      (r.getLong(1), r.getLong(0))
    }

    val zDir = s"${tempDir("graft_zorder").toString}/t"
    write(zDir)
    val before = spark.read.parquet(zDir).orderBy("a", "b").collect().toSeq
    Maintenance.clusterParquetByKey(spark, zDir,
      df => call_function("zorder2", df.col("a"), df.col("b")),
      targetFileBytes = 2L * 1024)
    assert(spark.read.parquet(zDir).orderBy("a", "b").collect().toSeq == before,
      "z-order rewrite must not change content")
    val (zHit, zTotal) = overlapping(zDir)
    assert(zTotal > 3, s"need a real file population, got $zTotal")
    assert(zHit < zTotal, s"z-order skipped nothing: $zHit/$zTotal")

    // Contrast: clustering by `a` alone leaves every file spanning the
    // full `b` range, so min(b)=0 everywhere and nothing is skippable
    // on the second dimension (the box check hits every low-a file AND
    // every file whose a-range starts in the box — here all files with
    // min(a) <= 15, which for a 1-D layout over uniform a is fewer
    // files, but a box on B ALONE (a unconstrained) hits ALL of them).
    val sDir = s"${tempDir("graft_sorted").toString}/t"
    write(sDir)
    Maintenance.clusterParquet(spark, sDir, Seq("a"), targetFileBytes = 2L * 1024)
    val bOnly = spark.read.parquet(sDir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"b").as("mb"))
      .agg(count(lit(1)).as("total"),
        sum(when($"mb" <= 15, 1).otherwise(0)).as("hit"))
      .collect()(0)
    assert(bOnly.getLong(1) == bOnly.getLong(0),
      "sanity: 1-D a-sort leaves every file overlapping a b-box")
    // The z-order layout DOES skip for the same b-only box.
    val zB = spark.read.parquet(zDir)
      .groupBy(input_file_name().as("f"))
      .agg(min($"b").as("mb"))
      .agg(count(lit(1)).as("total"),
        sum(when($"mb" <= 15, 1).otherwise(0)).as("hit"))
      .collect()(0)
    assert(zB.getLong(1) < zB.getLong(0),
      s"z-order must skip on b alone: ${zB.getLong(1)}/${zB.getLong(0)}")

    // Temp layout dirs accumulate across suite runs otherwise.
    Maintenance.deleteRecursively(new java.io.File(zDir).getParentFile)
    Maintenance.deleteRecursively(new java.io.File(sDir).getParentFile)
  }
}

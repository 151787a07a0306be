package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** Small-file compaction: many tiny appended files collapse to the
  * byte-budgeted count, no row lost or duplicated, and the swap is
  * commit-gated (staging `_SUCCESS` before the old dir is removed).
  */
class MaintenanceSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("compactParquet merges a small-file tail and preserves every row") {
    val dir = s"${tempDir("graft_compact").toString}/t"
    // 20 single-file appends — the streaming-sink shape.
    (0 until 20).foreach { i =>
      Seq.tabulate(50)(j => (i.toLong * 50 + j, s"row_${i}_$j"))
        .toDF("id", "payload").repartition(1)
        .write.mode("append").parquet(dir)
    }
    val beforeRows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(beforeRows.size == 1000)

    val (nBefore, nAfter) = Maintenance.compactParquet(spark, dir,
      targetFileBytes = 1L * 1024 * 1024)
    assert(nBefore == 20)
    // 20 tiny files total well under 1 MiB -> exactly one output file.
    assert(nAfter == 1)

    val afterRows = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(afterRows == beforeRows)
  }

  /** The validated preconditions (ADVICE carry): non-local URI paths,
    * partitioned table roots, and a stale aside dir from an unfinished
    * rewrite must all be REJECTED up front — never silently mis-sized or
    * clobbered. */
  test("precondition violations are rejected before any rewrite") {
    // URI / remote path.
    intercept[IllegalArgumentException] {
      Maintenance.compactParquet(spark, "hdfs://nn/warehouse/t")
    }
    // Partitioned root (non-underscore subdir).
    val root = s"${tempDir("graft_compact_root").toString}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p")
      .write.partitionBy("p").parquet(root)
    intercept[IllegalArgumentException] {
      Maintenance.compactParquet(spark, root)
    }
    // Stale aside from a crashed previous rewrite.
    val dir = s"${tempDir("graft_compact_aside").toString}/t"
    Seq((1L, "a")).toDF("id", "payload").write.parquet(dir)
    Files.createDirectory(java.nio.file.Paths.get(s"${dir}_pre_compact"))
    intercept[IllegalArgumentException] {
      Maintenance.compactParquet(spark, dir)
    }
  }

  test("target smaller than total bytes yields multiple evenly-counted files") {
    val dir = s"${tempDir("graft_compact2").toString}/t"
    (0 until 8).foreach { i =>
      Seq.tabulate(500)(j => (i.toLong * 500 + j, "x" * 100))
        .toDF("id", "payload").repartition(1)
        .write.mode("append").parquet(dir)
    }
    val total = spark.read.parquet(dir).count()
    val (_, nAfter) = Maintenance.compactParquet(spark, dir,
      targetFileBytes = 8 * 1024)
    assert(nAfter > 1)
    assert(spark.read.parquet(dir).count() == total)
  }
}

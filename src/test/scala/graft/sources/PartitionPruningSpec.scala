package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** The lakehouse layout contract at 100 TB: facts are written
  * hive-partitioned by a low-cardinality column (here: event day) so a
  * day-scoped query plans `PartitionFilters` and never opens the other
  * days' files. This spec proves both halves on a real write+read cycle:
  * the writer produces one directory per day, and a filtered read shows
  * the pruned partition count in its FileSourceScan.
  */
class PartitionPruningSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val dir = {
    val d = tempDir("graft_prune").toFile
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("day", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("day").parquet(d.getAbsolutePath)
    d.getAbsolutePath
  }

  test("partitionBy writes one hive directory per day") {
    val days = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName).sorted
    assert(days.length >= 25, s"expected ~30 day partitions, got ${days.length}")
    assert(days.head.matches("day=2024-01-01"))
  }

  test("a day-scoped read prunes to one partition (PartitionFilters in plan)") {
    val q = spark.read.parquet(dir).where(col("day") === "2024-01-15")
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.partitionFilters.nonEmpty, "day filter must be a partition filter")
    // The scan's selected partitions must be exactly the one day.
    assert(scan.relation.location.listFiles(scan.partitionFilters, Nil).length === 1)
    // And the data filter list must NOT contain the day predicate (it is
    // satisfied by pruning, not by row-level filtering).
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "day")))
  }

  test("pruned read returns exactly that day's rows") {
    val expected = Tables.events(spark, "/root/testdata/sf0.001")
      .where(to_date(col("ts")) === "2024-01-15").count()
    val actual = spark.read.parquet(dir).where(col("day") === "2024-01-15").count()
    assert(actual === expected && actual > 0)
  }
}

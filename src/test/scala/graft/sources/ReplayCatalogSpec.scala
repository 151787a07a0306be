package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.sources.replay.ReplayLog
import graft.TestDirs.tempDir

/** The `graft-replay` TableCatalog: logs addressed as catalog tables,
  * Spark's own `VERSION AS OF` / `TIMESTAMP AS OF` syntax resolving
  * through the snapshot chain, DDL (CREATE/DROP/RENAME TABLE,
  * namespaces) as directory operations, and INSERT INTO running the
  * ordinary commit protocol. */
class ReplayCatalogSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val root = tempDir("replay_cat").toString
  private val cat = "graft_cat_test"

  spark.conf.set(s"spark.sql.catalog.$cat",
    "graft.sources.replay.ReplayCatalog")
  spark.conf.set(s"spark.sql.catalog.$cat.root", root)

  private def sample(lo: Long, hi: Long) = (lo to hi).map { i =>
    (i, 1000L + i * 10, s"w${i % 4}", i * 1.5)
  }.toDF("offset", "ts_unix", "wallet_id", "amount")

  test("namespace + table DDL are directory operations; reads resolve by name") {
    spark.sql(s"CREATE NAMESPACE $cat.billing")
    assert(new java.io.File(root, "billing").isDirectory)
    spark.sql(s"CREATE TABLE $cat.billing.deposits")
    // An empty log reads as zero rows (manifest present, no segments).
    assert(spark.table(s"$cat.billing.deposits").count() == 0L)
    // INSERT INTO runs the V2 append through the commit protocol.
    sample(1, 20).repartition(1).createOrReplaceTempView("src1")
    spark.sql(s"INSERT INTO $cat.billing.deposits SELECT * FROM src1")
    assert(spark.table(s"$cat.billing.deposits").count() == 20L)
    assert(spark.sql(s"SHOW TABLES IN $cat.billing").collect()
      .map(_.getString(1)).contains("deposits"))
    // A path-written log under the root is equally visible by name.
    ReplayLog.writeSegments(sample(1, 10), s"$root/billing/archive", 1)
    assert(spark.table(s"$cat.billing.archive").count() == 10L)
  }

  test("VERSION AS OF and TIMESTAMP AS OF resolve the snapshot chain") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.tt")
    val dir = s"$root/tt/log"
    ReplayLog.writeSegments(sample(1, 10), dir, 1) // v1
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    ReplayLog.writeSegments(sample(11, 30), dir, 1) // v2
    assert(spark.sql(s"SELECT * FROM $cat.tt.log VERSION AS OF 1").count() == 10L)
    assert(spark.sql(s"SELECT * FROM $cat.tt.log VERSION AS OF 2").count() == 30L)
    assert(spark.table(s"$cat.tt.log").count() == 30L)
    // TIMESTAMP AS OF an instant between the commits sees only v1.
    val ts = new java.sql.Timestamp(between + 5)
    assert(spark.sql(
      s"SELECT * FROM $cat.tt.log TIMESTAMP AS OF '$ts'").count() == 10L)
    // Before the first commit: loud, not empty.
    val e = intercept[Exception] {
      val early = new java.sql.Timestamp(between - 3600 * 1000)
      spark.sql(s"SELECT * FROM $cat.tt.log TIMESTAMP AS OF '$early'").count()
    }
    assert(e.getMessage.contains("no snapshot committed"))
    // Unknown version: loud.
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tt.log VERSION AS OF 9").count()
    }
    assert(e2.getMessage.contains("no snapshot v9"))
  }

  test("pushdown still reaches the scan through the catalog path") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.pd")
    ReplayLog.writeSegments(sample(1, 40), s"$root/pd/log", 4)
    val df = spark.table(s"$cat.pd.log").where(col("offset") >= 31L)
    val desc = df.queryExecution.executedPlan.toString
    assert(desc.contains("GreaterThanOrEqual(offset,31)"), desc)
    assert(desc.contains("segments 1/4"), desc)
    assert(df.count() == 10L)
  }

  test("writeStream.toTable lands in a catalog table through the epoch-committed sink") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.st")
    spark.sql(s"CREATE TABLE $cat.st.sunk")
    val srcDir = s"$root/st/src"
    ReplayLog.writeSegments(sample(1, 30), srcDir, 3)
    val q = spark.readStream.format("graft-replay")
      .option("maxSegmentsPerTrigger", "1").load(srcDir)
      .where(col("amount") >= 15.0)
      .writeStream
      .option("checkpointLocation",
        tempDir("cat_sink_cp").toString)
      .toTable(s"$cat.st.sunk")
    try q.processAllAvailable() finally q.stop()
    // 30 frames, amount = offset*1.5 >= 15 -> offsets 10..30 = 21 rows,
    // readable back by catalog name and epoch-recorded in the manifest.
    assert(spark.table(s"$cat.st.sunk").count() == 21L)
    assert(spark.table(s"$cat.st.sunk")
      .agg(min(col("offset"))).head().getLong(0) == 10L)
  }

  test("rename and drop move/remove the log directory; fixed schema enforced") {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.ops")
    spark.sql(s"CREATE TABLE $cat.ops.a")
    spark.sql(s"ALTER TABLE $cat.ops.a RENAME TO ops.b")
    assert(!new java.io.File(root, "ops/a").exists())
    assert(spark.table(s"$cat.ops.b").count() == 0L)
    spark.sql(s"DROP TABLE $cat.ops.b")
    assert(!new java.io.File(root, "ops/b").exists())
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ops.bad (x INT)")
    }
    assert(e.getMessage.contains("fixed schema"))
  }
}

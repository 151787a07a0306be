package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** Source/sink format coverage (SURVEY §2.2 scans/sinks): the same rows
  * must survive parquet → {csv, json, orc} round trips. */
class FormatsSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = tempDir("graft_formats").toString
  private lazy val base = Tables.customer(spark, "/root/testdata/sf0.001")
    .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))

  private def roundTrip(fmt: String): Unit = {
    val path = s"$tmp/$fmt"
    base.write.mode("overwrite").format(fmt)
      .option("header", "true").save(path)
    val back = spark.read.format(fmt)
      .option("header", "true").option("inferSchema", "true").load(path)
    val a = base.orderBy(col("c_custkey")).collect().toSeq
    val b = back.select(col("c_custkey").cast("long"), col("c_name"),
        col("c_acctbal").cast("double"), col("c_mktsegment"))
      .orderBy(col("c_custkey")).collect().toSeq
    assert(a.size == b.size && a.zip(b).forall { case (x, y) => x == y },
      s"$fmt round trip diverged")
  }

  test("csv round trip preserves rows")  { roundTrip("csv") }
  test("json round trip preserves rows") { roundTrip("json") }
  test("orc round trip preserves rows")  { roundTrip("orc") }
}

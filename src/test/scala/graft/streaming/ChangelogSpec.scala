package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.TimedDeposit
import graft.TestDirs.tempDir

/** The KafkaTopology changelog pattern, actually exercised: collector
  * updates append to a parquet changelog via foreachBatch; readers take
  * the latest row per key (compacted-topic semantics). */
class ChangelogSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("foreachBatch parquet changelog: latest row per wallet wins") {
    val dir = tempDir("graft_changelog").toString
    val path = s"$dir/balance-table"
    val input = MemoryStream[TimedDeposit]
    val q = DepositStreams.collector(spark, input.toDS())
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("update")
      .foreachBatch { (batch: Dataset[DepositStreams.BalanceRow], _: Long) =>
        batch.write.mode("append").parquet(path)
      }
      .start()
    input.addData(Seq(TimedDeposit("w1", 100.0, 1000L, 1L),
      TimedDeposit("w2", 50.0, 1001L, 2L)))
    q.processAllAvailable()
    input.addData(Seq(TimedDeposit("w1", 25.0, 1100L, 3L)))
    q.processAllAvailable()
    q.stop()

    // Changelog holds every version; the view is latest-per-key.
    val log = spark.read.parquet(path)
    assert(log.count() == 3) // w1 v1, w2 v1, w1 v2
    val latest = log.groupBy(col("walletId"))
      .agg(max_by(col("balance"), col("nDeposits")).as("balance"))
      .as[(String, Double)].collect().toMap
    assert(latest == Map("w1" -> 125.0, "w2" -> 50.0))
  }
}

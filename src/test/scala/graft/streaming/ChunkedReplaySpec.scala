package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.sources.Tables
import graft.TestDirs.tempDir

/** The stream_check harness replays its file-backed feed in ONE
  * micro-batch (StreamQueries class doc); production replay is CHUNKED —
  * a Kafka consumer delivers each wallet's history across many polls.
  * This spec proves the chunked shape is equivalent: the same deposits
  * appended to a file source in three time-ordered slices (every wallet's
  * state continues across micro-batch boundaries) emit EXACTLY the same
  * flag events as the single-batch replay.
  */
class ChunkedReplaySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val WindowSec = 86400L
  private val Threshold = 300.0

  private def deposits: Dataset[TimedDeposit] = {
    Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("value") > 0)
      .select(
        col("user_id").cast("string").as("walletId"),
        col("value").as("amount"),
        expr("unix_micros(ts) div 1000000").as("tsUnix"),
        col("event_id").as("seq"))
      .as[TimedDeposit]
  }

  test("three-slice chunked replay emits the same flag events as one batch") {
    val all = deposits
    val Array(t1, t2) = all.stat.approxQuantile("tsUnix", Array(0.33, 0.66), 0.0)

    val feedDir = tempDir("graft_chunked_feed").toString
    val work = tempDir("graft_chunked_work").toString

    // Slice 1 seeds the directory so the source has a schema-bearing file.
    all.filter(col("tsUnix") <= t1.toLong)
      .write.mode("append").parquet(feedDir)

    val name = "chunked_replay_out"
    val q = DepositStreams.detector(spark,
        spark.readStream.schema(Encoders.product[TimedDeposit].schema)
          .parquet(feedDir).as[TimedDeposit],
        WindowSec, Threshold)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", s"$work/cp")
      .outputMode("append").start()
    q.processAllAvailable()
    // Later slices arrive as NEW files -> new micro-batches; per-wallet
    // state (rolling window anchor, running sum) must carry across.
    all.filter(col("tsUnix") > t1.toLong && col("tsUnix") <= t2.toLong)
      .write.mode("append").parquet(feedDir)
    q.processAllAvailable()
    all.filter(col("tsUnix") > t2.toLong)
      .write.mode("append").parquet(feedDir)
    q.processAllAvailable()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    val chunked = spark.table(name).as[KeyedFlagEvent].collect().toSeq
      .sortBy(e => (e.walletId, e.seq))

    // Reference: the whole feed in a single micro-batch.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TimedDeposit]
    val q2 = DepositStreams.detector(spark, in.toDS(), WindowSec, Threshold)
      .writeStream.format("memory").queryName(s"${name}_ref")
      .outputMode("append").start()
    in.addData(all.collect().toSeq)
    q2.processAllAvailable(); q2.stop()
    val single = spark.table(s"${name}_ref").as[KeyedFlagEvent].collect().toSeq
      .sortBy(e => (e.walletId, e.seq))

    assert(chunked.nonEmpty)
    assert(chunked == single)
    // And the chunked run really did span multiple data-carrying batches.
    assert(dataBatches >= 2, s"expected a multi-batch replay, saw $dataBatches")
  }
}

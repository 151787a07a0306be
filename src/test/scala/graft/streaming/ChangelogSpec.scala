package graft.streaming

import java.io.File
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.TestDirs.tempDir

/** The deployment's wiring ([[KafkaTopology.runProcessors]]) over a
  * MemoryStream deposit source and a parquet flag-event edge: the
  * changelog tables append one row per touched wallet per micro-batch,
  * tagged with its batch id, and readers take the latest row per key
  * (compacted-topic semantics). */
class ChangelogSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Starts the `selected` processors under a fresh state dir, with a
    * parquet edge from the detector to the flagger; returns the dir and
    * the started queries. */
  private def topology(input: MemoryStream[TimedDeposit], selected: Set[String])
      : (String, Seq[StreamingQuery]) = {
    val dir = tempDir("graft_changelog").toString
    val flagDir = s"$dir/flag_events"
    new File(s"$flagDir/_spark_metadata").mkdirs()
    val qs = KafkaTopology.runProcessors(spark, input.toDS(),
      (events: Dataset[KeyedFlagEvent]) =>
        events.writeStream.format("parquet").option("path", flagDir).outputMode("append"),
      spark.readStream.schema(Encoders.product[KeyedFlagEvent].schema)
        .parquet(flagDir).as[KeyedFlagEvent],
      dir, selected, Trigger.ProcessingTime(0L))
    (dir, qs)
  }

  /** Adds `deposits` and waits until every query, in start order, has
    * processed them. */
  private def batch(input: MemoryStream[TimedDeposit], qs: Seq[StreamingQuery],
                    deposits: TimedDeposit*): Unit = {
    input.addData(deposits)
    qs.foreach(_.processAllAvailable())
  }

  test("foreachBatch parquet changelog: latest row per wallet wins") {
    val input = MemoryStream[TimedDeposit]
    val (dir, qs) = topology(input, Set("collector"))
    batch(input, qs, TimedDeposit("w1", 100.0, 1000L, 1L), TimedDeposit("w2", 50.0, 1001L, 2L))
    batch(input, qs, TimedDeposit("w1", 25.0, 1100L, 3L))
    qs.foreach(_.stop())

    // Changelog holds every version; the view is latest-per-key.
    val log = spark.read.parquet(s"$dir/balance-table")
    assert(log.count() == 3) // w1 v1, w2 v1, w1 v2
    val latest = KafkaTopology.latest[DepositStreams.BalanceRow](spark, s"$dir/balance-table")
      .select("walletId", "balance")
      .as[(String, Double)].collect().toMap
    assert(latest == Map("w1" -> 125.0, "w2" -> 50.0))
  }

  test("a wallet unflagged in a later micro-batch reads unflagged") {
    val input = MemoryStream[TimedDeposit]
    val (dir, qs) = topology(input, Set("detector", "flagger"))
    // 10,000 at t=1000 flags w1; a deposit 200 s later restarts its window.
    batch(input, qs, TimedDeposit("w1", 10000.0, 1000L, 1L))
    batch(input, qs, TimedDeposit("w1", 1.0, 1200L, 2L))
    qs.foreach(_.stop())

    val log = spark.read.parquet(s"$dir/flagger-table")
    assert(log.select("flagged").as[Boolean].collect().sorted.toSeq == Seq(false, true))
    val latest = KafkaTopology.latest[DepositStreams.FlagRow](spark, s"$dir/flagger-table")
      .select("walletId", "flagged")
      .as[(String, Boolean)].collect().toMap
    assert(latest == Map("w1" -> false))
  }

  test("a failed stand-up stops the processors it already started") {
    val before = spark.streams.active.map(_.id).toSet
    val e = intercept[IllegalStateException] {
      KafkaTopology.runProcessors(spark, MemoryStream[TimedDeposit].toDS(),
        _.writeStream.format("noop"), throw new IllegalStateException("no edge"),
        tempDir("graft_changelog").toString, KafkaTopology.Processors.toSet,
        Trigger.ProcessingTime(0L))
    }
    assert(e.getMessage == "no edge")
    assert(spark.streams.active.map(_.id).toSet == before)
  }

  test("a subset of the processors starts only their queries") {
    val input = MemoryStream[TimedDeposit]
    def active = spark.streams.active.map(_.id).toSet
    val before = active
    val (dir, qs) = topology(input, Set("detector"))
    try {
      assert(qs.size == 1)
      assert(active -- before == qs.map(_.id).toSet)
      assert(KafkaTopology.Processors.filter(p => new File(s"$dir/ckpt/$p").exists) ==
        Seq("detector"))
    } finally qs.foreach(_.stop())
  }
}

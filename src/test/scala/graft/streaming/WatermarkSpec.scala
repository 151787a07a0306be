package graft.streaming

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec

/** Event-time + watermark behavior (SURVEY §2.2: absent from the
  * reference, added in the engine): windowed aggregation that finalizes
  * on watermark advance and drops too-late events, and
  * dropDuplicatesWithinWatermark for at-least-once sources. */
class WatermarkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val n = new AtomicInteger(100)
  private def freshName = s"wm_${n.incrementAndGet()}"

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("windowed agg emits finalized windows; too-late events are dropped") {
    val input = MemoryStream[(Timestamp, Double)]
    val name = freshName
    val agg = input.toDF().toDF("ts", "amount")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "2 minutes"))
      .agg(sum(col("amount")).as("total"))
      .select(unix_seconds(col("window.start")).as("ws"), col("total"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()

    // Window [0,120): two deposits.
    input.addData(Seq((ts(10), 100.0), (ts(50), 200.0)))
    q.processAllAvailable()
    // Advance event time far enough that watermark (max - 1 min) passes
    // 120 → the first window finalizes and emits.
    input.addData(Seq((ts(400), 5.0)))
    q.processAllAvailable()
    // This event is 100s late — behind the watermark — and must be dropped.
    input.addData(Seq((ts(60), 999.0)))
    q.processAllAvailable()
    // Close the second window too.
    input.addData(Seq((ts(800), 1.0)))
    q.processAllAvailable()
    val rows = spark.table(name).as[(Long, Double)].collect().toMap
    q.stop()
    assert(rows(0L) == 300.0)     // 100+200, no late 999
    assert(rows(400L / 120 * 120) == 5.0)
  }

  test("dropDuplicatesWithinWatermark dedupes re-delivered events") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val name = freshName
    val deduped = input.toDF().toDF("ts", "event_id", "amount")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    input.addData(Seq((ts(10), "e1", 5.0), (ts(20), "e2", 7.0)))
    q.processAllAvailable()
    // At-least-once redelivery of e1 within the watermark horizon.
    input.addData(Seq((ts(30), "e1", 5.0), (ts(40), "e3", 9.0)))
    q.processAllAvailable()
    val got = spark.table(name).select(col("event_id")).as[String].collect().sorted
    q.stop()
    assert(got.toSeq == Seq("e1", "e2", "e3"))
  }

  test("streaming session window merges events within the gap and closes on watermark") {
    val input = MemoryStream[(Timestamp, String, Double)]
    val name = freshName
    val agg = input.toDF().toDF("ts", "user", "amount")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user"))
      .agg(count(lit(1)).as("n"), sum(col("amount")).as("total"))
      .select(col("user"), unix_seconds(col("w.start")).as("start"),
        col("n"), col("total"))
    val q = agg.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    // Two events 100 s apart merge into one session; a third 1000 s later
    // opens a second session.
    input.addData(Seq((ts(100), "u1", 1.0), (ts(200), "u1", 2.0),
      (ts(1200), "u1", 4.0)))
    q.processAllAvailable()
    // Advance the watermark far past both sessions to finalize them.
    input.addData(Seq((ts(9000), "u2", 0.5)))
    q.processAllAvailable()
    val rows = spark.table(name).as[(String, Long, Long, Double)]
      .collect().filter(_._1 == "u1").sortBy(_._2).toSeq
    q.stop()
    assert(rows == Seq(("u1", 100L, 2L, 3.0), ("u1", 1200L, 1L, 4.0)))
  }

  test("stream-stream interval join: purchase matches signup within 5 minutes") {
    val purchases = MemoryStream[(Timestamp, String, Double)]
    val signups = MemoryStream[(Timestamp, String)]
    val name = freshName
    val p = purchases.toDF().toDF("pts", "puser", "amount")
      .withWatermark("pts", "10 minutes")
    val sg = signups.toDF().toDF("sts", "suser")
      .withWatermark("sts", "10 minutes")
    val joined = p.join(sg,
      expr("puser = suser AND pts >= sts AND pts <= sts + interval 5 minutes"),
      "inner")
      .select(col("puser"), col("amount"), unix_seconds(col("sts")).as("signup_at"))
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    signups.addData(Seq((ts(100), "u1"), (ts(100), "u2")))
    purchases.addData(Seq(
      (ts(160), "u1", 42.0),   // within 5 min of u1's signup -> match
      (ts(500), "u1", 77.0),   // 400 s after signup -> no match
      (ts(200), "u3", 99.0)))  // no signup at all -> no match
    q.processAllAvailable()
    val got = spark.table(name).as[(String, Double, Long)].collect().toSet
    q.stop()
    assert(got == Set(("u1", 42.0, 100L)))
  }
}

package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.TestDirs.tempDir

/** Checkpoint recovery = the engine's upgrade over Goka's at-least-once
  * (SURVEY §2.2 delivery row): a NEW query incarnation resuming from the
  * same checkpoint must (a) not reprocess already-committed input and
  * (b) carry the detector's per-key state across the restart. */
class CheckpointRecoverySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("detector state and offsets survive a query restart") {
    val root = tempDir("graft_ckpt").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"

    // Append mode drops new part files into the watched directory — the
    // shape a streaming file source actually tails.
    def writeBatch(rows: Seq[TimedDeposit]): Unit =
      rows.toDS().repartition(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val deposits = spark.readStream
        .schema("walletId STRING, amount DOUBLE, tsUnix LONG, seq LONG")
        .parquet(in).as[TimedDeposit]
      val q = DepositStreams.detector(spark, deposits)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (batch: Dataset[KeyedFlagEvent], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    // Incarnation 1: 6,000 at t=1000 opens the window (below threshold).
    writeBatch(Seq(TimedDeposit("w1", 6000.0, 1000L, 1L)))
    runOnce()
    // Incarnation 2 (fresh query, same checkpoint): 5,000 at t=1060.
    // Flags ONLY if the Counter(1000, 6000) state survived the restart.
    writeBatch(Seq(TimedDeposit("w1", 5000.0, 1060L, 2L)))
    runOnce()

    val events = spark.read.parquet(out).as[KeyedFlagEvent]
      .collect().sortBy(_.seq).toSeq
    // Exactly one event per deposit — batch 1 was not reprocessed.
    assert(events.map(_.seq) == Seq(1L, 2L))
    // Cumulative 11,000 >= 10,000: the restart carried the open window.
    assert(events.map(_.flagRemoved) == Seq(true, false))
    assert(events.last.rollingPeriodStartUnix == 1000L)
  }

  /** Same discipline for the collector: its running `(nDeposits, balance)`
    * state must come back after a restart, and committed input must not be
    * re-folded (an at-least-once replay would double the balance).
    */
  test("collector count and running balance survive a query restart") {
    val root = tempDir("graft_ckpt_collector").toString
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"

    def writeBatch(rows: Seq[TimedDeposit]): Unit =
      rows.toDS().repartition(1).write.mode("append").parquet(in)

    def runOnce(): Unit = {
      val deposits = spark.readStream
        .schema("walletId STRING, amount DOUBLE, tsUnix LONG, seq LONG")
        .parquet(in).as[TimedDeposit]
      val q = DepositStreams.collector(spark, deposits)
        .writeStream
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (batch: Dataset[DepositStreams.BalanceRow], _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }

    writeBatch(Seq(
      TimedDeposit("w1", 100.0, 1000L, 1L),
      TimedDeposit("w1", 50.0, 1010L, 2L)))
    runOnce()
    // Fresh incarnation, same checkpoint: one more deposit. n must reach 3
    // and the balance 175 ONLY if the state was recovered and the first
    // two deposits were NOT replayed.
    writeBatch(Seq(TimedDeposit("w1", 25.0, 1020L, 3L)))
    runOnce()

    val rows = spark.read.parquet(out).as[DepositStreams.BalanceRow]
      .collect().sortBy(_.nDeposits).toSeq
    assert(rows.map(r => (r.nDeposits, r.balance)) == Seq((2L, 150.0), (3L, 175.0)))
  }
}

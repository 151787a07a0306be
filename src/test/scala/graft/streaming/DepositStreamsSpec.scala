package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model._

/** End-to-end Structured Streaming scenarios (FIXTURES.md §B) through
  * MemoryStream → stateful processor → memory sink, the test analog of
  * Kafka topic → Goka processor → changelog table. */
class DepositStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val n = new AtomicInteger(0)
  private def freshName = s"sink_${n.incrementAndGet()}"

  /** Every row `wire` emits over `batches`, one micro-batch per batch. */
  private def runQuery[O: Encoder](wire: Dataset[TimedDeposit] => Dataset[O],
                                   mode: String)(batches: Seq[TimedDeposit]*): Seq[O] = {
    val input = MemoryStream[TimedDeposit]
    val name = freshName
    val q = wire(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    batches.foreach { b => input.addData(b); q.processAllAvailable() }
    val out = spark.table(name).as[O].collect().toSeq
    q.stop()
    out
  }

  /** Run the detector over timed-deposit batches; returns all emitted flag
    * events (append mode retains every event, like the flag_wallet topic). */
  private def runDetector(batches: Seq[TimedDeposit]*): Seq[KeyedFlagEvent] =
    runQuery(DepositStreams.detector(spark, _), "append")(batches: _*).sortBy(_.seq)

  /** Latest state row per wallet = the one with the most deposits. */
  private def runCollector(batches: Seq[TimedDeposit]*): Seq[DepositStreams.BalanceRow] =
    runQuery(DepositStreams.collector(spark, _), "update")(batches: _*)
      .groupBy(_.walletId).values.map(_.maxBy(_.nDeposits)).toSeq

  /** Latest serving row per wallet from the fused query. */
  private def runWallet(batches: Seq[TimedDeposit]*): Seq[DepositStreams.WalletRow] =
    runQuery(DepositStreams.wallet(spark, _), "update")(batches: _*)
      .groupBy(_.walletId).values.map(_.maxBy(_.nDeposits)).toSeq

  /** `wallets` wallets over nine micro-batches. Inside a batch the
    * timestamps are shuffled against seq order, and some gaps exceed the
    * 120 s window, so both flags and resets occur. Amounts carry a
    * fraction, so a sum taken in another order can differ in the last bit. */
  private def shuffledBatches(rnd: scala.util.Random,
                              wallets: Int = 6): Seq[Seq[TimedDeposit]] = {
    var seq = 0L
    var t = 1000L
    (1 to 9).map { _ =>
      t += (if (rnd.nextInt(4) == 0) 150 else rnd.nextInt(30))
      val ts = (1 to 4 + rnd.nextInt(5)).map(_ => t + rnd.nextInt(40))
      rnd.shuffle(ts).map { ti =>
        seq += 1
        TimedDeposit(s"f${rnd.nextInt(wallets)}", (1 + rnd.nextInt(4000)).toDouble + 0.1, ti, seq)
      }
    }
  }

  private def runFlagger(events: Seq[KeyedFlagEvent]): Seq[DepositStreams.FlagRow] = {
    val input = MemoryStream[KeyedFlagEvent]
    val name = freshName
    val q = DepositStreams.flagger(spark, input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    input.addData(events)
    q.processAllAvailable()
    val out = spark.table(name).as[DepositStreams.FlagRow].collect().toSeq
    q.stop()
    out
  }

  test("happy path: 2,000 then 9,000 within 120 s flags; balance 11,000") {
    val deposits = Seq(TimedDeposit("w1", 2000.0, 1000L, 1L), TimedDeposit("w1", 9000.0, 1060L, 2L))
    val evs = runDetector(deposits)
    assert(evs.map(_.flagRemoved) == Seq(true, false))
    val flags = runFlagger(evs)
    // The flag event carries the window-open time (t=1000), which the
    // flagger stores (flagger.go:49-55).
    assert(flags == Seq(DepositStreams.FlagRow("w1", flagged = true, 1000L)))
    val bal = runCollector(deposits)
    assert(bal == Seq(DepositStreams.BalanceRow("w1", 2L, 11000.0)))
  }

  test("boundary: cumulative exactly 10,000 flags (>=)") {
    val evs = runDetector(Seq(TimedDeposit("w2", 4000.0, 1000L, 1L), TimedDeposit("w2", 6000.0, 1010L, 2L)))
    assert(evs.map(_.flagRemoved) == Seq(true, false))
  }

  test("reset-discard quirk across micro-batches: second deposit at t=130 is dropped") {
    val evs = runDetector(
      Seq(TimedDeposit("w3", 9000.0, 1000L, 1L)),
      Seq(TimedDeposit("w3", 9000.0, 1130L, 2L)))
    assert(evs.map(_.flagRemoved) == Seq(true, true))
    val bal = runCollector(
      Seq(TimedDeposit("w3", 9000.0, 1000L, 1L)),
      Seq(TimedDeposit("w3", 9000.0, 1130L, 2L)))
    assert(bal.head.balance == 18000.0) // the balance keeps both; only the counter resets
  }

  test("manual flag (O11) is overwritten by the next detector unflag — LWW") {
    val manual = KeyedFlagEvent("w4", flagRemoved = false, 0L, seq = 100L)
    val detectorUnflag = KeyedFlagEvent("w4", flagRemoved = true, 0L, seq = 200L)
    val flags = runFlagger(Seq(manual, detectorUnflag))
    assert(flags == Seq(DepositStreams.FlagRow("w4", flagged = false, 0L)))
  }

  test("the flagger writes no per-wallet state") {
    val input = MemoryStream[KeyedFlagEvent]
    val q = DepositStreams.flagger(spark, input.toDS())
      .writeStream.format("memory").queryName(freshName).outputMode("update").start()
    try {
      input.addData(Seq(KeyedFlagEvent("w6", flagRemoved = false, 1000L, seq = 1L),
        KeyedFlagEvent("w7", flagRemoved = true, 0L, seq = 2L)))
      q.processAllAvailable()
      val state = q.lastProgress.stateOperators
      assert(state.length == 1 && state(0).numRowsTotal == 0L, state.toSeq)
    } finally q.stop()
  }

  test("streaming detector == pure state machine under arbitrary batch splits") {
    val rnd = new scala.util.Random(7)
    var t = 1000L
    val deposits = (1 to 40).map { i =>
      t += rnd.nextInt(100)
      TimedDeposit("w5", rnd.nextInt(7000).toDouble, t, i.toLong)
    }
    // Split into random micro-batches (state must carry across batches).
    val batches = scala.collection.mutable.ArrayBuffer[Seq[TimedDeposit]]()
    var rest = deposits.toSeq
    while (rest.nonEmpty) {
      val take = 1 + rnd.nextInt(7)
      batches += rest.take(take)
      rest = rest.drop(take)
    }
    val streamed = runDetector(batches.toSeq: _*)
    val (_, expected) = DetectorLogic.run(deposits.map(d => (d.amount, d.tsUnix)))
    assert(streamed.map(_.flagRemoved) == expected.map(_.flagRemoved))
  }

  test("fused wallet query == collector balances and the detector's last verdict") {
    val batches = shuffledBatches(new scala.util.Random(11))
    val fused = runWallet(batches: _*).map(r => r.walletId -> r).toMap
    val collected = runCollector(batches: _*).map(r => r.walletId -> r).toMap
    val events = runDetector(batches: _*).map(e => e.seq -> e).toMap
    assert(fused.keySet == collected.keySet)
    fused.values.foreach { r =>
      assert((r.nDeposits, r.balance) ==
        ((collected(r.walletId).nDeposits, collected(r.walletId).balance)), r)
      // The detector's last verdict: its event for the deposit it folded
      // last, the (ts, seq)-greatest one of the wallet's last batch.
      val last = batches.filter(_.exists(_.walletId == r.walletId)).last
        .filter(_.walletId == r.walletId).maxBy(d => (d.tsUnix, d.seq))
      assert(r.flagged == !events(last.seq).flagRemoved, r)
      // ... which is the pure state machine folded batch by batch.
      val folded = batches.flatMap(_.filter(_.walletId == r.walletId)
        .sortBy(d => (d.tsUnix, d.seq)).map(d => (d.amount, d.tsUnix)))
      assert(r.flagged == !DetectorLogic.run(folded)._2.last.flagRemoved, r)
    }
    assert(fused.values.exists(_.flagged) && fused.values.exists(!_.flagged))
  }

  test("collector balance == left fold of its deposits, bit for bit") {
    val rnd = new scala.util.Random(23)
    // Two wallets, so each batch folds several deposits per wallet, and
    // amounts with full-width fractions, so most fold orders round
    // differently. The batches themselves arrive out of time order too.
    val batches = rnd.shuffle(shuffledBatches(rnd, wallets = 2))
      .map(_.map(d => d.copy(amount = d.amount + rnd.nextDouble())))
    val collected = runCollector(batches: _*)
    assert(collected.map(_.walletId).toSet == batches.flatten.map(_.walletId).toSet)
    // Fold order: batch by batch, (tsUnix, seq) inside a batch.
    def folded(w: String, inBatch: Seq[TimedDeposit] => Seq[TimedDeposit] = identity) =
      batches.flatMap(b => inBatch(b.filter(_.walletId == w).sortBy(d => (d.tsUnix, d.seq))))
        .map(_.amount)
    collected.foreach { r =>
      val amounts = folded(r.walletId)
      assert((r.nDeposits, r.balance) == ((amounts.size.toLong, amounts.sum)), r)
    }
    // The `==` can tell fold orders apart: reversing the order inside each
    // batch changes some wallet's sum in the last bit.
    assert(collected.exists(r => folded(r.walletId, _.reverse).sum != r.balance))
  }

  /** A wallet idle for a long stretch keeps its state: the reference never
    * evicts (SURVEY §2.3.5). w1 deposits at t=100, only w2 deposits at
    * t=1000, and w1 returns at t=1100. */
  private val idleTimeline = Seq(
    Seq(TimedDeposit("w1", 5000.0, 100L, 1L)),
    Seq(TimedDeposit("w2", 1.0, 1000L, 2L)),
    Seq(TimedDeposit("w1", 5000.0, 1100L, 3L)))

  test("detector keeps an idle wallet's counter (reference parity)") {
    // A 10000 s window never lapses on this timeline; threshold 6000.
    val out = runQuery(DepositStreams.detector(spark, _, windowSec = 10000L,
      threshold = 6000.0), "append")(idleTimeline: _*)
    // State survived: 5000 + 5000 = 10000 >= 6000 → flagged, window still
    // anchored at the first deposit's timestamp.
    val afterReturn = out.find(_.seq == 3L).get
    assert(!afterReturn.flagRemoved)
    assert(afterReturn.rollingPeriodStartUnix == 100L)
  }

  test("collector keeps an idle wallet's balance (reference parity)") {
    val w1 = runQuery(DepositStreams.collector(spark, _), "update")(idleTimeline: _*)
      .filter(_.walletId == "w1").sortBy(_.nDeposits)
    assert(w1.map(r => (r.nDeposits, r.balance)) == Seq((1L, 5000.0), (2L, 10000.0)))
  }
}

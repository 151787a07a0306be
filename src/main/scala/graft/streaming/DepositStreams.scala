package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model._

/** Structured Streaming re-expression of the reference's processor topology
  * (SURVEY §3.2): three keyed stateful processors that in the reference are
  * separate Goka consumer groups linked by Kafka topics. Here each is its
  * own streaming query over a `Dataset` source; in production the
  * detector→flagger edge is a Kafka topic exactly as in the reference
  * (`writeStream.format("kafka")` / `readStream` on `flag_wallet`), and the
  * "views" are the queries' sink tables.
  *
  * The per-key `GroupState` row is the analog of the reference's
  * per-partition LevelDB entry, and the `groupByKey` shuffle is the analog
  * of Kafka partition assignment (SURVEY §1.5) — co-partitioning of state
  * with input is automatic, checkpointing upgrades Goka's at-least-once to
  * exactly-once. Per-key state is kept forever, as in the reference
  * (SURVEY §2.3.5), and stays small. The collector, the detector and the
  * serving query are projections of one keyed deposit fold ([[fold]]),
  * whose state is a running count and balance beside the detector's
  * counter, not the deposit history.
  *
  * Processing time: the reference stamps wall-clock seconds per message
  * (detector.go:57). For deterministic replay and tests, `tsUnix` rides on
  * the event ([[TimedDeposit]]); a Kafka deployment would populate it from
  * the broker ingestion timestamp.
  */
object DepositStreams {

  /** Balance-table row served by GET /check (SURVEY §2.1 O8). */
  final case class BalanceRow(walletId: String, nDeposits: Long, balance: Double)

  /** Serving-view row of [[wallet]]: the wallet's deposit count and
    * balance, the detector verdict of the last deposit folded, and the
    * highest seq the batch folded for the wallet (the serving edge's
    * read barrier compares it with the wallet's last ACKed seq). */
  final case class WalletRow(walletId: String, nDeposits: Long, balance: Double,
                             flagged: Boolean, seq: Long)

  /** Per-wallet state of the deposit fold: the collector's count and
    * running balance beside the detector's counter. */
  final case class WalletState(nDeposits: Long, balance: Double, counter: Counter)

  /** Flagger-table row. */
  final case class FlagRow(walletId: String, flagged: Boolean,
                           rollingPeriodStartUnix: Long)

  /** The keyed deposit fold that [[collector]], [[detector]] and [[wallet]]
    * project. Per wallet with deposits in the micro-batch, it sorts them by
    * `(tsUnix, seq)`, steps one [[WalletState]] through
    * [[DetectorLogic.step]] per deposit, updates the state once, and hands
    * `project` the wallet, each deposit with its verdict in fold order, and
    * the final state. The row's seq comes from the batch's deposits, not the
    * state, so [[WalletState]] and its checkpoint schema carry no seq. */
  private def fold[O: Encoder](spark: SparkSession, deposits: Dataset[TimedDeposit],
                               mode: OutputMode,
                               windowSec: Long = DetectorLogic.RollingPeriodSec,
                               threshold: Double = DetectorLogic.MaxAmount)
                              (project: (String, Seq[(TimedDeposit, FlagEvent)], WalletState) =>
                                Iterator[O]): Dataset[O] = {
    import spark.implicits._
    deposits
      .groupByKey(_.walletId)
      .flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[TimedDeposit], state: GroupState[WalletState]) =>
          var st = state.getOption.getOrElse(WalletState(0L, 0.0, Counter(0L, 0.0)))
          val verdicts = events.toSeq.sortBy(d => (d.tsUnix, d.seq)).map { d =>
            val (counter, ev) = DetectorLogic.step(st.counter, d.amount, d.tsUnix,
              windowSec, threshold)
            st = WalletState(st.nDeposits + 1, st.balance + d.amount, counter)
            (d, ev)
          }
          state.update(st)
          project(key, verdicts, st)
      }
  }

  /** Collector: per-wallet deposit count and running balance (O3+O9).
    * The reference appends every deposit to a history (collector.go:17-29)
    * and sums it at read time (service.go:136-140). Here the balance is the
    * [[fold]]'s running sum in `(tsUnix, seq)` order: the same left fold, so
    * balances are bit-identical to summing the history. The history itself
    * is the batch [[graft.operators.DepositOps.history]].
    * Update output — each batch emits the refreshed row per touched key. */
  def collector(spark: SparkSession, deposits: Dataset[TimedDeposit]): Dataset[BalanceRow] = {
    import spark.implicits._
    fold(spark, deposits, OutputMode.Update) { (key, _, st) =>
      Iterator.single(BalanceRow(key, st.nDeposits, st.balance))
    }
  }

  /** Detector: rolling-window running sum + threshold verdict (O4+O5+O6),
    * the [[fold]]'s verdicts. Append output — every deposit emits exactly
    * one flag/unflag event, keyed by wallet, carrying the deposit's seq
    * (for LWW ordering). */
  def detector(spark: SparkSession, deposits: Dataset[TimedDeposit],
               windowSec: Long = DetectorLogic.RollingPeriodSec,
               threshold: Double = DetectorLogic.MaxAmount): Dataset[KeyedFlagEvent] = {
    import spark.implicits._
    fold(spark, deposits, OutputMode.Append, windowSec, threshold) { (key, verdicts, _) =>
      verdicts.iterator.map { case (d, ev) =>
        KeyedFlagEvent(key, ev.flagRemoved, ev.rollingPeriodStartUnix, d.seq)
      }
    }
  }

  /** Collector and detector in one keyed query, for the serving path: one
    * micro-batch and one state commit where the two queries take two of
    * each. The row carries the collector's count and balance, the
    * detector's verdict on the last deposit folded and the highest seq of
    * the wallet's batch.
    * Update output — one row per touched wallet. */
  def wallet(spark: SparkSession, deposits: Dataset[TimedDeposit]): Dataset[WalletRow] = {
    import spark.implicits._
    // Without a timeout the fold only runs for keys that have deposits in
    // this batch, so `verdicts` is never empty.
    fold(spark, deposits, OutputMode.Update) { (key, verdicts, st) =>
      Iterator.single(WalletRow(key, st.nDeposits, st.balance,
        !verdicts.last._2.flagRemoved, verdicts.iterator.map(_._1.seq).max))
    }
  }

  /** Flagger: LWW flag state (O7). Consumes the flag-event stream — the
    * detector's output unioned with any manual injector events (O11), which
    * in the reference share the `flag_wallet` topic. The emitted row
    * depends only on the batch's last event by seq, so the per-wallet
    * state is never written; it keeps its `FlagValue` type so that older
    * flagger checkpoints still resume. */
  def flagger(spark: SparkSession, flagEvents: Dataset[KeyedFlagEvent]): Dataset[FlagRow] = {
    import spark.implicits._
    flagEvents
      .groupByKey(_.walletId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[KeyedFlagEvent], _: GroupState[FlagValue]) =>
          // Without a timeout the function only runs for keys that have
          // events in this batch; the last one by seq wins.
          val last = events.toSeq.sortBy(_.seq).last
          val fv = FlaggerLogic.step(FlagEvent(last.flagRemoved, last.rollingPeriodStartUnix))
          FlagRow(key, fv.flagged, fv.rollingPeriodStartUnix)
      }
  }
}

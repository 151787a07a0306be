package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
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
  * (SURVEY §2.3.5), and stays small: the collector keeps a running count
  * and balance, not the deposit history.
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

  /** Per-wallet state of [[wallet]]: the collector's count and running
    * balance beside the detector's counter. */
  final case class WalletState(nDeposits: Long, balance: Double, counter: Counter)

  /** Flagger-table row. */
  final case class FlagRow(walletId: String, flagged: Boolean,
                           rollingPeriodStartUnix: Long)

  /** Collector: per-wallet deposit count and running balance (O3+O9).
    * The reference appends every deposit to a history (collector.go:17-29)
    * and sums it at read time (service.go:136-140). Here the state is the
    * running `(nDeposits, balance)`, folded in `(tsUnix, seq)` order: the
    * same left fold, so balances are bit-identical to summing the history.
    * The history itself is the batch [[graft.operators.DepositOps.history]].
    * Update output — each batch emits the refreshed row per touched key. */
  def collector(spark: SparkSession, deposits: Dataset[TimedDeposit]): Dataset[BalanceRow] = {
    import spark.implicits._
    deposits
      .groupByKey(_.walletId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[TimedDeposit], state: GroupState[(Long, Double)]) =>
          val sorted = events.toSeq.sortBy(d => (d.tsUnix, d.seq))
          val (n, balance) = sorted.foldLeft(state.getOption.getOrElse((0L, 0.0))) {
            case ((n, b), d) => (n + 1, b + d.amount)
          }
          state.update((n, balance))
          BalanceRow(key, n, balance)
      }
  }

  /** Detector: rolling-window running sum + threshold verdict (O4+O5+O6).
    * Append output — every deposit emits exactly one flag/unflag event,
    * keyed by wallet, carrying the deposit's seq (for LWW ordering). */
  def detector(spark: SparkSession, deposits: Dataset[TimedDeposit],
               windowSec: Long = DetectorLogic.RollingPeriodSec,
               threshold: Double = DetectorLogic.MaxAmount): Dataset[KeyedFlagEvent] = {
    import spark.implicits._
    deposits
      .groupByKey(_.walletId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[TimedDeposit], state: GroupState[Counter]) =>
          val sorted = events.toSeq.sortBy(d => (d.tsUnix, d.seq))
          var st = state.getOption.getOrElse(Counter(0L, 0.0))
          val out = sorted.map { d =>
            val (next, ev) = DetectorLogic.step(st, d.amount, d.tsUnix,
              windowSec, threshold)
            st = next
            KeyedFlagEvent(key, ev.flagRemoved, ev.rollingPeriodStartUnix, d.seq)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Collector and detector fused into one keyed query, for the serving
    * path: one micro-batch and one state commit where the two queries
    * took two of each.
    * Each batch folds a wallet's deposits in the order [[collector]] and
    * [[detector]] use, `(tsUnix, seq)`, through [[DetectorLogic.step]];
    * the running balance is the collector's, and the emitted flag is the
    * detector's verdict on the last deposit folded. The row's seq comes
    * from the batch's events, not the state, so [[WalletState]] and its
    * checkpoint schema carry no seq.
    * Update output — one row per touched wallet. */
  def wallet(spark: SparkSession, deposits: Dataset[TimedDeposit]): Dataset[WalletRow] = {
    import spark.implicits._
    deposits
      .groupByKey(_.walletId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[TimedDeposit], state: GroupState[WalletState]) =>
          val sorted = events.toSeq.sortBy(d => (d.tsUnix, d.seq))
          val init = (state.getOption.getOrElse(WalletState(0L, 0.0, Counter(0L, 0.0))), false)
          // Without a timeout the function only runs for keys that have
          // deposits in this batch, so the fold always sets the flag.
          val (st, flagged) = sorted.foldLeft(init) { case ((s, _), d) =>
            val (next, ev) = DetectorLogic.step(s.counter, d.amount, d.tsUnix)
            (WalletState(s.nDeposits + 1, s.balance + d.amount, next), !ev.flagRemoved)
          }
          state.update(st)
          WalletRow(key, st.nDeposits, st.balance, flagged, sorted.iterator.map(_.seq).max)
      }
  }

  /** Flagger: LWW flag state (O7). Consumes the flag-event stream — the
    * detector's output unioned with any manual injector events (O11), which
    * in the reference share the `flag_wallet` topic. */
  def flagger(spark: SparkSession, flagEvents: Dataset[KeyedFlagEvent]): Dataset[FlagRow] = {
    import spark.implicits._
    flagEvents
      .groupByKey(_.walletId)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, events: Iterator[KeyedFlagEvent], state: GroupState[FlagValue]) =>
          // Without a timeout the function only runs for keys that have
          // events in this batch; the last one by seq wins.
          val last = events.toSeq.sortBy(_.seq).last
          val fv = FlaggerLogic.step(FlagEvent(last.flagRemoved, last.rollingPeriodStartUnix))
          state.update(fv)
          FlagRow(key, fv.flagged, fv.rollingPeriodStartUnix)
      }
  }
}

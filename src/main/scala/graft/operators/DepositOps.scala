package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Counter
import graft.streaming.DetectorLogic

/** Batch re-expression of the reference's full operator surface (SURVEY §2.1,
  * O1–O11) over the `events` table (`user_id` ≈ wallet_id, `value` ≈ amount,
  * `ts` supplies the event time the reference lacks — SURVEY §2.3.4 declares
  * the processing-time → event-time substitution; the exact processing-time
  * state machine lives in [[graft.streaming]]).
  *
  * Everything here is a declarative DataFrame transform: Catalyst pushes the
  * `amount > 0` validation filter and the column pruning into the parquet
  * scan, plans the per-wallet aggregations as partial+final hash aggregates,
  * and the serve-path join as a broadcast when one side is small. No RDDs, no
  * driver-side loops — each operator keeps its shape on a 1000-executor
  * cluster because the only data movement is the keyed shuffle on wallet_id
  * (the analog of the reference's Kafka partition assignment, SURVEY §1.5).
  *
  * Reference constants: rolling window 120 s, threshold 10,000 with `>=`
  * (/root/reference/detector/detector.go:16-17,44), defined once in
  * [[graft.streaming.DetectorLogic]].
  */
object DepositOps {
  val RollingPeriodSec: Long = graft.streaming.DetectorLogic.RollingPeriodSec
  val MaxAmount: Double      = graft.streaming.DetectorLogic.MaxAmount

  /** O1 — ingest + validate + route (/root/reference/service/service.go:69-113).
    * JSON body parse ≈ parquet scan; the `amount <= 0` reject (:87-91) is the
    * filter, pushed down to the scan.
    */
  def deposits(events: DataFrame): DataFrame =
    events
      .filter(col("value") > 0)
      .select(
        col("user_id").as("wallet_id"),
        col("ts"),
        col("event_id").as("seq"),
        col("value").as("amount"))

  /** O2 — negate-amount projection, the (dead-code) withdraw branch
    * (/root/reference/service/service.go:98-103): balance is a signed sum. */
  def negated(deposits: DataFrame): DataFrame =
    deposits.withColumn("amount", negate(col("amount")))

  /** O3 — per-key append aggregation: the collector's DepositHistory
    * (/root/reference/collector/collector.go:17-29). `collect_list` is the
    * batch analog of appending to per-key state; sorted for determinism. */
  def history(deposits: DataFrame): DataFrame =
    deposits
      .groupBy(col("wallet_id"))
      .agg(
        sort_array(collect_list(col("amount"))).as("amounts"),
        count(lit(1)).as("n_deposits"))

  /** O9 — balance from history via a higher-order fold over the collected
    * array (/root/reference/service/service.go:136-140 iterates the repeated
    * Deposit field). Kept for capability parity; [[balances]] is the sane
    * incremental form (SURVEY §2.3.5). */
  def balanceFromHistory(history: DataFrame): DataFrame =
    history.select(
      col("wallet_id"),
      round(
        aggregate(col("amounts"), lit(0.0), (acc, x) => acc + x), 2
      ).as("balance"))

  /** O9 (scale path) — incremental balance: map-side partial sums, one
    * shuffle on wallet_id, no unbounded array state. */
  def balances(deposits: DataFrame): DataFrame =
    deposits.groupBy(col("wallet_id"))
      .agg(round(sum(col("amount")), 2).as("balance"))

  /** O4 (batch analog) — rolling-window running sum per wallet
    * (/root/reference/detector/detector.go:50-64). Event-time RANGE frame of
    * `windowSec` seconds ending at the current row, ordered by microsecond
    * precision so sub-second timestamps resolve identically to the oracle. */
  def rollingSum(deposits: DataFrame, windowSec: Long = RollingPeriodSec): DataFrame = {
    val w = Window
      .partitionBy(col("wallet_id"))
      .orderBy(unix_micros(col("ts")))
      .rangeBetween(-windowSec * 1000000L, 0L)
    deposits.withColumn("win_sum", round(sum(col("amount")).over(w), 2))
  }

  /** O4 (exact batch form) — the detector state machine
    * ([[DetectorLogic.step]], detector.go:50-71) folded over each wallet's
    * deposits in (tsec, seq) order: one (wallet_id, win_sum,
    * above_threshold) row per wallet, the final window sum and the last
    * re-asserted verdict (the flag is never latched, SURVEY §2.3.2).
    * `deposits` carries (wallet_id, tsec, seq, amount). Spark plans one
    * hash exchange on wallet_id and a sort on (wallet_id, tsec, seq) below
    * the group fold, which streams each wallet's run in O(1) state: no
    * per-wallet array, no recursion cap, unbounded history. */
  def detectorFold(deposits: DataFrame, windowSec: Long = RollingPeriodSec,
                   threshold: Double = MaxAmount): DataFrame = {
    import deposits.sparkSession.implicits._
    deposits.select(
        col("wallet_id").cast("long").as("wallet_id"),
        col("tsec").cast("long").as("tsec"),
        col("seq").cast("long").as("seq"),
        col("amount").cast("double").as("amount"))
      .groupBy(col("wallet_id")).as[Long, (Long, Long, Long, Double)]
      .flatMapSortedGroups(col("tsec"), col("seq")) { (wallet, rows) =>
        var state = Counter(0L, 0.0); var flagged = false
        rows.foreach { case (_, tsec, _, amount) =>
          val (next, event) = DetectorLogic.step(state, amount, tsec, windowSec, threshold)
          state = next; flagged = !event.flagRemoved
        }
        Iterator.single((wallet, state.received, flagged))
      }
      .toDF("wallet_id", "win_sum", "above_threshold")
  }

  /** O5 — threshold predicate (/root/reference/detector/detector.go:42-45):
    * flagged iff the windowed cumulative sum is `>= threshold`. */
  def aboveThreshold(winSum: Column, threshold: Double = MaxAmount): Column =
    winSum >= threshold

  /** O5+O6 — per-deposit detector verdict stream: every deposit yields
    * exactly one flag/unflag event (/root/reference/detector/detector.go:66-71
    * — flag state is re-asserted, never latched; SURVEY §2.3.2). */
  def flagEvents(deposits: DataFrame, windowSec: Long = RollingPeriodSec,
                 threshold: Double = MaxAmount): DataFrame =
    rollingSum(deposits, windowSec).select(
      col("wallet_id"),
      col("seq"),
      (!aboveThreshold(col("win_sum"), threshold)).as("flag_removed"))

  /** O7 — per-key last-write-wins flag state
    * (/root/reference/flagger/flagger.go:40-57): latest event by sequence
    * wins; `max_by` is the one-shuffle batch form of the LWW upsert. */
  def lwwFlag(flagEvents: DataFrame): DataFrame =
    flagEvents.groupBy(col("wallet_id"))
      .agg((!max_by(col("flag_removed"), col("seq"))).as("flagged"))

  /** O10 — the serve-path join behind GET /check/{wallet_id}
    * (/root/reference/service/service.go:115-153): balance ⟕ flag on
    * wallet_id, with the unknown-wallet → {0, false} zero-value semantics
    * (SURVEY §2.3.6) via coalesce. The flag side is per-wallet (small) — at
    * 100 TB it broadcasts; Catalyst/AQE picks that automatically. */
  def check(balances: DataFrame, flags: DataFrame): DataFrame =
    balances
      .join(flags, Seq("wallet_id"), "left_outer")
      .select(
        col("wallet_id"),
        coalesce(col("balance"), lit(0.0)).as("balance"),
        coalesce(col("flagged"), lit(false)).as("above_threshold"))

  /** Flagship: the whole /check semantics as one plan (SURVEY §7.1) —
    * scan → validate → balance agg ⟕ (rolling window → threshold → LWW). */
  def checkAll(events: DataFrame, windowSec: Long = RollingPeriodSec,
               threshold: Double = MaxAmount): DataFrame = {
    val dep = deposits(events)
    check(balances(dep), lwwFlag(flagEvents(dep, windowSec, threshold)))
      .orderBy(col("wallet_id"))
  }

  /** O11 — manual flag/unflag injector (/root/reference/cmd/flag-wallet):
    * a second flag-event source unioned with the detector's output before the
    * LWW upsert. `manual` must carry (wallet_id, seq, flag_removed). */
  def withManualFlags(detectorEvents: DataFrame, manual: DataFrame): DataFrame =
    detectorEvents
      .select(col("wallet_id"), col("seq"), col("flag_removed"))
      .union(manual.select(col("wallet_id"), col("seq"), col("flag_removed")))
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.operators.DepositOps
import graft.sources.Tables

/** The reference's operator surface O1–O11 (SURVEY §2.1) as oracle-checked
  * batch queries over `events` (`user_id` ≈ wallet_id, `value` ≈ amount,
  * `ts` ≈ event time — SURVEY §2.3.4).
  *
  * Two detector parameterizations are registered: `check` with the
  * reference's exact constants (120 s / 10,000 —
  * /root/reference/detector/detector.go:16-17), and `check_tuned`
  * (1 day / 300) so the flag booleans actually vary on the synthetic data.
  */
object CoreQueries {
  private val TunedWindowSec  = 86400L
  private val TunedThreshold  = 300.0

  // Shared oracle CTEs: validated deposits and the rolling window sum.
  private def depositsCte =
    "d AS (SELECT user_id AS wallet_id, ts, event_id AS seq, value AS amount " +
      "FROM events WHERE value > 0)"
  private def winCte(windowSec: Long) =
    s"w AS (SELECT wallet_id, seq, ROUND(SUM(amount) OVER (" +
      s"PARTITION BY wallet_id ORDER BY epoch_us(ts) " +
      s"RANGE BETWEEN ${windowSec * 1000000L} PRECEDING AND CURRENT ROW), 2) " +
      "AS win_sum FROM d)"
  /** The detector replay's deposits `dd`, with event time in whole
    * seconds (`tsec`). */
  private[queries] val detectorDepositsCte =
    "dd AS (SELECT user_id AS wallet_id, epoch_us(ts) // 1000000 AS tsec, " +
      "event_id AS seq, value AS amount FROM events WHERE value > 0)"

  /** Each wallet's deposits `d` numbered `rn` in (tsec, seq) order, with
    * the wallet's deposit count `n`. */
  private[queries] val detectorStepsCte =
    "d AS (SELECT wallet_id, tsec, amount, " +
      "ROW_NUMBER() OVER (PARTITION BY wallet_id ORDER BY tsec, seq) AS rn, " +
      "COUNT(*) OVER (PARTITION BY wallet_id) AS n FROM dd)"

  /** The detector state machine as the recursive CTE `s`: step rn folds
    * each wallet's rn-th deposit of `d` into its window start `st`,
    * running sum `rc` and flag-removed bit `fr`. `reset` is the sum a
    * window expiry restarts from; `hint` (e.g. `/*+ BROADCAST(d) */ `)
    * heads the recursive step's select list. */
  private[queries] def detectorFoldCte(windowSec: Long, threshold: Double,
                                       reset: String, hint: String = ""): String = {
    val next = s"CASE WHEN s.st = 0 THEN d.tsec WHEN d.tsec - s.st > $windowSec THEN 0 ELSE s.st END"
    val recv = s"CASE WHEN s.st <> 0 AND d.tsec - s.st > $windowSec THEN $reset ELSE s.rc + d.amount END"
    "s AS (SELECT wallet_id, CAST(0 AS BIGINT) AS st, CAST(0.0 AS DOUBLE) AS rc, " +
      "true AS fr, CAST(0 AS BIGINT) AS rn, n FROM (SELECT DISTINCT wallet_id, n FROM d) " +
      "UNION ALL " +
      s"SELECT ${hint}s.wallet_id, CAST($next AS BIGINT), $recv, " +
      s"NOT (($recv) >= $threshold AND ($next) <> 0), s.rn + 1, s.n " +
      "FROM s JOIN d ON d.wallet_id = s.wallet_id AND d.rn = s.rn + 1)"
  }

  private def checkSql(windowSec: Long, threshold: Double) =
    s"WITH $depositsCte, ${winCte(windowSec)}, " +
      "b AS (SELECT wallet_id, ROUND(SUM(amount), 2) AS balance FROM d GROUP BY wallet_id), " +
      s"f AS (SELECT wallet_id, arg_max(win_sum >= $threshold, seq) AS flagged FROM w GROUP BY wallet_id) " +
      "SELECT b.wallet_id, b.balance, COALESCE(f.flagged, FALSE) AS above_threshold " +
      "FROM b LEFT JOIN f USING (wallet_id) ORDER BY wallet_id"

  val all: Seq[Q] = Seq(
    // Flagship — O1+O3/O9+O4+O5+O7+O10 in one plan (SURVEY §7.1).
    Q("check", checkSql(DepositOps.RollingPeriodSec, DepositOps.MaxAmount)) {
      (s, d) => DepositOps.checkAll(Tables.events(s, d))
    },

    Q("check_tuned", checkSql(TunedWindowSec, TunedThreshold)) { (s, d) =>
      DepositOps.checkAll(Tables.events(s, d), TunedWindowSec, TunedThreshold)
    },

    // O1 — ingest validation + projection (service.go:87-91).
    Q("o1_validated_deposits",
      s"WITH $depositsCte SELECT wallet_id, seq, amount FROM d ORDER BY seq") {
      (s, d) =>
        DepositOps.deposits(Tables.events(s, d))
          .select(col("wallet_id"), col("seq"), col("amount"))
          .orderBy(col("seq"))
    },

    // O2 — negate-amount projection, the withdraw branch (service.go:98-103).
    Q("o2_negate",
      s"WITH $depositsCte SELECT wallet_id, seq, -amount AS amount FROM d ORDER BY seq") {
      (s, d) =>
        DepositOps.negated(DepositOps.deposits(Tables.events(s, d)))
          .select(col("wallet_id"), col("seq"), col("amount"))
          .orderBy(col("seq"))
    },

    // O3 — per-key append aggregation = deposit history (collector.go:17-29).
    // Driver-shaped: the collected array is posexploded back to scalar rows
    // (wallet_id, pos, amount) — the driver's compare cannot sort/hash array
    // cells. The raw-array form stays available as DepositOps.history; ties
    // in amount yield identical rows, so row_number tie order is immaterial.
    Q("o3_history",
      s"WITH $depositsCte SELECT wallet_id, " +
        "CAST(ROW_NUMBER() OVER (PARTITION BY wallet_id ORDER BY amount) - 1 AS BIGINT) AS pos, " +
        "amount FROM d ORDER BY wallet_id, pos") {
      (s, d) =>
        DepositOps.history(DepositOps.deposits(Tables.events(s, d)))
          .select(col("wallet_id"), posexplode(col("amounts")).as(Seq("pos", "amount")))
          .select(col("wallet_id"), col("pos").cast("long").as("pos"), col("amount"))
          .orderBy(col("wallet_id"), col("pos"))
    },

    // O3 again, scalar-only: the collected history digested to md5 — a
    // hedge in case the driver's hasher doesn't take array columns, and
    // the string_agg/collect_list scalar form in its own right.
    Q("o3_history_digest",
      s"WITH $depositsCte SELECT wallet_id, COUNT(*) AS n_deposits, " +
        "md5(array_to_string(list(amount ORDER BY amount), ',')) AS amounts_digest " +
        "FROM d GROUP BY wallet_id ORDER BY wallet_id") {
      (s, d) =>
        DepositOps.history(DepositOps.deposits(Tables.events(s, d)))
          .select(col("wallet_id"), col("n_deposits"),
            md5(array_join(col("amounts"), ",").cast("binary")).as("amounts_digest"))
          .orderBy(col("wallet_id"))
    },

    // O4 — rolling-window running sum, event-time batch analog
    // (detector.go:50-64; SURVEY §2.3.4).
    Q("o4_rolling_sum",
      s"WITH $depositsCte, ${winCte(DepositOps.RollingPeriodSec)} " +
        "SELECT wallet_id, seq, win_sum FROM w ORDER BY wallet_id, seq") {
      (s, d) =>
        DepositOps.rollingSum(DepositOps.deposits(Tables.events(s, d)))
          .select(col("wallet_id"), col("seq"), col("win_sum"))
          .orderBy(col("wallet_id"), col("seq"))
    },

    // O5+O6 — per-deposit detector verdict (every deposit emits exactly one
    // flag/unflag event — detector.go:66-71, SURVEY §2.3.2).
    Q("o6_flag_events",
      s"WITH $depositsCte, ${winCte(TunedWindowSec)} " +
        s"SELECT wallet_id, seq, NOT (win_sum >= $TunedThreshold) AS flag_removed " +
        "FROM w ORDER BY wallet_id, seq") {
      (s, d) =>
        DepositOps.flagEvents(DepositOps.deposits(Tables.events(s, d)),
            TunedWindowSec, TunedThreshold)
          .orderBy(col("wallet_id"), col("seq"))
    },

    // O7 — last-write-wins flag state (flagger.go:40-57).
    Q("o7_lww_flag",
      s"WITH $depositsCte, ${winCte(TunedWindowSec)} " +
        s"SELECT wallet_id, arg_max(win_sum >= $TunedThreshold, seq) AS flagged " +
        "FROM w GROUP BY wallet_id ORDER BY wallet_id") {
      (s, d) =>
        DepositOps.lwwFlag(DepositOps.flagEvents(
            DepositOps.deposits(Tables.events(s, d)), TunedWindowSec, TunedThreshold))
          .orderBy(col("wallet_id"))
    },

    // O9 — balance via higher-order fold over the collected history array
    // (service.go:136-140); `balances` inside `check` is the incremental form.
    Q("o9_balance_from_history",
      s"WITH $depositsCte SELECT wallet_id, ROUND(SUM(amount), 2) AS balance " +
        "FROM d GROUP BY wallet_id ORDER BY wallet_id") {
      (s, d) =>
        DepositOps.balanceFromHistory(
            DepositOps.history(DepositOps.deposits(Tables.events(s, d))))
          .orderBy(col("wallet_id"))
    },

    // O11 — manual flag injector unioned with detector output before the LWW
    // upsert (cmd/flag-wallet/main.go:26-33): wallets 0–4 get a manual FLAG
    // with a sequence number after every organic event, so LWW keeps them
    // flagged regardless of the detector's verdict.
    Q("o11_manual_union",
      s"WITH $depositsCte, ${winCte(TunedWindowSec)}, " +
        s"det AS (SELECT wallet_id, seq, NOT (win_sum >= $TunedThreshold) AS flag_removed FROM w), " +
        "man AS (SELECT CAST(x AS BIGINT) AS wallet_id, CAST(1000000000000 AS BIGINT) AS seq, " +
        "FALSE AS flag_removed FROM (VALUES (0),(1),(2),(3),(4)) AS t(x)), " +
        "u AS (SELECT * FROM det UNION ALL SELECT * FROM man) " +
        "SELECT wallet_id, NOT arg_max(flag_removed, seq) AS flagged " +
        "FROM u GROUP BY wallet_id ORDER BY wallet_id") {
      (s, d) =>
        val det = DepositOps.flagEvents(
          DepositOps.deposits(Tables.events(s, d)), TunedWindowSec, TunedThreshold)
        val man = s.range(0, 5).select(
          col("id").as("wallet_id"),
          lit(1000000000000L).as("seq"),
          lit(false).as("flag_removed"))
        DepositOps.lwwFlag(DepositOps.withManualFlags(det, man))
          .orderBy(col("wallet_id"))
    },

    // O4 as the exact reset-discards-the-deposit machine, folded per wallet
    // in (tsec, seq) order (DepositOps.detectorFold): one hash exchange and
    // sort, then O(1) state per wallet — unbounded history, no per-wallet
    // array row, no recursion cap. Tuned constants; the oracle replays the
    // fold as an unbounded-depth recursive CTE.
    Q("o4_fold_exec",
      s"WITH RECURSIVE $detectorDepositsCte, $detectorStepsCte, " +
        detectorFoldCte(TunedWindowSec, TunedThreshold, "CAST(0.0 AS DOUBLE)") +
        " SELECT wallet_id, ROUND(rc, 2) AS win_sum, NOT fr AS above_threshold " +
        "FROM s WHERE rn = n ORDER BY wallet_id") { (s, d) =>
      val dep = Tables.events(s, d).filter(col("value") > 0)
        .select(col("user_id").as("wallet_id"),
          expr("unix_micros(ts) div 1000000").as("tsec"),
          col("event_id").as("seq"), col("value").as("amount"))
      DepositOps.detectorFold(dep, TunedWindowSec, TunedThreshold)
        .select(col("wallet_id"), round(col("win_sum"), 2).as("win_sum"),
          col("above_threshold"))
        .orderBy(col("wallet_id"))
    }
  )
}

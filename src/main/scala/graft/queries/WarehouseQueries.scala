package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Behavioral-data operators the reference's users would reach for next:
  * gap-based sessionization and statistical anomaly detection. (The other
  * warehouse staples — GROUPING SETS, CDC MERGE/upsert, SCD2 intervals —
  * already live in AnalyticsQueries/ExtrasQueries.) The reference itself
  * has none of these (its only "query" is the fixed Goka topology,
  * SURVEY §1); this is north-star surface for operating a 100-TB
  * warehouse on the same engine.
  *
  * Scale notes per query inline — every shape here is a single keyed
  * shuffle or a broadcast of a handful of scalars; nothing is quadratic
  * and nothing collects to the driver.
  */
object WarehouseQueries {

  /** Per-(event_type, day) totals `d`, rounded to 2 dp, over the events
    * `e` bucketed by epoch day. */
  private val dailyTotalsCtes =
    "e AS (SELECT event_type, epoch_us(ts) // 1000000 // 86400 AS day, value FROM events), " +
      "d AS (SELECT event_type, day, ROUND(SUM(value), 2) AS total FROM e GROUP BY 1, 2)"

  val all: Seq[Q] = Seq(

    // Gap-based sessionization (the batch counterpart of the streaming
    // session window in stream_session_agg): per user, a new session
    // starts when the gap since the previous event exceeds 30 minutes;
    // sessions are numbered by a running sum of the session-start flags.
    // ONE shuffle on user_id serves both window functions AND the final
    // per-session aggregate (same partitioning, no second exchange). The
    // per-user window is bounded by that user's event count — the normal
    // behavioral-data skew profile; a pathological single-user firehose
    // would be salted upstream, not here.
    // DuckDB widens SUM over integers to HUGEINT, so the oracle's running
    // sum is CAST back to BIGINT to match Spark's long under the driver's
    // value hash; both windows order by the (t, event_id) composite key so
    // the running sum is total under timestamp ties (the session math was
    // tie-invariant already — ns is 0 on every tied row — but the order is
    // now a guarantee, not an argument).
    Q("q_sessionize",
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events), " +
        "g AS (SELECT user_id, t, event_id, CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL " +
        "OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000 THEN 1 ELSE 0 END AS ns FROM e), " +
        "s AS (SELECT user_id, t, CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM g) " +
        "SELECT user_id, sid, COUNT(*) AS n_events, MAX(t) - MIN(t) AS dur_us " +
        "FROM s GROUP BY 1, 2 ORDER BY 1, 2") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      val e = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("t"), col("event_id"))
      val g = e.withColumn("ns",
        when(lag(col("t"), 1).over(w).isNull ||
          col("t") - lag(col("t"), 1).over(w) > 1800000000L, 1L).otherwise(0L))
      val sess = g.withColumn("sid",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      sess.groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_events"), (max(col("t")) - min(col("t"))).as("dur_us"))
        .orderBy(col("user_id"), col("sid"))
    },

    // Statistical anomaly detection: per-event-type mean / stddev, events
    // flagged where |z| > 3. Two passes over events — a tiny per-type
    // aggregate (handful of rows, broadcast back) and a narrow scoring
    // scan — the standard data-quality sweep shape at any scale. mu and
    // sigma are ROUNDED to 6 decimals in BOTH engines before z is
    // computed, so the z every row sees is bit-identical across Spark's
    // partial-aggregation order and DuckDB's scan order, and the |z| > 3
    // cut cannot flip on reassociation noise.
    Q("q_anomaly_zscore",
      "WITH s AS (SELECT event_type, ROUND(AVG(value), 6) AS mu, " +
        "ROUND(STDDEV_SAMP(value), 6) AS sigma FROM events GROUP BY 1) " +
        "SELECT event_id, e.event_type, ROUND((value - mu) / sigma, 6) AS z " +
        "FROM events e JOIN s USING (event_type) " +
        "WHERE ABS(ROUND((value - mu) / sigma, 6)) > 3 ORDER BY event_id") { (s, d) =>
      val ev = Tables.events(s, d)
      val stats = ev.groupBy(col("event_type"))
        .agg(round(avg(col("value")), 6).as("mu"),
          round(stddev_samp(col("value")), 6).as("sigma"))
      val z = round((col("value") - col("mu")) / col("sigma"), 6)
      ev.join(broadcast(stats), "event_type")
        .select(col("event_id"), col("event_type"), z.as("z"))
        .where(abs(col("z")) > 3)
        .orderBy(col("event_id"))
    },

    // Time-weighted average (the step-function mean every metering /
    // billing / telemetry pipeline computes): each event's value holds
    // until the next event, weighted by that duration; the last event of
    // a user carries no duration and drops out. ONE shuffle on user_id
    // serves both the lead() window and the per-user aggregate (same
    // partitioning); (t, event_id) ordering makes the window total even
    // under timestamp ties. Users whose events all share one timestamp
    // (zero total duration) are excluded in both engines — 0/0 is not a
    // portable value.
    Q("q_time_weighted_avg",
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, value, event_id FROM events), " +
        "w AS (SELECT user_id, value, " +
        "lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) - t AS dur FROM e) " +
        "SELECT user_id, ROUND(SUM(value * dur) / SUM(dur), 6) AS twa " +
        "FROM w WHERE dur IS NOT NULL GROUP BY 1 HAVING SUM(dur) > 0 " +
        "ORDER BY user_id") { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("t"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("t"),
          col("value"), col("event_id"))
        .withColumn("dur", lead(col("t"), 1).over(w) - col("t"))
        .where(col("dur").isNotNull)
        .groupBy(col("user_id"))
        .agg(round(sum(col("value") * col("dur")) / sum(col("dur")), 6).as("twa"),
          sum(col("dur")).as("sd"))
        .where(col("sd") > 0)
        .select(col("user_id"), col("twa"))
        .orderBy(col("user_id"))
    },

    // Skyline (Pareto frontier): customers not strictly dominated on
    // (account balance, order count) — the multi-criteria shortlist
    // operator. The oracle states the SEMANTICS (naive NOT EXISTS
    // dominance); the engine computes it as a distributed sweep:
    //   1. per-bal max order count (one groupBy shuffle — same-bal
    //      lower-n points are dominated unless they tie the max);
    //   2. running strict-prefix max over bal DESC via the BOUNDED-SHARD
    //      two-pass pattern (pipeline_pack_sequences' prefix sum, with
    //      max for sum): in-shard window over bal-range shards + a tiny
    //      per-shard offset window — never one global single-partition
    //      window;
    //   3. skyline points = n equal to per-bal max and above every
    //      strictly-higher-bal max; members re-attached by one key join.
    Q("q_skyline",
      "WITH s AS (SELECT c_custkey, c_acctbal AS bal, " +
        "CAST((SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders " +
        "FROM customer c) " +
        "SELECT c_custkey, ROUND(bal, 2) AS bal, n_orders FROM s a " +
        "WHERE NOT EXISTS (SELECT 1 FROM s b WHERE b.bal >= a.bal AND b.n_orders >= a.n_orders " +
        "AND (b.bal > a.bal OR b.n_orders > a.n_orders)) " +
        "ORDER BY c_custkey") { (s, d) =>
      val counts = Tables.orders(s, d)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      val stats = Tables.customer(s, d)
        .join(counts, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_acctbal").as("bal"),
          coalesce(col("cnt"), lit(0L)).as("n_orders"))
      val perBal = stats.groupBy(col("bal")).agg(max(col("n_orders")).as("mx"))
        .withColumn("shard", floor(col("bal") / 1000).cast("long"))
      val wIn = Window.partitionBy(col("shard")).orderBy(col("bal").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val inner = perBal.withColumn("rin", max(col("mx")).over(wIn))
      val wOff = Window.orderBy(col("shard").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = perBal.groupBy(col("shard")).agg(max(col("mx")).as("smx"))
        .withColumn("roff", max(col("smx")).over(wOff))
        .select(col("shard"), col("roff"))
      val skyPoints = inner.join(broadcast(offsets), "shard")
        .withColumn("rmax",
          greatest(coalesce(col("rin"), lit(Long.MinValue)),
            coalesce(col("roff"), lit(Long.MinValue))))
        .where(col("mx") > col("rmax"))
        .select(col("bal").as("sbal"), col("mx"))
      stats.join(skyPoints,
          col("bal") === col("sbal") && col("n_orders") === col("mx"))
        .select(col("c_custkey"), round(col("bal"), 2).as("bal"), col("n_orders"))
        .orderBy(col("c_custkey"))
    },

    // Event-sequence pattern matching (batch CEP / MATCH_RECOGNIZE
    // skeleton): each user's event history collapses to an ordered
    // type-initial string — one user_id shuffle, sequence length = that
    // user's event count — and patterns become plain regexes over it
    // (here: a view→click→purchase funnel with no intervening purchase,
    // and the count of immediate view→click bigrams). The (t, event_id)
    // composite sort key makes the sequence total under timestamp ties,
    // so the string is bit-identical in both engines.
    Q("q_event_sequence_match",
      "WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id, substr(event_type, 1, 1) AS c FROM events), " +
        "s AS (SELECT user_id, string_agg(c, '' ORDER BY t, event_id) AS seq FROM e GROUP BY 1) " +
        "SELECT user_id, length(seq)::BIGINT AS n_events, " +
        "regexp_matches(seq, 'v[^p]*c[^p]*p') AS funnel_match, " +
        "len(regexp_extract_all(seq, 'vc'))::BIGINT AS n_quick_clicks " +
        "FROM s ORDER BY user_id") { (s, d) =>
      val seq = Tables.events(s, d)
        .select(col("user_id"), expr("unix_micros(ts)").as("t"),
          col("event_id"), substring(col("event_type"), 1, 1).as("c"))
        .groupBy(col("user_id"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("t"), col("event_id"), col("c")))),
          x => x.getField("c")), "").as("seq"))
      seq.select(col("user_id"),
          length(col("seq")).cast("long").as("n_events"),
          col("seq").rlike("v[^p]*c[^p]*p").as("funnel_match"),
          regexp_count(col("seq"), lit("vc")).cast("long").as("n_quick_clicks"))
        .orderBy(col("user_id"))
    },

    // Linear-trend forecast per event type: daily totals (scaled-int sums
    // — exact in both engines), per-type OLS over (day, total) via
    // regr_slope/regr_intercept, extrapolated 1 and 3 days past the last
    // observed day. Cost at any scale: one (type, day) aggregation, then
    // a per-type regression over days — rows bounded by types × days,
    // never by events.
    Q("q_trend_forecast",
      "WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day, " +
        "SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0 AS total FROM events GROUP BY 1, 2), " +
        "f AS (SELECT event_type, regr_slope(total, day::DOUBLE) AS m, " +
        "regr_intercept(total, day::DOUBLE) AS b, MAX(day) AS last_day, " +
        "COUNT(*) AS n_days FROM d GROUP BY 1) " +
        "SELECT event_type, n_days, ROUND(m, 6) AS slope, " +
        "ROUND(m * (last_day + 1) + b, 4) AS forecast_1d, " +
        "ROUND(m * (last_day + 3) + b, 4) AS forecast_3d " +
        "FROM f ORDER BY event_type") { (s, d) =>
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), expr("unix_micros(ts) div 86400000000").as("day"))
        .agg((sum(round(col("value") * 100).cast("long")) / 100.0).as("total"))
      daily.groupBy(col("event_type"))
        .agg(expr("regr_slope(total, CAST(day AS DOUBLE))").as("m"),
          expr("regr_intercept(total, CAST(day AS DOUBLE))").as("b"),
          max(col("day")).as("last_day"), count(lit(1)).as("n_days"))
        .select(col("event_type"), col("n_days"), round(col("m"), 6).as("slope"),
          round(col("m") * (col("last_day") + 1) + col("b"), 4).as("forecast_1d"),
          round(col("m") * (col("last_day") + 3) + col("b"), 4).as("forecast_3d"))
        .orderBy(col("event_type"))
    },

    // Functional-dependency profiling (does X determine Y?): per-key
    // distinct-dependent counts, violation share — the schema-discovery /
    // data-quality sweep primitive. One (key)-aggregation with a distinct
    // count, one global roll-up; linear however wide the table.
    Q("q_fd_check",
      "WITH g AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nv FROM orders GROUP BY 1) " +
        "SELECT COUNT(*)::BIGINT AS n_keys, " +
        "CAST(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_keys, " +
        "ROUND(SUM(CASE WHEN nv > 1 THEN 1 ELSE 0 END) / COUNT(*)::DOUBLE, 6) AS violation_rate " +
        "FROM g") { (s, d) =>
      val g = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("nv"))
      g.agg(count(lit(1)).as("n_keys"),
          sum(when(col("nv") > 1, 1L).otherwise(0L)).as("violating_keys"),
          round(sum(when(col("nv") > 1, 1L).otherwise(0L)) /
            count(lit(1)).cast("double"), 6).as("violation_rate"))
    },

    // Robust anomaly detection: modified z-score on the median absolute
    // deviation — q_anomaly_zscore's outlier-resistant sibling (one wild
    // value shifts a mean/stddev cut; it cannot move a median/MAD cut).
    // Two per-group aggregation passes (median, then MAD needs the
    // median first), both over the same user_id-free grouping key, then a
    // broadcast of the ~5-row stats table against a narrow scoring scan.
    // Median/MAD are ROUNDED to 6 dp in both engines before the score,
    // so interpolation arithmetic order cannot flip the |rz| > 3.5 cut.
    // NULLIF(mad, 0) guards the degenerate group (half the values
    // identical → MAD = 0): DuckDB's IEEE division would yield ±inf and
    // pass the cut while Spark's non-ANSI division yields NULL and drops
    // the row — NULLIF makes both engines drop it.
    // At 100 TB the exact per-group median swaps for approx_percentile —
    // same plan shape, sketch-mergeable.
    Q("q_anomaly_mad",
      "WITH med AS (SELECT event_type, ROUND(MEDIAN(value), 6) AS med " +
        "FROM events GROUP BY 1), " +
        "mad AS (SELECT event_type, ROUND(MEDIAN(ABS(value - med)), 6) AS mad " +
        "FROM events JOIN med USING (event_type) GROUP BY 1, med) " +
        "SELECT event_id, e.event_type, " +
        "ROUND(0.6745 * (value - med) / NULLIF(mad, 0), 6) AS rz " +
        "FROM events e JOIN med USING (event_type) JOIN mad USING (event_type) " +
        "WHERE ABS(ROUND(0.6745 * (value - med) / NULLIF(mad, 0), 6)) > 3.5 " +
        "ORDER BY event_id") { (s, d) =>
      val ev = Tables.events(s, d)
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy(col("event_type"), col("med"))
        .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"))
        .drop("med")
      val rz = round(lit(0.6745) * (col("value") - col("med")) /
        nullif(col("mad"), lit(0d)), 6)
      ev.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .select(col("event_id"), col("event_type"), rz.as("rz"))
        .where(abs(col("rz")) > 3.5)
        .orderBy(col("event_id"))
    },

    // Declarative data-quality constraint suite (the Deequ/dbt-test
    // shape): completeness, uniqueness, accepted values, referential
    // integrity, and a numeric range check, evaluated in one job and
    // reported long-form as (check, n_checked, n_violations, pass).
    // Every check is a single aggregation over a column-pruned scan —
    // the uniqueness check is count-minus-distinct (partial-agg
    // friendly), and referential integrity is a LEFT ANTI join on the
    // key, the at-scale orphan scan (broadcast or SMJ as the dim size
    // dictates — never a collect). Five 1-row results union for output.
    Q("q_dq_checks",
      "WITH c1 AS (SELECT 'not_null:o_custkey' AS check_name, COUNT(*)::BIGINT AS n_checked, " +
        "CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations FROM orders), " +
        "c2 AS (SELECT 'unique:o_orderkey', COUNT(*)::BIGINT, " +
        "COUNT(*)::BIGINT - COUNT(DISTINCT o_orderkey) FROM orders), " +
        "c3 AS (SELECT 'accepted_values:o_orderstatus', COUNT(*)::BIGINT, " +
        "CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) FROM orders), " +
        "c4 AS (SELECT 'fk:l_orderkey->orders', " +
        "(SELECT COUNT(*) FROM lineitem)::BIGINT, " +
        "(SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))::BIGINT), " +
        "c5 AS (SELECT 'range:0<=o_totalprice<=400000', COUNT(*)::BIGINT, " +
        "CAST(SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 400000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders), " +
        "u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2 UNION ALL SELECT * FROM c3 " +
        "UNION ALL SELECT * FROM c4 UNION ALL SELECT * FROM c5) " +
        "SELECT check_name, n_checked, n_violations, n_violations = 0 AS pass " +
        "FROM u ORDER BY check_name") { (s, d) =>
      val ord = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      def chk(name: String, n: org.apache.spark.sql.Column,
              viol: org.apache.spark.sql.Column, src: org.apache.spark.sql.DataFrame) =
        src.agg(n.as("n_checked"), viol.as("n_violations"))
          .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))
      val c1 = chk("not_null:o_custkey", count(lit(1)),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)), ord)
      val c2 = chk("unique:o_orderkey", count(lit(1)),
        count(lit(1)) - countDistinct(col("o_orderkey")), ord)
      val c3 = chk("accepted_values:o_orderstatus", count(lit(1)),
        sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)), ord)
      val orphans = li.join(ord.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val c4 = li.agg(count(lit(1)).as("n_checked")).crossJoin(orphans)
        .select(lit("fk:l_orderkey->orders").as("check_name"),
          col("n_checked"), col("n_violations"))
      val c5 = chk("range:0<=o_totalprice<=400000", count(lit(1)),
        sum(when(col("o_totalprice") < 0 || col("o_totalprice") > 400000, 1L)
          .otherwise(0L)), ord)
      Seq(c1, c2, c3, c4, c5).reduce(_ unionAll _)
        .select(col("check_name"), col("n_checked"), col("n_violations"),
          (col("n_violations") === 0L).as("pass"))
        .orderBy(col("check_name"))
    },

    // Privacy-release audit: k-anonymity + l-diversity census of the
    // events table under a quasi-identifier projection (event_type,
    // hour-of-day, value band) with user_id as the sensitive attribute.
    // For k ∈ {2, 5, 10}: rows/groups in QI groups smaller than k (the
    // re-identifiable mass a release at that k would have to suppress or
    // generalize), plus the k-independent l-diversity floor — QI groups
    // whose rows all belong to ONE user re-identify that user outright.
    // One QI-keyed aggregation is the only fact-proportional stage; the
    // per-k sweep runs on the QI-bounded group census (types × 24 × ~12
    // bands), so auditing more k values costs nothing at scale.
    // Hour-of-day derives from epoch micros by integer arithmetic (never
    // a raw TIMESTAMP output or engine-local calendar function).
    Q("q_k_anonymity",
      "WITH e AS (SELECT event_type, (epoch_us(ts) // 3600000000) % 24 AS hod, " +
        "CAST(floor(value / 50) AS BIGINT) AS vband, user_id FROM events), " +
        "g AS (SELECT event_type, hod, vband, COUNT(*) AS n, " +
        "COUNT(DISTINCT user_id) AS u FROM e GROUP BY 1, 2, 3), " +
        "k AS (SELECT unnest([2, 5, 10]) AS k) " +
        "SELECT k, CAST(COUNT(*) AS BIGINT) AS n_groups, " +
        "CAST(SUM(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS groups_at_risk, " +
        "CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk, " +
        "ROUND(CAST(SUM(CASE WHEN n < k THEN n ELSE 0 END) AS DOUBLE) / SUM(n), 6) AS risk_share, " +
        "CAST(SUM(CASE WHEN u = 1 THEN 1 ELSE 0 END) AS BIGINT) AS singleton_user_groups, " +
        "CAST(MIN(n) AS BIGINT) AS min_group_n, CAST(MIN(u) AS BIGINT) AS min_group_u " +
        "FROM k CROSS JOIN g GROUP BY k ORDER BY k") { (s, d) =>
      import s.implicits._
      val g = Tables.events(s, d)
        .select(col("event_type"),
          expr("(unix_micros(ts) div 3600000000) % 24").as("hod"),
          expr("CAST(floor(value / 50) AS BIGINT)").as("vband"),
          col("user_id"))
        .groupBy(col("event_type"), col("hod"), col("vband"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("u"))
      Seq(2, 5, 10).toDF("k").crossJoin(g)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("groups_at_risk"),
          sum(when(col("n") < col("k"), col("n")).otherwise(0L)).as("rows_at_risk"),
          round(sum(when(col("n") < col("k"), col("n")).otherwise(0L)).cast("double")
            / sum(col("n")), 6).as("risk_share"),
          sum(when(col("u") === 1L, 1L).otherwise(0L)).as("singleton_user_groups"),
          min(col("n")).as("min_group_n"), min(col("u")).as("min_group_u"))
        .orderBy(col("k"))
    },

    // Calendar gap-fill + trailing moving average (round 9): the
    // time-series densify every metric pipeline needs — days with no
    // events exist as explicit zeros, so the 7-day trailing mean is
    // computed over the true calendar, not just observed days. The spine
    // generates from each type's own [min, max] day range (a per-type
    // aggregate over the already-aggregated daily table — types×days
    // rows, trivial vs the events scan); the window partition is bounded
    // by days-per-type. Daily totals round to 2 dp BEFORE the window so
    // the frame fold sees identical values in both engines; the ordered
    // frame itself folds in the same row order everywhere.
    Q("q_gapfill_ma",
      s"WITH $dailyTotalsCtes, " +
        "mm AS (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx FROM d GROUP BY 1), " +
        "spine AS (SELECT event_type, unnest(range(mn, mx + 1)) AS day FROM mm), " +
        "f AS (SELECT s.event_type, s.day, COALESCE(d.total, 0.0) AS total " +
        "FROM spine s LEFT JOIN d USING (event_type, day)), " +
        "m AS (SELECT event_type, day, total, ROUND(AVG(total) OVER " +
        "(PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS ma7 FROM f) " +
        "SELECT event_type, day, total, ma7 FROM m ORDER BY event_type, day") { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type"),
        expr("unix_micros(ts) div 1000000 div 86400").as("day"), col("value"))
      val daily = e.groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      val mm = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      val spine = mm.select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
      val f = spine.join(daily, Seq("event_type", "day"), "left")
        .withColumn("total", coalesce(col("total"), lit(0.0)))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      f.withColumn("ma7", round(avg(col("total")).over(w), 6))
        .select(col("event_type"), col("day"), col("total"), col("ma7"))
        .orderBy(col("event_type"), col("day"))
    },

    // Rolling exact median over the 7-day trailing frame (round 9): the
    // robust companion to q_gapfill_ma's trailing mean — a single spike
    // day barely moves it. Daily totals round to 2 dp BEFORE the window;
    // odd frames pick an exact element and even (series-head) frames
    // average two rounded values, identical interpolation in both
    // engines. Same bounded (type, day) window partition as its siblings.
    Q("q_rolling_median",
      s"WITH $dailyTotalsCtes " +
        "SELECT event_type, day, total, ROUND(MEDIAN(total) OVER " +
        "(PARTITION BY event_type ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7 " +
        "FROM d ORDER BY event_type, day") { (s, d) =>
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 1000000 div 86400").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(-6, Window.currentRow)
      daily.withColumn("med7",
          round(expr("percentile(total, 0.5)").over(w), 6))
        .select(col("event_type"), col("day"), col("total"), col("med7"))
        .orderBy(col("event_type"), col("day"))
    },

    // Day-over-day percent change (round 9): the period-over-period
    // readout every metrics dashboard leads with. One (type, day)
    // aggregate, then a LAG window inside the bounded per-type partition;
    // the ratio divides two 2-dp-rounded totals (NULLIF guards a zero
    // prior day identically in both engines) and rounds to 6.
    Q("q_period_over_period",
      s"WITH $dailyTotalsCtes, " +
        "w AS (SELECT event_type, day, total, " +
        "LAG(total) OVER (PARTITION BY event_type ORDER BY day) AS prev FROM d) " +
        "SELECT event_type, day, total, prev, " +
        "ROUND((total - prev) / NULLIF(prev, 0), 6) AS pct_change " +
        "FROM w WHERE prev IS NOT NULL ORDER BY event_type, day") { (s, d) =>
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 1000000 div 86400").as("day"), col("value"))
        .groupBy(col("event_type"), col("day"))
        .agg(round(sum(col("value")), 2).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("prev", lag(col("total"), 1).over(w))
        .where(col("prev").isNotNull)
        .withColumn("pct_change",
          round((col("total") - col("prev")) / nullif(col("prev"), lit(0d)), 6))
        .select(col("event_type"), col("day"), col("total"), col("prev"),
          col("pct_change"))
        .orderBy(col("event_type"), col("day"))
    },

    // Fixed-width value histogram over DATA-DERIVED bounds (round 9):
    // 20 equal buckets over the observed [min, max] — the profiling
    // staple (q_histogram's width_bucket sibling uses FIXED bounds; here
    // the bounds come from the data). Bounds come from one
    // tiny aggregate broadcast back; the bucket index is exact double
    // arithmetic computed identically in both engines (same min/max, same
    // width, same floor), with the max value clamped into the last
    // bucket. One narrow scan + one bucket-keyed count. A constant-valued
    // column (mx = mn) short-circuits to bucket 0 via NULLIF + COALESCE —
    // the same degenerate-case guard q_anomaly_mad uses for MAD = 0
    // (Spark would cast the NaN to 0 while DuckDB errors on the CAST).
    Q("q_value_histogram",
      "WITH b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM events), " +
        "h AS (SELECT LEAST(COALESCE(CAST(FLOOR((value - mn) / (NULLIF(mx - mn, 0) / 20.0)) AS BIGINT), 0), 19) AS bucket " +
        "FROM events, b) " +
        "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1 ORDER BY bucket") { (s, d) =>
      val ev = Tables.events(s, d)
      val b = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      ev.crossJoin(broadcast(b))
        .select(least(coalesce(floor((col("value") - col("mn")) /
            (nullif(col("mx") - col("mn"), lit(0d)) / 20.0)).cast("long"),
          lit(0L)), lit(19L)).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    },

    // CUSUM changepoint detection: per event type, the day where the
    // cumulative sum of (daily total − mean) peaks in magnitude — the
    // classic level-shift locator every metric-monitoring pipeline runs.
    // One (type, day) aggregation bounds the series at types×days rows;
    // the running sum is an ordered window INSIDE each type partition
    // (≤ ~90 rows — never a global window), and the argmax is a
    // WindowGroupLimit row_number. Daily totals round to 2 dp and the
    // mean divides the ROUNDED sum, so the cusum fold — a sequential
    // left-to-right accumulation in both engines — sees bit-identical
    // inputs; |cusum| ties break on the earlier day.
    Q("q_changepoint",
      "WITH dly AS (SELECT event_type, ts::DATE AS day, ROUND(SUM(value), 2) AS x " +
        "FROM events GROUP BY 1, 2), " +
        "m AS (SELECT event_type, ROUND(ROUND(SUM(x), 2) / COUNT(*), 6) AS mu " +
        "FROM dly GROUP BY 1), " +
        "c AS (SELECT event_type, day, ROUND(SUM(x - mu) OVER " +
        "(PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), 6) AS cusum " +
        "FROM dly JOIN m USING (event_type)), " +
        "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type " +
        "ORDER BY ABS(cusum) DESC, day) AS rk FROM c) " +
        "SELECT event_type, day, cusum FROM r WHERE rk = 1 ORDER BY event_type") {
      (s, d) =>
        val dly = Tables.events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(round(sum(col("value")), 2).as("x"))
          // localCheckpoint trade: lineage is cut to executor-local storage,
          // so losing an executor fails the query instead of recomputing it.
          .localCheckpoint() // read twice (mean + cusum scan)
        val m = dly.groupBy(col("event_type"))
          .agg(round(round(sum(col("x")), 2) / count(lit(1)), 6).as("mu"))
        val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wTop = Window.partitionBy(col("event_type"))
          .orderBy(abs(col("cusum")).desc, col("day"))
        dly.join(broadcast(m), "event_type")
          .withColumn("cusum", round(sum(col("x") - col("mu")).over(wRun), 6))
          .withColumn("rk", row_number().over(wTop))
          .where(col("rk") === 1)
          .select(col("event_type"), col("day"), col("cusum"))
          .orderBy(col("event_type"))
    }
  )
}

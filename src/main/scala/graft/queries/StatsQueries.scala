package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Statistical aggregates, pivot, conditional aggregation, array stats,
  * correlated subqueries, cross join, and the salted-aggregation skew
  * guard (same oracle as the unsalted form — salting must not change the
  * answer). */
object StatsQueries {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Relative-error tolerance predicate shared by the approx-sketch oracles:
    * TRUE iff |approx − exact| / exact ≤ tol. The DuckDB oracle side of
    * those queries is a literal TRUE (the sketch is not replayable), so
    * `ApproxToleranceSpec` proves this predicate can actually go FALSE on a
    * bad estimate — the oracle alone could not detect an inverted or
    * trivially-true comparison. */
  def relWithinTol(approx: org.apache.spark.sql.Column,
                   exact: org.apache.spark.sql.Column, tol: Double): org.apache.spark.sql.Column =
    // abs(exact) in the denominator so a negative exact can't make the
    // predicate trivially true; exact = 0 (ANSI div-by-zero) degrades to
    // requiring approx = exact.
    when(exact === 0, approx === exact)
      .otherwise(abs(approx - exact) / abs(exact.cast("double")) <= tol)

  val all: Seq[Q] = Seq(

    // Moments & correlation (both engines use online one-pass updates;
    // round(6) absorbs merge-order ulps).
    Q("q_stats_agg",
      "SELECT l_returnflag, ROUND(stddev_samp(l_quantity), 6) AS sd_qty, " +
        "ROUND(var_samp(l_quantity), 6) AS var_qty, " +
        "ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, " +
        "ROUND(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price " +
        "FROM lineitem GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
          round(var_samp(col("l_quantity")), 6).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"))
        .orderBy(col("l_returnflag"))
    },

    // Pivot: event types to columns (fixed value list => fixed schema).
    Q("q_pivot", {
      val cols = EventTypes.map(t =>
        s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ")
      s"SELECT date_trunc('day', ts)::DATE AS day, $cols " +
        "FROM events GROUP BY 1 ORDER BY 1"
    }) { (s, d) =>
      Tables.events(s, d)
        .groupBy(to_date(date_trunc("day", col("ts"))).as("day"))
        .pivot("event_type", EventTypes)
        .count()
        .na.fill(0L, EventTypes)
        .orderBy(col("day"))
    },

    // Conditional aggregation: FILTER / CASE-sum per wallet.
    Q("q_conditional_agg",
      "SELECT user_id AS wallet_id, " +
        "COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase, " +
        "ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_total, " +
        "COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1") { (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id").as("wallet_id"))
        .agg(
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          round(sum(when(col("event_type") === "purchase", col("value"))), 2)
            .as("purchase_total"),
          count(lit(1)).as("n"))
        .orderBy(col("wallet_id"))
    },

    // Array statistics per embedding — vec_dot (the native expression) in
    // an oracle-checked query.
    Q("q_array_stats",
      s"WITH ${SimilarityQueries.embCte("e")} " +
        "SELECT vec_id, list_min(v) AS vmin, list_max(v) AS vmax, " +
        s"ROUND(${SimilarityQueries.dotSql("v", "v")}, 6) AS sq_norm, " +
        "len(v) AS dim FROM e ORDER BY vec_id") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
        .select(col("vec_id"),
          array_min(col("v")).as("vmin"),
          array_max(col("v")).as("vmax"),
          round(VectorFunctions.dot(col("v"), col("v")), 6).as("sq_norm"),
          size(col("v")).cast("long").as("dim"))
        .orderBy(col("vec_id"))
    },

    // Correlated EXISTS through the SQL layer.
    Q("q_exists_correlated",
      "SELECT c_custkey FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 480000) " +
        "ORDER BY c_custkey") { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("SELECT c_custkey FROM customer WHERE EXISTS " +
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 480000) " +
        "ORDER BY c_custkey")
    },

    // Cross join (explicit cartesian, tiny dims only).
    Q("q_cross_join",
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name") {
      (s, d) =>
        Tables.region(s, d).crossJoin(Tables.nation(s, d))
          .select(col("r_name"), col("n_name"))
          .orderBy(col("r_name"), col("n_name"))
    },

    // Custom typed UDAF (Aggregator): one-pass count/sum/min/max per wallet.
    Q("q_custom_udaf",
      "SELECT user_id AS wallet_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total, " +
        "MIN(value) AS vmin, MAX(value) AS vmax " +
        "FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1") { (s, d) =>
      val dep = graft.operators.DepositOps.deposits(Tables.events(s, d))
      dep.groupBy(col("wallet_id"))
        .agg(udaf(graft.functions.BalanceStatsAgg).apply(col("amount")).as("st"))
        .select(col("wallet_id"), col("st.n").as("n"),
          round(col("st.sum"), 2).as("total"),
          col("st.min").as("vmin"), col("st.max").as("vmax"))
        .orderBy(col("wallet_id"))
    },

    // Distinct projection (dropDuplicates shape).
    Q("q_distinct_pairs",
      "SELECT DISTINCT lang, source FROM documents ORDER BY lang, source") {
      (s, d) =>
        Tables.documents(s, d).select(col("lang"), col("source"))
          .dropDuplicates("lang", "source")
          .orderBy(col("lang"), col("source"))
    },

    // Salted two-phase aggregation — the hot-key skew guard: partial sums
    // over (key, salt), final merge over key. MUST equal the plain
    // aggregation, so it shares o9's oracle shape.
    Q("o9_balance_salted",
      "SELECT user_id AS wallet_id, ROUND(SUM(value), 2) AS balance " +
        "FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1") { (s, d) =>
      val dep = graft.operators.DepositOps.deposits(Tables.events(s, d))
      val salted = dep.withColumn("salt", pmod(hash(col("seq")), lit(8)))
        .groupBy(col("wallet_id"), col("salt"))
        .agg(sum(col("amount")).as("partial"))
      salted.groupBy(col("wallet_id"))
        .agg(round(sum(col("partial")), 2).as("balance"))
        .orderBy(col("wallet_id"))
    },

    // Sketch-based percentiles: the 100-TB path where exact percentiles
    // would sort every group. The sketch itself is not DuckDB-replayable
    // (different algorithm), so the oracle-able output is the exact
    // quartiles (Spark `percentile` == DuckDB `quantile_cont`) plus a
    // boolean asserting the sketch landed within 5% relative error —
    // deterministic in both engines (oracle side is literal TRUE).
    Q("q_approx_percentile",
      "SELECT o_orderstatus, " +
        "ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25, " +
        "ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50, " +
        "ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75, " +
        "TRUE AS approx_within_tol " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus") { (s, d) =>
      // Tolerance is evaluated against the UNROUNDED exact quartiles
      // (rounding is output formatting only — mixing rounded and unrounded
      // operands in the error ratio would be inconsistent).
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile(o_totalprice, 0.25)").as("e25"),
          expr("percentile(o_totalprice, 0.50)").as("e50"),
          expr("percentile(o_totalprice, 0.75)").as("e75"),
          expr("approx_percentile(o_totalprice, array(0.25, 0.5, 0.75), 1000)")
            .as("approx"))
        .withColumn("approx_within_tol",
          relWithinTol(element_at(col("approx"), 1), col("e25"), 0.05) &&
          relWithinTol(element_at(col("approx"), 2), col("e50"), 0.05) &&
          relWithinTol(element_at(col("approx"), 3), col("e75"), 0.05))
        .select(col("o_orderstatus"), round(col("e25"), 4).as("p25"),
          round(col("e50"), 4).as("p50"), round(col("e75"), 4).as("p75"),
          col("approx_within_tol"))
        .orderBy(col("o_orderstatus"))
    },

    // Mutual information between two categorical columns (lang × source)
    // — the dependence screen a data-audit sweep runs over column pairs.
    // One (lang, source) contingency aggregation (small: |lang|·|source|
    // cells however big the corpus), two marginal re-aggregations of that
    // tiny table, one broadcast total; MI = Σ p_ij · ln(p_ij/(p_i·p_j)).
    Q("q_mutual_info",
      "WITH j AS (SELECT lang, source, COUNT(*)::DOUBLE AS nij FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT SUM(nij) AS n FROM j), " +
        "m AS (SELECT lang, SUM(nij) AS ni FROM j GROUP BY 1), " +
        "s AS (SELECT source, SUM(nij) AS nj FROM j GROUP BY 1) " +
        "SELECT ROUND(SUM((nij / n) * ln((nij * n) / (ni * nj))), 6) AS mi " +
        "FROM j JOIN m USING (lang) JOIN s USING (source), t") { (s, d) =>
      // Direct load (no documents parallelism repartition — that exchange
      // serves the text-heavy dedup scans; here the scan prunes to two
      // string columns and aggregates immediately). localCheckpoint: the
      // contingency table is |lang|·|source| rows (~20); its three
      // marginal branches would otherwise each re-run the corpus
      // aggregation from the parquet scan.
      val j = Tables.load(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).cast("double").as("nij"))
        // localCheckpoint trade (every call in this file): lineage is cut
        // to executor-local storage, so losing an executor fails the query
        // instead of recomputing it.
        .localCheckpoint()
      val t = j.agg(sum(col("nij")).as("n"))
      val m = j.groupBy(col("lang")).agg(sum(col("nij")).as("ni"))
      val src = j.groupBy(col("source")).agg(sum(col("nij")).as("nj"))
      j.join(m, "lang").join(src, "source").crossJoin(broadcast(t))
        .agg(round(sum((col("nij") / col("n")) *
          log((col("nij") * col("n")) / (col("ni") * col("nj")))), 6).as("mi"))
    },

    // Pairwise Pearson correlation matrix over the lineitem measures, in
    // long form — the feature-screening pass every modeling pipeline runs.
    // ONE full-table aggregation computes all six pairs (Catalyst shares
    // the scan and the partial-agg buffers); the stack to long form is a
    // 1-row→6-row projection. Rounded to 4 dp: corr is a ratio of sums,
    // so reassociation noise lives at ~1e-12 relative.
    Q("q_correlation_matrix", {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      pairs.map { case (a, b) =>
        s"SELECT '$a~$b' AS pair, ROUND(CORR($a, $b), 4) AS r FROM lineitem"
      }.mkString("", " UNION ALL ", " ORDER BY pair")
    }) { (s, d) =>
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for {
        i <- cols.indices; j <- cols.indices if i < j
      } yield (cols(i), cols(j))
      val agg = Tables.lineitem(s, d).agg(
        round(corr(col(pairs.head._1), col(pairs.head._2)), 4).as("c0"),
        pairs.tail.zipWithIndex.map { case ((a, b), k) =>
          round(corr(col(a), col(b)), 4).as(s"c${k + 1}")
        }: _*)
      agg.select(explode(arrays_zip(
          array(pairs.map { case (a, b) => lit(s"$a~$b") }: _*).as("pair"),
          array(pairs.indices.map(k => col(s"c$k")): _*).as("r"))).as("z"))
        .select(col("z.pair").as("pair"), col("z.r").as("r"))
        .orderBy(col("pair"))
    },

    // Cramér's V: chi-square association between event type and a user
    // cohort (user_id mod 10) — the categorical-vs-categorical companion
    // to q_mutual_info. Contingency cells from one groupBy; marginals are
    // re-aggregations of the tiny cell table (localCheckpoint, read 3×);
    // expected counts and the chi-square fold run over ~50 rows. V =
    // sqrt(chi2 / (n * min(r-1, c-1))), rounded to 6 dp.
    Q("q_cramers_v",
      "WITH c AS (SELECT event_type, user_id % 10 AS cohort, " +
        "COUNT(*)::DOUBLE AS nij FROM events GROUP BY 1, 2), " +
        "rm AS (SELECT event_type, SUM(nij) AS ni FROM c GROUP BY 1), " +
        "cm AS (SELECT cohort, SUM(nij) AS nj FROM c GROUP BY 1), " +
        "t AS (SELECT SUM(nij) AS n, COUNT(DISTINCT event_type) AS nr, " +
        "COUNT(DISTINCT cohort) AS nc FROM c) " +
        "SELECT ROUND(SQRT(SUM(POW(nij - ni * nj / n, 2) / (ni * nj / n)) / " +
        "(ANY_VALUE(n) * LEAST(ANY_VALUE(nr) - 1, ANY_VALUE(nc) - 1))), 6) AS v " +
        "FROM c JOIN rm USING (event_type) JOIN cm USING (cohort), t") { (s, d) =>
      val c = Tables.events(s, d)
        .groupBy(col("event_type"), (col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).cast("double").as("nij"))
        .localCheckpoint()
      val rm = c.groupBy(col("event_type")).agg(sum(col("nij")).as("ni"))
      val cm = c.groupBy(col("cohort")).agg(sum(col("nij")).as("nj"))
      val t = c.agg(sum(col("nij")).as("n"),
        countDistinct(col("event_type")).as("nr"),
        countDistinct(col("cohort")).as("nc"))
      val e = col("ni") * col("nj") / col("n")
      c.join(rm, "event_type").join(cm, "cohort").crossJoin(broadcast(t))
        .agg(round(sqrt(sum(pow(col("nij") - e, 2) / e) /
          (first(col("n")) * least(first(col("nr")) - 1, first(col("nc")) - 1))), 6)
          .as("v"))
    },

    // A/B experiment readout: Welch's t statistic per event type between
    // two user cohorts (user_id parity = the deterministic assignment).
    // ONE grouped aggregation computes both arms' (n, mean, variance) via
    // conditional aggregates — a single scan, no join, however many
    // metrics ride along. mean/var are ROUNDED to 6 dp in both engines
    // before t, so reassociation noise cannot move the statistic.
    Q("q_ab_ttest",
      "WITH s AS (SELECT event_type, " +
        "COUNT(*) FILTER (user_id % 2 = 0)::BIGINT AS n_a, " +
        "COUNT(*) FILTER (user_id % 2 = 1)::BIGINT AS n_b, " +
        "ROUND(AVG(value) FILTER (user_id % 2 = 0), 6) AS mean_a, " +
        "ROUND(AVG(value) FILTER (user_id % 2 = 1), 6) AS mean_b, " +
        "ROUND(VAR_SAMP(value) FILTER (user_id % 2 = 0), 6) AS var_a, " +
        "ROUND(VAR_SAMP(value) FILTER (user_id % 2 = 1), 6) AS var_b " +
        "FROM events GROUP BY 1) " +
        "SELECT event_type, n_a, n_b, mean_a, mean_b, " +
        "ROUND((mean_a - mean_b) / SQRT(var_a / n_a + var_b / n_b), 6) AS t_stat " +
        "FROM s ORDER BY event_type") { (s, d) =>
      val a = col("user_id") % 2 === 0
      val st = Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(when(a, 1)).as("n_a"), count(when(!a, 1)).as("n_b"),
          round(avg(when(a, col("value"))), 6).as("mean_a"),
          round(avg(when(!a, col("value"))), 6).as("mean_b"),
          round(var_samp(when(a, col("value"))), 6).as("var_a"),
          round(var_samp(when(!a, col("value"))), 6).as("var_b"))
      st.select(col("event_type"), col("n_a"), col("n_b"),
          col("mean_a"), col("mean_b"),
          round((col("mean_a") - col("mean_b")) /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")), 6)
            .as("t_stat"))
        .orderBy(col("event_type"))
    }
  )
}

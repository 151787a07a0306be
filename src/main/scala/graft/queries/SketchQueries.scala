package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Mergeable-sketch queries (SURVEY §7.3 escalation; VERDICT r2 item #9):
  * the KMV theta sketch aggregate ([[graft.functions.ThetaSketch]])
  * exercised end-to-end — per-group sketches rolled up with
  * `theta_kmv_union_agg`, cross-table set algebra with `theta_kmv_union` /
  * `theta_intersect_estimate`.
  *
  * Oracle pattern per `q_approx_distinct` precedent: sketch estimates are
  * not DuckDB-replayable, so the output carries the exact cardinalities
  * (computed exactly by both engines) plus booleans asserting each
  * estimate landed within tolerance (oracle side literal TRUE). The
  * estimates stay in the executed plan — a broken sketch flips a boolean.
  * `ThetaSketchSpec` proves the tolerance predicate CAN go false.
  */
object SketchQueries {

  val all: Seq[Q] = Seq(

    // Two-table sketch merge: A = custkeys that placed orders (built as
    // per-priority sketches, merged with theta_kmv_union_agg — the stored-
    // sketch rollup path), B = customers in the BUILDING segment.
    // Union and intersection estimated from the sketches alone; exact
    // values from full recomputation. At 100 TB only 32 KiB sketches
    // cross the shuffle and the rollup never re-scans raw data.
    Q("q_sketch_merge",
      "SELECT " +
        "(SELECT COUNT(DISTINCT o_custkey) FROM orders) AS exact_a, " +
        "(SELECT COUNT(DISTINCT c_custkey) FROM customer " +
        "  WHERE c_mktsegment = 'BUILDING') AS exact_b, " +
        "(SELECT COUNT(DISTINCT o.o_custkey) FROM orders o " +
        "  JOIN customer c ON o.o_custkey = c.c_custkey " +
        "  WHERE c.c_mktsegment = 'BUILDING') AS exact_inter, " +
        "(SELECT COUNT(DISTINCT k) FROM (" +
        "  SELECT o_custkey AS k FROM orders UNION ALL " +
        "  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) AS exact_union, " +
        "TRUE AS tol_a, TRUE AS tol_b, TRUE AS tol_inter, TRUE AS tol_union") { (s, d) =>
      val orders   = Tables.orders(s, d)
      val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")

      val skA = orders
        .groupBy(col("o_orderpriority"))
        .agg(call_function("theta_sketch", col("o_custkey")).as("sk"))
        .agg(call_function("theta_kmv_union_agg", col("sk")).as("sk_a"))
      val skB = building
        .agg(call_function("theta_sketch", col("c_custkey")).as("sk_b"))

      val exactA = orders.agg(countDistinct(col("o_custkey")).as("exact_a"))
      val exactB = building.agg(countDistinct(col("c_custkey")).as("exact_b"))
      val exactInter = orders
        .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(countDistinct(col("o_custkey")).as("exact_inter"))
      val exactUnion = orders.select(col("o_custkey").as("k"))
        .union(building.select(col("c_custkey")))
        .agg(countDistinct(col("k")).as("exact_union"))

      def withinTol(est: org.apache.spark.sql.Column,
                    exact: org.apache.spark.sql.Column, tol: Double) =
        abs(est - exact.cast("double")) / exact.cast("double") <= tol

      // All operands are single-row aggregates — the crossJoins are 1×1.
      skA.crossJoin(skB)
        .crossJoin(exactA).crossJoin(exactB)
        .crossJoin(exactInter).crossJoin(exactUnion)
        .select(
          col("exact_a"), col("exact_b"), col("exact_inter"), col("exact_union"),
          withinTol(call_function("theta_estimate", col("sk_a")),
            col("exact_a"), 0.05).as("tol_a"),
          withinTol(call_function("theta_estimate", col("sk_b")),
            col("exact_b"), 0.05).as("tol_b"),
          withinTol(call_function("theta_intersect_estimate", col("sk_a"), col("sk_b")),
            col("exact_inter"), 0.10).as("tol_inter"),
          withinTol(call_function("theta_estimate",
              call_function("theta_kmv_union", col("sk_a"), col("sk_b"))),
            col("exact_union"), 0.05).as("tol_union"))
    },

    // Completes the theta set algebra: set DIFFERENCE |A\B| (estimate_A −
    // intersect estimate) and sketch-estimated JACCARD |A∩B| / |A∪B| —
    // the similarity score two partners' audiences / two corpora's key
    // sets are compared by when neither side will ship raw keys, only
    // 32 KiB sketches. Same tolerance-boolean oracle discipline; the
    // difference gets a wider band (two estimates' errors compound) and
    // Jaccard an absolute one (it is already a ratio).
    Q("q_sketch_difference",
      "WITH ea AS (SELECT COUNT(DISTINCT o_custkey) AS a FROM orders), " +
        "ei AS (SELECT COUNT(DISTINCT o.o_custkey) AS i FROM orders o " +
        "JOIN customer c ON o.o_custkey = c.c_custkey " +
        "WHERE c.c_mktsegment = 'BUILDING'), " +
        "eu AS (SELECT COUNT(DISTINCT k) AS u FROM (" +
        "SELECT o_custkey AS k FROM orders UNION ALL " +
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')) " +
        "SELECT a - i AS exact_diff, ROUND(i / (u * 1.0), 6) AS exact_jaccard, " +
        "TRUE AS tol_diff, TRUE AS tol_jaccard FROM ea, ei, eu") { (s, d) =>
      val orders = Tables.orders(s, d)
      val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val skA = orders.agg(call_function("theta_sketch", col("o_custkey")).as("sk_a"))
      val skB = building.agg(call_function("theta_sketch", col("c_custkey")).as("sk_b"))
      val exactA = orders.agg(countDistinct(col("o_custkey")).as("a"))
      val exactI = orders
        .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
        .agg(countDistinct(col("o_custkey")).as("i"))
      val exactU = orders.select(col("o_custkey").as("k"))
        .union(building.select(col("c_custkey")))
        .agg(countDistinct(col("k")).as("u"))
      val estInter = call_function("theta_intersect_estimate", col("sk_a"), col("sk_b"))
      val estDiff = call_function("theta_estimate", col("sk_a")) - estInter
      val estJacc = estInter / call_function("theta_estimate",
        call_function("theta_kmv_union", col("sk_a"), col("sk_b")))
      skA.crossJoin(skB).crossJoin(exactA).crossJoin(exactI).crossJoin(exactU)
        .select((col("a") - col("i")).as("exact_diff"),
          round(col("i") / (col("u") * lit(1.0)), 6).as("exact_jaccard"),
          (abs(estDiff - (col("a") - col("i")).cast("double"))
            / greatest((col("a") - col("i")).cast("double"), lit(1.0)) <= 0.15)
            .as("tol_diff"),
          (abs(estJacc - col("i") / (col("u") * lit(1.0))) <= 0.05)
            .as("tol_jaccard"))
    },

    // The BUILT-IN DataSketches HLL family (hll_sketch_agg / hll_union /
    // hll_sketch_estimate) alongside the custom theta aggregate: same
    // two-table merge discipline, same tolerance-boolean oracle. These
    // sketch binaries are what a 100-TB rollup stores per partition and
    // merges without re-scanning raw data.
    Q("q_hll_union",
      "SELECT (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem) AS exact_li, " +
        "(SELECT COUNT(DISTINCT s_suppkey) FROM supplier) AS exact_s, " +
        "(SELECT COUNT(DISTINCT k) FROM (SELECT l_suppkey AS k FROM lineitem " +
        "UNION ALL SELECT s_suppkey FROM supplier)) AS exact_union, " +
        "TRUE AS tol_li, TRUE AS tol_s, TRUE AS tol_union") { (s, d) =>
      val li = Tables.lineitem(s, d)
      val sup = Tables.supplier(s, d)
      val skLi = li.agg(expr("hll_sketch_agg(l_suppkey)").as("sk_li"))
      val skS = sup.agg(expr("hll_sketch_agg(s_suppkey)").as("sk_s"))
      val eLi = li.agg(countDistinct(col("l_suppkey")).as("exact_li"))
      val eS = sup.agg(countDistinct(col("s_suppkey")).as("exact_s"))
      val eU = li.select(col("l_suppkey").as("k"))
        .union(sup.select(col("s_suppkey")))
        .agg(countDistinct(col("k")).as("exact_union"))
      def withinTol(est: org.apache.spark.sql.Column,
                    exact: org.apache.spark.sql.Column, tol: Double) =
        abs(est - exact.cast("double")) / exact.cast("double") <= tol
      skLi.crossJoin(skS).crossJoin(eLi).crossJoin(eS).crossJoin(eU)
        .select(
          col("exact_li"), col("exact_s"), col("exact_union"),
          withinTol(expr("hll_sketch_estimate(sk_li)"), col("exact_li"), 0.05)
            .as("tol_li"),
          withinTol(expr("hll_sketch_estimate(sk_s)"), col("exact_s"), 0.05)
            .as("tol_s"),
          withinTol(expr("hll_sketch_estimate(hll_union(sk_li, sk_s))"),
            col("exact_union"), 0.05).as("tol_union"))
    },

    // Frequent-items sketch (Spark 4 approx_top_k, DataSketches
    // FrequentItems under the hood). With maxItemsTracked comfortably
    // above the true distinct count the sketch is EXACT, so the oracle
    // replays it as a plain count — the plumbing being checked is the
    // sketch aggregate + struct-array explode. At 100 TB the sketch is
    // the point: heavy-hitter counts merge map-side in bounded memory
    // where a full GROUP BY would shuffle the whole key space.
    Q("q_approx_topk",
      "SELECT l_returnflag || l_linestatus AS item, COUNT(*) AS n " +
        "FROM lineitem GROUP BY 1 ORDER BY n DESC, item") { (s, d) =>
      Tables.lineitem(s, d)
        .select(concat(col("l_returnflag"), col("l_linestatus")).as("item"))
        .agg(expr("approx_top_k(item, 10, 1000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("item"), col("e.count").as("n"))
        .orderBy(col("n").desc, col("item"))
    },

    // Custom md5-derived HLL ([[graft.functions.HllSketch]]) — unlike
    // q_hll_union's tolerance booleans, the ESTIMATE ITSELF is the oracle
    // check: registers come from md5 hex of the key's string form, so
    // DuckDB replays register assignment, max-rho, the exact-integer
    // harmonic sum (HUGEINT ≡ BigInteger) and the one rounded division.
    Q("q_hll_md5_distinct", HllOracle.distinctSql) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(
          round(call_function("hll_md5_estimate",
            call_function("hll_md5_sketch", col("o_custkey"))), 2)
            .as("approx_distinct"),
          countDistinct(col("o_custkey")).as("exact_distinct"))
        .orderBy("pri")
    },

    // Mergeability, value-checked: per-(priority, month) sketches rolled
    // up with hll_md5_merge_agg must give the BIT-IDENTICAL estimate of a
    // direct per-priority sketch (register-wise max is associative), and
    // the oracle recomputes that same value from scratch. This is the
    // stored-sketch rollup path: at 100 TB only 4 KiB sketches cross the
    // second shuffle and a yearly rollup never rescans raw data.
    Q("q_hll_md5_merge", HllOracle.mergeSql) { (s, d) =>
      val orders = Tables.orders(s, d)
      val merged = orders
        .groupBy(col("o_orderpriority").as("pri"),
          date_format(col("o_orderdate"), "yyyy-MM").as("mon"))
        .agg(call_function("hll_md5_sketch", col("o_custkey")).as("sk"))
        .groupBy("pri")
        .agg(round(call_function("hll_md5_estimate",
          call_function("hll_md5_merge_agg", col("sk"))), 2).as("approx_merged"))
      val direct = orders
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(round(call_function("hll_md5_estimate",
          call_function("hll_md5_sketch", col("o_custkey"))), 2).as("approx_direct"))
      merged.join(direct, "pri")
        .select(col("pri"), col("approx_merged"), col("approx_direct"),
          (col("approx_merged") === col("approx_direct")).as("merge_exact"))
        .orderBy("pri")
    },

    // Count-min sketch ([[graft.functions.CountMinSketch]]) — mergeable
    // frequency grid, md5-chunk buckets, ALL-INTEGER oracle: DuckDB
    // replays bucket membership per probe key and takes the same min over
    // 4 hash rows, so the estimate compares exactly with no float caveats.
    // cms_merged comes through per-month grids + cms_merge_agg and must
    // equal the direct estimate (element-wise sum = total counts).
    Q("q_cms_heavy_hitters", CmsOracle.sql) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val probes = (1L to 10L).toSeq
      val direct = li.agg(call_function("cms_sketch", col("l_suppkey")).as("sk"))
      val merged = li
        .groupBy(month(col("l_shipdate")).as("mon"))
        .agg(call_function("cms_sketch", col("l_suppkey")).as("msk"))
        .agg(call_function("cms_merge_agg", col("msk")).as("skm"))
      val est = direct.crossJoin(merged).select(
        explode(array(probes.map(p => struct(
          lit(p).as("suppkey"),
          call_function("cms_estimate", col("sk"), lit(p)).as("cms_count"),
          call_function("cms_estimate", col("skm"), lit(p)).as("cms_merged"))): _*))
          .as("e"))
        .select(col("e.suppkey"), col("e.cms_count"), col("e.cms_merged"))
      val exact = li.where(col("l_suppkey").isin(probes: _*))
        .groupBy(col("l_suppkey").as("suppkey"))
        .agg(count(lit(1)).as("exact_count"))
      est.join(exact, Seq("suppkey"), "left_outer")
        .select(col("suppkey"), col("cms_count"), col("cms_merged"),
          coalesce(col("exact_count"), lit(0L)).as("exact_count"))
        .orderBy("suppkey")
    },

    // Quantile sketch ([[graft.functions.QuantileSketch]]) — mergeable
    // HDR-style integer log grid, ALL-INTEGER oracle: DuckDB replays the
    // bucket assignment ((v >> s) << s) and the rank-ceil(q·N) selection
    // by value, so p50/p90/p99 compare exactly. Sketches build per
    // (priority, month), roll up via qsk_merge_agg per priority and into
    // a global 'ALL' row; merge is exact bucket addition, so the merged
    // estimates must equal direct single-pass estimates (merge_exact —
    // genuinely computed on the Spark side, literal TRUE in the oracle,
    // same convention as q_cms_heavy_hitters' cms_merged).
    Q("q_quantile_sketch_merge", QskOracle.sql) { (s, d) =>
      val base = Tables.orders(s, d).select(
        col("o_orderpriority").as("grp"), month(col("o_orderdate")).as("mon"),
        floor(col("o_totalprice") * 100).cast("long").as("c"))
      val withAll = base.union(
        base.select(lit("ALL").as("grp"), col("mon"), col("c")))
      val merged = withAll
        .groupBy(col("grp"), col("mon"))
        .agg(call_function("qsk_sketch", col("c")).as("sk"))
        .groupBy("grp")
        .agg(call_function("qsk_merge_agg", col("sk")).as("skm"))
      val direct = withAll.groupBy("grp")
        .agg(call_function("qsk_sketch", col("c")).as("skd"))
      def qm(q: Double) = call_function("qsk_quantile", col("skm"), lit(q))
      def qd(q: Double) = call_function("qsk_quantile", col("skd"), lit(q))
      merged.join(direct, "grp").select(
        col("grp"),
        call_function("qsk_n", col("skm")).as("n"),
        qm(0.5).as("p50"), qm(0.9).as("p90"), qm(0.99).as("p99"),
        (qm(0.5) === qd(0.5) && qm(0.9) === qd(0.9) &&
          qm(0.99) === qd(0.99) &&
          call_function("qsk_n", col("skm")) ===
            call_function("qsk_n", col("skd"))).as("merge_exact"))
        .orderBy("grp")
    }
  )
}

/** DuckDB replay of the quantile-sketch derivation (see
  * [[graft.functions.QuantileSketch]]): cents = FLOOR(price·100) — the
  * identical IEEE double multiply on both engines — bucket = value with
  * all but the top P+1 = 7 significant bits zeroed (integer shift math),
  * estimate = smallest bucket whose cumulative count reaches
  * max(ceil(q·N), 1). Merge being exact bucket addition, the oracle
  * computes each quantile once and asserts merge_exact as literal TRUE. */
private object QskOracle {
  val sql: String =
    "WITH v0 AS (SELECT o_orderpriority AS grp, " +
      "CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS c FROM orders), " +
    "v AS (SELECT grp, c FROM v0 UNION ALL SELECT 'ALL', c FROM v0), " +
    "b AS (SELECT grp, (c >> s) << s AS bk, COUNT(*) AS cnt FROM (" +
      "SELECT grp, c, GREATEST(length(bin(c)) - 1 - 6, 0) AS s FROM v) " +
      "GROUP BY 1, 2), " +
    "tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY 1), " +
    "cum AS (SELECT grp, bk, CAST(SUM(cnt) OVER (" +
      "PARTITION BY grp ORDER BY bk) AS BIGINT) AS cum FROM b), " +
    "qs AS (SELECT CAST(q AS DOUBLE) AS q " +
      "FROM (VALUES (0.5), (0.9), (0.99)) t(q)), " +
    "sel AS (SELECT cum.grp AS grp, qs.q AS q, MIN(cum.bk) AS est " +
      "FROM cum JOIN tot ON cum.grp = tot.grp CROSS JOIN qs " +
      "WHERE cum.cum >= GREATEST(CAST(CEIL(qs.q * tot.n) AS BIGINT), 1) " +
      "GROUP BY 1, 2) " +
    "SELECT sel.grp, tot.n, " +
      "MAX(CASE WHEN sel.q = 0.5 THEN sel.est END) AS p50, " +
      "MAX(CASE WHEN sel.q = 0.9 THEN sel.est END) AS p90, " +
      "MAX(CASE WHEN sel.q = 0.99 THEN sel.est END) AS p99, " +
      "TRUE AS merge_exact " +
    "FROM sel JOIN tot ON sel.grp = tot.grp " +
    "GROUP BY sel.grp, tot.n ORDER BY sel.grp"
}

/** DuckDB replay of the count-min derivation (see
  * [[graft.functions.CountMinSketch]]): hash row i's bucket is md5 hex
  * chars [3i+1, 3i+3]; a probe's counter in row i is the count of input
  * rows sharing that bucket; the estimate is the min over the 4 rows.
  * Merged-over-months grids sum to the direct grid, so one computed
  * estimate serves both columns. */
private object CmsOracle {
  val sql: String =
    "WITH rows_ AS (SELECT * FROM (VALUES (0), (1), (2), (3)) r(i)), " +
    "probes AS (SELECT CAST(pk AS BIGINT) AS pk FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) t(pk)), " +
    "db AS (SELECT i, substr(md5(CAST(l_suppkey AS VARCHAR)), 1 + 3 * i, 3) AS b, " +
      "COUNT(*) AS c FROM lineitem CROSS JOIN rows_ GROUP BY 1, 2), " +
    "pb AS (SELECT pk, i, substr(md5(CAST(pk AS VARCHAR)), 1 + 3 * i, 3) AS b " +
      "FROM probes CROSS JOIN rows_), " +
    "est AS (SELECT pk, MIN(COALESCE(c, 0)) AS cms_count " +
      "FROM pb LEFT JOIN db USING (i, b) GROUP BY pk), " +
    "ex AS (SELECT l_suppkey AS pk, COUNT(*) AS exact_count FROM lineitem " +
      "WHERE l_suppkey BETWEEN 1 AND 10 GROUP BY 1) " +
    "SELECT est.pk AS suppkey, est.cms_count, est.cms_count AS cms_merged, " +
      "COALESCE(ex.exact_count, 0) AS exact_count " +
    "FROM est LEFT JOIN ex ON est.pk = ex.pk ORDER BY suppkey"
}

/** DuckDB replay of the md5-HLL derivation (see [[graft.functions.HllSketch]]):
  * register = md5 hex chars [1..3], rho = leading zero bits of chars
  * [4..16] + 1, harmonic sum as exact HUGEINT Σ 2^(53−Mj), then the
  * identical float expression tree as the Scala estimator. */
private[queries] object HllOracle {

  /** CTE chain computing `grp, est` (the rounded HLL estimate) over any
    * (grp, hh) source — `src` must yield one row per input element with
    * its group key as `grp` and `md5(CAST(key AS VARCHAR))` as `hh`.
    * Parameterized so the batch (orders) and streaming (per-day events)
    * registrations replay the identical estimator. */
  def estCteFor(src: String): String =
    "WITH h AS (" + src + "), " +
    "r AS (SELECT grp, substr(hh, 1, 3) AS reg, " +
      "CASE WHEN substr(hh, 4, 13) = '0000000000000' THEN 53 " +
      "ELSE 4 * length(regexp_extract(substr(hh, 4, 13), '^0*')) " +
      "+ CASE substr(ltrim(substr(hh, 4, 13), '0'), 1, 1) " +
        "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 " +
        "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1 " +
        "ELSE 0 END + 1 END AS rho FROM h), " +
    "regs AS (SELECT grp, reg, MAX(rho) AS mj FROM r GROUP BY grp, reg), " +
    "agg AS (SELECT grp, COUNT(*) AS nreg, " +
      "SUM(CAST((1::BIGINT << (53 - mj)) AS HUGEINT)) AS s_present " +
      "FROM regs GROUP BY grp), " +
    "fin AS (SELECT grp, 4096 - nreg AS vzero, " +
      "(0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 * 9007199254740992.0 " +
      "/ CAST(CAST(4096 - nreg AS HUGEINT) * (1::BIGINT << 53) + s_present AS DOUBLE) " +
      "AS eraw FROM agg), " +
    "est AS (SELECT grp, " +
      "ROUND(CASE WHEN eraw <= 2.5 * 4096.0 AND vzero > 0 " +
        "THEN 4096.0 * LN(4096.0 / vzero) ELSE eraw END, 2) AS est FROM fin)"

  private val ordersSrc =
    "SELECT o_orderpriority AS grp, md5(CAST(o_custkey AS VARCHAR)) AS hh FROM orders"

  val distinctSql: String =
    estCteFor(ordersSrc) + ", " +
      "ex AS (SELECT o_orderpriority AS grp, " +
        "COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders GROUP BY 1) " +
      "SELECT est.grp AS pri, est.est AS approx_distinct, ex.exact_distinct " +
      "FROM est JOIN ex ON est.grp = ex.grp ORDER BY pri"

  // Merged-over-months and direct sketches have identical registers
  // (max over a partition of the rows = max over the rows), so the
  // oracle emits the one recomputed estimate for both columns.
  val mergeSql: String =
    estCteFor(ordersSrc) + " " +
      "SELECT grp AS pri, est AS approx_merged, est AS approx_direct, " +
      "TRUE AS merge_exact FROM est ORDER BY pri"
}

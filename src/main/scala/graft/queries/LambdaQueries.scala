package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.functions.VectorFunctions
import graft.sources.Tables

/** Higher-order (lambda) array functions and history reshaping.
  *
  * `q_higher_order` exercises the full HOF surface — `transform`,
  * `filter`, `exists`, `forall`, `aggregate`, `zip_with` — as one
  * codegen'd projection over the embedding column (no UDFs: lambda
  * functions stay inside whole-stage codegen, so per-row cost is a tight
  * loop over the array, shuffle-free at any scale).
  *
  * `q_scd2_intervals` builds a slowly-changing-dimension type-2 history
  * from the event log: each deposit's balance is valid from its own
  * timestamp until the wallet's next deposit (`lead`), open-ended for the
  * latest row. One window per wallet — a single hash-partitioned shuffle
  * on wallet_id regardless of history length.
  */
object LambdaQueries {

  /** Per-invocation suffix for the recursive-CTE anchor view — concurrent
    * runs on a shared session must not race on one global name. Anchor
    * checkpoint blocks: `Dataset.unpersist` does NOT reach a
    * localCheckpoint's blocks (it only uncaches CacheManager entries), so
    * the release path is reference-drop → ContextCleaner GC, which
    * retiring the view name and letting the Dataset go unreachable
    * already provides; holding the previous anchor to "unpersist" it
    * would only delay that.
    */
  private val anchorSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** q_recursive_machine's detector fold (1-day window, threshold 300)
    * and result, shared by its oracle and its Spark SQL. */
  private def recursiveMachineFold(hint: String): String =
    CoreQueries.detectorFoldCte(86400L, 300.0, "CAST(0.0 AS DOUBLE)", hint)
  private def recursiveMachineResult: String =
    " SELECT wallet_id, ROUND(rc, 2) AS win_sum_10, NOT fr AS above_threshold " +
      "FROM s WHERE rn = n ORDER BY wallet_id"

  val all: Seq[Q] = Seq(

    Q("q_higher_order",
      s"WITH ${SimilarityQueries.embCte("e")} " +
        "SELECT vec_id, " +
        "len(list_filter(v, x -> x > 0)) AS n_pos, " +
        "ROUND(list_sum(list_transform(v, x -> abs(x))), 6) AS l1_norm, " +
        "ROUND(list_sum(list_transform(range(1, len(v) + 1), " +
        "i -> v[i] * v[len(v) + 1 - i])), 6) AS rev_dot, " +
        "len(list_filter(v, x -> abs(x) > 0.32)) > 0 AS any_big, " +
        "len(list_filter(v, x -> abs(x) >= 0.45)) = 0 AS all_small " +
        "FROM e ORDER BY vec_id") { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v"))
        .select(col("vec_id"),
          size(filter(col("v"), x => x > 0)).cast("long").as("n_pos"),
          round(aggregate(col("v"), lit(0.0), (acc, x) => acc + abs(x)), 6)
            .as("l1_norm"),
          round(aggregate(zip_with(col("v"), reverse(col("v")), (a, b) => a * b),
            lit(0.0), (acc, x) => acc + x), 6).as("rev_dot"),
          exists(col("v"), x => abs(x) > 0.32).as("any_big"),
          forall(col("v"), x => abs(x) < 0.45).as("all_small"))
        .orderBy(col("vec_id"))
    },

    // Null-handling / cleaning surface: nullif to introduce nulls, na.fill
    // (DataFrameNaFunctions) + coalesce to repair them, conditional null
    // counting — the testdata has no nulls, so the query manufactures and
    // then handles them, proving three-valued logic parity end-to-end.
    Q("q_null_handling",
      "WITH o AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status, " +
        "CASE WHEN o_totalprice < 5000 THEN NULL ELSE o_totalprice END AS price " +
        "FROM orders) " +
        "SELECT COALESCE(status, 'UNKNOWN') AS status, COUNT(*) AS n, " +
        "CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_price_null, " +
        "ROUND(SUM(CAST(ROUND(COALESCE(price, 0.0)*100) AS BIGINT))/100.0, 2) AS total_filled " +
        "FROM o GROUP BY 1 ORDER BY 1") { (s, d) =>
      val o = Tables.orders(s, d).select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status"),
        when(col("o_totalprice") < 5000, lit(null)).otherwise(col("o_totalprice"))
          .as("price"))
      val nNull = sum(when(col("price").isNull, 1).otherwise(0)).as("n_price_null")
      o.na.fill(Map("status" -> "UNKNOWN"))
        .withColumn("filled_price", coalesce(col("price"), lit(0.0)))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n"), nNull,
          round(sum(round(col("filled_price") * 100).cast("long")) / 100.0, 2)
            .as("total_filled"))
        .orderBy(col("status"))
    },

    // Map-typed lambda surface: daily totals roll up into a per-wallet
    // MAP<date,double> (map_from_entries), a lambda prunes small days
    // (map_filter), and explode flattens back to rows. The map is
    // internal plumbing — the oracle states the equivalent relational
    // GROUP BY + HAVING, so the round-trip itself is what's checked.
    Q("q_map_functions",
      "WITH d AS (SELECT user_id AS wallet_id, ts::DATE AS day, " +
        "ROUND(SUM(value), 2) AS day_total " +
        "FROM events WHERE value > 0 GROUP BY 1, 2) " +
        "SELECT wallet_id, day, day_total FROM d WHERE day_total > 100 " +
        "ORDER BY wallet_id, day") { (s, d) =>
      Tables.events(s, d).filter(col("value") > 0)
        .groupBy(col("user_id").as("wallet_id"), to_date(col("ts")).as("day"))
        .agg(round(sum(col("value")), 2).as("day_total"))
        .groupBy(col("wallet_id"))
        .agg(map_from_entries(collect_list(struct(col("day"), col("day_total"))))
          .as("m"))
        .select(col("wallet_id"),
          explode(map_filter(col("m"), (_, v) => v > 100)).as(Seq("day", "day_total")))
        .orderBy(col("wallet_id"), col("day"))
    },

    // Spark 4 recursive CTE (WITH RECURSIVE): the detector state machine —
    // whose reset-discards-the-deposit branch order no window frame can
    // express (SURVEY §2.3.1) — replayed as the SAME per-wallet recursion
    // in both engines; DuckDB runs the identical fold in its dialect. The
    // per-wallet depth is capped at the first 10 deposits: each recursion
    // step is one equi-join round, so depth — not data volume — is the
    // iteration count, and the streaming path (stream_check*) remains the
    // unbounded-history form.
    Q("q_recursive_machine",
      s"WITH RECURSIVE ${CoreQueries.detectorDepositsCte}, " +
        "d0 AS (SELECT wallet_id, tsec, amount, " +
        "ROW_NUMBER() OVER (PARTITION BY wallet_id ORDER BY tsec, seq) AS rn FROM dd), " +
        "d AS (SELECT wallet_id, tsec, amount, rn, 10 AS n FROM d0 WHERE rn <= 10), " +
        recursiveMachineFold("") + recursiveMachineResult) { (s, d) =>
      Tables.registerAll(s, d)
      // Materialize the tiny anchor relation ONCE (scan + window + depth
      // cap ≈ 10 rows/wallet): each recursion round re-evaluates every
      // relation it references, so without this the full events scan and
      // window re-run per round (~3× slower measured at sf0.1). The
      // anchor persists read-through keyed by the events fingerprint —
      // it is INPUT PREP (the per-wallet head of the deposit stream),
      // not the recursion being demonstrated, and at 100 TB it is the
      // classic pre-windowed feed a recursive consumer reads.
      val anchorDf = {
        val ev = Tables.events(s, d)
          .where(col("value") > 0)
          .select(col("user_id").as("wallet_id"),
            expr("unix_micros(ts) DIV 1000000").as("tsec"),
            col("event_id").as("seq"), col("value").as("amount"))
        // Fingerprint over EVERY column the artifact's content depends on
        // (tsec orders the window, amount rides into the rows) — a
        // regenerated fixture keeping (wallet_id, seq) but re-drawing
        // values/timestamps must miss the cache, not serve stale sums.
        graft.operators.IndexCache.cachedFrame(s, "rec_anchor", "d10",
            graft.operators.IndexCache.tableFp(ev,
              Seq("wallet_id", "tsec", "seq", "amount"))) {
          ev.withColumn("rn", row_number().over(
              Window.partitionBy(col("wallet_id"))
                .orderBy(col("tsec"), col("seq"))))
            .where(col("rn") <= 10)
            .select(col("wallet_id"), col("tsec"), col("amount"), col("rn"))
        }.withColumn("n", lit(10))
      }
      // No checkpoint on top of the artifact read: each recursion round's
      // broadcast re-resolves a 1-task columnar scan of the tiny anchor
      // artifact — cheaper than materializing block partitions per run
      // (the same finding as coEdges / mm_video_dedup's catalog; the r17
      // re-A/B measured the checkpointed variant inside the same window's
      // noise band — medians 2.3–2.6 s both ways — so the simpler plan
      // stands and the per-iteration planning floor is Spark's recursive
      // CTE machinery, not the anchor subtree).
      val anchor = anchorDf
      val view = s"graft_rec_anchor_${anchorSeq.incrementAndGet()}"
      anchor.createOrReplaceTempView(view)
      // BROADCAST(d): the anchor is ≤ 10 rows/wallet, so each of the 10
      // recursion rounds becomes a broadcast-hash join — the recursing
      // side never shuffles and the unrolled plan drops 10 exchange
      // pairs. At 100-TB wallet counts the hint comes off and the rounds
      // revert to keyed shuffles; depth still bounds the iteration count.
      val out = s.sql(s"WITH RECURSIVE d AS (SELECT * FROM $view), " +
        recursiveMachineFold("/*+ BROADCAST(d) */ ") + recursiveMachineResult)
      // sql() analyzes eagerly — the plan holds the resolved relation, so
      // the name can be retired immediately (no session-global leak).
      s.catalog.dropTempView(view)
      out
    },

    // Spark 4 VARIANT path for semi-structured data: parse_json once into
    // the binary variant encoding, then typed variant_get extraction —
    // at scale this replaces per-expression JSON string re-parsing
    // (q_json_extract's get_json_object) with a single decode. The oracle
    // states the same result via DuckDB's JSON functions.
    Q("q_variant_extract",
      "SELECT json_extract_string(props, '$.k')::BIGINT AS k, " +
        "COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value " +
        "FROM events GROUP BY 1 ORDER BY k") { (s, d) =>
      Tables.events(s, d)
        .select(parse_json(col("props")).as("v"), col("value"))
        .select(variant_get(col("v"), "$.k", "bigint").as("k"), col("value"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("k"))
    },

    // Wide-to-long reshaping (unpivot/melt) — the inverse of q_pivot. The
    // aggregate runs once; unpivot is a zero-shuffle projection of each
    // row into metric rows.
    Q("q_unpivot",
      "WITH a AS (SELECT l_returnflag, SUM(l_quantity) AS sum_qty, " +
        "SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*10000) AS BIGINT))/10000.0 AS revenue, " +
        "CAST(COUNT(*) AS DOUBLE) AS n_rows FROM lineitem GROUP BY 1) " +
        "SELECT l_returnflag, metric, value FROM (" +
        "SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a " +
        "UNION ALL SELECT l_returnflag, 'revenue', revenue FROM a " +
        "UNION ALL SELECT l_returnflag, 'n_rows', n_rows FROM a) " +
        "ORDER BY l_returnflag, metric") { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 10000)
            .cast("long")) / 10000.0).as("revenue"),
          count(lit(1)).cast("double").as("n_rows"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("revenue"), col("n_rows")), "metric", "value")
        .orderBy(col("l_returnflag"), col("metric"))
    },

    // Validity bounds emitted as epoch micros (BIGINT): raw TIMESTAMP
    // output is representation-ambiguous across engines (tz-aware vs
    // naive), epoch micros are not.
    Q("q_scd2_intervals",
      "WITH d AS (SELECT user_id AS wallet_id, event_id AS seq, " +
        "epoch_us(ts) AS valid_from_us, value FROM events WHERE value > 0) " +
        "SELECT wallet_id, seq, valid_from_us, " +
        "LEAD(valid_from_us) OVER w AS valid_to_us, " +
        "ROUND(SUM(value) OVER (PARTITION BY wallet_id ORDER BY valid_from_us, seq " +
        "ROWS UNBOUNDED PRECEDING), 2) AS balance, " +
        "LEAD(valid_from_us) OVER w IS NULL AS is_current " +
        "FROM d WINDOW w AS (PARTITION BY wallet_id ORDER BY valid_from_us, seq) " +
        "ORDER BY wallet_id, seq") { (s, d) =>
      val w = Window.partitionBy(col("wallet_id")).orderBy(col("valid_from_us"), col("seq"))
      Tables.events(s, d).filter(col("value") > 0)
        .select(col("user_id").as("wallet_id"), col("event_id").as("seq"),
          unix_micros(col("ts")).as("valid_from_us"), col("value"))
        .select(col("wallet_id"), col("seq"), col("valid_from_us"),
          lead(col("valid_from_us"), 1).over(w).as("valid_to_us"),
          round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)), 2).as("balance"),
          lead(col("valid_from_us"), 1).over(w).isNull.as("is_current"))
        .orderBy(col("wallet_id"), col("seq"))
    },

    // TEMPORAL (point-in-time) lookup against the SCD2 history — the
    // warehouse query the intervals exist FOR: each lookup event reads
    // the dimension version valid AT its timestamp ("what was the
    // balance when this happened?"). Versions = events with event_id %
    // 5 != 0 (the history), lookups = the ≡ 0 residue (~20 % probes;
    // a value-sign split would be vacuous — this corpus has no
    // non-positive values). The engine runs it as the union-sort AS-OF
    // join (Relational.asOfJoin: one wallet_id shuffle, last-version-
    // ignoreNulls window — never a per-pair interval nested loop); the
    // oracle states the equivalent interval-containment join
    // (vf <= t < vt) over the LEAD-built intervals. Balance is
    // cumulative over positive version values, so ties resolve
    // identically in both formulations.
    Q("q_temporal_join",
      "WITH dv AS (SELECT user_id AS wallet_id, epoch_us(ts) AS vf, event_id AS seq, " +
        "ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS UNBOUNDED PRECEDING), 2) AS balance FROM events " +
        "WHERE value > 0 AND event_id % 5 <> 0), " +
        "d2 AS (SELECT wallet_id, vf, LEAD(vf) OVER " +
        "(PARTITION BY wallet_id ORDER BY vf, seq) AS vt, balance FROM dv), " +
        "lk AS (SELECT user_id AS wallet_id, event_id AS lookup_id, epoch_us(ts) AS t " +
        "FROM events WHERE event_id % 5 = 0) " +
        "SELECT l.wallet_id, l.lookup_id, l.t AS ts_us, " +
        "COALESCE(d.balance, 0.0) AS balance_asof " +
        "FROM lk l LEFT JOIN d2 d ON d.wallet_id = l.wallet_id " +
        "AND d.vf <= l.t AND (d.vt IS NULL OR l.t < d.vt) " +
        "ORDER BY l.wallet_id, l.lookup_id") { (s, d) =>
      val ev = Tables.events(s, d)
      val wv = Window.partitionBy(col("wallet_id")).orderBy(col("t"), col("seq"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val dim = ev.filter(col("value") > 0 && col("event_id") % 5 =!= 0)
        .select(col("user_id").as("wallet_id"), unix_micros(col("ts")).as("t"),
          col("event_id").as("seq"), col("value"))
        .withColumn("balance", round(sum(col("value")).over(wv), 2))
        .select(col("wallet_id"), col("t"), col("balance"))
      val lk = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id").as("wallet_id"), col("event_id").as("lookup_id"),
          unix_micros(col("ts")).as("t"))
      graft.operators.Relational.asOfJoin(lk, dim, "wallet_id", "t", "balance")
        .select(col("wallet_id"), col("lookup_id"), col("t").as("ts_us"),
          coalesce(col("balance"), lit(0.0)).as("balance_asof"))
        .orderBy(col("wallet_id"), col("lookup_id"))
    }
  )
}

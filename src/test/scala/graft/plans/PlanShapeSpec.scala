package graft.plans

import org.apache.spark.sql.execution.{FormattedMode, MapGroupsExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkSpec}

/** Executable plan audits: the PERF/PLANS claims that make queries fast at
  * 100 TB — filter pushdown into the scan, map-side WindowGroupLimit,
  * distributed TakeOrdered top-k, broadcast of tiny stats tables, the
  * per-wallet detector fold over one keyed exchange — pinned as assertions so a refactor that silently
  * loses one fails CI instead of the bench. Plans are inspected PRE-execution
  * (the static shapes are what Catalyst promises regardless of AQE's
  * runtime re-planning). */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(FormattedMode)

  test("q1_pricing_summary pushes the shipdate filter into the parquet scan") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
  }

  test("tfidf_top_terms ranks per doc via map-side WindowGroupLimit") {
    val p = planOf("tfidf_top_terms")
    assert(p.contains("WindowGroupLimit"), p.take(2000))
    // Serving ranks over the persisted term-weight artifact — no
    // per-query re-tokenization of the corpus.
    assert(p.contains("graft_index_cache"),
      "tfidf serve plan does not scan the persisted tfidf_terms artifact")
  }

  test("q_top_spenders top-k compiles to distributed TakeOrderedAndProject") {
    val p = planOf("q_top_spenders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_anomaly_zscore broadcasts the per-type stats table") {
    val p = planOf("q_anomaly_zscore")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("o4_fold_exec folds wallets in one MapGroups over a wallet_id shuffle") {
    assert(!planOf("o4_fold_exec").contains("collect_list"))
    val plan = SparkEntry.queries("o4_fold_exec")(spark, sf).queryExecution.executedPlan
    val helper = new AdaptiveSparkPlanHelper {}
    val folds = helper.collect(plan) { case m: MapGroupsExec => m }
    assert(folds.size == 1, plan)
    val below = helper.collect(folds.head) { case e: ShuffleExchangeExec => e.outputPartitioning.toString }
    assert(below.size == 1 && below.head.startsWith("hashpartitioning(wallet_id"), plan)
  }

  test("dedup_exact never broadcasts the corpus-sized hash table") {
    // Exact dedup is one hash aggregation: a broadcast anywhere in this
    // plan would mean a corpus-sized build side.
    val p = planOf("dedup_exact")
    assert(!p.contains("BroadcastExchange"), p.take(2000))
  }

  test("sim_ivfpq_rerank serves from persisted index artifacts, not a rebuild") {
    // Force artifacts to exist, then re-plan: the serve plan must SCAN the
    // persisted code table (a parquet relation rooted in the index cache)
    // — if the codes were being re-encoded, the plan would instead carry
    // the assignCodes aggregation over the corpus join.
    SparkEntry.queries("sim_ivfpq_rerank")(spark, sf).count()
    val p = planOf("sim_ivfpq_rerank")
    assert(p.contains("graft_index_cache"),
      "serve plan does not scan the persisted IVF-PQ index artifact")
  }

  test("sim_sparse_topk probes the persisted postings index and group-limits per token") {
    SparkEntry.queries("sim_sparse_topk")(spark, sf).count()
    val p = planOf("sim_sparse_topk")
    assert(p.contains("graft_index_cache"),
      "probe plan does not scan the persisted postings artifact")
    // The impact-ordered posting truncation must stay a WindowGroupLimit
    // (map-side top-64 per token), never a full per-token sort.
    assert(p.contains("WindowGroupLimit"), p.take(2000))
  }

  test("sketch aggregates fold map-side: partial ObjectHashAggregate before the exchange") {
    // The 100-TB point of every sketch family (theta/HLL/CMS): each input
    // partition folds into one bounded buffer BEFORE the shuffle, so only
    // sketches cross. A partial ObjectHashAggregate must appear below the
    // first Exchange; losing it (e.g. by switching to a non-partial agg
    // pattern) would shuffle raw rows instead.
    for ((q, fn) <- Seq("q_hll_md5_distinct" -> "hll_md5_sketch",
                        "q_cms_heavy_hitters" -> "cms_sketch")) {
      val p = planOf(q)
      // The SKETCH aggregate itself (not just any aggregate in the plan)
      // must have a partial phase, and — formatted plans printing
      // top-down — that partial phase must sit AFTER the first Exchange
      // in the text, i.e. BELOW it in execution order (map side).
      val partialSketch = p.indexOf(s"partial_$fn")
      val firstExchange = p.indexOf("Exchange")
      assert(p.contains("ObjectHashAggregate"),
        s"$q: no ObjectHashAggregate\n${p.take(1500)}")
      assert(partialSketch >= 0,
        s"$q: no partial phase for $fn\n${p.take(1500)}")
      assert(firstExchange >= 0, s"$q: no exchange at all")
      assert(partialSketch > firstExchange,
        s"$q: partial $fn at $partialSketch is not below the first " +
          s"Exchange at $firstExchange — raw rows would cross the shuffle")
    }
  }
}

package graft.plans

import org.apache.spark.sql.execution.{MapGroupsExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.operators.DepositOps
import graft.streaming.DetectorLogic

/** Pins the batch detector fold ([[DepositOps.detectorFold]]): the group
  * fold streams each wallet's (tsec, seq)-ordered run through the exact
  * reference machine in O(1) state, over the hash exchange + sort the
  * planner inserts below it, and matches the plain-JVM fold
  * (DetectorLogic.run) on adversarial multi-partition input. */
class DetectorFoldSpec extends AnyFunSuite with SparkSpec {

  private val w = 100L
  private val th = 50.0

  private def run(rows: Seq[(Long, Long, Long, Double)], parts: Int) = {
    import spark.implicits._
    val dep = rows.toDF("wallet_id", "tsec", "seq", "amount")
      .repartition(parts) // scatter wallets across input partitions
    DepositOps.detectorFold(dep, w, th)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
  }

  private def oracle(rows: Seq[(Long, Long, Long, Double)]) =
    rows.groupBy(_._1).map { case (wid, rs) =>
      val ordered = rs.sortBy(r => (r._2, r._3)).map(r => (r._4, r._2))
      val (state, events) = DetectorLogic.run(ordered, w, th)
      wid -> ((state.received, !events.last.flagRemoved))
    }

  test("matches the plain-JVM reference fold on adversarial input") {
    val rnd = new scala.util.Random(7)
    // 40 wallets, out-of-order arrival, window expiries, ties on tsec.
    val rows = (0 until 2000).map { i =>
      val wid = rnd.nextInt(40).toLong
      val ts = 1000L + rnd.nextInt(500).toLong
      (wid, ts, i.toLong, 1.0 + rnd.nextInt(30))
    }
    val shuffled = rnd.shuffle(rows)
    assert(run(shuffled, parts = 7) == oracle(rows))
  }

  test("reset discards the expiring deposit and the flag is re-asserted, not latched") {
    // wallet 1: 60 at t=1000 (flagged), then 10 at t=1200 (> window: BOTH
    // zeroed, the 10 discarded too) -> final sum 0, unflagged. (t stays
    // away from 0 — the reference uses 0 as the no-window sentinel.)
    val rows = Seq((1L, 1000L, 1L, 60.0), (1L, 1200L, 2L, 10.0))
    assert(run(rows, parts = 2) == Map(1L -> ((0.0, false))))
  }

  test("planner inserts the hash exchange and (wallet, tsec, seq) sort") {
    import spark.implicits._
    val dep = Seq((1L, 1L, 1L, 5.0), (2L, 1L, 2L, 6.0))
      .toDF("wallet_id", "tsec", "seq", "amount").repartition(3)
    val df = DepositOps.detectorFold(dep, w, th)
    df.collect() // finalize any adaptive plan
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    val fold = helper.collectFirst(plan) { case e: MapGroupsExec => e }
    assert(fold.isDefined, s"no MapGroupsExec in:\n$plan")
    val sortBelow = helper.collectFirst(fold.get) { case s: SortExec => s }
    val exchBelow = helper.collectFirst(fold.get) { case e: ShuffleExchangeExec => e }
    assert(sortBelow.isDefined && exchBelow.isDefined,
      s"EnsureRequirements did not insert exchange+sort:\n$plan")
    assert(sortBelow.get.sortOrder.map(_.child.toString.takeWhile(_ != '#')) ==
      Seq("wallet_id", "tsec", "seq"))
  }
}

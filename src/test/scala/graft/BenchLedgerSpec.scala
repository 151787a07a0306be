package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.Ledger]]: every job a timed run submits, from its own thread or
  * from one it starts, is charged to that run beside its wall time, a run
  * that throws leaves no sample, and each query reports the minimum of
  * its runs beside their median. */
class BenchLedgerSpec extends AnyFunSuite with SparkSpec with BeforeAndAfterAll {
  private val sf = "/root/testdata/sf0.001"
  private lazy val ledger = new Bench.Ledger(spark)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(ledger)
    super.afterAll()
  }

  private def run(name: String): Unit =
    ledger.record(name)(SparkEntry.queries(name)(spark, sf).count())

  test("a batch query records its jobs and at least one task per job") {
    run("o1_validated_deposits")
    ledger.drain()
    val Seq(cost) = ledger.samples("o1_validated_deposits")
    assert(cost("jobs") >= 1 && cost("tasks") >= cost("jobs") && cost("wall_s") > 0, cost)
    assert(ledger.medians("o1_validated_deposits") == cost)
  }

  test("a stream query's stand-up run is charged its stream-thread jobs") {
    // Another suite in this JVM may already have materialized stream_check.
    queries.StreamQueries.invalidateMaterialized()
    run("stream_check") // stands the topology up
    run("stream_check") // serves the materialized output
    ledger.drain()
    val Seq(first, second) = ledger.samples("stream_check")
    assert(first("jobs") > second("jobs"), s"first $first, second $second")
  }

  test("the minimum of each field is its least run, reported under \"min\"") {
    val q = "o9_balance_from_history"
    (1 to 3).foreach(_ => run(q))
    ledger.drain()
    val ss = ledger.samples(q)
    val (min, med) = (ledger.minima(q), ledger.medians(q))
    assert(ss.size == 3 && min.keySet == med.keySet, (ss, min, med))
    min.foreach { case (k, v) =>
      assert(v == ss.map(_(k)).min && v <= med(k), (k, ss, min, med))
    }
    val json = ledger.json(Seq(q, "never_ran"))
    assert(json.startsWith("\"ledger\":{\"" + q + "\":{\"jobs\":"), json)
    assert(json.contains(",\"min\":{\"jobs\":") && !json.contains("never_ran"), json)
  }

  test("a run that throws records no sample") {
    intercept[Exception] {
      ledger.record("failing") {
        spark.sparkContext.parallelize(1 to 10, 2)
          .map(i => if (i == 3) throw new IllegalStateException("boom") else i)
          .count()
      }
    }
    ledger.drain()
    assert(ledger.samples("failing").isEmpty)
    assert(ledger.medians("failing").isEmpty)
    assert(ledger.minima("failing").isEmpty)
  }
}

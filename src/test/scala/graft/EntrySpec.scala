package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's t1 smoke: entry(spark) must return rows on a session the
  * driver configured itself (no graft-specific confs preset — the loaders
  * must self-provision what they need, e.g. nanosAsLong). */
class EntrySpec extends AnyFunSuite with SparkSpec {
  test("entry returns rows on the smoke scale") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("wallet_id", "balance", "above_threshold"))
  }

  test("every registered query has either oracle SQL or a documented rows-only status") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q))
    // Every registered query now carries oracle SQL (the sketch-based
    // aggregates got exact+tolerance oracles in round 2).
    assert((q -- o).isEmpty)
  }

  test("registered query names are unique across packs") {
    // packs → Map loses duplicates silently (later pack wins); a name
    // collision would shadow an existing query's implementation without
    // any compile-time or correctness-gate signal, so pin uniqueness.
    val names = SparkEntry.packs.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate query names across packs: $dups")
  }

  test("stream_check_tws stays registered as an alias of stream_check_tuned") {
    assert(SparkEntry.queries.contains("stream_check_tws"))
    val tuned = SparkEntry.oracleSql.get("stream_check_tuned")
    assert(tuned.isDefined)
    assert(SparkEntry.oracleSql.get("stream_check_tws") == tuned)
  }
}

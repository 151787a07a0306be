package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{call_function, col}
import org.scalatest.funsuite.AnyFunSuite

/** The entry smoke: entry(spark) must return rows, on the engine's
  * session ([[GraftSession.builder]]) and on a session the caller built
  * itself, which reaches the engine without its extension. */
class EntrySpec extends AnyFunSuite with SparkSpec {
  test("entry returns rows on the smoke scale") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("wallet_id", "balance", "above_threshold"))
  }

  /** Runs `body` on a new session over the running context, built without
    * GraftSession's extension or settings, then restores the shared one. */
  private def onPlainSession(body: SparkSession => Unit): Unit = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val plain = SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false").getOrCreate()
      assert(plain ne shared)
      body(plain)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("entry and the native functions run on a plain SparkSession.builder() session") {
    onPlainSession { plain =>
      assert(!plain.catalog.functionExists("theta_sketch"))
      // The context's conf carries the shared session's settings; drop the
      // one the fallback must restore.
      plain.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      assert(plain.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").forall(_ != "true"))

      assert(SparkEntry.entry(plain).count() > 0)
      assert(plain.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      // The native functions now resolve through call_function, as every
      // query that uses them does.
      val est = plain.range(0, 700).agg(call_function("theta_estimate",
        call_function("theta_sketch", col("id")))).head().getDouble(0)
      assert(est == 700.0)
    }
  }

  test("o4_fold_exec runs through SparkEntry on a plain SparkSession.builder() session") {
    val dir = "/root/testdata/sf0.001"
    val fold = SparkEntry.queries("o4_fold_exec")
    val expected = fold(spark, dir).collect().toSeq
    assert(expected.nonEmpty)
    onPlainSession { plain =>
      assert(fold(plain, dir).collect().toSeq == expected)
      assert(fold(plain, dir).collect().toSeq == expected)
    }
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

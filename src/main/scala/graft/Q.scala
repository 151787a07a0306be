package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: a Spark plan plus the equivalent ANSI SQL
  * (its oracle) the driver runs in DuckDB over the same parquet tables. Column names and rounding MUST match between the two — the
  * driver's compare sorts columns by name and hashes values.
  *
  * Queries end with a total ORDER BY and round any reassociation-sensitive
  * double aggregate to a fixed scale, so Spark's partial-aggregation order
  * vs DuckDB's scan order cannot flip a bit (SURVEY §7.4.2).
  *
  * An oracle fragment that more than one query uses lives once, in the
  * pack that owns the concept, as a `private[queries]` `val` or `def`
  * (`DedupQueries.lshPairCtes`, `SimilarityQueries.cosineSql`,
  * `CoreQueries.detectorFoldCte`); every query calls it. A fragment is
  * shared only where its text is identical or differs by a value (a
  * table, CTE or column name, a threshold, a bound); a one-off variant
  * stays written out in its query. `SessionSetupGuardSpec` pins the
  * largest fragments to one copy each.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String,
    expectsEmpty: Boolean = false)

object Q {
  def apply(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, sql)
  /** A query whose CORRECT sf0.01 answer is the empty relation (e.g. an
    * invariant-violation detector that must find nothing). Everything
    * else failing to produce rows is treated as a vacuous pass — a bug —
    * by Verify and EntrySpec. */
  def emptyOk(name: String, sql: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, sql, expectsEmpty = true)
}

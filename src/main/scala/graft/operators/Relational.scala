package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended relational operators beyond the reference's surface
  * (SURVEY §2.2 gap list): as-of join, range join, top-k. All are
  * compositions of Catalyst built-ins — no custom planner nodes needed
  * (SURVEY §7.3) — chosen for their scale shape, not just correctness.
  */
object Relational {

  /** As-of join (match each left row to the latest right row with
    * `right.time <= left.time`, same key), composed as union + running
    * `last(..., ignoreNulls)` window instead of a non-equi join.
    *
    * Scale shape: ONE shuffle on the key and a per-partition sort —
    * O(n log n) with no pair explosion, vs the O(n·m) worst case of a
    * range-join formulation. This is the classic event-ordering trick
    * (e.g. Flink/KDB as-of semantics) expressed in pure DataFrame ops.
    *
    * Inputs must both carry `keyCol` and long `timeCol`. Right rows should
    * be unique per (key, time) — pre-aggregate if not, or ties are broken
    * by sort order of `payload`.
    *
    * @param payloadCol right-side column carried onto matching left rows
    */
  def asOfJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, payloadCol: String): DataFrame = {
    require(!left.columns.contains(payloadCol),
      s"left already has a column named $payloadCol")
    val l = left.withColumn("__kind", lit(1))
    val r = right.select(
      col(keyCol), col(timeCol), col(payloadCol).as("__p"), lit(0).as("__kind"))
    val unioned = l.unionByName(r, allowMissingColumns = true)
    // Right rows (kind 0) sort before left rows at equal time: `<=` semantics;
    // ties among right rows resolve to the greatest payload.
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("__kind"), col("__p"))
      .rowsBetween(Window.unboundedPreceding, 0)
    unioned
      .withColumn(payloadCol, last(col("__p"), ignoreNulls = true).over(w))
      .where(col("__kind") === 1)
      .drop("__kind", "__p")
  }

  /** Range join: pairs (a, b) with equal key and `b.time` in
    * `(a.time, a.time + windowLen]`. The equi-key conjunct keeps this a
    * hash/sort-merge join with the band predicate applied post-match —
    * at scale the key shuffle bounds the pair space to within-key. */
  def rangeJoin(df: DataFrame, keyCol: String, timeCol: String,
                idCol: String, windowLen: Long): DataFrame = {
    val a = df.select(col(keyCol), col(timeCol).as("a_t"), col(idCol).as("a_id"))
    val b = df.select(col(keyCol), col(timeCol).as("b_t"), col(idCol).as("b_id"))
    a.join(b, Seq(keyCol))
      .where(col("b_t") > col("a_t") && col("b_t") <= col("a_t") + windowLen)
  }

  /** Deterministic grouped top-k: `row_number` over (partition, ordering +
    * tie-break) — partial top-k is pushed map-side by Spark's
    * `WindowGroupLimit` optimization, so only k rows per key survive the
    * shuffle. */
  def topKPerGroup(df: DataFrame, partition: Seq[Column],
                   ordering: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(partition: _*).orderBy(ordering: _*)
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Explicit Bloom-filter semi-join reduction: build a Bloom filter over
    * `dim`'s join keys ([[graft.functions.Bloom]] — map-side partials,
    * OR-merge, one m/8-byte result row to the driver, same bounded round
    * trip as a broadcast variable) and pre-filter `fact` with the
    * codegen'd membership probe BEFORE its shuffle. False negatives are
    * impossible, so composing with the exact join afterwards preserves
    * results bit-for-bit while the shuffled fact volume shrinks to
    * matches + fpp.
    *
    * When the dim side is broadcast-small the exact join alone wins;
    * this operator is for the 100-TB middle ground — a dim side too big
    * to broadcast as a hash relation (the filter is ~100× smaller than
    * the key set) over a fact side dominated by non-matching rows.
    * Spark's adaptive runtime filter makes the same trade invisibly when
    * its heuristics fire; the explicit form is deterministic, tunable,
    * and the filter value itself can be persisted and reused.
    *
    * @param expectedKeys sizing hint for the filter (distinct dim keys)
    * @param fpp          target false-positive rate
    */
  def bloomSemiJoinReduce(fact: DataFrame, factKey: Column,
                          dim: DataFrame, dimKey: Column,
                          expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    val (numBits, k) = graft.functions.Bloom.sizeFor(expectedKeys, fpp)
    val bytes = dim
      .select(call_function("bloom_agg", dimKey, lit(numBits), lit(k)).as("bf"))
      .head().getAs[Array[Byte]](0)
    fact.where(call_function("bloom_might_contain", lit(bytes), factKey))
  }

  /** [[bloomSemiJoinReduce]] with the filter as a PERSISTED read-through
    * artifact ([[IndexCache]], keyed by (bits, k, dim-key fingerprint)) —
    * the relational side of the engine's artifact lifecycle: a runtime
    * filter over a slowly-changing dim is built once by a build job and
    * SERVED to every query that pre-filters the fact side with it, the
    * same way the ANN/dedup/postings indexes serve. The m/8-byte filter
    * row is the whole artifact; staleness falls out of the fingerprint
    * key (a changed dim resolves to a different path and rebuilds). */
  def bloomSemiJoinServed(fact: DataFrame, factKey: Column,
                          dim: DataFrame, dimKey: Column,
                          expectedKeys: Long, fpp: Double = 0.01): DataFrame = {
    val (numBits, k) = graft.functions.Bloom.sizeFor(expectedKeys, fpp)
    val bf = IndexCache.cachedFrame(fact.sparkSession, "bloom_filter",
        s"$numBits|$k", IndexCache.tableFp(dim.select(dimKey.as("k")), Seq("k"))) {
      dim.select(call_function("bloom_agg", dimKey, lit(numBits), lit(k)).as("bf"))
    }
    val bytes = bf.head().getAs[Array[Byte]](0)
    fact.where(call_function("bloom_might_contain", lit(bytes), factKey))
  }
}

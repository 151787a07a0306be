package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's parquet tables (see /root/repo/TESTDATA.md).
  *
  * Each table is one parquet file under `\$dir/<name>.parquet`. Loading goes
  * through `spark.read.parquet` so Catalyst's vectorized reader, predicate
  * pushdown, and column pruning apply to every downstream query — at 100 TB
  * these same loaders would point at a partitioned parquet/iceberg layout and
  * nothing downstream changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp-bearing columns per table. The physical form these ship in
    * has ALREADY changed between driver testdata regenerations (round 7:
    * events.ts TIMESTAMP(NANOS) → micros TIMESTAMP_NTZ, which crashed all
    * 47 events queries until the loader adapted) — so every loader
    * normalizes every known timestamp column, not just events.ts. */
  private val timestampCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Normalize one decoded timestamp column to microsecond TimestampType,
    * matching what DuckDB computes for the same file under a UTC session:
    *  - LongType (TIMESTAMP(NANOS) surfaced via the `nanosAsLong` setting
    *    every [[graft.GraftSession]] session carries): integer-
    *    divide to micros — DuckDB's TIMESTAMP_NS read truncates the same;
    *  - TimestampNTZType (micros, not UTC-adjusted): cast — bit-identical
    *    under the UTC session timezone to DuckDB's naive read;
    *  - DateType: cast — midnight UTC, same as DuckDB date → timestamp;
    *  - TimestampType: already the normal form. */
  private def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{DateType, LongType, TimestampNTZType, TimestampType}
    if (!df.columns.contains(c)) df
    else df.schema(c).dataType match {
      case LongType         => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case DateType         => df.withColumn(c, col(c).cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"$c: unsupported parquet-decoded type $other (expected LONG nanos, TIMESTAMP_NTZ, DATE, or TIMESTAMP)")
    }
  }

  /** Loaded-relation cache: `spark.read.parquet` eagerly lists files and
    * reads footers for schema inference, and a 200-query sweep touches the
    * same ten files thousands of times. The resolved DataFrame (immutable
    * plan holding the file index) is reused per (session, dir, table) —
    * keyed on the session because a plan is bound to the session state
    * that resolved it. Data under a dir is driver-written once per round,
    * never mutated in place, so staleness cannot arise; tests that write
    * fresh dirs get fresh keys.
    *
    * Bounded access-order LRU (not an unbounded map): a long-lived JVM
    * that cycles through many sessions — the 41-suite test run, a
    * multi-tenant serve process — would otherwise retain every stopped
    * session and its resolved file indexes forever. 64 slots covers the
    * ten tables across several live (session, dir) pairs; evicted entries
    * are just re-resolved (one footer read). */
  private val MaxCachedRelations = 64
  private val relCache: java.util.Map[(SparkSession, String, String), DataFrame] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](
          128, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean =
          size() > MaxCachedRelations
      })

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    // computeIfAbsent on a synchronizedMap holds the map mutex for the
    // whole resolve — correct (resolution must not race) and cheap (only
    // the first touch of a table pays the footer read).
    relCache.computeIfAbsent((spark, dir, name), { _ =>
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      timestampCols.getOrElse(name, Nil).foldLeft(raw)(normalizeTs)
    })

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** Kept as a named loader (the queries call it);
    * the ts normalization itself now happens for every table in [[load]]
    * via [[normalizeTs]]. */
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  /** documents/embeddings arrive as one small parquet file = ONE input
    * partition, which would serialize the md5/shingle/vector compute that
    * dominates the dedup and similarity pipelines. Spread rows across the
    * executor threads up front — at real scale the source is already
    * many-way partitioned and this is a no-op choice. */
  private def spreadWidth(s: SparkSession): Int =
    math.max(8, s.sparkContext.defaultParallelism / 4)
  def documents(s: SparkSession, d: String): DataFrame =
    load(s, d, "documents").repartition(spreadWidth(s))
  def embeddings(s: SparkSession, d: String): DataFrame =
    load(s, d, "embeddings").repartition(spreadWidth(s))

  /** Register every table as a temp view so `spark.sql` text queries work.
    * Goes through the specialized loaders (events needs its ts-type
    * normalization; documents/embeddings get their parallelism spread). */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
    names.foreach { n =>
      loaders.getOrElse(n, (s: SparkSession, d: String) => load(s, d, n))(spark, dir)
        .createOrReplaceTempView(n)
    }
  }
}

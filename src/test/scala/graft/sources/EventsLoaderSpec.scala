package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** Regression guard for the events loader (round-7 postmortem): the driver
  * has regenerated `/root/testdata` with a DIFFERENT parquet physical type
  * for `events.ts` between rounds — TIMESTAMP(NANOS) (reads as raw LONG
  * under `nanosAsLong`), then TIMESTAMP_MICROS without UTC adjustment
  * (reads as TIMESTAMP_NTZ). A loader hard-coded to one form throws
  * DATATYPE_MISMATCH for every events-based query when the environment
  * shifts. This spec writes a tiny events table in each of the three
  * decodable forms and pins that `Tables.events` yields bit-identical
  * TimestampType rows for all of them.
  *
  * Note on the nanos form: Spark cannot WRITE parquet TIMESTAMP(NANOS),
  * but under `spark.sql.legacy.parquet.nanosAsLong=true` (which
  * `GraftSession.builder` sets) a nanos column decodes as plain LongType — indistinguishable, at
  * the loader's branch point, from the BIGINT column written here.
  */
class EventsLoaderSpec extends AnyFunSuite with SparkSpec {

  private lazy val tmp = tempDir("graft_events_forms").toString

  // Micros instants, one of them with sub-microsecond nanos in the nanos
  // form (+999 ns) to pin the truncation semantics (same as DuckDB's
  // TIMESTAMP_NS → TIMESTAMP read).
  private val micros = Seq(1700000000000000L, 1700000001234567L, 1700000002999999L)
  private val nanoExtra = Seq(999L, 0L, 1L)

  private def baseRows = {
    import spark.implicits._
    micros.zip(nanoExtra).zipWithIndex
      .map { case ((us, ex), i) => (i.toLong, us, us * 1000L + ex) }
      .toDF("i", "us", "ns")
      .select(col("i").as("event_id"), col("us"), col("ns"),
        (col("i") * 7L).as("user_id"), lit("deposit").as("event_type"),
        (col("i") * 1.5).as("value"), lit("{}").as("props"))
  }

  private def writeForm(form: String)(ts: org.apache.spark.sql.Column): String = {
    val dir = s"$tmp/$form"
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    baseRows
      .select(col("event_id"), ts.as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("long-nanos, micros-NTZ, and micros-LTZ forms load identically") {
    val dirs = Map(
      "nanos_long" -> writeForm("nanos_long")(col("ns")),
      "micros_ntz" -> writeForm("micros_ntz")(
        timestamp_micros(col("us")).cast("timestamp_ntz")),
      "micros_ltz" -> writeForm("micros_ltz")(timestamp_micros(col("us"))))

    val loaded = dirs.map { case (form, dir) =>
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType,
        s"$form: loader must normalize ts to TimestampType, got ${df.schema("ts").dataType}")
      form -> df.select(col("event_id"), unix_micros(col("ts")).as("us"))
        .orderBy(col("event_id")).collect().toSeq
    }
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us) }
    loaded.foreach { case (form, rows) =>
      val got = rows.map(r => (r.getLong(0), r.getLong(1)))
      assert(got == expected, s"$form: expected $expected, got $got")
    }
  }

  test("driver testdata loads through whatever branch it currently needs") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(5).count() > 0)
  }

  // Round-8 generalization: the SAME regeneration class can hit any other
  // timestamp-bearing table (o_orderdate, l_shipdate) — every loader now
  // normalizes its known timestamp columns, including the DATE form a
  // date-like column could plausibly regenerate into.
  test("orders.o_orderdate normalizes from date, NTZ, and LTZ forms") {
    import spark.implicits._
    val days = Seq(9000L, 9100L, 9200L) // days since epoch
    def rows = days.zipWithIndex.map { case (d, i) => (i.toLong, d) }
      .toDF("o_orderkey", "d")
    def write(form: String)(ts: org.apache.spark.sql.Column): String = {
      val dir = s"$tmp/orders_$form"
      rows.select(col("o_orderkey"), ts.as("o_orderdate"),
          lit(1L).as("o_custkey"), lit("O").as("o_orderstatus"),
          lit(1.0).as("o_totalprice"), lit("1-URGENT").as("o_orderpriority"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
      dir
    }
    val dirs = Map(
      "date" -> write("date")(date_from_unix_date(col("d").cast("int"))),
      "ntz" -> write("ntz")(
        timestamp_micros(col("d") * 86400000000L).cast("timestamp_ntz")),
      "ltz" -> write("ltz")(timestamp_micros(col("d") * 86400000000L)))
    val expected = days.zipWithIndex.map { case (d, i) =>
      (i.toLong, d * 86400000000L)
    }
    dirs.foreach { case (form, dir) =>
      val df = Tables.orders(spark, dir)
      assert(df.schema("o_orderdate").dataType == TimestampType,
        s"$form: expected TimestampType, got ${df.schema("o_orderdate").dataType}")
      val got = df.select(col("o_orderkey"),
          unix_micros(col("o_orderdate")).as("us"))
        .orderBy(col("o_orderkey")).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got == expected, s"$form: expected $expected, got $got")
    }
  }
}

package graftbench

import java.io.File
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{Q, SparkEntry}
import graft.operators.IndexCache
import graft.sources.Tables

/** `batch_mixed`: registered queries of `SparkEntry`, each timed to its
  * full result.
  *
  * A query is timed in three parts: building the DataFrame (which runs any
  * eager jobs such as `localCheckpoint`), planning the fingerprint
  * aggregate over it, and executing that aggregate. The fingerprint is one
  * action that reads every output column: the row count and the sum of a
  * 64-bit hash of each row, which does not depend on row order. Both are
  * checked against values pinned from a run whose outputs passed the
  * DuckDB oracle (`perfbench/pins.json`).
  *
  * Set-up loads every table and runs one untimed pass that fills the
  * index cache, so the timed passes start from the same cache state. */
object Batch {
  /** The registered queries, by pack: one cheap query from each of
    * thirteen packs, four of them index-cache users, so a run covers the
    * relational, streaming catch-up, text, dedup, similarity, multimodal
    * and pipeline layers in under a minute. */
  val Queries: Seq[(String, String)] = Seq(
    "Core" -> "o1_validated_deposits",
    "Relational" -> "q_semi_join",
    "Stream" -> "stream_window_agg",
    "Extras" -> "q_json_extract",
    "Tpch" -> "q6_forecast_revenue",
    "Serde" -> "q_proto_roundtrip",
    "Sampling" -> "q_hash_sample",
    "Text" -> "text_bpe_encode",
    "Dedup" -> "dedup_ngram_jaccard",
    "Similarity" -> "sim_recall_ivf",
    "Multimodal" -> "mm_binary_meta",
    "Pipeline" -> "pipeline_pack_spans",
    "Corpus" -> "text_repetition")

  val MinPasses = 2

  /** Order-independent fingerprint of a result: one row holding the row
    * count and the sum of a 64-bit hash over every column. Floating
    * columns are rounded to 9 significant digits first, so the pin does not
    * depend on the last bits of a partial-aggregation order. */
  def fingerprint(df: DataFrame): DataFrame = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType =>
        when(c.isNull || c.cast(DoubleType) === 0.0, c.cast(DoubleType)).otherwise {
          val d = c.cast(DoubleType)
          val mag = pow(lit(10.0), floor(log10(abs(d))) - 8)
          round(d / mag) * mag
        }.cast(StringType)
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("rows"), sum(h.cast(DecimalType(38, 0))).as("fp"))
  }

  final case class Run(name: String, pack: String, pass: Int, traced: Boolean,
                       startMs: Double, buildS: Double, planS: Double, execS: Double,
                       rows: Long, fp: String, error: Option[String])

  private def runOne(spark: SparkSession, q: Q, pack: String, pass: Int, traced: Boolean,
                     dataDir: String): Run = {
    val scope = s"q:${q.name}:$pass"
    val start = Clock.nowMs
    var buildS, planS, execS = 0.0
    SparkProbe.scoped(spark, scope) {
      try {
        var t = System.nanoTime()
        val df = q.run(spark, dataDir)
        buildS = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val fp = fingerprint(df)
        fp.queryExecution.executedPlan
        planS = (System.nanoTime() - t) / 1e9
        t = System.nanoTime()
        val row = fp.collect().head
        execS = (System.nanoTime() - t) / 1e9
        Run(q.name, pack, pass, traced, start, buildS, planS, execS, row.getLong(0),
          Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("null"), None)
      } catch {
        case e: Throwable =>
          Run(q.name, pack, pass, traced, start, buildS, planS, execS, -1L, "",
            Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      }
    }
  }

  private def cacheCounts(delta: Map[String, Long]): (Long, Long) = {
    val hits = delta.collect { case (k, v) if k.endsWith(".mem") || k.endsWith(".disk") => v }.sum
    val builds = delta.collect { case (k, v) if k.endsWith(".build") || k.endsWith(".train") => v }.sum
    (hits, builds)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
          data: File, probe: SparkProbe): Map[String, Any] = {
    val dataDir = data.getPath
    val registered = SparkEntry.packs.map(q => q.name -> q).toMap
    val queries = Queries.map { case (pack, name) =>
      (pack, registered.getOrElse(name, sys.error(s"no registered query $name")))
    }

    // ---- set-up: load every table, then one pass that fills the caches ----
    var t = System.nanoTime()
    Tables.names.foreach { n =>
      (if (n == "events") Tables.events(spark, dataDir) else Tables.load(spark, dataDir, n)).count()
    }
    val loadS = (System.nanoTime() - t) / 1e9
    t = System.nanoTime()
    val fill = queries.map { case (pack, q) => runOne(spark, q, pack, 0, traced = false, dataDir) }
    val fillS = (System.nanoTime() - t) / 1e9
    System.gc()

    // ---- measured passes, each in a seeded order ----
    val runs = ArrayBuffer.empty[Run]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.nowMs
    var pass = 1
    // At least two passes: enough query runs for a p50 with ten beyond it,
    // and, in traced runs, one untraced and one traced pass.
    while (pass <= MinPasses || (Clock.nowMs - t0) / 1e3 < seconds) {
      val traced = trace && pass % 2 == 0
      probe.traceWhen(_ => traced)
      val order = new Random(seed * 7919L + pass).shuffle(queries)
      val f0 = IndexCache.forensicsSnapshot
      val p0 = Clock.nowMs
      val rs = order.map { case (pack, q) => runOne(spark, q, pack, pass, traced, dataDir) }
      val p1 = Clock.nowMs
      val delta = IndexCache.forensicsSnapshot.map { case (k, v) => k -> (v - f0.getOrElse(k, 0L)) }
      val (hits, builds) = cacheCounts(delta)
      runs ++= rs
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> (p1 - p0) / 1e3,
        "cache_hits" -> hits, "cache_builds" -> builds)
      probe.traceWhen(_ => false)
      System.gc()
      pass += 1
    }
    probe.drain()
    val scoped = runs.map(r => s"${r.name}:${r.pass}" -> probe.totals(s"q:${r.name}:${r.pass}")).toMap

    Map(
      "setup_parts" -> Map("load_s" -> Seq(loadS), "fill_s" -> Seq(fillS)),
      "window_s" -> (Clock.nowMs - t0) / 1e3,
      "fill" -> fill.map(r => Map("name" -> r.name, "rows" -> r.rows, "fp" -> r.fp,
        "error" -> r.error, "wall_s" -> (r.buildS + r.planS + r.execS))),
      "passes" -> passes.toSeq,
      "queries" -> runs.toSeq.map { r =>
        Map("name" -> r.name, "pack" -> r.pack, "pass" -> r.pass, "traced" -> r.traced,
          "start_ms" -> r.startMs, "build_s" -> r.buildS, "plan_s" -> r.planS,
          "exec_s" -> r.execS, "rows" -> r.rows, "fp" -> r.fp, "error" -> r.error) ++
          scoped(s"${r.name}:${r.pass}")
      },
      "spans" -> runs.toSeq.filter(_.traced).flatMap { r =>
        val id = s"q:${r.name}:${r.pass}"
        val b = r.startMs + r.buildS * 1e3
        val p = b + r.planS * 1e3
        Seq(Span(id, "query", "build", r.startMs, b), Span(id, "query", "plan", b, p),
          Span(id, "query", "execute", p, p + r.execS * 1e3))
      })
  }
}

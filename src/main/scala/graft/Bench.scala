package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every registered query on
  * SPARK_GRAFT_SF_DIR over SPARK_GRAFT_BENCH_RUNS iterations (default 3)
  * and reports per-query MEDIANS — the streaming pipelines stand up a full
  * MemoryStream→RocksDB topology per run and single samples swing 2-3×
  * with host load (PERF.md), so medians are the signal.
  *
  * Output: one JSON line with per-query medians + forensics, one with
  * per-query medians only, then a SHORT total-only JSON line. The short
  * line is printed last so a tail capture that truncates the big lines
  * still gets a parseable total; all lines carry the same
  * "metric":"total" value (sum of per-query medians) and the "cpus" the
  * session ran on (SPARK_GRAFT_CPUS), since per-query medians taken at
  * different core counts do not compare. The full line (and
  * bench_full.json) also carries the "ledger": per query, the median Spark
  * cost of its successful runs, as recorded by [[Bench.Ledger]], and under
  * "min" their minimum — one slow warm-up run can set the median of a
  * sub-100 ms query when there are only 3 runs.
  */
object Bench {
  /** Wall time and Spark cost of each timed run. One listener counts the
    * jobs, stages and tasks of every job submitted under the run's
    * job-local property, and the seconds its tasks spent running, on CPU,
    * deserializing and in GC. Threads started inside a run (stream
    * execution, broadcast) inherit the property, so their jobs count too.
    * Counters are read after [[drain]]. */
  final class Ledger(spark: SparkSession) extends SparkListener {
    import Ledger._
    // Per run, the raw counters in the order of `Fields`. Written only by
    // the listener-bus thread; read after `drain`, whose volatile
    // `drained` publishes them.
    private val costs = new ConcurrentHashMap[String, Array[Long]]()
    private val stageRun = new ConcurrentHashMap[Int, String]()
    @volatile private var drained = 0
    // The recording thread's bookkeeping: runs started, and the runs of
    // each query that succeeded, with their wall seconds.
    private var started = 0
    private val succeeded = scala.collection.mutable.Map[String, Vector[(String, Double)]]()
    spark.sparkContext.addSparkListener(this)

    private def add(run: String, field: Int, v: Long): Unit =
      costs.computeIfAbsent(run, _ => new Array[Long](Fields.size))(field) += v

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach {
        // The marker starts after every earlier event has been delivered.
        case DrainRun => drained += 1
        case run =>
          add(run, 0, 1)
          e.stageIds.foreach(stageRun.putIfAbsent(_, run))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageRun.get(e.stageInfo.stageId)).foreach(add(_, 1, 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageRun.get(e.stageId)).foreach { run =>
        add(run, 2, 1)
        Option(e.taskMetrics).foreach { m =>
          Seq(m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
            m.jvmGCTime).zipWithIndex.foreach { case (v, i) => add(run, 3 + i, v) }
        }
      }

    private def charged[T](run: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, run)
      try body finally sc.setLocalProperty(Key, prev)
    }

    /** Times `body` as a new run of `query`, with every job it submits
      * charged to that run. A run that throws records no sample. */
    def record[T](query: String)(body: => T): T = {
      started += 1
      val run = s"$query#$started"
      val (result, wall) = charged(run) {
        val t0 = System.nanoTime()
        (body, (System.nanoTime() - t0) / 1e9)
      }
      succeeded(query) = succeeded.getOrElse(query, Vector.empty) :+ (run -> wall)
      result
    }

    /** Blocks until the listener has seen every event posted so far, by
      * running one marker job. */
    def drain(): Unit = {
      val before = drained
      charged(DrainRun)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.currentTimeMillis() + 30000
      while (drained == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
    }

    /** Each successful run of `query`, in run order: its `wall_s` and
      * its counters. */
    def samples(query: String): Seq[Map[String, Double]] =
      succeeded.getOrElse(query, Vector.empty).map { case (run, wall) =>
        val c = costs.getOrDefault(run, new Array[Long](Fields.size))
        Fields.indices.map(i => Fields(i) -> c(i) / Scale(i)).toMap + ("wall_s" -> wall)
      }

    /** Per key of [[samples]], the median over the successful runs of
      * `query`; empty when none succeeded. */
    def medians(query: String): Map[String, Double] = summary(query)(median)

    /** Per key of [[samples]], the minimum over the successful runs of
      * `query`; empty when none succeeded. */
    def minima(query: String): Map[String, Double] = summary(query)(_.min)

    private def summary(query: String)(f: Seq[Double] => Double): Map[String, Double] = {
      val ss = samples(query)
      if (ss.isEmpty) Map.empty else ss.head.keys.map(k => k -> f(ss.map(_(k)))).toMap
    }

    /** The `"ledger"` JSON member: per query of `queries` with a successful
      * run, the median of each of [[Ledger.Fields]] and, under `"min"`,
      * their minimum. */
    def json(queries: Seq[String]): String = {
      def fields(m: Map[String, Double]) =
        Fields.map(k => "\"" + k + "\":" + num(m(k))).mkString(",")
      queries.filter(samples(_).nonEmpty).map { n =>
        "\"" + n + "\":{" + fields(medians(n)) + ",\"min\":{" + fields(minima(n)) + "}}"
      }.mkString("\"ledger\":{", ",", "}")
    }
  }

  object Ledger {
    /** The job-local property that names the run a job is charged to. */
    val Key = "graft.bench.run"
    private val DrainRun = "graft.bench.drain"
    /** The counters, in output order, and the divisor from each raw
      * counter (counts, ms, ns) to its reported unit (counts, seconds). */
    val Fields = Seq("jobs", "stages", "tasks", "task_s", "cpu_s", "deser_s", "gc_s")
    private val Scale = Seq(1.0, 1.0, 1.0, 1e3, 1e9, 1e3, 1e3)
    // Counts are whole unless a median of an even number of runs halves them.
    private def num(x: Double): String =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .bigDecimal.stripTrailingZeros.toPlainString
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // The same session Verify checks: GraftSession.local, whose 8 MB
    // advisory partition size suits sf0.1's single-digit-MB shuffles.
    val spark = GraftSession.local("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")

    // Warmup: touch every table (footer reads + codegen paths) once.
    // events goes through its loader, which normalizes whatever physical
    // ts type the testdata generation shipped (nanos LONG / micros NTZ /
    // micros LTZ) to TimestampType.
    sources.Tables.names.filterNot(_ == "events").foreach { t =>
      try sources.Tables.load(spark, sfDir, t).count()
      catch { case _: Throwable => () }
    }
    try sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => () }

    // Host-condition calibration: a fixed CPU-bound loop, single-threaded
    // and on every core, timed before and after the sweep. The box this
    // runs on shows intermittent external contention (same-code full
    // sweeps have measured 84–155 s across draws — PERF.md), so every
    // draw carries its own conditions: clean-host reference values are
    // committed in PERF.md, and a draw whose calibration reads N× those
    // references was inflated N× by the host, not by the plans.
    @volatile var calibSink = 0L
    def burn(): Long = {
      var x = 1469598103934665603L; var i = 0
      while (i < 200000000) { x = x * 1099511628211L + i; i += 1 }
      x
    }
    // MEMORY-BANDWIDTH probe next to the ALU burn: round 12 measured a
    // sustained phase where the register-only burn sat in its clean band
    // while every Spark query ran a uniform 1.26× slow (r11-code A/B
    // reproduced it — host condition, not plans). Spark execution is
    // bandwidth-bound, the burn loop is not; a draw needs both numbers to
    // attribute uniform drift from the artifact alone. 16 streaming
    // passes over a 256 MiB long array, single-threaded (~0.4 s clean).
    val membwArr = new Array[Long](32 << 20)
    def membw(): Double = {
      var pass = 0
      val t = System.nanoTime()
      while (pass < 16) {
        var i = 0; var s = 0L
        while (i < membwArr.length) { s += membwArr(i); i += 1 }
        calibSink += s; pass += 1
      }
      (System.nanoTime() - t) / 1e9
    }
    def calibrate(): (Double, Double, Double) = {
      val t1 = System.nanoTime(); calibSink += burn()
      val one = (System.nanoTime() - t1) / 1e9
      val ts = (1 to Runtime.getRuntime.availableProcessors).map(_ =>
        new Thread(() => { calibSink += burn() }))
      val t2 = System.nanoTime(); ts.foreach(_.start()); ts.foreach(_.join())
      val all = (System.nanoTime() - t2) / 1e9
      (one, all, membw())
    }
    val (calPre1, calPreN, calPreBw) = calibrate()

    // Local-iteration subset (driver never sets this → full sweep).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Built once: SparkEntry.queries rebuilds every pack's query list and
    // oracle SQL on each call, which must not land in a timed region.
    val queries = SparkEntry.queries
    val names = queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // A crashed run records NO sample — exception time is not run time. A
    // query that failed every run reports "failed" (never a number), so a
    // regression that crashes queries can only hurt the total, not flatter
    // it (a crash takes ~0.06 s vs the seconds of real work it replaced).
    // Index/model cache traffic per query, accumulated across runs from
    // IndexCache counter deltas (`<kind>.mem` / `.disk` / `.build` /
    // `.train`) — embedded in the output JSON so a draw is
    // SELF-DIAGNOSING: a serve query that unexpectedly slowed shows
    // whether it rebuilt an artifact or served from cache, attributable
    // from the artifact alone.
    val forensicsAcc =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()
    val ledger = new Ledger(spark)
    (1 to runs).foreach { _ =>
      names.foreach { name =>
        val query = queries(name)
        val fBefore = operators.IndexCache.forensicsSnapshot
        try ledger.record(name)(query(spark, sfDir).count())
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val delta = operators.IndexCache.forensicsSnapshot.flatMap {
          case (k, v) =>
            val d = v - fBefore.getOrElse(k, 0L)
            if (d != 0) Some(k -> d) else None
        }
        if (delta.nonEmpty) {
          val prev = forensicsAcc.getOrElse(name, Map.empty[String, Long])
          forensicsAcc(name) = delta.foldLeft(prev) { case (acc, (k, d)) =>
            acc.updated(k, acc.getOrElse(k, 0L) + d)
          }
        }
      }
      // Between rounds (outside any timed region): a full GC lets Spark's
      // ContextCleaner reap the dead localCheckpoint blocks the round left
      // in the BlockManager — ~50 queries checkpoint per round, and their
      // blocks otherwise sit in unified memory squeezing later queries'
      // execution side until a natural full GC happens to run. Live caches
      // (the dedup signature slots, model artifacts) are strongly
      // referenced and survive.
      System.gc()
    }
    ledger.drain()
    val perQuery: Seq[(String, Option[Double])] =
      names.map(n => n -> ledger.medians(n).get("wall_s"))
    val failed = perQuery.collect { case (n, None) => n }
    def r4(x: Double): String = f"$x%.4f"
    val qs = perQuery.map {
      case (k, Some(v)) => "\"" + k + "\":" + r4(v)
      case (k, None)    => "\"" + k + "\":\"failed\""
    }.mkString("{", ",", "}")
    val failedJson =
      if (failed.isEmpty) ""
      else s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"""
    val total = perQuery.flatMap(_._2).sum
    val (calPost1, calPostN, calPostBw) = calibrate()
    val calib = s""""calib":{"pre_1t":${r4(calPre1)},"pre_allcore":${r4(calPreN)},""" +
      s""""pre_membw":${r4(calPreBw)},""" +
      s""""post_1t":${r4(calPost1)},"post_allcore":${r4(calPostN)},""" +
      s""""post_membw":${r4(calPostBw)}}"""
    val forensicsJson = forensicsAcc.map { case (n, m) =>
      "\"" + n + "\":" + m.toSeq.sorted.map { case (k, v) =>
        "\"" + k + "\":" + v
      }.mkString("{", ",", "}")
    }.mkString("\"forensics\":{", ",", "}")
    val ledgerJson = ledger.json(names)
    val fullLine =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","runs":$runs,"cpus":$cpus,${failedJson}"queries":$qs,$forensicsJson,$ledgerJson,$calib,"sf":"$sfDir"}"""
    println(fullLine)
    // Per-query medians WITHOUT the forensics blob (round-17 verdict item:
    // the driver could not build its per-query table from stdout). A
    // 302-entry map is ~8 KB and thus cannot ride the final line — the
    // driver's 2000-char stdout-tail capture must end with a COMPLETE
    // JSON line or its parse nulls out entirely (BENCH_r12.json proved
    // that failure mode) — so the map gets its own line here, ahead of
    // the truncation-proof summary, for any consumer that reads more
    // than the tail. Additions-only: the full line and the final short
    // line are unchanged in shape.
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","runs":$runs,"cpus":$cpus,$failedJson"nqueries":${names.size},"queries":$qs,"sf":"$sfDir"}""")
    // Short, truncation-proof summary LAST. The driver's BENCH_r*.json
    // keeps only a ~2000-char stdout tail; round 12's "short" line still
    // carried the forensics blob and outgrew it (BENCH_r12.json parsed:
    // null). This line is total + conditions ONLY — forensics and
    // per-query medians live in the full line and bench_full.json.
    println(s"""{"metric":"total","value":${r4(total)},"unit":"sec","runs":$runs,"cpus":$cpus,$failedJson"nqueries":${names.size},$calib,"sf":"$sfDir"}""")
    // Machine-readable artifact of record: the driver's BENCH_r*.json
    // keeps only a 2000-char stdout tail, so the full per-query medians +
    // forensics are ALSO written to a file (committed per round → git
    // history makes per-query regressions diffable by tooling).
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench_full.json")
    try {
      val abs = java.nio.file.Paths.get(outPath).toAbsolutePath
      java.nio.file.Files.write(abs, (fullLine + "\n").getBytes("UTF-8"))
      // The default path is CWD-relative — print where it actually landed
      // so a harness launched outside the repo root can't silently leave
      // the committed artifact stale.
      System.err.println(s"[bench] wrote $abs")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}

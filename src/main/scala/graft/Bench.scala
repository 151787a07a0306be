package graft

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
  * different core counts do not compare.
  */
object Bench {
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
    val samples: Seq[Seq[(String, Option[Double])]] = (1 to runs).map { _ =>
      val round = names.map { name =>
        val query = queries(name)
        val fBefore = operators.IndexCache.forensicsSnapshot
        val t0 = System.nanoTime()
        val ok =
          try {
            query(spark, sfDir).count()
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
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
        name -> (if (ok) Some(elapsed) else None)
      }
      // Between rounds (outside any timed region): a full GC lets Spark's
      // ContextCleaner reap the dead localCheckpoint blocks the round left
      // in the BlockManager — ~50 queries checkpoint per round, and their
      // blocks otherwise sit in unified memory squeezing later queries'
      // execution side until a natural full GC happens to run. Live caches
      // (the dedup signature slots, model artifacts) are strongly
      // referenced and survive.
      System.gc()
      round
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val perQuery: Seq[(String, Option[Double])] = names.map { n =>
      val ok = samples.flatMap(_.toMap.apply(n))
      n -> (if (ok.isEmpty) None else Some(median(ok)))
    }
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
    val fullLine =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec","runs":$runs,"cpus":$cpus,${failedJson}"queries":$qs,$forensicsJson,$calib,"sf":"$sfDir"}"""
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

package graftbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/** Benchmark JVM entry point. `perfbench/run.py` builds and launches it:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --data <dir> --out <file>
  * }}}
  *
  * It runs one workload and writes its raw observations (samples, counts,
  * Spark and micro-batch layer totals, spans, calibration probes, the
  * resolved session conf) as JSON to `--out`. All arithmetic on those
  * observations happens in `perfbench/stats.py`. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val out = new File(opts("out"))

    val calibPre = Calib.probe()
    val t = System.nanoTime()
    val spark = graft.GraftSession.local(s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t) / 1e9
    val probe = new SparkProbe(spark)
    val streams = new StreamProbe(spark)

    val result = workload match {
      case "serve_mixed" => Serve.run(spark, seed, seconds, trace, work, probe, streams)
      case "stream_ingest" => Stream.run(spark, seed, seconds, trace, work, probe, streams)
      case "batch_mixed" => Batch.run(spark, seed, seconds, trace, new File(opts("data")), probe)
      case w => sys.error(s"unknown workload $w")
    }
    val jobSpans = probe.spans.asScala.toSeq
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted.toMap
    probe.close(); streams.close()
    spark.stop()
    val rssMb = peakRssMb
    val calibPost = Calib.probe()

    val doc = result ++ Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "session_s" -> sessionS,
      "peak_rss_mb" -> rssMb,
      "conf" -> conf,
      "calib" -> Map("pre" -> calibPre, "post" -> calibPost),
      "spans" -> (result.getOrElse("spans", Nil).asInstanceOf[Seq[Span]] ++ jobSpans))
    new ObjectMapper().writeValue(out, Json.toJava(doc))
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MiB. */
  private def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
      finally src.close()
    }
  }
}

/** Scala values to the Java collections Jackson serializes. */
object Json {
  def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Span => toJava(Map("id" -> s.id, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}

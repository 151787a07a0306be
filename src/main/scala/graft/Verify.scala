package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: restrict to the named queries (local iteration;
    // the driver always calls with exactly two args = full dump).
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // The same session Bench times.
    val spark = GraftSession.local("graft-verify", cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A failed query must be LOUD, never a silent absence: stderr line,
    // a per-query sibling marker file, and an aggregate errors.json the
    // driver (or any human) can surface. Round 7 lost 47 queries to a
    // systemic loader break that read, in CORRECTNESS json, exactly like
    // "not registered".
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val emptyOk = SparkEntry.packs.filter(_.expectsEmpty).map(_.name).toSet
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // Non-vacuity gate: a registered query returning 0 rows at sf0.01
        // almost always means a broken predicate "passing" against an
        // equally-empty oracle (two such slipped to mid-round in r11).
        // Counting the WRITTEN parquet is one cheap local read; queries
        // whose correct answer is empty annotate Q.emptyOk.
        if (!emptyOk(name) &&
            spark.read.parquet(s"$outDir/$name").isEmpty) {
          val msg = "vacuous 0-row result (annotate Q.emptyOk if intended)"
          System.err.println(s"[verify] $name failed: $msg")
          errors(name) = msg
          Files.writeString(Paths.get(s"$outDir/$name._ERROR"), msg)
        }
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        Files.writeString(Paths.get(s"$outDir/$name._ERROR"), msg)
      }
    }
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v.take(2000))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} FAILED queries: ${errors.keys.mkString(", ")}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

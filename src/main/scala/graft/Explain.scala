package graft

import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}

/** Plan-audit main: runs each named query (or all, with no args beyond
  * the dir) once and prints the formatted physical plan that ran — the
  * tool behind the "is the filter pushed, is the dim broadcast, how wide
  * are the codegen spans" checks. With AQE on, only the executed plan is
  * final: it carries the WholeStageCodegen stages and `[codegen id : N]`
  * marks the initial plan lacks. The session is [[GraftSession.builder]]'s,
  * so the plan is the one a deployment runs (engine rule and functions,
  * RocksDB state store).
  * Usage: runMain graft.Explain <sfDir> [queryName ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder("graft-explain", Some(s"local[$cpus]"), Some(cpus))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try {
        val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
        SQLExecution.withNewExecutionId(qe, Some(s"explain $n"))(qe.toRdd.foreach(_ => ()))
        println(qe.explainString(FormattedMode))
      } catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}

package graft.service

import java.io.File
import org.apache.spark.sql.SparkSession

/** Standalone launcher for the deposit service (the reference's
  * cmd/service/main.go): `runMain graft.service.ServeMain [port]`. */
object ServeMain {
  /** The changelog directory under the working directory. A POST is ACKed
    * only once its deposit is fsynced there (the `EmitSync` contract,
    * service.go:99), and a restart in the same directory replays it. */
  val ChangelogDir = "changelog"

  /** The service on `port`, logging under `workDir/changelog`. */
  def service(spark: SparkSession, port: Int, workDir: File): DepositService =
    new DepositService(spark, port,
      Some(new File(workDir, ChangelogDir).getAbsolutePath))

  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8080)
    val spark = graft.GraftSession.local("graft-deposit-service")
    spark.sparkContext.setLogLevel("WARN")
    val workDir = new File(".").getAbsoluteFile
    val svc = service(spark, port, workDir)
    println(s"deposit service listening on :${svc.boundPort} " +
      s"(POST /deposit, GET /check/{wallet_id}), changelog " +
      new File(workDir, ChangelogDir).getCanonicalPath)
    Thread.currentThread().join()
  }
}

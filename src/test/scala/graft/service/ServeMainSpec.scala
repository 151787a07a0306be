package graft.service

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** The standalone service as `ServeMain.main` builds it logs every ACKed
  * deposit under `changelog/` of its working directory, so a restart
  * there serves it again. */
class ServeMainSpec extends AnyFunSuite with SparkSpec {

  private val client = HttpClient.newHttpClient()

  test("a deposit ACKed by the standalone service survives a restart") {
    val workDir = tempDir("serve_main").toFile
    def post(s: DepositService, body: String): Int =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/deposit"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    def check(s: DepositService, wallet: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()

    val a = ServeMain.service(spark, 0, workDir)
    try assert(post(a, """{"wallet_id":"hana","amount":12.5,"ts_unix":1000}""") == 200)
    finally a.stop()
    assert(new File(workDir, ServeMain.ChangelogDir).list().nonEmpty)

    val b = ServeMain.service(spark, 0, workDir)
    try assert(check(b, "hana") ==
      """{"wallet_id":"hana","balance":12.5,"above_threshold":false}""")
    finally b.stop()
  }
}

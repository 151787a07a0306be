package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.TestDirs.tempDir

/** The serving edge under SUSTAINED CONCURRENT LOAD — the scenario the
  * reference's chi router lives in: N parallel clients mixing POST
  * /deposit (each ACKed once the group that carries it is durable — one
  * fsync and one `addData`; the fused wallet query folds it on its own
  * trigger) and GET /check (keyed map reads behind a per-wallet read
  * barrier) against one service process, then a RESTART UNDER LOAD with
  * durability accounting.
  *
  * What is asserted (correctness) and what is measured (latency):
  *  - every ACKed deposit is visible to a subsequent GET (read-your-
  *    writes survives concurrency — a GET waits until the view has
  *    folded the wallet's last deposit ACKed before it arrived);
  *  - after a restart mid-workload, the rebuilt views account for EVERY
  *    ACKed deposit exactly once (ACK ⇒ fsynced log ⇒ replay), while
  *    un-ACKed in-flight requests may simply be absent — at-least-once
  *    for keyless POSTs, exactly-once per idempotency key;
  *  - per-request wall latencies are collected and the p50/p95/p99
  *    table is printed for PERF.md (one writer thread commits the POSTs
  *    group by group, so a POST's latency under load ≈ waiting for the
  *    group in flight plus its own group's fsync; a GET waits at most for
  *    the micro-batch running and the next one, and only on a wallet
  *    with deposits in flight).
  */
class DepositServiceLoadSpec extends AnyFunSuite with SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port/deposit"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def check(port: Int, wallet: String): String =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:$port/check/$wallet")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def pct(sorted: Vector[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))

  test("concurrent writers+readers: read-your-writes holds, p50/p99 measured") {
    val dir = tempDir("svc_load").toString
    val svc = new DepositService(spark, changelogDir = Some(dir))
    val port = svc.boundPort
    val writers = 3; val postsPerWriter = 8
    val readers = 3; val getsPerReader = 60
    val postLat = new ConcurrentLinkedQueue[Double]()
    val getLat = new ConcurrentLinkedQueue[Double]()
    val acked = new ConcurrentLinkedQueue[(String, Double)]()
    val failures = new ConcurrentLinkedQueue[String]()
    val start = new CountDownLatch(1)

    val writerThreads = (0 until writers).map { w =>
      new Thread(() => {
        start.await()
        (0 until postsPerWriter).foreach { i =>
          val wallet = s"load-w$w"; val amount = 100.0 + i
          val t0 = System.nanoTime()
          val r = post(port,
            s"""{"wallet_id":"$wallet","amount":$amount,"ts_unix":${1000 + i},"idem":"w$w-$i"}""")
          postLat.add((System.nanoTime() - t0) / 1e6)
          if (r.statusCode() == 200) acked.add((wallet, amount))
          else failures.add(s"POST $wallet#$i -> ${r.statusCode()}")
        }
      })
    }
    val readerThreads = (0 until readers).map { g =>
      new Thread(() => {
        start.await()
        (0 until getsPerReader).foreach { i =>
          val t0 = System.nanoTime()
          val body = check(port, s"load-w${i % writers}")
          getLat.add((System.nanoTime() - t0) / 1e6)
          if (!body.contains("balance")) failures.add(s"GET -> $body")
        }
      })
    }
    (writerThreads ++ readerThreads).foreach(_.start())
    start.countDown()
    (writerThreads ++ readerThreads).foreach(_.join(120000))

    assert(failures.isEmpty, s"request failures: ${failures.asScala.toList}")
    assert(acked.size == writers * postsPerWriter)
    // Read-your-writes after the storm: each wallet's balance equals the
    // sum of its ACKed amounts (the read barrier waits for any in flight).
    val expected = acked.asScala.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    expected.foreach { case (w, sum) =>
      assert(check(port, w).contains(s""""balance":$sum"""),
        s"wallet $w: expected balance $sum, got ${check(port, w)}")
    }

    val pl = postLat.asScala.toVector.sorted
    val gl = getLat.asScala.toVector.sorted
    info(f"POST latency ms: p50=${pct(pl, 0.50)}%.1f p95=${pct(pl, 0.95)}%.1f " +
      f"p99=${pct(pl, 0.99)}%.1f max=${pl.last}%.1f (n=${pl.size})")
    info(f"GET  latency ms: p50=${pct(gl, 0.50)}%.1f p95=${pct(gl, 0.95)}%.1f " +
      f"p99=${pct(gl, 0.99)}%.1f max=${gl.last}%.1f (n=${gl.size})")
    svc.stop()
  }

  test("restart under load: every ACKed deposit survives, exactly once per key") {
    val dir = tempDir("svc_load_restart").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    val portA = a.boundPort
    val acked = new ConcurrentLinkedQueue[(String, Double, String)]()
    val sent = new ConcurrentLinkedQueue[(String, Double, String)]()
    val stopAt = 6 // writer progress point where the service is killed
    val progress = new java.util.concurrent.atomic.AtomicInteger(0)
    val writers = (0 until 2).map { w =>
      new Thread(() => {
        (0 until 12).foreach { i =>
          val wallet = s"rs-w$w"; val amount = 10.0 + i; val key = s"rs-$w-$i"
          sent.add((wallet, amount, key))
          try {
            val r = post(portA,
              s"""{"wallet_id":"$wallet","amount":$amount,"ts_unix":${2000 + i},"idem":"$key"}""")
            if (r.statusCode() == 200) acked.add((wallet, amount, key))
          } catch { case _: Throwable => () } // killed mid-request: un-ACKed
          progress.incrementAndGet()
        }
      })
    }
    writers.foreach(_.start())
    while (progress.get() < stopAt) Thread.sleep(5)
    a.stop() // restart under load: in-flight requests die un-ACKed
    writers.foreach(_.join(60000))

    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      val portB = b.boundPort
      // 1. Every ACKed deposit is in the rebuilt balance (durability).
      // 2. RETRYING every sent deposit against the new process must not
      //    double-count the ACKed ones (idempotency keys survive the
      //    restart via replay) — afterwards each wallet's balance is
      //    EXACTLY the sum over its distinct keys.
      sent.asScala.foreach { case (w, amt, key) =>
        val r = post(portB,
          s"""{"wallet_id":"$w","amount":$amt,"ts_unix":2500,"idem":"$key"}""")
        assert(r.statusCode() == 200)
      }
      val perWallet = sent.asScala.toVector.distinct.groupBy(_._1)
        .view.mapValues(_.map(_._2).sum)
      perWallet.foreach { case (w, sum) =>
        assert(check(portB, w).contains(s""""balance":$sum"""),
          s"wallet $w: expected $sum after replay+retry, got ${check(portB, w)}")
      }
      val ackedSet = acked.asScala.map(_._3).toSet
      info(s"restart under load: ${ackedSet.size} ACKed before kill, " +
        s"${sent.asScala.size - ackedSet.size} retried after; balances exact")
    } finally b.stop()
  }
}

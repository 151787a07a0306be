package graft.service

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.streaming.DetectorLogic
import graft.TestDirs.tempDir

/** Drives the HTTP surface end-to-end: the FIXTURES.md §B scenarios
  * through real POST/GET requests against the running service. */
class DepositServiceSpec extends AnyFunSuite with SparkSpec {

  private lazy val svc = new DepositService(spark)
  private lazy val base = s"http://localhost:${svc.boundPort}"
  private lazy val client = HttpClient.newHttpClient()

  private def post(body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/deposit"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def check(wallet: String): String =
    client.send(HttpRequest.newBuilder(URI.create(s"$base/check/$wallet")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("deposit -> check round trip flags at cumulative >= 10,000") {
    assert(post("""{"wallet_id":"alice","amount":2000,"ts_unix":1000}""").statusCode() == 200)
    assert(post("""{"wallet_id":"alice","amount":9000,"ts_unix":1060}""").statusCode() == 200)
    assert(check("alice") ==
      """{"wallet_id":"alice","balance":11000.0,"above_threshold":true}""")
  }

  test("amount <= 0 rejected with 422 (service.go:87-91)") {
    assert(post("""{"wallet_id":"bob","amount":-5}""").statusCode() == 422)
    assert(post("""{"wallet_id":"bob","amount":0}""").statusCode() == 422)
    // Nothing was ingested.
    assert(check("bob") ==
      """{"wallet_id":"bob","balance":0.0,"above_threshold":false}""")
  }

  // Jackson's asDouble/asLong read these as NaN, Infinity, 1.0 and 0.
  Seq(""""NaN"""", "1e400", """"Infinity"""", "true").zipWithIndex.foreach { case (amount, i) =>
    test(s"amount $amount is rejected with 422 and nothing is ingested") {
      val resp = post(s"""{"wallet_id":"odd_amount$i","amount":$amount,"ts_unix":1000}""")
      assert(resp.statusCode() == 422, resp.body())
      assert(check(s"odd_amount$i") ==
        s"""{"wallet_id":"odd_amount$i","balance":0.0,"above_threshold":false}""")
    }
  }

  test("a null wallet_id is rejected with 400, not stored as wallet \"null\"") {
    assert(post("""{"wallet_id":null,"amount":5}""").statusCode() == 400)
    assert(check("null") ==
      """{"wallet_id":"null","balance":0.0,"above_threshold":false}""")
  }

  Seq(""""abc"""", "12.5").zipWithIndex.foreach { case (ts, i) =>
    test(s"ts_unix $ts is rejected with 400 and nothing is ingested") {
      val resp = post(s"""{"wallet_id":"odd_ts$i","amount":5,"ts_unix":$ts}""")
      assert(resp.statusCode() == 400, resp.body())
      assert(check(s"odd_ts$i") ==
        s"""{"wallet_id":"odd_ts$i","balance":0.0,"above_threshold":false}""")
    }
  }

  test("unknown wallet returns zero values with HTTP 200 (SURVEY §2.3.6)") {
    assert(check("ghost") ==
      """{"wallet_id":"ghost","balance":0.0,"above_threshold":false}""")
  }

  test("reset-discard quirk over HTTP: deposit 130 s later is not counted") {
    assert(post("""{"wallet_id":"carol","amount":9000,"ts_unix":5000}""").statusCode() == 200)
    assert(post("""{"wallet_id":"carol","amount":9000,"ts_unix":5130}""").statusCode() == 200)
    // Balance keeps both; the counter reset means no flag.
    assert(check("carol") ==
      """{"wallet_id":"carol","balance":18000.0,"above_threshold":false}""")
  }

  test("a POST to /check is refused with 405 and records nothing") {
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/check/post_check"))
      .POST(HttpRequest.BodyPublishers.ofString(
        """{"wallet_id":"post_check","amount":5,"ts_unix":1000}""")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 405, resp.body())
    assert(resp.body() == """{"error":"GET only"}""")
    assert(check("post_check") ==
      """{"wallet_id":"post_check","balance":0.0,"above_threshold":false}""")
  }

  test("malformed body and wrong method get clean errors") {
    assert(post("""not json at all""").statusCode() == 500)
    assert(post("""{"amount": 5}""").statusCode() == 400)
    val resp = client.send(HttpRequest.newBuilder(URI.create(s"$base/deposit")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 405)
  }

  test("restart rebuilds the serving views from the retained log " +
    "with zero mismatches (service.go:43-53)") {
    val dir = tempDir("svc_changelog").toString
    def checkOn(s: DepositService, wallet: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    def postOn(s: DepositService, body: String): Int =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/deposit"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()

    val a = new DepositService(spark, changelogDir = Some(dir))
    assert(postOn(a, """{"wallet_id":"dave","amount":6000,"ts_unix":1000}""") == 200)
    assert(postOn(a, """{"wallet_id":"dave","amount":5000,"ts_unix":1060}""") == 200)
    assert(postOn(a, """{"wallet_id":"erin","amount":42.5,"ts_unix":2000}""") == 200)
    val before = Seq("dave", "erin").map(w => w -> checkOn(a, w))
    assert(before.toMap.apply("dave").contains("\"above_threshold\":true"))
    a.stop()

    // A fresh process over the same changelog: every pre-restart answer
    // must be served identically before any new write arrives.
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      before.foreach { case (w, expected) => assert(checkOn(b, w) == expected) }
      // And the restored STATE keeps accumulating: a post-restart deposit
      // adds to the replayed balance instead of restarting from zero.
      assert(postOn(b, """{"wallet_id":"erin","amount":1.5,"ts_unix":2050}""") == 200)
      assert(checkOn(b, "erin") ==
        """{"wallet_id":"erin","balance":44.0,"above_threshold":false}""")
    } finally b.stop()
  }

  test("a torn trailing log line (crash mid-append) is skipped at boot, " +
    "truncated, and mid-file corruption still fails loudly") {
    val dir = tempDir("svc_torn").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    def postOn(s: DepositService, body: String): Int =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/deposit"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    def checkOn(s: DepositService, wallet: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    assert(postOn(a, """{"wallet_id":"fred","amount":70,"ts_unix":1000}""") == 200)
    a.stop()
    val log = new java.io.File(dir, "deposits.jsonl")
    // Simulate the crash: a partial record with no newline at the tail.
    val w = new java.io.FileWriter(log, true)
    w.write("""{"wallet_id":"fred","amou"""); w.close()
    // Boot must succeed, serve the ACKed prefix, and truncate the tear.
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      assert(checkOn(b, "fred") ==
        """{"wallet_id":"fred","balance":70.0,"above_threshold":false}""")
      val lines = scala.io.Source.fromFile(log).getLines().toVector
      assert(lines.forall(_.contains("\"seq\"")), s"tear not truncated: $lines")
    } finally b.stop()
    // Mid-file damage is ACKed history: the boot must refuse.
    val src = scala.io.Source.fromFile(log)
    val kept = try src.getLines().toVector finally src.close()
    val w2 = new java.io.FileWriter(log, false)
    w2.write("CORRUPT\n"); kept.foreach { l => w2.write(l); w2.write("\n") }
    w2.close()
    val e = intercept[IllegalStateException] {
      new DepositService(spark, changelogDir = Some(dir))
    }
    assert(e.getMessage.contains("refusing to boot"))
    // The refused boot still gave the session its shuffle width back.
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("a tear inside a multi-byte UTF-8 character still recovers " +
    "(REPLACE codec reaches the line handler, no MalformedInput crash)") {
    val dir = tempDir("svc_torn_utf8").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    def postOn(s: DepositService, body: String): Int =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/deposit"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode()
    def checkOn(s: DepositService, wallet: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    assert(postOn(a, """{"wallet_id":"hana","amount":55,"ts_unix":1000}""") == 200)
    a.stop()
    val log = new java.io.File(dir, "deposits.jsonl")
    // Simulate a crash mid-append cutting a 2-byte UTF-8 char ("é") in
    // half: write the torn record's bytes up to the FIRST byte of é.
    val torn = """{"wallet_id":"ren""".getBytes("UTF-8") :+ 0xC3.toByte
    val out = new java.io.FileOutputStream(log, true)
    out.write(torn); out.close()
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      assert(checkOn(b, "hana") ==
        """{"wallet_id":"hana","balance":55.0,"above_threshold":false}""")
    } finally b.stop()
  }

  test("idempotency key: a retried POST neither double-logs nor " +
    "double-counts, in-process and across restart") {
    val dir = tempDir("svc_idem").toString
    def postOn(s: DepositService, body: String): HttpResponse[String] =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/deposit"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofString())
    def checkOn(s: DepositService, wallet: String): String =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
    val a = new DepositService(spark, changelogDir = Some(dir))
    val dep = """{"wallet_id":"gail","amount":30,"ts_unix":1000,"idem":"k-1"}"""
    assert(postOn(a, dep).statusCode() == 200)
    val retry = postOn(a, dep)
    assert(retry.statusCode() == 200 && retry.body().contains("duplicate"))
    assert(checkOn(a, "gail") ==
      """{"wallet_id":"gail","balance":30.0,"above_threshold":false}""")
    a.stop()
    // The key set survives the restart (rebuilt from the log): the same
    // retry against the fresh process is still refused as a duplicate.
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      assert(postOn(b, dep).body().contains("duplicate"))
      assert(checkOn(b, "gail") ==
        """{"wallet_id":"gail","balance":30.0,"above_threshold":false}""")
    } finally b.stop()
  }

  private val mapper = new ObjectMapper()

  private def postTo(s: DepositService, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${s.boundPort}/deposit"))
      .timeout(java.time.Duration.ofSeconds(60))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def checkAt(s: DepositService, wallet: String): String =
    client.send(HttpRequest.newBuilder(
        URI.create(s"http://localhost:${s.boundPort}/check/$wallet")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  /** Changelog lines that carry idempotency key `key`. */
  private def loggedWithKey(dir: String, key: String): Int = {
    val src = scala.io.Source.fromFile(new java.io.File(dir, "deposits.jsonl"))
    try src.getLines().count(l => mapper.readTree(l).path("idem").asText() == key)
    finally src.close()
  }

  test("responses stay valid JSON for a wallet id holding a quote or backslash") {
    val s = new DepositService(spark)
    try {
      val unknown = mapper.readTree(checkAt(s, "a%22b"))
      assert(unknown.get("wallet_id").asText() == "a\"b")
      assert(unknown.get("balance").asDouble() == 0.0)
      assert(!unknown.get("above_threshold").asBoolean())
      val r = postTo(s, """{"wallet_id":"a\"b\\c","amount":25,"ts_unix":1000}""")
      assert(r.statusCode() == 200)
      val ack = mapper.readTree(r.body())
      assert(ack.get("wallet_id").asText() == "a\"b\\c")
      assert(ack.get("status").asText() == "ok")
      val known = mapper.readTree(checkAt(s, "a%22b%5Cc"))
      assert(known.get("wallet_id").asText() == "a\"b\\c")
      assert(known.get("balance").asDouble() == 25.0)
    } finally s.stop()
  }

  test("group commit: concurrent POSTs of one idempotency key count once") {
    val dir = tempDir("svc_group_idem").toString
    val s = new DepositService(spark, changelogDir = Some(dir))
    try {
      val body = """{"wallet_id":"ivy","amount":40,"ts_unix":1000,"idem":"same"}"""
      val go = new CountDownLatch(1)
      val statuses = new ConcurrentLinkedQueue[String]()
      val threads = (0 until 8).map { _ =>
        new Thread(() => {
          go.await()
          // A 503 is admission backpressure, not an answer: retry it the
          // way a client honouring Retry-After would.
          var r = postTo(s, body)
          while (r.statusCode() == 503) { Thread.sleep(20); r = postTo(s, body) }
          statuses.add(s"${r.statusCode()} ${mapper.readTree(r.body()).path("status").asText()}")
        })
      }
      threads.foreach(_.start()); go.countDown(); threads.foreach(_.join(120000))
      val got = statuses.asScala.toSeq
      assert(got.size == 8)
      assert(got.count(_ == "200 ok") == 1, got)
      assert(got.count(_ == "200 duplicate") == 7, got)
      assert(checkAt(s, "ivy") ==
        """{"wallet_id":"ivy","balance":40.0,"above_threshold":false}""")
      assert(loggedWithKey(dir, "same") == 1)

      // The same key three times inside ONE group: the first member wins.
      val group = Seq.fill(3)(new DepositService.Pending("jo", 7.0, 1000L, Some("in-group")))
      s.enqueue(group)
      assert(group.map(_.result.get(60, TimeUnit.SECONDS)) == Seq("ok", "duplicate", "duplicate"))
      assert(checkAt(s, "jo") ==
        """{"wallet_id":"jo","balance":7.0,"above_threshold":false}""")
      assert(loggedWithKey(dir, "in-group") == 1)
    } finally s.stop()
  }

  test("a group holding out-of-order deposits of one wallet flags as " +
    "DetectorLogic in (ts, seq) order, live and after a restart") {
    val dir = tempDir("svc_group_order").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    // The later seq carries the earlier timestamp. Folded in (ts, seq)
    // order the wallet ends flagged; the verdict of the highest seq alone
    // (2,000 opening the window) would read unflagged.
    val group = Seq(new DepositService.Pending("kai", 9000.0, 1100L, None),
      new DepositService.Pending("kai", 2000.0, 1000L, None))
    val (_, verdicts) = DetectorLogic.run(Seq((2000.0, 1000L), (9000.0, 1100L)))
    val want = s"""{"wallet_id":"kai","balance":11000.0,"above_threshold":${!verdicts.last.flagRemoved}}"""
    assert(want.endsWith("true}"))
    try {
      a.enqueue(group)
      assert(group.map(_.result.get(60, TimeUnit.SECONDS)) == Seq("ok", "ok"))
      assert(checkAt(a, "kai") == want)
    } finally a.stop()
    val b = new DepositService(spark, changelogDir = Some(dir))
    try assert(checkAt(b, "kai") == want) finally b.stop()
  }

  test("the serving query runs one state partition on the caller's " +
    "session, which keeps its own shuffle width") {
    val s = new DepositService(spark)
    try {
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
      assert(spark.streams.active.exists(_.id == s.servingQuery.id))
      assert(postTo(s, """{"wallet_id":"mae","amount":5,"ts_unix":1000}""").statusCode() == 200)
      s.servingQuery.processAllAvailable()
      val op = s.servingQuery.lastProgress.stateOperators.head
      assert(op.numShufflePartitions == 1)
      assert(op.numStateStoreInstances == 1)
    } finally s.stop()
  }

  test("as many closed-loop keyed clients as write permits never draw a 503") {
    // Guards a race that is rare at today's ACK rate: a permit released
    // only after the response was written let a client's next POST find
    // its own previous request still holding one, and answered it 503.
    val s = new DepositService(spark)
    try {
      val clients = 4 // = the service's write permits
      val posts = 40
      val statuses = new ConcurrentLinkedQueue[Int]()
      val threads = (0 until clients).map { c =>
        new Thread(() => (0 until posts).foreach { k =>
          statuses.add(postTo(s,
            s"""{"wallet_id":"permit-$c","amount":1,"ts_unix":${1000 + k},"idem":"p-$c-$k"}""")
            .statusCode())
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(300000))
      val got = statuses.asScala.toSeq
      assert(got.size == clients * posts)
      assert(got.count(_ == 503) == 0, got.groupBy(identity).map { case (k, v) => k -> v.size })
      assert(got.forall(_ == 200))
      (0 until clients).foreach { c =>
        assert(checkAt(s, s"permit-$c") ==
          s"""{"wallet_id":"permit-$c","balance":$posts.0,"above_threshold":false}""")
      }
    } finally s.stop()
  }

  test("a stopped serving query turns POSTs into prompt 500s; the writer " +
    "survives and a retry on a fresh boot counts once") {
    val dir = tempDir("svc_dead_query").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    val dep = """{"wallet_id":"lee","amount":12,"ts_unix":1000,"idem":"k-dead"}"""
    try {
      assert(postTo(a, """{"wallet_id":"lee","amount":30,"ts_unix":900}""").statusCode() == 200)
      a.servingQuery.stop()
      // Two groups in a row: the first failure did not end the writer.
      assert(postTo(a, dep).statusCode() == 500)
      assert(postTo(a, dep).statusCode() == 500)
    } finally a.stop()
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      val retry = postTo(b, dep)
      assert(retry.statusCode() == 200 && retry.body().contains("\"ok\""))
      assert(postTo(b, dep).body().contains("duplicate"))
      assert(checkAt(b, "lee") ==
        """{"wallet_id":"lee","balance":42.0,"above_threshold":false}""")
    } finally b.stop()
  }

  /** Changelog lines written so far. */
  private def logLines(dir: String): Int = {
    val src = scala.io.Source.fromFile(new java.io.File(dir, "deposits.jsonl"))
    try src.getLines().size finally src.close()
  }

  /** Runs `body` while a job holds every core of the local session, so no
    * micro-batch task can run: an ACKed deposit stays unapplied. */
  private def withCoresHeld[T](body: => T): T = {
    import DepositServiceSpec.Cores
    Cores.running.set(0)
    Cores.release = new CountDownLatch(1)
    val cores = spark.sparkContext.defaultParallelism
    val holder = new Thread(() => spark.sparkContext.parallelize(0 until cores, cores)
      .foreach { _ => Cores.running.incrementAndGet(); Cores.release.await() })
    holder.start()
    try {
      val deadline = System.currentTimeMillis() + 60000
      while (Cores.running.get < cores) {
        assert(System.currentTimeMillis() < deadline, s"${Cores.running.get} of $cores cores held")
        Thread.sleep(5)
      }
      body
    } finally { Cores.release.countDown(); holder.join(60000) }
  }

  test("a serving query stopped after an ACK it has not applied: GET and " +
    "POST answer 500 promptly, and a fresh boot serves the deposit once") {
    val dir = tempDir("svc_unapplied").toString
    val a = new DepositService(spark, changelogDir = Some(dir))
    val dep = """{"wallet_id":"nia","amount":17,"ts_unix":1000,"idem":"k-unapplied"}"""
    // stop() returns once the query's thread has ended. Should that thread
    // miss the interrupt, it ends only after a micro-batch on the held
    // cores, so the stop runs off this thread, which goes on once the
    // query is inactive and joins the stop after releasing the cores.
    val stopper = new Thread(() => a.servingQuery.stop())
    try withCoresHeld {
      val ack = postTo(a, dep)
      assert(ack.statusCode() == 200 && ack.body().contains("\"ok\""), ack.body())
      stopper.start()
      val deadline = System.currentTimeMillis() + 60000
      while (a.servingQuery.isActive) {
        assert(System.currentTimeMillis() < deadline, "the serving query is still active")
        Thread.sleep(5)
      }
      // The barrier needs a batch that will never run: 500, not a stale row.
      val t0 = System.nanoTime()
      val get = client.send(HttpRequest.newBuilder(
          URI.create(s"http://localhost:${a.boundPort}/check/nia"))
        .timeout(java.time.Duration.ofSeconds(10)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 500, get.body())
      assert((System.nanoTime() - t0) / 1e6 < 1000)
      // A wallet with nothing in flight needs no batch and answers at once.
      assert(checkAt(a, "nobody") ==
        """{"wallet_id":"nobody","balance":0.0,"above_threshold":false}""")
      val logged = logLines(dir)
      assert(postTo(a, """{"wallet_id":"nia","amount":5,"ts_unix":1100}""").statusCode() == 500)
      assert(logLines(dir) == logged)
    } finally { a.stop(); stopper.join(60000) }
    assert(!stopper.isAlive, "the serving query's stop() did not return")
    val b = new DepositService(spark, changelogDir = Some(dir))
    try {
      assert(checkAt(b, "nia") ==
        """{"wallet_id":"nia","balance":17.0,"above_threshold":false}""")
      assert(postTo(b, dep).body().contains("duplicate"))
      assert(checkAt(b, "nia") ==
        """{"wallet_id":"nia","balance":17.0,"above_threshold":false}""")
    } finally b.stop()
  }

  test("a GET on a wallet written continuously returns within two " +
    "micro-batches and reads every deposit ACKed before it was sent") {
    val s = new DepositService(spark)
    val ackedN = new AtomicLong
    @volatile var writing = true
    val statuses = new ConcurrentLinkedQueue[Int]()
    val writer = new Thread(() => {
      var k = 0
      while (writing) {
        val st = postTo(s, s"""{"wallet_id":"hot","amount":1,"ts_unix":${1000 + k}}""").statusCode()
        statuses.add(st)
        if (st == 200) ackedN.incrementAndGet()
        k += 1
      }
    })
    try {
      writer.start()
      while (ackedN.get < 50 && writer.isAlive) Thread.sleep(5)
      // (latency ms, deposits ACKed before the GET was sent, balance read)
      val reads = (0 until 40).map { _ =>
        val before = ackedN.get
        val t0 = System.nanoTime()
        val body = client.send(HttpRequest.newBuilder(
            URI.create(s"http://localhost:${s.boundPort}/check/hot"))
          .timeout(java.time.Duration.ofSeconds(20)).GET().build(),
          HttpResponse.BodyHandlers.ofString()).body()
        ((System.nanoTime() - t0) / 1e6, before, mapper.readTree(body).get("balance").asDouble())
      }
      writing = false
      writer.join(60000)
      assert(statuses.asScala.forall(_ == 200))
      reads.foreach { case (_, before, balance) => assert(balance >= before, reads) }
      val batchMs = s.servingQuery.recentProgress.toSeq
        .filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution").longValue)
      assert(batchMs.size >= 2, batchMs)
      // Two micro-batches: the one running when the GET arrived, then the
      // one that folds the deposits ACKed before it; plus the round trip.
      val bound = 2 * batchMs.max + 250.0
      reads.foreach { case (ms, _, _) => assert(ms <= bound, (ms, bound, batchMs)) }
      info(f"GET ms: max ${reads.map(_._1).max}%.1f, bound $bound%.0f " +
        s"over ${batchMs.size} micro-batches")
    } finally { writing = false; writer.join(60000); s.stop() }
  }

  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally if (test.name.contains("malformed")) svc.stop()
}

object DepositServiceSpec {
  /** The core-holding job's gate; tasks run in this JVM (local mode). */
  object Cores {
    val running = new AtomicInteger
    @volatile var release = new CountDownLatch(0)
  }
}

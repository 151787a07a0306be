package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.service.DepositService
import graft.streaming.DetectorLogic

/** `serve_mixed`: the deposit service driven over HTTP.
  *
  * Set-up writes a seeded changelog and boots [[DepositService]] on it
  * [[Boots]] times (each boot replays the whole log). The load phase runs
  * [[Writers]] closed-loop writer connections, each owning a disjoint set
  * of wallets, and one open-loop reader connection timed from each
  * request's due time. Its first [[WarmupSeconds]] are untimed, so the
  * measured part starts once the JIT has compiled the deposit path.
  * Afterwards every touched wallet is read back and compared with a replay
  * of the reference state machine. */
object Serve {
  val PreloadDeposits = 20000
  val Wallets = 2000
  val ZipfS = 1.1
  val Writers = 3
  val GetsPerSecond = 200.0
  val Boots = 3
  val WarmupPosts = 3
  val WarmupSeconds = 5.0
  // The measured part runs past --seconds until these are reached. A GET
  // p99 needs 1,000 samples to have ten beyond it; a traced run needs 20
  // ACKs, so that a per-write p50 has ten beyond it.
  val MinAcked = 15
  val MinTracedAcked = 20
  val MinGets = 1000
  val MaxSeconds = 100.0

  private final case class Sent(wallet: String, amount: Double, ts: Long, idem: String) {
    def body: String =
      s"""{"wallet_id":"$wallet","amount":$amount,"ts_unix":$ts,"idem":"$idem"}"""
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
          work: File, probe: SparkProbe, streams: StreamProbe): Map[String, Any] = {
    val zipf = new Zipf(Wallets, ZipfS)

    // ---- seeded changelog in the service's own durable-log format ----
    val logDir = new File(work, "changelog"); logDir.mkdirs()
    val prng = Gen.rng(seed, 1)
    val preload = (0 until PreloadDeposits).map { k =>
      (Gen.wallet(zipf.sample(prng)), Gen.amount(prng), Gen.T0 + k / 20, k + 1L)
    }
    val log = new StringBuilder
    preload.foreach { case (w, a, ts, sq) =>
      log ++= s"""{"wallet_id":"$w","amount":$a,"ts_unix":$ts,"seq":$sq}""" += '\n'
    }
    java.nio.file.Files.write(new File(logDir, "deposits.jsonl").toPath,
      log.toString.getBytes(UTF_8))
    val preloadWallets = preload.map(_._1).distinct.sorted.toIndexedSeq

    // ---- set-up: boot (= replay the changelog) several times ----
    val bootS = ArrayBuffer.empty[Double]
    var svc: DepositService = null
    for (b <- 1 to Boots) {
      val t = System.nanoTime()
      svc = new DepositService(spark, 0, Some(logDir.getPath))
      bootS += (System.nanoTime() - t) / 1e9
      if (b < Boots) svc.stop()
    }
    val port = svc.boundPort

    // ---- warm-up (untimed; its deposits are part of the oracle) ----
    val warm = (0 until WarmupPosts).map(k =>
      Sent(f"x$k%06d", 100.0 + k, Gen.T0 + 1000, s"warm-$seed-$k"))
    val conn0 = new HttpConn(port)
    try {
      warm.foreach(s => require(conn0.post("/deposit", s.body)._1 == 200, "warm-up POST"))
      (0 until 200).foreach(k => conn0.get(s"/check/${preloadWallets(k % preloadWallets.size)}"))
    } finally conn0.close()

    // ---- load phase: untimed warm-up, then the measured part ----
    val written = new ArrayBuffer[String]() // wallets ACKed during the run
    val writtenSet = new java.util.HashSet[String]()
    @volatile var stop = false
    // A connection that breaks ends the phase and fails the run.
    val broken = new java.util.concurrent.atomic.AtomicInteger
    val ackCount, getCount = new java.util.concurrent.atomic.AtomicInteger
    val t0 = Clock.nowMs
    // Start of the measured part; no request is traced before it.
    @volatile var tm = Double.MaxValue
    def traced(now: Double): Boolean = trace && now >= tm && Tracing.on(now - tm)

    final class WriterResult {
      val posts = ArrayBuffer.empty[(Double, Double, Int, String, Boolean, Boolean)]
      val acked = ArrayBuffer.empty[Sent]
      val spans = ArrayBuffer.empty[Span]
      var acks, dups, rejects, busy, failed = 0
    }
    val writerOut = Array.fill(Writers)(new WriterResult)
    val writers = (0 until Writers).map { wi => new Thread(() => {
      val rng = Gen.rng(seed, 10 + wi)
      val out = writerOut(wi)
      val conn = new HttpConn(port)
      var n = 0
      try while (!stop) {
        var rank = zipf.sample(rng)
        while (rank % Writers != wi) rank = zipf.sample(rng)
        val u = rng.nextDouble()
        val ts = Gen.T0 + 2000 + n
        val (sent, kind) =
          if (u < 0.03 && out.acked.nonEmpty) (out.acked(rng.nextInt(out.acked.size)), "dup")
          else if (u < 0.06) (Sent(Gen.wallet(rank), if (rng.nextBoolean()) 0.0 else -Gen.amount(rng),
            ts, s"s$seed-$wi-$n"), "bad")
          else (Sent(Gen.wallet(rank), Gen.amount(rng), ts, s"s$seed-$wi-$n"), "ok")
        val start = Clock.nowMs
        val (status, body) = conn.post("/deposit", sent.body)
        val end = Clock.nowMs
        val ok = kind match {
          case "ok" => status == 200 && body.contains("\"status\":\"ok\"")
          case "dup" => status == 200 && body.contains("\"status\":\"duplicate\"")
          case _ => status == 422
        }
        if (status == 503) out.busy += 1
        if (!ok) out.failed += 1
        else kind match {
          case "ok" =>
            out.acks += 1; out.acked += sent; ackCount.incrementAndGet()
            written.synchronized { if (writtenSet.add(sent.wallet)) written += sent.wallet }
          case "dup" => out.dups += 1
          case _ => out.rejects += 1
        }
        val tr = traced(start)
        out.posts += ((start, end, status, kind, ok, tr))
        if (tr) out.spans += Span(s"post-$wi-$n", "http", "POST /deposit", start, end)
        n += 1
      } catch {
        case e: java.io.IOException => broken.incrementAndGet(); System.err.println(s"[perfbench] writer: $e")
      } finally conn.close()
    }, s"perfbench-writer-$wi") }

    val gets = ArrayBuffer.empty[(Double, Double, Double, Boolean, Boolean)]
    val getSpans = ArrayBuffer.empty[Span]
    var getFailed = 0
    val reader = new Thread(() => {
      val rng = Gen.rng(seed, 20)
      val conn = new HttpConn(port)
      val periodMs = 1000.0 / GetsPerSecond
      var k = 0
      try while (!stop) {
        val due = t0 + k * periodMs
        val waitNs = ((due - Clock.nowMs) * 1e6).toLong
        if (waitNs > 0) LockSupport.parkNanos(waitNs)
        val u = rng.nextDouble()
        val fromRun = written.synchronized { if (written.isEmpty) None else Some(written(rng.nextInt(written.size))) }
        val (wallet, unknown) =
          if (u < 0.80 && fromRun.isDefined) (fromRun.get, false)
          else if (u < 0.95) (preloadWallets(rng.nextInt(preloadWallets.size)), false)
          else (Gen.unknownWallet(rng.nextInt(1000000)), true)
        val start = Clock.nowMs
        val (status, body) = conn.get(s"/check/$wallet")
        val end = Clock.nowMs
        val ok = status == 200 && body.contains("\"balance\":") &&
          (!unknown || (body.contains("\"balance\":0.0,") && body.contains("\"above_threshold\":false")))
        if (!ok) getFailed += 1
        val tr = traced(start)
        gets += ((due, start, end, ok, tr)); getCount.incrementAndGet()
        if (tr) getSpans += Span(s"get-$k", "http", "GET /check", start, end)
        k += 1
      } catch {
        case e: java.io.IOException => broken.incrementAndGet(); System.err.println(s"[perfbench] reader: $e")
      } finally conn.close()
    }, "perfbench-reader")

    (writers :+ reader).foreach(_.start())
    while (broken.get == 0 && Clock.nowMs - t0 < WarmupSeconds * 1e3) Thread.sleep(10)
    probe.drain()
    val before = probe.totals("streaming")
    val (acks0, gets0) = (ackCount.get, getCount.get)
    tm = Clock.nowMs
    probe.traceWhen(now => traced(now))
    while ({
      val el = (Clock.nowMs - tm) / 1e3
      broken.get == 0 && el < MaxSeconds &&
        (el < seconds || ackCount.get - acks0 < (if (trace) MinTracedAcked else MinAcked) ||
          getCount.get - gets0 < MinGets)
    }) Thread.sleep(10)
    stop = true
    (writers :+ reader).foreach(_.join())
    val t1 = Clock.nowMs
    probe.traceWhen(_ => false)
    streams.drain()
    probe.drain()
    val after = probe.totals("streaming")

    // ---- oracle: every touched wallet against a replay ----
    val perWallet = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[(Double, Long)]]
    preload.foreach { case (w, a, ts, _) => perWallet.getOrElseUpdate(w, ArrayBuffer.empty) += ((a, ts)) }
    (warm ++ writerOut.flatMap(_.acked)).foreach(s =>
      perWallet.getOrElseUpdate(s.wallet, ArrayBuffer.empty) += ((s.amount, s.ts)))
    val mismatches = ArrayBuffer.empty[String]
    val conn = new HttpConn(port)
    try {
      perWallet.foreach { case (w, ds) =>
        val wantBalance = ds.map(_._1).sum
        val wantFlag = DetectorLogic.run(ds.toSeq)._2.lastOption.exists(!_.flagRemoved)
        val (status, body) = conn.get(s"/check/$w")
        val gotBalance = """"balance":([-0-9.eE]+)""".r.findFirstMatchIn(body)
          .map(_.group(1).toDouble).getOrElse(Double.NaN)
        val gotFlag = body.contains("\"above_threshold\":true")
        if (status != 200 || math.abs(gotBalance - wantBalance) > 1e-6 * math.max(1.0, wantBalance) ||
            gotFlag != wantFlag)
          mismatches += s"$w: got $status $body, want balance=$wantBalance flagged=$wantFlag"
      }
      val (st, body) = conn.get("/check/never-deposited")
      if (st != 200 || !body.contains("\"balance\":0.0,") || !body.contains("\"above_threshold\":false"))
        mismatches += s"unknown wallet: got $st $body"
    } finally conn.close()
    val batches = streams.batches(t0, t1, probe)
    svc.stop()
    mismatches.take(5).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))

    val flagged = perWallet.count { case (_, ds) =>
      DetectorLogic.run(ds.toSeq)._2.exists(!_.flagRemoved) }
    Map(
      "setup_parts" -> Map("boot_s" -> bootS.toSeq),
      "measure_start_ms" -> tm,
      "window_s" -> (t1 - tm) / 1e3,
      "posts" -> writerOut.toSeq.flatMap(_.posts).map { case (s, e, st, k, ok, tr) =>
        Map("start_ms" -> s, "end_ms" -> e, "status" -> st, "kind" -> k, "ok" -> ok, "traced" -> tr) },
      "gets" -> gets.toSeq.map { case (d, s, e, ok, tr) =>
        Map("due_ms" -> d, "start_ms" -> s, "end_ms" -> e, "ok" -> ok, "traced" -> tr) },
      "counts" -> Map(
        "posts_acked" -> writerOut.map(_.acks).sum, "posts_dup" -> writerOut.map(_.dups).sum,
        "posts_422" -> writerOut.map(_.rejects).sum, "posts_503" -> writerOut.map(_.busy).sum,
        "post_failed" -> (writerOut.map(_.failed).sum + broken.get), "get_failed" -> getFailed,
        "wallets_checked" -> perWallet.size, "wallets_ever_flagged" -> flagged,
        "mismatches" -> mismatches.size),
      "batches" -> batches,
      "streaming" -> after.map { case (k, v) => k -> (v - before(k)) },
      "spans" -> (writerOut.toSeq.flatMap(_.spans) ++ getSpans),
      "correct" -> (mismatches.isEmpty && flagged > 0 && broken.get == 0))
  }
}

package graft.service

import org.apache.spark.sql.functions._
import graft.streaming.DetectorLogic

/** CI-executable serve smoke for the two cells the DuckDB oracle cannot
  * express — O8 (point lookup / view.Get) and O13 (processor
  * orchestration): stands up the full [[DepositService]] (MemoryStream →
  * fused collector+detector micro-batch query → serving view → HTTP serve),
  * POSTs a deterministic deposit sequence derived from the events fixture
  * through the real HTTP edge (the 422 reject path included), then checks
  * every `GET /check/{wallet}` response against a driver-side replay of
  * the exact reference state machine ([[DetectorLogic.run]]) and the
  * balance sum — stream-vs-replay equivalence through the served surface.
  *
  * Prints one JSON line; exits 1 on any mismatch. Usage:
  * `runMain graft.service.ServeSmoke [sfDir] [nDeposits]`
  */
object ServeSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val n = args.drop(1).headOption.map(_.toInt).getOrElse(200)
    val spark = graft.GraftSession.local("graft-serve-smoke")
    spark.sparkContext.setLogLevel("WARN")

    // Deterministic deposit sequence: first n events by event_id. value
    // spans positive and non-positive, so the 422 path is exercised too.
    val rows = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id").cast("string").as("wallet"),
        col("value"), unix_timestamp(col("ts")).as("tsec"))
      .orderBy(col("event_id")).limit(n).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(3)))

    val svc = new DepositService(spark)
    val port = svc.boundPort
    val client = java.net.http.HttpClient.newHttpClient()
    def send(req: java.net.http.HttpRequest): (Int, String) = {
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    def post(wallet: String, amount: Double, ts: Long): Int =
      send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/deposit"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          s"""{"wallet_id":"$wallet","amount":$amount,"ts_unix":$ts}"""))
        .build())._1
    def check(wallet: String): String =
      send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"http://127.0.0.1:$port/check/$wallet"))
        .GET().build())._2

    // O8 evidence: per-lookup latency at two view sizes. The serve path
    // is a keyed map read (DepositService.handleCheck) — cost must be
    // independent of how much state the stream has accumulated, so the
    // same 400-GET probe is timed after the first quarter of deposits
    // and again after all of them. (The pre-round-13 scan-per-request
    // path grew with the sink table; this pins the fix as data.)
    def lookupMicros(wallets: Seq[String], iters: Int): Double = {
      if (wallets.isEmpty) return 0.0 // fixture had no accepted deposits
      wallets.take(5).foreach(check) // JIT/connection warmup
      val t0 = System.nanoTime()
      var i = 0
      while (i < iters) { check(wallets(i % wallets.size)); i += 1 }
      (System.nanoTime() - t0) / 1000.0 / iters
    }
    val probeWallets = rows.filter(_._2 > 0).map(_._1).distinct.take(8).toSeq

    var accepted = 0; var rejected = 0; var badStatus = 0
    val quarter = math.max(1, rows.length / 4)
    var lookupUsQuarter = 0.0
    rows.zipWithIndex.foreach { case ((w, a, t), i) =>
      val st = post(w, a, t)
      val expect = if (a > 0) 200 else 422
      if (st == expect) { if (st == 200) accepted += 1 else rejected += 1 }
      else badStatus += 1
      if (i + 1 == quarter) lookupUsQuarter = lookupMicros(probeWallets, 400)
    }
    val lookupUsFull = lookupMicros(probeWallets, 400)
    // The reject path must be exercised regardless of fixture content:
    // zero and negative amounts take the reference's 422 branch
    // (service.go:87-91) and must NOT reach the stream (the balance
    // oracle below would catch a leak).
    Seq(0.0, -42.5).foreach { bad =>
      val st = post(rows.head._1, bad, rows.head._3)
      if (st == 422) rejected += 1 else badStatus += 1
    }

    // Driver-side oracle over the ACCEPTED sequence, per wallet in post
    // order: balance = running sum; flag = last verdict of the exact
    // reference machine (DetectorLogic.run with now = the event ts).
    val perWallet = rows.filter(_._2 > 0).groupBy(_._1)
    val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
    perWallet.foreach { case (w, ds) =>
      val wantBalance = ds.map(_._2).sum
      val (_, events) = DetectorLogic.run(ds.map(d => (d._2, d._3)).toSeq)
      val wantFlag = events.lastOption.exists(!_.flagRemoved)
      val body = check(w)
      val gotBalance = """"balance":([-0-9.eE]+)""".r
        .findFirstMatchIn(body).map(_.group(1).toDouble).getOrElse(Double.NaN)
      val gotFlag = body.contains(""""above_threshold":true""")
      if (math.abs(gotBalance - wantBalance) > 1e-6 || gotFlag != wantFlag)
        mismatches += s"$w: got $body want balance=$wantBalance flag=$wantFlag"
    }
    // Unknown wallet: 200 with zero balance, unflagged (SURVEY §2.3.6).
    val unknown = check("wallet-that-never-deposited")
    if (!(unknown.contains(""""balance":0""") &&
        unknown.contains(""""above_threshold":false""")))
      mismatches += s"unknown wallet: got $unknown"

    mismatches.foreach(m => System.err.println(s"[serve-smoke] MISMATCH $m"))
    println(s"""{"smoke":"serve","sf":"$sfDir","posted":${rows.length},""" +
      s""""accepted":$accepted,"rejected_422":$rejected,"bad_status":$badStatus,""" +
      s""""wallets_checked":${perWallet.size + 1},"mismatches":${mismatches.size},""" +
      f""""lookup_us_quarter":$lookupUsQuarter%.1f,"lookup_us_full":$lookupUsFull%.1f,""" +
      s""""ok":${mismatches.isEmpty && badStatus == 0}}""")
    svc.stop()
    spark.stop()
    if (mismatches.nonEmpty || badStatus > 0) sys.exit(1)
  }
}

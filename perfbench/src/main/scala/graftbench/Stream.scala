package graftbench

import java.io.File
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.streaming.{DepositStreams, DetectorLogic}
import graft.streaming.DepositStreams.{BalanceRow, FlagRow}

/** `stream_ingest`: the three keyed processors as a deployment runs them.
  *
  * Collector and detector consume one deposit `MemoryStream`; the
  * detector's output feeds the flagger through a second `MemoryStream`,
  * standing in for the `flag_wallet` topic. The generator adds one seeded
  * batch of [[EventsPerBatch]] deposits at a time and waits until all three
  * queries have committed it; that wait is the batch's latency. */
object Stream {
  val Wallets = 20000
  val ZipfS = 1.1
  val EventsPerBatch = 2000
  val VirtualSecondsPerBatch = 10
  val OutOfOrderShare = 0.02
  val Setups = 3
  // Untimed batches after set-up, while the JIT compiles the processors.
  val WarmupBatches = 5
  // Each query's median CPU per micro-batch rests on at least this many. A
  // traced run needs 20 writes, so that a per-write p50 has ten beyond it.
  val MinBatches = 12
  val MinTracedBatches = 20
  val MaxSeconds = 100.0

  /** Seeded deposits of generator batch `b`. Batch 0 is the set-up batch
    * and the next [[WarmupBatches]] are untimed. Event times advance with
    * the batch; a small share is pulled earlier inside the batch's own time
    * range, so batches arrive out of time order but never overlap. */
  def batch(seed: Long, b: Int, zipf: Zipf): IndexedSeq[TimedDeposit] = {
    val rng = Gen.rng(seed, 1000 + b)
    val base = Gen.T0 + b.toLong * VirtualSecondsPerBatch
    (0 until EventsPerBatch).map { i =>
      val inOrder = base + i.toLong * VirtualSecondsPerBatch / EventsPerBatch
      val ts = if (rng.nextDouble() < OutOfOrderShare) base + rng.nextInt((inOrder - base + 1).toInt)
               else inOrder
      TimedDeposit(Gen.wallet(zipf.sample(rng)), Gen.amount(rng), ts,
        b.toLong * EventsPerBatch + i + 1)
    }
  }

  private final class Topology(spark: SparkSession, ckpt: File) {
    import spark.implicits._
    private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val balances = new ConcurrentHashMap[String, BalanceRow]()
    val flags = new ConcurrentHashMap[String, FlagRow]()
    val flagEvents = new AtomicLong
    /** Every detector output event, by wallet. */
    val detected = new ConcurrentHashMap[String, ArrayBuffer[KeyedFlagEvent]]()
    val input = MemoryStream[TimedDeposit]
    private val flagInput = MemoryStream[KeyedFlagEvent]

    val collector: StreamingQuery = DepositStreams.collector(spark, input.toDS())
      .writeStream.queryName("collector").outputMode("update")
      .option("checkpointLocation", new File(ckpt, "collector").getPath)
      .foreachBatch { (b: Dataset[BalanceRow], _: Long) =>
        b.collect().foreach(r => balances.merge(r.walletId, r,
          (old, nw) => if (nw.nDeposits >= old.nDeposits) nw else old))
      }.start()
    val detector: StreamingQuery = DepositStreams.detector(spark, input.toDS())
      .writeStream.queryName("detector").outputMode("append")
      .option("checkpointLocation", new File(ckpt, "detector").getPath)
      .foreachBatch { (b: Dataset[KeyedFlagEvent], _: Long) =>
        val events = b.collect()
        flagEvents.addAndGet(events.count(!_.flagRemoved).toLong)
        events.foreach(e => detected.computeIfAbsent(e.walletId, _ => ArrayBuffer.empty) += e)
        if (events.nonEmpty) { flagInput.addData(events.toSeq); () }
      }.start()
    val flagger: StreamingQuery = DepositStreams.flagger(spark, flagInput.toDS())
      .writeStream.queryName("flagger").outputMode("update")
      .option("checkpointLocation", new File(ckpt, "flagger").getPath)
      .foreachBatch { (b: Dataset[FlagRow], _: Long) =>
        b.collect().foreach(r => flags.put(r.walletId, r))
      }.start()

    /** Adds one batch and blocks until every query has committed it. */
    def ingest(events: Seq[TimedDeposit]): Unit = {
      input.addData(events)
      collector.processAllAvailable()
      detector.processAllAvailable()
      flagger.processAllAvailable()
    }

    def stop(): Unit = Seq(collector, detector, flagger).foreach(_.stop())
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
          work: File, probe: SparkProbe, streams: StreamProbe): Map[String, Any] = {
    val zipf = new Zipf(Wallets, ZipfS)

    // ---- set-up: stand the topology up and push batch 0 through it ----
    val setupS = ArrayBuffer.empty[Double]
    var topo: Topology = null
    for (k <- 1 to Setups) {
      val t = System.nanoTime()
      topo = new Topology(spark, new File(work, s"ckpt-$k"))
      topo.ingest(batch(seed, 0, zipf))
      setupS += (System.nanoTime() - t) / 1e9
      if (k < Setups) topo.stop()
    }

    (1 to WarmupBatches).foreach(b => topo.ingest(batch(seed, b, zipf)))

    // ---- measured phase ----
    probe.drain()
    val before = probe.totals("streaming")
    val flagsBefore = topo.flagEvents.get
    val t0 = Clock.nowMs
    def traced(now: Double): Boolean = trace && Tracing.on(now - t0)
    probe.traceWhen(now => traced(now))
    val lat = ArrayBuffer.empty[(Double, Double, Int, Boolean)]
    val spans = ArrayBuffer.empty[Span]
    var b = WarmupBatches + 1
    while ({
      val el = (Clock.nowMs - t0) / 1e3
      el < MaxSeconds && (el < seconds || lat.size < (if (trace) MinTracedBatches else MinBatches))
    }) {
      val events = batch(seed, b, zipf)
      val start = Clock.nowMs
      topo.ingest(events)
      val end = Clock.nowMs
      val tr = traced(start)
      lat += ((start, end, events.size, tr))
      if (tr) spans += Span(s"ingest-$b", "ingest", "addData→commit", start, end)
      b += 1
    }
    val t1 = Clock.nowMs
    probe.traceWhen(_ => false)
    streams.drain()
    probe.drain()
    val after = probe.totals("streaming")
    val flagEvents = topo.flagEvents.get - flagsBefore

    // ---- oracle: each processor against its contract ----
    // The detector folds each wallet's deposits in (batch, time, seq) order
    // and emits one verdict per deposit, carrying the deposit's seq. The
    // flagger keeps the verdict with the highest seq. Inside a batch that
    // holds out-of-order deposits, the highest seq need not be the last one
    // folded, so the flag can differ from the detector's final verdict:
    // counted as `flag_disagreements`, not as a failure.
    val perWallet = new java.util.HashMap[String, ArrayBuffer[TimedDeposit]]()
    (0 until b).foreach { k =>
      batch(seed, k, zipf).sortBy(d => (d.tsUnix, d.seq)).foreach { d =>
        perWallet.computeIfAbsent(d.walletId, _ => ArrayBuffer.empty) += d
      }
    }
    val mismatches = ArrayBuffer.empty[String]
    var flaggedWallets, unflaggedAfterFlag, disagreements = 0
    perWallet.asScala.foreach { case (w, ds) =>
      val wantBalance = ds.map(_.amount).sum
      val verdicts = DetectorLogic.run(ds.toSeq.map(d => (d.amount, d.tsUnix)))._2
      val want = ds.map(_.seq).zip(verdicts).map { case (sq, e) =>
        sq -> (e.flagRemoved, e.rollingPeriodStartUnix) }.toMap
      val got = Option(topo.detected.get(w)).map(_.map(e =>
        e.seq -> (e.flagRemoved, e.rollingPeriodStartUnix)).toMap).getOrElse(Map.empty)
      val wantFlag = !want(ds.map(_.seq).max)._1
      if (wantFlag != !verdicts.last.flagRemoved) disagreements += 1
      if (!verdicts.last.flagRemoved) flaggedWallets += 1
      else if (verdicts.exists(!_.flagRemoved)) unflaggedAfterFlag += 1
      val bal = Option(topo.balances.get(w))
      val flag = Option(topo.flags.get(w))
      if (!bal.exists(r => r.nDeposits == ds.size &&
            math.abs(r.balance - wantBalance) <= 1e-6 * math.max(1.0, wantBalance)))
        mismatches += s"$w: balance $bal, want n=${ds.size} balance=$wantBalance"
      if (got != want) mismatches += s"$w: detector emitted ${got.size} verdicts unlike the replay"
      if (!flag.exists(_.flagged == wantFlag)) mismatches += s"$w: flag $flag, want flagged=$wantFlag"
    }
    if (topo.balances.size != perWallet.size) mismatches += "balance table has extra wallets"
    val batches = streams.batches(t0, t1, probe)
    topo.stop()
    mismatches.take(5).foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))

    Map(
      "setup_parts" -> Map("topology_s" -> setupS.toSeq),
      "window_s" -> (t1 - t0) / 1e3,
      "ingests" -> lat.toSeq.map { case (s, e, n, tr) =>
        Map("start_ms" -> s, "end_ms" -> e, "events" -> n, "traced" -> tr) },
      "batches" -> batches,
      "streaming" -> after.map { case (k, v) => k -> (v - before(k)) },
      "counts" -> Map("flag_events" -> flagEvents, "wallets" -> perWallet.size,
        "flag_disagreements" -> disagreements,
        "wallets_flagged" -> flaggedWallets, "wallets_unflagged_after_flag" -> unflaggedAfterFlag,
        "mismatches" -> mismatches.size),
      "spans" -> spans.toSeq,
      "correct" -> (mismatches.isEmpty && flaggedWallets > 0 && unflaggedAfterFlag > 0))
  }
}

package graft.service

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, ExecutionException,
  LinkedBlockingQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model.TimedDeposit
import graft.streaming.DepositStreams
import graft.streaming.DepositStreams.WalletRow

/** The reference's two HTTP endpoints (/root/reference/service/service.go)
  * over the streaming engine:
  *
  *  - `POST /deposit` `{"wallet_id": w, "amount": a}` — reject
  *    `amount <= 0` with 422 (service.go:87-91), otherwise ACK once the
  *    deposit is fsynced to the changelog and added to the deposit
  *    stream: the analog of the blocking `EmitSync` (service.go:99),
  *    which returns once the broker holds the message durably, while the
  *    processors fold it later. Test hook: an optional `ts_unix` field
  *    pins processing time (the reference stamps wall clock,
  *    detector.go:57).
  *  - `GET /check/{wallet_id}` — balance and flag, with unknown-wallet →
  *    `{balance: 0, above_threshold: false}` and HTTP 200 (SURVEY §2.3.6).
  *    A GET keeps read-your-writes through a per-wallet READ BARRIER: it
  *    answers once the view has folded the wallet's last deposit ACKed
  *    before the GET arrived, so a wallet with nothing in flight answers
  *    at once and one with deposits in flight waits at most for the
  *    micro-batch running now and the next one.
  *
  * Topology: ONE keyed stateful query, [[DepositStreams.wallet]], that
  * evaluates the collector and the detector together and feeds one KEYED
  * SERVING VIEW through `foreachBatch` — the analog of the reference's
  * local LevelDB view (`view.Get`, service.go:128-133). Every committed
  * micro-batch upserts only its own keys (last-writer-wins by nDeposits),
  * and `GET /check` is one O(1) map read with NO Spark job. Per-request
  * cost is therefore independent of table size; per-batch maintenance
  * cost is proportional to the keys the batch touched, never to the
  * accumulated state. The state-store commit, too, writes only the
  * touched wallets' rows, to one RocksDB changelog file; whole-state
  * snapshots are taken by the maintenance thread, off the ACK path
  * ([[graft.GraftSession.stateStore]]). On a cluster the same
  * `foreachBatch` writes to an external KV store (RocksDB service,
  * Redis, Cassandra) — the lifecycle (upsert-on-commit, last-writer-wins
  * keyed rows) is identical; only the map implementation changes.
  *
  * The query's stateful shuffle has ONE partition, whatever
  * `spark.sql.shuffle.partitions` says. One writer thread already adds
  * one group at a time (the reference topic's per-partition order), a
  * micro-batch holds about a thousand deposits under load, and the state
  * is a fraction of a MB; every further partition only adds a state-store
  * load and commit to each micro-batch, so the commit cost grew with the
  * core count, not the rows. The trade is the boot replay, which now folds
  * the whole log in one task; set-up was still faster than at the
  * session's width with a 20,000-deposit log (PERF.md, "Serving edge — one
  * state partition").
  *
  * Writes are GROUP-COMMITTED: HTTP threads parse and validate a deposit,
  * queue it, and block on its result; one writer thread takes everything
  * that queued while the previous group was being written and makes it
  * durable as one group — one fsync, one `addData` — then ACKs it. A
  * group is never held open to wait for more deposits. The serving query
  * runs its default trigger on its own thread, and each micro-batch
  * folds everything added since the last one, so the fixed cost of a
  * micro-batch is shared by every deposit ACKed while the previous one
  * ran (the D-Streams batch argument) and is off the client's latency.
  * A JDK HttpServer stands in for the reference's chi router.
  */
final class DepositService(spark: SparkSession, port: Int = 0,
                           changelogDir: Option[String] = None) {
  import spark.implicits._
  import DepositService.Pending
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private val mapper = new ObjectMapper()

  // The retained input log (the deposits TOPIC analog): every ACKed
  // deposit appends one JSON line before the engine absorbs it. At boot
  // the log replays through the fresh topology BEFORE the HTTP port
  // opens, so a restarted service re-materializes its serving view the
  // way the reference's do from the changelog topics
  // (/root/reference/service/service.go:43-53) — and, stronger, restores
  // the group-table STATE too (running balances, detector windows), so
  // post-restart writes keep accumulating instead of LWW-losing to
  // resurrected view rows. Scale posture: a production restart bootstraps
  // views from the COMPACTED changelog (cost O(live keys)) and operator
  // state from checkpoints; the in-process deterministic replay subsumes
  // both at O(retained log), which is the right trade for a single-JVM
  // serving cell.
  private val logFile = changelogDir.map { dir =>
    val d = new java.io.File(dir); d.mkdirs()
    new java.io.File(d, "deposits.jsonl")
  }

  // The serving view (view.Get analog). ConcurrentHashMap.merge makes the
  // LWW upsert atomic per key — the HTTP executor reads concurrently with
  // the streaming thread's batch commit.
  private val view = new ConcurrentHashMap[String, WalletRow]()

  // Seq of each wallet's last ACKed deposit, put by the writer thread
  // after the deposit is durable and added to the input, before its ACK.
  // GET /check waits until the view row has folded it.
  private val acked = new ConcurrentHashMap[String, Long]()

  // Notified after every micro-batch's upserts; GETs behind the read
  // barrier wait on it.
  private val upserted = new Object

  // One input partition per micro-batch: without a partition count, every
  // `addData` since the last batch would become its own input partition,
  // and a batch over hundreds of groups would plan hundreds of tasks.
  private val input = MemoryStream[TimedDeposit](1)

  // One state partition (see the class doc). The width is set on the
  // caller's session only around `start()`: StreamExecution clones the
  // session in its constructor and the first batch records the width in
  // the offset log, so the query keeps it for life while the session gets
  // its own value back. The query stays on the caller's session rather
  // than a fresh one, so `spark.streams` and its listeners still see it.
  private val query = {
    val key = "spark.sql.shuffle.partitions"
    val previous = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try DepositStreams.wallet(spark, input.toDS())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: Dataset[WalletRow], _: Long) =>
        // collect() here is bounded by the keys THIS batch updated (update
        // mode emits changed keys only), not by the size of the view.
        batch.collect().foreach { r =>
          view.merge(r.walletId, r,
            (old, nw) => if (nw.nDeposits >= old.nDeposits) nw else old)
        }
        upserted.synchronized(upserted.notifyAll())
      }
      .start()
    finally previous match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The serving query, for tests that kill it. */
  private[service] def servingQuery = query

  private def ensureRunning(): Unit =
    if (!query.isActive) throw new IllegalStateException(
      "DepositService: serving query is not running", query.exception.orNull)

  // Client-supplied idempotency keys already absorbed (rebuilt from the
  // log at boot): a retried POST whose key is present ACKs without
  // re-logging or re-ingesting, closing the retry-after-500 double-count
  // (appendToLog runs before the engine absorbs the event, so a failed
  // absorb leaves a logged deposit that WILL replay on restart — the
  // retry must not add a second copy). Deposits WITHOUT a key keep
  // at-least-once semantics. Memory is O(ACKed deposits) in this
  // single-JVM cell; a production serving fleet keeps the same key set
  // in its KV store alongside the views, compacted with the changelog.
  private val seenIdem = ConcurrentHashMap.newKeySet[String]()

  // Seq of the last logged deposit. Set by the boot replay, then read and
  // written only by the writer thread, which starts after it.
  private var lastSeq = 0L

  // Rebuild-on-start: replay the retained log (seq order) through the
  // running query and only then open the port — the first GET a client
  // can issue already sees the pre-restart state (zero-mismatch contract,
  // asserted by DepositServiceSpec's restart scenario). A crash mid-append
  // leaves a torn FINAL line; since the ACK follows the flush, a final
  // unparseable record is by definition un-ACKed — skip it with a warning
  // (it is also truncated from the log so the next boot starts clean).
  // Corruption ANYWHERE ELSE still fails the boot loudly: mid-file damage
  // means ACKed history is gone, and serving a silently-shortened ledger
  // would be worse than refusing to start. Replay also dedupes by
  // idempotency key (first occurrence wins — the occurrence the client
  // was ACKed for, or will be on retry). The whole block stops the
  // already-started query before rethrowing a refusal — a constructor
  // failure must not leak a running stream into the host JVM.
  try logFile.filter(_.isFile).foreach { f =>
    // REPLACE (not the default REPORT) on malformed bytes: a tear inside
    // a multi-byte UTF-8 character must reach the per-LINE torn-tail
    // handler as a garbled final line, not crash the read itself. Whole
    // mid-file lines are complete (one flush per group), so REPLACE can
    // only fire on the torn tail — or on real corruption, which then
    // fails the JSON parse loudly below.
    val codec = scala.io.Codec.UTF8
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val src = scala.io.Source.fromFile(f)(codec)
    val lines = try src.getLines().toVector finally src.close()
    val nonEmpty = lines.zipWithIndex.filter(_._1.nonEmpty)
    val parsed = nonEmpty.map { case (line, i) =>
      try {
        val n = mapper.readTree(line)
        Some((TimedDeposit(n.get("wallet_id").asText(), n.get("amount").asDouble(),
          n.get("ts_unix").asLong(), n.get("seq").asLong()),
          Option(n.get("idem")).filterNot(_.isNull).map(_.asText())
            .filter(_.nonEmpty)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          if (i == lines.length - 1) {
            System.err.println(
              s"DepositService: dropping torn trailing log line ${i + 1} " +
                s"of ${f.getPath} (un-ACKed by construction): ${e.getMessage}")
            None
          } else throw new IllegalStateException(
            s"DepositService: corrupt changelog ${f.getPath} at line ${i + 1} " +
              "(mid-file, ACKed history) — refusing to boot on a damaged ledger", e)
      }
    }
    if (parsed.lastOption.contains(None) && nonEmpty.nonEmpty)
      // Truncate the torn tail so the appended log stays line-parseable.
      // The kept lines are staged, fsynced and renamed over the log
      // atomically: an in-place rewrite would destroy ACKed history if
      // this process died mid-write, and the next boot would refuse to
      // start on what it reads as mid-file corruption. A failed repair
      // still fails the boot, and leaves no staged temp behind.
      graft.DurableFile.replace(f, lines.take(nonEmpty.last._2))
    val fresh = parsed.flatten.filter { case (_, idem) =>
      idem.forall(seenIdem.add) // first occurrence per key wins
    }
    val replayed = fresh.map(_._1).sortBy(_.seq)
    if (replayed.nonEmpty) {
      input.addData(replayed)
      // The one wait for a micro-batch: the port opens only once the
      // replayed state is served. A stopped query returns from it without
      // running anything, hence the check after it.
      query.processAllAvailable()
      ensureRunning()
      lastSeq = replayed.map(_.seq).max // seq order survives the restart
    }
  } catch {
    case t: Throwable =>
      try query.stop() catch { case scala.util.control.NonFatal(_) => () }
      throw t
  }

  // Keep the raw FileOutputStream: the durability point below needs its
  // file descriptor for a real fsync, which a bare FileWriter hides.
  private val logStream = logFile.map(f =>
    new java.io.FileOutputStream(f, /*append=*/ true))
  private val logWriter = logStream.map(s =>
    new java.io.OutputStreamWriter(s, StandardCharsets.UTF_8))

  /** Appends a group's records with ONE flush and fsync. flush() pushes
    * to OS buffers and getFD.sync() forces them to stable storage — an
    * ACK after this point holds across process AND OS/power failure (the
    * full EmitSync contract, not just the process-crash half). Called
    * only from the writer thread. */
  private def appendToLog(group: Seq[(TimedDeposit, Option[String])]): Unit =
    logWriter.zip(logStream).foreach { case (w, s) =>
      group.foreach { case (d, idem) =>
        val n = mapper.createObjectNode()
        n.put("wallet_id", d.walletId); n.put("amount", d.amount)
        n.put("ts_unix", d.tsUnix); n.put("seq", d.seq)
        idem.foreach(n.put("idem", _))
        w.write(mapper.writeValueAsString(n)); w.write("\n")
      }
      w.flush()
      s.getFD.sync()
    }

  /** Commits one group, in order: idempotency check (first occurrence of
    * a key wins, against earlier groups and inside this group) → serving
    * query checked alive → seq → fsynced append → one `addData` → each
    * wallet's last ACKed seq recorded → keys marked seen → every member
    * completed. No micro-batch runs here: the serving query folds the
    * group on its own thread, and GET /check's read barrier waits for it.
    * A key is marked seen only after the input holds its deposit: "seen"
    * must mean "durably logged AND absorbed this boot", or a retry after
    * a failure between append and `addData` would be ACKed as duplicate
    * while the view never ingests the deposit until a restart. A failure
    * therefore leaves the group's keys unseen and completes EVERY member
    * with it, duplicates included — a retry re-appends, and the boot
    * replay dedupes on first occurrence per key, keeping the view
    * exactly-once over an at-least-once log. Duplicates are answered only
    * after the group is durable, so a `duplicate` never precedes the
    * durability of the deposit it refers to. */
  private def commitGroup(group: Seq[Pending]): Unit =
    try {
      val inGroup = mutable.HashSet.empty[String]
      val (fresh, dups) = group.partition(
        _.idem.forall(k => !seenIdem.contains(k) && inGroup.add(k)))
      if (fresh.nonEmpty) {
        ensureRunning() // a group that cannot commit is not logged either
        val events = fresh.map { p =>
          lastSeq += 1
          TimedDeposit(p.walletId, p.amount, p.tsUnix, lastSeq)
        }
        appendToLog(events.zip(fresh.map(_.idem))) // log-then-absorb: a crash after this replays it
        input.addData(events)
        events.foreach(d => acked.put(d.walletId, d.seq)) // seqs rise, so the last put wins
        fresh.foreach(_.idem.foreach(seenIdem.add))
      }
      fresh.foreach(_.result.complete("ok"))
      dups.foreach(_.result.complete("duplicate"))
    } catch {
      case t: Throwable => group.foreach(_.result.completeExceptionally(t))
    }

  // Admitted deposits, in arrival order. Each element is one submission;
  // the writer drains whole elements, so one element always commits as
  // (part of) one group.
  private val queue = new LinkedBlockingQueue[Seq[Pending]]()
  @volatile private var stopping = false

  /** The single writer: a group is whatever queued while the previous
    * group was being written. A failed group is completed with its failure
    * inside [[commitGroup]], so the thread outlives it; only [[stop]]
    * ends it. */
  private def writeLoop(): Unit =
    try while (!stopping) {
      val drained = new java.util.ArrayList[Seq[Pending]]()
      drained.add(queue.take())
      queue.drainTo(drained)
      commitGroup(drained.asScala.toSeq.flatten)
    } catch { case _: InterruptedException => () }

  private val writer = new Thread(() => writeLoop(), "deposit-group-commit")
  writer.setDaemon(true)
  writer.start()

  /** Queues deposits that must commit in one group; each member's
    * `result` completes once that group is durable or has failed. */
  private[service] def enqueue(group: Seq[Pending]): Unit = queue.put(group)

  /** Write-admission bound: at most this many pool threads may be inside
    * (or queued on) the write path at once; excess POSTs are REJECTED
    * with 503 instead of consuming a thread. Without it, concurrent
    * writers would occupy the whole pool waiting on group commits (an
    * fsync each) and GETs would queue behind write latency again — the
    * regression the pool exists to prevent. 503 + retry is safe for
    * keyed clients (idempotency) and honest backpressure for keyless ones
    * (the deposit was NOT accepted). Declared (like every field the handlers touch)
    * BEFORE `server.start()` below — a request racing the constructor
    * tail must never observe a null field through the already-open
    * port. */
  private val writePermits = new java.util.concurrent.Semaphore(4)

  DepositService.ensureNoDelay()
  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/deposit", (ex: HttpExchange) => handleDeposit(ex))
  server.createContext("/check/", (ex: HttpExchange) => handleCheck(ex))
  // Reads must not queue behind the write path: GET /check is one
  // ConcurrentHashMap read (plus, for a wallet with deposits in flight,
  // the read barrier's wait), so a small pool serves reads in parallel
  // while POST threads wait on their group commit (one writer at a time
  // = the reference topic's per-partition ordering; parallel reads = its
  // local view), with [[writePermits]] keeping half the pool free for
  // reads under any write load. Measured under concurrent load
  // (DepositServiceLoadSpec): with the single-dispatcher default, GET p99
  // sat BEHIND in-flight micro-batch commits at ~10 s.
  private val httpPool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(httpPool)
  server.start()

  def boundPort: Int = server.getAddress.getPort

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Logs a handler failure with its route and answers 500. */
  private def fail(ex: HttpExchange, route: String, t: Throwable): Unit = {
    val cause = t match {
      case e: ExecutionException if e.getCause != null => e.getCause
      case _ => t
    }
    System.err.println(s"DepositService: $route failed with 500")
    cause.printStackTrace()
    respond(ex, 500, """{"error":"internal"}""")
  }

  private def handleDeposit(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"error":"POST only"}"""); return }
      if (!writePermits.tryAcquire()) {
        ex.getResponseHeaders.set("Retry-After", "1")
        respond(ex, 503, """{"error":"write path saturated, retry"}""")
        return
      }
      // The permit bounds the write path, not the response: it is handed
      // back once the result is known and before the client can read it,
      // so a closed-loop client's next POST never meets its own previous
      // request still holding a permit.
      val (code, body) = try admitted(ex) finally writePermits.release()
      respond(ex, code, body)
    } catch {
      case t: Throwable => fail(ex, "POST /deposit", t)
    }

  /** Parses, validates and commits one admitted POST; returns the
    * response's status and body. */
  private def admitted(ex: HttpExchange): (Int, String) = {
    val node = mapper.readTree(ex.getRequestBody)
    // Only JSON numbers count: Jackson's asDouble/asLong coerce strings
    // ("NaN", "abc") and booleans, and a NaN or infinite amount, once
    // logged, would poison its wallet on every replay.
    val wallet = Option(node.get("wallet_id")).filterNot(_.isNull).map(_.asText()).getOrElse("")
    val amount = Option(node.get("amount")).filter(_.isNumber).map(_.asDouble()).getOrElse(0.0)
    val tsNode = Option(node.get("ts_unix"))
    if (wallet.isEmpty) return (400, """{"error":"wallet_id required"}""")
    if (!(amount > 0) || amount.isInfinite) // service.go:87-91
      return (422, """{"error":"amount must be a positive finite number"}""")
    if (tsNode.exists(n => !n.isIntegralNumber || !n.canConvertToLong))
      return (400, """{"error":"ts_unix must be an integer"}""")
    val ts = tsNode.map(_.asLong()).getOrElse(System.currentTimeMillis() / 1000L)
    // Idempotent retry: a key we already logged means the deposit is
    // durable and will reach the view (this boot or the next replay) —
    // the group commit answers `duplicate` without a second log record
    // or ingest, so a client that retries on 500/timeout cannot
    // double-count. Keyless POSTs are documented at-least-once.
    // filterNot(_.isNull): Jackson's NullNode.asText() is the STRING
    // "null" — an explicit {"idem": null} must mean "no key", not a
    // shared key that marks every later null-idem deposit duplicate.
    val idem = Option(node.get("idem")).filterNot(_.isNull)
      .map(_.asText()).filter(_.nonEmpty)
    val pending = new Pending(wallet, amount, ts, idem)
    enqueue(Seq(pending))
    // EmitSync analog: the group commit completes this once the deposit
    // is fsynced and in the serving query's input. The view may not have
    // folded it yet; GET /check's read barrier keeps read-your-writes.
    val status = pending.result.get()
    (200, mapper.writeValueAsString(
      mapper.createObjectNode().put("wallet_id", wallet).put("status", status)))
  }

  /** O8: the point lookup. One keyed map read — no scan, no job; the
    * same asymptotics as the reference's `view.Get` (service.go:128-133). */
  private def handleCheck(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "GET") { respond(ex, 405, """{"error":"GET only"}"""); return }
      val wallet = ex.getRequestURI.getPath.stripPrefix("/check/")
      val row = folded(wallet, acked.getOrDefault(wallet, 0L))
      respond(ex, 200, mapper.writeValueAsString(mapper.createObjectNode()
        .put("wallet_id", wallet)
        .put("balance", row.map(_.balance).getOrElse(0.0))
        .put("above_threshold", row.exists(_.flagged))))
    } catch {
      case t: Throwable => fail(ex, "GET /check", t)
    }

  /** The view row of `wallet` once it has folded seq `need`, the wallet's
    * last ACKed seq when the GET arrived. `need` is read once, at arrival:
    * a wait that re-read it would never end on a wallet written faster
    * than a micro-batch folds. A wallet with nothing in flight returns at
    * once. While the wait lasts, a stopped serving query fails the GET
    * instead of serving a stale row; the timed wait notices the stop
    * within 100 ms, since no batch will notify. */
  private def folded(wallet: String, need: Long): Option[WalletRow] = {
    def caughtUp = Option(view.get(wallet)).exists(_.seq >= need)
    if (need > 0 && !caughtUp) upserted.synchronized {
      while (!caughtUp) { ensureRunning(); upserted.wait(100) }
    }
    Option(view.get(wallet))
  }

  def stop(): Unit = {
    server.stop(0)
    httpPool.shutdownNow()
    stopping = true
    writer.interrupt()
    query.stop()
    writer.join() // no append may follow the close below
    logWriter.foreach(_.close())
  }
}

object DepositService {
  /** An admitted deposit waiting for its group to commit. `result`
    * completes with "ok" or "duplicate" once the group is durable, or
    * with the group's failure. */
  private[service] final class Pending(val walletId: String, val amount: Double,
                                       val tsUnix: Long, val idem: Option[String]) {
    val result = new CompletableFuture[String]()
  }

  // TCP_NODELAY on the serving socket: headers and body go out as two
  // small writes, and with Nagle on, a keep-alive client's next request
  // waits out the peer's delayed ACK — measured 44 ms per GET (the
  // classic 40 ms artifact) vs ~100 µs with it off. CAVEAT: the JDK's
  // ServerConfig reads this property ONCE in its static initializer, so
  // this only takes effect if no com.sun.net.httpserver server was
  // created earlier in the JVM — which is why it is set from a companion
  // initializer (runs before the first DepositService constructs its
  // server) rather than buried mid-constructor. A JVM that stood up an
  // unrelated HttpServer first keeps Nagle on, and its keep-alive GETs
  // take ~44 ms each.
  private lazy val noDelaySet: Boolean = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    true
  }
  private[service] def ensureNoDelay(): Unit = { val _ = noDelaySet }
}

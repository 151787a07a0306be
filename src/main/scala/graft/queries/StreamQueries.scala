package graft.queries

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.Q
import graft.model.{KeyedFlagEvent, TimedDeposit}
import graft.operators.{DepositOps, IndexCache, Maintenance}
import graft.sources.Tables
import graft.streaming.{DetectorLogic, KafkaTopology}
import graft.streaming.DepositStreams.{BalanceRow, FlagRow}

/** The REAL Structured Streaming pipeline under the driver's correctness
  * contract: the `stream_check*` queries run the deployment's own
  * processor topology ([[KafkaTopology.runProcessors]]: collector and
  * detector over the deposits, detector → flag-event edge → flagger),
  * and the DuckDB oracle replays the same per-wallet sequential state
  * machine as a recursive-CTE fold over the time-ordered deposit list.
  *
  * Feed shape (reference: processors consume a replayable Kafka log,
  * cmd/processor/main.go — they are never handed an in-memory array):
  *
  *  - each feed is written ONCE per sf dir (a [[Feed]], built through
  *    [[Workspace.once]]) and consumed as a distributed stream source;
  *    nothing is collected to the driver;
  *  - the topology takes the feed's stream where a deployment takes the
  *    `deposit` topic: detector and collector consume it as parallel
  *    consumer groups (cmd/processor/main.go:30-41), all three queries
  *    started before any is awaited;
  *  - the detector→flagger edge is a parquet file SINK that the flagger
  *    `readStream`s — the stand-in for the `flag_wallet` topic. The
  *    flagger starts beside the detector (its sink metadata dir is
  *    pre-created so the file source reads only sink-committed files)
  *    and is drained after it; whatever micro-batches it takes, each
  *    changelog row carries its batch id and the latest one per wallet
  *    is the flag.
  *
  * One harness runs every stream: a [[Run]] starts each query of a
  * topology with its checkpoint under one fresh work dir (or tracks the
  * queries a topology started itself), memory sinks under fresh view
  * names, and on the way out — finished or failed — stops every query
  * it started or tracks, drops its views and deletes the dir. [[drain]]
  * awaits a query. [[runStream]] is a one-query run into a memory sink,
  * [[foreachBatchReplay]] a one-query run that probes each micro-batch,
  * and [[streamCheck]] the three-query processor topology.
  *
  * Lifecycle — the long-lived-topology contract: a streaming topology is
  * not a batch job re-run per request; it is stood up ONCE, keeps durable
  * state, and serving a query means "ensure the topology has caught up
  * with the source, then read its output table" (exactly how the
  * reference's Goka processors + `service.go` serve: consumers hold
  * committed offsets, GET /check reads the current table). Every query
  * registers through [[query]], which implements that contract per
  * (query, feed):
  *
  *  - first invocation in a JVM stands the topology up, processes the
  *    feed, and MATERIALIZES the output table as parquet under the
  *    [[Workspace]];
  *  - subsequent invocations perform the catch-up check — the feed dir's
  *    listing signature ([[IndexCache.dirSig]]) is compared against the one the
  *    materialization consumed, the file-source analog of "no new Kafka
  *    offsets" — and serve straight from the output table. A changed feed
  *    fingerprint re-runs the topology.
  *
  * Determinism: no `maxFilesPerTrigger` is set on the one-batch feeds, so
  * every feed file is available to — and consumed in — the FIRST
  * micro-batch; the per-wallet (tsUnix, seq) sort inside each stateful
  * group therefore sees the whole history at once, batch-order-
  * independent, exactly the semantics the oracle replays. The production
  * many-micro-batch shape is `stream_check_chunked`: the feed re-written
  * as three TIME-SLICED single-file chunks (slice k's events all precede
  * slice k+1's — a Kafka log's per-partition time order) consumed with
  * `maxFilesPerTrigger=1`, so per-wallet state provably continues across
  * micro-batch boundaries (same oracle as `stream_check`).
  */
object StreamQueries {

  /** A feed written once per (JVM, sf dir): its directory (the
    * materialized outputs are fingerprinted on its listing) and how a
    * stream reads it. */
  private final case class Feed(path: String, stream: SparkSession => DataFrame)

  /** A parquet feed built once per (JVM, kind, sf dir): `write` fills a
    * fresh workspace path and returns the schema it wrote, which every
    * stream over the feed reads. A `oneBatch` feed lands whole in the
    * first micro-batch; any other replays one file per micro-batch. */
  private def parquetFeed(kind: String, dir: String, oneBatch: Boolean = true)
                         (write: String => StructType): Feed =
    Workspace.once(s"$kind|$dir") {
      val path = Workspace.fresh(kind)
      val schema = write(path)
      Feed(path, { s =>
        val r = s.readStream.schema(schema)
        (if (oneBatch) r else r.option("maxFilesPerTrigger", "1")).parquet(path)
      })
    }

  private def written(df: DataFrame, path: String): StructType = {
    df.write.parquet(path)
    df.schema
  }

  private def depositProjection(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value") > 0)
      .select(
        col("user_id").cast("string").as("walletId"),
        col("value").as("amount"),
        expr("unix_micros(ts) div 1000000").as("tsUnix"),
        col("event_id").as("seq"))

  /** The deposit feed: all the stream_check* queries and the deposit
    * aggregates replay it (one distributed write, many readers). */
  private def depositFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("feed", dir)(written(depositProjection(s, dir), _))

  /** Proto-framed deposit feed: each file row is the Kafka MESSAGE shape —
    * `value` carries the proto3-marshaled `Deposit` bytes exactly as the
    * reference's Go producer emits them (depositaja.go:16, wallet.proto:
    * 14-17, encoded by the codegen'd `proto_encode_deposit` expression),
    * `tsUnix`/`seq` stand in for the broker timestamp and offset. The
    * stream side must run a real wire decode per record to recover the
    * deposit — the byte-compatibility edge a drop-in consumer of the
    * reference's topics exercises: it decodes through
    * [[KafkaTopology.deposits]], the decode and amount check the
    * deployment's Kafka source runs. */
  private def protoDepositFeed(s: SparkSession, dir: String): Feed = {
    val framed = parquetFeed("protofeed", dir)(written(depositProjection(s, dir)
      .select(
        call_function("proto_encode_deposit", col("walletId"), col("amount"))
          .as("value"),
        col("tsUnix"), col("seq")), _))
    framed.copy(stream = sp => KafkaTopology.deposits(framed.stream(sp)).toDF())
  }

  /** Replay-log STREAM feed for the `graft-replay` connector's streaming
    * leg: the deposit projection framed into 3 offset-ranged segments
    * whose offsets are the ARRIVAL rank (row_number over (tsUnix, seq) —
    * a Kafka partition's offsets are time-ordered by arrival, and the
    * detector's per-wallet fold needs exactly that cross-batch order
    * when the log is consumed a segment at a time). seq := offset is
    * order-equivalent to the original (tsUnix, seq) per wallet, so the
    * same oracle replays the fold. The global rank is a build-step cost
    * here; a real Kafka log has per-partition offsets natively. The
    * stream is the engine's own DSv2 connector: one segment per trigger
    * (offset-range admission control — the Kafka consumption model),
    * wire frames decoded in the source. */
  private def replayStreamFeed(s: SparkSession, dir: String): Feed =
    Workspace.once(s"rlfeed|$dir") {
      val path = Workspace.fresh("rlfeed")
      graft.sources.replay.ReplayLog.writeSegments(
        depositProjection(s, dir).select(
          row_number().over(Window.orderBy(col("tsUnix"), col("seq")))
            .cast("long").as("offset"),
          col("tsUnix").as("ts_unix"),
          col("walletId").as("wallet_id"),
          col("amount")),
        path, nSegments = 3)
      Feed(path, _.readStream.format("graft-replay")
        .option("maxSegmentsPerTrigger", "1")
        .load(path)
        .select(col("wallet_id").as("walletId"), col("amount"),
          col("ts_unix").as("tsUnix"), col("offset").as("seq")))
    }

  /** Typed full-event feed (type column retained) for the event
    * aggregates and the stream-stream join. */
  private def eventsFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("evfeed", dir)(written(Tables.events(s, dir)
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_type").as("eventType"), col("value"),
        expr("unix_micros(ts)").as("tsUs")), _))

  /** Chunked-replay feed: the same deposits re-written as three
    * time-range slices (by equal thirds of the [min, max] tsUnix span),
    * each a SINGLE file, written sequentially so file modification order =
    * time order. `maxFilesPerTrigger=1` then replays one slice per
    * micro-batch, and because every event in slice k precedes every event
    * in slice k+1, the per-wallet (tsUnix, seq) batch-local sort composes
    * into the exact global fold order — the Kafka-log time-ordered
    * delivery contract (ChunkedReplaySpec proves the equivalence).
    */
  private def chunkedDepositFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("feedchunks", dir, oneBatch = false) { path =>
      val dep = depositProjection(s, dir)
      val mm = dep.agg(min(col("tsUnix")), max(col("tsUnix"))).head()
      val (tMin, tMax) = (mm.getLong(0), mm.getLong(1))
      val t1 = tMin + (tMax - tMin) / 3
      val t2 = tMin + 2 * (tMax - tMin) / 3
      val slices = Seq(
        col("tsUnix") <= t1,
        col("tsUnix") > t1 && col("tsUnix") <= t2,
        col("tsUnix") > t2)
      slices.foreach { pred =>
        // One file per slice: events of one slice must share a micro-batch
        // (intra-slice files would replay in arbitrary relative order).
        dep.filter(pred).repartition(1).write.mode("append").parquet(path)
        Thread.sleep(5) // distinct mtimes -> deterministic source file order
      }
      dep.schema
    }

  /** The deposit feed plus ONE far-future sentinel deposit for the session
    * windows. Session windows only emit in APPEND mode, i.e. when the
    * watermark passes a session's close: the sentinel's event time pushes
    * the watermark past every real session close at the end of the first
    * micro-batch, and the no-data micro-batch that follows emits every
    * real session. That is the production shape: sessions are finalized
    * by time advancing, not by someone peeking at unfinished state. The
    * sentinel's own (never-finalized) session is excluded by key. */
  private def sessionFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("sessionfeed", dir) { path =>
      import s.implicits._
      val dep = depositProjection(s, dir)
      val maxTs = dep.agg(max(col("tsUnix"))).head.getLong(0)
      written(dep.union(
        Seq(TimedDeposit("sentinel", 0.0, maxTs + 2 * 3600 + 1800 + 10, -1L)).toDF()), path)
    }

  /** Incoming-document feed (doc_id ≡ 0 mod 5 — the same batch
    * convention as dedup_incremental) written as 3 parquet files so the
    * replay spans multiple micro-batches. */
  private def docsBatchFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("docfeed", dir, oneBatch = false)(written(
      Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text")).repartition(3), _))

  /** Arriving query-vector feed (vec_id < 10 — `sim_ivf_served`'s query
    * set) written as 3 parquet files so the replay spans multiple
    * micro-batches. */
  private def embBatchFeed(s: SparkSession, dir: String): Feed =
    parquetFeed("embfeed", dir, oneBatch = false)(written(
      Tables.embeddings(s, dir).filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"), col("label")).repartition(3), _))

  /** One stream run: every query it starts checkpoints under one fresh
    * work dir, and [[close]] stops every query it started or tracks,
    * drops its memory-sink views and deletes the dir — a failure must not orphan a
    * running query (it would keep executing no-data batches against the
    * feed for the rest of the JVM) nor leak the view names or the dir. */
  private final class Run(s: SparkSession) {
    val work: String = Workspace.fresh("run")
    private val started = ArrayBuffer.empty[StreamingQuery]
    private val views = ArrayBuffer.empty[String]

    def start(w: DataStreamWriter[_]): StreamingQuery =
      track(w.option("checkpointLocation", s"$work/cp${started.size}").start())

    /** Stops `q`, started elsewhere, with the run's own queries. */
    def track(q: StreamingQuery): StreamingQuery = { started += q; q }

    /** Starts `ds` into a memory sink; returns the query and its view. */
    def toMemory(ds: Dataset[_], outputMode: String): (StreamingQuery, String) = {
      val view = s"${new java.io.File(work).getName}_${views.size}"
      views += view
      (start(ds.writeStream.format("memory").queryName(view).outputMode(outputMode)), view)
    }

    def close(): Unit = {
      started.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      views.foreach(s.catalog.dropTempView)
      Maintenance.deleteRecursively(new java.io.File(work))
    }
  }

  private def inRun[T](s: SparkSession)(body: Run => T): T = {
    val run = new Run(s)
    try body(run) finally run.close()
  }

  /** Runs the streaming frame `df` into a memory sink, drains it and
    * returns the sink's rows. `s.table` resolves the memory sink's plan
    * eagerly, so the returned frame survives the run's teardown. */
  private def runStream(s: SparkSession, df: DataFrame,
                        outputMode: String = "update"): DataFrame =
    inRun(s) { run =>
      val (q, view) = run.toMemory(df, outputMode)
      drain(q)
      s.table(view)
    }

  /** Replay scaffold for the artifact-probing ingest queries: stream
    * `feed` (one file per micro-batch), run `probe` on each batch, and
    * land every epoch's output under an EPOCH-KEYED subdirectory with
    * overwrite mode — the standard foreachBatch idempotence pattern: a
    * retried epoch (sink committed, checkpoint not yet advanced) rewrites
    * its own subdir instead of appending duplicate rows. The epochs live
    * outside the run's work dir, so they outlive its teardown. Returns the
    * accumulated output (partition-discovery `epoch` column dropped). */
  private def foreachBatchReplay(s: SparkSession, feed: Feed)(
      probe: DataFrame => DataFrame): DataFrame = {
    val out = Workspace.fresh("epochs")
    inRun(s) { run =>
      drain(run.start(feed.stream(s).writeStream
        .foreachBatch((batch: DataFrame, epoch: Long) =>
          probe(batch).write.mode("overwrite").parquet(s"$out/epoch=$epoch"))))
    }
    s.read.parquet(out).drop("epoch")
  }

  /** See the stream_hybrid_serve registration: per-batch probe of BOTH
    * maintained index artifacts + the shared RRF fusion; stateless,
    * composes because rankings are per-query. */
  private def streamHybridServe(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val docsT = Tables.documents(s, dir)
    val embT = Tables.embeddings(s, dir)
    val indexPath = SimilarityQueries.servedIndexPath(s, dir)
    foreachBatchReplay(s, feed) { batch =>
      val sp = graft.operators.Corpus.sparseTopKFor(docsT,
          batch.select(col("vec_id").as("doc_id")), k = 20,
          maxDfFrac = 1.0, postingCap = 64)
        .select(col("qid"), col("nid"), col("rank").as("sr"))
      val dn = graft.operators.Similarity.ivfTopKServed(embT, batch, k = 20,
          nProbe = 2, indexPath = indexPath)
        .select(col("qid"), col("nid"), col("rank").as("dr"))
      CorpusQueries.rrfFuse(sp, dn)
        .where(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("nid"), col("rrf"))
    }
  }

  /** Streaming ANN serving against the PERSISTED IVF index — retrieval at
    * ingest, the vector analog of [[streamLshDedup]]: each micro-batch of
    * arriving query vectors is assigned to its probe cells and served
    * top-k from the index artifact inside `foreachBatch`. The stream is
    * STATELESS (corpus knowledge lives in the artifact; per-batch cost
    * tracks the batch), and because top-k is per-query and every query
    * arrives exactly once, per-batch results compose into the global
    * result: output is row-identical to the batch `sim_ivf_served`, which
    * is the oracle. */
  private def streamAnnServe(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val embT = Tables.embeddings(s, dir)
    val indexPath = SimilarityQueries.servedIndexPath(s, dir)
    foreachBatchReplay(s, feed) { batch =>
      graft.operators.Similarity.ivfTopKServed(embT, batch, k = 3,
        nProbe = 2, indexPath = indexPath)
    }
  }

  /** Streaming ingest dedup against the PERSISTED LSH index — dedup AT
    * INGEST, the production placement of the near-dup gate: each
    * micro-batch of arriving documents shingles, signs, and probes the
    * historical index artifact asymmetrically (batch×history only) via
    * `foreachBatch`, appending verified pairs to the output log. The
    * stream itself is STATELESS — all corpus knowledge lives in the
    * artifact, per-batch cost tracks the batch, and because every doc
    * arrives exactly once, per-batch DISTINCT composes into the global
    * result: the output is row-identical to the batch `dedup_lsh_served`,
    * which is the oracle. */
  private def streamLshDedup(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val hist = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
    val indexPath = DedupQueries.lshIndexFor(s, dir)
    foreachBatchReplay(s, feed) { batch =>
      graft.operators.Dedup.lshServedPairs(hist, batch, indexPath)
    }
  }

  /** Materialized topology outputs: (query, feed) → (feed fingerprint at
    * materialization time, output-table path).
    */
  private final case class Materialized(feedFp: String, path: String)
  private val outputs = new ConcurrentHashMap[String, Materialized]()

  /** Drop every materialized output, so the next run of each stream
    * query stands its full topology up again. */
  def invalidateMaterialized(): Unit = outputs.clear()

  /** Drain a streaming query (processAllAvailable) and stop it. */
  private def drain(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    q.stop()
  }

  /** Registers the stream query `name` over `feed`: it is served from its
    * materialized output table, and `run` (the full topology) runs only
    * when no output exists for the feed's current fingerprint. `order` is
    * the query's total order, applied after the parquet round trip. */
  private def query(name: String, oracle: String,
                    feed: (SparkSession, String) => Feed, order: String*)
                   (run: (SparkSession, String, Feed) => DataFrame): Q =
    Q(name, oracle) { (s, d) =>
      val f = feed(s, d)
      val fp = IndexCache.dirSig(f.path)
      val key = s"$name|${f.path}"
      val path = Option(outputs.get(key)).filter(_.feedFp == fp).map(_.path)
        .getOrElse {
          val p = Workspace.fresh(s"out_$name")
          run(s, d, f).write.parquet(p)
          outputs.put(key, Materialized(fp, p))
          p
        }
      IndexCache.resolvedFrame(s, path).orderBy(order.map(col): _*)
    }

  /** The deployment's processor topology ([[KafkaTopology.runProcessors]])
    * over a deposit feed, its detector→flagger edge a parquet flag-event
    * log (the flag_wallet topic stand-in), read as the serve path reads
    * it: [[DepositOps.check]] over the latest row of each wallet in the
    * two changelog tables. The topology's state dir lies outside the run's
    * work dir, so its tables outlive the run's teardown. */
  private def streamCheck(s: SparkSession, feed: Feed, windowSec: Long,
                          threshold: Double): DataFrame = {
    import s.implicits._
    val state = Workspace.fresh("topology")
    val flagDir = s"$state/flag_events"
    // Pre-create the sink's metadata dir so the flagger's file source,
    // started beside the detector, classifies flagDir as sink output from
    // the first poll and only ever reads sink-COMMITTED files (never a
    // half-written part file).
    new java.io.File(s"$flagDir/_spark_metadata").mkdirs()
    // Spark's default trigger: the deployment's 5 s one would add seconds
    // to every stand-up.
    inRun(s) { run =>
      val Seq(collector, detector, flagger) = KafkaTopology.runProcessors(s,
        feed.stream(s).as[TimedDeposit],
        _.writeStream.format("parquet").option("path", flagDir).outputMode("append"),
        s.readStream.schema(Encoders.product[KeyedFlagEvent].schema)
          .parquet(flagDir).as[KeyedFlagEvent],
        state, KafkaTopology.Processors.toSet, Trigger.ProcessingTime(0L),
        windowSec, threshold).map(run.track)
      drain(detector)
      drain(collector)
      drain(flagger)
    }
    val walletId = col("walletId").cast("long").as("wallet_id")
    DepositOps.check(
      KafkaTopology.latest[BalanceRow](s, s"$state/balance-table")
        .select(walletId, round(col("balance"), 2).as("balance")),
      KafkaTopology.latest[FlagRow](s, s"$state/flagger-table")
        .select(walletId, col("flagged")))
  }

  /** Per-day deposit-amount quantiles maintained BY THE STREAM: the
    * custom mergeable quantile sketch ([[graft.functions.QuantileSketch]])
    * runs as the streaming aggregation's state — each micro-batch folds
    * its rows into the per-window sketch buffer exactly like sum/count
    * state, which is the point of a MERGEABLE sketch: the same aggregate
    * serves batch rollups and incremental streaming maintenance. */
  private def streamQuantile(s: SparkSession, feed: Feed): DataFrame =
    runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_seconds(col("tsUnix")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(window(col("eventTime"), "1 day").as("w"))
      .agg(
        call_function("qsk_sketch",
          round(col("amount") * 100).cast("long")).as("sk"),
        count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("day_start"), col("n"),
        call_function("qsk_quantile", col("sk"), lit(0.5)).as("p50"),
        call_function("qsk_quantile", col("sk"), lit(0.95)).as("p95")))

  /** Per-day distinct depositors maintained BY THE STREAM via the custom
    * md5-HLL sketch as streaming aggregation state — like
    * [[streamQuantile]], the integration a mergeable sketch exists for.
    * The exact-distinct column joins in from the batch table (distinct
    * aggregates are unsupported inside streaming aggregations — exactly
    * WHY a production stream maintains the sketch instead). */
  private def streamDistinctHll(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val exact = depositProjection(s, dir)
      .groupBy((floor(col("tsUnix") / 86400) * 86400).as("day_start"))
      .agg(countDistinct(col("walletId")).as("exact_distinct"))
    runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_seconds(col("tsUnix")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(window(col("eventTime"), "1 day").as("w"))
      .agg(call_function("hll_md5_sketch", col("walletId")).as("sk"))
      .select(unix_timestamp(col("w.start")).as("day_start"),
        round(call_function("hll_md5_estimate", col("sk")), 2)
          .as("approx_distinct")))
      .join(exact, "day_start")
  }

  /** Per-day heavy-hitter counts maintained BY THE STREAM via the custom
    * mergeable count-min sketch as streaming aggregation state — the
    * third sketch-state integration next to [[streamDistinctHll]] (HLL)
    * and [[streamQuantile]] (quantiles): a per-day GROUP BY user would
    * keep the full key space in state, the CMS keeps a fixed 4×4096
    * integer grid per window. Serve-side, probe keys 1–10 are estimated
    * from the maintained sketch and the exact counts join in from the
    * batch table (all-integer oracle — the estimate compares exactly). */
  private def streamHeavyHitters(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val probes = (1L to 10L).toSeq
    // The probe estimates are projected inside the stream, after the
    // aggregation: the sink holds ten small rows per day, not the day's
    // 4×4096 grid, so reading it back ships no grid inside a task.
    val est = runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(window(col("eventTime"), "1 day").as("w"))
      .agg(call_function("cms_sketch", col("userId")).as("sk"))
      .select(unix_timestamp(col("w.start")).as("day_start"),
        explode(array(probes.map(p => struct(
          lit(p).as("user_id"),
          call_function("cms_estimate", col("sk"), lit(p)).as("cms_count"))): _*))
          .as("e"))
      .select(col("day_start"), col("e.user_id").as("user_id"),
        col("e.cms_count").as("cms_count")))
    val exact = Tables.events(s, dir)
      .where(col("user_id").isin(probes: _*))
      .groupBy((floor(expr("unix_micros(ts) div 1000000") / 86400) * 86400)
          .cast("long").as("day_start"),
        col("user_id"))
      .agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("day_start", "user_id"), "left_outer")
      .select(col("day_start"), col("user_id"), col("cms_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  /** Event-time tumbling-window aggregation through the REAL micro-batch
    * engine (the registered `q_tumbling_window` is the batch analog): the
    * deposit feed readStream → watermark → `window('1 day')` → windowed
    * count/sum, update mode. Spark aligns windows to the epoch, so the
    * oracle's `tsec // 86400 * 86400` bucket is the same window start.
    * Money is summed scaled-int (engine-reassociation-proof). The feed is
    * consumed in one micro-batch (see class doc), so the update-mode
    * memory sink holds exactly one final row per window.
    */
  private def streamWindowAgg(s: SparkSession, feed: Feed): DataFrame =
    runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_seconds(col("tsUnix")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(window(col("eventTime"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_deposits"),
        (sum(round(col("amount") * 100).cast("long")) / 100.0).as("total"))
      .select(unix_timestamp(col("w.start")).as("day_start"),
        col("n_deposits"), col("total")))

  /** Streaming windowed TOP-K: the aggregate (day × type totals) is
    * maintained BY the micro-batch engine — that is the streaming-legal
    * part — and the rank is applied to the continuously-maintained output
    * table at serve time (update-mode streams cannot rank across keys
    * in-flight; production serves "top dimensions per window" exactly
    * this way: stream maintains, reader ranks). Integer-cent sums keep
    * the totals engine-exact, so the rank order is portable. */
  private def streamTopK(s: SparkSession, feed: Feed, k: Int): DataFrame = {
    val rw = Window.partitionBy(col("day_start"))
      .orderBy(col("total").desc, col("event_type"))
    runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_micros(col("tsUs")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(window(col("eventTime"), "1 day").as("w"),
        col("eventType").as("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total"))
      .select(unix_timestamp(col("w.start")).as("day_start"),
        col("event_type"), col("n"), col("total")))
      .withColumn("rnk", row_number().over(rw).cast("long"))
      .where(col("rnk") <= k)
      .select(col("day_start"), col("rnk"), col("event_type"), col("n"),
        col("total"))
  }

  /** Stream ⋈ static enrichment — the canonical streaming dimension
    * join: the event stream joins a BATCH dimension table (customer)
    * that Spark broadcasts into every micro-batch task, stateless (no
    * watermark needed for the join itself — nothing is buffered), then
    * rolls up per segment. At 100 TB/day this is exactly the shape for
    * enriching a firehose with reference data: the dim is broadcast (or
    * a slowly-refreshed state-store side input), the stream partitioning
    * is untouched until the aggregate's own shuffle. */
  private def streamEnrich(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    runStream(s, feed.stream(s)
      .join(broadcast(dim), col("userId") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("total")),
      "complete")
  }

  /** Streaming SESSION windows through the micro-batch engine: dynamic-
    * gap sessionization (30 min of inactivity closes a wallet's session)
    * with watermarked state — the state row for a session is evictable
    * once the watermark passes its close, so state is bounded by ACTIVE
    * sessions, not by history. Session state is keyed by wallet — the
    * shuffle key — exactly the batch `session_window` partitioning. The
    * feed is [[sessionFeed]], whose sentinel finalizes every session.
    */
  private def streamSessionAgg(s: SparkSession, feed: Feed): DataFrame =
    runStream(s, feed.stream(s)
      .withColumn("eventTime", timestamp_seconds(col("tsUnix")))
      .withWatermark("eventTime", "1 hour")
      .groupBy(session_window(col("eventTime"), "30 minutes").as("w"),
        col("walletId"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("amount") * 100).cast("long")) / 100.0).as("total"))
      .select(col("walletId"), unix_timestamp(col("w.start")).as("session_start"),
        col("n"), col("total")),
      "append")
      .filter(col("walletId") =!= "sentinel")
      .select(col("walletId").cast("long").as("wallet_id"),
        col("session_start"), col("n"), col("total"))

  /** Stream-STREAM inner join through the micro-batch engine: click →
    * purchase attribution (each purchase matched to the same user's
    * clicks in the preceding hour). Both sides carry watermarks and the
    * join condition carries the event-time range, so Spark derives a
    * state-eviction bound for BOTH buffers — a click older than the
    * watermark minus the range can never match a future purchase and its
    * state row is dropped. That bounded-state property is the whole
    * point: an un-watermarked stream-stream join buffers each side
    * forever. State is keyed by user — the shuffle key — so at scale the
    * join partitions by user exactly like the batch equivalent. Each side
    * reads the feed as its own source.
    */
  private def streamStreamJoin(s: SparkSession, feed: Feed): DataFrame = {
    val clicks = feed.stream(s).filter(col("eventType") === "click")
      .select(col("userId").as("c_uid"), col("eventId").as("click_id"),
        timestamp_micros(col("tsUs")).as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = feed.stream(s).filter(col("eventType") === "purchase")
      .select(col("userId").as("user_id"), col("eventId").as("purchase_id"),
        col("value"), timestamp_micros(col("tsUs")).as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    runStream(s, purchases.join(clicks,
        col("user_id") === col("c_uid") &&
          col("click_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
          col("click_ts") <= col("purchase_ts"))
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        col("value")),
      "append")
  }

  /** Exactly-once streaming dedup: the feed unioned with ITSELF (every
    * deposit delivered twice, by two sources — the at-least-once
    * redelivery shape) → `dropDuplicatesWithinWatermark` on the event key,
    * append mode; the deduped stream folds to per-wallet (count, total),
    * which therefore must equal the ONCE-delivered aggregate the oracle
    * computes. Dedup state is watermark-bounded — the 100-TB posture
    * (unbounded `dropDuplicates` state grows with every key ever seen).
    */
  private def streamDedup(s: SparkSession, feed: Feed): DataFrame =
    runStream(s, feed.stream(s).union(feed.stream(s))
      .withColumn("eventTime", timestamp_seconds(col("tsUnix")))
      .withWatermark("eventTime", "1 hour")
      .dropDuplicatesWithinWatermark("seq"),
      "append")
      .groupBy(col("walletId").cast("long").as("wallet_id"))
      .agg(count(lit(1)).as("n_deposits"),
        (sum(round(col("amount") * 100).cast("long")) / 100.0).as("total"))

  /** DuckDB replay of the detector state machine, iterated as a recursive
    * CTE: step k joins each wallet's k-th event (by (tsec, seq)) onto its
    * state row. (A `list_reduce` fold would be more direct, but DuckDB
    * v1.0.0 miscomputes struct-state list_reduce when the query processes
    * many rows at once — verified: the same fold is correct on a
    * single-wallet slice and wrong multi-row — so the oracle avoids it.) */
  private def checkSql(windowSec: Long, threshold: Double): String =
    s"WITH RECURSIVE ${CoreQueries.detectorDepositsCte}, ${CoreQueries.detectorStepsCte}, " +
      CoreQueries.detectorFoldCte(windowSec, threshold, "0.0") + ", " +
      "b AS (SELECT wallet_id, ROUND(SUM(amount), 2) AS balance FROM dd GROUP BY wallet_id), " +
      "f AS (SELECT wallet_id, NOT fr AS above_threshold FROM s WHERE rn = n) " +
      "SELECT b.wallet_id, b.balance, COALESCE(f.above_threshold, FALSE) AS above_threshold " +
      "FROM b LEFT JOIN f USING (wallet_id) ORDER BY wallet_id"

  // Tuned so verdicts vary on the synthetic feed (1-day window, 300).
  private val tuned = query("stream_check_tuned", checkSql(86400L, 300.0),
      depositFeed, "wallet_id") {
    (s, _, f) => streamCheck(s, f, 86400L, 300.0)
  }

  val all: Seq[Q] = Seq(
    // Reference constants: 120 s window, threshold 10,000 (detector.go:16-17).
    query("stream_check", checkSql(DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount),
        depositFeed, "wallet_id") {
      (s, _, f) => streamCheck(s, f, DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount)
    },
    tuned,
    // Alias of stream_check_tuned, kept so the registered name stays.
    tuned.copy(name = "stream_check_tws"),
    // The reference's actual wire format end-to-end: the feed carries
    // proto3-marshaled Deposit bytes (wallet.proto:14-17) in Kafka message
    // framing, decoded per record by the codegen'd wire codec inside the
    // real micro-batch engine — same oracle as stream_check, so the
    // encode→wire→decode round trip must be value-exact.
    query("stream_check_proto", checkSql(DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount),
        protoDepositFeed, "wallet_id") {
      (s, _, f) => streamCheck(s, f, DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount)
    },
    // The production many-micro-batch shape: the time-sliced chunk feed
    // replayed one file per trigger — per-wallet detector/collector state
    // continues across micro-batch boundaries (reference constants, same
    // oracle as stream_check).
    query("stream_check_chunked", checkSql(DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount),
        chunkedDepositFeed, "wallet_id") {
      (s, _, f) => streamCheck(s, f, DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount)
    },

    // The engine's OWN DataSource V2 connector as the STREAMING source:
    // the framed replay log (arrival-ordered offsets) consumed ONE
    // SEGMENT PER TRIGGER through graft-replay's offset-range admission
    // control — per-wallet detector/collector state provably continues
    // across the connector's micro-batch boundaries (same oracle as
    // stream_check; the chunked-feed contract re-proven through the
    // custom source).
    query("stream_check_replay", checkSql(DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount),
        replayStreamFeed, "wallet_id") {
      (s, _, f) => streamCheck(s, f, DetectorLogic.RollingPeriodSec, DetectorLogic.MaxAmount)
    },

    // Event-time tumbling windows through the real micro-batch engine
    // (epoch-aligned '1 day' windows = the oracle's integer day bucket).
    query("stream_window_agg",
      "SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS day_start, " +
        "COUNT(*) AS n_deposits, " +
        "SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total " +
        "FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1",
      depositFeed, "day_start") {
      (s, _, f) => streamWindowAgg(s, f)
    },

    // Streaming per-day distinct depositors via the custom md5-HLL as
    // streaming aggregation state (distinct aggs are unsupported in
    // streaming — the sketch IS the production answer); full-value
    // estimate oracle (HllOracle.estCteFor replays the identical
    // estimator keyed by day), exact-distinct joined from the batch
    // table on both engines.
    query("stream_distinct_hll",
      HllOracle.estCteFor(
        "SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS grp, " +
          "md5(CAST(user_id AS VARCHAR)) AS hh FROM events WHERE value > 0") +
        ", ex AS (SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS grp, " +
        "COUNT(DISTINCT user_id) AS exact_distinct FROM events " +
        "WHERE value > 0 GROUP BY 1) " +
        "SELECT est.grp AS day_start, est.est AS approx_distinct, " +
        "ex.exact_distinct FROM est JOIN ex ON est.grp = ex.grp " +
        "ORDER BY day_start",
      depositFeed, "day_start") {
      (s, d, f) => streamDistinctHll(s, d, f)
    },

    // Streaming per-day amount quantiles via the custom MERGEABLE
    // quantile sketch as streaming aggregation state (the cross-family
    // integration a mergeable sketch exists for: identical aggregate,
    // batch rollup or incremental micro-batch maintenance). The oracle
    // replays the integer log-grid selection per day from the same
    // events — see graft.functions.QuantileSketch.
    query("stream_quantile",
      "WITH e AS (SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS day_start, " +
        "CAST(ROUND(value * 100) AS BIGINT) AS c FROM events WHERE value > 0), " +
        "b AS (SELECT day_start, (c >> s) << s AS bk, COUNT(*) AS cnt FROM (" +
        "SELECT day_start, c, GREATEST(length(bin(c)) - 1 - 6, 0) AS s FROM e) " +
        "GROUP BY 1, 2), " +
        "tot AS (SELECT day_start, CAST(SUM(cnt) AS BIGINT) AS n FROM b GROUP BY 1), " +
        "cum AS (SELECT day_start, bk, CAST(SUM(cnt) OVER (" +
        "PARTITION BY day_start ORDER BY bk) AS BIGINT) AS cum FROM b), " +
        "qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.95)) t(q)), " +
        "sel AS (SELECT cum.day_start AS day_start, qs.q AS q, MIN(cum.bk) AS est " +
        "FROM cum JOIN tot ON cum.day_start = tot.day_start CROSS JOIN qs " +
        "WHERE cum.cum >= GREATEST(CAST(CEIL(qs.q * tot.n) AS BIGINT), 1) " +
        "GROUP BY 1, 2) " +
        "SELECT t.day_start AS day_start, t.n, " +
        "MAX(CASE WHEN sel.q = 0.5 THEN sel.est END) AS p50, " +
        "MAX(CASE WHEN sel.q = 0.95 THEN sel.est END) AS p95 " +
        "FROM sel JOIN tot t ON sel.day_start = t.day_start " +
        "GROUP BY 1, 2 ORDER BY t.day_start",
      depositFeed, "day_start") {
      (s, _, f) => streamQuantile(s, f)
    },

    // Streaming per-day heavy-hitter counts via the custom mergeable CMS
    // as streaming aggregation state (see [[streamHeavyHitters]]); the
    // all-integer oracle replays per-day bucket membership and the min
    // over 4 hash rows exactly like q_cms_heavy_hitters, keyed by day.
    query("stream_heavy_hitters",
      "WITH rows_ AS (SELECT * FROM (VALUES (0), (1), (2), (3)) r(i)), " +
        "probes AS (SELECT CAST(pk AS BIGINT) AS pk FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10)) t(pk)), " +
        "e AS (SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS day_start, " +
        "user_id FROM events), " +
        "db AS (SELECT day_start, i, substr(md5(CAST(user_id AS VARCHAR)), 1 + 3 * i, 3) AS b, " +
        "COUNT(*) AS c FROM e CROSS JOIN rows_ GROUP BY 1, 2, 3), " +
        "days AS (SELECT DISTINCT day_start FROM e), " +
        "pb AS (SELECT day_start, pk, i, substr(md5(CAST(pk AS VARCHAR)), 1 + 3 * i, 3) AS b " +
        "FROM days CROSS JOIN probes CROSS JOIN rows_), " +
        "est AS (SELECT day_start, pk, MIN(COALESCE(c, 0)) AS cms_count " +
        "FROM pb LEFT JOIN db USING (day_start, i, b) GROUP BY 1, 2), " +
        "ex AS (SELECT day_start, user_id AS pk, COUNT(*) AS exact_count FROM e " +
        "WHERE user_id BETWEEN 1 AND 10 GROUP BY 1, 2) " +
        "SELECT est.day_start AS day_start, est.pk AS user_id, est.cms_count, " +
        "COALESCE(ex.exact_count, 0) AS exact_count " +
        "FROM est LEFT JOIN ex ON est.day_start = ex.day_start AND est.pk = ex.pk " +
        "ORDER BY day_start, user_id",
      eventsFeed, "day_start", "user_id") {
      (s, d, f) => streamHeavyHitters(s, d, f)
    },

    // Streaming windowed top-3 event types per day: the day×type totals
    // are maintained by the real micro-batch engine; the rank reads the
    // maintained output (update-mode streams cannot rank across keys
    // in-flight — this maintain-then-rank split IS the production serve
    // shape). Integer-cent sums make the rank order engine-exact.
    query("stream_topk",
      "WITH e AS (SELECT (epoch_us(ts) // 1000000) // 86400 * 86400 AS day_start, " +
        "event_type, value FROM events), " +
        "d AS (SELECT day_start, event_type, COUNT(*) AS n, " +
        "SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total FROM e GROUP BY 1, 2), " +
        "r AS (SELECT day_start, event_type, n, total, ROW_NUMBER() OVER " +
        "(PARTITION BY day_start ORDER BY total DESC, event_type) AS rnk FROM d) " +
        "SELECT day_start, rnk, event_type, n, total FROM r WHERE rnk <= 3 " +
        "ORDER BY day_start, rnk",
      eventsFeed, "day_start", "rnk") {
      (s, _, f) => streamTopK(s, f, k = 3)
    },

    // Streaming session windows (30-min inactivity gap) over the deposit
    // feed; the oracle is the gaps-and-islands sessionization of the same
    // second-granularity events. Break condition is STRICTLY > gap: Spark
    // session windows are [start, last + gap] on merge — an event landing
    // exactly at the close still joins the session (verified: the sf0.1
    // data has exactly one such boundary pair).
    query("stream_session_agg",
      "WITH e AS (SELECT user_id AS wallet_id, epoch_us(ts) // 1000000 AS t, " +
        "value FROM events WHERE value > 0), " +
        "m AS (SELECT *, CASE WHEN LAG(t) OVER w IS NULL " +
        "OR t - LAG(t) OVER w > 1800 THEN 1 ELSE 0 END AS brk " +
        "FROM e WINDOW w AS (PARTITION BY wallet_id ORDER BY t)), " +
        "g AS (SELECT *, SUM(brk) OVER (PARTITION BY wallet_id ORDER BY t " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT wallet_id, MIN(t) AS session_start, COUNT(*) AS n, " +
        "SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total " +
        "FROM g GROUP BY wallet_id, sid ORDER BY wallet_id, session_start",
      sessionFeed, "wallet_id", "session_start") {
      (s, _, f) => streamSessionAgg(s, f)
    },

    // Stream-stream inner join (click→purchase attribution within 1 hour)
    // with watermark-bounded state on both sides; the oracle is the batch
    // time-range join over the same events.
    query("stream_join",
      "SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id, " +
        "p.value FROM events p JOIN events c ON p.user_id = c.user_id " +
        "AND p.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts " +
        "ORDER BY purchase_id, click_id",
      eventsFeed, "purchase_id", "click_id") {
      (s, _, f) => streamStreamJoin(s, f)
    },

    // At-least-once redelivery (feed ∪ feed) collapsed by watermarked
    // streaming dedup — per-wallet totals must equal once-delivery.
    query("stream_dedup",
      "SELECT user_id AS wallet_id, COUNT(*) AS n_deposits, " +
        "SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total " +
        "FROM events WHERE value > 0 GROUP BY 1 ORDER BY 1",
      depositFeed, "wallet_id") {
      (s, _, f) => streamDedup(s, f)
    },

    // Stream ⋈ static dimension enrichment: every micro-batch joins the
    // broadcast customer dim (stateless — nothing buffered), per-segment
    // running totals in complete mode. The oracle is the batch join+agg.
    query("stream_enrich",
      "SELECT c_mktsegment AS segment, COUNT(*) AS n_events, " +
        "SUM(CAST(ROUND(value*100) AS BIGINT))/100.0 AS total " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY 1 ORDER BY 1",
      eventsFeed, "segment") {
      (s, d, f) => streamEnrich(s, d, f)
    },

    // Streaming ingest dedup against the persisted LSH index: arriving
    // documents replay one batch file per micro-batch, each probing the
    // historical artifact asymmetrically inside foreachBatch — dedup AT
    // INGEST, stateless in the stream (corpus knowledge lives in the
    // artifact; per-batch cost tracks the batch). Oracle = the batch
    // served/incremental probe: the micro-batch split must be invisible
    // in the pair set.
    query("stream_lsh_dedup", DedupQueries.incrementalSql,
        docsBatchFeed, "new_id", "dup_of") {
      (s, d, f) => streamLshDedup(s, d, f)
    },

    // Streaming ANN serving from the persisted IVF index: arriving query
    // vectors replay one batch file per micro-batch, each assigned + served
    // top-3 from the index artifact inside foreachBatch — retrieval at
    // ingest, stateless in the stream. Oracle = the batch sim_ivf_served:
    // the micro-batch split must be invisible in the served rows.
    query("stream_ann_serve", SimilarityQueries.ivfServedOracleSql,
        embBatchFeed, "qid", "rank") {
      (s, d, f) => streamAnnServe(s, d, f)
    },

    // Streaming DSIR scoring at ingest — the data-selection gate placed
    // where a production pipeline runs it: each arriving micro-batch of
    // documents is bucketized and scored against the PERSISTED log-ratio
    // artifact (Corpus.dsirScoreBatch, the same dsir_ratios every batch
    // consumer reads) inside foreachBatch. The stream is STATELESS (all
    // corpus knowledge lives in the artifact; per-batch cost tracks the
    // batch), and because the score is per-doc and every doc arrives
    // exactly once, per-batch results compose into the global result:
    // output is row-identical to the batch served chain over the feed
    // subset, which is the oracle.
    query("stream_dsir_score", CorpusQueries.dsirStreamSql,
        docsBatchFeed, "doc_id") {
      (s, d, f) => streamDsirScore(s, d, f)
    },

    // Content-defined chunking AT INGEST — the chunker as the fourth
    // member of the stateless-ingest family (near-dup probe, ANN serve,
    // DSIR score): each arriving micro-batch of documents chunks inside
    // foreachBatch. Chunk ids/digests are per-document functions, so the
    // batch split is invisible and the batch chunker over the feed subset
    // is the oracle (same composition argument as stream_dsir_score).
    query("stream_cdc_chunks", TextQueries.cdcStreamSql,
        docsBatchFeed, "doc_id", "chunk_id") {
      (s, _, f) => streamCdcChunks(s, f)
    },

    // Quality GATE at ingest — the fifth member of the stateless-ingest
    // family (near-dup probe, ANN serve, DSIR score, CDC chunker): each
    // arriving micro-batch scores the text_quality composite inside
    // foreachBatch and only passing documents continue downstream — the
    // standard production placement for Gopher-style corpus filters
    // (score once at the door, never re-scan the lake). The scorer is
    // the SAME shared implementation the batch census audits, and scores
    // are per-document functions, so the batch split is invisible and
    // the batch scorer over the feed subset is the oracle.
    query("stream_quality_gate", TextQueries.qualityGateStreamSql(0.5),
        docsBatchFeed, "doc_id") {
      (s, _, f) => streamQualityGate(s, f, tau = 0.5)
    },

    // HYBRID retrieval at ingest — the RAG serving edge as a streaming
    // topology: each arriving micro-batch of query vectors probes BOTH
    // maintained index artifacts (the sparse tf-idf postings and the
    // trained IVF inverted file) inside foreachBatch and fuses the two
    // k-bounded rankings by RRF (the SAME shared fusion implementation
    // the batch path uses). Stateless — corpus knowledge lives entirely
    // in the artifacts, per-batch cost tracks the batch — and rankings
    // are per-query functions, so the batch split is invisible: the
    // oracle is the single-statement batch fusion of both serve chains
    // over the feed's query set.
    query("stream_hybrid_serve", CorpusQueries.hybridServeStreamSql,
        embBatchFeed, "qid", "rank") {
      (s, d, f) => streamHybridServe(s, d, f)
    },

    // PROVENANCE AT INGEST — the funnel's fate decision placed at the
    // door, the seventh member of the stateless-ingest family: each
    // arriving document gets its first-drop-wins fate (quality gate →
    // exact dedup vs the HISTORY digest artifact → near-dup vs the
    // persisted LSH index → kept) decided inside foreachBatch, so the
    // ingest edge emits the same telemetry record the batch funnel
    // (pipeline_provenance) ships for the lake. Every stage signal is a
    // per-document function of (doc, history) — the SAME shared scorer
    // as stream_quality_gate, the SAME digest/LSH artifacts as the
    // exact/incremental dedup rows — so the micro-batch split is
    // invisible and the oracle replays the identical three stages over
    // the feed subset from the SHARED CTE fragments (no hand-synced
    // replicas).
    query("stream_provenance", provenanceStreamSql,
        docsBatchFeed, "doc_id") {
      (s, d, f) => streamProvenance(s, d, f)
    }
  )

  /** See the stream_provenance registration: the at-ingest fate record's
    * oracle, composed from the shared quality-gate and incremental-LSH
    * CTE fragments plus the exact-digest probe. */
  private def provenanceStreamSql: String =
    s"WITH ${DedupQueries.incrementalCtes}, " +
      "nd AS (SELECT DISTINCT new_id AS doc_id FROM v WHERE jaccard >= 0.5), " +
      "ex AS (SELECT DISTINCT a.doc_id FROM documents a JOIN documents b " +
      "ON a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0 AND md5(a.text) = md5(b.text)), " +
      s"${TextQueries.qualityFeedCtes} " +
      "SELECT q.doc_id, CASE WHEN q.quality IS NULL OR q.quality < 0.5 THEN 'quality' " +
      "WHEN q.doc_id IN (SELECT doc_id FROM ex) THEN 'exact_dup' " +
      "WHEN q.doc_id IN (SELECT doc_id FROM nd) THEN 'near_dup' " +
      "ELSE 'kept' END AS fate, q.quality FROM q ORDER BY q.doc_id"

  /** Per-batch fate decision against the history artifacts: quality is
    * the shared scorer (per-doc), exact-dup probes the read-through
    * md5-digest artifact of the history corpus (the production digest
    * index — one semi equi-join on the digest, batch side broadcast),
    * near-dup probes the persisted LSH index asymmetrically (the
    * stream_lsh_dedup machinery). Signals are computed for the WHOLE
    * batch (the funnel reports the first-drop fate; a quality-dropped
    * doc's dup signals are simply outranked by the CASE order). */
  private def streamProvenance(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val hist = Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0)
    val indexPath = DedupQueries.lshIndexFor(s, dir)
    val digests = IndexCache.cachedFrame(s, "exact_digests",
      "md5", graft.operators.Dedup.docFp(hist)) {
      hist.select(md5(col("text").cast("binary")).as("digest")).distinct()
    }
    foreachBatchReplay(s, feed) { batch =>
      val scored = TextQueries.qualityScored(batch)
        .select(col("doc_id"), col("quality"))
      val exact = batch
        .select(col("doc_id").as("ex_id"),
          md5(col("text").cast("binary")).as("digest"))
        .join(digests, Seq("digest"), "left_semi")
        .select(col("ex_id"))
      val near = graft.operators.Dedup.lshServedPairs(hist, batch, indexPath)
        .select(col("new_id").as("nd_id")).distinct()
      scored
        .join(exact, scored("doc_id") === col("ex_id"), "left")
        .join(near, scored("doc_id") === col("nd_id"), "left")
        .select(scored("doc_id"),
          when(col("quality").isNull || col("quality") < 0.5, lit("quality"))
            .when(col("ex_id").isNotNull, lit("exact_dup"))
            .when(col("nd_id").isNotNull, lit("near_dup"))
            .otherwise(lit("kept")).as("fate"),
          col("quality"))
    }
  }

  /** See the stream_cdc_chunks registration: per-batch chunking,
    * stateless, composes because chunks are per-doc. */
  private def streamCdcChunks(s: SparkSession, feed: Feed): DataFrame =
    foreachBatchReplay(s, feed) { batch =>
      graft.operators.Corpus.cdcChunks(batch)
    }

  /** See the stream_quality_gate registration: per-batch scoring + gate,
    * stateless, composes because the score is per-doc. */
  private def streamQualityGate(s: SparkSession, feed: Feed, tau: Double): DataFrame =
    foreachBatchReplay(s, feed) { batch =>
      TextQueries.qualityScored(batch)
        .where(col("quality") >= tau)
        .select(col("doc_id"), col("n_tokens"), col("quality"))
    }

  /** See the stream_dsir_score registration: per-batch artifact probe,
    * stateless, composes because scores are per-doc. */
  private def streamDsirScore(s: SparkSession, dir: String, feed: Feed): DataFrame = {
    val docs = Tables.documents(s, dir)
    foreachBatchReplay(s, feed) { batch =>
      graft.operators.Corpus.dsirScoreBatch(docs, batch, buckets = 128,
        isTarget = col("doc_id") % 7 === 0)
    }
  }
}

package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * client-side spans line up with Spark's epoch-millisecond event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Traced runs alternate tracing on and off every half second of the
  * measured phase, so the tracing overhead is the difference between the
  * two halves of one run, free of warm-up drift. */
object Tracing {
  def on(elapsedMs: Double): Boolean = (elapsedMs / 500).toLong % 2 == 1
}

/** One traced interval. Spans of one request or query share `id`. */
final case class Span(id: String, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Per-scope totals of the Spark scheduler's task metrics. */
final class ScopeAgg {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs, waitMs = new AtomicLong
  val shuffleReadB, shuffleWriteB, spillB = new AtomicLong

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "task_s" -> runMs.get / 1e3, "cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3, "task_wait_s" -> waitMs.get / 1e3,
    "shuffle_read_mb" -> shuffleReadB.get / 1048576.0,
    "shuffle_write_mb" -> shuffleWriteB.get / 1048576.0,
    "spill_mb" -> spillB.get / 1048576.0)
}

/** Scheduler-side layer probe over Spark's public `SparkListener`.
  *
  * Work is attributed to the scope named by the `perfbench.scope` local
  * property of the thread that submitted the job (Spark copies local
  * properties onto every job and stage it launches). Micro-batch jobs of a
  * streaming query land in scope `streaming`; anything else in `other`.
  * While tracing (see [[traceWhen]]), jobs and stages also become spans. */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  val scopes = new ConcurrentHashMap[String, ScopeAgg]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stageBatch = new ConcurrentHashMap[Int, String]()
  /** Executor run time (ms) and CPU time (ns) of each micro-batch, keyed
    * by [[SparkProbe.batchKey]]. */
  val batchTasks = new ConcurrentHashMap[String, (AtomicLong, AtomicLong)]()
  @volatile private var drainedMarker = -1
  @volatile private var tracing: Double => Boolean = _ => false

  /** Records job and stage spans whose start satisfies `pred`. */
  def traceWhen(pred: Double => Boolean): Unit = tracing = pred

  spark.sparkContext.addSparkListener(this)

  private def scopeOf(p: java.util.Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(SparkProbe.ScopeKey)))
      .orElse(Option(p).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(_ => "streaming"))
      .getOrElse("other")

  private def agg(scope: String): ScopeAgg =
    scopes.computeIfAbsent(scope, _ => new ScopeAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val scope = scopeOf(e.properties)
    e.stageIds.foreach(stageScope.put(_, scope))
    for (p <- Option(e.properties); q <- Option(p.getProperty(SparkProbe.QueryIdKey));
         b <- Option(p.getProperty(SparkProbe.BatchIdKey)))
      e.stageIds.foreach(stageBatch.put(_, SparkProbe.batchKey(q, b.toLong)))
    agg(scope).jobs.incrementAndGet()
    jobStart.put(e.jobId, (scope, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = Option(jobStart.remove(e.jobId))
    started.filter(s => tracing(s._2.toDouble)).foreach { case (scope, t0) =>
      spans.add(Span(scope, "job", s"job ${e.jobId}", t0.toDouble, e.time.toDouble))
    }
    started.filter(_._1 == SparkProbe.DrainScope).foreach(_ => drainedMarker = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    val scope = Option(stageScope.get(id)).getOrElse(scopeOf(e.properties))
    stageScope.put(id, scope)
    stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    agg(scope).stages.incrementAndGet()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    for (t0 <- info.submissionTime if tracing(t0.toDouble); t1 <- info.completionTime)
      spans.add(Span(Option(stageScope.get(info.stageId)).getOrElse("other"),
        "stage", s"stage ${info.stageId}", t0.toDouble, t1.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(Option(stageScope.get(e.stageId)).getOrElse("other"))
    a.tasks.incrementAndGet()
    Option(stageSubmitMs.get(e.stageId)).foreach { t0 =>
      a.waitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t0))
    }
    val m = e.taskMetrics
    if (m != null) {
      a.runMs.addAndGet(m.executorRunTime)
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillB.addAndGet(m.diskBytesSpilled)
      Option(stageBatch.get(e.stageId)).foreach { k =>
        val (run, cpu) = batchTasks.computeIfAbsent(k, _ => (new AtomicLong, new AtomicLong))
        run.addAndGet(m.executorRunTime); cpu.addAndGet(m.executorCpuTime)
      }
    }
  }

  /** Blocks until the listener has seen every event posted so far: runs a
    * marker job and waits for its end event, which the bus delivers after
    * everything queued ahead of it. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkProbe.ScopeKey)
    sc.setLocalProperty(SparkProbe.ScopeKey, SparkProbe.DrainScope)
    val before = drainedMarker
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkProbe.ScopeKey, prev)
    val deadline = System.currentTimeMillis() + 30000
    while (drainedMarker == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def totals(scope: String): Map[String, Double] =
    Option(scopes.get(scope)).map(_.toMap).getOrElse(new ScopeAgg().toMap)

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}

object SparkProbe {
  val ScopeKey = "perfbench.scope"
  val DrainScope = "perfbench.drain"
  // Local properties Spark sets on every job of a micro-batch.
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"

  def batchKey(queryId: String, batchId: Long): String = s"$queryId/$batchId"

  /** Runs `body` with every Spark job it submits attributed to `scope`. */
  def scoped[T](spark: SparkSession, scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ScopeKey)
    sc.setLocalProperty(ScopeKey, scope)
    try body finally sc.setLocalProperty(ScopeKey, prev)
  }
}

/** Micro-batch probe over Spark's public `StreamingQueryListener`: keeps
  * every progress report, which carries the batch's phase durations and
  * its state-store size and commit time. */
final class StreamProbe(spark: SparkSession) extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Waits until every active query's latest batch has been reported. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 30000
    def caughtUp = spark.streams.active.forall { q =>
      val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      progress.asScala.exists(p => p.id == q.id && p.batchId >= last)
    }
    while (!caughtUp && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Progress reports that started inside [fromMs, toMs), as plain records,
    * each with the executor time `tasks` attributed to its micro-batch. */
  def batches(fromMs: Double, toMs: Double, tasks: SparkProbe): Seq[Map[String, Any]] =
    progress.asScala.toSeq.flatMap { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val (runMs, cpuNs) = Option(tasks.batchTasks.get(SparkProbe.batchKey(p.id.toString, p.batchId)))
        .map { case (r, c) => (r.get, c.get) }.getOrElse((0L, 0L))
      if (t0 < fromMs || t0 >= toMs || p.numInputRows == 0) None
      else Some(Map(
        "query" -> Option(p.name).getOrElse(p.id.toString),
        "batch_id" -> p.batchId,
        "start_ms" -> t0,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "task_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6))
    }

  def close(): Unit = spark.streams.removeListener(this)
}

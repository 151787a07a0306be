package graft.sources.replay

import java.util
import java.util.OptionalLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

/** `graft-replay` — the engine's DataSource V2 connector, reading the
  * framed replay-log segments of [[ReplayLog]] (the file-backed analog of
  * the reference's Kafka deposit topic; format doc there).
  *
  * The V2 surface it implements, and why each matters at 100 TB:
  *
  *  - '''Segment pruning from pushed filters''' ([[SupportsPushDownFilters]]):
  *    offset/ts range predicates are evaluated against the bounds carried
  *    in segment NAMES at planning time, so whole files drop out of
  *    [[Batch.planInputPartitions]] before any I/O — the same move as
  *    parquet row-group stats or an Iceberg manifest scan, and on an
  *    archived topic it turns "read the retention window" into "read the
  *    three segments the predicate touches". Surviving filters are ALSO
  *    applied per-record in the reader (the pushdown contract: a filter
  *    this source accepts is guaranteed applied).
  *  - '''Column pruning''' ([[SupportsPushDownRequiredColumns]]): the
  *    required schema reaches the frame reader, which skips the proto
  *    decode of the value payload entirely when neither `wallet_id` nor
  *    `amount` is needed — pruning that reaches past the envelope into
  *    the serialized message, which a generic binary-file read cannot do.
  *  - '''One InputPartition per segment''': scan parallelism tracks the
  *    log's own layout (Kafka's unit of parallel consumption), and each
  *    reader is a single sequential stream — no seeks.
  *  - '''Snapshots + time travel''' (`.option("asOfVersion", n)`): every
  *    commit records its manifest as an immutable `_manifest-v<N>`
  *    snapshot, and a snapshot read resolves the live set through that
  *    version — the Iceberg snapshot/time-travel pattern on the one-file
  *    manifest protocol. Overwrites and compactions retire segments
  *    from the live set but keep them on disk while any snapshot
  *    references them; [[ReplayLog.expireSnapshots]] is the VACUUM that
  *    reclaims history. Driver-side metadata only (version files hold
  *    names, not data), so snapshots cost O(#segments) text per commit
  *    regardless of log size.
  *
  * Registered under the short name `graft-replay` via
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`:
  * {{{ spark.read.format("graft-replay").load(dir) }}}
  */
class ReplaySource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplaySource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-replay requires a path: spark.read.format(\"graft-replay\").load(dir)"))
    val maxSegs = Option(properties.get("maxSegmentsPerTrigger")).map(_.toInt)
    val asOf = Option(properties.get("asOfVersion")).map(_.toLong)
    new ReplayTable(path, maxSegs, asOf)
  }
}

object ReplaySource {
  /** The Kafka message envelope (offset, broker-time analog) plus the
    * decoded proto `Deposit` payload. Declared nullable (readers still
    * always emit non-null): a non-null table schema would make V2
    * append reject any upstream whose columns are merely DECLARED
    * nullable — e.g. a parquet-sourced projection — at analysis time. */
  val Schema: StructType = StructType(Seq(
    StructField("offset", LongType),
    StructField("ts_unix", LongType),
    StructField("wallet_id", StringType),
    StructField("amount", DoubleType)))
}

final class ReplayTable(path: String, maxSegmentsPerTrigger: Option[Int],
                        asOfVersion: Option[Long] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** `DELETE FROM` — copy-on-write through [[ReplayDelete]]: untouched
    * segments keep their files, bounds-covered segments drop with zero
    * I/O (the retention cut), partial segments rewrite one Spark task
    * each under `-g<gen>` names; pre-delete snapshots keep the old data
    * until [[ReplayLog.expireSnapshots]] (the actual erasure point).
    * Accepted predicates are exactly the scan's pushable set (plus the
    * bare-truncate AlwaysTrue, which is metadata-only). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    asOfVersion.isEmpty && filters.forall {
      case _: org.apache.spark.sql.sources.AlwaysTrue => true
      case f => ReplayFilters.supported(f)
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(asOfVersion.isEmpty,
      "graft-replay: cannot DELETE through an asOfVersion time-travel read")
    ReplayDelete.run(org.apache.spark.sql.SparkSession.active, path, filters)
  }
  override def name(): String =
    s"graft-replay:$path" + asOfVersion.map(v => s"@v$v").getOrElse("")

  /** `_segment` — the frame's provenance file, the analog of the file
    * source's `_metadata.file_name` / Kafka's partition column: surfaced
    * only when selected (it rides column pruning like any column), free
    * to produce (the reader already knows its segment). Lets a consumer
    * audit WHERE a record came from — which compaction generation, which
    * retention window — without leaving SQL. */
  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_segment"
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "segment file name this frame was read from"
    })
  override def schema(): StructType = ReplaySource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ReplayScanBuilder(path, maxSegmentsPerTrigger, asOfVersion)

  /** V2 WRITE: each task streams its rows into a hidden `.inprogress`
    * temp, and segments become visible ONLY at job commit (driver-side
    * rename from the commit messages) — all-or-nothing publication, the
    * commit protocol a real sink needs. `mode("append")` appends
    * segments (a log is append-only); `mode("overwrite")` truncates the
    * existing segments at commit, after the new ones are staged. Input
    * must carry exactly the connector schema. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // A snapshot is immutable history; the only writable state is the
    // current one (same rule as Iceberg: no writes through a time-travel
    // relation).
    require(asOfVersion.isEmpty,
      "graft-replay: cannot write through an asOfVersion time-travel read")
    val got = info.schema().fields.map(f => f.name -> f.dataType).toSeq
    val want = ReplaySource.Schema.fields.map(f => f.name -> f.dataType).toSeq
    require(got == want,
      s"graft-replay write schema must be ${ReplaySource.Schema.simpleString}, got ${info.schema().simpleString}")
    new ReplayWriteBuilder(path, info.queryId())
  }
}

final class ReplayWriteBuilder(path: String, queryId: String) extends WriteBuilder
    with SupportsTruncate {
  private var truncateOnCommit = false
  override def truncate(): WriteBuilder = { truncateOnCommit = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new ReplayBatchWrite(path, truncateOnCommit)
    /** STREAMING_WRITE: the V2 sink leg — same staged-temp + atomic
      * manifest commit as the batch path, but keyed by epoch id so a
      * replayed micro-batch (restart re-running the last uncommitted
      * batch) publishes nothing twice. Append-only: a log has no
      * complete-mode semantics. */
    override def toStreaming: StreamingWrite = {
      require(!truncateOnCommit,
        "graft-replay streaming sink is append-only (no complete/truncate mode)")
      new ReplayStreamingWrite(path, queryId)
    }
  }
}

/** One staged temp per task attempt; the driver publishes at commit. */
final case class ReplaySegmentCommit(tmpPath: String, base: Long, last: Long,
                                     minTs: Long, maxTs: Long)
    extends WriterCommitMessage

/** The commit protocol shared by the batch and streaming write legs. */
private[replay] object ReplayCommit {
  /** Publication order makes the commit crash-safe at every cut point:
    * (1) rename the staged temps, which [[ReplayLog.SegmentWriter]]
    * forced to disk before reporting them, to their segment names — still
    * invisible, the manifest doesn't list them; (2) REPLACE the manifest
    * atomically (append: prior ∪ new; overwrite: new only; the epoch
    * ledger rides in the same file, so a streaming epoch is recorded in
    * the very rename that publishes its segments) — this single rename
    * is the commit point; (3) record the committed content as the next
    * immutable `_manifest-v<N>` snapshot (time travel; written AFTER
    * the commit point so a snapshot can only describe a committed
    * state — the crash window "committed, not snapshotted" is healed at
    * the top of the next publish); (4) best-effort delete of the files
    * neither the new manifest NOR ANY RETAINED SNAPSHOT lists (an
    * overwrite retires old segments from the live set but time travel
    * keeps them on disk until [[ReplayLog.expireSnapshots]]). A crash
    * before (2) leaves the old log fully intact (stray unlisted files
    * only); after (2) the new layout is complete and the strays are
    * garbage a later overwrite sweeps. */
  def publish(path: String, messages: Array[WriterCommitMessage],
              truncate: Boolean, epoch: Option[(String, Long)]): Unit = {
    val dir = new java.io.File(path); dir.mkdirs()
    ReplayLog.snapshotCurrentIfUnversioned(path)
    val prior: Seq[String] =
      if (truncate) Seq.empty
      else ReplayLog.segments(path).map(s => new java.io.File(s.path).getName)
    val priorSet = prior.toSet
    // Names SNAPSHOTS still reference must never be overwritten: an
    // overwrite/compaction that reproduces a retired segment's bounds
    // with DIFFERENT content would silently mutate time-travel history
    // through the bare bounds name — so such segments publish under a
    // fresh `-g<generation>` name instead (the ReplayDelete move). Only
    // a same-named file that is referenced by NOTHING (aborted-job
    // debris) is cleared and replaced.
    val referenced = priorSet ++ ReplayLog.retainedNames(path)
    val staged = messages.collect {
      case ReplaySegmentCommit(tmp, base, last, minTs, maxTs) =>
        val bare = ReplayLog.segmentName(base, last, minTs, maxTs)
        // A name collision with the LIVE set means this append carries
        // offsets the log already holds — POSIX rename would silently
        // REPLACE the existing segment (rename(2) overwrites), so the
        // misuse must fail loudly instead: a log append carries fresh
        // offsets, like a topic partition.
        if (priorSet.contains(bare))
          throw new IllegalStateException(
            s"graft-replay append collides with live segment $bare — " +
              "appended frames must carry offsets beyond the log's tail")
        (tmp, base, last, minTs, maxTs, bare)
    }
    var gen = System.currentTimeMillis()
    def finalName(s: (String, Long, Long, Long, Long, String)): String =
      if (referenced.contains(s._6))
        ReplayLog.segmentName(s._2, s._3, s._4, s._5, gen)
      else s._6
    while (staged.exists(s => referenced.contains(s._6) &&
      new java.io.File(dir, finalName(s)).exists())) gen += 1
    val added = staged.map { s =>
      val name = finalName(s)
      val dest = new java.io.File(dir, name)
      // Unreferenced same-named file = debris from an earlier aborted
      // job — clear it so the rename publishes THIS task's staged
      // frames, never inherits a file of unknown content. Any rename
      // failure after that is a real commit failure: treating "dest
      // already exists" as success would publish the stray and leak the
      // actual data unpublished.
      if (dest.isFile && !dest.delete())
        throw new IllegalStateException(
          s"cannot clear stray pre-existing segment $dest")
      if (!new java.io.File(s._1).renameTo(dest))
        throw new IllegalStateException(s"cannot publish segment $dest")
      name
    }
    if (added.distinct.size != added.size)
      throw new IllegalStateException(
        "graft-replay write produced duplicate segment bounds within one job")
    val live = prior ++ added
    val epochs = epoch.foldLeft(ReplayLog.readEpochs(path)) {
      case (m, (q, e)) => m.updated(q, e)
    }
    ReplayLog.publishManifest(path, live, epochs)
    if (truncate) {
      val keep = live.toSet ++ ReplayLog.retainedNames(path)
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.endsWith(ReplayLog.Extension) &&
          !keep.contains(f.getName))
        .foreach(_.delete())
    }
  }

  def dropStaged(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case ReplaySegmentCommit(tmp, _, _, _, _) => new java.io.File(tmp).delete()
      case _ => ()
    }
}

final class ReplayBatchWrite(path: String, truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new ReplayDataWriterFactory(path)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    ReplayCommit.publish(path, messages, truncate, epoch = None)

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ReplayCommit.dropStaged(messages)
}

/** The streaming half of the sink: one [[ReplayCommit.publish]] per
  * micro-batch, recorded in the manifest's epoch ledger under this
  * query's id. Epochs per query are monotone and commit in order
  * (MicroBatchExecution is sequential), so "already committed" is just
  * `epochId <= recorded max` — a restart that re-runs the last batch
  * (Spark's own commit log trailing the sink's) stages fresh temps,
  * lands here, and drops them without publishing: exactly-once
  * publication over an at-least-once replay. */
final class ReplayStreamingWrite(path: String, queryId: String)
    extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new ReplayStreamingWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val committed = ReplayLog.readEpochs(path).get(queryId).exists(_ >= epochId)
    if (committed) ReplayCommit.dropStaged(messages)
    else ReplayCommit.publish(path, messages, truncate = false,
      epoch = Some(queryId -> epochId))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    ReplayCommit.dropStaged(messages)
}

final class ReplayStreamingWriterFactory(path: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new ReplayDataWriter(path)
}

final class ReplayDataWriterFactory(path: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ReplayDataWriter(path)
}

/** Streams frames to a hidden temp ([[ReplayLog.SegmentWriter]]); bounds
  * ride the commit message so the driver can name the segment. An empty
  * partition commits nothing. */
final class ReplayDataWriter(path: String) extends DataWriter[InternalRow] {
  private val segment = new ReplayLog.SegmentWriter(new java.io.File(path))

  override def write(row: InternalRow): Unit = {
    // The table schema is declared nullable only so V2 append accepts
    // parquet-sourced (declared-nullable) input; the wire format has no
    // null representation. Unguarded getLong would silently encode a null
    // offset/ts as 0 (corrupting offsets and the segment's name-carried
    // bounds), and a null wallet_id would surface as a raw NPE mid-task.
    var i = 0
    while (i < 4) {
      if (row.isNullAt(i))
        throw new IllegalArgumentException(
          s"graft-replay does not accept null columns (column $i of " +
            "offset/ts_unix/wallet_id/amount is null)")
      i += 1
    }
    segment.write(row.getLong(0), row.getLong(1),
      row.getUTF8String(2).getBytes, row.getDouble(3))
  }

  override def commit(): WriterCommitMessage =
    segment.finish().getOrElse(ReplayEmptyCommit)
  override def abort(): Unit = segment.abort()
  override def close(): Unit = ()
}

case object ReplayEmptyCommit extends WriterCommitMessage

final class ReplayScanBuilder(path: String, maxSegs: Option[Int],
                              asOf: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownAggregates
    with SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = ReplaySource.Schema
  private var limit: Option[Int] = None
  private var topN: Option[ReplayTopN] = None
  private var aggOps: Option[Array[ReplayAggOp]] = None

  /** Accept exactly the filters the reader evaluates natively: offset /
    * ts_unix comparisons (which also prune segments) and wallet_id
    * equality/IN. Everything else stays Spark-side (returned unsupported). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(ReplayFilters.supported)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown: each reader stops after `n` emitted frames (the
    * partition-local half of a global limit — Spark still applies the
    * global cut, but the scan stops streaming bytes after n matches
    * instead of draining its segment). Partial by contract: return
    * false so Spark keeps its own Limit on top. */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); false }

  /** TOP-N pushdown (`ORDER BY offset|ts_unix [DESC] LIMIT n`), PARTIAL
    * by contract (Spark keeps the global TakeOrdered): each reader emits
    * only its segment's n extremes from a bounded heap, and — the real
    * prize — when the segments' offset ranges are pairwise DISJOINT (the
    * connector's own writer guarantees it; verified from NAME bounds at
    * plan time) an offset top-n needs only the first n segments in bound
    * order: every frame of a later segment orders after every frame of
    * the kept ones. `ORDER BY offset LIMIT 10` on a million-segment
    * archive reads ≤ 10 files. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (orders.length != 1) return false
    orders(0).expression() match {
      case r: NamedReference if r.fieldNames.length == 1 &&
          ReplayFilters.isLongCol(r.fieldNames()(0)) =>
        topN = Some(ReplayTopN(r.fieldNames()(0),
          orders(0).direction() == SortDirection.DESCENDING, n))
        true
      case _ => false
    }
  }
  override def isPartiallyPushed(): Boolean = true

  /** AGGREGATE pushdown, PARTIAL by design: each segment answers
    * COUNT(*) / MIN / MAX(offset|ts_unix) locally — min/max straight
    * from its name-carried bounds (no I/O at all), count from an
    * envelope-header walk (no key copy, no proto decode) — and Spark's
    * final aggregate folds the one-row-per-segment results. Partial
    * rather than complete on purpose: complete pushdown would have to
    * produce the single global row at planning time, i.e. a DRIVER-side
    * walk of every segment — at 100 TB the count must travel with the
    * segments. Declined whenever data filters or a limit were pushed
    * (name bounds only describe the unfiltered segment) or a group-by is
    * present. */
  private def translate(agg: Aggregation): Option[Array[ReplayAggOp]] = {
    def boundCol(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 &&
          ReplayFilters.isLongCol(r.fieldNames()(0)) =>
          Some(r.fieldNames()(0))
        case _ => None
      }
    if (pushed.nonEmpty || limit.nonEmpty || topN.nonEmpty ||
        agg.groupByExpressions.nonEmpty)
      return None
    val ops = agg.aggregateExpressions.map {
      case _: CountStar => ReplayAggOp("count", "")
      case m: Min => boundCol(m.column).map(ReplayAggOp("min", _)).orNull
      case m: Max => boundCol(m.column).map(ReplayAggOp("max", _)).orNull
      case _ => null
    }
    if (ops.contains(null)) None else Some(ops)
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean = false

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case some @ Some(_) => aggOps = some; true
      case None => false
    }

  override def build(): Scan = aggOps match {
    case Some(ops) => new ReplayAggScan(path, ops, asOf)
    case None => new ReplayScan(path, pushed, required, maxSegs, limit, topN, asOf)
  }
}

/** One pushed top-n: order column, direction, and the bound. */
final case class ReplayTopN(col: String, desc: Boolean, n: Int)

/** One pushed aggregate: `op` ∈ count|min|max, `col` the bound column
  * (empty for count). Serializable — rides in the InputPartitions. */
final case class ReplayAggOp(op: String, col: String) {
  override def toString: String =
    if (op == "count") "COUNT(*)" else s"${op.toUpperCase}($col)"
}

/** Scan planned when an aggregate was pushed: one partition per segment,
  * each emitting a single row of per-segment partials in pushed-agg
  * order. Spark rewrites the query's final aggregate to fold these
  * (count→sum of counts, min→min of mins, max→max of maxes). An empty
  * log plans ONE synthetic partition holding (0, null, null, …): the
  * folded SUM over zero rows would be NULL where COUNT(*) must be 0. */
final class ReplayAggScan(path: String, ops: Array[ReplayAggOp],
                          asOf: Option[Long] = None)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(ops.map(o => StructField(o.toString, LongType,
      nullable = o.op != "count")))
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val segs = ReplayLog.segments(path, asOf)
    if (segs.isEmpty) Array(ReplayAggPartition(null, 0, 0, 0, 0))
    else segs.map(s => ReplayAggPartition(s.path, s.baseOffset, s.lastOffset,
      s.minTs, s.maxTs): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayAggReaderFactory(ops)

  override def description(): String =
    s"graft-replay $path" + asOf.map(v => s" asOfVersion=$v").getOrElse("") +
      s", PushedAggregates: [${ops.mkString(", ")}] " +
      "(per-segment partials: min/max from name bounds, count from envelope walk)"
}

final case class ReplayAggPartition(segPath: String, base: Long, last: Long,
                                    minTs: Long, maxTs: Long)
    extends InputPartition

final class ReplayAggReaderFactory(ops: Array[ReplayAggOp])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ReplayAggPartition]
    new PartitionReader[InternalRow] {
      private var served = false
      override def next(): Boolean = { val r = !served; served = true; r }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(ops.length)
        val empty = part.segPath == null
        var i = 0
        while (i < ops.length) {
          ops(i) match {
            case ReplayAggOp("count", _) =>
              row.setLong(i, if (empty) 0L else ReplayLog.countFrames(part.segPath))
            case ReplayAggOp("min", c) =>
              if (empty) row.update(i, null)
              else row.setLong(i, if (c == "offset") part.base else part.minTs)
            case ReplayAggOp("max", c) =>
              if (empty) row.update(i, null)
              else row.setLong(i, if (c == "offset") part.last else part.maxTs)
            case other => throw new IllegalStateException(s"unknown agg $other")
          }
          i += 1
        }
        row
      }
      override def close(): Unit = ()
    }
  }
}

/** Filter subset the source handles, compiled to per-frame predicates. */
private[replay] object ReplayFilters {
  def supported(f: Filter): Boolean = f match {
    // Every column of every frame is non-null by construction, so the
    // IsNotNull guards Spark pushes alongside comparisons are absorbed
    // here (trivially true per frame) instead of surviving as a
    // post-scan Filter node.
    case IsNotNull(a) if ReplaySource.Schema.fieldNames.contains(a) => true
    case EqualTo(a, _: java.lang.Long) if isLongCol(a) => true
    case EqualTo(a, _: java.lang.Integer) if isLongCol(a) => true
    case GreaterThan(a, _) if isLongCol(a) => true
    case GreaterThanOrEqual(a, _) if isLongCol(a) => true
    case LessThan(a, _) if isLongCol(a) => true
    case LessThanOrEqual(a, _) if isLongCol(a) => true
    case EqualTo("wallet_id", _: String) => true
    case In("wallet_id", vs) => vs.forall(_.isInstanceOf[String])
    // Runtime (DPP-style) filters arrive as IN over the join keys.
    case In(a, vs) if isLongCol(a) =>
      vs.forall(v => v.isInstanceOf[java.lang.Long] || v.isInstanceOf[java.lang.Integer])
    case _ => false
  }
  /** Whether `a` is one of the two long columns, offset and ts_unix. */
  def isLongCol(a: String): Boolean = a == "offset" || a == "ts_unix"

  private def lv(v: Any): Long = v match {
    case l: java.lang.Long => l
    case i: java.lang.Integer => i.toLong
    case other => throw new IllegalStateException(s"non-integral bound $other")
  }

  /** Segment-level test: can `seg` contain a frame passing `f`?
    * Conservative (unknown shapes keep the segment). */
  def segmentMayMatch(f: Filter, seg: ReplayLog.SegmentMeta): Boolean = f match {
    case EqualTo("offset", v) => lv(v) >= seg.baseOffset && lv(v) <= seg.lastOffset
    case GreaterThan("offset", v) => seg.lastOffset > lv(v)
    case GreaterThanOrEqual("offset", v) => seg.lastOffset >= lv(v)
    case LessThan("offset", v) => seg.baseOffset < lv(v)
    case LessThanOrEqual("offset", v) => seg.baseOffset <= lv(v)
    case EqualTo("ts_unix", v) => lv(v) >= seg.minTs && lv(v) <= seg.maxTs
    case GreaterThan("ts_unix", v) => seg.maxTs > lv(v)
    case GreaterThanOrEqual("ts_unix", v) => seg.maxTs >= lv(v)
    case LessThan("ts_unix", v) => seg.minTs < lv(v)
    case LessThanOrEqual("ts_unix", v) => seg.minTs <= lv(v)
    // The segment survives if ANY of the IN values lands in its bounds —
    // this is what turns a runtime join-key filter into whole-segment
    // pruning (the replay log's dynamic-partition-pruning analog).
    case In("offset", vs) =>
      vs.exists(v => lv(v) >= seg.baseOffset && lv(v) <= seg.lastOffset)
    case In("ts_unix", vs) =>
      vs.exists(v => lv(v) >= seg.minTs && lv(v) <= seg.maxTs)
    case _ => true
  }

  /** Record-level test (guaranteed application of every pushed filter). */
  def frameMatches(f: Filter, fr: ReplayLog.Frame,
                   wallet: () => String): Boolean = f match {
    case EqualTo("offset", v) => fr.offset == lv(v)
    case GreaterThan("offset", v) => fr.offset > lv(v)
    case GreaterThanOrEqual("offset", v) => fr.offset >= lv(v)
    case LessThan("offset", v) => fr.offset < lv(v)
    case LessThanOrEqual("offset", v) => fr.offset <= lv(v)
    case EqualTo("ts_unix", v) => fr.tsUnix == lv(v)
    case GreaterThan("ts_unix", v) => fr.tsUnix > lv(v)
    case GreaterThanOrEqual("ts_unix", v) => fr.tsUnix >= lv(v)
    case LessThan("ts_unix", v) => fr.tsUnix < lv(v)
    case LessThanOrEqual("ts_unix", v) => fr.tsUnix <= lv(v)
    case EqualTo("wallet_id", v: String) => wallet() == v
    case In("wallet_id", vs) => vs.exists(_ == wallet())
    case In(a, vs) if isLongCol(a) =>
      // Fallback only — the reader splits long-column IN filters out and
      // probes a hash set per frame instead of scanning the value array.
      vs.exists(lv(_) == (if (a == "offset") fr.offset else fr.tsUnix))
    case _ => true
  }

  /** Split long-column IN filters (runtime join-key sets, possibly
    * thousands of values) out of `filters`, compiled to hash sets: the
    * per-frame test must be O(1), not O(|keys|). */
  def compile(filters: Array[Filter]): (Array[Filter], Array[(Boolean, Set[Long])]) = {
    val (ins, rest) = filters.partition {
      case In(a, _) if isLongCol(a) => true
      case _ => false
    }
    (rest, ins.map { case In(a, vs) => (a == "offset", vs.map(lv).toSet) })
  }
}

final class ReplayScan(path: String, filters: Array[Filter],
                       required: StructType, maxSegs: Option[Int] = None,
                       limit: Option[Int] = None,
                       topN: Option[ReplayTopN] = None,
                       asOf: Option[Long] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** RUNTIME filtering — the replay log's dynamic-partition-pruning
    * analog: a join whose other side was filtered down hands this scan
    * an IN over the join keys at EXECUTION time, after planning but
    * before the scan runs, and [[planInputPartitions]] re-prunes whole
    * segments against it. At 100 TB this is the difference between
    * reading the retention window a static predicate selects and reading
    * only the segments the probe keys actually land in. Correctness does
    * not depend on it (the join re-filters); segment selection does. */
  @volatile private var runtime: Array[Filter] = Array.empty
  /** Spec hook: (survivors, candidates) of the last runtime re-prune. */
  @volatile var runtimeSelection: Option[(Int, Int)] = None

  /** Only columns that SURVIVED pruning: Spark resolves these against
    * the scan's output, so naming a pruned column is an analysis error
    * (and a join can only hand us keys it actually reads). */
  override def filterAttributes(): Array[NamedReference] =
    Array("offset", "ts_unix").filter(required.fieldNames.contains)
      .map(Expressions.column)

  override def filter(runtimeFilters: Array[Filter]): Unit =
    runtime = runtimeFilters.filter(ReplayFilters.supported)

  /** Segments surviving name-bound pruning against the STATIC pushed
    * filters (computed at plan time; runtime filters re-prune below). */
  lazy val plannedSegments: Seq[ReplayLog.SegmentMeta] =
    ReplayLog.segments(path, asOf).filter(seg =>
      filters.forall(f => ReplayFilters.segmentMayMatch(f, seg)))

  /** Total segments in the (possibly time-traveled) live set (spec
    * hook: prunedSegments = total - planned). */
  lazy val totalSegments: Int = ReplayLog.segments(path, asOf).size

  override def planInputPartitions(): Array[InputPartition] = {
    val segs =
      if (runtime.isEmpty) plannedSegments
      else {
        val survivors = plannedSegments.filter(seg =>
          runtime.forall(f => ReplayFilters.segmentMayMatch(f, seg)))
        runtimeSelection = Some((survivors.size, plannedSegments.size))
        survivors
      }
    // Offset top-n over DISJOINT segment ranges (the connector's writer
    // guarantees disjointness; re-checked from name bounds because an
    // externally-assembled log may overlap): each segment holds ≥ 1
    // frame, so the n extreme frames live inside the n extreme segments
    // in bound order. ONLY when no per-frame filter is in play: a pushed
    // wallet predicate (or runtime key set) can leave an early segment
    // with zero matches while later segments still hold them — the
    // "≥ 1 frame per kept segment" premise only covers unfiltered reads
    // (IsNotNull is vacuously true per frame, so it doesn't spoil it).
    // ts bounds can overlap arbitrarily — no file-level cut for ts
    // top-n, the reader's heap still bounds the emit either way.
    val cut = topN match {
      case Some(t) if t.col == "offset" && cutSafe && disjointByOffset(segs) =>
        val ordered =
          if (t.desc) segs.sortBy(s => -s.lastOffset)
          else segs.sortBy(_.baseOffset)
        ordered.take(t.n)
      case _ => segs
    }
    cut.map(s => ReplaySegmentPartition(s.path): InputPartition).toArray
  }

  private def cutSafe: Boolean =
    runtime.isEmpty && filters.forall {
      case IsNotNull(_) => true
      case _ => false
    }

  private def disjointByOffset(segs: Seq[ReplayLog.SegmentMeta]): Boolean = {
    val sorted = segs.sortBy(_.baseOffset)
    sorted.zip(sorted.drop(1)).forall { case (a, b) => b.baseOffset > a.lastOffset }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory(filters ++ runtime, required.fieldNames, limit, topN)

  /** Post-pruning size (file bytes of the surviving segments) — so the
    * optimizer's join-side sizing sees the PRUNED read, not the whole
    * log: a predicate that cuts an archive to three segments makes the
    * scan broadcast-eligible, exactly like file-source pruning does. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes =
      plannedSegments.map(s => new java.io.File(s.path).length()).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }

  /** Streaming read: the log consumed by OFFSET RANGE per micro-batch —
    * Kafka's consumption model over the same segments the batch scan
    * reads. `maxSegmentsPerTrigger` bounds each batch's admission at
    * whole-segment granularity (the Kafka-source maxOffsetsPerTrigger
    * analog); offsets checkpoint as the last consumed frame offset, so
    * restart resumes exactly after the last committed batch. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // A stream tails the LIVE log; a frozen snapshot has no "new data"
    // notion, so time travel is batch-only (Kafka has no analog either).
    require(asOf.isEmpty,
      "graft-replay: asOfVersion time travel is batch-only (a snapshot cannot be tailed)")
    new ReplayMicroBatchStream(path, filters, required.fieldNames, maxSegs)
  }

  override def description(): String = {
    val planned = plannedSegments.size
    s"graft-replay $path" + asOf.map(v => s" asOfVersion=$v").getOrElse("") +
      s", segments $planned/$totalSegments after pruning, " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      limit.map(n => s"PushedLimit: $n, ").getOrElse("") +
      topN.map { t =>
        val cut =
          if (t.col == "offset" && cutSafe && disjointByOffset(plannedSegments))
            s" (segment cut to ${math.min(t.n, planned)})"
          else ""
        s"PushedTopN: ORDER BY ${t.col}" +
          s"${if (t.desc) " DESC" else ""} LIMIT ${t.n}$cut, "
      }.getOrElse("") +
      s"ReadSchema: ${required.simpleString}"
  }
}

/** Stream offset = the last frame offset admitted (checkpoint-friendly:
  * a single long round-trips through JSON). */
final case class ReplayOffset(last: Long) extends Offset {
  override def json(): String = last.toString
}

final class ReplayMicroBatchStream(path: String, filters: Array[Filter],
                                   columns: Array[String],
                                   maxSegs: Option[Int])
    extends MicroBatchStream with SupportsAdmissionControl {

  private def segs: Seq[ReplayLog.SegmentMeta] = ReplayLog.segments(path)

  override def initialOffset(): Offset = ReplayOffset(Long.MinValue)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** All available by default; with `maxSegmentsPerTrigger` the end
    * offset advances at most that many whole segments past `start`. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[ReplayOffset].last
    val remaining = segs.filter(_.lastOffset > from).sortBy(_.baseOffset)
    if (remaining.isEmpty) ReplayOffset(from)
    else maxSegs match {
      case Some(n) => ReplayOffset(remaining.take(n).map(_.lastOffset).max)
      case None    => ReplayOffset(remaining.map(_.lastOffset).max)
    }
  }

  // Legacy entry (not used once SupportsAdmissionControl is present, but
  // required by the interface): everything available.
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry")

  /** Each partition carries the batch's (start, end] offset range — the
    * reader re-applies it per frame (a segment can straddle the range
    * ends), on top of any pushed filters. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[ReplayOffset].last
    val to = end.asInstanceOf[ReplayOffset].last
    segs.filter(s => s.lastOffset > from && s.baseOffset <= to)
      .map(s => ReplaySegmentPartition(s.path, from, to): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ReplayReaderFactory(filters, columns)

  override def deserializeOffset(json: String): Offset =
    ReplayOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `(from, to]` is the micro-batch admission range (full range for a
  * batch scan — the reader skips the bound checks when they are the
  * sentinels). */
final case class ReplaySegmentPartition(segPath: String,
                                        from: Long = Long.MinValue,
                                        to: Long = Long.MaxValue)
    extends InputPartition

final class ReplayReaderFactory(filters: Array[Filter],
                                columns: Array[String],
                                limit: Option[Int] = None,
                                topN: Option[ReplayTopN] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[ReplaySegmentPartition]
    val range: Array[Filter] =
      (if (part.from != Long.MinValue)
        Array[Filter](GreaterThan("offset", part.from)) else Array.empty[Filter]) ++
      (if (part.to != Long.MaxValue)
        Array[Filter](LessThanOrEqual("offset", part.to)) else Array.empty[Filter])
    new ReplayPartitionReader(part.segPath, filters ++ range, columns,
      // A pushed LIMIT is order-insensitive; under a TopN the per-reader
      // early stop would be wrong (the extremes can sit anywhere in the
      // segment), so the heap below takes over the bounding.
      if (topN.isDefined) None else limit, topN)
  }
}

/** Streams one segment, applying the pushed filters per frame and
  * emitting only the required columns. The proto value is decoded only
  * if some required column or filter needs it. */
final class ReplayPartitionReader(segPath: String, filters: Array[Filter],
                                  columns: Array[String],
                                  limit: Option[Int] = None,
                                  topN: Option[ReplayTopN] = None)
    extends PartitionReader[InternalRow] {

  private var emitted = 0

  private val needsValue =
    columns.exists(c => c == "wallet_id" || c == "amount") ||
      filters.exists {
        case EqualTo("wallet_id", _) | In("wallet_id", _) => true
        case _ => false
      }
  // Long-column IN filters (runtime join-key sets) compiled to hash
  // sets; everything else evaluated via ReplayFilters.frameMatches.
  private val (plain, longSets) = ReplayFilters.compile(filters)
  private val frames = ReplayLog.readSegment(segPath, needsValue)
  private val segName = new java.io.File(segPath).getName
  private var current: ReplayLog.Frame = _

  private def matches(f: ReplayLog.Frame): Boolean = {
    lazy val wallet = new String(f.wallet, "UTF-8")
    longSets.forall { case (isOffset, set) =>
      set.contains(if (isOffset) f.offset else f.tsUnix) } &&
      plain.forall(fl => ReplayFilters.frameMatches(fl, f, () => wallet))
  }

  /** Pushed top-n: the segment's n extreme matching frames via a bounded
    * heap (memory = n frames, not the segment) — emitted unsorted; Spark
    * keeps the global TakeOrdered (partial-push contract). readSegment
    * allocates a fresh Frame per record, so retaining them is safe. */
  private lazy val heaped: Iterator[ReplayLog.Frame] = {
    val t = topN.get
    val key: ReplayLog.Frame => Long =
      if (t.col == "offset") _.offset else _.tsUnix
    // ASC keeps the n smallest → evict the MAX (natural ordering heap);
    // DESC the mirror.
    val ord = if (t.desc) Ordering.by(key).reverse else Ordering.by(key)
    val pq = scala.collection.mutable.PriorityQueue.empty[ReplayLog.Frame](ord)
    while (frames.hasNext) {
      val f = frames.next()
      if (matches(f)) { pq.enqueue(f); if (pq.size > t.n) pq.dequeue() }
    }
    frames.close()
    pq.dequeueAll.iterator
  }

  override def next(): Boolean = {
    if (topN.isDefined) {
      if (!heaped.hasNext) return false
      current = heaped.next()
      return true
    }
    // Deliberate asymmetry: the limit-hit path closes eagerly (the frame
    // stream may have many frames left to skip), while the exhausted path
    // below leaves closing to the close() contract Spark always honors —
    // readSegment's iterator is already drained there. Do not "fix" the
    // eager close away: without it a pushed LIMIT would hold the segment
    // open until task teardown.
    if (limit.exists(emitted >= _)) { frames.close(); return false }
    while (frames.hasNext) {
      val f = frames.next()
      if (matches(f)) {
        current = f
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = {
    val row = new GenericInternalRow(columns.length)
    var i = 0
    while (i < columns.length) {
      columns(i) match {
        case "offset"    => row.setLong(i, current.offset)
        case "ts_unix"   => row.setLong(i, current.tsUnix)
        case "wallet_id" => row.update(i, UTF8String.fromBytes(current.wallet))
        case "amount"    => row.setDouble(i, current.amount)
        case "_segment"  => row.update(i, UTF8String.fromString(segName))
        case other => throw new IllegalStateException(s"unknown column $other")
      }
      i += 1
    }
    row
  }

  override def close(): Unit = frames.close()
}

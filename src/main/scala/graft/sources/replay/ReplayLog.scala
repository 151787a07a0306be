package graft.sources.replay

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.DurableFile
import graft.serde.ProtoWire

/** The replay-log SEGMENT format — the engine's file-backed stand-in for
  * a Kafka topic partition's on-disk log (the reference's deposit topic,
  * /root/reference/depositaja.go:11), and the storage the `graft-replay`
  * DataSource V2 connector ([[ReplaySource]]) reads.
  *
  * A log directory holds segment files named
  *
  *   `seg-<baseOffset>-<lastOffset>-<minTs>-<maxTs>.rlog`
  *
  * (offsets zero-padded to 20 digits so lexicographic = numeric order).
  * The name carries the segment's offset and event-time bounds — the
  * analog of Kafka's base-offset segment naming plus its time index, and
  * the hook [[ReplaySource]] uses for SEGMENT PRUNING: a pushed
  * offset/ts range predicate eliminates whole files at planning time
  * without opening them, exactly like parquet row-group stats or an
  * Iceberg manifest's partition ranges. At 100 TB the directory is a
  * topic's archived log and pruning is the difference between "scan the
  * retention window" and "scan three segments".
  *
  * Each segment is a stream of FRAMES, one per record, mirroring a Kafka
  * message envelope (all integers big-endian):
  * {{{
  *   [4B frameLen][8B offset][8B tsUnixSeconds][2B keyLen][key][value]
  * }}}
  * `frameLen` counts the bytes after itself; `key` is the wallet id
  * (UTF-8, the reference keys its topic by wallet); `value` is the
  * proto3-marshaled `Deposit` message exactly as the reference's Go
  * producer emits it (wallet.proto:14-17), encoded by
  * [[graft.serde.ProtoWire]] — so a consumer of the reference's topics
  * could replay its archive through this connector byte-for-byte.
  */
object ReplayLog {

  val Extension = ".rlog"

  /** Parsed segment-name metadata (the prune index). */
  final case class SegmentMeta(path: String, baseOffset: Long,
                               lastOffset: Long, minTs: Long, maxTs: Long)

  /** Optional `-g<generation>` suffix: a DELETE's copy-on-write rewrite
    * can reproduce a segment with IDENTICAL offset/ts bounds but fewer
    * frames (an interior frame removed) — publishing it under the bare
    * bounds name would overwrite the original file that the pre-delete
    * snapshot still references, silently mutating history. The
    * generation makes rewritten names distinct (the scaled-down version
    * of Iceberg's per-file UUIDs); bare names parse unchanged. */
  private val SegName =
    """seg-(\d{20})-(\d{20})-(-?\d+)-(-?\d+)(?:-g(\d+))?\.rlog""".r

  def segmentName(baseOffset: Long, lastOffset: Long,
                  minTs: Long, maxTs: Long): String =
    f"seg-$baseOffset%020d-$lastOffset%020d-$minTs%d-$maxTs%d$Extension"

  def segmentName(baseOffset: Long, lastOffset: Long,
                  minTs: Long, maxTs: Long, gen: Long): String =
    if (gen <= 0) segmentName(baseOffset, lastOffset, minTs, maxTs)
    else f"seg-$baseOffset%020d-$lastOffset%020d-$minTs%d-$maxTs%d-g$gen%d$Extension"

  /** The log's MANIFEST: one line per live segment file name, replaced
    * atomically (tmp + fsync + POSIX rename, [[graft.DurableFile]]) by
    * every commit. It is what makes OVERWRITE crash-safe: readers
    * resolve the live set through the manifest, so a layout swap is a
    * single atomic file replacement —
    * old and new segments can coexist on disk through the commit window
    * without readers ever seeing a mix (the Iceberg/Delta snapshot
    * pattern scaled down to one file). Single-writer per log directory,
    * like a topic partition has a single producer lineage. */
  val ManifestName = "_manifest"

  /** SNAPSHOT manifests — `_manifest-v<N>` (N zero-padded, monotone):
    * every commit also records its manifest content as an immutable
    * numbered snapshot, giving the log Iceberg-style TIME TRAVEL scaled
    * down to the one-file protocol. `_manifest` stays the current
    * pointer (identical content to the highest snapshot), so every
    * pre-versioning reader keeps working; a snapshot read
    * (`.option("asOfVersion", n)`) resolves the live set through
    * `_manifest-v<n>` instead. Snapshots are written AFTER the commit
    * point (the `_manifest` rename), so a snapshot file can only ever
    * describe a state that was actually committed; the crash window
    * "committed but not yet snapshotted" is healed by the NEXT commit,
    * which re-records the current content before publishing
    * ([[snapshotCurrentIfUnversioned]]) — numbering stays chronological
    * and no version is ever lost from the chain except across an
    * explicit [[expireSnapshots]]. */
  private val VersionName = """_manifest-v(\d{20})""".r

  def versionFileName(v: Long): String = f"_manifest-v$v%020d"

  /** Snapshot version ids present in `dir`, ascending. */
  def versions(dir: String): Seq[Long] = {
    val kids = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    kids.iterator.collect {
      case f if f.isFile => f.getName match {
        case VersionName(v) => Some(v.toLong)
        case _ => None
      }
    }.flatten.toSeq.sorted
  }

  private[replay] def readLines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  private[replay] def manifestLines(names: Seq[String],
                                    epochs: Map[String, Long]): Vector[String] =
    epochs.toSeq.sortBy(_._1).map { case (q, e) => s"#epoch:$q=$e" }.toVector ++
      names

  /** `#committed:<unixMillis>` manifest header — the commit's wall-clock
    * stamp, written by [[ReplayCommit.publish]] so snapshots are
    * addressable by TIME as well as by version (`TIMESTAMP AS OF`
    * through [[ReplayCatalog]]). Rides the ordinary `#` header channel:
    * every parser that skips headers is unaffected, and the heal path's
    * content-compare copies it verbatim (a healed snapshot keeps its
    * original commit time). */
  private val CommittedHeader = """#committed:(\d+)""".r

  private[replay] def committedHeader(millis: Long): String =
    s"#committed:$millis"

  /** Commit wall-clock (millis) recorded in snapshot `v`, if the log
    * predates commit stamping. */
  def versionCommittedAt(dir: String, v: Long): Option[Long] = {
    val f = new File(dir, versionFileName(v))
    if (!f.isFile) None
    else readLines(f).collectFirst { case CommittedHeader(ms) => ms.toLong }
  }

  /** Resolve the snapshot live AS OF wall-clock `micros`: the highest
    * version committed at or before it. Pre-stamping snapshots count as
    * committed at epoch 0 (always eligible — they are strictly older
    * than any stamped commit). Loud when the timestamp predates the
    * log's first commit. */
  def resolveVersionAt(dir: String, micros: Long): Long = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"replay log $dir has no snapshots")
    val eligible = vs.filter(v =>
      versionCommittedAt(dir, v).getOrElse(0L) <= micros / 1000)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"replay log $dir: no snapshot committed at or before " +
          s"timestamp ${micros / 1000} ms (earliest: " +
          s"${versionCommittedAt(dir, vs.head).getOrElse(0L)} ms)")
    eligible.max
  }

  /** Publish `names` (+ the epoch ledger) as the new CURRENT manifest
    * and record the same content as the next numbered snapshot — the
    * single shared commit tail for the batch/streaming writers and
    * DELETE. Keeping the ledger INSIDE the manifest makes "segments
    * published" and "epoch recorded" one atomic rename — a separate
    * sidecar would leave a crash window where a replayed epoch
    * re-publishes its segments (duplication) or an unrecorded epoch's
    * data is lost. One line per query id (epochs per query are
    * monotone, so the max is the whole ledger), so the header stays
    * O(#queries), not O(#batches). Every commit is #committed-stamped
    * (TIMESTAMP AS OF addressing) — a bespoke manifest write that
    * skipped the stamp or the snapshot would silently reopen the
    * unversioned-commit bug class, so this is the only writer. */
  private[replay] def publishManifest(dir: String, names: Seq[String],
                                      epochs: Map[String, Long]): Unit = {
    val lines = committedHeader(System.currentTimeMillis()) +:
      manifestLines(names, epochs)
    DurableFile.replace(new File(dir, ManifestName), lines)
    val nextV = versions(dir).lastOption.getOrElse(0L) + 1
    DurableFile.replace(new File(dir, versionFileName(nextV)), lines)
  }

  /** Heal the snapshot chain: if the CURRENT manifest's content is not
    * what the highest snapshot records (a crash between the commit
    * rename and its snapshot write, or a pre-versioning log touched for
    * the first time), record it as the next version before anything
    * else changes. Content-compared, so re-running is a no-op. */
  private[replay] def snapshotCurrentIfUnversioned(dir: String): Unit = {
    val mf = new File(dir, ManifestName)
    if (!mf.isFile) return
    val current = readLines(mf)
    val vs = versions(dir)
    val latest = vs.lastOption.map(v => readLines(new File(dir, versionFileName(v))))
    if (!latest.contains(current))
      DurableFile.replace(
        new File(dir, versionFileName(vs.lastOption.getOrElse(0L) + 1)), current)
  }

  /** Segment names referenced by ANY retained snapshot (the set a
    * layout-swapping commit must NOT delete: an overwrite retires the
    * old segments from `_manifest`, but time travel keeps them readable
    * until their snapshots expire). */
  private[replay] def retainedNames(dir: String): Set[String] =
    versions(dir).iterator.flatMap { v =>
      readLines(new File(dir, versionFileName(v)))
        .filter(l => l.nonEmpty && !l.startsWith("#"))
    }.toSet

  /** MAINTENANCE: expire all but the last `keepLast` snapshots, then
    * delete segment files no retained snapshot (nor the current
    * manifest) references — the Iceberg expire-snapshots / VACUUM
    * analog, and the only operation that ever unreferences history.
    * Snapshot files are deleted FIRST so there is no window where a
    * snapshot lists a deleted segment (a crash mid-expiry leaves
    * re-sweepable garbage, never a broken snapshot). Driver-side
    * metadata only — O(#snapshots + #segments) names, no data I/O.
    * Returns (snapshots expired, segment files deleted). */
  def expireSnapshots(dir: String, keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "expireSnapshots must keep at least the current snapshot")
    val vs = versions(dir)
    val expired = vs.dropRight(keepLast)
    expired.foreach(v => new File(dir, versionFileName(v)).delete())
    val keep = retainedNames(dir) ++
      segments(dir).map(s => new File(s.path).getName)
    val kids = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    val dropped = kids.filter(f => f.isFile &&
      f.getName.endsWith(Extension) && !keep.contains(f.getName))
    dropped.foreach(_.delete())
    (expired.size, dropped.length)
  }

  private val EpochHeader = """#epoch:(.+)=(-?\d+)""".r

  /** The streaming sink's committed-epoch ledger: highest epoch id
    * published per streaming query id (empty for batch-only logs). */
  private[replay] def readEpochs(dir: String): Map[String, Long] = {
    val mf = new File(dir, ManifestName)
    if (!mf.isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(mf, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      lines.collect { case EpochHeader(q, e) => q -> e.toLong }.toMap
    }
  }

  /** List a log directory's segments with their name-carried bounds.
    * With a manifest (every connector-written log), the manifest IS the
    * live set: unlisted `.rlog` files are retirees from a superseded
    * layout (ignored), and a listed-but-missing file is a broken log —
    * fail loudly. Manifest-less directories fall back to a raw listing,
    * where an unparseable `.rlog` name fails loudly too (a skipped
    * segment would read as missing data). */
  def segments(dir: String): Seq[SegmentMeta] = segments(dir, None)

  /** As [[segments]], resolved AS OF snapshot `asOf` when set: the live
    * set is read from `_manifest-v<asOf>` — time travel to any retained
    * commit. A missing snapshot (never existed, or expired) fails
    * loudly with the retained range; a listed-but-missing segment means
    * the chain was broken outside [[expireSnapshots]]. */
  def segments(dir: String, asOf: Option[Long]): Seq[SegmentMeta] = {
    def parse(f: File): SegmentMeta = f.getName match {
      case SegName(base, last, minTs, maxTs, _) =>
        SegmentMeta(f.getPath, base.toLong, last.toLong,
          minTs.toLong, maxTs.toLong)
      case other => throw new IllegalStateException(
        s"replay log $dir: unparseable segment name $other")
    }
    val mf = asOf match {
      case Some(v) =>
        val f = new File(dir, versionFileName(v))
        if (!f.isFile) {
          val vs = versions(dir)
          throw new IllegalArgumentException(
            s"replay log $dir has no snapshot v$v (retained: " +
              (if (vs.isEmpty) "none" else s"v${vs.head}..v${vs.last}") +
              ") — it may have been expired by expireSnapshots")
        }
        f
      case None => new File(dir, ManifestName)
    }
    if (mf.isFile) {
      // `#`-prefixed lines are manifest headers (the epoch ledger), not
      // segment names.
      val names = readLines(mf)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
      names.map { n =>
        val f = new File(dir, n)
        if (!f.isFile) throw new IllegalStateException(
          s"replay log $dir: manifest references missing segment $n")
        parse(f)
      }.sortBy(_.baseOffset)
    } else {
      val kids = Option(new File(dir).listFiles()).getOrElse(Array.empty)
      kids.iterator.filter(f => f.isFile && f.getName.endsWith(Extension))
        .map(parse).toSeq.sortBy(_.baseOffset)
    }
  }

  /** Highest offset recorded in the log — read from segment NAMES only
    * (driver-side metadata, no job; the same listing a Kafka admin call
    * answers from the log's index). */
  def maxOffset(dir: String): Long = {
    val segs = segments(dir)
    require(segs.nonEmpty, s"replay log $dir has no segments")
    segs.map(_.lastOffset).max
  }

  /** Write `df` — columns (offset LONG, ts_unix LONG, wallet_id STRING,
    * amount DOUBLE) — as an `nSegments`-file replay log under `dir`,
    * APPENDING to whatever segments exist. Range-partitioned by offset
    * so segment offset ranges are disjoint (maximal pruning power),
    * sorted within each segment (a log is offset-ordered by
    * construction). Delegates to the connector's V2 WRITE path
    * ([[ReplaySource]]): frames stream executor-side into hidden
    * `.inprogress` temps (invisible to readers; deleted on task abort)
    * and become visible only at job commit — all-or-nothing publication
    * with no driver materialization, scaling like any other sink. */
  def writeSegments(df: DataFrame, dir: String, nSegments: Int): Unit =
    df.select(col("offset").cast("long"), col("ts_unix").cast("long"),
        col("wallet_id").cast("string"), col("amount").cast("double"))
      .repartitionByRange(nSegments, col("offset"))
      .sortWithinPartitions(col("offset"))
      .write.format("graft-replay").mode("append").save(dir)

  /** One decoded frame. `wallet`/`amount` come from the proto value —
    * decoding them is skipped by the reader when neither column is
    * required (column pruning reaching past the envelope into the
    * payload). */
  final case class Frame(offset: Long, tsUnix: Long,
                         wallet: Array[Byte], amount: Double)

  /** MAINTENANCE: compact a log's accumulated small segments into
    * `target` larger ones — the small-file problem a continuously-fed
    * log develops, solved with the connector's own two halves: the scan
    * reads the old layout, the V2 OVERWRITE write stages the new
    * segments as hidden temps and swaps them in only inside the job
    * commit, so readers observe the old layout or the new one, never a
    * mix, and a crash before commit leaves the old log intact. The
    * retired segments stay on disk as long as a snapshot references
    * them (time travel across the compaction); [[expireSnapshots]]
    * reclaims them. Offset ranges stay disjoint (range repartition) and
    * offset order is preserved within each segment. Returns (segments
    * before, after). */
  def compactSegments(spark: org.apache.spark.sql.SparkSession, dir: String,
                      target: Int): (Int, Int) = {
    val before = segments(dir).size
    spark.read.format("graft-replay").load(dir)
      .repartitionByRange(target, col("offset"))
      .sortWithinPartitions(col("offset"))
      .write.format("graft-replay").mode("overwrite").save(dir)
    (before, segments(dir).size)
  }

  /** Stages one segment: frames stream into a hidden `.inprogress` temp
    * in `dir` while the segment's offset and ts bounds are tracked.
    * [[finish]] forces the temp to disk before it reports it, so a
    * manifest that later names the segment cannot name frames a power
    * loss takes back. The one frame writer of the V2 write path and of
    * DELETE's copy-on-write rewrite. */
  final class SegmentWriter(dir: File) {
    private var tmp: File = _
    private var file: FileOutputStream = _
    private var out: DataOutputStream = _
    private var base = Long.MaxValue; private var last = Long.MinValue
    private var minTs = Long.MaxValue; private var maxTs = Long.MinValue

    /** Append one frame; its value is the proto `Deposit(wallet, amount)`. */
    def write(offset: Long, ts: Long, wallet: Array[Byte], amount: Double): Unit = {
      if (out == null) {
        dir.mkdirs()
        tmp = File.createTempFile("seg-", ".inprogress", dir)
        file = new FileOutputStream(tmp)
        out = new DataOutputStream(new BufferedOutputStream(file, 1 << 16))
      }
      val value = ProtoWire.encode(ProtoWire.Deposit,
        new GenericInternalRow(Array[Any](UTF8String.fromBytes(wallet), amount)))
      out.writeInt(8 + 8 + 2 + wallet.length + value.length)
      out.writeLong(offset); out.writeLong(ts)
      out.writeShort(wallet.length)
      out.write(wallet); out.write(value)
      if (offset < base) base = offset
      if (offset > last) last = offset
      if (ts < minTs) minTs = ts
      if (ts > maxTs) maxTs = ts
    }

    /** The staged segment, on disk, or None when no frame was written. */
    def finish(): Option[ReplaySegmentCommit] =
      if (out == null) None
      else {
        out.flush(); file.getFD.sync(); out.close(); out = null
        Some(ReplaySegmentCommit(tmp.getPath, base, last, minTs, maxTs))
      }

    /** Close and delete an unfinished temp. */
    def abort(): Unit =
      if (out != null) {
        try out.close() catch { case _: Throwable => () }
        out = null
        tmp.delete()
      }
  }

  /** Count a segment's frames via the envelope-only reader — no key
    * copy, no proto decode. This is the executor-side leg of COUNT(*)
    * aggregate pushdown: per-segment counts fold in Spark's final
    * aggregate, so the work distributes with the segments (never a
    * driver-side walk of a 100 TB log). Delegating to [[readSegment]]
    * makes the pushed count agree with the row scan BY CONSTRUCTION on
    * every malformed input: same torn-tail truncation, same loud
    * mid-file corruption failure — a bespoke header walk here once
    * tolerated a corrupt frame the row path rejects, silently
    * misparsing everything after it. */
  def countFrames(segPath: String): Long = {
    val it = readSegment(segPath, decodeValue = false)
    try {
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    } finally it.close()
  }

  /** Frame iterator owning its stream: `close()` is idempotent and safe
    * mid-iteration (a LIMIT that stops a reader early must not leak the
    * file handle). */
  trait FrameIterator extends Iterator[Frame] with java.io.Closeable

  /** Iterate a segment's frames. `decodeValue=false` skips the proto
    * parse and key copy (envelope-only reads). */
  def readSegment(path: String, decodeValue: Boolean): FrameIterator = {
    val in = new DataInputStream(
      new BufferedInputStream(new FileInputStream(path), 1 << 16))
    new FrameIterator {
      private var nextFrame: Frame = _
      private var done = false
      // DataInputStream.skipBytes may skip fewer bytes than asked at a
      // buffer boundary — loop to the full count (EOF inside = torn).
      private def skipFully(n: Int): Unit = {
        var left = n
        while (left > 0) {
          val s = in.skipBytes(left)
          if (s <= 0) throw new EOFException()
          left -= s
        }
      }
      // EOF at a frame BOUNDARY is the clean end of the segment; EOF
      // inside a frame is a torn tail from an interrupted write — the
      // log-recovery rule (Kafka's) is to truncate to the last complete
      // frame, so both stop the iterator.
      private def advance(): Unit = {
        try {
          val len = in.readInt()
          val offset = in.readLong(); val ts = in.readLong()
          val keyLen = in.readUnsignedShort()
          val valueLen = len - 8 - 8 - 2 - keyLen
          if (valueLen < 0) throw new IllegalStateException(
            s"replay segment $path: corrupt frame (len=$len keyLen=$keyLen)")
          if (decodeValue) {
            skipFully(keyLen) // wallet also rides in the proto value
            val value = new Array[Byte](valueLen)
            in.readFully(value)
            val d = ProtoWire.decode(ProtoWire.Deposit, value)
            nextFrame = Frame(offset, ts, d.getUTF8String(0).getBytes, d.getDouble(1))
          } else {
            skipFully(keyLen + valueLen)
            nextFrame = Frame(offset, ts, null, 0.0)
          }
        } catch {
          case _: EOFException => done = true; close()
        }
      }
      advance()
      override def hasNext: Boolean = !done
      override def next(): Frame = {
        val f = nextFrame; advance(); f
      }
      override def close(): Unit =
        try in.close() catch { case _: java.io.IOException => () }
    }
  }
}

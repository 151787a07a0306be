package graft.sources.replay

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter

/** `DELETE FROM` on a replay log — copy-on-write, the Iceberg model on
  * the one-file manifest protocol, planned from segment NAME BOUNDS so
  * the common log operations are metadata-cheap:
  *
  *  - a segment whose bounds make the predicate IMPOSSIBLE is untouched
  *    — not read, not rewritten, same file, same name;
  *  - a segment whose bounds make the predicate CERTAIN for every frame
  *    (an offset/ts range swallowing it whole) is dropped from the
  *    manifest with ZERO I/O — so the retention cut `DELETE WHERE
  *    offset < X` on a million-segment archive reads only the one
  *    boundary segment;
  *  - only genuinely PARTIAL segments are rewritten, one Spark task per
  *    segment (the work distributes with the affected segments, never a
  *    driver loop), each filtering its frames through the same
  *    [[ReplayFilters.frameMatches]] the scan applies.
  *
  * Rewritten segments publish under a `-g<generation>` name: an
  * interior delete keeps the offset/ts bounds identical, and reusing
  * the bare bounds name would overwrite the very file the pre-delete
  * snapshot references. The affected ORIGINALS stay on disk — time
  * travel to any pre-delete snapshot still shows the deleted rows,
  * which is exactly the Iceberg/GDPR contract: `DELETE` removes data
  * from the live table; [[ReplayLog.expireSnapshots]] is the point of
  * actual erasure.
  */
private[replay] object ReplayDelete {

  /** Bounds-level certainty test: does EVERY frame of `seg` satisfy
    * `f`? (The dual of [[ReplayFilters.segmentMayMatch]]; false for
    * shapes bounds can't decide, e.g. wallet predicates.) */
  private def segmentAllMatch(f: Filter,
                              seg: ReplayLog.SegmentMeta): Boolean = {
    import org.apache.spark.sql.sources._
    def lv(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case _ => None
    }
    f match {
      case EqualTo("offset", v) =>
        lv(v).exists(x => seg.baseOffset == x && seg.lastOffset == x)
      case GreaterThan("offset", v) => lv(v).exists(seg.baseOffset > _)
      case GreaterThanOrEqual("offset", v) => lv(v).exists(seg.baseOffset >= _)
      case LessThan("offset", v) => lv(v).exists(seg.lastOffset < _)
      case LessThanOrEqual("offset", v) => lv(v).exists(seg.lastOffset <= _)
      case GreaterThan("ts_unix", v) => lv(v).exists(seg.minTs > _)
      case GreaterThanOrEqual("ts_unix", v) => lv(v).exists(seg.minTs >= _)
      case LessThan("ts_unix", v) => lv(v).exists(seg.maxTs < _)
      case LessThanOrEqual("ts_unix", v) => lv(v).exists(seg.maxTs <= _)
      case IsNotNull(_) => true // frames are non-null by construction
      case _: AlwaysTrue => true // bare truncate: every segment drops, zero I/O
      case _ => false
    }
  }

  def run(spark: SparkSession, path: String, filters: Array[Filter]): Unit = {
    ReplayLog.snapshotCurrentIfUnversioned(path)
    val all = ReplayLog.segments(path)
    // A frame is deleted iff it satisfies ALL filters (conjunction), so
    // a segment is affected iff every filter is satisfiable inside it.
    val affected = all.filter(seg =>
      filters.forall(ReplayFilters.segmentMayMatch(_, seg)))
    if (affected.isEmpty) return
    val fully = affected.filter(seg =>
      filters.forall(segmentAllMatch(_, seg))).toSet
    val partial = affected.filterNot(fully)

    val rewrites: Seq[ReplaySegmentCommit] =
      if (partial.isEmpty) Seq.empty
      else {
        val fs = filters // Filters are serializable case classes
        spark.sparkContext
          .parallelize(partial.map(_.path), partial.size)
          .flatMap(p => rewriteSegment(p, fs).toSeq)
          .collect().toSeq
      }
    // Pick the generation so NO proposed name exists on disk: a
    // same-millisecond re-delete with identical bounds would otherwise
    // collide with a file an earlier snapshot may reference — deleting
    // that file (the stray-clearing move the writer uses) would mutate
    // history here, so bump instead. Single-writer per log, so the
    // probe-then-use is race-free.
    val dir = new File(path)
    var gen = System.currentTimeMillis()
    def names(g: Long) =
      rewrites.map(r => ReplayLog.segmentName(r.base, r.last, r.minTs, r.maxTs, g))
    while (names(gen).exists(n => new File(dir, n).exists())) gen += 1
    val rewritten: Seq[(String, ReplaySegmentCommit)] = names(gen).zip(rewrites)
    // Same crash-safe order as ReplayCommit.publish: (1) rename staged
    // temps (unlisted = invisible), (2) atomic manifest replace = the
    // commit point, (3) snapshot. A crash before (2) leaves the
    // pre-delete log intact plus stray temps.
    rewritten.foreach { case (name, r) =>
      val dest = new File(dir, name)
      if (!new File(r.tmpPath).renameTo(dest))
        throw new IllegalStateException(s"cannot publish rewritten segment $dest")
    }
    val affectedNames = affected.map(s => new File(s.path).getName).toSet
    val untouched = all.map(s => new File(s.path).getName)
      .filterNot(affectedNames)
    val live = (untouched ++ rewritten.map(_._1)).sorted
    ReplayLog.publishManifest(path, live, ReplayLog.readEpochs(path))
    // Affected originals stay on disk: the pre-delete snapshot (written
    // by the heal above if it wasn't already) references them.
  }

  /** Executor-side: stream the segment, drop frames matching ALL
    * filters, stage the survivors as a hidden temp. None = everything
    * matched (the segment vanishes with no replacement). A torn tail
    * truncates to the last complete frame — the same log-recovery rule
    * as every reader. */
  private def rewriteSegment(segPath: String,
                             filters: Array[Filter]): Option[ReplaySegmentCommit] = {
    val it = ReplayLog.readSegment(segPath, decodeValue = true)
    val segment = new ReplayLog.SegmentWriter(new File(segPath).getParentFile)
    try {
      while (it.hasNext) {
        val fr = it.next()
        lazy val wallet = new String(fr.wallet, java.nio.charset.StandardCharsets.UTF_8)
        val deleted = filters.forall(f =>
          ReplayFilters.frameMatches(f, fr, () => wallet))
        if (!deleted) segment.write(fr.offset, fr.tsUnix, fr.wallet, fr.amount)
      }
      segment.finish()
    } catch {
      case e: Throwable =>
        segment.abort()
        throw e
    } finally it.close()
  }
}

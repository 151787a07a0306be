package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Disk read-through cache for derived index artifacts — the shared
  * build-once/serve-many layer behind every trained or encoded table the
  * engine derives from a source corpus: IVF centroid models, PQ codebooks,
  * per-vector cell/code assignments, sparse-retrieval postings, and the
  * named IVF/LSH indexes.
  *
  * It is the one owner of artifact identity: one content fingerprint
  * ([[tableFp]]), one directory-listing signature ([[dirSig]]) and one
  * [[root]] for every persisted index.
  *
  * Contract:
  *  - an artifact is keyed by (kind, params, source-content fingerprint);
  *    the fingerprint is IN the path, so a changed source can never serve
  *    a stale artifact — staleness is "the path does not exist";
  *  - a named index ([[namedIndex]]) has a fixed path and records its
  *    source fingerprint inside; its freshness probe compares that record
  *    with the live source on every resolve;
  *  - the root is DETERMINISTIC per machine (overridable via
  *    SPARK_GRAFT_INDEX_ROOT), so a fresh process rediscovers artifacts a
  *    previous build step wrote — training/encoding is a build step, reads
  *    are the serve path. This is the same lifecycle split a production
  *    index service has (nightly build job, read-through serve fleet);
  *  - every resolution bumps a forensics counter (`<kind>.disk` artifact
  *    hit / `<kind>.build` cold build, plus whatever callers record, e.g.
  *    `ivf.mem` for in-JVM model-cache hits). [[graft.Bench]] embeds the
  *    per-query deltas in its JSON line, so a bench draw is
  *    self-diagnosing: an anomalously slow serve query shows its `.build`
  *    count instead of leaving the regression unattributable.
  *
  * Artifacts are parquet directories; a build is complete iff `_SUCCESS`
  * exists (a crashed write leaves no marker and is rebuilt). Builds of the
  * same path are serialized per-JVM; cross-process publication goes
  * through a private temp sibling renamed into place (rename-first — see
  * [[publish]]), so readers see no artifact or a complete one rather
  * than a half-written directory. Losing a publish race is benign
  * (deterministic content — both writers produce identical bytes; the
  * loser discards its temp copy).
  */
object IndexCache {

  /** Bumped whenever ANY cached artifact's build logic or layout changes
    * (tokenization, weighting, encoding, wire format, schema). The version
    * is part of every artifact path, so a new binary can never read-through
    * an artifact written by older build logic — stale-format artifacts are
    * simply invisible and get rebuilt. */
  val FormatVersion = 2

  /** The one deterministic root of every persisted index: the
    * fingerprint-keyed artifacts of [[cachedFrame]] and
    * [[cachedModelArtifact]] and the named indexes of [[namedIndex]].
    * `SPARK_GRAFT_INDEX_ROOT` when set, else a per-OS-user directory under
    * `java.io.tmpdir`, so shared machines don't collide on a world-shared
    * /tmp path. */
  lazy val root: String = {
    val p = sys.env.getOrElse("SPARK_GRAFT_INDEX_ROOT",
      s"${System.getProperty("java.io.tmpdir")}/graft_index_cache_" +
        sanitize(System.getProperty("user.name", "anon")))
    new java.io.File(p).mkdirs()
    p
  }

  // ------------------------------ forensics ------------------------------

  private val counters = new ConcurrentHashMap[String, AtomicLong]()

  /** Bump a named forensics counter (kinds use `<kind>.<event>`). */
  def record(name: String): Unit =
    counters.computeIfAbsent(name, _ => new AtomicLong()).incrementAndGet()

  /** Immutable snapshot of all counters (Bench diffs two snapshots to
    * attribute cache traffic to one query). */
  def forensicsSnapshot: Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    counters.forEach((k, v) => b += k -> v.get())
    b.result()
  }

  // ----------------------------- read-through ----------------------------

  private def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9._]", "-")

  /** Artifact directory for (kind, params, fingerprint). The format
    * version leads the name so a logic change in any builder invalidates
    * every old artifact at once (see [[FormatVersion]]). */
  def path(kind: String, params: String, fp: String): String =
    s"$root/v${FormatVersion}_${sanitize(kind)}_${sanitize(params)}_${sanitize(fp)}"

  private def complete(p: String): Boolean =
    new java.io.File(p, "_SUCCESS").isFile

  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }

  /** Publish a freshly-built artifact directory by renaming the temp
    * sibling into `dest`. RENAME-FIRST ordering: the only deletes are of
    * a dest that a fresh check saw incomplete (crashed-write leftovers),
    * so a reader can only ever observe no artifact or a complete one —
    * up to the unavoidable filesystem-level window between that check and
    * the delete (closing it fully needs an external lock; content being
    * deterministic, the worst case of the residual race is a rebuild).
    * Losing the race to another publisher keeps theirs — both copies are
    * byte-wise equivalent — and discards ours. */
  private def publish(tmp: java.io.File, dest: java.io.File): Unit = {
    var attempts = 0
    while (true) {
      if (complete(dest.getPath)) { deleteRecursively(tmp); return }
      if (tmp.renameTo(dest)) return // dest did not exist: clean publish
      // rename refused: dest exists. Complete ⇒ keep theirs; incomplete ⇒
      // crashed-write leftovers — clear and retry (bounded).
      if (complete(dest.getPath)) { deleteRecursively(tmp); return }
      deleteRecursively(dest)
      attempts += 1
      if (attempts > 3) sys.error(s"IndexCache: cannot publish ${dest.getPath}")
    }
  }

  /** Temp sibling for an in-flight build; also sweeps orphaned siblings
    * of the same artifact left by crashed processes (old enough that no
    * live build can still own them — builds run minutes, not hours). */
  private def tmpSibling(p: String): java.io.File = {
    val base = new java.io.File(p)
    val parent = base.getParentFile
    val prefix = base.getName + ".tmp-"
    val stale = System.currentTimeMillis() - 6 * 3600 * 1000L
    val kids = if (parent == null) null else parent.listFiles()
    if (kids != null) kids.foreach { f =>
      if (f.getName.startsWith(prefix) && f.lastModified() < stale)
        deleteRecursively(f)
    }
    new java.io.File(
      p + ".tmp-" + ProcessHandle.current().pid() + "-" + System.nanoTime())
  }

  private val buildLocks = new ConcurrentHashMap[String, Object]()

  // ------------------- driver-side artifact-read memos -------------------
  //
  // Every spark.read.parquet costs a fresh file listing plus a one-task
  // footer-read job for schema inference, and a fingerprint probe costs a
  // collect job — ~30-60 ms each of pure fixed cost. A bench sweep (or any
  // serve fleet worker) resolves the same artifacts hundreds of times, so
  // those jobs dominate artifact-served queries whose actual task time is
  // milliseconds. The memos below collapse the repeats to driver-side
  // metadata checks: entries are keyed by the directory's LISTING
  // SIGNATURE, so an in-place rewrite (named index paths published with
  // overwrite mode) is picked up on the next call and stale entries age
  // out of the bounded LRU. This is exactly the footer/metadata cache a
  // production table format (Delta/Iceberg snapshot pinning) gives reads.

  /** Listing signature of a local directory: sorted name:length:mtime
    * over its files. Pure driver-side metadata — the staleness anchor for
    * the memos below (same contract as [[tableFp]]'s listing check) and
    * for the stream queries' materialized outputs, whose feed it signs. */
  def dirSig(path: String): String = {
    val kids = new java.io.File(path).listFiles()
    if (kids == null) "missing"
    else kids.iterator.filter(_.isFile)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .toArray.sorted.mkString(",")
  }

  private def boundedLru[K, V](max: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > max
      })

  /** Memo computes (a parquet resolution, a collect job) must NOT run
    * under the shared map mutex — a slow compute on one key would block
    * every other thread's memo access process-wide. Pattern: lock-free
    * get; on miss, compute under a PER-KEY lock (double-checked), then a
    * brief put. Same discipline as [[buildLocks]]. */
  private val memoLocks = new ConcurrentHashMap[Any, Object]()
  private def memoized[K, V <: AnyRef](map: java.util.Map[K, V], key: K)
                                      (compute: => V): V = {
    val hit = map.get(key)
    if (hit != null) return hit
    val lock = memoLocks.computeIfAbsent(key, _ => new Object)
    try lock.synchronized {
      val again = map.get(key)
      if (again != null) again
      else { val v = compute; map.put(key, v); v }
    } finally
      // Keys embed directory-listing signatures (and the session), so a
      // long-lived JVM would leak one lock object per artifact rewrite /
      // scratch dir even though the value maps are LRU-bounded. Dropping
      // the lock after the compute is safe: a waiter that held the same
      // object re-checks the map and hits; a latecomer that minted a
      // fresh lock double-checks too — worst case one redundant
      // idempotent compute, never a stale value. CONDITIONAL remove (only
      // if still mapped to OUR lock object): an unconditional remove from
      // a finishing waiter could delete a lock a later thread just
      // minted, cascading the redundant-compute bound past one.
      memoLocks.remove(key, lock)
  }

  /** Resolved-scan memo: `spark.read.parquet(path)` reused per (session,
    * path, listing signature). The returned DataFrame is an immutable
    * logical plan over a pinned file index, safe to share across queries
    * of the same session. A hit whose session has since been STOPPED is
    * evicted and re-resolved against the caller's live session (the LRU
    * bound also keeps dead-session retention finite). */
  private val frameMemo = boundedLru[(SparkSession, String, String), DataFrame](512)
  def resolvedFrame(spark: SparkSession, path: String): DataFrame = {
    val key = (spark, path, dirSig(path))
    val hit = frameMemo.get(key)
    if (hit != null && !hit.sparkSession.sparkContext.isStopped) return hit
    if (hit != null) frameMemo.remove(key)
    memoized(frameMemo, key)(spark.read.parquet(path))
  }

  /** Memo of a small driver-side value derived from an artifact directory
    * (a recorded fingerprint, a k-row centroid table): recomputes only
    * when the directory's files change. */
  private val valueMemo = boundedLru[(String, String, String), AnyRef](512)
  def memoByListing[T <: AnyRef](tag: String, path: String)(compute: => T): T =
    memoized(valueMemo, (tag, path, dirSig(path)))(compute).asInstanceOf[T]

  // ------------------------- content fingerprint -------------------------

  /** The content fingerprint every persisted index is keyed or checked by:
    * order-insensitive xor + decimal-space sum + count over
    * xxhash64(keyCols). The xor alone cancels paired duplicates ({A,A,B}
    * ≡ {C,C,B}); the sum does not, so a multiset collision needs a
    * simultaneous break of two independent folds. The decimal sum is
    * ANSI-overflow-safe, and the empty frame is a stable "0|0|0".
    *
    * The aggregate is one job, memoized behind a METADATA check for
    * FILE-BACKED frames: if the key columns, the plan (semantic hash) and
    * its input files' (path, size, mtime) listing are unchanged, the
    * content cannot have changed and the memoized value returns without a
    * job — the etag-style staleness contract of [[dirSig]]. Non-file
    * frames always recompute. */
  private val fpMemo = boundedLru[(Seq[String], Int, String), String](512)
  def tableFp(df: DataFrame, keyCols: Seq[String]): String = {
    import org.apache.spark.sql.functions._
    def compute: String = {
      val r = df.select(xxhash64(keyCols.map(col): _*).as("h"))
        .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
          coalesce(expr("sum(cast(h as decimal(38,0)))"),
            lit(java.math.BigDecimal.ZERO)).as("s"),
          count(lit(1)).as("n")).first()
      s"${r.getLong(0)}|${r.getDecimal(1).toBigInteger}|${r.getLong(2)}"
    }
    val files = df.inputFiles.sorted
    if (files.isEmpty) compute
    else {
      val listing = files.map { u =>
        val f = new java.io.File(new java.net.URI(u).getPath)
        s"${f.getPath}:${f.length}:${f.lastModified}"
      }.mkString(",")
      memoized(fpMemo, (keyCols, df.queryExecution.analyzed.semanticHash(), listing))(compute)
    }
  }

  // ---------------------------- named indexes ----------------------------

  /** Resolve the NAMED index `name`: a directory under [[root]] that its
    * build step rewrites in place and that records its source fingerprint
    * inside (the IVF and LSH index lifecycles). `fresh(path)` is the
    * read-through probe — the recorded fingerprint matches the live
    * source — and runs on every call; `build(path)` runs only when it
    * fails. Both run under the path's build lock, so concurrent first
    * calls build once. */
  def namedIndex(name: String)(fresh: String => Boolean)(build: String => Unit): String = {
    val p = s"$root/${sanitize(name)}"
    buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
      if (!fresh(p)) build(p)
    }
    p
  }

  /** Read-through resolve: return a DataFrame scanning the persisted
    * artifact for (kind, params, fp), building and persisting it first if
    * absent. Both branches return a scan OF THE ARTIFACT, so the serve
    * plan is identical on hit and cold build. `build` must be
    * deterministic given the fingerprinted source — which also makes
    * cross-process write races benign. */
  def cachedFrame(spark: SparkSession, kind: String, params: String,
                  fp: String)(build: => DataFrame): DataFrame = {
    val p = path(kind, params, fp)
    buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
      if (complete(p)) record(s"$kind.disk")
      else {
        val tmp = tmpSibling(p)
        // REBALANCE before the write (guide §6: coalesce on write): build
        // plans ending in map-only stages inherit the build's task width
        // and write one file per task — tiny artifacts came out as 32 KB-
        // sized files, and Spark's size-based file packing (minPartitionNum
        // defaults to core count) then re-split every SERVE scan into one
        // task per file, taxing each artifact reference with up to a full
        // round of task overheads. AQE sizes rebalanced partitions to the
        // advisory target, so files come out advisory-sized at any scale
        // (a 100-TB build gets many files, a 400-KB band table gets one);
        // the one extra exchange runs only on the once-per-corpus build.
        build.hint("rebalance").write.mode("overwrite").parquet(tmp.getPath)
        publish(tmp, new java.io.File(p))
        record(s"$kind.build")
      }
    }
    // Published artifacts are immutable (fingerprint in the path), but the
    // listing-keyed memo also covers a deleted-and-rebuilt dir correctly.
    resolvedFrame(spark, p)
  }

  /** Read-through resolve of a small driver-resident model artifact
    * (centroid/codebook arrays — bounded k·d doubles, persisted as a
    * k-row parquet): `read(path)` on artifact hit, else `build` then
    * `write(path, model)`. Counter events: `<kind>.disk` / `<kind>.train`
    * (callers record `<kind>.mem` for their in-JVM LRU hits). */
  def cachedModelArtifact[T](kind: String, params: String, fp: String)(
      read: String => T, write: (String, T) => Unit)(build: => T): T = {
    val p = path(s"model_$kind", params, fp)
    buildLocks.computeIfAbsent(p, _ => new Object).synchronized {
      if (complete(p)) { record(s"$kind.disk"); read(p) }
      else {
        val m = build
        val tmp = tmpSibling(p)
        write(tmp.getPath, m)
        publish(tmp, new java.io.File(p))
        record(s"$kind.train")
        m
      }
    }
  }
}

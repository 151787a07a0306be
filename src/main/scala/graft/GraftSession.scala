package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory for the graft engine — the configuration a
  * deployment should start from, local or cluster. Every session of the
  * engine's mains is built here; a main adds only its own deltas (cores,
  * shuffle partitions) as `.config` lines on [[builder]].
  *
  * What a session gets by construction:
  *  - AQE on: runtime re-planning (skew-join splitting, partition
  *    coalescing, dynamic broadcast) is the main defense at 100 TB where
  *    static stats lie.
  *  - RocksDB state store ([[stateStore]]): the streaming processors'
  *    per-key state (SURVEY §1.5) must spill past heap at production key
  *    counts. Changelog checkpointing is on: a micro-batch commit writes
  *    only the rows the batch changed, so its cost follows the keys
  *    touched, not the state size. Snapshots, and the CPU they cost, move
  *    to the state-store maintenance thread, which the tasks' executor CPU
  *    does not count. Recovery loads the last snapshot and replays at most
  *    the changelogs written since it.
  *  - One checkpoint file manager for every streaming query
  *    ([[streaming.CheckpointFiles]], in [[stateStore]]), reaching the
  *    driver's offset and commit logs and the executors' state-store
  *    files. On a local path it renames with rename(2); Spark's default
  *    forks a `readlink` process per renamed path. Any other file system
  *    keeps Spark's default: HDFS's `FileSystem.rename` does not replace
  *    an existing file, so the rename-based manager would silently keep
  *    a stale file where a re-run batch overwrites one.
  *  - UTC + micros parquet timestamps: oracle-stable instants everywhere.
  *    A TIMESTAMP(NANOS) parquet column reads as a LONG
  *    (`nanosAsLong`) instead of failing the read; `sources.Tables`
  *    turns it back into micros.
  *  - Kryo serialization.
  *  - [[plans.GraftExtensions]]: the engine's optimizer rule and every
  *    native SQL function of [[functions.GraftFunctions.functions]], so no
  *    call site registers them. `newSession()` gets them too.
  *  - shuffle partitions default to cluster parallelism, not Spark's 200.
  *
  * The one fallback: extensions apply only when a session is created, so a
  * session built elsewhere (a caller's own `SparkSession.builder()`) has
  * neither the functions nor `nanosAsLong`. [[adopt]] gives it both,
  * idempotently; [[SparkEntry]], where such sessions enter the engine,
  * calls it before every query.
  */
object GraftSession {

  /** The keyed state store every session of the engine runs: defined
    * here once, applied by every session builder. */
  val stateStore: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // A commit appends the batch's changed rows to a .changelog file
    // instead of building, zipping and copying a whole checkpoint;
    // snapshots are taken off the batch path (see the scaladoc above).
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // Spark 4.1's checksum checkpoint layer can deadlock all tasks inside
    // ChecksumCancellableFSDataOutputStream.close (observed: a whole stage
    // parked on its await for 35+ min). Plain checkpoint files are the
    // pre-4.1 behavior, exercised by CheckpointRecoverySpec.
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    // Checkpoint files on a local path are renamed with rename(2), not
    // through Hadoop's FileContext, which forks a readlink per path.
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[streaming.CheckpointFiles].getName)

  def builder(appName: String, master: Option[String] = None,
              shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      // Coalesce small shuffles to the advisory size rather than keeping
      // one partition per core — the production-recommended AQE setting
      // (idle-core scheduling overhead dominates tiny post-shuffle stages;
      // big shuffles still split by size).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(stateStore)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Engine optimizer rules (e.g. size(filter)>0 → exists) and native
      // SQL functions. withExtensions COMPOSES with any deployment-supplied
      // --conf spark.sql.extensions instead of clobbering it; like the
      // conf route, it only takes effect at session CREATION.
      .withExtensions(new plans.GraftExtensions)
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    b
  }

  /** Local session on `cores` cores, by default all of this machine's. */
  def local(appName: String,
            cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    builder(appName, Some(s"local[$cores]"), Some(cores))
      // Local data is MBs: the 64 MB advisory would coalesce every reduce
      // stage to ONE task, serializing joins/aggs behind one core. 8 MB
      // keeps tiny shuffles at 1 task but lets the mid-size ones (token
      // tables, span tables, lineitem aggs) spread across cores (measured
      // −10% on the bench's shuffle-heavy subset). The cluster builder
      // above deliberately keeps the default.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  /** The fallback for a session not built by [[builder]]: registers the
    * native functions it lacks ([[functions.GraftFunctions.register]]) and
    * sets `nanosAsLong`. A no-op on a session of [[builder]]. */
  def adopt(spark: SparkSession): SparkSession = {
    functions.GraftFunctions.register(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }
}

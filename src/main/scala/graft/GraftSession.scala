package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory for the graft engine — the configuration a
  * deployment should start from, local or cluster.
  *
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
  *  - UTC + micros parquet timestamps: oracle-stable instants everywhere.
  *  - shuffle partitions default to cluster parallelism, not Spark's 200.
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
    // 4.1 checksum checkpoint layer: observed whole-stage deadlock in
    // ChecksumCancellableFSDataOutputStream.close (see SparkSpec).
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false")

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
      .config(stateStore)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      // Engine optimizer rules (e.g. size(filter)>0 → exists).
      // withExtensions COMPOSES with any deployment-supplied
      // --conf spark.sql.extensions instead of clobbering it; like the
      // conf route, it only takes effect at session CREATION.
      .withExtensions(new plans.GraftExtensions)
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n))
    b
  }

  /** Local session sized for this machine. */
  def local(appName: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = builder(appName, Some(s"local[$cores]"), Some(cores))
      // Local data is MBs; the 64 MB advisory would coalesce every reduce
      // stage to one task (see Bench.scala — measured −10% at 8 MB). The
      // cluster builder above deliberately keeps the default.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    functions.GraftFunctions.register(spark)
    spark
  }
}

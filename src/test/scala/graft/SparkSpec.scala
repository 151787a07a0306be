package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite. */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // RocksDB state store: the production choice, see GraftSession.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Spark 4.1's checksum checkpoint layer can deadlock all tasks inside
    // ChecksumCancellableFSDataOutputStream.close (observed: whole stage
    // parked on its await for 35+ min). Plain checkpoint files are the
    // pre-4.1 behavior and fully exercised by CheckpointRecoverySpec.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

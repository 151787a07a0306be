package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite. */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    // The engine's state store, changelog mode included (see GraftSession).
    // Its checksum-layer opt-out: Spark 4.1's checksum checkpoint layer can
    // deadlock all tasks inside ChecksumCancellableFSDataOutputStream.close
    // (observed: whole stage parked on its await for 35+ min). Plain
    // checkpoint files are the pre-4.1 behavior and fully exercised by
    // CheckpointRecoverySpec.
    .config(GraftSession.stateStore)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

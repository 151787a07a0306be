package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite, built by [[GraftSession.builder]]
  * so the suite runs what a deployment runs: the engine's extension (its
  * optimizer rule and native functions), the RocksDB state store in
  * changelog mode, Kryo. */
trait SparkSpec {
  lazy val spark: SparkSession =
    GraftSession.builder("graft-test", Some("local[4]"), Some(4))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}

package graft.service

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.KafkaTopology

/** The manual flag/unflag injector CLI (O11 —
  * /root/reference/cmd/flag-wallet/main.go): emits one FlagEvent for a
  * wallet onto the flag_wallet topic, where it merges with the detector's
  * output ahead of the flagger's LWW upsert.
  *
  * Usage: runMain graft.service.FlagWalletMain --wallet <id> [--remove]
  *        [--brokers host:port]
  * Without --brokers it dry-runs: prints the exact key/value wire record
  * (proto `FlagEvent` value as hex, see [[KafkaTopology.flagRecords]])
  * instead of producing.
  */
object FlagWalletMain {

  /** The flag_wallet record of one manual flag (or unflag, `remove`) of
    * `wallet`. flag_removed mirrors the reference's -remove flag; a manual
    * FLAG has no detector window, so rolling_period_start_unix stays 0
    * (cmd/flag-wallet/main.go:26-33). */
  def record(spark: SparkSession, wallet: String, remove: Boolean): DataFrame = {
    import spark.implicits._
    KafkaTopology.flagRecords(Seq((wallet, remove, 0L))
      .toDF("walletId", "flagRemoved", "rollingPeriodStartUnix"))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array("--wallet", v)  => "wallet" -> v
      case Array("--brokers", v) => "brokers" -> v
    }.toMap
    val remove = args.contains("--remove")
    val wallet = opts.getOrElse("wallet",
      sys.error("usage: --wallet <id> [--remove] [--brokers host:port]"))

    val spark = graft.GraftSession.local("graft-flag-wallet")
    spark.sparkContext.setLogLevel("WARN")
    val event = record(spark, wallet, remove)
    opts.get("brokers") match {
      case Some(brokers) =>
        event.write.format("kafka")
          .option("kafka.bootstrap.servers", brokers)
          .option("topic", KafkaTopology.FlagTopic)
          .save()
        println(s"emitted ${if (remove) "unflag" else "flag"} for $wallet")
      case None =>
        val r = event.select(col("key"), hex(col("value"))).collect().head
        println(s"[dry-run] topic=${KafkaTopology.FlagTopic} " +
          s"key=${r.getString(0)} value=${r.getString(1)}")
    }
    spark.stop()
  }
}

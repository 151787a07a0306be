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

  /** Parsed command line: the wallet, whether to unflag it, and the
    * brokers to produce to (none: dry run). */
  final case class Args(wallet: String, remove: Boolean, brokers: Option[String])

  /** Parses the command line; a missing `--wallet`, or a flag in place of
    * a value, throws `IllegalArgumentException`. */
  def parse(args: Seq[String]): Args = {
    val opts = graft.Cli.values(args, Set("--wallet", "--brokers"))
    val wallet = opts.getOrElse("--wallet", throw new IllegalArgumentException(
      "--wallet required; usage: --wallet <id> [--remove] [--brokers host:port]"))
    Args(wallet, args.contains("--remove"), opts.get("--brokers"))
  }

  def main(args: Array[String]): Unit = {
    val Args(wallet, remove, brokers) = parse(args.toSeq)
    val spark = graft.GraftSession.local("graft-flag-wallet")
    spark.sparkContext.setLogLevel("WARN")
    val event = record(spark, wallet, remove)
    brokers match {
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

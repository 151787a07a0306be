package graft.service

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model.KeyedFlagEvent
import graft.streaming.KafkaTopology

/** The manual flag CLI (O11) produces onto the topic the flagger consumes,
  * so its record must decode the way [[KafkaTopology.flagEventSource]]
  * decodes every flag_wallet record. */
class FlagWalletMainSpec extends AnyFunSuite with SparkSpec {

  test("the CLI's record decodes as the flagger's source decodes it") {
    for (remove <- Seq(true, false)) {
      val record = FlagWalletMain.record(spark, "wallet-42", remove)
      val decoded = KafkaTopology.flagEvents(record.withColumn("offset", lit(7L)))
        .collect().toSeq
      assert(decoded == Seq(KeyedFlagEvent("wallet-42", remove, 0L, 7L)))
    }
  }

  test("the command line selects the wallet, the unflag and the brokers") {
    assert(FlagWalletMain.parse(Seq("--wallet", "w7", "--remove")) ==
      FlagWalletMain.Args("w7", remove = true, brokers = None))
    assert(FlagWalletMain.parse(Seq("--brokers", "kafka:9092", "--wallet", "w7")) ==
      FlagWalletMain.Args("w7", remove = false, brokers = Some("kafka:9092")))
  }

  test("a flag is not taken as the wallet id") {
    val e = intercept[IllegalArgumentException] {
      FlagWalletMain.parse(Seq("--wallet", "--remove"))
    }
    assert(e.getMessage.contains("--wallet"))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.model.{KeyedFlagEvent, TimedDeposit}

/** Production wiring of the reference's Kafka topology
  * (/root/reference/docker-compose.yml + cmd/processor/main.go): topic
  * `deposit` → collector + detector (independent consumer groups, i.e. two
  * streaming queries on the same source), detector → topic `flag_wallet` →
  * flagger. Serde is the reference's protobuf wire format
  * (depositaja.go:14-34): each message is described once in
  * [[graft.serde.ProtoWire]], and its codegen'd `proto_decode_deposit`,
  * `proto_encode_flag_event` and `proto_decode_flag_event` functions,
  * applied here, are derived from that description — byte-for-byte
  * compatible with the Go producers/consumers. The build ships neither
  * the Kafka connector nor spark-protobuf, so the topology resolves its
  * source/sink format at runtime and is exercised on a cluster, while
  * [[DepositStreams]] + MemoryStream cover the operator semantics and
  * `ProtoWireSpec` pins the wire bytes against golden hex.
  */
object KafkaTopology {

  val DepositTopic   = "deposit"     // depositaja.go:11
  val FlagTopic      = "flag_wallet" // flagger.go:15

  /** O1: Kafka → validated, keyed deposit stream. The broker ingestion
    * timestamp supplies processing time (the reference stamps wall clock at
    * the consumer, detector.go:57; broker time is the deterministic
    * equivalent), the offset supplies the LWW sequence. Values are proto
    * `Deposit` messages (wallet.proto:14-17). */
  def depositSource(spark: SparkSession, brokers: String): Dataset[TimedDeposit] = {
    import spark.implicits._
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", DepositTopic)
      .load()
      .select(
        call_function("proto_decode_deposit", col("value")).as("d"),
        col("timestamp"), col("offset"))
      .select(
        col("d.wallet_id").as("walletId"),
        col("d.amount").as("amount"),
        unix_seconds(col("timestamp")).as("tsUnix"),
        col("offset").as("seq"))
      .where(col("amount") > 0) // service.go:87-91 — reject non-positive
      .as[TimedDeposit]
  }

  /** The flag_wallet wire record of each flag event (walletId,
    * flagRemoved, rollingPeriodStartUnix): key = wallet id, value = proto
    * `FlagEvent` message (flagger.proto:15-18). The one encoding of the
    * topic — the detector's sink and the manual flag CLI (O11) both
    * produce through it, and [[flagEvents]] reads it back. */
  def flagRecords(events: DataFrame): DataFrame =
    events.select(col("walletId").as("key"),
      call_function("proto_encode_flag_event",
        col("flagRemoved"), col("rollingPeriodStartUnix")).as("value"))

  /** Flag events of flag_wallet records (key, value, offset): the offset
    * supplies the LWW sequence. */
  def flagEvents(records: DataFrame): Dataset[KeyedFlagEvent] = {
    import records.sparkSession.implicits._
    records
      .select(col("key").cast("string").as("walletId"),
        call_function("proto_decode_flag_event", col("value")).as("e"),
        col("offset").as("seq"))
      .select(col("walletId"), col("e.flag_removed").as("flagRemoved"),
        col("e.rolling_period_start_unix").as("rollingPeriodStartUnix"),
        col("seq"))
      .as[KeyedFlagEvent]
  }

  /** O6 sink: detector verdicts → flag_wallet topic, keyed by wallet (the
    * manual flag CLI, O11, produces to the same topic). */
  def flagEventSink(events: Dataset[KeyedFlagEvent], brokers: String,
                    checkpoint: String): DataStreamWriter[_] = {
    flagRecords(events.toDF())
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", FlagTopic)
      .option("checkpointLocation", checkpoint)
  }

  /** O6 source side of the flagger (flagger.go:62). */
  def flagEventSource(spark: SparkSession, brokers: String): Dataset[KeyedFlagEvent] =
    flagEvents(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", FlagTopic)
      .load())

  /** The three keyed processors, by their command-line names. */
  val Processors: Seq[String] = Seq("collector", "detector", "flagger")

  /** The processor group (cmd/processor/main.go:25-55): the `selected`
    * processors as streaming queries under one session. Balance/flag tables
    * land as parquet "changelog" directories that the serve path
    * (DepositOps.check) reads. */
  def runProcessors(spark: SparkSession, brokers: String, stateDir: String,
                    selected: Set[String]): Seq[StreamingQuery] = {
    lazy val deposits = depositSource(spark, brokers)
    // State-table updates flow through foreachBatch as append-only
    // changelog rows (mapGroupsWithState is Update-mode; a parquet sink is
    // append-only) — readers take the latest row per key, exactly like a
    // compacted Kafka changelog topic.
    def changelog[T](rows: Dataset[T], name: String, table: String): StreamingQuery =
      rows.writeStream
        .option("checkpointLocation", s"$stateDir/ckpt/$name")
        .trigger(Trigger.ProcessingTime("5 seconds"))
        .outputMode("update")
        .foreachBatch((batch: Dataset[T], _: Long) =>
          batch.write.mode("append").parquet(s"$stateDir/$table"))
        .start()
    Processors.filter(selected).map {
      case "collector" =>
        changelog(DepositStreams.collector(spark, deposits), "collector", "balance-table")
      case "detector" =>
        flagEventSink(DepositStreams.detector(spark, deposits),
          brokers, s"$stateDir/ckpt/detector").start()
      case "flagger" =>
        changelog(DepositStreams.flagger(spark, flagEventSource(spark, brokers)),
          "flagger", "flagger-table")
    }
  }
}

package graft.streaming

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.LongType
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
  * compatible with the Go producers/consumers.
  *
  * [[runProcessors]] takes its deposit stream and its flag-event edge as
  * parameters, so the wiring itself is oracle-checked: the `stream_check*`
  * queries run it over replayable parquet and `graft-replay` feeds with a
  * parquet edge. Only the Kafka source and sink formats stay cluster-only
  * (the build ships no Kafka connector, so they resolve at runtime);
  * `ProtoWireSpec` pins their wire bytes against golden hex.
  */
object KafkaTopology {

  val DepositTopic   = "deposit"     // depositaja.go:11
  val FlagTopic      = "flag_wallet" // flagger.go:15

  /** O1: Kafka → validated, keyed deposit stream. The broker ingestion
    * timestamp supplies processing time (the reference stamps wall clock at
    * the consumer, detector.go:57; broker time is the deterministic
    * equivalent), the offset supplies the LWW sequence. */
  def depositSource(spark: SparkSession, brokers: String): Dataset[TimedDeposit] =
    deposits(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", DepositTopic)
      .load()
      .select(col("value"), unix_seconds(col("timestamp")).as("tsUnix"),
        col("offset").as("seq")))

  /** Deposits of deposit-topic records (value, tsUnix, seq), whose values
    * are proto `Deposit` messages (wallet.proto:14-17): the one decode of
    * the topic. Like `POST /deposit` (service.go:87-91), it drops every
    * deposit whose amount is not a positive finite number; a NaN would
    * poison its wallet's balance on every replay, and in Spark
    * `NaN > 0` holds. */
  def deposits(records: DataFrame): Dataset[TimedDeposit] = {
    import records.sparkSession.implicits._
    val amount = col("amount")
    records
      .select(call_function("proto_decode_deposit", col("value")).as("d"),
        col("tsUnix"), col("seq"))
      .select(col("d.wallet_id").as("walletId"), col("d.amount").as("amount"),
        col("tsUnix"), col("seq"))
      .where(amount > 0 && !isnan(amount) && amount =!= Double.PositiveInfinity)
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
  def flagEventSink(events: Dataset[KeyedFlagEvent], brokers: String): DataStreamWriter[_] =
    flagRecords(events.toDF())
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", FlagTopic)

  /** O6 source side of the flagger (flagger.go:62). */
  def flagEventSource(spark: SparkSession, brokers: String): Dataset[KeyedFlagEvent] =
    flagEvents(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", FlagTopic)
      .load())

  /** The three keyed processors, by their command-line names. */
  val Processors: Seq[String] = Seq("collector", "detector", "flagger")

  /** The column that records which micro-batch appended a changelog
    * row. */
  val BatchId = "batchId"

  /** The latest row of each wallet of the changelog table at `path`, whose
    * rows are `T`s: the row its greatest [[BatchId]] appended. A re-run
    * batch appends identical rows under the same id, so a tie is between
    * equal rows. The schema is given, so the read infers none. */
  def latest[T <: Product : TypeTag](spark: SparkSession, path: String): DataFrame = {
    val rows = spark.read.schema(Encoders.product[T].schema.add(BatchId, LongType)).parquet(path)
    rows.groupBy(col("walletId"))
      .agg(max_by(struct(rows.columns.map(col).toIndexedSeq: _*), col(BatchId)).as("r"))
      .select("r.*")
  }

  /** The processor group (cmd/processor/main.go:25-55): the `selected`
    * processors as streaming queries under one session, each checkpointed
    * at `$stateDir/ckpt/<name>`. The collector and the detector read
    * `deposits`; the detector writes its flag events through `flagSink`,
    * and the flagger reads them back from `flagSource` (in a deployment,
    * the flag_wallet topic). Balance and flag tables land under `stateDir`
    * as parquet "changelog" directories, appended on `trigger`, that the
    * serve path ([[graft.operators.DepositOps.check]]) reads through
    * [[latest]]. A failed stand-up stops the processors it started. */
  def runProcessors(spark: SparkSession, deposits: => Dataset[TimedDeposit],
                    flagSink: Dataset[KeyedFlagEvent] => DataStreamWriter[_],
                    flagSource: => Dataset[KeyedFlagEvent], stateDir: String,
                    selected: Set[String], trigger: Trigger,
                    windowSec: Long = DetectorLogic.RollingPeriodSec,
                    threshold: Double = DetectorLogic.MaxAmount): Seq[StreamingQuery] = {
    // State-table updates flow through foreachBatch as append-only
    // changelog rows (mapGroupsWithState is Update-mode; a parquet sink is
    // append-only), each tagged with its batch id — readers take the
    // latest row per key (`latest`), exactly like a compacted Kafka
    // changelog topic.
    def changelog[T](rows: Dataset[T], table: String): DataStreamWriter[_] =
      rows.writeStream
        .trigger(trigger)
        .outputMode("update")
        .foreachBatch((batch: Dataset[T], id: Long) =>
          batch.withColumn(BatchId, lit(id)).write.mode("append").parquet(s"$stateDir/$table"))
    def writer(processor: String): DataStreamWriter[_] = processor match {
      case "collector" =>
        changelog(DepositStreams.collector(spark, deposits), "balance-table")
      case "detector" =>
        flagSink(DepositStreams.detector(spark, deposits, windowSec, threshold))
      case "flagger" =>
        changelog(DepositStreams.flagger(spark, flagSource), "flagger-table")
    }
    val started = ArrayBuffer.empty[StreamingQuery]
    try Processors.filter(selected).foreach { p =>
      started += writer(p).option("checkpointLocation", s"$stateDir/ckpt/$p").start()
    } catch { case NonFatal(e) =>
      started.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      throw e
    }
    started.toSeq
  }
}

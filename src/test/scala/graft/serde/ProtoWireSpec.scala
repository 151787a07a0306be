package graft.serde

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.model._
import graft.streaming.{DepositStreams, KafkaTopology}
import graft.TestDirs.tempDir
import org.apache.spark.unsafe.types.UTF8String
import ProtoWire.{decode, encode}

/** O12 wire serde: golden-byte checks against the public proto3 wire
  * format (so the codec is byte-compatible with the reference's Go
  * `proto.Marshal`, depositaja.go:14-34), round-trips for all five message
  * types, unknown-field tolerance, and the detector pipeline running over
  * proto-encoded values exactly as the Kafka topology would feed it. */
class ProtoWireSpec extends AnyFunSuite with SparkSpec {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xFF}%02x").mkString(" ")

  // Rows of the five message descriptions, field i at ordinal i.
  private def deposit(walletId: String, amount: Double): InternalRow =
    InternalRow(UTF8String.fromString(walletId), amount)
  private def history(walletId: String, deposits: Seq[InternalRow]): InternalRow =
    InternalRow(UTF8String.fromString(walletId), new GenericArrayData(deposits.toArray[Any]))
  private def counter(start: Long, received: Double): InternalRow = InternalRow(start, received)
  private def flag(b: Boolean, start: Long): InternalRow = InternalRow(b, start)

  // -- golden wire bytes (hand-derived from the protobuf encoding spec) --

  test("Deposit golden bytes: field1 len-delimited utf8, field2 fixed64 LE") {
    // tag(1,LEN)=0x0A len=2 'w''1'  tag(2,I64)=0x11  2.5d LE = 00..04 40
    assert(hex(encode(ProtoWire.Deposit, deposit("w1", 2.5))) ==
      "0a 02 77 31 11 00 00 00 00 00 00 04 40")
  }

  test("FlagEvent golden bytes: bool varint + int64 varint") {
    // tag(1,VARINT)=0x08 true=01  tag(2,VARINT)=0x10  300 = AC 02
    assert(hex(encode(ProtoWire.FlagEvent, flag(true, 300L))) ==
      "08 01 10 ac 02")
  }

  test("Counter golden bytes: int64 varint + double fixed64") {
    // 1700000000 varint = 80 e2 cf aa 06 ; 1.0d LE = 00.. f0 3f
    assert(hex(encode(ProtoWire.Counter, counter(1700000000L, 1.0))) ==
      "08 80 e2 cf aa 06 11 00 00 00 00 00 00 f0 3f")
  }

  test("DepositHistory golden bytes: repeated nested messages") {
    val h = history("w", Seq(deposit("w", 1.0), deposit("w", 0.0)))
    // field1 "w"; field2: nested(wallet "w" + 1.0) then nested(wallet "w",
    // amount 0 omitted per proto3 implicit presence)
    assert(hex(encode(ProtoWire.DepositHistory, h)) ==
      "0a 01 77 " +                                  // wallet_id = "w"
      "12 0c 0a 01 77 11 00 00 00 00 00 00 f0 3f " + // Deposit("w", 1.0)
      "12 03 0a 01 77")                              // Deposit("w", 0.0)
  }

  test("proto3 zero values are omitted: all-default messages encode empty") {
    assert(encode(ProtoWire.Deposit, deposit("", 0.0)).isEmpty)
    assert(encode(ProtoWire.DepositHistory, history("", Nil)).isEmpty)
    assert(encode(ProtoWire.Counter, counter(0L, 0.0)).isEmpty)
    assert(encode(ProtoWire.FlagEvent, flag(false, 0L)).isEmpty)
    assert(encode(ProtoWire.FlagValue, flag(false, 0L)).isEmpty)
    // And decode of empty bytes yields the defaults back.
    assert(decode(ProtoWire.Deposit, Array.empty) == deposit("", 0.0))
    assert(decode(ProtoWire.FlagValue, Array.empty) == flag(false, 0L))
  }

  test("negative int64 encodes as 10-byte two's-complement varint") {
    val bytes = encode(ProtoWire.Counter, counter(-1L, 0.0))
    // 64 one-bits = nine 0xFF continuation bytes + final 0x01.
    assert(hex(bytes) == "08 ff ff ff ff ff ff ff ff ff 01")
    assert(decode(ProtoWire.Counter, bytes) == counter(-1L, 0.0))
  }

  test("decoder skips unknown fields and accepts any field order") {
    // amount-first, then an unknown varint field 3, then wallet_id, then an
    // unknown length-delimited field 4.
    val bytes = Array[Int](
      0x11, 0, 0, 0, 0, 0, 0, 0xF0, 0x3F, // amount = 1.0
      0x18, 0x2A,                         // field 3 varint 42 (unknown)
      0x0A, 0x02, 0x77, 0x31,             // wallet_id = "w1"
      0x22, 0x03, 0x01, 0x02, 0x03        // field 4 len (unknown)
    ).map(_.toByte)
    assert(decode(ProtoWire.Deposit, bytes) == deposit("w1", 1.0))
  }

  test("round-trip all five message types over a value matrix") {
    val deposits = Seq(deposit("", 0.0), deposit("w", -3.25),
      deposit("héllo-wörld", 1.7976931348623157e308), deposit("x" * 300, 1e-300))
    deposits.foreach(d => assert(decode(ProtoWire.Deposit, encode(ProtoWire.Deposit, d)) == d))
    // NaN round-trips bit-exactly (equality fails on NaN; compare bits).
    val nan = decode(ProtoWire.Deposit, encode(ProtoWire.Deposit, deposit("n", Double.NaN)))
    assert(java.lang.Double.doubleToLongBits(nan.getDouble(1)) ==
      java.lang.Double.doubleToLongBits(Double.NaN))
    val hists = Seq(history("w", Nil),
      history("w", (1 to 50).map(i => deposit("w", i * 0.5))))
    hists.foreach(h =>
      assert(decode(ProtoWire.DepositHistory, encode(ProtoWire.DepositHistory, h)) == h))
    val counters = Seq(counter(0, 0), counter(Long.MaxValue, 0.1),
      counter(Long.MinValue, -0.0))
    counters.foreach { c =>
      val back = decode(ProtoWire.Counter, encode(ProtoWire.Counter, c))
      assert(back.getLong(0) == c.getLong(0))
      assert(java.lang.Double.doubleToLongBits(back.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(if (c.getDouble(1) == 0.0) 0.0 else c.getDouble(1)))
    }
    for (b <- Seq(true, false); v <- Seq(0L, 1L, 127L, 128L, 1L << 40)) {
      assert(decode(ProtoWire.FlagEvent, encode(ProtoWire.FlagEvent, flag(b, v))) == flag(b, v))
      assert(decode(ProtoWire.FlagValue, encode(ProtoWire.FlagValue, flag(b, v))) == flag(b, v))
    }
  }

  // -- Spark expression layer (codegen path) ------------------------------

  test("proto_encode/proto_decode round-trip as codegen'd columns") {
    import spark.implicits._
    val df = Seq(("w1", 2.5), ("w2", 0.0), ("", 9.75), ("héllo", -1.5))
      .toDF("wallet_id", "amount")
    val back = df
      .withColumn("bin", call_function("proto_encode_deposit", col("wallet_id"), col("amount")))
      .withColumn("d", call_function("proto_decode_deposit", col("bin")))
      .select(col("wallet_id"), col("amount"),
        col("d.wallet_id").as("w2"), col("d.amount").as("a2"))
      .collect()
    back.foreach { r =>
      assert(r.getString(2) == r.getString(0))
      assert(r.getDouble(3) == r.getDouble(1))
    }

    val flags = Seq((true, 300L), (false, 0L)).toDF("f", "t")
      .withColumn("bin", call_function("proto_encode_flag_event", col("f"), col("t")))
      .withColumn("e", call_function("proto_decode_flag_event", col("bin")))
      .select(col("f"), col("t"), col("e.flag_removed"), col("e.rolling_period_start_unix"))
      .collect()
    flags.foreach { r =>
      assert(r.getBoolean(2) == r.getBoolean(0))
      assert(r.getLong(3) == r.getLong(1))
    }

    val hist = Seq(("w", Seq(("w", 1.0), ("w", 2.0)))).toDF("wallet_id", "raw")
      .withColumn("deposits", expr(
        "transform(raw, x -> named_struct('wallet_id', x._1, 'amount', x._2))"))
      .withColumn("bin", call_function("proto_encode_history", col("wallet_id"), col("deposits")))
      .withColumn("h", call_function("proto_decode_history", col("bin")))
      .select(col("h.wallet_id"), expr("h.deposits[1].amount"))
      .collect()
    assert(hist.head.getString(0) == "w")
    assert(hist.head.getDouble(1) == 2.0)

    val counters = Seq((1700000000L, 12.5)).toDF("s", "r")
      .withColumn("bin", call_function("proto_encode_counter", col("s"), col("r")))
      .select(call_function("proto_decode_counter", col("bin")).as("c"))
      .select(col("c.rolling_period_start_unix"), col("c.received"))
      .collect()
    assert(counters.head.getLong(0) == 1700000000L)
    assert(counters.head.getDouble(1) == 12.5)
  }

  // -- detector over proto-encoded values (the Kafka topology shape) ------

  test("detector output is identical when deposits ride the proto wire") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val deposits = Seq(
      TimedDeposit("a", 6000, 100, 1), TimedDeposit("a", 5000, 150, 2),
      TimedDeposit("b", 20000, 100, 3), TimedDeposit("b", 1, 300, 4))

    // Wire shape: (proto Deposit bytes, broker ts, offset) — what the Kafka
    // source delivers; decode through KafkaTopology.depositSource's own decode.
    val wire = deposits.map(d =>
      (encode(ProtoWire.Deposit, deposit(d.walletId, d.amount)), d.tsUnix, d.seq))

    def run(in: Seq[TimedDeposit], name: String): Seq[KeyedFlagEvent] = {
      val input = MemoryStream[TimedDeposit]
      val q = DepositStreams.detector(spark, input.toDS())
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      input.addData(in)
      q.processAllAvailable(); q.stop()
      spark.table(name).as[KeyedFlagEvent].collect().toSeq.sortBy(_.seq)
    }

    val decoded = KafkaTopology.deposits(wire.toDF("value", "tsUnix", "seq")).collect().toSeq

    assert(run(decoded, "proto_path") == run(deposits, "direct_path"))
  }

  test("the deposit topic's decode keeps only positive finite amounts") {
    import spark.implicits._
    val amounts = Seq(5.0, 0.0, -1.0, Double.NaN, Double.PositiveInfinity)
    val records = amounts.zipWithIndex.map { case (a, i) =>
      (encode(ProtoWire.Deposit, deposit(s"w$i", a)), 100L + i, i.toLong + 1)
    }.toDF("value", "tsUnix", "seq")
    assert(KafkaTopology.deposits(records).collect().toSeq ==
      Seq(TimedDeposit("w0", 5.0, 100L, 1L)))
  }

  test("topology edge: expression-framed feed bytes equal the Go producer's wire bytes") {
    import spark.implicits._
    // What stream_check_proto's feed writer produces (the codegen'd
    // proto_encode_deposit over a distributed projection, through a parquet
    // round trip) must be byte-identical to what the reference's Go
    // producer marshals for the same deposits (depositaja.go:16) — pinned
    // here against the plain-JVM codec the golden-byte tests certify.
    val deposits = Seq(
      TimedDeposit("w-1", 12.5, 100, 1), TimedDeposit("w-2", 0.01, 150, 2),
      TimedDeposit("ütf-∂", 99999.99, 200, 3), TimedDeposit("w-4", 1e9, 250, 4))
    val dir = tempDir("proto_feed_edge").toString
    deposits.toDF()
      .select(call_function("proto_encode_deposit", col("walletId"), col("amount"))
        .as("value"), col("tsUnix"), col("seq"))
      .write.mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir)
      .select(col("seq"), col("value")).as[(Long, Array[Byte])]
      .collect().toMap
    deposits.foreach { d =>
      val expected = encode(ProtoWire.Deposit, deposit(d.walletId, d.amount))
      assert(java.util.Arrays.equals(read(d.seq), expected),
        s"seq=${d.seq}: framed bytes differ from the reference wire encoding")
    }
    graft.operators.Maintenance.deleteRecursively(new java.io.File(dir))
  }
}

package graft.serde

import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSpec
import graft.functions.GraftFunctions

/** The ten `proto_encode_*`/`proto_decode_*` SQL functions derived from the
  * five message descriptions: the same answers codegen'd and interpreted,
  * NULL in → NULL out, type-check failures under their own SQL names, and
  * the FlagValue wire bytes. */
class ProtoFunctionsSpec extends AnyFunSuite with SparkSpec {

  private def hex(bytes: Array[Byte]): String =
    bytes.map(b => f"${b & 0xFF}%02x").mkString(" ")

  test("FlagValue golden bytes: bool varint + int64 varint") {
    // tag(1,VARINT)=0x08 true=01  tag(2,VARINT)=0x10  300 = AC 02
    assert(hex(ProtoWire.encode(ProtoWire.FlagValue, InternalRow(true, 300L))) ==
      "08 01 10 ac 02")
    // false is omitted; 1700000000 varint = 80 e2 cf aa 06
    assert(hex(ProtoWire.encode(ProtoWire.FlagValue, InternalRow(false, 1700000000L))) ==
      "10 80 e2 cf aa 06")
  }

  private val depositType = StructType(Seq(
    StructField("wallet_id", StringType), StructField("amount", DoubleType)))

  /** One row per case; the last two carry a NULL argument. */
  private def input: DataFrame = {
    val schema = StructType(Seq(
      StructField("wallet_id", StringType), StructField("amount", DoubleType),
      StructField("start", LongType), StructField("received", DoubleType),
      StructField("flag", BooleanType),
      StructField("deposits", ArrayType(depositType))))
    val rows = Seq(
      Row("w1", 2.5, 1700000000L, 12.5, true, Seq(Row("w1", 1.0), Row("w1", 0.0))),
      Row("", 0.0, 0L, 0.0, false, Seq.empty),
      Row("héllo", Double.NaN, -1L, -0.0, true, Seq(Row("", Double.NaN))),
      Row("w4", -3.25, Long.MaxValue, Double.MaxValue, false, Seq(Row("x" * 200, 1e-300))),
      Row(null, 1.0, 5L, 1.0, true, Seq.empty),
      Row("w6", null, null, null, null, null))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Every proto function once: each message encoded from its fields,
    * then decoded from its bytes. */
  private def allTen(df: DataFrame): DataFrame = {
    val args = Map(
      "deposit" -> Seq("wallet_id", "amount"), "history" -> Seq("wallet_id", "deposits"),
      "counter" -> Seq("start", "received"), "flag_event" -> Seq("flag", "start"),
      "flag_value" -> Seq("flag", "start"))
    val encoded = df.select(col("wallet_id") +: ProtoWire.messages.map(m =>
      call_function(s"proto_encode_${m.name}", args(m.name).map(col): _*).as(m.name)): _*)
    encoded.select(col("wallet_id") +: ProtoWire.messages.flatMap(m => Seq(col(m.name),
      call_function(s"proto_decode_${m.name}", col(m.name)).as(s"${m.name}_decoded"))): _*)
  }

  private def collectWith(conf: (String, String)*)(df: => DataFrame): (Seq[Row], DataFrame) = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val d = df
      (d.collect().toSeq.sortBy(r => String.valueOf(r.get(0))), d)
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("all ten proto functions agree between codegen'd and interpreted evaluation") {
    val names = GraftFunctions.functions.map(_._1.funcName).filter(_.startsWith("proto_"))
    assert(names.toSet == ProtoWire.messages.flatMap(m =>
      Seq(s"proto_encode_${m.name}", s"proto_decode_${m.name}")).toSet)
    assert(names.size == 10)
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[ProtoEncode]))
    assert(!classOf[CodegenFallback].isAssignableFrom(classOf[ProtoDecode]))

    val (compiled, plan) = collectWith(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(allTen(input))
    val stages = plan.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
    ProtoWire.messages.foreach { m =>
      Seq(s"proto_encode_${m.name}", s"proto_decode_${m.name}").foreach { fn =>
        assert(stages.exists(_.toString.contains(fn)), s"$fn is not in a codegen stage")
      }
    }
    val (interpreted, _) = collectWith(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(allTen(input))
    assert(compiled.size == 6)
    assert(compiled == interpreted)

    // The bytes are the codec's, and a NULL argument gives NULL.
    val byWallet = compiled.map(r => Option(r.getString(0)) -> r).toMap
    assert(java.util.Arrays.equals(
      byWallet(Some("w1")).getAs[Array[Byte]]("deposit"),
      ProtoWire.encode(ProtoWire.Deposit,
        InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString("w1"), 2.5))))
    assert(byWallet(Some("w1")).getAs[Row]("flag_value_decoded") == Row(true, 1700000000L))
    assert(byWallet(Some("w1")).getAs[Row]("history_decoded") ==
      Row("w1", Seq(Row("w1", 1.0), Row("w1", 0.0))))
    val nullWallet = byWallet(None)
    assert(nullWallet.isNullAt(nullWallet.fieldIndex("deposit")))
    assert(nullWallet.isNullAt(nullWallet.fieldIndex("deposit_decoded")))
    assert(!nullWallet.isNullAt(nullWallet.fieldIndex("counter")))
    val nullRest = byWallet(Some("w6"))
    ProtoWire.messages.foreach(m => assert(nullRest.isNullAt(nullRest.fieldIndex(m.name)), m.name))
  }

  test("a wrong argument type fails the type check under the SQL function's name") {
    ProtoWire.messages.foreach { m =>
      val encode = s"proto_encode_${m.name}"
      val e = intercept[AnalysisException](
        spark.sql(s"SELECT $encode(${m.fields.map(_ => "1").mkString(", ")})").collect())
      assert(e.getMessage.contains(s"$encode expects ("), e.getMessage)
      val decode = s"proto_decode_${m.name}"
      val d = intercept[AnalysisException](spark.sql(s"SELECT $decode('x')").collect())
      assert(d.getMessage.contains(s"$decode expects (binary), got (string)"), d.getMessage)
    }
  }
}

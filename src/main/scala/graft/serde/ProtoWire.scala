package graft.serde

import java.io.ByteArrayOutputStream
import java.lang.Double.{doubleToLongBits, longBitsToDouble}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dependency-free protobuf (proto3) wire codec for the reference's five
  * message types (proto/wallet.proto:14-22, detector.proto:14-17,
  * flagger.proto:15-23), implementing the public wire-format spec (varint,
  * 64-bit fixed, length-delimited) so the streaming topology is
  * wire-compatible with the reference's Go producers/consumers without
  * needing the spark-protobuf connector jar.
  *
  * Each message is described once, as a [[Message]]: its fields in
  * field-number order, each with a name, a number and a [[Kind]]. Its
  * Catalyst `schema`, the one [[encode]] and [[decode]] that walk it, and
  * the `proto_encode_*`/`proto_decode_*` SQL functions
  * ([[ProtoEncode]], [[ProtoDecode]], registered per message by
  * [[graft.functions.GraftFunctions]]) all derive from that description.
  * A row of a message is an `InternalRow` of its schema, field i at
  * ordinal i.
  *
  * Encoding matches Go `proto.Marshal` canonical output: fields in
  * field-number order, scalar zero values omitted (proto3 implicit
  * presence), repeated message elements always emitted. Decoding is
  * order-independent and skips unknown fields, per spec.
  */
object ProtoWire {

  // ---- wire-format primitives -------------------------------------------

  private final val WireVarint = 0
  private final val WireFixed64 = 1
  private final val WireLen = 2
  private final val WireFixed32 = 5

  private def writeVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write((v & 0x7F).toInt)
  }

  private def writeTag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    writeVarint(out, ((field.toLong << 3) | wire.toLong))

  private def writeFixed64(out: ByteArrayOutputStream, bits: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
  }

  private def writeLenDelim(out: ByteArrayOutputStream, bytes: Array[Byte]): Unit = {
    writeVarint(out, bytes.length.toLong)
    out.write(bytes, 0, bytes.length)
  }

  /** Streaming reader over one message's bytes. */
  private final class Reader(buf: Array[Byte]) {
    private var pos = 0
    def hasMore: Boolean = pos < buf.length
    def readVarint(): Long = {
      var shift = 0
      var result = 0L
      while (shift < 64) {
        require(pos < buf.length, "truncated varint")
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("varint too long")
    }
    def readFixed64(): Long = {
      require(pos + 8 <= buf.length, "truncated fixed64")
      var bits = 0L
      var i = 0
      while (i < 8) { bits |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      bits
    }
    def readBytes(): Array[Byte] = {
      val n = readVarint().toInt
      require(n >= 0 && pos + n <= buf.length, "truncated length-delimited field")
      pos += n
      java.util.Arrays.copyOfRange(buf, pos - n, pos)
    }
    /** Skip a field of the given wire type (unknown-field tolerance). */
    def skip(wire: Int): Unit = wire match {
      case WireVarint  => readVarint()
      case WireFixed64 => readFixed64()
      case WireLen     => readBytes()
      case WireFixed32 =>
        require(pos + 4 <= buf.length, "truncated fixed32"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  // ---- message descriptions ---------------------------------------------

  /** A field's proto3 type: its wire type, its Catalyst type and the
    * value an absent field decodes to. */
  sealed abstract class Kind(val wire: Int, val dataType: DataType, val zero: Any)
      extends Serializable
  case object Str extends Kind(WireLen, StringType, UTF8String.EMPTY_UTF8)
  case object F64 extends Kind(WireFixed64, DoubleType, 0.0)
  case object I64 extends Kind(WireVarint, LongType, 0L)
  case object Bool extends Kind(WireVarint, BooleanType, false)
  final case class Repeated(msg: Message) extends Kind(WireLen,
    ArrayType(msg.schema, containsNull = false), new GenericArrayData(Array.empty[Any]))

  final case class Field(name: String, number: Int, kind: Kind)

  /** One message: `name` is the suffix of its SQL functions, `fields` are
    * in field-number order (the order [[encode]] writes them). */
  final case class Message(name: String, fields: Field*) {
    require(fields.map(_.number) == fields.map(_.number).distinct.sorted &&
      fields.forall(_.number > 0), s"message $name: field numbers must be positive and ascending")

    val schema: StructType = StructType(fields.map(f =>
      StructField(f.name, f.kind.dataType, nullable = false)))
  }

  /** Deposit { string wallet_id = 1; double amount = 2; } (wallet.proto:14-17) */
  val Deposit: Message = Message("deposit",
    Field("wallet_id", 1, Str), Field("amount", 2, F64))
  /** DepositHistory { string wallet_id = 1; repeated Deposit deposits = 2; }
    * (wallet.proto:19-22) */
  val DepositHistory: Message = Message("history",
    Field("wallet_id", 1, Str), Field("deposits", 2, Repeated(Deposit)))
  /** Counter { int64 rolling_period_start_unix = 1; double received = 2; }
    * (detector.proto:14-17) */
  val Counter: Message = Message("counter",
    Field("rolling_period_start_unix", 1, I64), Field("received", 2, F64))
  /** FlagEvent { bool flag_removed = 1; int64 rolling_period_start_unix = 2; }
    * (flagger.proto:15-18) */
  val FlagEvent: Message = Message("flag_event",
    Field("flag_removed", 1, Bool), Field("rolling_period_start_unix", 2, I64))
  /** FlagValue { bool flagged = 1; int64 rolling_period_start_unix = 2; }
    * (flagger.proto:20-23) */
  val FlagValue: Message = Message("flag_value",
    Field("flagged", 1, Bool), Field("rolling_period_start_unix", 2, I64))

  val messages: Seq[Message] = Seq(Deposit, DepositHistory, Counter, FlagEvent, FlagValue)

  // ---- the codec ----------------------------------------------------------

  /** `row`'s wire bytes, or null when a field of `row` is null (proto3 has
    * no null). Zero values (0, 0.0 and -0.0, false, "") are omitted; every
    * element of a repeated field is written. */
  def encode(msg: Message, row: InternalRow): Array[Byte] = {
    if (msg.fields.indices.exists(row.isNullAt)) return null
    val out = new ByteArrayOutputStream(32)
    var i = 0
    while (i < msg.fields.length) {
      val f = msg.fields(i)
      f.kind match {
        case Str =>
          val b = row.getUTF8String(i).getBytes
          if (b.nonEmpty) { writeTag(out, f.number, WireLen); writeLenDelim(out, b) }
        case F64 =>
          val d = row.getDouble(i)
          if (d != 0.0) { writeTag(out, f.number, WireFixed64); writeFixed64(out, doubleToLongBits(d)) }
        case I64 =>
          val v = row.getLong(i)
          if (v != 0L) { writeTag(out, f.number, WireVarint); writeVarint(out, v) }
        case Bool =>
          if (row.getBoolean(i)) { writeTag(out, f.number, WireVarint); writeVarint(out, 1L) }
        case Repeated(m) =>
          val elems = row.getArray(i)
          var j = 0
          while (j < elems.numElements()) {
            writeTag(out, f.number, WireLen)
            writeLenDelim(out, encode(m, elems.getStruct(j, m.fields.length)))
            j += 1
          }
      }
      i += 1
    }
    out.toByteArray
  }

  /** The row `bytes` encode. Fields may come in any order; an unknown
    * field number, or a known one with another wire type, is skipped; an
    * absent field reads as its zero value. */
  def decode(msg: Message, bytes: Array[Byte]): InternalRow = {
    val n = msg.fields.length
    val values = new Array[Any](n)
    val r = new Reader(bytes)
    while (r.hasMore) {
      val tag = r.readVarint()
      val wire = (tag & 0x7).toInt
      var k = 0
      while (k < n && msg.fields(k).number != tag >>> 3) k += 1
      if (k == n || msg.fields(k).kind.wire != wire) r.skip(wire)
      else msg.fields(k).kind match {
        case Str => values(k) = UTF8String.fromBytes(r.readBytes())
        case F64 => values(k) = longBitsToDouble(r.readFixed64())
        case I64 => values(k) = r.readVarint()
        case Bool => values(k) = r.readVarint() != 0L
        case Repeated(m) =>
          if (values(k) == null) values(k) = new ArrayBuffer[Any]()
          values(k).asInstanceOf[ArrayBuffer[Any]] += decode(m, r.readBytes())
      }
    }
    var i = 0
    while (i < n) {
      values(i) = values(i) match {
        case null => msg.fields(i).kind.zero
        case elems: ArrayBuffer[_] => new GenericArrayData(elems.toArray[Any])
        case v => v
      }
      i += 1
    }
    new GenericInternalRow(values)
  }
}

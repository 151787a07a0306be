package graft.serde

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll
import ProtoWire._

/** ScalaCheck round trip over every message description: decode(encode(r))
  * gives r back, with NaN bit-exact and -0.0 back as +0.0 (proto3 omits
  * both zeros, so the decoder reads the absent field as +0.0). */
object ProtoCodecProps extends Properties("ProtoCodec") {

  private val genDouble: Gen[Double] = Gen.frequency(
    4 -> Arbitrary.arbitrary[Double],
    1 -> Gen.oneOf(Double.NaN, -0.0, 0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, -Double.MaxValue))

  private val genLong: Gen[Long] = Gen.frequency(
    4 -> Arbitrary.arbitrary[Long],
    1 -> Gen.oneOf(0L, -1L, 127L, 128L, Long.MinValue, Long.MaxValue))

  private def genValue(kind: Kind): Gen[Any] = kind match {
    case Str => Gen.oneOf(Gen.const(""), Arbitrary.arbitrary[String]).map(UTF8String.fromString)
    case F64 => genDouble
    case I64 => genLong
    case Bool => Arbitrary.arbitrary[Boolean]
    case Repeated(m) => Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, genRow(m)))
      .map(rows => new GenericArrayData(rows.toArray[Any]))
  }

  private def genRow(m: Message): Gen[InternalRow] =
    Gen.sequence[List[Any], Any](m.fields.map(f => genValue(f.kind)))
      .map(values => InternalRow.fromSeq(values))

  /** `r` as comparable values: strings as bytes, doubles as raw bits (with
    * both zeros as +0.0's bits when `zeroAsPositive`). */
  private def flat(m: Message, r: InternalRow, zeroAsPositive: Boolean): Seq[Any] =
    m.fields.indices.map { i =>
      m.fields(i).kind match {
        case Str => r.getUTF8String(i).getBytes.toSeq
        case F64 =>
          val d = r.getDouble(i)
          java.lang.Double.doubleToRawLongBits(if (zeroAsPositive && d == 0.0) 0.0 else d)
        case I64 => r.getLong(i)
        case Bool => r.getBoolean(i)
        case Repeated(e) =>
          val a = r.getArray(i)
          (0 until a.numElements()).map(j =>
            flat(e, a.getStruct(j, e.fields.length), zeroAsPositive))
      }
    }

  messages.foreach { m =>
    property(s"${m.name}: decode(encode(r)) == r") = forAll(genRow(m)) { r =>
      flat(m, decode(m, encode(m, r)), zeroAsPositive = false) ==
        flat(m, r, zeroAsPositive = true)
    }
  }
}

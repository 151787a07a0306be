package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature — the expression-rung replacement for the
  * nested interpreted HOF
  * `transform(0..k-1, i -> array_min(transform(sh, s -> md5(i || '|' || s))))`
  * (round-16 optimization; the signing projection is the dedup family's
  * hot per-document step: k keyed md5s per shingle, and the HOF form paid
  * k interpreted passes plus k materialized hex-string arrays per row).
  *
  * Semantics are IDENTICAL to the HOF (MinhashSigSpec pins it):
  *  - per hash index i, the minimum over shingles of
  *    lowercase-hex md5(utf8(i + "|" + s)) — minima are tracked on the raw
  *    16-byte digests (unsigned-lexicographic byte order equals the hex
  *    string order, both being fixed-width monotone encodings);
  *  - null shingles are skipped (md5(null) is null and array_min ignores
  *    nulls); an empty or all-null shingle set yields null per slot;
  *  - a null shingle ARRAY yields null (transform-of-null semantics).
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects (array<string>, k >= 1), got ${other.simpleString}, k=$k")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  // One prefix per hash index: utf8(i + "|"), reused across every shingle.
  @transient private lazy val prefixes: Array[Array[Byte]] =
    Array.tabulate(k)(i => (i.toString + "|").getBytes("UTF-8"))

  private val hexChars = "0123456789abcdef".toCharArray

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](k)
    val n = arr.numElements()
    var e = 0
    while (e < n) {
      if (!arr.isNullAt(e)) {
        val sb = arr.getUTF8String(e).getBytes
        var i = 0
        while (i < k) {
          md.reset()
          md.update(prefixes(i))
          md.update(sb)
          val dig = md.digest()
          if (mins(i) == null || lessUnsigned(dig, mins(i))) mins(i) = dig
          i += 1
        }
      }
      e += 1
    }
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      out(i) = if (mins(i) == null) null else UTF8String.fromString(hex(mins(i)))
      i += 1
    }
    new GenericArrayData(out)
  }

  private def lessUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    false
  }

  private def hex(d: Array[Byte]): String = {
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      cs(2 * i) = hexChars((d(i) >> 4) & 0xf)
      cs(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(cs)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)

  override def prettyName: String = "minhash_sig"
}

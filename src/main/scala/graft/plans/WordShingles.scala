package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native distinct word n-gram shingles over a token array — the
  * expression-rung replacement for
  * `array_distinct(when(size(t) >= n, transform(sequence(1, size(t)-n+1),
  * i -> concat_ws(" ", t[i], …, t[i+n-1]))).otherwise(array()))`
  * (round-16 optimization: the transform lambda is interpreted per
  * position and this projection fronts every dedup signing and corpus
  * n-gram scan).
  *
  * Semantics identical to the HOF chain (WordShinglesSpec pins it):
  *  - grams in positional order, first-occurrence distinct
  *    (array_distinct keeps the first);
  *  - null tokens are skipped inside a gram like concat_ws does;
  *  - fewer than n tokens — or a NULL token array, which the original
  *    `when` chain also routes to the otherwise branch — yields the empty
  *    array. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects (array<string>, n >= 1), got ${other.simpleString}, n=$n")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) return new GenericArrayData(Array.empty[Any])
    val sz = arr.numElements()
    if (sz < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val toks = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    i = 0
    val last = sz - n
    while (i <= last) {
      // concat_ws(" ", ...) skips null elements entirely. Assemble the
      // gram's bytes directly into an exact-size array (UTF8String.fromBytes
      // wraps without copying, so the buffer must be per-gram).
      var need = 0
      var cnt = 0
      var j = 0
      while (j < n) {
        val t = toks(i + j)
        if (t != null) { need += t.numBytes(); cnt += 1 }
        j += 1
      }
      if (cnt > 1) need += cnt - 1
      val bytes = new Array[Byte](need)
      var off = 0
      var firstPart = true
      j = 0
      while (j < n) {
        val t = toks(i + j)
        if (t != null) {
          // Separator before every non-null part except the first — an
          // EMPTY string is a part and keeps its separators (concat_ws
          // only skips nulls).
          if (!firstPart) { bytes(off) = ' '; off += 1 }
          firstPart = false
          t.writeToMemory(bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
          off += t.numBytes()
        }
        j += 1
      }
      seen.add(UTF8String.fromBytes(bytes))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

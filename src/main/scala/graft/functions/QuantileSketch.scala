package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Mergeable quantile sketch over non-negative longs — the rank-estimation
  * companion to the md5-HLL (cardinality), count-min (frequency) and theta
  * (set-algebra) sketches. HDR-histogram-style integer log grid: a value
  * keeps its exponent and top [[QuantileSketch.P]]+1 mantissa bits and
  * zeroes the rest, so each bucket key is the grid's LOWER bound for its
  * value range and relative error is bounded by 2^-P (< 1.6 % at P = 6).
  * The sketch is the bucket→count map; merge is bucket-wise ADDITION
  * (exact — merged sketches answer identically to a sketch built over the
  * concatenated input), and a quantile estimate walks the buckets in key
  * order to the target rank. Bucket count is bounded by ~2^(P+1) per
  * exponent (≤ 64·2^(P+1) total, a few KiB), so partial aggregation folds
  * each input partition into one bounded buffer map-side and only sketches
  * cross the shuffle — per-group sketches stored per day/month roll up by
  * merge without rescanning history.
  *
  * EVERYTHING is integer arithmetic — exponent = (bit length − 1), shift,
  * mask, counts, rank = ceil(q·N) — so the DuckDB oracle replays bucket
  * assignment (`(v >> s) << s` with `s = GREATEST(length(bin(v))−1−P, 0)`)
  * and the selected quantile BY VALUE with zero float-parity caveats
  * (design constraint shared with [[CountMinSketch]]; a float log-grid à
  * la DDSketch would hinge on cross-engine `ln` ulp parity at bucket
  * boundaries).
  *
  * Reference scope note: the reference engine (depositaja) has no sketch
  * surface; this is part of the §2.2 extended analytics checklist.
  */
case object QuantileSketch extends Sketch[mutable.HashMap[Long, Long]] {
  /** Mantissa bits kept (beyond the leading 1): relative error ≤ 2^-P. */
  val P = 6

  // `qsk_sketch(v)` takes a non-negative integral column: scale fixed-point
  // values to integer units first (e.g. cents), exactly as the oracle does.
  def name: String = "qsk_sketch"
  override def mergeName: String = "qsk_merge_agg"
  override def stringKeys: Boolean = false
  type Key = Long
  def key(dt: DataType): Any => Long = SketchKeys.integral(dt)

  /** Grid bucket for v ≥ 0: zero all but the top P+1 significant bits.
    * Equals DuckDB `(v >> s) << s`, `s = GREATEST(length(bin(v))-1-P, 0)`. */
  def bucket(v: Long): Long = {
    require(v >= 0, s"qsk: negative value $v")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(v | 1L)
    val shift = math.max(e - P, 0)
    (v >>> shift) << shift
  }

  def empty: mutable.HashMap[Long, Long] = new mutable.HashMap[Long, Long]()

  def add(m: mutable.HashMap[Long, Long], v: Long): Unit = {
    val b = bucket(v)
    m.update(b, m.getOrElse(b, 0L) + 1L)
  }

  def merge(m: mutable.HashMap[Long, Long], o: mutable.HashMap[Long, Long]): Unit =
    o.foreach { case (k, c) => m.update(k, m.getOrElse(k, 0L) + c) }

  /** Wire format: int32 P, int32 n, then n (bucket, count) int64 pairs in
    * bucket order — canonical, so byte-equal sketches iff equal content. */
  def partial(m: mutable.HashMap[Long, Long]): Array[Byte] = {
    val ks = m.keysIterator.toArray.sorted
    val bb = ByteBuffer.allocate(8 + 16 * ks.length)
    bb.putInt(P).putInt(ks.length)
    ks.foreach { k => bb.putLong(k).putLong(m(k)) }
    bb.array()
  }

  def decode(bytes: Array[Byte], fn: String): mutable.HashMap[Long, Long] = {
    check(bytes.length >= 8, fn, s"${bytes.length} bytes, shorter than its header")
    val bb = ByteBuffer.wrap(bytes)
    val p = bb.getInt; val n = bb.getInt
    check(p == P && n >= 0 && bytes.length == 8L + 16L * n, fn,
      s"precision $p, n = $n in ${bytes.length} bytes")
    val m = new mutable.HashMap[Long, Long]()
    var i = 0
    while (i < n) { m.update(bb.getLong, bb.getLong); i += 1 }
    m
  }

  /** Rank-r selection, r = max(ceil(q·N), 1): smallest bucket whose
    * cumulative count reaches r. Returns the bucket key (the grid lower
    * bound — at most 2^-P below the true rank-r value). Null on an empty
    * sketch. */
  def quantile(m: mutable.HashMap[Long, Long], q: Double): Any = {
    val n = m.valuesIterator.sum
    if (n == 0L) return null
    val r = math.max(math.ceil(q * n).toLong, 1L)
    var cum = 0L
    val ks = m.keysIterator.toArray.sorted
    var i = 0
    while (i < ks.length) {
      cum += m(ks(i))
      if (cum >= r) return ks(i)
      i += 1
    }
    ks.last
  }
}

/** `qsk_quantile(sketch, q)`: rank-ceil(q·N) estimate — the grid lower
  * bound of the selected bucket (≤ 2^-P relative below the true value). */
case class QskQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch")
    else if (right.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a double quantile")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "qsk_quantile"

  override def nullSafeEval(sk: Any, q: Any): Any =
    QuantileSketch.quantile(
      QuantileSketch.decode(sk.asInstanceOf[Array[Byte]], prettyName),
      q.asInstanceOf[Double])

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `qsk_n(sketch)`: total count folded into the sketch. */
case class QskN(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch")
  override def dataType: DataType = LongType
  // Inherited nullable (child.nullable): a null sketch input yields null
  // through nullSafeEval, so claiming non-null would let Catalyst fold
  // IsNotNull checks incorrectly on e.g. the miss side of a left join.
  override def prettyName: String = "qsk_n"

  override def nullSafeEval(sk: Any): Any =
    QuantileSketch.decode(sk.asInstanceOf[Array[Byte]], prettyName).valuesIterator.sum

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable KMV ("k minimum values") theta sketch for distinct counting —
  * the SURVEY §7.3 escalation: a `TypedImperativeAggregate` whose output is
  * a *first-class sketch value* that can be stored per partition/table and
  * merged later, which `approx_count_distinct`'s internal HLL++ never
  * exposes. Unlike HLL, KMV/theta sketches also support set algebra:
  * [[ThetaIntersectEstimate]] estimates |A ∩ B| from two sketches, the
  * operation HLL fundamentally cannot do.
  *
  * Sketch semantics: retain the `k` smallest distinct 64-bit hashes of the
  * input. With `n < k` retained values the sketch is lossless and estimates
  * are exact; once saturated, θ = (k-th smallest hash) / 2⁶⁴ and the
  * distinct estimate is (k−1)/θ with relative standard error ≈ 1/√(k−1)
  * (~1.6 % at the default k = 4096, 32 KiB per sketch).
  *
  * At 100 TB: each of the ~10⁵ input partitions folds its rows into a
  * 32 KiB buffer map-side; only sketches cross the shuffle, and a
  * year-over-year rollup is `theta_kmv_union_agg` over stored daily sketches —
  * no re-scan of raw data.
  *
  * Wire format (`binary`): int32 k, int32 n, then n int64 hash values in
  * unsigned-ascending order (stored sign-flipped so signed order == the
  * unsigned hash order).
  */
object ThetaSketch {
  val DefaultK = 4096

  /** splitmix64 finalizer — deterministic avalanche hash for integral keys. */
  def hashLong(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64 then finalize — deterministic hash for string keys. */
  def hashBytes(b: Array[Byte]): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xFFL)) * 0x100000001B3L; i += 1 }
    hashLong(h)
  }

  /** Hash value (stored sign-flipped) as a fraction of the 2⁶⁴ hash space. */
  def frac(flipped: Long): Double =
    (flipped.toDouble + 9.223372036854775808e18) / 1.8446744073709551616e19

  /** θ of a decoded sketch: 1.0 while lossless, else the k-th smallest
    * hash's position in [0,1). */
  def theta(k: Int, sorted: Array[Long]): Double =
    if (sorted.length < k) 1.0 else frac(sorted(sorted.length - 1))

  def estimate(k: Int, sorted: Array[Long]): Double =
    if (sorted.length < k) sorted.length.toDouble
    else (k - 1).toDouble / theta(k, sorted)

  def encode(k: Int, sorted: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * sorted.length)
    bb.putInt(k).putInt(sorted.length)
    sorted.foreach(bb.putLong)
    bb.array()
  }

  /** @return (k, hashes in ascending flipped order) */
  def decode(bytes: Array[Byte]): (Int, Array[Long]) = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt; val n = bb.getInt
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    (k, arr)
  }

  /** Merge two ascending hash arrays, dropping duplicates, keeping ≤ k. */
  def mergeSorted(k: Int, a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](math.min(k, a.length + b.length))
    var i = 0; var j = 0; var m = 0
    while (m < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
        else { val x = b(j); j += 1; x }
      if (m == 0 || out(m - 1) != v) { out(m) = v; m += 1 }
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }
}

/** Mutable aggregation buffer: the k smallest distinct flipped hashes.
  * `k = Int.MaxValue` is the union aggregate's "no cap yet" sentinel —
  * merging a sketch shrinks the cap to that sketch's k, so a rollup over
  * same-k sketches retains exactly the k smallest hashes of the combined
  * data (identical to a one-pass sketch, not merely close). */
final class ThetaBuffer(var k: Int) {
  val set = new java.util.TreeSet[java.lang.Long]()
  def add(flipped: Long): Unit =
    if (set.size < k) { set.add(flipped); () }
    else if (flipped < set.last()) { if (set.add(flipped)) { set.pollLast(); () } }
  def shrinkTo(newK: Int): Unit =
    if (newK < k) { k = newK; while (set.size > k) set.pollLast() }
  def toSortedArray: Array[Long] = {
    val arr = new Array[Long](set.size)
    val it = set.iterator(); var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    arr
  }
}

private[functions] trait ThetaAggBase extends TypedImperativeAggregate[ThetaBuffer] {
  /** Buffer cap at creation; Int.MaxValue = adopt k from merged inputs. */
  def bufferK: Int
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def createAggregationBuffer(): ThetaBuffer = new ThetaBuffer(bufferK)
  override def merge(buffer: ThetaBuffer, input: ThetaBuffer): ThetaBuffer = {
    buffer.shrinkTo(input.k)
    val it = input.set.iterator()
    while (it.hasNext) buffer.add(it.next())
    buffer
  }
  override def eval(buffer: ThetaBuffer): Any = {
    // Never emit the sentinel: an empty union aggregate encodes DefaultK.
    val outK = if (buffer.k == Int.MaxValue) ThetaSketch.DefaultK else buffer.k
    ThetaSketch.encode(outK, buffer.toSortedArray)
  }
  override def serialize(buffer: ThetaBuffer): Array[Byte] =
    ThetaSketch.encode(buffer.k, buffer.toSortedArray)
  override def deserialize(bytes: Array[Byte]): ThetaBuffer = {
    val (kk, arr) = ThetaSketch.decode(bytes)
    val buf = new ThetaBuffer(kk)
    arr.foreach(buf.add)
    buf
  }
}

/** `theta_sketch(key[, k])`: build a KMV theta sketch over a long or string
  * key column. Map-side partial aggregation folds each partition into one
  * 32 KiB buffer, so only sketches cross the shuffle. */
case class ThetaSketchAgg(child: Expression, k: Int = ThetaSketch.DefaultK,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends ThetaAggBase {

  override def bufferK: Int = k
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | ShortType | ByteType | StringType =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"theta_sketch requires an integral or string key, got $other")
  }
  override def prettyName: String = "theta_sketch"

  private lazy val hashOne: Any => Long = child.dataType match {
    case StringType => v => ThetaSketch.hashBytes(v.asInstanceOf[UTF8String].getBytes)
    case LongType    => v => ThetaSketch.hashLong(v.asInstanceOf[Long])
    case IntegerType => v => ThetaSketch.hashLong(v.asInstanceOf[Int].toLong)
    case ShortType   => v => ThetaSketch.hashLong(v.asInstanceOf[Short].toLong)
    case ByteType    => v => ThetaSketch.hashLong(v.asInstanceOf[Byte].toLong)
    case other => throw new IllegalStateException(s"theta_sketch: unsupported $other")
  }

  override def update(buffer: ThetaBuffer, input: InternalRow): ThetaBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(hashOne(v) ^ Long.MinValue)
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `theta_kmv_union_agg(sketch)`: merge a column of sketches into one — the
  * rollup path over stored per-day / per-partition sketches. */
case class ThetaUnionAgg(child: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends ThetaAggBase {

  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("theta_kmv_union_agg requires a binary sketch column")
  override def prettyName: String = "theta_kmv_union_agg"
  // Cap adopted from the merged sketches themselves (min of their k's).
  override def bufferK: Int = Int.MaxValue

  override def update(buffer: ThetaBuffer, input: InternalRow): ThetaBuffer = {
    val v = child.eval(input)
    if (v == null) buffer
    else merge(buffer, deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c.head)
}

/** `theta_estimate(sketch)`: distinct-count estimate — exact while the
  * sketch is lossless (n < k), (k−1)/θ once saturated. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("theta_estimate requires a binary sketch")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"
  override protected def nullSafeEval(v: Any): Any = {
    val (k, arr) = ThetaSketch.decode(v.asInstanceOf[Array[Byte]])
    ThetaSketch.estimate(k, arr)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `theta_kmv_union(a, b)`: sketch of A ∪ B (k = min of the operands'). */
case class ThetaUnion(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("theta_kmv_union requires two binary sketches")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_kmv_union"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (ka, aa) = ThetaSketch.decode(a.asInstanceOf[Array[Byte]])
    val (kb, bb) = ThetaSketch.decode(b.asInstanceOf[Array[Byte]])
    val k = math.min(ka, kb)
    ThetaSketch.encode(k, ThetaSketch.mergeSorted(k, aa, bb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `theta_intersect_estimate(a, b)`: |A ∩ B| estimate — the theta-sketch
  * set operation HLL cannot express. θ = min(θ_A, θ_B); count hashes
  * present in both sketches below θ, scale by 1/θ. Exact while both
  * sketches are lossless. */
case class ThetaIntersectEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("theta_intersect_estimate requires two binary sketches")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_intersect_estimate"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val (ka, aa) = ThetaSketch.decode(a.asInstanceOf[Array[Byte]])
    val (kb, bb) = ThetaSketch.decode(b.asInstanceOf[Array[Byte]])
    val th = math.min(ThetaSketch.theta(ka, aa), ThetaSketch.theta(kb, bb))
    var i = 0; var j = 0; var common = 0L
    while (i < aa.length && j < bb.length) {
      if (aa(i) == bb(j)) {
        if (ThetaSketch.frac(aa(i)) < th || th == 1.0) common += 1
        i += 1; j += 1
      } else if (aa(i) < bb(j)) i += 1
      else j += 1
    }
    common / th
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

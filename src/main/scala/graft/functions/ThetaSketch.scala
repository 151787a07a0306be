package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

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
  * unsigned hash order). Keys hash through [[SketchKeys.hashed]]; `k` must
  * be at least 1.
  */
case class ThetaSketch(k: Int = ThetaSketch.DefaultK) extends Sketch[ThetaBuffer] {
  require(k >= 1, s"theta_sketch k must be >= 1, got $k")

  def name: String = "theta_sketch"
  override def mergeName: String = "theta_kmv_union_agg"
  type Key = Long
  def key(dt: DataType): Any => Long = SketchKeys.hashed(dt)

  def empty: ThetaBuffer = new ThetaBuffer(k)
  // Cap adopted from the merged sketches themselves (min of their k's).
  override def identity: ThetaBuffer = new ThetaBuffer(Int.MaxValue)
  def add(b: ThetaBuffer, hash: Long): Unit = b.add(hash ^ Long.MinValue)

  def merge(b: ThetaBuffer, o: ThetaBuffer): Unit = {
    b.shrinkTo(o.k)
    val it = o.set.iterator()
    while (it.hasNext) b.add(it.next())
  }

  def partial(b: ThetaBuffer): Array[Byte] = ThetaSketch.encode(b.k, b.toSortedArray)

  // Never emit the identity's cap: an empty union aggregate encodes DefaultK.
  override def result(b: ThetaBuffer): Array[Byte] =
    ThetaSketch.encode(if (b.k == Int.MaxValue) ThetaSketch.DefaultK else b.k, b.toSortedArray)

  def decode(bytes: Array[Byte], fn: String): ThetaBuffer = {
    check(bytes.length >= 8, fn, s"${bytes.length} bytes, shorter than its header")
    val bb = ByteBuffer.wrap(bytes)
    val kk = bb.getInt; val n = bb.getInt
    check(kk >= 1 && n >= 0 && n <= kk && bytes.length == 8L + 8L * n, fn,
      s"k = $kk, n = $n in ${bytes.length} bytes")
    val buf = new ThetaBuffer(kk)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

object ThetaSketch {
  val DefaultK = 4096

  /** Hash value (stored sign-flipped) as a fraction of the 2⁶⁴ hash space. */
  def frac(flipped: Long): Double =
    (flipped.toDouble + 9.223372036854775808e18) / 1.8446744073709551616e19

  /** θ of a decoded sketch: 1.0 while lossless, else the k-th smallest
    * hash's position in [0,1). */
  def theta(b: ThetaBuffer): Double =
    if (b.set.size < b.k) 1.0 else frac(b.set.last())

  def estimate(b: ThetaBuffer): Double =
    if (b.set.size < b.k) b.set.size.toDouble
    else (b.k - 1).toDouble / theta(b)

  def encode(k: Int, sorted: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * sorted.length)
    bb.putInt(k).putInt(sorted.length)
    sorted.foreach(bb.putLong)
    bb.array()
  }
}

/** Mutable aggregation buffer: the k smallest distinct flipped hashes.
  * `k = Int.MaxValue` is the union aggregate's "no cap yet" identity —
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

/** `theta_estimate(sketch)`: distinct-count estimate — exact while the
  * sketch is lossless (n < k), (k−1)/θ once saturated. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_estimate"
  override protected def nullSafeEval(v: Any): Any =
    ThetaSketch.estimate(ThetaSketch().decode(v.asInstanceOf[Array[Byte]], prettyName))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `theta_kmv_union(a, b)`: sketch of A ∪ B (k = min of the operands'). */
case class ThetaUnion(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two binary sketches")
  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_kmv_union"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val family = ThetaSketch()
    val buf = family.decode(a.asInstanceOf[Array[Byte]], prettyName)
    family.merge(buf, family.decode(b.asInstanceOf[Array[Byte]], prettyName))
    family.result(buf)
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
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires two binary sketches")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "theta_intersect_estimate"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = ThetaSketch().decode(a.asInstanceOf[Array[Byte]], prettyName)
    val sb = ThetaSketch().decode(b.asInstanceOf[Array[Byte]], prettyName)
    val th = math.min(ThetaSketch.theta(sa), ThetaSketch.theta(sb))
    val aa = sa.toSortedArray; val bb = sb.toSortedArray
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

package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Mergeable count-min sketch — the frequency-estimation companion to the
  * md5-HLL cardinality sketch ([[HllSketch]]): d = 4 hash rows ×
  * w = 4096 counters (128 KiB), element-wise-SUM merge, point-frequency
  * estimate = min over rows of the addressed counter. Overestimates only
  * (collisions add, never subtract): estimate ≥ true count always, and
  * E[error] ≤ n·e/w per row. At 100 TB: partial aggregation folds each
  * input partition into one 128 KiB counter grid map-side, only grids
  * cross the shuffle, and stored per-day grids roll up by plain addition
  * without rescanning — the classic streaming heavy-hitter shape.
  *
  * Like the HLL, the hash derivation is defined on the md5 hex of the
  * key's canonical string form so the DuckDB oracle replays it exactly:
  * row i's bucket is hex chars [3i+1 .. 3i+3] (12 bits each, rows drawing
  * disjoint digest chunks — one md5 per input row, not d). Every quantity
  * is an integer, so the oracle compare is exact with no float-order or
  * libm-parity caveats at all.
  *
  * Reference scope note: the reference engine (depositaja) has no sketch
  * surface; this is part of the §2.2 extended analytics checklist.
  */
case object CountMinSketch extends Sketch[Array[Long]] {
  val D = 4
  val W = 4096

  def name: String = "cms_sketch"
  override def mergeName: String = "cms_merge_agg"
  type Key = String
  def key(dt: DataType): Any => String = SketchKeys.varchar(dt)

  /** Buckets for all d rows — nibbles [3i, 3i+3) of the digest, i.e. hex
    * chars [3i+1, 3i+3] in SQL's 1-based substr. */
  def buckets(key: String): Array[Int] = {
    val d = SketchKeys.md5(key)
    def nib(j: Int): Int = {
      val b = d(j >> 1) & 0xFF
      if ((j & 1) == 0) b >>> 4 else b & 0xF
    }
    val out = new Array[Int](D)
    var i = 0
    while (i < D) {
      out(i) = (nib(3 * i) << 8) | (nib(3 * i + 1) << 4) | nib(3 * i + 2)
      i += 1
    }
    out
  }

  def empty: Array[Long] = new Array[Long](D * W)

  def add(grid: Array[Long], key: String): Unit = {
    val bs = buckets(key)
    var i = 0
    while (i < D) { grid(i * W + bs(i)) += 1L; i += 1 }
  }

  def merge(grid: Array[Long], o: Array[Long]): Unit = {
    var i = 0
    while (i < grid.length) { grid(i) += o(i); i += 1 }
  }

  /** Wire format: int32 d, int32 w, then the d·w int64 counters row-major. */
  def partial(grid: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * grid.length)
    bb.putInt(D).putInt(W)
    grid.foreach(bb.putLong)
    bb.array()
  }

  def decode(bytes: Array[Byte], fn: String): Array[Long] = {
    check(bytes.length == 8 + 8 * D * W, fn, s"${bytes.length} bytes, not ${8 + 8 * D * W}")
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt; val w = bb.getInt
    check(d == D && w == W, fn, s"geometry ${d}x$w, not ${D}x$W")
    val grid = new Array[Long](D * W)
    var i = 0
    while (i < grid.length) { grid(i) = bb.getLong; i += 1 }
    grid
  }
}

/** `cms_estimate(sketch, key)`: point-frequency estimate — min over the
  * d addressed counters. Always ≥ the true count. */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a binary sketch")
    else SketchKeys.check(prettyName, right.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  private lazy val key = CountMinSketch.key(right.dataType)

  override def nullSafeEval(sk: Any, k: Any): Any = {
    val grid = CountMinSketch.decode(sk.asInstanceOf[Array[Byte]], prettyName)
    val bs = CountMinSketch.buckets(key(k))
    var mn = Long.MaxValue
    var i = 0
    while (i < bs.length) {
      val c = grid(i * CountMinSketch.W + bs(i))
      if (c < mn) mn = c
      i += 1
    }
    mn
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

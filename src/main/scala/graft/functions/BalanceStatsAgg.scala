package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** One-pass per-key deposit statistics. */
final case class BalanceStats(n: Long, sum: Double, min: Double, max: Double)

/** Typed custom aggregate (`Aggregator[IN, BUF, OUT]`, SURVEY §2.2 UDAF
  * row): count/sum/min/max of deposit amounts in a single mergeable
  * buffer — the map-side-combine shape every custom aggregate must have
  * at scale (partial buffers merge associatively across partitions).
  * Applied as a column function through `functions.udaf` at its one call
  * site (`q_custom_udaf`); it has no SQL name.
  */
object BalanceStatsAgg extends Aggregator[Double, BalanceStats, BalanceStats] {

  override def zero: BalanceStats =
    BalanceStats(0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity)

  override def reduce(b: BalanceStats, a: Double): BalanceStats =
    BalanceStats(b.n + 1, b.sum + a, math.min(b.min, a), math.max(b.max, a))

  override def merge(x: BalanceStats, y: BalanceStats): BalanceStats =
    BalanceStats(x.n + y.n, x.sum + y.sum,
      math.min(x.min, y.min), math.max(x.max, y.max))

  override def finish(r: BalanceStats): BalanceStats = r

  override def bufferEncoder: Encoder[BalanceStats] = Encoders.product[BalanceStats]
  override def outputEncoder: Encoder[BalanceStats] = Encoders.product[BalanceStats]
}

package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import graft.model.Counter
import graft.streaming.DetectorLogic

/** The reference detector state machine (detector.go:50-71,
  * [[graft.streaming.DetectorLogic.step]]) as a CUSTOM WHOLE-OPERATOR plan:
  * logical node → planner strategy → physical exec — the (c)-tier extension
  * path for semantics the relational operators cannot express (the
  * reset-discards-the-deposit branch order is not a window frame,
  * SURVEY §2.3.1).
  *
  * Why a physical operator and not the existing parity forms: the batch
  * replays elsewhere either collect each wallet's history into ONE row and
  * fold an array (`o9_balance_from_history` — O(history) bytes in a single
  * row, a skew hazard at 100-TB wallet histories) or unroll bounded
  * recursion (`q_recursive_machine` — depth-capped). This exec declares
  * `requiredChildDistribution = ClusteredDistribution(wallet)` and
  * `requiredChildOrdering = (wallet, tsec, seq)`, letting EnsureRequirements
  * plan the ONE hash exchange + per-partition sort, then streams each
  * wallet's ordered run through the fold in O(1) state per wallet — no
  * arrays, no recursion, unbounded history. This is exactly how Spark's own
  * SortAggregate/SessionWindow physical operators compose with the planner.
  */
case class DetectorFoldNode(windowSec: Long, threshold: Double,
                            output: Seq[Attribute],
                            child: LogicalPlan) extends UnaryNode {
  // The fold GENERATES its output attributes (they are not child
  // references) and CONSUMES every child column positionally — declared
  // so the analyzer's missing-attribute check passes and column pruning
  // cannot strip the child to an empty projection.
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): DetectorFoldNode =
    copy(child = newChild)
}

object DetectorFoldNode {
  /** Output attrs are constructor state (not a def) so optimizer copies
    * preserve expression ids and parent references stay resolved. */
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("wallet_id", LongType, nullable = false)(),
    AttributeReference("win_sum", DoubleType, nullable = false)(),
    AttributeReference("above_threshold", BooleanType, nullable = false)())
}

/** Physical fold: one pass over the (wallet, tsec, seq)-sorted partition,
  * constant state per wallet, one output row per wallet (final window sum +
  * the last re-asserted verdict — the flag is never latched, §2.3.2). */
case class DetectorFoldExec(windowSec: Long, threshold: Double,
                            output: Seq[Attribute],
                            child: SparkPlan) extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(child.output.head)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(child.output(0), Ascending),
      SortOrder(child.output(1), Ascending),
      SortOrder(child.output(2), Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val w = windowSec
    val t = threshold
    val schema = output.map(_.dataType).toArray
    child.execute().mapPartitions { it =>
      new Iterator[InternalRow] {
        private val proj = UnsafeProjection.create(schema)
        private val out = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
        // Field-extracted lookahead (child rows may be reused buffers).
        private var has = false
        private var pWallet = 0L; private var pTs = 0L; private var pAmt = 0.0
        private def advance(): Unit =
          if (it.hasNext) {
            val r = it.next()
            pWallet = r.getLong(0); pTs = r.getLong(1); pAmt = r.getDouble(3)
            has = true
          } else has = false
        advance()

        override def hasNext: Boolean = has

        override def next(): InternalRow = {
          val wallet = pWallet
          var state = Counter(0L, 0.0); var flagged = false
          var cont = true
          while (cont) {
            val (next, event) = DetectorLogic.step(state, pAmt, pTs, w, t)
            state = next; flagged = !event.flagRemoved
            advance()
            cont = has && pWallet == wallet
          }
          out.setLong(0, wallet)
          out.setDouble(1, state.received)
          out.setBoolean(2, flagged)
          proj(out)
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DetectorFoldExec =
    copy(child = newChild)
}

object DetectorFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case DetectorFoldNode(w, t, out, child) =>
      DetectorFoldExec(w, t, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

object DetectorFold {
  /** Build the operator over a deposit projection. `deposits` must carry
    * (wallet_id, tsec, seq, amount). The session plans it through
    * [[DetectorFoldStrategy]], which [[GraftExtensions]] injects (and
    * [[graft.GraftSession.adopt]] adds to a session built elsewhere). */
  def apply(spark: SparkSession, deposits: DataFrame,
            windowSec: Long, threshold: Double): DataFrame = {
    val child = deposits.select(
      col("wallet_id").cast("long").as("wallet_id"),
      col("tsec").cast("long").as("tsec"),
      col("seq").cast("long").as("seq"),
      col("amount").cast("double").as("amount"))
      .queryExecution.analyzed
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(spark,
      DetectorFoldNode(windowSec, threshold, DetectorFoldNode.freshOutput(), child))
  }
}

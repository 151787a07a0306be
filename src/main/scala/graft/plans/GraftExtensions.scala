package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Algebraic rewrite Catalyst doesn't do itself: a filtered-array
  * cardinality test only needs the FIRST witness, so
  *
  *   size(filter(a, f)) > 0   →   exists(a, f)
  *   size(filter(a, f)) = 0   →   NOT exists(a, f)
  *
  * `exists` short-circuits per row while `filter` materializes the whole
  * filtered copy before measuring it — on a 100-TB scan of wide embedding
  * arrays the rewrite removes an O(|array|) allocation per row. Both
  * `filter`-count and non-three-valued `exists` treat a null lambda
  * verdict as "not a match", so results are identical; the rewrite pins
  * `followThreeValuedLogic = false` and only fires on the non-legacy
  * `size` (null array → null either way).
  */
object CountFilterToExists extends Rule[LogicalPlan] {

  /** `filter` also accepts an index-based two-arg lambda `(x, i) -> …`,
    * which `exists` cannot take (it destructures a ONE-arg
    * LambdaFunction and would MatchError at eval). Only rewrite the
    * element-only form.
    */
  private def elementOnly(f: Expression): Boolean = f match {
    case lf: LambdaFunction => lf.arguments.length == 1
    case _                  => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case GreaterThan(Size(ArrayFilter(arr, f), false), Literal(0, IntegerType)) if elementOnly(f) =>
      ArrayExists(arr, f, followThreeValuedLogic = false)
    case LessThan(Literal(0, IntegerType), Size(ArrayFilter(arr, f), false)) if elementOnly(f) =>
      ArrayExists(arr, f, followThreeValuedLogic = false)
    case EqualTo(Size(ArrayFilter(arr, f), false), Literal(0, IntegerType)) if elementOnly(f) =>
      Not(ArrayExists(arr, f, followThreeValuedLogic = false))
    case EqualTo(Literal(0, IntegerType), Size(ArrayFilter(arr, f), false)) if elementOnly(f) =>
      Not(ArrayExists(arr, f, followThreeValuedLogic = false))
  }
}

/** The engine's session extension: the optimizer rule above and every
  * native SQL function of [[graft.functions.GraftFunctions.functions]].
  * [[graft.GraftSession.builder]] installs it; a deployment that builds
  * its own session passes `--conf
  * spark.sql.extensions=graft.plans.GraftExtensions`. Extensions apply
  * when a session is created, and `newSession()` applies them again.
  * A test that needs the unrewritten plan turns the rule off with
  * `spark.sql.optimizer.excludedRules`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CountFilterToExists)
    graft.functions.GraftFunctions.functions.foreach(e.injectFunction)
  }
}

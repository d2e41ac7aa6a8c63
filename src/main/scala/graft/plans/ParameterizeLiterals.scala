package graft.plans

import graft.functions.ParamLiteral
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.types._

/** Physical-plan rule: per-request constants become generated-code
  * parameters ([[ParamLiteral]]), so graphs that differ only in their
  * constants (bbox, dates, exponents, resolutions) generate the same
  * Java source and share one compiled class instead of running Janino
  * per request.
  *
  * It rewrites a non-null [[Literal]] of type int, long, double, float,
  * short, byte, date, timestamp or timestamp_ntz (not boolean) only
  * where it is a direct child of a [[BinaryComparison]],
  * [[BinaryArithmetic]], [[BinaryMathExpression]] (`Pow`, `Atan2`, ...),
  * [[Least]] or [[Greatest]] that also has a non-foldable child, so no
  * foldable expression becomes non-foldable. Only the expressions of
  * [[FilterExec]], [[ProjectExec]] and the hash, object-hash and sort
  * aggregates are rewritten. Scan nodes keep their `Literal`s: their
  * partition, data and pushed filters were fixed at planning, so
  * partition pruning and parquet row-group pushdown are unchanged, while
  * the `FilterExec` above a scan gets its bounds as parameters.
  *
  * Registered by [[graft.GraftExtensions]] with `injectColumnar`, as the
  * `preColumnarTransitions` rule. Spark applies the session's columnar
  * rules (`ApplyColumnarRulesAndInsertTransitions`) in both places
  * generated code comes from, each time right before
  * `CollapseCodegenStages`: in `QueryExecution.preparations` for a plan
  * adaptive execution does not wrap (and for each streaming
  * micro-batch), and in `AdaptiveSparkPlanExec`'s post-stage-creation
  * rules for every query stage and final plan adaptive execution plans,
  * including those `reOptimize` re-plans. It runs after
  * `EnsureRequirements` in both, and no rule after it checks
  * distributions against expressions. Exchange reuse compares
  * canonicalized plans, which keep each parameter's value. */
object ParameterizeLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: HashAggregateExec |
        _: ObjectHashAggregateExec | _: SortAggregateExec) =>
      p.transformExpressionsUp {
        case e if isParent(e) && e.children.exists(isParam) &&
            e.children.exists(!_.foldable) =>
          e.withNewChildren(e.children.map {
            case l: Literal if isParam(l) => ParamLiteral(l.value, l.dataType)
            case c => c
          })
      }
  }

  private def isParent(e: Expression): Boolean = e match {
    case _: BinaryComparison | _: BinaryArithmetic | _: BinaryMathExpression |
        _: Least | _: Greatest => true
    case _ => false
  }

  private def isParam(e: Expression): Boolean = e match {
    case Literal(v, t) if v != null => t match {
      case IntegerType | LongType | DoubleType | FloatType | ShortType |
          ByteType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    case _ => false
  }
}

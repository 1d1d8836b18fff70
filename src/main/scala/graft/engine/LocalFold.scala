package graft.engine

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, IntegerLiteral, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Clock-safe counterpart of Spark's `ConvertToLocalRelation`.
  *
  * The facade excludes the stock rule because it evaluates projections over
  * `LocalRelation` at OPTIMIZATION time, which would freeze the `Exec*`
  * execution-clock expressions into a cached plan (see ExecTime.scala). This
  * rule folds a Project, Filter or Limit over a `LocalRelation` with the one
  * guard the stock rule lacks: ONLY when its expressions are deterministic
  * and contain no execution-clock expression — those plans keep their live
  * per-execution semantics under the plan cache. (Stricter than stock in one
  * more way: the stock rule folds non-deterministic projections too, which
  * is sound for a single query but observable under a cached plan — rand()
  * would return identical values on every re-execution.)
  *
  * Joins, aggregates and sorts over driver-resident relations, and every
  * operator over the facade's `DriverRelation`s (whose rows are bound when
  * a plan runs, not when it is optimized), are not folded here: they run on
  * the calling thread in a `DirectPlanExec` (DirectPlan.scala). The fold
  * evaluates generated code only where the expressions hold no literal, as
  * that node does.
  */
object ClockSafeConvertToLocalRelation extends Rule[LogicalPlan] {

  import DirectPlan.{bindPredicate, literalFree, unsafeProjection}

  private def foldableExpr(e: Expression): Boolean =
    e.deterministic && !ExecTimeRewrite.hasClockExpr(e) && !e.exists {
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList, l: LocalRelation) if projectList.forall(foldableExpr) =>
      val projection = unsafeProjection(projectList, l.output, projectList.forall(literalFree))
      l.copy(output = projectList.map(_.toAttribute), data = l.data.map(r => projection(r).copy()))

    case Limit(IntegerLiteral(limit), l: LocalRelation) => l.copy(data = l.data.take(limit))

    case Filter(condition, l: LocalRelation) if foldableExpr(condition) =>
      val predicate = bindPredicate(condition, l.output)
      l.copy(data = l.data.filter(row => predicate.eval(row)))
  }
}

package graft.engine

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, InterpretedOrdering, AttributeSet, Expression, If, IntegerLiteral, InterpretedMutableProjection, IsNaN, JoinedRow, Literal, Predicate, SpecificInternalRow, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Limit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

/** Clock-safe driver-side folding of local-relation plans.
  *
  * The facade excludes Spark's `ConvertToLocalRelation` because it evaluates
  * projections over `LocalRelation` at OPTIMIZATION time, which would freeze
  * the `Exec*` execution-clock expressions into a cached plan (see
  * ExecTime.scala). But the blanket exclusion also cost the fast path that
  * is the reference's whole regime — small in-memory tables answered on the
  * driver without launching a job (reference `DirectSparkSession.sqlDirectly`
  * executes entirely on the calling thread; collect over a plan that
  * optimizes to a bare `LocalRelation` never submits a Spark job). This rule
  * restores that path with the one guard the stock rule lacks: a
  * Project/Filter/Limit/Sort (and, below, small Aggregate) over a
  * LocalRelation folds eagerly ONLY when its expressions are deterministic
  * and contain no execution-clock expression — those plans keep their live
  * per-execution semantics under the plan cache.
  *
  * (Stricter than stock in one more way: the stock rule folds
  * non-deterministic projections too, which is sound for a single query but
  * observable under a cached plan — rand() would return identical values on
  * every re-execution. Skipping those keeps cached-plan re-execution
  * semantics identical to uncached.)
  */
object ClockSafeConvertToLocalRelation extends Rule[LogicalPlan] {

  import ExecTimeRewrite.hasClockExpr

  private def foldableExpr(e: Expression): Boolean =
    e.deterministic && !hasClockExpr(e) && !e.exists {
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList, l: LocalRelation) if projectList.forall(foldableExpr) =>
      val projection = new InterpretedMutableProjection(projectList, l.output)
      projection.initialize(0)
      LocalRelation(projectList.map(_.toAttribute),
        l.data.map(r => projection(r).copy()), l.isStreaming)

    case Limit(IntegerLiteral(limit), l: LocalRelation) =>
      LocalRelation(l.output, l.data.take(limit), l.isStreaming)

    case Filter(condition, l: LocalRelation) if foldableExpr(condition) =>
      val predicate = Predicate.create(condition, l.output)
      predicate.initialize(0)
      LocalRelation(l.output, l.data.filter(row => predicate.eval(row)), l.isStreaming)

    // ORDER BY over an already-folded relation (e.g. the reference-style
    // `SELECT ... GROUP BY ... ORDER BY ... LIMIT n` micro-query, whose
    // Aggregate folds in the same fixed-point batch): sort driver-side so
    // the whole query stays job-free. SortOrder itself is Unevaluable, so
    // the guard checks its children; InterpretedOrdering applies the same
    // direction/null-ordering semantics the distributed sort uses.
    case s @ Sort(order, _, l: LocalRelation, _)
        if !l.isStreaming && order.forall(_.children.forall(foldableExpr)) =>
      val ordering = new InterpretedOrdering(order, l.output)
      LocalRelation(l.output, l.data.sorted(ordering), l.isStreaming)

    case agg: Aggregate if agg.child.isInstanceOf[LocalRelation] &&
        !agg.child.asInstanceOf[LocalRelation].isStreaming &&
        (agg.groupingExpressions ++ agg.aggregateExpressions).forall(foldableAggExpr) =>
      foldAggregate(agg, agg.child.asInstanceOf[LocalRelation]).getOrElse(agg)
  }

  /** Like foldableExpr but transparent to (well-behaved) aggregate calls:
    * the AggregateExpression node and its DeclarativeAggregate function are
    * themselves Unevaluable, yet the fold evaluates only their
    * initial/update/evaluate expression forms — so exempt exactly those two
    * node types and keep every other guard (determinism, no clock exprs, no
    * other unevaluables) over the whole tree including aggregate inputs. */
  private def foldableAggExpr(e: Expression): Boolean =
    e.deterministic && !hasClockExpr(e) && !e.exists {
      case ae: AggregateExpression =>
        ae.isDistinct || ae.filter.nonEmpty ||
          !ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]
      case _: AggregateFunction => false
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  /** True when the type holds a float/double anywhere below the top level
    * (struct field, array element, map key/value) — shapes whose key bytes
    * we don't normalize, so the fold must decline them. */
  private def hasNestedFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => hasNestedFloat(f.dataType))
    case a: ArrayType => hasNestedFloat(a.elementType)
    case m: MapType => hasNestedFloat(m.keyType) || hasNestedFloat(m.valueType)
    case _ => false
  }

  /** Driver-side hash aggregation over an already-driver-resident
    * LocalRelation — the reference's `testAgg` regime: a small cached
    * aggregate answered in ms with no Spark job. Interpreted evaluation of
    * the DeclarativeAggregate contract (initialValues -> updateExpressions
    * per row -> evaluateExpression per group), the same contract the
    * distributed HashAggregateExec codegens. Input size is bounded by what
    * already sits in driver memory, so the fold can't make memory worse.
    * Returns None (plan unchanged, normal distributed path) for any shape
    * the substitution can't prove out. */
  private def foldAggregate(agg: Aggregate, l: LocalRelation): Option[LocalRelation] = {
    val grouping = agg.groupingExpressions
    val results = agg.aggregateExpressions

    // This rule runs (injected) before the optimizer's
    // NormalizeFloatingNumbers batch, and the fold groups on raw UnsafeRow
    // key bytes — so -0.0 vs 0.0 and differing NaN bit patterns would land
    // in separate groups while the distributed path unifies them. Normalize
    // top-level float/double keys exactly as Spark's NormalizeNaNAndZero
    // does (canonical NaN; `x + 0.0` maps -0.0 to 0.0 — the normalized
    // value is also what the distributed path emits as the group key), and
    // bail on floats nested inside struct/array/map keys.
    val normGrouping = grouping.map { e =>
      e.dataType match {
        case DoubleType => If(IsNaN(e), Literal(Double.NaN), Add(e, Literal(0.0d)))
        case FloatType => If(IsNaN(e), Literal(Float.NaN), Add(e, Literal(0.0f)))
        case dt if hasNestedFloat(dt) => return None
        case _ => e
      }
    }

    // distinct-by-semantics aggregate calls, in first-appearance order
    val aggCalls = {
      val seen = scala.collection.mutable.ArrayBuffer[AggregateExpression]()
      results.foreach(_.foreach {
        case ae: AggregateExpression =>
          if (!seen.exists(_.semanticEquals(ae))) seen += ae
        case _ => ()
      })
      seen.toSeq
    }
    val funcs = aggCalls.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate])
    val bufferAttrs = funcs.flatMap(_.aggBufferAttributes)

    // final output: aggregate calls -> their evaluate form over the buffer;
    // grouping-expression occurrences -> positional key attributes
    val keyAttrs = grouping.zipWithIndex.map { case (e, i) =>
      AttributeReference(s"gk_$i", e.dataType, e.nullable)()
    }
    val finalExprs = results.map(_.transformDown {
      case ae: AggregateExpression =>
        funcs(aggCalls.indexWhere(_.semanticEquals(ae))).evaluateExpression
      case e if grouping.exists(_.semanticEquals(e)) =>
        keyAttrs(grouping.indexWhere(_.semanticEquals(e)))
    })
    // a valid analyzed Aggregate leaves no child attribute outside a
    // grouping/aggregate occurrence; if substitution didn't close over the
    // key+buffer schema, bail to the distributed path rather than mis-bind
    if (!finalExprs.forall(_.references.subsetOf(AttributeSet(keyAttrs ++ bufferAttrs))))
      return None

    val keyProj = UnsafeProjection.create(normGrouping, l.output)
    val initProj = new InterpretedMutableProjection(funcs.flatMap(_.initialValues), Nil)
    val updateProj = new InterpretedMutableProjection(
      funcs.flatMap(_.updateExpressions), bufferAttrs ++ l.output)
    val finalProj = new InterpretedMutableProjection(finalExprs, keyAttrs ++ bufferAttrs)
    Seq(initProj, updateProj, finalProj).foreach(_.initialize(0))

    val groups = scala.collection.mutable.LinkedHashMap[UnsafeRow, SpecificInternalRow]()
    def newBuffer(): SpecificInternalRow = {
      val b = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      initProj.target(b)(InternalRow.empty)
      b
    }
    // a global aggregate (no grouping) emits one row even over zero input
    if (grouping.isEmpty) groups(keyProj(InternalRow.empty).copy()) = newBuffer()
    val joined = new JoinedRow
    l.data.foreach { row =>
      val buf = groups.getOrElseUpdate(keyProj(row).copy(), newBuffer())
      updateProj.target(buf)(joined(buf, row))
    }
    val out = groups.iterator.map { case (key, buf) =>
      finalProj(joined(key, buf)).copy()
    }.toSeq
    Some(LocalRelation(results.map(_.toAttribute), out, l.isStreaming))
  }
}

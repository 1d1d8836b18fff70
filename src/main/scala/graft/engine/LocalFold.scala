package graft.engine

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Add, Attribute, AttributeReference, AttributeSet, BasePredicate, BindReferences, BoundReference, Expression, GenericInternalRow, If, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedUnsafeProjection, IsNaN, JoinedRow, Literal, MutableProjection, Predicate, SpecificInternalRow, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{InnerLike, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, Limit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
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
  * Project/Filter/Limit/Sort (and, below, small Aggregate and equi-Join) over
  * driver-resident relations (`LocalRelation`s, and the `DriverRelation`s
  * that hold the facade's snapshots and registered `DataTable`s, both read
  * through `LocalRows`) folds eagerly ONLY when its expressions are
  * deterministic and contain no execution-clock expression — those plans
  * keep their live per-execution semantics under the plan cache.
  *
  * (Stricter than stock in one more way: the stock rule folds
  * non-deterministic projections too, which is sound for a single query but
  * observable under a cached plan — rand() would return identical values on
  * every re-execution. Skipping those keeps cached-plan re-execution
  * semantics identical to uncached.)
  *
  * Joins of two driver-resident relations fold with a driver-side hash join
  * (inner, left/right outer, left semi and left anti, with an optional
  * extra condition), so a facade query over the driver snapshots of small
  * registered tables (GraftSession) runs no Spark job at all.
  *
  * A fold evaluates generated code (`UnsafeProjection.create`,
  * `MutableProjection.create`, `Predicate.create`) where the query
  * expressions behind it hold no literal: column pruning, join keys, join
  * output, extra join conditions and filters without one, and the grouping
  * key and buffer update of an aggregate whose grouping and aggregate
  * inputs hold none. Spark caches generated classes by their source, which
  * then depends only on the query's shape, so ad-hoc texts that differ in a
  * literal compile nothing after the first. Where a literal would be inlined
  * (a filter such as `c_acctbal > 123.45`), the fold evaluates interpreted
  * (`InterpretedUnsafeProjection`, `InterpretedMutableProjection`,
  * `Predicate.createInterpreted`): each new literal would otherwise pay a
  * Janino compile, and the folded inputs are small enough that
  * interpretation costs less. Sorts, an aggregate's initial values and its
  * final projection (once per group) are always interpreted.
  */
object ClockSafeConvertToLocalRelation extends Rule[LogicalPlan] {

  import ExecTimeRewrite.hasClockExpr

  private def foldableExpr(e: Expression): Boolean =
    e.deterministic && !hasClockExpr(e) && !e.exists {
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Project(projectList, LocalRows(output, data, streaming)) if projectList.forall(foldableExpr) =>
      val projection = unsafeProjection(projectList, output, projectList.forall(literalFree))
      LocalRelation(projectList.map(_.toAttribute), data.map(r => projection(r).copy()), streaming)

    case Limit(IntegerLiteral(limit), LocalRows(output, data, streaming)) =>
      LocalRelation(output, data.take(limit), streaming)

    case Filter(condition, LocalRows(output, data, streaming)) if foldableExpr(condition) =>
      val predicate = bindPredicate(condition, output)
      LocalRelation(output, data.filter(row => predicate.eval(row)), streaming)

    // ORDER BY over an already-folded relation (e.g. the reference-style
    // `SELECT ... GROUP BY ... ORDER BY ... LIMIT n` micro-query, whose
    // Aggregate folds in the same fixed-point batch): sort driver-side so
    // the whole query stays job-free. SortOrder itself is Unevaluable, so
    // the guard checks its children; InterpretedOrdering applies the same
    // direction/null-ordering semantics the distributed sort uses.
    case Sort(order, _, LocalRows(output, data, false), _)
        if order.forall(_.children.forall(foldableExpr)) =>
      val ordering = new InterpretedOrdering(order, output)
      LocalRelation(output, data.sorted(ordering))

    case agg @ Aggregate(grouping, results, LocalRows(output, data, false), _)
        if (grouping ++ results).forall(foldableAggExpr) =>
      foldAggregate(agg, output, data).getOrElse(agg)

    case j @ Join(LocalRows(lo, ld, false), LocalRows(ro, rd, false), _, _, _) =>
      foldJoin(j, Side(lo, ld), Side(ro, rd)).getOrElse(j)
  }

  /** True when `e` holds no literal. Generated code inlines literals, so
    * code for an expression that holds one would differ, and be compiled
    * again, for every new literal of an ad-hoc text; code for one that
    * holds none depends only on the query's shape and is compiled once
    * (Spark caches generated classes by their source). */
  private def literalFree(e: Expression): Boolean = !e.exists(_.isInstanceOf[Literal])

  /** An unsafe projection of `exprs` over `input`: generated code when
    * `generated` (the query expressions behind `exprs` are literal-free),
    * else interpreted. */
  private def unsafeProjection(exprs: Seq[Expression], input: Seq[Attribute],
      generated: Boolean): UnsafeProjection =
    if (generated) UnsafeProjection.create(exprs, input)
    else InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(exprs, input))

  /** `condition` over `input`: generated code when it holds no literal, else
    * interpreted. */
  private def bindPredicate(condition: Expression, input: Seq[Attribute]): BasePredicate = {
    val p =
      if (literalFree(condition)) Predicate.create(condition, input)
      else Predicate.createInterpreted(BindReferences.bindReference(condition, input))
    p.initialize(0)
    p
  }

  /** One input of the join fold: its output and rows. */
  private final case class Side(output: Seq[Attribute], data: Seq[InternalRow])

  /** A join whose output rows would take more heap than this stays a Spark
    * join. */
  private val MaxJoinOutputBytes = 16L << 20
  /** Heap bytes of an UnsafeRow beyond its data: the row object and its
    * byte array's header (64-bit JVM, compressed oops). */
  private val RowOverheadBytes = 56

  /** Output rows the join fold has built since the JVM started; a declined
    * join builds none. */
  private[graft] val joinRowsBuilt = new LongAdder

  /** A build-side row of the join fold and the variable-length bytes it adds
    * to an output UnsafeRow. */
  private final case class Built(row: InternalRow, varBytes: Int)

  /** The bytes past the fixed portion of `side`'s rows as UnsafeRows: what
    * a row's strings, binaries and nested values add to a joined row. */
  private def varBytes(side: Side): InternalRow => Int =
    if (side.output.forall(a => UnsafeRow.isFixedLength(a.dataType))) _ => 0
    else {
      val fixed = fixedBytes(side.output.size)
      // nullable throughout: the row of nulls an outer join pads with is sized too
      val asUnsafe = UnsafeProjection.create(
        side.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, nullable = true) })
      (row: InternalRow) => row match {
        case u: UnsafeRow => u.getSizeInBytes - fixed
        case _ => asUnsafe(row).getSizeInBytes - fixed
      }
    }

  /** The bytes of an UnsafeRow of `n` fields before its variable-length
    * data: the null bit set and one word per field. */
  private def fixedBytes(n: Int): Int = UnsafeRow.calculateBitSetWidthInBytes(n) + 8 * n

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

  /** `e` as a hash key whose UnsafeRow bytes are equal exactly when Spark's
    * distributed operators treat the values as equal. This rule runs
    * (injected) before the optimizer's NormalizeFloatingNumbers batch, so
    * raw bytes would keep -0.0 apart from 0.0 and differing NaN bit patterns
    * apart where the distributed path unifies them: top-level float/double
    * keys are normalized exactly as Spark's NormalizeNaNAndZero does
    * (canonical NaN; `x + 0.0` maps -0.0 to 0.0). None — the fold declines —
    * for a float nested inside a struct/array/map key and for a string
    * collation whose equality is not byte equality. */
  private def hashKey(e: Expression): Option[Expression] = e.dataType match {
    case DoubleType => Some(If(IsNaN(e), Literal(Double.NaN), Add(e, Literal(0.0d))))
    case FloatType => Some(If(IsNaN(e), Literal(Float.NaN), Add(e, Literal(0.0f))))
    case dt if hasNestedFloat(dt) || !UnsafeRowUtils.isBinaryStable(dt) => None
    case _ => Some(e)
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
  private def foldAggregate(agg: Aggregate, input: Seq[Attribute],
      data: Seq[InternalRow]): Option[LocalRelation] = {
    val grouping = agg.groupingExpressions
    val results = agg.aggregateExpressions

    // groups on the UnsafeRow bytes of the normalized keys; the normalized
    // value is also what the distributed path emits as the group key
    val normGrouping = grouping.map(e => hashKey(e).getOrElse(return None))

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

    // the key and the buffer update run once per input row: generated code
    // when the grouping, and the aggregate inputs, hold no literal (the
    // functions' own update expressions hold only fixed literals, and count
    // evaluates only its nullable inputs: count(*) is count(1)); the
    // initial values and the final projection run once per group
    val inputs = aggCalls.flatMap(_.aggregateFunction match {
      case c: Count => c.children.filter(_.nullable)
      case f => f.children
    })
    val keyProj = unsafeProjection(normGrouping, input, grouping.forall(literalFree))
    val updateExprs = funcs.flatMap(_.updateExpressions)
    val updateProj =
      if (inputs.forall(literalFree)) MutableProjection.create(updateExprs, bufferAttrs ++ input)
      else new InterpretedMutableProjection(updateExprs, bufferAttrs ++ input)
    val initProj = new InterpretedMutableProjection(funcs.flatMap(_.initialValues), Nil)
    val finalProj = new InterpretedMutableProjection(finalExprs, keyAttrs ++ bufferAttrs)
    Seq(initProj, updateProj, finalProj).foreach(_.initialize(0))

    val groups = new java.util.LinkedHashMap[UnsafeRow, SpecificInternalRow]()
    def newBuffer(): SpecificInternalRow = {
      val b = new SpecificInternalRow(bufferAttrs.map(_.dataType))
      initProj.target(b)(InternalRow.empty)
      b
    }
    // a global aggregate (no grouping) emits one row even over zero input
    if (grouping.isEmpty) groups.put(keyProj(InternalRow.empty).copy(), newBuffer())
    val joined = new JoinedRow
    data.foreach { row =>
      // the projection reuses its key row: copy it only for a new group
      val key = keyProj(row)
      var buf = groups.get(key)
      if (buf == null) { buf = newBuffer(); groups.put(key.copy(), buf) }
      updateProj.target(buf)(joined(buf, row))
    }
    val out = groups.entrySet.iterator.asScala.map { e =>
      finalProj(joined(e.getKey, e.getValue)).copy()
    }.toSeq
    Some(LocalRelation(results.map(_.toAttribute), out))
  }

  /** Driver-side hash join of two LocalRelations on their equi-join keys:
    * a hash table over one side, keyed on the UnsafeRow bytes of its
    * `hashKey`-normalized keys, probed by the other — the left side, or the
    * right side for a right outer join. A key with a null field matches
    * nothing, as in Spark's hash joins (`<=>` keys arrive as never-null
    * `coalesce`/`isnull` pairs); the extra condition is evaluated on each
    * key match. Returns None (plan unchanged, a Spark join) for a join that
    * is not an equi-join of type inner, left/right outer, left semi or left
    * anti, for keys `hashKey` declines, and when the output rows pass
    * `MaxJoinOutputBytes`. */
  private def foldJoin(j: Join, l: Side, r: Side): Option[LocalRelation] = {
    val (joinType, leftKeys, rightKeys, extra) = j match {
      case ExtractEquiJoinKeys(t, lk, rk, c, _, _, _, _)
          if (lk ++ rk ++ c).forall(foldableExpr) => (t, lk, rk, c)
      case _ => return None
    }
    val probeLeft = joinType match {
      case _: InnerLike | LeftOuter | LeftSemi | LeftAnti => true
      case RightOuter => false
      case _ => return None
    }
    val (probe, build) = if (probeLeft) (l, r) else (r, l)
    val normalized = (leftKeys ++ rightKeys).map(k => hashKey(k).getOrElse(return None))
    val (leftKey, rightKey) = normalized.splitAt(leftKeys.size)
    // the normalization's own literals are fixed: the query's keys decide
    val generatedKeys = (leftKeys ++ rightKeys).forall(literalFree)
    def keyProjection(keys: Seq[Expression], side: Side): UnsafeProjection =
      unsafeProjection(keys, side.output, generatedKeys)
    val buildKey = keyProjection(if (probeLeft) rightKey else leftKey, build)
    val probeKey = keyProjection(if (probeLeft) leftKey else rightKey, probe)

    val projects = joinType != LeftSemi && joinType != LeftAnti
    val buildVar = if (projects) varBytes(build) else (_: InternalRow) => 0
    val table = mutable.HashMap[UnsafeRow, mutable.ArrayBuffer[Built]]()
    build.data.foreach { row =>
      val k = buildKey(row)
      if (!k.anyNull) table.getOrElseUpdate(k.copy(), mutable.ArrayBuffer()) += Built(row, buildVar(row))
    }
    def matches(row: InternalRow): collection.Seq[Built] = {
      val k = probeKey(row)
      if (k.anyNull) Nil else table.getOrElse(k, Nil)
    }

    val condition = extra.map(bindPredicate(_, l.output ++ r.output))
    val joined = new JoinedRow
    /** A probe row and a build row as (left, right). */
    def pair(p: InternalRow, b: InternalRow): InternalRow =
      if (probeLeft) joined(p, b) else joined(b, p)
    def passes(p: InternalRow, b: Built): Boolean = condition.forall(_.eval(pair(p, b.row)))

    val out: Seq[InternalRow] =
      if (joinType == LeftSemi) probe.data.filter(p => matches(p).exists(passes(p, _)))
      else if (joinType == LeftAnti) probe.data.filterNot(p => matches(p).exists(passes(p, _)))
      else {
        val outer = joinType == LeftOuter || joinType == RightOuter
        // each probe row's key matches, looked up by the sizing pass and
        // reused by the building pass
        val probed = new Array[collection.Seq[Built]](probe.data.size)
        /** Each output pair, in order: a probe row and a build row that
          * passes, or null for an outer join's unmatched probe row; stops
          * before the next probe row once `stop` holds. */
        def pairs(stop: => Boolean)(emit: (InternalRow, Built) => Unit): Unit =
          probe.data.iterator.zipWithIndex.takeWhile(_ => !stop).foreach { case (p, i) =>
            if (probed(i) == null) probed(i) = matches(p)
            var hit = false
            probed(i).foreach(b => if (passes(p, b)) { hit = true; emit(p, b) })
            if (outer && !hit) emit(p, null)
          }
        // sum the output rows' heap bytes before building any: an output
        // UnsafeRow holds the fixed portion of the joined schema plus the
        // variable-length bytes of its two input rows, so a declined join
        // costs a pass over its key matches, not its rows
        val fixed = fixedBytes(j.output.size) + RowOverheadBytes
        val nulls = new GenericInternalRow(build.output.size)
        val nullVar = buildVar(nulls)
        val probeVar = varBytes(probe)
        var last: InternalRow = null
        var lastVar = 0
        var bytes = 0L
        pairs(bytes > MaxJoinOutputBytes) { (p, b) =>
          if (p ne last) { last = p; lastVar = probeVar(p) }
          bytes += fixed + lastVar + (if (b == null) nullVar else b.varBytes)
        }
        if (bytes > MaxJoinOutputBytes) return None
        // the output's nullability: the outer side's columns are nullable
        val project = UnsafeProjection.create(
          j.output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) })
        val rows = mutable.ArrayBuffer[InternalRow]()
        pairs(false)((p, b) => rows += project(pair(p, if (b == null) nulls else b.row)).copy())
        joinRowsBuilt.add(rows.size)
        rows.toIndexedSeq
      }
    Some(LocalRelation(j.output, out))
  }
}

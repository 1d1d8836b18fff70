package graft.engine

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Add, Attribute, AttributeReference, AttributeSet, BasePredicate, BindReferences, Expression, GenericInternalRow, If, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedUnsafeProjection, IsNaN, JoinedRow, Literal, MutableProjection, NamedExpression, Predicate, SortOrder, SpecificInternalRow, Unevaluable, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Count, DeclarativeAggregate}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{InnerLike, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LocalRelation, LogicalPlan, Project, ReturnAnswer, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{LeafExecNode, LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, MapType, StructType}

/** Driver-resident plans run on the calling thread: the reference's
  * `DirectPlan` (reference `DirectPlanConverter.scala:92-208`), which runs a
  * physical plan over in-memory tables as iterators, with no Spark job.
  *
  * `DirectPlanStrategy` plans a subtree whose leaves are all driver-resident
  * (`DriverRelation`, or a non-streaming `LocalRelation`) and whose
  * operators are Project, Filter, an equi-join (inner, left/right outer,
  * left semi, left anti), an aggregate of declarative functions, Sort and
  * Limit, to one `DirectPlanExec`. Its execution pulls fused iterators:
  * filter and project, then the hash-join probe, then the aggregate buffer
  * updates, then sort and limit. Nothing is materialized between operators
  * except what an operator must hold: a join's hash table over its build
  * side (the rows of a leaf are not copied), an aggregate's groups, and a
  * sort's rows (a sort under a limit keeps only the rows it may return).
  *
  * A subtree is refused (and stays a Spark plan) when an expression is
  * non-deterministic, so seeded `rand` keeps Spark's values, or cannot be
  * evaluated on its own (subqueries, Python UDFs), when an aggregate is
  * distinct, filtered or imperative, and when a join key is one whose bytes
  * do not decide equality (`hashKey`). Clock expressions are evaluated at
  * execution, from the per-execution clock of `GraftExecutionContext`.
  *
  * Generated code is used where the query expressions behind an evaluator
  * hold no literal: Spark caches generated classes by their source, which
  * then depends only on the query's shape, so ad-hoc texts that differ in a
  * literal compile nothing after the first. Where a literal would be inlined
  * (a filter such as `c_acctbal > 123.45`), the evaluator is interpreted.
  * Sorts, an aggregate's initial values and its final projection are always
  * interpreted. An execution borrows its evaluators from per-operator pools,
  * so a warm node builds none and concurrent executions never share one;
  * hash tables, groups and sort buffers belong to one execution.
  */
object DirectPlan {

  /** Rows derived one-to-one from join pairs that an execution copied into
    * a buffer (a hash table, a sort, or the collected result), since the JVM
    * started. Pairs that stream into an aggregate build none. */
  private[graft] val joinRowsBuilt = new LongAdder

  /** The node for `plan`, or None when some part of it is refused. At the
    * root of a query (`root`) any accepted plan but a bare `LocalRelation`
    * (which Spark's `LocalTableScanExec` already collects without a job) is
    * taken. Below a Spark operator, only a subtree with a join, aggregate or
    * sort is taken; Project and Filter over one leaf stay Spark's
    * operators, over a `LocalTableScanExec` of the leaf's pinned rows, as
    * the same leaf over a `LocalRelation` would be. */
  def plan(plan: LogicalPlan, root: Boolean): Option[SparkPlan] = plan match {
    case _: LocalRelation => None
    case r: DriverRelation if !root => Some(LocalTableScanExec(r.output, r.rows.rows, None))
    case p if !root && !p.exists(n => n.isInstanceOf[Join] || n.isInstanceOf[Aggregate] || n.isInstanceOf[Sort]) =>
      None
    case p =>
      new Compiler()(p).map { op =>
        val top = if (op.output.map(_.exprId) == p.output.map(_.exprId)) op else new ProjectOp(p.output, op)
        DirectPlanExec(p.output, top)
      }
  }

  /** True when `e` can be evaluated row by row here: deterministic, and
    * nothing in it that only Spark's operators evaluate. */
  private def evaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  /** Like `evaluable`, but transparent to the aggregate calls whose
    * initial, update and evaluate forms the aggregate operator evaluates. */
  private def aggEvaluable(e: Expression): Boolean =
    e.deterministic && !e.exists {
      case ae: AggregateExpression =>
        ae.isDistinct || ae.filter.nonEmpty ||
          !ae.aggregateFunction.isInstanceOf[DeclarativeAggregate]
      case _: AggregateFunction => false
      case u: Unevaluable => !u.isInstanceOf[AttributeReference]
      case _ => false
    }

  /** True when `e` holds no literal. Generated code inlines literals, so
    * code for an expression that holds one would differ, and be compiled
    * again, for every new literal of an ad-hoc text; code for one that
    * holds none depends only on the query's shape and is compiled once
    * (Spark caches generated classes by their source). */
  private[engine] def literalFree(e: Expression): Boolean = !e.exists(_.isInstanceOf[Literal])

  /** An unsafe projection of `exprs` over `input`: generated code when
    * `generated` (the query expressions behind `exprs` are literal-free),
    * else interpreted. */
  private[engine] def unsafeProjection(exprs: Seq[Expression], input: Seq[Attribute],
      generated: Boolean): UnsafeProjection =
    if (generated) UnsafeProjection.create(exprs, input)
    else InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(exprs, input))

  /** `condition` over `input`: generated code when it holds no literal, else
    * interpreted. */
  private[engine] def bindPredicate(condition: Expression, input: Seq[Attribute]): BasePredicate = {
    val p =
      if (literalFree(condition)) Predicate.create(condition, input)
      else Predicate.createInterpreted(BindReferences.bindReference(condition, input))
    p.initialize(0)
    p
  }

  /** True when the type holds a float/double anywhere below the top level
    * (struct field, array element, map key/value) — shapes whose key bytes
    * we don't normalize, so the plan is refused. */
  private def hasNestedFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => hasNestedFloat(f.dataType))
    case a: ArrayType => hasNestedFloat(a.elementType)
    case m: MapType => hasNestedFloat(m.keyType) || hasNestedFloat(m.valueType)
    case _ => false
  }

  /** `e` as a hash key whose UnsafeRow bytes are equal exactly when Spark's
    * distributed operators treat the values as equal: top-level float and
    * double keys are normalized as Spark's `NormalizeNaNAndZero` does
    * (canonical NaN; `x + 0.0` maps -0.0 to 0.0). None — the plan is refused
    * — for a float nested inside a struct/array/map key and for a string
    * collation whose equality is not byte equality. */
  private def hashKey(e: Expression): Option[Expression] = e.dataType match {
    case DoubleType => Some(If(IsNaN(e), Literal(Double.NaN), Add(e, Literal(0.0d))))
    case FloatType => Some(If(IsNaN(e), Literal(Float.NaN), Add(e, Literal(0.0f))))
    case dt if hasNestedFloat(dt) || !UnsafeRowUtils.isBinaryStable(dt) => None
    case _ => Some(e)
  }

  /** Builds the operator tree of one node; leaves are numbered in the order
    * they are met. */
  private final class Compiler {
    private var leaves = 0

    private def scan(output: Seq[Attribute], leaf: Leaf): DirectOp = {
      leaves += 1
      new ScanOp(output, leaves - 1, leaf)
    }

    def apply(p: LogicalPlan): Option[DirectOp] = p match {
      case ReturnAnswer(child) => apply(child)
      case r: DriverRelation => Some(scan(r.output, new Leaf(r.slot, r.pinned.orNull)))
      case l: LocalRelation if !l.isStreaming =>
        val rows = new DriverRows(l.data.toIndexedSeq)
        Some(scan(l.output, new Leaf(new DriverSlot(rows), rows)))
      // column pruning: the operators above bind their inputs by attribute,
      // so they read the wider rows below as they are, with no copy
      case Project(list, child) if list.forall(_.isInstanceOf[Attribute]) => apply(child)
      case Project(list, child) if list.forall(evaluable) => apply(child).map(new ProjectOp(list, _))
      case Filter(condition, child) if evaluable(condition) => apply(child).map(new FilterOp(condition, _))
      case GlobalLimit(IntegerLiteral(n), child) => apply(child).map(limit(n, _))
      case LocalLimit(IntegerLiteral(n), child) => apply(child).map(limit(n, _))
      case Sort(order, _, child, _) if order.forall(_.children.forall(evaluable)) =>
        apply(child).map(new SortOp(order, _, None))
      case a: Aggregate => aggregate(a)
      case j: Join => join(j)
      case _ => None
    }

    /** A limit over a sort keeps only the rows it may return. */
    private def limit(n: Int, child: DirectOp): DirectOp = child match {
      case s: SortOp => new SortOp(s.order, s.child, Some(s.limit.fold(n)(math.min(_, n))))
      case c => new LimitOp(n, c)
    }

    private def aggregate(agg: Aggregate): Option[DirectOp] = {
      val grouping = agg.groupingExpressions
      val results = agg.aggregateExpressions
      if (!(grouping ++ results).forall(aggEvaluable)) return None
      // groups on the UnsafeRow bytes of the normalized keys; the normalized
      // value is also what the distributed path emits as the group key
      val normGrouping = grouping.map(e => hashKey(e).getOrElse(return None))
      // distinct-by-semantics aggregate calls, in first-appearance order
      val calls = mutable.ArrayBuffer[AggregateExpression]()
      results.foreach(_.foreach {
        case ae: AggregateExpression => if (!calls.exists(_.semanticEquals(ae))) calls += ae
        case _ => ()
      })
      val funcs = calls.map(_.aggregateFunction.asInstanceOf[DeclarativeAggregate]).toSeq
      val bufferAttrs = funcs.flatMap(_.aggBufferAttributes)
      // final output: aggregate calls -> their evaluate form over the buffer;
      // grouping-expression occurrences -> positional key attributes
      val keyAttrs = grouping.zipWithIndex.map { case (e, i) =>
        AttributeReference(s"gk_$i", e.dataType, e.nullable)()
      }
      val finalExprs = results.map(_.transformDown {
        case ae: AggregateExpression => funcs(calls.indexWhere(_.semanticEquals(ae))).evaluateExpression
        case e if grouping.exists(_.semanticEquals(e)) => keyAttrs(grouping.indexWhere(_.semanticEquals(e)))
      })
      // a valid analyzed Aggregate leaves no child attribute outside a
      // grouping/aggregate occurrence; if substitution didn't close over the
      // key+buffer schema, refuse rather than mis-bind
      if (!finalExprs.forall(_.references.subsetOf(AttributeSet(keyAttrs ++ bufferAttrs)))) return None
      // the functions' own update expressions hold only fixed literals, and
      // count evaluates only its nullable inputs (count(*) is count(1))
      val inputs = calls.toSeq.flatMap(_.aggregateFunction match {
        case c: Count => c.children.filter(_.nullable)
        case f => f.children
      })
      apply(agg.child).map(new AggregateOp(normGrouping, grouping.forall(literalFree), funcs,
        inputs.forall(literalFree), keyAttrs, finalExprs, results.map(_.toAttribute), _))
    }

    private def join(j: Join): Option[DirectOp] = {
      val (joinType, leftKeys, rightKeys, extra) = j match {
        case ExtractEquiJoinKeys(t, lk, rk, c, _, _, _, _) if (lk ++ rk ++ c).forall(evaluable) =>
          (t, lk, rk, c)
        case _ => return None
      }
      joinType match {
        case _: InnerLike | LeftOuter | LeftSemi | LeftAnti | RightOuter => ()
        case _ => return None
      }
      val normalized = (leftKeys ++ rightKeys).map(k => hashKey(k).getOrElse(return None))
      val (leftKey, rightKey) = normalized.splitAt(leftKeys.size)
      for (l <- apply(j.left); r <- apply(j.right))
        // the normalization's own literals are fixed: the query's keys decide
        yield new HashJoinOp(joinType, leftKey, rightKey, (leftKeys ++ rightKeys).forall(literalFree),
          extra, l, r)
    }
  }

  /** The rows of one execution: the evaluators it borrowed, to give back
    * when it ends, and its inputs by leaf number. */
  private[engine] final class Run(val inputs: Array[IndexedSeq[InternalRow]]) {
    private val borrowed = mutable.ArrayBuffer[() => Unit]()

    def borrow[T <: AnyRef](pool: Pool[T]): T = {
      val t = pool.take()
      borrowed += (() => pool.give(t))
      t
    }

    def done(): Unit = borrowed.foreach(_())
  }

  /** Evaluators of one operator, built on demand and kept for later
    * executions of the same node. */
  private[engine] final class Pool[T <: AnyRef](make: () => T) {
    private val free = new ConcurrentLinkedQueue[T]()
    def take(): T = { val t = free.poll(); if (t == null) make() else t }
    def give(t: T): Unit = { free.offer(t); () }
  }

  /** A leaf's slot and the version pinned into its optimized plan (null
    * when the optimizer did not pin it). */
  private[engine] final class Leaf(val slot: DriverSlot, val pinned: DriverRows) {
    def rows(live: Boolean): DriverRows = if (live || pinned == null) slot.current else pinned
  }

  /** One operator of a node. `open` returns its rows for one execution;
    * a row may be reused for the next, so an operator that holds rows
    * copies them. Evaluator pools are transient: a copy shipped to a task
    * builds its own. */
  private[engine] sealed abstract class DirectOp extends Serializable {
    def output: Seq[Attribute]
    def children: Seq[DirectOp]
    def open(run: Run): Iterator[InternalRow]
    /** True when each output row is, or is projected from, one join pair. */
    def pairs: Boolean = false
    protected def name: String
    override def toString: String =
      if (children.isEmpty) name else children.mkString(s"$name(", ", ", ")")
  }

  private[engine] final class ScanOp(val output: Seq[Attribute], val index: Int,
      @transient val leaf: Leaf) extends DirectOp {
    def children: Seq[DirectOp] = Nil
    def open(run: Run): Iterator[InternalRow] = run.inputs(index).iterator
    protected def name: String = s"Scan ${if (leaf == null) "" else leaf.rows(false)}"
  }

  private[engine] final class ProjectOp(list: Seq[NamedExpression], child: DirectOp) extends DirectOp {
    def output: Seq[Attribute] = list.map(_.toAttribute)
    def children: Seq[DirectOp] = child :: Nil
    @transient private lazy val projections =
      new Pool(() => unsafeProjection(list, child.output, list.forall(literalFree)))
    def open(run: Run): Iterator[InternalRow] = child.open(run).map(run.borrow(projections))
    override def pairs: Boolean = child.pairs
    protected def name: String = "Project"
  }

  private[engine] final class FilterOp(condition: Expression, child: DirectOp) extends DirectOp {
    def output: Seq[Attribute] = child.output
    def children: Seq[DirectOp] = child :: Nil
    @transient private lazy val predicates = new Pool(() => bindPredicate(condition, child.output))
    def open(run: Run): Iterator[InternalRow] = {
      val p = run.borrow(predicates)
      child.open(run).filter(p.eval)
    }
    override def pairs: Boolean = child.pairs
    protected def name: String = "Filter"
  }

  private[engine] final class LimitOp(n: Int, child: DirectOp) extends DirectOp {
    def output: Seq[Attribute] = child.output
    def children: Seq[DirectOp] = child :: Nil
    def open(run: Run): Iterator[InternalRow] = child.open(run).take(n)
    override def pairs: Boolean = child.pairs
    protected def name: String = s"Limit $n"
  }

  /** A stable sort, as the distributed sort orders (direction and null
    * order); under a limit it keeps at most about twice the rows it may
    * return. */
  private[engine] final class SortOp(val order: Seq[SortOrder], val child: DirectOp, val limit: Option[Int])
      extends DirectOp {
    def output: Seq[Attribute] = child.output
    def children: Seq[DirectOp] = child :: Nil
    def open(run: Run): Iterator[InternalRow] = {
      val ordering = new InterpretedOrdering(order, child.output)
      val rows = mutable.ArrayBuffer[InternalRow]()
      val cap = limit.fold(Int.MaxValue)(n => math.max(2 * n, 1024))
      var copied = 0L
      child.open(run).foreach { r =>
        rows += r.copy()
        copied += 1
        if (rows.size >= cap) { rows.sortInPlace()(ordering); rows.dropRightInPlace(rows.size - limit.get) }
      }
      if (child.pairs) joinRowsBuilt.add(copied)
      rows.sortInPlace()(ordering)
      limit.fold(rows.iterator)(rows.iterator.take)
    }
    override def pairs: Boolean = child.pairs
    protected def name: String = s"Sort${limit.fold("")(n => s" $n")}"
  }

  /** Hash aggregation of declarative functions: initial values, then the
    * update expressions per input row, then the evaluate expressions per
    * group — the contract the distributed `HashAggregateExec` generates.
    * The key and the buffer update run once per input row: generated code
    * when the grouping, and the aggregate inputs, hold no literal. */
  private[engine] final class AggregateOp(grouping: Seq[Expression], generatedKey: Boolean,
      funcs: Seq[DeclarativeAggregate], generatedUpdate: Boolean, keyAttrs: Seq[Attribute],
      finalExprs: Seq[Expression], val output: Seq[Attribute], child: DirectOp) extends DirectOp {
    def children: Seq[DirectOp] = child :: Nil
    private def bufferAttrs = funcs.flatMap(_.aggBufferAttributes)
    @transient private lazy val keys =
      new Pool(() => unsafeProjection(grouping, child.output, generatedKey))
    @transient private lazy val updates = new Pool(() => {
      val exprs = funcs.flatMap(_.updateExpressions)
      val p = if (generatedUpdate) MutableProjection.create(exprs, bufferAttrs ++ child.output)
        else new InterpretedMutableProjection(exprs, bufferAttrs ++ child.output)
      p.initialize(0)
      p
    })
    @transient private lazy val inits = new Pool(() => {
      val p = new InterpretedMutableProjection(funcs.flatMap(_.initialValues), Nil)
      p.initialize(0)
      p
    })
    @transient private lazy val finals = new Pool(() => {
      val p = new InterpretedMutableProjection(finalExprs, keyAttrs ++ bufferAttrs)
      p.initialize(0)
      p
    })

    def open(run: Run): Iterator[InternalRow] = {
      val (keyProj, updateProj, initProj, finalProj) =
        (run.borrow(keys), run.borrow(updates), run.borrow(inits), run.borrow(finals))
      val types = bufferAttrs.map(_.dataType)
      val groups = new java.util.LinkedHashMap[UnsafeRow, SpecificInternalRow]()
      def newBuffer(): SpecificInternalRow = {
        val b = new SpecificInternalRow(types)
        initProj.target(b)(InternalRow.empty)
        b
      }
      // a global aggregate (no grouping) emits one row even over zero input
      if (grouping.isEmpty) groups.put(keyProj(InternalRow.empty).copy(), newBuffer())
      val joined = new JoinedRow
      child.open(run).foreach { row =>
        // the projection reuses its key row: copy it only for a new group
        val key = keyProj(row)
        var buf = groups.get(key)
        if (buf == null) { buf = newBuffer(); groups.put(key.copy(), buf) }
        updateProj.target(buf)(joined(buf, row))
      }
      groups.entrySet.iterator.asScala.map(e => finalProj(joined(e.getKey, e.getValue)))
    }
    protected def name: String = "Aggregate"
  }

  /** Hash join on the equi-join keys: a hash table over one side, keyed on
    * the UnsafeRow bytes of its normalized keys, probed by the other — the
    * left side, or the right side for a right outer join. A key with a null
    * field matches nothing, as in Spark's hash joins (`<=>` keys arrive as
    * never-null `coalesce`/`isnull` pairs); the extra condition is evaluated
    * on each key match. A joined row is a view of its two input rows. */
  private[engine] final class HashJoinOp(joinType: JoinType, leftKey: Seq[Expression],
      rightKey: Seq[Expression], generatedKeys: Boolean, condition: Option[Expression],
      left: DirectOp, right: DirectOp) extends DirectOp {
    private val probeLeft = joinType != RightOuter
    private def probe = if (probeLeft) left else right
    private def build = if (probeLeft) right else left

    val output: Seq[Attribute] = joinType match {
      case LeftSemi | LeftAnti => left.output
      case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
      case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
      case _ => left.output ++ right.output
    }
    def children: Seq[DirectOp] = left :: right :: Nil
    override def pairs: Boolean = joinType != LeftSemi && joinType != LeftAnti

    @transient private lazy val buildKeys = new Pool(() =>
      unsafeProjection(if (probeLeft) rightKey else leftKey, build.output, generatedKeys))
    @transient private lazy val probeKeys = new Pool(() =>
      unsafeProjection(if (probeLeft) leftKey else rightKey, probe.output, generatedKeys))
    @transient private lazy val conditions =
      new Pool(() => bindPredicate(condition.get, left.output ++ right.output))

    def open(run: Run): Iterator[InternalRow] = {
      val (buildKey, probeKey) = (run.borrow(buildKeys), run.borrow(probeKeys))
      val cond = if (condition.isEmpty) null else run.borrow(conditions)
      // the rows of a leaf are kept as they are; other rows may be reused
      val stable = build.isInstanceOf[ScanOp]
      val table = new java.util.HashMap[UnsafeRow, mutable.ArrayBuffer[InternalRow]]()
      var copied = 0L
      build.open(run).foreach { row =>
        val k = buildKey(row)
        if (!k.anyNull) {
          var rows = table.get(k)
          if (rows == null) { rows = mutable.ArrayBuffer(); table.put(k.copy(), rows) }
          rows += (if (stable) row else { copied += 1; row.copy() })
        }
      }
      if (build.pairs) joinRowsBuilt.add(copied)

      val joined = new JoinedRow
      def pair(p: InternalRow, b: InternalRow): InternalRow = if (probeLeft) joined(p, b) else joined(b, p)
      def passes(p: InternalRow, b: InternalRow): Boolean = cond == null || cond.eval(pair(p, b))
      def matches(p: InternalRow): mutable.ArrayBuffer[InternalRow] = {
        val k = probeKey(p)
        if (k.anyNull) null else table.get(k)
      }
      def anyMatch(p: InternalRow): Boolean = { val m = matches(p); m != null && m.exists(passes(p, _)) }
      val rows = probe.open(run)
      joinType match {
        case LeftSemi => rows.filter(anyMatch)
        case LeftAnti => rows.filterNot(anyMatch)
        case _ =>
          val outer = joinType == LeftOuter || joinType == RightOuter
          val nulls = new GenericInternalRow(build.output.size)
          rows.flatMap { p =>
            val m = matches(p)
            val hits = if (m == null) Iterator.empty else m.iterator.filter(passes(p, _))
            if (!outer) hits.map(pair(p, _))
            else if (hits.hasNext) hits.map(pair(p, _))
            else Iterator.single(pair(p, nulls))
          }
      }
    }
    protected def name: String = s"HashJoin $joinType"
  }

  /** What a calling-thread execution returned: its rows, and the version it
    * read of each slot. */
  final case class Result(rows: Seq[Row], read: Seq[(DriverSlot, DriverRows)])
}

/** A driver-resident subtree run on the calling thread (see `DirectPlan`).
  * `executeCollect` and `executeTake` run it on the calling thread over the
  * versions pinned into its plan; `doExecute` runs the same iterators in a
  * one-partition Spark job, so a Spark parent still works and nothing the
  * operators hold is built on the driver. `collectLive` is the facade's
  * entry point: it reads each slot's current version, once, and skips
  * Spark's action wrapper. */
case class DirectPlanExec(output: Seq[Attribute], root: DirectPlan.DirectOp) extends LeafExecNode {
  import DirectPlan._

  @transient private lazy val leaves: Seq[Leaf] = {
    def scans(op: DirectOp): Seq[DirectOp] = if (op.children.isEmpty) Seq(op) else op.children.flatMap(scans)
    scans(root).map { case s: ScanOp => s.index -> s.leaf; case _ => -1 -> null }.sortBy(_._1).map(_._2)
  }
  @transient private lazy val toUnsafe = new Pool(() => UnsafeProjection.create(output, output))
  @transient private lazy val toRow = new Pool(() =>
    ExpressionEncoder(DataTypeUtils.fromAttributes(output)).resolveAndBind().createDeserializer())

  override def outputPartitioning: Partitioning = SinglePartition

  /** The inputs by leaf number, each slot read once, and the versions read. */
  private def bind(live: Boolean): (Array[IndexedSeq[InternalRow]], Seq[(DriverSlot, DriverRows)]) = {
    val read = mutable.LinkedHashMap[DriverSlot, DriverRows]()
    val inputs = leaves.map(l => read.getOrElseUpdate(l.slot, l.rows(live)).rows).toArray
    (inputs, read.toSeq)
  }

  /** `f` over the rows of one execution on this thread. */
  private def run[T](live: Boolean)(f: Iterator[InternalRow] => T): (T, Seq[(DriverSlot, DriverRows)]) = {
    val (inputs, read) = bind(live)
    val r = new Run(inputs)
    val out = f(root.open(r))
    r.done()
    (out, read)
  }

  private def copied(rows: Iterator[InternalRow], n: Int): Array[InternalRow] = {
    val p = toUnsafe.take()
    val out = rows.take(n).map(r => p(r).copy(): InternalRow).toArray
    toUnsafe.give(p)
    if (root.pairs) joinRowsBuilt.add(out.length)
    out
  }

  /** The rows of the current version of every slot, as the facade returns
    * them, and the versions read. */
  def collectLive(): Result = {
    val de = toRow.take()
    val (rows, read) = run(live = true)(_.map(de).toVector)
    toRow.give(de)
    if (root.pairs) joinRowsBuilt.add(rows.size)
    Result(rows, read)
  }

  override def executeCollect(): Array[InternalRow] = run(live = false)(copied(_, Int.MaxValue))._1

  override def executeTake(n: Int): Array[InternalRow] = run(live = false)(copied(_, n))._1

  override protected def doExecute(): RDD[InternalRow] = {
    val (inputs, _) = bind(live = false)
    val (op, out) = (root, output)
    sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      op.open(new Run(inputs)).map(UnsafeProjection.create(out, out))
    }
  }

  override protected def stringArgs: Iterator[Any] = Iterator(output, root)
}

/** Plans driver-resident subtrees to a `DirectPlanExec` (see
  * `DirectPlan.plan`). Injected strategies run before Spark's own, so the
  * root of a query, which the planner wraps in `ReturnAnswer`, is seen
  * before `SpecialLimits` turns a sort and limit into a Spark operator. */
object DirectPlanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = (plan match {
    case ReturnAnswer(child) => DirectPlan.plan(child, root = true)
    case p => DirectPlan.plan(p, root = false)
  }).toList
}

package graft.engine

import java.time.ZoneId

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimestamp, CurrentTimestampLike, Expression, LeafExpression, LocalTimestamp, Now, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

/** Execution-time clock semantics for cached plans.
  *
  * Stock Spark folds `current_timestamp()`/`current_date()` into literals at
  * optimization time (`ComputeCurrentTime`), which is correct per query but
  * stale for a plan cached across queries — the problem the reference solved
  * with its `Direct*` expression family (reference
  * `DirectSessionStateBuilder.scala:134-155`, `DirectCurrentTimestamp.scala:
  * 25-39`). We solve it Spark-natively: an analyzer rule swaps the stock
  * expressions for `Exec*` variants that read a per-execution frozen clock at
  * eval time. The frozen instant travels from the calling driver thread to
  * executor tasks via Spark local properties (thread-scoped on the driver,
  * propagated into every task of jobs submitted from that thread) — unlike
  * the reference's caller-thread ThreadLocal, this survives real distributed
  * execution, so the same cached plan stays both time-correct and
  * concurrency-safe on a cluster.
  */
object GraftExecutionContext {
  val TimeKey = "graft.exec.time.micros"

  /** Driver-side fallback for eval paths with no TaskContext. */
  private[engine] val driverMicros = new ThreadLocal[java.lang.Long]

  /** Freeze the clock for jobs submitted from this thread. */
  def begin(spark: org.apache.spark.sql.SparkSession): Unit = {
    val nowMicros = DateTimeUtils.instantToMicros(java.time.Instant.now())
    spark.sparkContext.setLocalProperty(TimeKey, nowMicros.toString)
    driverMicros.set(nowMicros)
  }

  def end(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(TimeKey, null)
    driverMicros.remove()
  }

  /** The frozen execution clock, or the live clock when executing outside a
    * GraftSession entry point. */
  def currentMicros(): Long = {
    val tc = TaskContext.get()
    if (tc != null) {
      val p = tc.getLocalProperty(TimeKey)
      if (p != null) return p.toLong
    }
    val d = driverMicros.get()
    if (d != null) d.longValue() else DateTimeUtils.instantToMicros(java.time.Instant.now())
  }
}

/** current_timestamp that reads the frozen execution clock at eval time.
  * Deterministic on purpose (like the reference's `DirectCurrentTimestamp`):
  * it is constant within one execution, so predicate pushdown and common
  * subexpression elimination remain valid; non-foldable so ConstantFolding
  * leaves it alone. */
case class ExecCurrentTimestamp() extends LeafExpression with CodegenFallback {
  override def dataType: DataType = TimestampType
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftExecutionContext.currentMicros()
  override def prettyName: String = "exec_current_timestamp"
}

/** current_date against the frozen execution clock, session-timezone aware. */
case class ExecCurrentDate(timeZoneId: Option[String] = None)
    extends LeafExpression with TimeZoneAwareExpression with CodegenFallback {
  override def dataType: DataType = DateType
  override def nullable: Boolean = false
  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    DateTimeUtils.microsToDays(GraftExecutionContext.currentMicros(), zoneId)
  override def prettyName: String = "exec_current_date"
}

/** localtimestamp() against the frozen execution clock (TIMESTAMP_NTZ in the
  * session zone) — ComputeCurrentTime folds the stock LocalTimestamp too. */
case class ExecLocalTimestamp(timeZoneId: Option[String] = None)
    extends LeafExpression with TimeZoneAwareExpression with CodegenFallback {
  override def dataType: DataType = TimestampNTZType
  override def nullable: Boolean = false
  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    DateTimeUtils.localDateTimeToMicros(
      DateTimeUtils.microsToInstant(GraftExecutionContext.currentMicros())
        .atZone(zoneId).toLocalDateTime)
  override def prettyName: String = "exec_localtimestamp"
}

/** Analyzer rule: swap clock expressions for execution-time variants before
  * the optimizer can constant-fold them (`ComputeCurrentTime` matches the
  * stock classes only). */
object ExecTimeRewrite extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case CurrentTimestamp() => ExecCurrentTimestamp()
    case Now() => ExecCurrentTimestamp()
    case cd: CurrentDate => ExecCurrentDate(cd.timeZoneId)
    case lt: LocalTimestamp => ExecLocalTimestamp(lt.timeZoneId)
  }

  /** True when `e` reads a clock: an `Exec*` expression, or a stock one this
    * rule does not rewrite (`current_time()`, or any clock on a session
    * built without GraftExtensions), which the optimizer folds per query.
    * Either way a cached plan holding one must be planned afresh for each
    * execution: AQE re-runs a cached executed plan over its materialized
    * stages, so a clock below an exchange would replay its first value. */
  def hasClockExpr(e: Expression): Boolean = hasFoldedClock(e) || e.exists {
    case _: ExecCurrentTimestamp | _: ExecCurrentDate | _: ExecLocalTimestamp => true
    case _ => false
  }

  /** True when `e` holds a stock clock expression, which the optimizer
    * folds into a literal of the plan. */
  def hasFoldedClock(e: Expression): Boolean = e.exists {
    case _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp | _: CurrentTime => true
    case _ => false
  }
}

/** Session extension wiring — usable both from `GraftSession.builder` and via
  * `spark.sql.extensions=graft.engine.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(_ => ExecTimeRewrite)
    // interval-containment theta joins (BETWEEN joins) plan as banded
    // equi-joins instead of nested loops — exact for any band width,
    // plan-gated in RangeJoinRuleSpec
    e.injectOptimizerRule(_ => graft.plans.BandedIntervalJoinRule)
    // the row_number-over-theta-join AS-OF idiom plans as the one-shuffle
    // union-stream window instead of the pair explosion — AsofRuleSpec
    e.injectOptimizerRule(_ => graft.plans.AsofJoinRule)
    // replaces the excluded ConvertToLocalRelation with the clock-safe
    // variant: Project/Filter/Limit over a LocalRelation fold without
    // freezing Exec* clocks into cached plans
    e.injectOptimizerRule(_ => ClockSafeConvertToLocalRelation)
    // each optimized plan reads one version of every driver-resident table
    e.injectOptimizerRule(_ => PinDriverRows)
    // driver-resident subtrees (joins, aggregates and sorts over
    // DriverRelations and LocalRelations) run on the calling thread, the
    // reference's no-job fast path; the strategy sees the optimized plan,
    // after the two join rewrites above
    e.injectPlannerStrategy(_ => DirectPlanStrategy)
  }
}

package graft.engine

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StructType

/** One published version of a driver-resident table's rows. Neither a `Seq`
  * nor a `Product`, so Catalyst's `expressions`/`mapExpressions` walks,
  * which visit every element of a node's `Seq` arguments, stop here instead
  * of visiting each row once per rule per optimizer iteration. Equal only to
  * itself (a version is told apart by identity), and printed as its row
  * count, so `explain` does not print the rows. */
final class DriverRows(val rows: IndexedSeq[InternalRow]) extends Serializable {
  override def toString: String = s"${rows.length} rows"
}

object DriverRows {

  /** The rows of a `DataTable`, as `UnsafeRow`s. */
  def of(schema: StructType, rows: Seq[Row]): DriverRows = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    new DriverRows(ArraySeq.from(rows.iterator
      .map(r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy(): InternalRow)))
  }
}

/** The version of a driver-resident table that executions read now. A
  * `DataTable` re-registered under its name with the same schema publishes
  * a new version here, so the plans that read the slot stay valid (the
  * reference's `NamedLocalRelation`, which re-reads its view at execution).
  * A driver snapshot's slot never changes. Equal only to itself. */
final class DriverSlot(initial: DriverRows) {
  @volatile private var version = initial

  def current: DriverRows = version

  /** Make `rows` the version later executions read. */
  private[engine] def publish(rows: DriverRows): Unit = version = rows

  override def toString: String = current.toString
}

/** A driver-resident facade table: a driver snapshot of a small file table,
  * or a `DataTable` registered through `GraftSession.registerTable` (the
  * reference's `NamedLocalRelation`, reference `NamedLocalRelation.scala:
  * 25-67`). The leaf names a slot, not rows: the rows are bound when a plan
  * runs. `PinDriverRows` pins the slot's current version into each
  * optimized plan (`pinned`), so every part of one Spark execution reads the
  * same version, whenever AQE plans it. A facade call that runs a
  * `DirectPlanExec` at the root reads the slot itself, once per execution,
  * so a cached plan over it answers with the newest version. No row count
  * is promised to the optimizer (`maxRows` is unset), since the rows can
  * change under a cached plan. */
case class DriverRelation(output: Seq[Attribute], slot: DriverSlot,
    pinned: Option[DriverRows] = None) extends LeafNode with MultiInstanceRelation {

  override def newInstance(): DriverRelation = copy(output = output.map(_.newInstance()))

  override def producedAttributes: AttributeSet = outputSet

  /** The rows a Spark execution of this plan reads. */
  def rows: DriverRows = pinned.getOrElse(slot.current)

  override def computeStats(): Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * rows.rows.length,
    rowCount = Some(rows.rows.length))

  override protected def stringArgs: Iterator[Any] = Iterator(output, rows)
}

/** Pins each `DriverRelation` of an optimized plan to its slot's current
  * version, reading each slot once (subqueries included), so a self-join
  * reads one version and a plan that AQE plans again reads the same rows. */
object PinDriverRows extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val read = mutable.HashMap[DriverSlot, DriverRows]()
    plan.transformUpWithSubqueries {
      case r: DriverRelation if r.pinned.isEmpty =>
        r.copy(pinned = Some(read.getOrElseUpdate(r.slot, r.slot.current)))
    }
  }
}

package graft.engine

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType

/** The rows of a driver-resident table. Neither a `Seq` nor a `Product`, so
  * Catalyst's `expressions`/`mapExpressions` walks, which visit every
  * element of a node's `Seq` arguments, stop here instead of visiting each
  * row once per rule per optimizer iteration. Equal only to itself, and
  * printed as its row count, so `explain` does not print the rows. */
final class DriverRows(val rows: IndexedSeq[InternalRow]) extends Serializable {
  override def toString: String = s"${rows.length} rows"
}

/** A driver-resident facade table: a driver snapshot of a small file table,
  * or a `DataTable` registered through `GraftSession.registerTable` (the
  * reference's `NamedLocalRelation`, reference `NamedLocalRelation.scala:
  * 25-67`). Planned to a `LocalTableScanExec` by `DriverRelationStrategy`;
  * `ClockSafeConvertToLocalRelation` folds plans over it like plans over a
  * `LocalRelation`. */
case class DriverRelation(output: Seq[Attribute], data: DriverRows)
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): DriverRelation = copy(output = output.map(_.newInstance()))

  override def producedAttributes: AttributeSet = outputSet

  override def maxRows: Option[Long] = Some(data.rows.length.toLong)

  override def computeStats(): Statistics = Statistics(
    sizeInBytes = EstimationUtils.getSizePerRow(output) * data.rows.length,
    rowCount = Some(data.rows.length))
}

object DriverRelation {

  /** The rows of a `DataTable`, as `UnsafeRow`s. */
  def fromRows(schema: StructType, rows: Seq[Row]): DriverRelation = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toUnsafe = UnsafeProjection.create(schema)
    val unsafe = rows.iterator
      .map(r => toUnsafe(toCatalyst(r).asInstanceOf[InternalRow]).copy(): InternalRow)
    DriverRelation(DataTypeUtils.toAttributes(schema), new DriverRows(ArraySeq.from(unsafe)))
  }
}

/** Plans a `DriverRelation` like Spark plans a `LocalRelation`. */
object DriverRelationStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: DriverRelation => LocalTableScanExec(r.output, r.data.rows, None) :: Nil
    case _ => Nil
  }
}

/** The output and rows of a relation held on the driver: a `DriverRelation`,
  * or a `LocalRelation` (with its streaming flag). */
object LocalRows {
  def unapply(plan: LogicalPlan): Option[(Seq[Attribute], Seq[InternalRow], Boolean)] = plan match {
    case r: DriverRelation => Some((r.output, r.data.rows, false))
    case l: LocalRelation => Some((l.output, l.data, l.isStreaming))
    case _ => None
  }
}

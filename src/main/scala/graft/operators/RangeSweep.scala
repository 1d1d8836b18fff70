package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, StructType}

/** The scalable form of an ordered sweep — running windows per key over
  * rows in (key, order) order — shared by [[AsofJoin]] and the global
  * [[IntervalSweep.mergeIntervals]]. The one-window form sorts a key's
  * whole stream in one task, so a hot or low-cardinality key (or no key at
  * all) serializes; here one key spans many range partitions:
  *
  *  1. Ranges. Bounds over (keys…, order…) are sampled once, by one job,
  *     and bound as a literal array; `__pid` is a bucket search over it
  *     ([[graft.functions.RangeBucket]]). The id is a pure function of the
  *     row, so every subtree agrees on it however often, and in whatever
  *     layout, the input is recomputed. Equal (key, order) rows share an
  *     id; bounds steer balance only, never rows.
  *  2. Carries. The caller's `stats` aggregate per (`__pid`, key) over the
  *     rows before the exchange (partial aggregation keeps that small), its
  *     `carry` columns run over those stats per key in `__pid` order, and a
  *     left join on (`__pid`, `__k`) hands every row its range's carries.
  *     `__k` packs the keys into one struct, so a null key meets its own
  *     stats and the join keys stay plain columns. No broadcast hint: the
  *     planner or AQE picks broadcast or shuffle from size.
  *  3. One exchange. The rows shuffle once, on (`__pid`, `__k`); the join
  *     and every window over the returned spec reuse that partitioning.
  *
  * The caller's windows over the returned spec see one range of one key
  * and combine their running values with the carries. */
private[graft] object RangeSweep {

  /** Plan-estimated input bytes above which callers take the range form;
    * below it their one-window form is faster. Specs and ScaleProbe set it
    * to 0 to force the range form. */
  private[graft] var maxWindowBytes: Long = 64L << 20

  /** Bounds to use instead of sampled ones (specs: degenerate bounds). */
  private[graft] var fixedBounds: Option[Seq[Row]] = None

  def exceedsWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes > maxWindowBytes

  /** `df` plus `__pid`, `__k` (when keyed) and the carry columns, and the
    * window spec partitioned by (`__pid`, `__k`) for the caller's sweep. */
  def apply(df: DataFrame, keys: Seq[String], order: Seq[String],
      stats: Seq[Column], carry: WindowSpec => Seq[Column]): (DataFrame, WindowSpec) = {
    val o = struct((keys ++ order).map(col): _*)
    val st = df.select(o).schema.head.dataType.asInstanceOf[StructType]
    val bounds = fixedBounds
      .map(_.map(CatalystTypeConverters.createToCatalystConverter(st)(_)
        .asInstanceOf[InternalRow]))
      .getOrElse(sampleBounds(df.select(o), st))
      .sorted(TypeUtils.getInterpretedOrdering(st))
    val pid = graft.functions.RangeBucket(ColumnBridge.expression(o),
      Literal(new GenericArrayData(bounds), ArrayType(st, containsNull = false)))
    val withPid = df.withColumn("__pid", ColumnBridge.column(pid))
    val (rows, byKey) = if (keys.isEmpty) (withPid, Nil)
      else (withPid.withColumn("__k", struct(keys.map(col): _*)), Seq("__k"))
    val part = ("__pid" +: byKey).map(col)
    val carried = rows.groupBy(part: _*).agg(stats.head, stats.tail: _*)
      .select(part ++ carry(Window.partitionBy(byKey.map(col): _*)
        .orderBy(col("__pid"))): _*)
    (rows.repartition(part: _*).join(carried, "__pid" +: byKey, "left"),
      Window.partitionBy(part: _*))
  }

  /** `n - 1` bounds for `spark.sql.shuffle.partitions` = n, in one job:
    * each input partition keeps a reservoir of up to 60·n/partitions rows
    * (RangePartitioner's sketch), each weighted by the rows it stands for,
    * and the bounds sit at equal steps of cumulative weight. */
  private def sampleBounds(o: DataFrame, st: StructType): Seq[InternalRow] = {
    val n = o.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val rdd = o.queryExecution.toRdd
    val per = math.max(1, 60 * n / math.max(1, rdd.getNumPartitions))
    val width = st.length
    val sketch = rdd.mapPartitionsWithIndex { (i, it) =>
      val rnd = new java.util.Random(i)
      val res = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var seen = 0L
      it.foreach { r =>
        seen += 1
        val j = if (res.size < per) res.size.toLong else (rnd.nextDouble() * seen).toLong
        if (j < per) {
          val c = r.getStruct(0, width).copy()
          if (j == res.size) res += c else res(j.toInt) = c
        }
      }
      res.iterator.map(_ -> seen.toDouble / res.size)
    }.collect().sortBy(_._1: Any)(TypeUtils.getInterpretedOrdering(st))
    val cum = sketch.scanLeft(0.0)(_ + _._2).tail
    if (sketch.isEmpty) Nil
    else (1 until n).map { j =>
      val i = cum.indexWhere(_ >= cum.last * j / n)
      sketch(if (i < 0) sketch.length - 1 else i)._1
    }
  }
}

package graft

import graft.operators.{AsofJoin, IntervalSweep, RangeSweep}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Range bounds steer balance only: with the range form forced and its
  * bounds replaced by degenerate ones — none (one range), all equal, all
  * below or all above the data, or equal to a tie group's (key, time) — the
  * as-of join (every direction) and the global merge return exactly the
  * rows of their one-window forms. */
class RangeSweepSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._
  import RangeSweepSpec._

  private def degenerate(tie: Seq[Row]): Seq[(String, Seq[Row])] = Seq(
    "none" -> Nil,
    "all equal" -> Seq.fill(7)(tie.head),
    "all below" -> Seq.fill(7)(Row(null, null)),
    "all above" -> Seq.fill(7)(Row(Long.MaxValue, Long.MaxValue)),
    "inside a tie group" -> tie)

  test("degenerate bounds: range asof == window asof in every direction") {
    // a tie group at (1, 20): three probes and two identical quotes; null
    // keys and a null probe time on both sides
    val p = Seq[(Option[Long], Option[Long], Long)](
      (Some(1L), Some(5L), 100L), (Some(1L), Some(20L), 101L),
      (Some(1L), Some(20L), 102L), (Some(1L), Some(20L), 103L),
      (Some(1L), Some(27L), 104L), (Some(1L), None, 105L),
      (Some(2L), Some(3L), 200L), (Some(2L), Some(60L), 201L),
      (None, Some(20L), 300L)).toDF("k", "pt", "pid")
    val q = Seq[(Option[Long], Long, Double)](
      (Some(1L), 10L, 1.0), (Some(1L), 20L, 2.0), (Some(1L), 20L, 2.0),
      (Some(1L), 30L, 3.0), (Some(2L), 50L, 5.0), (None, 20L, 9.0))
      .toDF("k", "qt", "px")
    val tie = Seq(Row(1L, 10L), Row(1L, 20L), Row(1L, 20L), Row(2L, 5L))
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(6L))) {
      def run(): Seq[String] = AsofJoin.asof(p, q, Seq("k"), "pt", "qt", dir, tol)
        .collect().map(_.toString).sorted.toSeq
      val window = run()
      for ((name, bounds) <- degenerate(tie)) {
        val got = withBounds(bounds)(ranged(run()))
        assert(got == window && got.size == 9,
          s"$dir tol=$tol, bounds $name: extra=${got.diff(window)} " +
            s"missing=${window.diff(got)}")
      }
    }
  }

  test("degenerate bounds: range global merge == window merge") {
    // chains of three with gaps, a giant interval swallowing many islands,
    // and a tie group of identical intervals at (50, 62)
    val raw = spark.range(60).select(
      ($"id" * 10 + $"id" % 3).as("lo"), ($"id" * 10 + $"id" % 3 + 12).as("hi"))
      .union(Seq((100L, 400L), (50L, 62L), (50L, 62L), (700L, 690L)).toDF("lo", "hi"))
    def run(): Seq[String] = IntervalSweep.mergeIntervals(raw, Nil, "lo", "hi")
      .collect().map(_.toString).sorted.toSeq
    val window = run()
    val tie = Seq(Row(50L, 62L), Row(50L, 62L), Row(300L, 312L))
    for ((name, bounds) <- degenerate(tie)) {
      val got = withBounds(bounds)(ranged(run()))
      assert(got == window && got.nonEmpty,
        s"bounds $name: extra=${got.diff(window)} missing=${window.diff(got)}")
    }
  }
}

object RangeSweepSpec {
  /** Runs `body` with the range form forced (routing is decided when the
    * operator builds its DataFrame). */
  def ranged[T](body: => T): T = {
    val saved = RangeSweep.maxWindowBytes
    RangeSweep.maxWindowBytes = 0
    try body finally RangeSweep.maxWindowBytes = saved
  }

  def withBounds[T](bounds: Seq[Row])(body: => T): T = {
    RangeSweep.fixedBounds = Some(bounds)
    try body finally RangeSweep.fixedBounds = None
  }

  /** The range form's executed plan (AQE off): no checkpoint scan, exactly
    * one exchange without an aggregate below it (the data exchange; every
    * other exchange carries aggregated stats), and data windows keyed by
    * (`__pid`, `__k`), or by `__pid` alone for an unkeyed sweep. */
  def assertSweepPlan(plan: SparkPlan, keyed: Boolean): Unit = {
    assert(plan.collect { case r: RDDScanExec => r }.isEmpty &&
      !plan.toString.contains("ExistingRDD"), s"checkpoint scan in:\n$plan")
    val (stats, data) = plan.collect { case e: ShuffleExchangeExec => e }
      .partition(_.find(_.isInstanceOf[BaseAggregateExec]).nonEmpty)
    assert(data.size == 1 && stats.nonEmpty,
      s"expected one data exchange and stats exchanges, got ${data.size} / ${stats.size}:\n$plan")
    val want = "__pid" +: (if (keyed) Seq("__k") else Nil)
    val dataWins = plan.collect { case w: WindowExec
      if w.partitionSpec.flatMap(_.references.map(_.name)).contains("__pid") => w }
    assert(dataWins.nonEmpty && dataWins.forall(
        _.partitionSpec.flatMap(_.references.map(_.name)) == want),
      s"expected windows keyed by ${want.mkString(", ")}:\n$plan")
  }
}

package graft

import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AsofJoin vs brute force: for each direction the matched quote must be
  * the one the naive per-probe argmin picks (backward: max qt <= pt;
  * forward: min qt >= pt; nearest: min |qt − pt|, tie to backward), with
  * LEFT semantics (every probe survives), tolerance nulling, and null
  * times matching nothing. */
class AsofJoinSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  // probes: equal-instant probe (t=20 with a quote at 20 — inclusive both
  // directions), before-all (t=-50), after-all (t=99), exact mid-tie
  // (t=25 between quotes 20 and 30 — nearest must take backward), null t.
  // Null keys follow DuckDB's ASOF: the null-key quotes never match, the
  // null-key probes (one at a null-key quote's instant) survive unmatched.
  private val probes = Seq(
    (1L, Some(-50L), 100L), (1L, Some(5L), 101L),
    (1L, Some(20L), 102L), (1L, Some(25L), 103L),
    (1L, Some(99L), 104L), (1L, (None: Option[Long]), 105L),
    (2L, Some(7L), 200L))
    .toDF("k", "pt", "pid")
    .union(Seq[(Option[Long], Option[Long], Long)](
      (None, Some(20L), 300L), (None, Some(33L), 301L)).toDF("k", "pt", "pid"))
  private val quotes = Seq(
    (1L, 0L, 10.0), (1L, 20L, 20.0), (1L, 30L, 30.0), (2L, 50L, 50.0))
    .toDF("k", "qt", "px")
    .union(Seq[(Option[Long], Long, Double)](
      (None, 20L, 90.0), (None, 30L, 91.0)).toDF("k", "qt", "px"))

  private def naive(direction: String, tol: Option[Long]): Seq[String] = {
    val cand = probes.join(quotes, Seq("k"), "left")
    val dirOk = direction match {
      case "backward" => col("qt") <= col("pt")
      case "forward" => col("qt") >= col("pt")
      case "nearest" => lit(true)
    }
    val tolOk = tol.map(t => abs(col("qt") - col("pt")) <= t).getOrElse(lit(true))
    val ranked = cand
      .withColumn("__ok", col("pt").isNotNull && col("qt").isNotNull && dirOk && tolOk)
      .withColumn("__d", when(col("__ok"),
        struct(abs(col("qt") - col("pt")).as("a"), col("qt").as("q"))))
      .withColumn("__rn", row_number().over(Window.partitionBy(col("pid"))
        .orderBy(col("__d").asc_nulls_last, col("qt").asc_nulls_last)))
      .filter(col("__rn") === 1)
    ranked.select(col("k"), col("pt"), col("pid"),
        when(col("__ok"), col("qt")).as("qt"),
        when(col("__ok"), col("px")).as("px"))
      .collect().map(_.toString).sorted.toSeq
  }

  for (dir <- Seq("backward", "forward", "nearest");
       tol <- Seq(None, Some(6L)))
    test(s"asof $dir tolerance=$tol == naive argmin") {
      val got = AsofJoin.asof(probes, quotes, Seq("k"), "pt", "qt", dir, tol)
        .select(col("k"), col("pt"), col("pid"), col("qt"), col("px"))
        .collect().map(_.toString).sorted.toSeq
      val want = naive(dir, tol)
      assert(got == want && got.nonEmpty,
        s"extra=${got.diff(want)} missing=${want.diff(got)}")
    }

  // r15 (VERDICT r14 item 1): native TIMESTAMP time keys — same matches as
  // the manual epoch-µs conversion, tolerance in µs, no pre-conversion.
  test("asof on native TIMESTAMP keys == manual epoch-µs conversion (all directions)") {
    val pTs = probes.select(col("k"),
      timestamp_micros(col("pt") * 1000000L).as("pt"), col("pid"))
    val qTs = quotes.select(col("k"),
      timestamp_micros(col("qt") * 1000000L).as("qt"), col("px"))
    val pUs = probes.select(col("k"), (col("pt") * 1000000L).as("pt"), col("pid"))
    val qUs = quotes.select(col("k"), (col("qt") * 1000000L).as("qt"), col("px"))
    for (dir <- Seq("backward", "forward", "nearest");
         tol <- Seq(None, Some(6000000L))) {
      val got = AsofJoin.asof(pTs, qTs, Seq("k"), "pt", "qt", dir, tol)
        .select(col("k"), unix_micros(col("pt")).as("pt"), col("pid"),
          unix_micros(col("qt")).as("qt"), col("px"))
        .collect().map(_.toString).sorted.toSeq
      val want = AsofJoin.asof(pUs, qUs, Seq("k"), "pt", "qt", dir, tol)
        .select(col("k"), col("pt"), col("pid"), col("qt"), col("px"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == want && got.nonEmpty,
        s"$dir tol=$tol: extra=${got.diff(want)} missing=${want.diff(got)}")
    }
  }

  // r15 (VERDICT r14 item 7): with a tieBreak column the survivor among
  // quotes sharing (key, time) is the max tie-break — identical output
  // across arbitrary repartitionings (no run-to-run arbitrariness).
  test("tieBreak pins the survivor among same-(key,time) quotes across repartitionings") {
    val dupQuotes = Seq(
      (1L, 10L, 1.0, "a"), (1L, 10L, 2.0, "b"), (1L, 10L, 3.0, "c"),
      (1L, 40L, 4.0, "x"), (1L, 40L, 5.0, "y"), (2L, 7L, 6.0, "m"),
      (2L, 7L, 7.0, "n")).toDF("k", "qt", "px", "tag")
    val p = Seq((1L, 15L, 100L), (1L, 39L, 101L), (1L, 41L, 102L),
      (2L, 7L, 200L)).toDF("k", "pt", "pid")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val runs = Seq(dupQuotes, dupQuotes.repartition(7),
        dupQuotes.repartition(3, col("qt")), dupQuotes.orderBy(col("px").desc))
        .map { q =>
          AsofJoin.asof(p, q, Seq("k"), "pt", "qt", dir,
            tolerance = None, tieBreak = Some("tag"))
            .select(col("pid"), col("qt"), col("px"), col("tag"))
            .collect().map(_.toString).sorted.toSeq
        }
      assert(runs.distinct.size == 1,
        s"$dir: tie-broken output varies across repartitionings: $runs")
      // and the survivor is the MAX tag in both directions: probe 100's
      // backward match at t=10 must be tag c, probe 200's exact-instant
      // match at t=7 must be tag n
      val byPid = runs.head.mkString(" ")
      if (dir != "forward") assert(byPid.contains("[100,10,3.0,c]"), byPid)
      assert(byPid.contains("[200,7,7.0,n]"), byPid)
    }
  }

  // r16: tieBreak-free nearest shares one ordering across both frames, so
  // the plan must carry ONE WindowExec over ONE sort (it was two of each);
  // with a tieBreak the reversed forward tie order still needs two.
  test("nearest without tieBreak is a single window pass (one sort)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.SortExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = AsofJoin.asof(probes, quotes, Seq("k"), "pt", "qt", "nearest", None)
        .queryExecution.executedPlan
      val wins = plan.collect { case w: WindowExec => w }
      val sorts = plan.collect { case s: SortExec => s }
      assert(wins.size == 1, s"expected 1 WindowExec, got ${wins.size}")
      assert(sorts.size == 1, s"expected 1 SortExec, got ${sorts.size}")
      val tied = AsofJoin.asof(probes,
          quotes.withColumn("tag", col("px")), Seq("k"), "pt", "qt",
          "nearest", None, tieBreak = Some("tag"))
        .queryExecution.executedPlan.collect { case w: WindowExec => w }
      assert(tied.size == 2, s"tieBreak nearest must keep both orders: ${tied.size}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // The hot-key-safe range form must be row-identical to the keyed window
  // form: the same naive-argmin battery, with the range form forced.
  for (dir <- Seq("backward", "forward", "nearest");
       tol <- Seq(None, Some(6L)))
    test(s"scalable (range) asof $dir tolerance=$tol == naive argmin") {
      val got = RangeSweepSpec.ranged(
        AsofJoin.asof(probes, quotes, Seq("k"), "pt", "qt", dir, tol))
        .select(col("k"), col("pt"), col("pid"), col("qt"), col("px"))
        .collect().map(_.toString).sorted.toSeq
      val want = naive(dir, tol)
      assert(got == want && got.nonEmpty,
        s"extra=${got.diff(want)} missing=${want.diff(got)}")
    }

  test("scalable asof: hot key spanning many range partitions == window form") {
    // one hot key owns 600 of 755 rows — the 100 TB skew shape the range
    // form exists for; quote times unique per key so the survivor is
    // deterministic and the two forms must agree exactly. Null-key probes
    // and quotes ride along: the probes survive unmatched in both forms.
    val rnd = new scala.util.Random(17)
    val hotP = (1 to 400).map(i => (1L, Some(rnd.nextInt(2000).toLong), 1000L + i))
    val hotQ = rnd.shuffle((0 until 2200 by 11).toList).take(200)
      .map(t => (1L, t.toLong, t * 1.5))
    val coldP = (1 to 140).map(i =>
      (2L + i % 20, Some(rnd.nextInt(500).toLong), 5000L + i))
    val coldQ = (0 until 20).flatMap(k => Seq((2L + k, 100L, k * 1.0),
      (2L + k, 400L, k * 2.0)))
    val nullP = (1 to 10).map(i =>
      (None: Option[Long], Some(rnd.nextInt(2000).toLong), 9000L + i))
    val nullQ = (1 to 5).map(i => (None: Option[Long], i * 400L, i * 0.5))
    val p = (hotP ++ coldP).toDF("k", "pt", "pid")
      .union(nullP.toDF("k", "pt", "pid"))
    val q = (hotQ ++ coldQ).toDF("k", "qt", "px")
      .union(nullQ.toDF("k", "qt", "px"))
    for (dir <- Seq("backward", "forward", "nearest"); tol <- Seq(None, Some(25L))) {
      def run(): Seq[String] = AsofJoin.asof(p, q, Seq("k"), "pt", "qt", dir, tol)
        .select(col("pid"), col("qt"), col("px"))
        .collect().map(_.toString).sorted.toSeq
      val range = RangeSweepSpec.ranged(run())
      val window = run()
      assert(range == window && range.size == 550,
        s"$dir tol=$tol: extra=${range.diff(window)} missing=${window.diff(range)}")
      assert(window.count(_.endsWith(",null,null]")) >= 10)
    }
  }

  // The range form runs without a checkpoint and shuffles its rows once:
  // the stats and carries are aggregated before any exchange, and the
  // (__pid, key)-keyed windows reuse the data exchange whether the carry
  // join is broadcast or shuffled.
  test("scalable asof plan: one data exchange, no checkpoint, windows keyed (partition, key)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (dir <- Seq("backward", "forward", "nearest")) {
        def run(): (Seq[String], org.apache.spark.sql.execution.SparkPlan) = {
          val df = AsofJoin.asof(probes, quotes, Seq("k"), "pt", "qt", dir, None)
          (df.collect().map(_.toString).sorted.toSeq, df.queryExecution.executedPlan)
        }
        val (window, _) = run()
        val (range, plan) = RangeSweepSpec.ranged(run())
        RangeSweepSpec.assertSweepPlan(plan, keyed = true)
        assert(range == window, s"$dir: extra=${range.diff(window)} missing=${window.diff(range)}")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try {
          val (shuffled, sPlan) = RangeSweepSpec.ranged(run())
          RangeSweepSpec.assertSweepPlan(sPlan, keyed = true)
          assert(shuffled == window,
            s"$dir, no broadcast: extra=${shuffled.diff(window)} missing=${window.diff(shuffled)}")
        } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("asof is one shuffle for backward/forward (window exchange only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (dir <- Seq("backward", "forward")) {
        val ex = AsofJoin.asof(probes, quotes, Seq("k"), "pt", "qt", dir, None)
          .queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        assert(ex.size == 1, s"$dir: expected 1 exchange, got ${ex.size}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

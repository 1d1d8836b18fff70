package graft

import graft.operators.IntervalSweep
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IntervalSweep vs brute force: max concurrency must equal the naive
  * "count intervals containing each boundary instant" self-join, and the
  * island union must cover exactly the same integer points as the inputs —
  * including touching endpoints, nested/identical/empty intervals, negative
  * coordinates and single-point intervals. */
class IntervalSweepSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  // (key, lo, hi): overlapping chains, a same-instant close+open (hi = 10,
  // next lo = 10 — concurrency 2 at t=10), adjacent-not-overlapping
  // ([1,5] + [6,9] — islands merge, concurrency stays 1), nested, identical
  // duplicates, single-point, empty (hi < lo, dropped), negatives.
  private val iv = Seq(
    ("a", 0L, 10L), ("a", 10L, 20L), ("a", 5L, 7L), ("a", 5L, 7L),
    ("a", 40L, 45L), ("a", 46L, 50L), ("a", 60L, 59L),
    ("b", -10L, -1L), ("b", 0L, 0L), ("b", 2L, 3L),
    ("c", 100L, 200L), ("c", 150L, 160L), ("c", 150L, 160L), ("c", 190L, 210L))
    .toDF("k", "lo", "hi")

  test("maxConcurrent == naive count-at-boundaries self-join") {
    val got = IntervalSweep.maxConcurrent(iv, Seq("k"), "lo", "hi")
      .orderBy(col("k")).collect().map(r => (r.getString(0), r.getLong(1)))
    // concurrency is piecewise-constant between boundaries and only rises
    // at an interval's lo, so max over {lo points} is the global max
    val live = iv.filter(col("hi") >= col("lo"))
    val naive = live.select(col("k"), col("lo")).distinct()
      .join(live.select(col("k").as("k2"), col("lo").as("l2"), col("hi").as("h2")),
        col("k") === col("k2") && col("l2") <= col("lo") && col("lo") <= col("h2"))
      .groupBy(col("k"), col("lo")).agg(count(lit(1)).as("c"))
      .groupBy(col("k")).agg(max(col("c")).as("m"))
      .orderBy(col("k")).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == naive.toSeq)
    assert(got.toMap == Map("a" -> 3L, "b" -> 1L, "c" -> 3L))
  }

  test("occupancyByBucket == brute-force per-bucket active counts, at 3 widths") {
    val live = iv.filter(col("hi") >= col("lo")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    for (w <- Seq(3L, 7L, 64L)) {
      val got = IntervalSweep.occupancyByBucket(iv, Seq("k"), "lo", "hi", w)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      // reference: an interval is active in bucket B iff it overlaps
      // [B*w, (B+1)*w) — enumerate each interval's covered buckets
      def bkt(x: Long) = Math.floorDiv(x, w)
      val naive = live.flatMap { case (k, lo, hi) =>
        (bkt(lo) to bkt(hi)).map(b => (k, b * w)) }
        .groupBy(identity).map { case ((k, b), xs) => (k, b, xs.length.toLong) }
        .toSeq.sorted
      assert(got == naive, s"width $w: ${got.diff(naive).take(3)} / ${naive.diff(got).take(3)}")
    }
  }

  test("occupancyByBucket on native TIMESTAMP bounds == manual epoch-µs path; bucket_lo in caller's type") {
    val ts = iv.select(col("k"),
      expr("timestamp_micros(lo * 1000000)").as("lo"),
      expr("timestamp_micros(hi * 1000000)").as("hi"))
    val w = 7L * 1000000L
    val native = IntervalSweep.occupancyByBucket(ts, Seq("k"), "lo", "hi", w)
    assert(native.schema("bucket_lo").dataType ==
      org.apache.spark.sql.types.TimestampType, "bucket_lo not in caller's type")
    val got = native
      .select(col("k"), unix_micros(col("bucket_lo")).as("b"), col("n_active"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val manual = IntervalSweep.occupancyByBucket(
      iv.select(col("k"), (col("lo") * 1000000L).as("lo"), (col("hi") * 1000000L).as("hi")),
      Seq("k"), "lo", "hi", w)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == manual)
  }

  test("mergeIntervals covers exactly the input's integer points; island counts exact") {
    val islands = IntervalSweep.mergeIntervals(iv, Seq("k"), "lo", "hi")
    // islands are disjoint, non-adjacent, and their union of points equals
    // the union of the inputs' points (explode both sides and compare)
    val islandPts = islands
      .select(col("k"), explode(sequence(col("island_lo"), col("island_hi"))).as("p"))
      .distinct().orderBy(col("k"), col("p"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val inputPts = iv.filter(col("hi") >= col("lo"))
      .select(col("k"), explode(sequence(col("lo"), col("hi"))).as("p"))
      .distinct().orderBy(col("k"), col("p"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(islandPts == inputPts)
    // adjacency merged: no two islands of one key touch (gap >= 2)
    val perKey = islands.collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    for ((_, is) <- perKey if is.size > 1; w <- is.sliding(2) if w.size == 2)
      assert(w(1)._2 > w(0)._3 + 1, s"adjacent islands not merged: $w")
    // n_intervals sums to the live input count
    assert(islands.agg(sum(col("n_intervals"))).collect()(0).getLong(0) ==
      iv.filter(col("hi") >= col("lo")).count())
    // a: [0,20]+[5,7]dup merge; [40,45]+[46,50] adjacent-merge; empty dropped
    assert(perKey("a").map(t => (t._2, t._3, t._4)).toSeq ==
      Seq((0L, 20L, 4L), (40L, 50L, 2L)))
  }

  test("subtractIntervals: fragment points == left points minus island points, at 3 widths") {
    // left intervals vs a DISJOINT island set (mergeIntervals output
    // contract): fully-covered (zero fragments), untouched, edge-covered
    // lo/hi, island strictly inside (splits in two), several islands in
    // one interval, touching endpoints, negatives, empty left (dropped)
    val left = Seq((0L, 10L, 1L), (20L, 22L, 2L), (-15L, -5L, 3L),
      (30L, 60L, 4L), (41L, 43L, 5L), (70L, 69L, 6L), (100L, 130L, 7L))
      .toDF("s_lo", "s_hi", "sid")
    val islands = Seq((-20L, -10L), (2L, 4L), (7L, 8L), (19L, 23L),
      (40L, 45L), (55L, 75L), (110L, 112L), (120L, 121L))
      .toDF("i_lo", "i_hi")
    for (w <- Seq(1L, 8L, 1024L)) {
      val frags = IntervalSweep.subtractIntervals(
        left, islands, "sid", "s_lo", "s_hi", "i_lo", "i_hi", w)
      // multiplicity/attribution: fragments regroup under their sid and
      // tile exactly the allowed points of THAT interval
      val got = frags
        .select(col("sid"), explode(sequence(col("frag_lo"), col("frag_hi"))).as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val leftPts = left.filter(col("s_hi") >= col("s_lo"))
        .select(col("sid"), explode(sequence(col("s_lo"), col("s_hi"))).as("p"))
      val islandPts = islands
        .select(explode(sequence(col("i_lo"), col("i_hi"))).as("p"))
      val want = leftPts.join(islandPts, Seq("p"), "left_anti")
        .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.toSeq
      assert(got == want && got.nonEmpty,
        s"w=$w: extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
      // no duplicate points means fragments are disjoint; also assert the
      // walk emits them as maximal runs (no two fragments of one sid touch)
      val byId = frags.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      for ((_, fs) <- byId if fs.size > 1; p <- fs.sliding(2) if p.size == 2)
        assert(p(1)._2 > p(0)._3 + 1, s"fragments not maximal: $p")
    }
  }

  // r15 (VERDICT r14 item 1): native TIMESTAMP bounds take the exact same
  // path as the manual unix_timestamp pre-conversion, and outputs come back
  // as timestamps.
  test("native TIMESTAMP bounds == manual epoch-µs conversion (all three sweeps)") {
    val tsIv = iv.select(col("k"),
      timestamp_micros(col("lo") * 1000000L).as("lo"),
      timestamp_micros(col("hi") * 1000000L).as("hi"))
    val manual = iv.select(col("k"),
      (col("lo") * 1000000L).as("lo"), (col("hi") * 1000000L).as("hi"))
    // maxConcurrent: adjacency is +1 µs on the native path and +1 unit on
    // the manual path — identical since both scales are µs here
    val gotC = IntervalSweep.maxConcurrent(tsIv, Seq("k"), "lo", "hi")
      .orderBy(col("k")).collect().map(_.toString).toSeq
    val wantC = IntervalSweep.maxConcurrent(manual, Seq("k"), "lo", "hi")
      .orderBy(col("k")).collect().map(_.toString).toSeq
    assert(gotC == wantC && gotC.nonEmpty)
    // mergeIntervals: native outputs are timestamps; compare via unix µs
    val gotM = IntervalSweep.mergeIntervals(tsIv, Seq("k"), "lo", "hi")
      .select(col("k"), unix_micros(col("island_lo")).as("l"),
        unix_micros(col("island_hi")).as("h"), col("n_intervals"))
      .collect().map(_.toString).sorted.toSeq
    val wantM = IntervalSweep.mergeIntervals(manual, Seq("k"), "lo", "hi")
      .collect().map(_.toString).sorted.toSeq
    assert(gotM == wantM && gotM.nonEmpty)
    // subtractIntervals on timestamps: clip [0s,10s] etc. against µs islands
    val left = Seq((0L, 10L, 1L), (20L, 22L, 2L), (30L, 60L, 4L))
      .toDF("s_lo", "s_hi", "sid")
      .select(timestamp_micros(col("s_lo") * 1000000L).as("s_lo"),
        timestamp_micros(col("s_hi") * 1000000L).as("s_hi"), col("sid"))
    val islands = Seq((2L, 4L), (19L, 23L), (40L, 45L)).toDF("i_lo", "i_hi")
      .select(timestamp_micros(col("i_lo") * 1000000L).as("i_lo"),
        timestamp_micros(col("i_hi") * 1000000L).as("i_hi"))
    val frags = IntervalSweep.subtractIntervals(
      left, islands, "sid", "s_lo", "s_hi", "i_lo", "i_hi", 8000000L)
      .select(col("sid"), unix_micros(col("frag_lo")) / 1000000L,
        unix_micros(col("frag_hi")) / 1000000L)
      .collect().map(_.toString).sorted.toSeq
    // µs-granular clipping: the island [2s,4s] is closed, so the allowed
    // fragments end 1 µs outside it on each side
    val want = Seq("[1,0.0,1.999999]", "[1,4.000001,10.0]",
      "[4,30.0,39.999999]", "[4,45.000001,60.0]")
    assert(frags == want, s"got $frags")
  }

  // r15 (VERDICT r14 item 3): per-key subtraction — each left row clips
  // against ITS key's islands only; keys absent from the island set pass
  // through whole.
  test("per-key subtractIntervals == per-key naive point-set difference") {
    val left = Seq(("u1", 0L, 10L, 1L), ("u2", 0L, 10L, 2L),
      ("u1", 20L, 30L, 3L), ("u3", 5L, 8L, 4L), ("u2", 50L, 40L, 5L))
      .toDF("u", "s_lo", "s_hi", "sid")
    val islands = Seq(("u1", 2L, 4L), ("u2", 0L, 10L), ("u1", 25L, 27L),
      ("u4", 0L, 100L)).toDF("iu", "i_lo", "i_hi")
    for (w <- Seq(1L, 8L, 1024L)) {
      val frags = IntervalSweep.subtractIntervals(left, islands, "sid",
        Seq("u"), Seq("iu"), "s_lo", "s_hi", "i_lo", "i_hi", w)
      val got = frags
        .select(col("sid"), explode(sequence(col("frag_lo"), col("frag_hi"))).as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val leftPts = left.filter(col("s_hi") >= col("s_lo"))
        .select(col("u"), col("sid"),
          explode(sequence(col("s_lo"), col("s_hi"))).as("p"))
      val islandPts = islands
        .select(col("iu"), explode(sequence(col("i_lo"), col("i_hi"))).as("p"))
      val want = leftPts.join(islandPts,
          col("u") === col("iu") && leftPts("p") === islandPts("p"), "left_anti")
        .select(col("sid"), col("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(got == want && got.nonEmpty,
        s"w=$w: extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
      // u2's [0,10] is fully covered by its own islands -> zero fragments;
      // u3 has no island group -> passes through whole
      assert(!got.exists(_._1 == 2L) && got.count(_._1 == 4L) == 4)
    }
  }

  // r15 (VERDICT r14 item 2): the scale-safe global merge (range-partition
  // + carry-in fix-up) is row-identical to the one-window form, including
  // when one giant interval spans every range partition.
  test("scalable global merge == window form; no full-data single-partition window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // 500 intervals in chains of 3 with gaps (the island structure), plus
    // one giant interval covering rows 100..399's region — its island must
    // CARRY across range partitions, swallowing interior islands
    val raw = spark.range(500).select(
      (col("id") * 10 + col("id") % 3).as("lo"),
      (col("id") * 10 + col("id") % 3 + 12).as("hi"))
      .unionAll(Seq((1000L, 4000L)).toDF("lo", "hi"))
    val windowed = IntervalSweep.mergeIntervals(raw, Nil, "lo", "hi")
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.adaptive.enabled", "false") // traversable plan
    try {
      val scal = RangeSweepSpec.ranged(IntervalSweep.mergeIntervals(raw, Nil, "lo", "hi"))
      val got = scal.collect().map(_.toString).sorted.toSeq
      assert(got == windowed && got.nonEmpty,
        s"extra=${got.diff(windowed).take(5)} missing=${windowed.diff(got).take(5)}")
      // any single-partition window in the final plan orders only N-row
      // per-partition STATS (an aggregate sits below it), never the data
      val plan = scal.queryExecution.executedPlan
      val globalWindows = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(globalWindows.nonEmpty, "expected N-row stats windows")
      globalWindows.foreach { w =>
        assert(w.collectFirst { case a: BaseAggregateExec => a }.nonEmpty,
          s"single-partition window runs over raw data:\n$w")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // The range form runs without a checkpoint and shuffles its rows once:
  // both carries are aggregated per range, and the __pid-keyed windows and
  // joins reuse the data exchange whether the joins broadcast or shuffle.
  test("scalable global merge plan: one data exchange, no checkpoint, windows keyed by partition") {
    val raw = spark.range(300).select(
      (col("id") * 10 + col("id") % 3).as("lo"),
      (col("id") * 10 + col("id") % 3 + 12).as("hi"))
      .unionAll(Seq((500L, 2000L)).toDF("lo", "hi"))
    def run(): (Seq[String], org.apache.spark.sql.execution.SparkPlan) = {
      val df = IntervalSweep.mergeIntervals(raw, Nil, "lo", "hi")
      (df.collect().map(_.toString).sorted.toSeq, df.queryExecution.executedPlan)
    }
    val (window, _) = run()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (range, plan) = RangeSweepSpec.ranged(run())
      RangeSweepSpec.assertSweepPlan(plan, keyed = false)
      assert(range == window, s"extra=${range.diff(window)} missing=${window.diff(range)}")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val (shuffled, sPlan) = RangeSweepSpec.ranged(run())
        RangeSweepSpec.assertSweepPlan(sPlan, keyed = false)
        assert(shuffled == window,
          s"no broadcast: extra=${shuffled.diff(window)} missing=${window.diff(shuffled)}")
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // r16 (VERDICT r15 item 2 / ADVICE): the scalable merge's rows feed
  // three subtrees (the carry stats, the swept data, the island offsets).
  // With exchange reuse DISABLED and a rand-salted repartition upstream
  // (each recompute free to lay rows out differently), the islands must
  // still equal the one-window form's: the range id is a function of the
  // row alone, so every subtree agrees on it without a barrier.
  test("scalable global merge is stable under a non-deterministic upstream (barrier)") {
    val raw = spark.range(400).select(
      (col("id") * 10 + col("id") % 3).as("lo"),
      (col("id") * 10 + col("id") % 3 + 12).as("hi"))
      .unionAll(Seq((800L, 3000L)).toDF("lo", "hi"))
    val expected = IntervalSweep.mergeIntervals(raw, Nil, "lo", "hi")
      .collect().map(_.toString).sorted.toSeq
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try {
      for (round <- 1 to 3) {
        val salted = raw.repartition(7, rand(seed = round))
        val got = RangeSweepSpec.ranged(IntervalSweep.mergeIntervals(salted, Nil, "lo", "hi"))
          .collect().map(_.toString).sorted.toSeq
        assert(got == expected,
          s"round $round: extra=${got.diff(expected).take(5)} " +
            s"missing=${expected.diff(got).take(5)}")
      }
    } finally spark.conf.unset("spark.sql.exchange.reuse")
  }

  test("both sweeps are ONE shuffle: the window exchange's hash(keys) satisfies every later grouping") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for ((name, df) <- Seq(
          "maxConcurrent" -> IntervalSweep.maxConcurrent(iv, Seq("k"), "lo", "hi"),
          "mergeIntervals" -> IntervalSweep.mergeIntervals(iv, Seq("k"), "lo", "hi"))) {
        val ex = df.queryExecution.executedPlan
          .collect { case e: ShuffleExchangeExec => e }
        assert(ex.size == 1, s"$name: expected 1 exchange, got ${ex.size}:\n" +
          df.queryExecution.executedPlan)
      }
      // the q123 composition (merge -> lead window -> gap agg) rides the
      // SAME key exchange end to end: one hash exchange total (the
      // contract query's trailing orderBy adds only a range exchange)
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val gaps = SparkEntry.queries("q123")(spark, "/root/testdata/sf0.001")
      val hashEx = gaps.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashEx.size == 1, s"q123: expected 1 hash exchange, got " +
        s"${hashEx.size}:\n${gaps.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // r16: the no-explode stats variant must agree with the exploded form
  // aggregated per id — INCLUDING fully-covered rows, which the exploded
  // form only recovers via a join back to the left table (the shape
  // subtractIntervalsStats exists to avoid).
  test("subtractIntervalsStats == exploded-form per-id (count, covered), zero-frag rows included") {
    val left = Seq(("u1", 0L, 10L, 1L), ("u2", 0L, 10L, 2L),
      ("u1", 20L, 30L, 3L), ("u3", 5L, 8L, 4L), ("u2", 50L, 40L, 5L))
      .toDF("u", "s_lo", "s_hi", "sid")
    val islands = Seq(("u1", 2L, 4L), ("u2", 0L, 10L), ("u1", 25L, 27L),
      ("u4", 0L, 100L)).toDF("iu", "i_lo", "i_hi")
    for (w <- Seq(1L, 8L, 1024L)) {
      val stats = IntervalSweep.subtractIntervalsStats(left, islands, "sid",
        Seq("u"), Seq("iu"), "s_lo", "s_hi", "i_lo", "i_hi", w)
        .select("sid", "n_frag", "covered_units")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val frags = IntervalSweep.subtractIntervals(left, islands, "sid",
        Seq("u"), Seq("iu"), "s_lo", "s_hi", "i_lo", "i_hi", w)
      val agg = frags.groupBy(col("sid"))
        .agg(count(lit(1)).as("n"), sum(col("frag_hi") - col("frag_lo") + 1).as("c"))
      val want = left.filter(col("s_hi") >= col("s_lo")).select(col("sid"))
        .join(agg, Seq("sid"), "left")
        .select(col("sid"), coalesce(col("n"), lit(0L)), coalesce(col("c"), lit(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(stats == want, s"w=$w: got $stats want $want")
      // u2's sid=2 is fully covered -> (0, 0) row PRESENT in the stats form
      assert(stats.contains((2L, 0L, 0L)))
    }
  }

  // r16 (guide §2.4): with the Long key images materialized as columns,
  // both sweep windows order by the same attributes and share ONE sort —
  // native DATE keys used to plan a second SortExec because the fresh
  // cast-expressions defeated the ordering-satisfies check.
  test("keyed mergeIntervals on native DATE keys plans exactly one sort") {
    import org.apache.spark.sql.execution.SortExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val iv = spark.range(200).select((col("id") % 7).as("k"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          (col("id") % 50).cast("int")).as("lo"))
        .withColumn("hi", date_add(col("lo"), 6))
      val merged = IntervalSweep.mergeIntervals(iv, Seq("k"), "lo", "hi")
      val sorts = merged.queryExecution.executedPlan
        .collect { case s: SortExec => s }
      assert(sorts.size == 1, s"expected 1 sort, got ${sorts.size}:\n" +
        merged.queryExecution.executedPlan)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

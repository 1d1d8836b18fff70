package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SkewJoin
import graft.sources.Sinks

class OperatorsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("AQE skew-join splits a hot-key candidate join at runtime (and when the manual salt is still required)") {
    // the d52/d80 candidate joins rely on a manual hot-key salt; this
    // proves the OTHER remedy the Scaladocs point at — AQE skew-join
    // handling — actually engages on a deliberately skewed corpus, so at
    // 100 TB the two remedies compose: AQE splits skewed SHUFFLE-JOIN
    // partitions with no code change, while the salt remains required for
    // skew feeding an AGGREGATION (AQE cannot split a groupBy's hash
    // partition — all copies of a hot gram must meet in one task) and for
    // broadcast-ineligible build sides. SCALE.md carries the note.
    import spark.implicits._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512b",
      // BOTH thresholds: without the adaptive one, AQE re-plans the tiny
      // sides into a broadcast join at runtime and skew handling never runs
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // one boundary key carries 800 of 850 rows — the d80 stitch shape
      // (a's tail joins b's head) with a pathologically hot boundary.
      // Distinct incompressible payloads matter twice: identical pruned
      // sides would hit ReusedExchange (one side's skew split then can't
      // be decided independently), and lz4 of repeated strings compresses
      // below the skew threshold so AQE would just coalesce
      def payload(tag: String, i: Int): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$tag$i".getBytes).map("%02x".format(_)).mkString * 2
      // RDD-based sides: on a session with GraftExtensions, a join of two
      // local relations runs on the calling thread, not as a Spark join
      val a = spark.sparkContext.parallelize((1 to 850).map(i =>
        (if (i <= 800) "the quick brown" else s"cold$i", payload("a", i))), 4)
        .toDF("tail", "pa")
      val b = spark.sparkContext.parallelize((1 to 840).map(i =>
        (if (i <= 800) "the quick brown" else s"cold$i", payload("b", i))), 4)
        .toDF("head", "pb")
      // the aggregate must touch BOTH payloads (defeats column pruning);
      // execute THIS dataset so its AQE finalizes, then read the plan
      val joined = a.join(b, col("tail") === col("head"))
        .groupBy().agg(count(lit(1)).as("n"),
          sum(length(col("pa")) + length(col("pb"))).as("s"))
      val n = joined.collect().head.getLong(0)
      assert(n == 800L * 800 + 40, s"unexpected join cardinality $n") // 800² hot + 40 cold
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the hot join as skewed:\n$plan")
      assert(plan.contains("AQEShuffleRead coalesced and skewed") ||
        plan.contains("AQEShuffleRead skewed"),
        s"hot partition was not split into skew-read chunks:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals plain inner join on skewed keys") {
    import spark.implicits._
    // 90% of left rows hit one key — the shape salting exists for
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong % 25 else 7L, i)).toDF("k", "v")
    val right = (0L until 25L).map(k => (k, s"dim$k")).toDF("k", "name")
    val expected = left.join(right, "k").select("k", "v", "name")
      .collect().map(_.toString).sorted
    val got = SkewJoin.saltedInnerJoin(left, right, "k", 8)
      .select("k", "v", "name").collect().map(_.toString).sorted
    assert(got.sameElements(expected))
  }

  test("partitioned parquet sink roundtrips and prunes partitions") {
    val out = java.nio.file.Files.createTempDirectory("graft-sink-").toString
    val orders = Tables.load(spark, dir, "orders")
    Sinks.writePartitioned(orders, out, Seq("o_orderstatus"))
    val back = Sinks.readPartitioned(spark, out)
    assert(back.count() == orders.count())
    // partition pruning: reading one status must scan only that directory
    val one = back.filter(col("o_orderstatus") === "F")
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
    assert(!plan.contains("PushedFilters: [IsNotNull(o_orderstatus)") ||
      plan.contains("PartitionFilters"), "status filter should prune partitions")
  }

  test("dynamic partition pruning: a filtered dim join prunes the partitioned fact scan at runtime") {
    // the cluster pattern the partitioned sinks exist for: fact partitioned
    // on the join key, dim filtered at runtime — DPP turns the dim's
    // broadcast result into a PartitionFilter on the fact scan, so only the
    // surviving partition dirs are read (static pruning can't see this; at
    // 100 TB it is the difference between scanning 5 and 2 partitions)
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-dpp-").toString
    Sinks.writePartitioned(Tables.load(spark, dir, "orders"), out, Seq("o_orderpriority"))
    val fact = Sinks.readPartitioned(spark, out)
    val prios = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority")).distinct().as[String].collect().sorted
    assert(prios.length >= 3, "scenario degenerate: too few priorities")
    val keep = prios.take(2)
    // the dim must be a file source: a local relation's filter constant-
    // folds away and DPP sees no selective predicate to reuse
    val dimPath = java.nio.file.Files.createTempDirectory("graft-dpp-dim-").toString
    prios.toSeq.toDF("o_orderpriority")
      .withColumn("grp", when(col("o_orderpriority").isin(keep.toSeq: _*), "keep")
        .otherwise("drop"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val j = fact.join(dim.filter(col("grp") === "keep"), "o_orderpriority")
    val plan = j.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("dynamicpruning"),
      "partitioned fact scan carries no dynamic-pruning filter")
    val expected = Tables.load(spark, dir, "orders")
      .filter(col("o_orderpriority").isin(keep.toSeq: _*)).count()
    assert(j.count() == expected)
  }

  test("compacted sink writes exactly N parquet files and roundtrips") {
    val out = java.nio.file.Files.createTempDirectory("graft-compact-").toString
    val orders = Tables.load(spark, dir, "orders")
    Sinks.writeCompacted(orders, out, numFiles = 3)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3, s"expected 3 files, got ${files.map(_.getName).toSeq}")
    assert(spark.read.parquet(out).count() == orders.count())
  }

  test("q11 executes its dimension joins as broadcasts (plan regression gate)") {
    // the explicit broadcast() hints on nation/region must survive into the
    // executed plan — a silent fallback to shuffle joins for tiny dims is
    // the regression this guards against
    val df = SparkEntry.queries("q11")(spark, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in q11:\n$plan")
  }

  test("q73/q74/q76 subquery shapes decorrelate into broadcast joins (plan gate)") {
    // the three classic TPC-H subquery workouts must never execute as
    // correlated per-row subplans: Q17's per-partkey AVG is one joined-back
    // aggregate, Q20's nested INs are hash semi-joins with the part filter
    // broadcast, Q15's MAX-equality is a broadcast of a 1-row aggregate
    val plans = Seq("q73", "q74", "q76").map { q =>
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect() // executed (final AQE) plan, same plan for all asserts
      q -> df.queryExecution.executedPlan.toString
    }.toMap
    plans.foreach { case (q, plan) =>
      // hash joins only — BroadcastNestedLoop IS the per-row fallback this
      // gate exists to forbid (all three queries are pure equi/semi joins)
      assert(plan.contains("BroadcastHashJoin"), s"no broadcast hash join in $q:\n$plan")
      assert(!plan.contains("BroadcastNestedLoop"), s"$q degraded to a nested loop:\n$plan")
    }
    assert(plans("q74").contains("LeftSemi"),
      s"q74 IN-subqueries should plan as semi joins:\n${plans("q74")}")
  }

  test("q77 LATERAL LIMIT decorrelates to a WindowGroupLimit join, not per-row subqueries") {
    val p = SparkEntry.queries("q77")(spark, dir).queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), s"no group-limit pushdown in q77:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), s"q77 fell back to a cartesian product:\n$p")
  }

  test("r9 query shapes: t68 WindowGroupLimit, q81 hash join, d83 no-cartesian (plan gates)") {
    // t68's rank-3 filter must rewrite to a map-side group limit, never a
    // full sort of the tf table
    val t68 = SparkEntry.queries("t68")(spark, dir)
    assert(t68.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      s"t68 top-3 not pushed to WindowGroupLimit:\n${t68.queryExecution.executedPlan}")
    // q81's <=> must plan as a HASH join (EqualNullSafe is an equi-key);
    // a nested-loop fallback would be quadratic on the null groups
    val q81 = SparkEntry.queries("q81")(spark, dir)
    q81.collect()
    val p81 = q81.queryExecution.executedPlan.toString
    assert(p81.contains("HashJoin"), s"q81 <=> not a hash join:\n$p81")
    assert(!p81.contains("BroadcastNestedLoop") && !p81.toLowerCase.contains("cartesian"),
      s"q81 degraded to a non-equi join:\n$p81")
    // d83's anchor join is an equi-join on the gram string + the collected
    // run walk (r16: the islands window was replaced by a hash-aggregated
    // sorted position array + scan-local walk — no SortExec, no window) —
    // no cartesian anywhere
    val d83 = SparkEntry.queries("d83")(spark, dir)
    d83.collect()
    val p83 = d83.queryExecution.executedPlan.toString
    assert(!p83.contains("BroadcastNestedLoop") && !p83.toLowerCase.contains("cartesian"),
      s"d83 anchor join fell off the equi-join path:\n$p83")
    assert(p83.contains("collect_list"),
      s"d83 lost its collected run walk:\n$p83")
  }

  test("r10 TPC-H shapes: q83 one equi hash join, q84 semi+anti, q86 outer join kept (plan gates)") {
    // q83 (Q19 disjunctive predicates): the OR-of-conjunctions must ride
    // ONE equi hash join as a residual condition — the common
    // l_partkey = p_partkey key extracted, never a nested-loop fallback
    val q83 = SparkEntry.queries("q83")(spark, dir)
    q83.collect()
    val p83 = q83.queryExecution.executedPlan.toString
    assert(p83.contains("BroadcastHashJoin"), s"q83 lost the equi hash join:\n$p83")
    assert(!p83.contains("BroadcastNestedLoop") && !p83.toLowerCase.contains("cartesian"),
      s"q83 degraded to a nested loop:\n$p83")
    // q84 (Q21 double correlation): EXISTS -> semi join, NOT EXISTS -> anti
    // join, all on the l_orderkey equi key — no correlated re-execution
    val q84 = SparkEntry.queries("q84")(spark, dir)
    q84.collect()
    val p84 = q84.queryExecution.executedPlan.toString
    assert(p84.contains("LeftSemi") && p84.contains("LeftAnti"),
      s"q84 EXISTS/NOT EXISTS not planned as semi/anti joins:\n$p84")
    assert(!p84.contains("BroadcastNestedLoop") && !p84.toLowerCase.contains("cartesian"),
      s"q84 fell off the equi-join path:\n$p84")
    // q86 (Q13): the priority filter lives on the join's o-side — the
    // OUTER join must survive (an inner rewrite would drop the
    // zero-order customers that Q13 exists to count)
    val q86 = SparkEntry.queries("q86")(spark, dir)
    q86.collect()
    val p86 = q86.queryExecution.executedPlan.toString
    assert(p86.contains("LeftOuter"), s"q86 outer join was rewritten away:\n$p86")
    // d87's rank-20 stratum filter must rewrite to a map-side group limit
    // (state ∝ strata·n per task), never a full per-stratum sort+filter
    val d87 = SparkEntry.queries("d87")(spark, dir)
    assert(d87.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      s"d87 sample not pushed to WindowGroupLimit:\n${d87.queryExecution.executedPlan}")
  }

  test("r10 session-3 shapes: q90/q94 reuse the agg exchange, q97 anti join, no cartesian (plan gates)") {
    // q90 (Q2) and q94 (Q11) both re-aggregate an already-aggregated
    // frame (per-part min / global total) and join it back — the fact
    // scan + first aggregation must be shared via ReusedExchange, never
    // recomputed from the scan
    for (q <- Seq("q90", "q94")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"),
        s"$q recomputes the shared aggregate subtree from the scan:\n$p")
    }
    // q97 (Q16): NOT IN over the non-nullable s_suppkey must lower to a
    // plain LEFT ANTI hash join (no null-aware BNLJ fallback)
    val q97 = SparkEntry.queries("q97")(spark, dir)
    q97.collect()
    val p97 = q97.queryExecution.executedPlan.toString
    assert(p97.contains("LeftAnti"), s"q97 NOT IN not an anti join:\n$p97")
    assert(!p97.toLowerCase.contains("cartesian"),
      s"q97 fell off the equi-join path:\n$p97")
    // q91 (Q7): the two-direction pair filter must not degrade the join
    // chain to a nested loop anywhere
    val q91 = SparkEntry.queries("q91")(spark, dir)
    q91.collect()
    val p91 = q91.queryExecution.executedPlan.toString
    assert(!p91.contains("BroadcastNestedLoop") && !p91.toLowerCase.contains("cartesian"),
      s"q91 degraded to a nested loop:\n$p91")
    // q85 (Q18): the >300 survivor set is SF-proportional, so it must NOT
    // carry a hard broadcast hint — AQE broadcasts it at runtime while it
    // is small (what this gate sees at test SF) and falls back to a
    // shuffle join once it is not; either way the joins stay equi hash
    // joins with no nested-loop/cartesian fallback and no driver-side
    // build forced by a hint
    val q85 = SparkEntry.queries("q85")(spark, dir)
    q85.collect()
    val p85 = q85.queryExecution.executedPlan.toString
    assert(p85.contains("BroadcastHashJoin") || p85.contains("ShuffledHashJoin") ||
      p85.contains("SortMergeJoin"), s"q85 lost its hash/merge joins:\n$p85")
    assert(!p85.contains("BroadcastNestedLoop") && !p85.toLowerCase.contains("cartesian"),
      s"q85 degraded to a nested loop:\n$p85")
    assert(!q85.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "q85 still carries a join hint")
  }

  test("join strategy hints steer the planner: BROADCAST / SHUFFLE_HASH / MERGE each produce their join operator") {
    // the escape hatch for when AQE's choice is wrong at scale (a build
    // side whose size estimate lies, a sort the cluster can't afford):
    // each hint must actually flip the physical operator, same results
    import spark.implicits._
    Tables.load(spark, dir, "orders").createOrReplaceTempView("h_orders")
    Tables.load(spark, dir, "customer").createOrReplaceTempView("h_cust")
    def planOf(hint: String): (String, Long) = {
      val df = spark.sql(
        s"SELECT /*+ $hint(c) */ count(*) FROM h_orders o JOIN h_cust c ON o_custkey = c_custkey")
      val n = df.collect().head.getLong(0)
      (df.queryExecution.executedPlan.toString, n)
    }
    val (pb, nb) = planOf("BROADCAST")
    assert(pb.contains("BroadcastHashJoin"), s"BROADCAST hint ignored:\n$pb")
    val (ph, nh) = planOf("SHUFFLE_HASH")
    assert(ph.contains("ShuffledHashJoin"), s"SHUFFLE_HASH hint ignored:\n$ph")
    val (pm, nm) = planOf("MERGE")
    assert(pm.contains("SortMergeJoin"), s"MERGE hint ignored:\n$pm")
    assert(nb == nh && nh == nm, s"hinted joins disagree: $nb/$nh/$nm")
  }

  test("partitioning invariance: hash-keyed deterministic ops are bit-identical under different shuffle partitioning") {
    // the repo-wide determinism rule (no RNG, no partial-order-dependent
    // float accumulation) made falsifiable: the same query under 5 vs 32
    // shuffle partitions — different partial aggregation groupings,
    // different merge orders — must produce IDENTICAL rows. Covers the
    // hash sample (d74), the stratified sample (d87), the global shuffle
    // order (d67), feature hashing (t61), and the temperature weights
    // whose quantized-normalizer discipline exists exactly for this (t60).
    // r10 session 3 adds the three new exact-int pipeline ops: LM quality
    // (t71, quantized p sums), TV drift (t72, all-integer arithmetic),
    // and the budget selection's banded prefix sum (d90).
    // r11 adds the budget-sampled audits (s78/s79: hash-ranked top-m via
    // TakeOrderedAndProject — the global rank must not depend on how the
    // scan parallelizes) and the recall audit (s81: LSH buckets + two
    // rank windows). r13 adds the retrieval pair (t73 lexical inverted
    // index, s83 hybrid RRF fusion): bounded top-k aggregates whose merge
    // order varies with partitioning — ranks must not.
    val names = Seq("d74", "d87", "d67", "t61", "t60", "t71", "t72", "d90",
      "s78", "s79", "s81", "t73", "s83")
    def runAll(parts: Int): Map[String, Seq[String]] = {
      // d90 memo-persists its tokenize base keyed by dir, and the sampled
      // audits memo-persist their hash-ranked sample; without these resets
      // the 32-partition run would silently reuse frames cached under 5
      // partitions and the invariance of the kernel/agg stages would never
      // actually be exercised (the same reset ScaleProbe uses)
      graft.queries.QueryUtil.unpersistKeyed(spark, "d90base:")
      graft.queries.QueryUtil.unpersistKeyed(spark, "svec:")
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try names.map(n =>
        n -> SparkEntry.queries(n)(spark, dir).collect().map(_.toString).toSeq).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val at5 = runAll(5)
    val at32 = runAll(32)
    names.foreach { n =>
      assert(at5(n) == at32(n),
        s"$n diverged under repartitioning (first diff: " +
          s"${at5(n).zip(at32(n)).find(p => p._1 != p._2).take(1)})")
    }
  }

  test("s78/s79/s80 sampled audits: pairs bounded by budget; sampled means within ±0.01 of exact s76; s80 equals s61 on sampled sources") {
    // the engine rule for the pair-bound exact family (s58/s61/s76): at
    // scale the audit runs on a deterministic hash-ranked sample under a
    // HARD pair budget. This spec pins the three claims that make the
    // sampled variants trustworthy: (1) compare work is bounded by the
    // budget, (2) the sampled estimate tracks the exact audit (±0.01 ≈
    // 3.5 standard errors at ~2000 same-label pairs), (3) the sampled-query
    // k-NN ground truth is EXACTLY the full graph restricted to the
    // sampled sources (it is not an approximation per query).
    val s78 = SparkEntry.queries("s78")(spark, dir).collect()
      .map(r => r.getBoolean(0) -> (r.getLong(1), r.getDouble(5))).toMap
    assert(s78.values.map(_._1).sum <= 20000L,
      s"s78 pair count ${s78.values.map(_._1).sum} breaches the 20k budget")
    val s76 = SparkEntry.queries("s76")(spark, dir).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(5)).toMap
    s76.foreach { case (grp, exactMean) =>
      assert(math.abs(s78(grp)._2 - exactMean) <= 0.01,
        s"s78 sampled mean ${s78(grp)._2} vs exact $exactMean (group $grp)")
    }
    val s79 = SparkEntry.queries("s79")(spark, dir).collect().head
    assert(s79.getLong(1) <= 20000L, s"s79 pairs ${s79.getLong(1)} > budget")
    val s80 = SparkEntry.queries("s80")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val srcs = s80.map(_._1)
    assert(srcs.size == 50 && s80.size == 150)
    val s61OnSrcs = SparkEntry.queries("s61")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      .filter(t => srcs.contains(t._1))
    assert(s80 == s61OnSrcs,
      s"s80 is not the s61 graph restricted to sampled sources " +
        s"(diff ${(s80 diff s61OnSrcs).take(3)} / ${(s61OnSrcs diff s80).take(3)})")
  }

  test("ANN rerank plans use the bounded top-k aggregate, not a rank window over qid") {
    // Engine rule (SCALE.md "window vs bounded aggregate"): a rank window
    // keyed by the fixed query set concentrates its corpus-proportional
    // input into |Q| sort tasks — at 100 TB, 10 stragglers carrying the
    // corpus. The exact/serving rerank paths must ride graft_topk_pairs
    // (k-slot partial/final hash aggregate) instead. s81's exact arm was
    // the r11 judge's finding; s56/s60/s67/s69 share the shape.
    import org.apache.spark.sql.execution.window.WindowExec
    Seq("s56", "s60", "s67", "s69", "s81", "t73", "s83").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan
      val wins = plan.collect { case w: WindowExec => w }
      assert(wins.isEmpty,
        s"$n: rank window over the query set survived the bounded-" +
          s"aggregate rewrite:\n${wins.mkString("\n")}")
      assert(plan.toString.contains("graft_topk_pairs"),
        s"$n: expected the bounded graft_topk_pairs aggregate in the plan")
    }
  }

  test("d88 HLL register partials: estimates track exact; register mirror equals approx_count_distinct; max-merge associative") {
    val rows = SparkEntry.queries("d88")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.exists(_._1 == "__all__"))
    // value gate: every estimate (per-source AND the union row) within 10%
    // of its exact count (p=9 → rsd ≈ 4.6%; the q13 discipline). The exact
    // cross-engine hash-match is the driver's DuckDB gate, not this spec.
    rows.foreach { case (src, est, exact) =>
      assert(math.abs(est - exact) <= math.max(1L, (exact * 0.10).toLong),
        s"$src: estimate $est vs exact $exact breaches 10%")
    }
    val docs = Tables.load(spark, dir, "documents").filter(col("text").isNotNull)
    val keyed = docs.select(lit("__all__").as("g"),
      expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)").as("v"))
    // the transparent register partials ARE Spark's sketch state: the
    // registersDf+estimateDf pipeline must reproduce approx_count_distinct
    // over the same keys EXACTLY (same xxHash64 seed-42 hash, same
    // estimator branches, same bias tables read from Spark's own class)
    val viaRegs = graft.queries.HllMirror.estimateDf(
      graft.queries.HllMirror.registersDf(keyed, Seq("g"), 9), 9)
      .collect().head.getLong(1)
    val viaSpark = keyed.agg(approx_count_distinct(col("v")))
      .collect().head.getLong(0)
    assert(viaRegs == viaSpark,
      s"register-mirror estimate $viaRegs != approx_count_distinct $viaSpark")
    // associativity / incremental claim: registers built on two disjoint
    // halves and MAX-MERGED estimate the same as registers over everything
    // — the stored-partials pattern cannot drift from the rescan (and the
    // contract query's __all__ row is itself the per-source merge)
    val halves = graft.queries.HllMirror.registersDf(
      docs.select(pmod(col("doc_id"), lit(2)).cast("string").as("g"),
        expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)").as("v")),
      Seq("g"), 9)
    val mergedEst = graft.queries.HllMirror.estimateDf(
      halves.groupBy(col("idx")).agg(max(col("mr")).as("mr"))
        .select(lit("m").as("g"), col("idx"), col("mr")), 9)
      .collect().head.getLong(1)
    assert(mergedEst == viaRegs,
      s"max-merge of half-registers ($mergedEst) != whole-corpus ($viaRegs)")
    // the Spark 4 Datasketches surface stays capability-tested: union of
    // half-sketches ≡ one sketch over everything (binary-blob partials)
    val dsHalves = docs.withColumn("h", pmod(col("doc_id"), lit(2)))
      .groupBy(col("h")).agg(expr("hll_sketch_agg(xxhash64(text), 14)").as("sk"))
    val dsMerged = dsHalves
      .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk, true)) as bigint)"))
      .collect().head.getLong(0)
    val dsDirect = docs
      .agg(expr("cast(hll_sketch_estimate(hll_sketch_agg(xxhash64(text), 14)) as bigint)"))
      .collect().head.getLong(0)
    assert(dsMerged == dsDirect,
      s"union of half-sketches ($dsMerged) != whole-corpus sketch ($dsDirect)")
  }

  test("Observation metrics ride the pipeline scan: quality counters without a second pass") {
    // the data-quality counters a production pipeline wants (rows seen,
    // rows kept, token volume) collected via df.observe DURING the one
    // pass that does the work — CollectMetrics adds no job, no extra scan,
    // no accumulator races (exactly-once per observed row)
    import org.apache.spark.sql.Observation
    val obs = Observation("quality_scan")
    val docs = Tables.load(spark, dir, "documents")
    val kept = docs
      .observe(obs,
        count(lit(1)).as("n_seen"),
        count(when(graft.queries.QueryUtil.qualityKeep(col("text")), 1)).as("n_keep"),
        sum(graft.queries.QueryUtil.tokenCount(col("text")).cast("long")).as("n_tok"))
      .filter(graft.queries.QueryUtil.qualityKeep(col("text")))
    val keptCount = kept.count()
    val m = obs.get
    assert(m("n_keep") == keptCount,
      s"observed keep count ${m("n_keep")} != pipeline output $keptCount")
    val expected = docs.agg(count(lit(1)),
        sum(graft.queries.QueryUtil.tokenCount(col("text")).cast("long")))
      .collect().head
    assert(m("n_seen") == expected.getLong(0) && m("n_tok") == expected.getLong(1),
      s"observed $m vs recomputed $expected")
  }

  test("q02 filter reaches the parquet scan as a pushed filter (plan regression gate)") {
    val df = SparkEntry.queries("q02")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // a scan with real pushed predicates renders "PushedFilters: [<non-empty>"
    assert(plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []"),
      s"filter not pushed to parquet:\n$plan")
  }

  test("IVF corpus partitioned by cell: a probe reads only nprobe of C partition dirs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.queries.SimilarityOps
    // the end-to-end storage path annIvf's design promises: corpus written
    // hive-partitioned by cell, probe list becomes PartitionFilters, and
    // the scan touches nprobe/C of the partition directories — not a
    // full-scan-then-filter
    val c = SimilarityOps.IvfCells
    val nprobe = SimilarityOps.IvfNprobe
    val out = java.nio.file.Files.createTempDirectory("graft-ivf-").toString
    SimilarityOps.writeIvfCorpus(spark, dir, out, c, iters = 3)
    val allCells = Sinks.readPartitioned(spark, out)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(allCells.size > nprobe, s"corpus landed in only ${allCells.size} cells")
    val probes = allCells.toSeq.sorted.take(nprobe)
    val read = SimilarityOps.probeIvfCells(spark, out, probes)
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one file scan:\n${read.queryExecution.executedPlan}")
    assert(scans.head.selectedPartitions.partitionCount == probes.size,
      s"scan read ${scans.head.selectedPartitions.partitionCount} partition dirs, " +
        s"expected ${probes.size} of ${allCells.size}")
    // pruned read returns exactly the probed cells' rows
    assert(read.select("cell").distinct().collect().map(_.getInt(0)).toSet == probes.toSet)
  }

  test("quantized IVF layout: pruned probe, stored rerank == in-memory, bytes shrink vs float") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.queries.SimilarityOps
    val c = SimilarityOps.IvfCells
    val nprobe = SimilarityOps.IvfNprobe
    val outF = java.nio.file.Files.createTempDirectory("graft-ivff-").toString
    val outQ = java.nio.file.Files.createTempDirectory("graft-ivfq-").toString
    SimilarityOps.writeIvfCorpus(spark, dir, outF, c, iters = 3)
    SimilarityOps.writeIvfCorpusQuantized(spark, dir, outQ, c, iters = 3)
    // 1) the probe read prunes to the probed cell directories, same as the
    // float layout (cell is the partition key either way)
    val allCells = Sinks.readPartitioned(spark, outQ)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(allCells.size > nprobe, s"corpus landed in only ${allCells.size} cells")
    val probes = allCells.toSeq.sorted.take(nprobe)
    val read = SimilarityOps.probeIvfCellsQuantized(spark, outQ, probes)
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one file scan:\n${read.queryExecution.executedPlan}")
    assert(scans.head.selectedPartitions.partitionCount == probes.size,
      s"scan read ${scans.head.selectedPartitions.partitionCount} partition dirs, " +
        s"expected ${probes.size} of ${allCells.size}")
    // 2) rerank over the STORED layout (codes + grid sidecar) returns the
    // identical answer to the in-memory s68 path — the storage changes the
    // I/O, not the result
    val stored = SimilarityOps.annIvfQ8Over(spark, dir,
        Sinks.readPartitioned(spark, outQ), SimilarityOps.readQ8Stats(spark, outQ),
        c, nprobe, iters = 3)
      .collect().map(_.toString).toSeq
    val inMem = SimilarityOps.annIvfQ8(spark, dir, c, nprobe, iters = 3)
      .collect().map(_.toString).toSeq
    assert(stored == inMem, "stored-layout rerank diverged from the in-memory path")
    // 3) the point of quantizing: the stored inverted lists shrink. Raw is
    // 4x (1 byte vs 4 bytes per dim); parquet encoding keeps most of it —
    // gate at >= 2.5x, record the measured ratio in SCALE.md
    def parquetBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => f.toString.endsWith(".parquet"))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
    val bf = parquetBytes(outF); val bq = parquetBytes(outQ)
    info(f"stored inverted lists: float $bf%d B vs q8 $bq%d B = ${bf.toDouble / bq}%.2fx")
    assert(bf > bq * 2.5,
      f"quantized layout not smaller enough: float $bf%d B vs q8 $bq%d B " +
        f"(${bf.toDouble / bq}%.2fx)")
  }

  test("IVF-PQ layout: pruned probe read, stored probe == in-memory s84, bytes shrink vs int8") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.queries.SimilarityOps
    val c = SimilarityOps.IvfCells
    val nprobe = SimilarityOps.PqNprobe // s84's operating point (r14)
    val outP = java.nio.file.Files.createTempDirectory("graft-ivfpq-").toString
    val outQ = java.nio.file.Files.createTempDirectory("graft-ivfq2-").toString
    SimilarityOps.writeIvfCorpusPq(spark, dir, outP, c,
      SimilarityOps.PqM, SimilarityOps.PqK, iters = 3)
    SimilarityOps.writeIvfCorpusQuantized(spark, dir, outQ, c, iters = 3)
    // 1) a literal cell-list read of the PQ layout is partition-pruned
    // (pruning depth decoupled from s84's nprobe: the property is "reads
    // only the listed cells", probed here at a strict subset of the
    // occupied cells regardless of the serving operating point)
    val allCells = Sinks.readPartitioned(spark, outP)
      .select("cell").distinct().collect().map(_.getInt(0)).toSet
    assert(allCells.size > 1, s"corpus landed in only ${allCells.size} cells")
    val probeCells = allCells.toSeq.sorted.take(math.min(nprobe, allCells.size - 1))
    val read = Sinks.readPartitioned(spark, outP)
      .filter(col("cell").isin(probeCells.map(Int.box): _*))
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1 &&
      scans.head.selectedPartitions.partitionCount == probeCells.size,
      s"PQ probe read not pruned to $probeCells:\n${read.queryExecution.executedPlan}")
    // 2) the self-contained stored probe (centroid + codebook sidecars, no
    // retraining) returns exactly the in-memory s84 answer
    val stored = SimilarityOps.annIvfPqStored(spark, dir, outP, nprobe,
        SimilarityOps.PqRefine).collect().map(_.toString).toSeq
    val inMem = SparkEntry.queries("s84")(spark, dir)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty && stored == inMem,
      "stored IVF-PQ probe diverged from the in-memory path")
    // 3) the compression point of PQ: 8 B/vector codes vs int8's 64 B —
    // the stored inverted lists shrink again (gate loosely; parquet
    // framing overhead dominates at this corpus size)
    def parquetBytes(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => f.toString.endsWith(".parquet"))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
    val bq = parquetBytes(outQ); val bp = parquetBytes(outP)
    info(f"stored inverted lists: q8 $bq%d B vs pq $bp%d B = ${bq.toDouble / bp}%.2fx")
    assert(bq > bp * 1.5,
      f"PQ layout not smaller than int8: q8 $bq%d B vs pq $bp%d B")
  }

  test("quantized IVF append: probe-after-append == one-shot build; stale grid refused") {
    import graft.queries.SimilarityOps
    val c = SimilarityOps.IvfCells
    val nprobe = SimilarityOps.IvfNprobe
    // quantizer + grid trained once on the full corpus (the production
    // shape: train on a sample, build/append under the frozen pair)
    val centroids = SimilarityOps.trainCentroids(spark, dir, c, iters = 3)
    val stats = SimilarityOps.q8Stats(spark, dir)
    val corpus = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("nid"), col("embedding").as("v"))
    val day1 = corpus.filter(col("nid") % 7 =!= 3)
    val batch = corpus.filter(col("nid") % 7 === 3)
    val outOne = java.nio.file.Files.createTempDirectory("graft-ivfq-one-").toString
    val outApp = java.nio.file.Files.createTempDirectory("graft-ivfq-app-").toString
    SimilarityOps.writeIvfCorpusQuantizedFrom(spark, corpus, outOne, centroids, stats)
    SimilarityOps.writeIvfCorpusQuantizedFrom(spark, day1, outApp, centroids, stats)
    // 1) the batch is in-distribution for the stored grid: append accepted,
    // clamp fraction 0 (grid was trained over the full corpus)
    val frac = SimilarityOps.appendIvfCorpusQuantized(spark, outApp, batch)
    assert(frac == 0.0, s"expected in-grid batch, clamp fraction $frac")
    // 2) the appended layout IS the one-shot layout: same (nid, cell, code)
    // rows — append re-routed and re-encoded nothing, only added the batch
    def rows(p: String) = Sinks.readPartitioned(spark, p)
      .select(col("nid"), col("cell"), hex(col("code")).as("cx"))
      .collect().map(_.toString).sorted.toSeq
    assert(rows(outApp) == rows(outOne), "appended layout diverged from one-shot build")
    // 3) and the self-contained stored probe (centroid+grid sidecars, no
    // retraining) over the appended layout == the one-shot answer
    val a = SimilarityOps.annIvfQ8Stored(spark, dir, outApp, nprobe)
      .collect().map(_.toString).toSeq
    val b = SimilarityOps.annIvfQ8Stored(spark, dir, outOne, nprobe)
      .collect().map(_.toString).toSeq
    assert(a == b, "probe after append diverged from the one-shot index")
    // 4) the staleness rule: a batch outside the frozen grid is refused
    // (clamp-saturated codes are silent corruption — the rule forces the
    // rebuild decision to the surface)
    import spark.implicits._
    val outlier = Seq((999999L, Array.fill(64)(1e9f))).toDF("nid", "v")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.appendIvfCorpusQuantized(spark, outApp, outlier)
    }
    assert(e.getMessage.contains("stale"), s"wrong refusal message: ${e.getMessage}")
  }

  test("z-ordered write: per-file footer boxes skip range predicates on BOTH dims; id-sort only on one") {
    import graft.queries.DedupOps
    val nFiles = 8
    val outZ = java.nio.file.Files.createTempDirectory("graft-z-").toString
    val outId = java.nio.file.Files.createTempDirectory("graft-id-").toString
    DedupOps.writeZOrdered(spark, dir, outZ, nFiles)
    // control: same file count, classic single-dim sort
    Tables.load(spark, dir, "documents")
      .repartitionByRange(nFiles, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(outId)
    // layouts hold the same rows
    val a = spark.read.parquet(outZ).collect().map(_.toString).sorted.toSeq
    val b = spark.read.parquet(outId).collect().map(_.toString).sorted.toSeq
    assert(a == b, "z-ordered layout lost/changed rows")
    // per-file min/max — what a parquet reader's footer-stats pruning sees
    def boxes(p: String): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(p)
        .groupBy(input_file_name())
        .agg(min(col("n_chars")).as("cl"), max(col("n_chars")).as("ch"),
          min(col("doc_id")).as("il"), max(col("doc_id")).as("ih"))
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    // probe with ALL eight aligned eighth-windows per dim and average the
    // skipped-file fraction — a single window can straddle the z curve's
    // top bit boundary and measure nothing (an artifact of the probe, not
    // the layout)
    val stats = Tables.load(spark, dir, "documents")
      .agg(min(col("n_chars")), max(col("n_chars")), min(col("doc_id")), max(col("doc_id")))
      .collect()(0)
    def avgSkip(bs: Seq[(Long, Long, Long, Long)], onChars: Boolean): Double = {
      val (lo, hi) = if (onChars) (stats.getLong(0), stats.getLong(1))
        else (stats.getLong(2), stats.getLong(3))
      val step = (hi - lo + 1) / 8
      val fracs = (0 until 8).map { w =>
        val (wl, wh) = (lo + w * step, lo + (w + 1) * step - 1)
        bs.count { case (cl, ch, il, ih) =>
          if (onChars) ch < wl || cl > wh else ih < wl || il > wh
        }.toDouble / bs.size
      }
      fracs.sum / fracs.size
    }
    val zb = boxes(outZ); val ib = boxes(outId)
    assert(zb.size == nFiles && ib.size == nFiles, s"file counts: ${zb.size}/${ib.size}")
    // the z layout prunes on BOTH dimensions (each file's footer box is
    // locally bounded in chars AND id); the id sort prunes on id only —
    // every one of its files spans the full char range
    val (zc, zi, ic, ii) = (avgSkip(zb, true), avgSkip(zb, false),
      avgSkip(ib, true), avgSkip(ib, false))
    info(f"avg skipped-file fraction: z(chars)=$zc%.2f z(id)=$zi%.2f id(chars)=$ic%.2f id(id)=$ii%.2f")
    assert(zc >= 0.25, f"z layout skips only $zc%.2f on n_chars")
    assert(zi >= 0.25, f"z layout skips only $zi%.2f on doc_id")
    assert(ic == 0.0,
      "id-sorted control unexpectedly skips on n_chars — corpus correlation breaks the test premise")
    assert(ii >= 0.5)
  }

  test("quantized IVF compaction: fragmented cells drop to one file, probe unchanged, others untouched") {
    import graft.queries.SimilarityOps
    graft.functions.GraftFunctions.register(spark)
    val c = SimilarityOps.IvfCells
    val nprobe = SimilarityOps.IvfNprobe
    val centroids = SimilarityOps.trainCentroids(spark, dir, c, iters = 3)
    val stats = SimilarityOps.q8Stats(spark, dir)
    val corpus = Tables.load(spark, dir, "embeddings")
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").as("nid"), col("embedding").as("v"))
    val out = java.nio.file.Files.createTempDirectory("graft-ivfq-cmp-").toString
    // day-1 build + two appends → touched cells carry >= 3 files
    SimilarityOps.writeIvfCorpusQuantizedFrom(spark,
      corpus.filter(col("nid") % 3 === 0), out, centroids, stats)
    SimilarityOps.appendIvfCorpusQuantized(spark, out,
      corpus.filter(col("nid") % 3 === 1))
    SimilarityOps.appendIvfCorpusQuantized(spark, out,
      corpus.filter(col("nid") % 3 === 2))
    def files(p: String): Map[String, Set[String]] = {
      val root = new java.io.File(p)
      root.listFiles.filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles.filter(_.getName.endsWith(".parquet")).map(_.getName).toSet)
        .toMap
    }
    val beforeFiles = files(out)
    assert(beforeFiles.values.exists(_.size > 1), "scenario degenerate: nothing fragmented")
    val probeBefore = SimilarityOps.annIvfQ8Stored(spark, dir, out, nprobe)
      .collect().map(_.toString).toSeq
    val rowsBefore = Sinks.readPartitioned(spark, out)
      .select(col("nid"), col("cell"), hex(col("code")).as("cx"))
      .collect().map(_.toString).sorted.toSeq

    val report = SimilarityOps.compactIvfCells(spark, out).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    val afterFiles = files(out)
    // every fragmented cell is now one file; report matches the filesystem
    report.foreach { case (cell, nb, na) =>
      assert(nb == beforeFiles(s"cell=$cell").size, s"report files_before wrong for $cell")
      assert(na == afterFiles(s"cell=$cell").size, s"report files_after wrong for $cell")
      if (nb > 1) assert(na == 1, s"cell=$cell still fragmented: $na files")
      // an untouched cell keeps its exact files (no gratuitous rewrite)
      else assert(afterFiles(s"cell=$cell") == beforeFiles(s"cell=$cell"),
        s"unfragmented cell=$cell was rewritten")
    }
    // compaction moved bytes only: same rows, same probe answer
    val rowsAfter = Sinks.readPartitioned(spark, out)
      .select(col("nid"), col("cell"), hex(col("code")).as("cx"))
      .collect().map(_.toString).sorted.toSeq
    assert(rowsAfter == rowsBefore, "compaction changed the stored rows")
    val probeAfter = SimilarityOps.annIvfQ8Stored(spark, dir, out, nprobe)
      .collect().map(_.toString).toSeq
    assert(probeAfter == probeBefore, "probe diverged after compaction")
    // the staging dir is gone
    assert(!new java.io.File(s"${out}_compacting").exists, "staging dir left behind")
  }

  test("LSH buckets partitioned by (tbl, bucket): a query's probe reads only its bucket dirs") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.queries.SimilarityOps
    // storage parity with the IVF path: corpus signatures written
    // hive-partitioned by (tbl, bucket); a query's own signature pairs
    // become PartitionFilters and the scan touches only those bucket dirs
    val tables = SimilarityOps.LshTables
    val bits = SimilarityOps.LshBits
    val out = java.nio.file.Files.createTempDirectory("graft-lsh-").toString
    SimilarityOps.writeLshBuckets(spark, dir, out, tables, bits)
    val layout = Sinks.readPartitioned(spark, out)
      .select("tbl", "bucket").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    // probe list = query vector 0's own signature pairs (what annLsh joins on)
    val probes = SimilarityOps.lshSignatures(spark, dir, tables, bits)
      .filter(col("vec_id") === 0)
      .select("tbl", "bucket").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(probes.size == tables)
    val present = probes.toSet.intersect(layout)
    assert(layout.size > present.size, "probe covers the whole layout — pruning unobservable")
    val read = SimilarityOps.probeLshBuckets(spark, out, probes)
    val scans = read.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.size == 1, s"expected one file scan:\n${read.queryExecution.executedPlan}")
    assert(scans.head.selectedPartitions.partitionCount == present.size,
      s"scan read ${scans.head.selectedPartitions.partitionCount} partition dirs, " +
        s"expected ${present.size} of ${layout.size}")
    // the pruned read yields exactly the in-memory bucket join's candidate
    // set for this query — the storage path changes the I/O, not the answer
    val stored = read.select("nid").distinct().collect().map(_.getLong(0)).toSet
    val sigs = SimilarityOps.lshSignatures(spark, dir, tables, bits)
    val inMem = sigs.filter(col("vec_id") === 0)
      .select(col("tbl"), col("bucket"))
      .join(sigs.filter(col("vec_id") >= 10), Seq("tbl", "bucket"))
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(stored == inMem,
      s"stored-layout candidates diverge from in-memory join: ${stored.diff(inMem).take(3)} / ${inMem.diff(stored).take(3)}")
  }

  test("shard export: one (lang, shard) partition dir per packed shard, pruned on read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val out = java.nio.file.Files.createTempDirectory("graft-shards-").toString
    graft.queries.DedupOps.writeShards(spark, dir, out)
    val back = Sinks.readPartitioned(spark, out)
    // layout == the d59 shard summary: same (lang, shard) set, same doc counts
    // partition-dir columns are type-inferred on read: shard comes back INT
    val dirCounts = back.groupBy(col("lang"), col("shard"))
      .count().collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) -> r.getLong(2)).toMap
    val summary = SparkEntry.queries("d59")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dirCounts == summary,
      s"shard layout diverges from d59: ${dirCounts.toSet.diff(summary.toSet).take(3)}")
    // a single-shard probe (what a training loader reads) prunes to ONE dir
    val one = summary.keys.head
    val probe = back.filter(col("lang") === one._1 && col("shard") === one._2)
    val scans = probe.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.head.selectedPartitions.partitionCount == 1,
      s"single-shard read touched ${scans.head.selectedPartitions.partitionCount} dirs")
    assert(back.count() == Tables.load(spark, dir, "documents").count())
  }

  test("bucketed tables join without a shuffle exchange") {
    import org.apache.spark.sql.internal.SQLConf
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Sinks.writeBucketed(Tables.load(spark, dir, "orders"), "orders_b", "o_custkey", 8)
      Sinks.writeBucketed(Tables.load(spark, dir, "customer"), "customer_b", "c_custkey", 8)
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() ==
        Tables.load(spark, dir, "orders").join(
          Tables.load(spark, dir, "customer"),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("incremental decontamination: stored bucketed index probes exchange-free, delta == in-memory recompute") {
    import graft.queries.DedupOps
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the bucket-join path
    try {
      DedupOps.writeTrainIndex(spark, dir, "train_idx_b", width = 3, buckets = 8)
      val newEval = DedupOps.evalShingles(spark, dir, 89, 1)
      // plan: the probe join must not reshuffle the index side — only the
      // (eval-set-sized) probe side gets an exchange. At 100 TB the index
      // is the corpus-sized side; this is the delta form's whole win.
      val probeJoin = spark.table("train_idx_b").join(newEval, "sh")
      val planStr = probeJoin.queryExecution.executedPlan.toString
      val nExchanges = "Exchange hashpartitioning".r.findAllIn(planStr).size
      assert(nExchanges <= 1,
        s"index side reshuffled ($nExchanges exchanges):\n$planStr")
      assert(planStr.contains("Bucketed: true"),
        s"index not read as a bucketed scan:\n$planStr")
      // correctness: probing the STORED index == the in-memory delta (the
      // d64 contract query) on the same new eval set
      val stored = DedupOps.decontaminateDelta(spark.table("train_idx_b"), newEval)
        .collect().map(_.toString).toSeq
      val inMem = SparkEntry.queries("d64")(spark, dir)
        .collect().map(_.toString).toSeq
      assert(stored.nonEmpty, "delta probe flagged nothing — eval class empty?")
      assert(stored == inMem,
        s"stored-index delta diverges from in-memory recompute: ${stored.diff(inMem).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS train_idx_b")
    }
  }

  test("stored postings index: probe exchange-free on the index side, equals in-memory t73") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.queries.TextOps
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // structural traversal
    try {
      TextOps.writePostingsIndex(spark, dir, "postings_idx_b", buckets = 8)
      val qdocs = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") < 10)
        .select(col("doc_id").as("qid"), col("text"))
      val probe = TextOps.probePostingsIndex(spark, "postings_idx_b", qdocs, 10)
      // structural claim: the index side enters its probe join bucketed and
      // WITHOUT an exchange — at 100 TB the postings are the corpus-sized
      // side, and not reshuffling them per probe is the layout's whole win
      val plan = probe.queryExecution.executedPlan
      val idxSides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }
        .flatten.filter(side =>
          side.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty)
      assert(idxSides.nonEmpty, s"no bucketed index scan under the probe join:\n$plan")
      idxSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"the postings index was reshuffled before its probe join:\n$side")
      }
      // correctness: the stored-index probe IS t73 (weights frozen at build
      // equal the live-computed ones — same corpus, same df)
      val stored = probe.collect().map(_.toString).toSeq
      val inMem = SparkEntry.queries("t73")(spark, dir)
        .collect().map(_.toString).toSeq
      assert(stored.nonEmpty && stored == inMem,
        s"stored-index probe diverges from t73: ${stored.diff(inMem).take(3)} " +
          s"/ ${inMem.diff(stored).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS postings_idx_b")
    }
  }

  test("incremental corpus report: stored bucketed state + chained deltas == full recompute") {
    import graft.queries.DedupOps
    try {
      val docs = Tables.load(spark, dir, "documents")
      // three arrival waves; state persisted as a bucketed table between them
      val w1 = docs.filter(col("doc_id") % 3 === 0)
      val w2 = docs.filter(col("doc_id") % 3 === 1)
      val w3 = docs.filter(col("doc_id") % 3 === 2)
      DedupOps.reportPartials(w1).write.mode("overwrite")
        .bucketBy(4, "source").sortBy("source", "keep", "split")
        .saveAsTable("report_state")
      // refresh with wave 2, store back, refresh with wave 3
      DedupOps.reportDelta(spark.table("report_state"), w2)
        .write.mode("overwrite").bucketBy(4, "source")
        .sortBy("source", "keep", "split").saveAsTable("report_state2")
      val refreshed = DedupOps.reportDelta(spark.table("report_state2"), w3)
        .collect().map(_.toString).sorted.toSeq
      val full = DedupOps.reportPartials(docs)
        .collect().map(_.toString).sorted.toSeq
      assert(refreshed.nonEmpty && refreshed == full,
        s"chained delta diverges from recompute: ${refreshed.diff(full).take(3)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS report_state")
      spark.sql("DROP TABLE IF EXISTS report_state2")
    }
  }

  test("ingestion dedup: stored corpus index probes without reshuffling either stored table; probe == in-memory d65") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.queries.DedupOps
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // structural plan traversal below
    try {
      DedupOps.writeIngestIndex(spark, dir, "ing_buckets", "ing_shingles", numBuckets = 8)
      val incoming = DedupOps.ingestIncoming(spark, dir)
      val probe = DedupOps.probeIngestIndex(spark, "ing_buckets", "ing_shingles", incoming, 0.8)
      // the delta claim, structurally: each join side that DIRECTLY reads a
      // stored table (no nested join below it) must be exchange-free — the
      // stored tables enter their joins pre-bucketed, while downstream
      // shuffles (candidate distinct, final aggregate) only ever carry
      // batch-sized data. (Exchanges above the joins are expected; an
      // exchange between a stored scan and its join is the regression.)
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val plan = probe.queryExecution.executedPlan
      val storedSides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }
        .flatten.filter { side =>
          side.collect { case jj: SortMergeJoinExec => jj }.isEmpty &&
            side.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty
        }
      assert(storedSides.size == 2,
        s"expected the 2 stored tables as direct join sides, got ${storedSides.size}:\n$plan")
      storedSides.foreach { side =>
        val ex = side.collect { case e: ShuffleExchangeExec => e }
        assert(ex.isEmpty, s"a stored index table was reshuffled before its join:\n$side")
      }
      // equivalence: the stored-index probe == the in-memory contract query
      val stored = probe.collect().map(_.toString).toSeq
      val inMem = SparkEntry.queries("d65")(spark, dir).collect().map(_.toString).toSeq
      assert(stored.nonEmpty, "probe flagged nothing — scenario degenerate")
      assert(stored == inMem,
        s"stored-index probe diverges from in-memory d65: ${stored.diff(inMem).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      spark.sql("DROP TABLE IF EXISTS ing_buckets")
      spark.sql("DROP TABLE IF EXISTS ing_shingles")
    }
  }

  test("ingestion index append: day-2 probe == probe against a rebuilt index, still exchange-free") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.queries.DedupOps
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the daily loop: day-1 index over part of the corpus, day-2 batch
      // accepted and APPENDED (never a rebuild), day-3 probe must see the
      // appended docs as corpus — identical to an index rebuilt from scratch
      val docs = DedupOps.hashedDocs(spark, dir)
      val m = DedupOps.IngestMod; val r = DedupOps.IngestResidue
      val day1 = docs.filter(col("doc_id") % m =!= r && col("doc_id") % m =!= (r + 2))
      val day2 = docs.filter(col("doc_id") % m === (r + 2))
      assert(day2.count() > 0, "day-2 batch empty — scenario degenerate")
      DedupOps.writeIngestIndexFrom(spark, day1, "app_buckets", "app_shingles", numBuckets = 8)
      DedupOps.appendIngestIndex(spark, "app_buckets", "app_shingles", day2)
      val incoming = DedupOps.ingestIncoming(spark, dir)
      val probe = DedupOps.probeIngestIndex(spark, "app_buckets", "app_shingles", incoming, 0.8)
      // the appended tables (now >1 file per bucket) must still enter their
      // joins pre-bucketed: no exchange between a stored scan and its join
      val plan = probe.queryExecution.executedPlan
      val storedSides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }
        .flatten.filter { side =>
          side.collect { case jj: SortMergeJoinExec => jj }.isEmpty &&
            side.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty
        }
      assert(storedSides.size == 2,
        s"expected the 2 appended tables as direct join sides, got ${storedSides.size}:\n$plan")
      storedSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"an appended index table was reshuffled before its join:\n$side")
      }
      // equivalence: probe-after-append == probe against an index rebuilt
      // from the full corpus (day1 + day2 == the %m != r class)
      DedupOps.writeIngestIndex(spark, dir, "rb_buckets", "rb_shingles", numBuckets = 8)
      val appended = probe.collect().map(_.toString).toSeq
      val rebuilt = DedupOps.probeIngestIndex(spark, "rb_buckets", "rb_shingles", incoming, 0.8)
        .collect().map(_.toString).toSeq
      assert(appended.nonEmpty, "probe flagged nothing — scenario degenerate")
      assert(appended == rebuilt,
        s"append diverged from rebuild: ${appended.diff(rebuilt).take(3)} / ${rebuilt.diff(appended).take(3)}")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      Seq("app_buckets", "app_shingles", "rb_buckets", "rb_shingles")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("train index append: delta decontamination after append == rebuilt index") {
    import graft.queries.DedupOps
    try {
      // day-1 index = train docs outside the %5==3 class; day-2 appends that
      // class's shingles (train membership rule %97 != 0 respected)
      Sinks.writeBucketed(
        DedupOps.trainIndex(spark, dir).filter(col("doc_id") % 5 =!= 3),
        "train_app_idx", "sh", 8)
      DedupOps.appendTrainIndex(spark, "train_app_idx",
        DedupOps.hashedDocs(spark, dir)
          .filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 5 === 3))
      DedupOps.writeTrainIndex(spark, dir, "train_rb_idx", width = 3, buckets = 8)
      val newEval = DedupOps.evalShingles(spark, dir, 89, 1)
      val appended = DedupOps.decontaminateDelta(spark.table("train_app_idx"), newEval)
        .collect().map(_.toString).toSeq
      val rebuilt = DedupOps.decontaminateDelta(spark.table("train_rb_idx"), newEval)
        .collect().map(_.toString).toSeq
      assert(appended.nonEmpty, "delta probe flagged nothing — eval class empty?")
      assert(appended == rebuilt,
        s"train append diverged from rebuild: ${appended.diff(rebuilt).take(3)}")
    } finally {
      spark.sql("DROP TABLE IF EXISTS train_app_idx")
      spark.sql("DROP TABLE IF EXISTS train_rb_idx")
    }
  }

  test("streaming dropDuplicates converges to batch distinct") {
    val events = graft.streaming.StreamingOps.eventsStream(spark, dir)
    val q = graft.streaming.StreamingOps.runToMemorySink(
      events.select(col("event_id"), col("event_type")).dropDuplicates("event_id"),
      "dedup_stream", org.apache.spark.sql.streaming.OutputMode.Append)
    try {
      val streamed = spark.table("dedup_stream").count()
      val batch = Tables.load(spark, dir, "events")
        .select(col("event_id")).distinct().count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("csv and json sources roundtrip the events table") {
    val events = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val base = java.nio.file.Files.createTempDirectory("graft-src-").toString
    events.write.option("header", "true").csv(s"$base/csv")
    events.write.json(s"$base/json")
    val fromCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$base/csv")
    val fromJson = spark.read.json(s"$base/json")
    events.write.orc(s"$base/orc")
    val fromOrc = spark.read.orc(s"$base/orc")
    assert(fromCsv.count() == events.count())
    assert(fromJson.count() == events.count())
    assert(fromOrc.count() == events.count())
    val expected = events.collect().map(_.toString).sorted
    assert(fromJson.select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .collect().map(_.toString).sorted.sameElements(expected))
  }

  test("persistKeyed caps per-session entries by LRU; evicted keys rebuild correctly") {
    import graft.queries.QueryUtil
    val s2 = spark.newSession()
    var builds = 0
    def mk(n: Int) = { builds += 1; s2.range(n).toDF("v") }
    val a = QueryUtil.persistKeyed(s2, "lru_a", mk(10))
    QueryUtil.persistKeyed(s2, "lru_b", mk(20))
    val b = QueryUtil.persistKeyed(s2, "lru_b", mk(20)) // hit — no rebuild
    assert(builds == 2, "memo hit must not rebuild")
    assert(b.count() == 20)
    val a2 = QueryUtil.persistKeyed(s2, "lru_a", mk(10)) // touch a: b becomes LRU
    assert(a2 eq a, "touch must return the memoized frame, not rebuild")
    // fill the session up to the cap with lazy entries (nothing runs)
    val fillers = SessionRegistry.maxPersisted - 2
    (0 until fillers).foreach(i => QueryUtil.persistKeyed(s2, s"lru_fill_$i", mk(i)))
    assert(builds == 2 + fillers)
    // a memoized outer plan before the eviction
    val q01 = SparkEntry.queries("q01")(s2, dir)
    assert(SparkEntry.queries("q01")(s2, dir) eq q01)
    QueryUtil.persistKeyed(s2, "lru_c", mk(30)) // one past the cap -> evicts b
    // r16: entries are lazy localCheckpoints — eviction drops the memo's
    // strong reference (the RDD persist is GC-cleaned by the
    // ContextCleaner), so the contract asserts are behavioral: the
    // survivor still HITS, the evicted key REBUILDS.
    assert(QueryUtil.persistKeyed(s2, "lru_a", mk(10)) eq a,
      "recently-used entry was evicted")
    assert(builds == 3 + fillers, "survivor hit must not rebuild")
    // an eviction drops the session's memoized plans, which could embed the
    // evicted entry and keep its blocks alive
    assert(!(SparkEntry.queries("q01")(s2, dir) eq q01),
      "LRU eviction must drop the session's plan memo")
    val b2 = QueryUtil.persistKeyed(s2, "lru_b", mk(20))
    assert(builds == 4 + fillers, "evicted key must rebuild through the memo")
    assert(b2.count() == 20)
  }

  test("unpersistKeyed evicts only the prefix; survivors keep answering without rebuild") {
    import graft.queries.QueryUtil
    val s2 = spark.newSession()
    var builds = 0
    def mk(n: Int) = { builds += 1; s2.range(n).toDF("v") }
    val p1 = QueryUtil.persistKeyed(s2, "probe:x:grams", mk(11))
    QueryUtil.persistKeyed(s2, "probe:x:res", mk(12))
    val other = QueryUtil.persistKeyed(s2, "shared:docs", mk(13))
    // a survivor OUTSIDE the prefix whose builder plan matches a removed
    // entry — prefix removal must not disturb it (r16: entries are lazy
    // localCheckpoints; removal drops the memo reference and the RDD
    // persist is GC-cleaned, so the asserts are behavioral)
    QueryUtil.persistKeyed(s2, "probe:x:twin", s2.range(13).toDF("v"))
    QueryUtil.unpersistKeyed(s2, "probe:x:")
    // entries outside the prefix still HIT (same frame, no rebuild) and
    // still answer
    val before = builds
    assert(QueryUtil.persistKeyed(s2, "shared:docs", mk(13)) eq other,
      "entry outside the prefix was evicted")
    assert(builds == before, "survivor hit must not rebuild")
    assert(other.count() == 13,
      "survivor stopped answering after the prefix eviction")
    // removed keys rebuild fresh through the memo (a new frame, not p1)
    val p1b = QueryUtil.persistKeyed(s2, "probe:x:grams", mk(11))
    assert(builds == before + 1, "removed key did not rebuild")
    assert(!(p1b eq p1) && p1b.count() == 11)
  }

  test("newSession isolates temp views but keeps clock semantics") {
    val g = graft.engine.GraftSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", "8").getOrCreate()
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("x", IntegerType)))
    g.registerTable("parent_only", graft.engine.DataTable(schema, Seq(Row(1))))
    val child = g.newSession()
    intercept[Exception] { child.sql("SELECT * FROM parent_only") }
    // clock rule still present in the child session
    val t1 = child.sql("SELECT current_timestamp() AS ts").rows.head.getTimestamp(0)
    Thread.sleep(10)
    val t2 = child.sql("SELECT current_timestamp() AS ts").rows.head.getTimestamp(0)
    assert(t2.after(t1))
  }

  test("stored interval index: probe exchange-free on the index side, == pointInInterval; append == rebuild") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.operators.{IntervalIndex, RangeJoin}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val w = 3600000000L // 1 h in µs — native TIMESTAMP family
      val sessions = Tables.load(spark, dir, "events")
        .filter(col("user_id") % 4 === 1)
        .select(col("event_id").as("rid"), col("ts").as("s_lo"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("s_hi"))
      val points = Tables.load(spark, dir, "events")
        .filter(col("user_id") % 4 === 2)
        .select(col("event_id").as("pid"), col("ts").as("pt"))
      IntervalIndex.write(spark, sessions, "s_lo", "s_hi", "iv_idx", w, numBuckets = 8)
      val probe = IntervalIndex.probePoints(spark, "iv_idx", points, "pt")
      // structural claim: the index enters the probe join bucketed and
      // WITHOUT an exchange — at 100 TB the interval history is the
      // corpus-sized side; not reshuffling it per batch is the layout's win
      val plan = probe.queryExecution.executedPlan
      val idxSides = plan.collect { case j: SortMergeJoinExec => Seq(j.left, j.right) }
        .flatten.filter(side =>
          side.collect { case f: FileSourceScanExec if f.bucketedScan => f }.nonEmpty)
      assert(idxSides.nonEmpty, s"no bucketed index scan under the probe join:\n$plan")
      idxSides.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"the interval index was reshuffled before its probe join:\n$side")
      }
      // semantics: probing the STORED index == the in-memory banded operator
      val stored = probe.select(col("pid"), col("rid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val inMem = RangeJoin.pointInInterval(points, sessions, "pt", "s_lo", "s_hi", w)
        .select(col("pid"), col("rid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(stored.nonEmpty, "probe matched nothing — scenario degenerate")
      assert(stored == inMem,
        s"stored probe diverges: ${stored.diff(inMem).take(3)} / ${inMem.diff(stored).take(3)}")
      // day-2: append half the sessions to an index built from the other
      // half; probe must equal the all-at-once index (and the full mirror)
      IntervalIndex.write(spark, sessions.filter(col("rid") % 2 === 0),
        "s_lo", "s_hi", "iv_idx_app", w, numBuckets = 8)
      IntervalIndex.appendIntervals(spark, sessions.filter(col("rid") % 2 =!= 0),
        "s_lo", "s_hi", "iv_idx_app")
      val appended = IntervalIndex.probePoints(spark, "iv_idx_app", points, "pt")
        .select(col("pid"), col("rid")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(appended == inMem,
        s"append diverged from rebuild: ${appended.diff(inMem).take(3)}")
      // width/family metadata round-trips; a mismatched probe family throws
      val datePoints = points.select(col("pid"), col("pt").cast("date").as("pt"))
      intercept[IllegalArgumentException] {
        IntervalIndex.probePoints(spark, "iv_idx", datePoints, "pt")
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.enabled")
      Seq("iv_idx", "iv_idx_app").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}

package graft

import graft.plans.AsofJoinRule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, Union => LUnion, Window => LWindow}
import org.apache.spark.sql.catalyst.expressions.RowNumber
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** AsofJoinRule: the row_number-over-theta-join AS-OF idiom must rewrite to
  * the union-stream window with results IDENTICAL to the stock plan — per
  * join type, direction, strictness and tie-break order, including the
  * inputs a contract query never exercises (duplicate probe tuples, null
  * keys, null times, tied quote times, keyless as-of). The rule stays
  * attached to shared sessions, so exactness must hold for every matched
  * shape, and every non-as-of lookalike must be left untouched. */
class AsofRuleSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = {
    // a session of its own, without GraftExtensions (which another suite's
    // session in the same JVM may carry): attach/detach then switch the rule
    // on and off, and no other rule rewrites the idiom's join
    val s = keepingSessions(SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .create())
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // probes: duplicate full tuple (k=a,pid=1 twice), null key, null time,
    // probe before every quote, probe after every quote, equal-instant probe
    val pSchema = StructType(Seq(StructField("k", StringType),
      StructField("pid", LongType), StructField("pt", LongType)))
    s.createDataFrame(java.util.Arrays.asList(
      Row("a", 1L, 10L), Row("a", 1L, 10L), Row("a", 2L, 20L), Row("a", 3L, 5L),
      Row("b", 4L, 100L), Row("b", 5L, 0L),
      Row(null, 6L, 10L), Row("a", 7L, null),
      Row("c", 8L, 50L)), pSchema).createOrReplaceTempView("ap")
    // quotes: tied times on (a, 10) with distinct qids (tie-break target),
    // null key, null time, key with no probes
    val qSchema = StructType(Seq(StructField("qk", StringType),
      StructField("qid", LongType), StructField("qt", LongType),
      StructField("v", DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(
      Row("a", 11L, 10L, 1.5), Row("a", 12L, 10L, 2.5), Row("a", 13L, 8L, 3.5),
      Row("a", 14L, 25L, 4.5),
      Row("b", 15L, 90L, 5.5), Row("b", 16L, 100L, 6.5),
      Row(null, 17L, 5L, 7.5),
      Row("a", 18L, null, 8.5),
      Row("z", 19L, 1L, 9.5)), qSchema).createOrReplaceTempView("aq")
    s
  }

  /** `create`'s session, leaving the JVM's default and active sessions as
    * they were. */
  private def keepingSessions(create: => SparkSession): SparkSession = {
    val default = SparkSession.getDefaultSession
    val active = SparkSession.getActiveSession
    try create
    finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  private def attach(): Unit =
    if (!spark.experimental.extraOptimizations.contains(AsofJoinRule))
      spark.experimental.extraOptimizations ++= Seq(AsofJoinRule)
  private def detach(): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == AsofJoinRule)

  /** rule-off vs rule-on rows (sorted stringified), plus rewrite proof. */
  private def check(sql: String, expectRewrite: Boolean = true): Unit = {
    detach()
    val off = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    attach()
    val dfOn = spark.sql(sql)
    val plan = dfOn.queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    if (expectRewrite) {
      assert(joins.isEmpty, s"expected join-free as-of rewrite:\n$plan")
      assert(plan.collect { case u: LUnion => u }.nonEmpty, s"no union stream:\n$plan")
      assert(plan.collect { case w: LWindow
          if w.windowExpressions.exists(_.exists(_.isInstanceOf[RowNumber])) => w }
        .isEmpty, s"per-probe row_number window survived:\n$plan")
    } else {
      assert(joins.nonEmpty, s"lookalike was rewritten but must not be:\n$plan")
    }
    val on = dfOn.collect().map(_.toString).sorted.toSeq
    assert(on == off && off.nonEmpty,
      s"missing=${off.diff(on).take(5)} extra=${on.diff(off).take(5)}")
  }

  private def idiom(join: String, ineq: String, order: String): String =
    s"""SELECT k, pid, pt, qt, qid, v FROM (
       | SELECT p.k, p.pid, p.pt, q.qt, q.qid, q.v,
       |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
       |    ORDER BY $order) AS rn
       | FROM ap p $join aq q ON p.k = q.qk AND q.qt $ineq p.pt) t
       |WHERE rn = 1""".stripMargin

  test("backward inclusive LEFT OUTER (ties broken by qid DESC)") {
    check(idiom("LEFT JOIN", "<=", "q.qt DESC, q.qid DESC"))
  }
  test("backward inclusive LEFT OUTER, min tie-break (qid ASC)") {
    check(idiom("LEFT JOIN", "<=", "q.qt DESC, q.qid ASC"))
  }
  test("backward strict LEFT OUTER (equal instant excluded)") {
    check(idiom("LEFT JOIN", "<", "q.qt DESC, q.qid DESC"))
  }
  test("backward inclusive INNER (unmatched probes drop)") {
    check(idiom("JOIN", "<=", "q.qt DESC, q.qid DESC"))
  }
  test("forward inclusive LEFT OUTER") {
    check(idiom("LEFT JOIN", ">=", "q.qt ASC, q.qid DESC"))
  }
  test("forward strict INNER") {
    check(idiom("JOIN", ">", "q.qt ASC, q.qid ASC"))
  }
  test("rn <= 1 spelling and flipped inequality operands") {
    check(
      """SELECT k, pid, qt, qid FROM (
        | SELECT p.k, p.pid, q.qt, q.qid,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM ap p LEFT JOIN q ON p.pt >= q.qt AND q.qk = p.k) t
        |WHERE rn <= 1""".stripMargin
        .replace("LEFT JOIN q", "LEFT JOIN aq q"))
  }
  test("RIGHT OUTER with the probe on the right") {
    check(
      """SELECT k, pid, pt, qt, qid FROM (
        | SELECT p.k, p.pid, p.pt, q.qt, q.qid,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM aq q RIGHT JOIN ap p ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1""".stripMargin)
  }
  test("keyless (global) as-of") {
    check(
      """SELECT pid, pt, qt, qid FROM (
        | SELECT p.pid, p.pt, q.qt, q.qid,
        |  row_number() OVER (PARTITION BY p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM (SELECT pid, pt FROM ap) p
        |  LEFT JOIN (SELECT qid, qt FROM aq) q ON q.qt <= p.pt) t
        |WHERE rn = 1""".stripMargin)
  }
  test("residual probe-side filter conjunct is reapplied on top") {
    check(
      """SELECT k, pid, qt, qid FROM (
        | SELECT p.k, p.pid, q.qt, q.qid,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM ap p JOIN aq q ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1 AND pid < 5""".stripMargin)
  }
  test("rewrite output feeds an aggregate (as-of as a subquery)") {
    check(
      """SELECT k, count(*) AS n, sum(qid) AS s FROM (
        | SELECT p.k, q.qid, row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |   ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM ap p LEFT JOIN aq q ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1 GROUP BY k""".stripMargin)
  }

  // --- lookalikes that MUST NOT fire (the stock plan is the semantics) ---
  test("no fire: partition by a probe-column subset (rank merges probe rows)") {
    check(
      """SELECT k, pid, qt FROM (
        | SELECT p.k, p.pid, q.qt,
        |  row_number() OVER (PARTITION BY p.k ORDER BY q.qt DESC, q.qid DESC, p.pid) AS rn
        | FROM ap p LEFT JOIN aq q ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1""".stripMargin, expectRewrite = false)
  }
  test("no fire: extra residual conjunct on the pair") {
    check(
      """SELECT k, pid, qt FROM (
        | SELECT p.k, p.pid, q.qt,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM ap p JOIN aq q
        |   ON p.k = q.qk AND q.qt <= p.pt AND q.v > p.pid) t
        |WHERE rn = 1""".stripMargin, expectRewrite = false)
  }
  test("no fire: two time inequalities (a band, not an as-of)") {
    check(
      """SELECT k, pid, qt FROM (
        | SELECT p.k, p.pid, q.qt,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC, q.qid DESC) AS rn
        | FROM ap p JOIN aq q
        |   ON p.k = q.qk AND q.qt <= p.pt AND q.qt >= p.pt - 5) t
        |WHERE rn = 1""".stripMargin, expectRewrite = false)
  }
  test("no fire: order head is not the joined quote time") {
    check(
      """SELECT k, pid, qt FROM (
        | SELECT p.k, p.pid, q.qt,
        |  row_number() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qid DESC) AS rn
        | FROM ap p JOIN aq q ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1""".stripMargin, expectRewrite = false)
  }
  test("no fire: rank() keeps ties (not a row_number)") {
    check(
      """SELECT k, pid, qt FROM (
        | SELECT p.k, p.pid, q.qt,
        |  rank() OVER (PARTITION BY p.k, p.pid, p.pt
        |    ORDER BY q.qt DESC) AS rn
        | FROM ap p JOIN aq q ON p.k = q.qk AND q.qt <= p.pt) t
        |WHERE rn = 1""".stripMargin, expectRewrite = false)
  }

  test("rewrite is deterministic across repartitionings") {
    attach()
    val sql = idiom("LEFT JOIN", "<=", "q.qt DESC, q.qid DESC")
    val base = spark.sql(sql).collect().map(_.toString).sorted.toSeq
    for (n <- Seq(1, 3, 7)) {
      spark.sql(s"SELECT /*+ REPARTITION($n) */ * FROM ap")
        .createOrReplaceTempView("ap2")
      val got = spark.sql(sql.replace("FROM ap p", "FROM ap2 p"))
        .collect().map(_.toString).sorted.toSeq
      assert(got == base, s"n=$n differs")
    }
  }

  test("local inputs on a session with GraftExtensions: the rewrite fires before the join fold") {
    // GraftExtensions also runs a join of two local relations on the
    // calling thread (DirectPlanStrategy, planned from the optimized plan);
    // the as-of rewrite must replace the idiom's join first, or the pair
    // explosion is built on the driver and still ranked by a window
    val g = keepingSessions(SparkSession.builder()
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      .withExtensions(new graft.engine.GraftExtensions)
      .create())
    Seq("ap", "aq").foreach { t =>
      val df = spark.table(t)
      g.createDataFrame(df.collect().toList.asJava, df.schema).createOrReplaceTempView(t)
      assert(g.table(t).queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    }
    detach()
    for ((join, ineq, order) <- Seq(("LEFT JOIN", "<=", "q.qt DESC, q.qid DESC"),
        ("JOIN", ">", "q.qt ASC, q.qid ASC"))) {
      val sql = idiom(join, ineq, order)
      val dfOn = g.sql(sql)
      val plan = dfOn.queryExecution.optimizedPlan
      assert(plan.collect { case j: Join => j }.isEmpty, s"expected join-free as-of rewrite:\n$plan")
      assert(plan.collect { case u: LUnion => u }.nonEmpty, s"no union stream:\n$plan")
      val off = spark.sql(sql).collect().map(_.toString).sorted.toSeq
      assert(dfOn.collect().map(_.toString).sorted.toSeq == off && off.nonEmpty)
    }
  }
}

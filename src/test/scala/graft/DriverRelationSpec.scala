package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DirectPlanExec, DriverRelation, GraftSession}

/** The facade's driver-resident tables (`DriverRelation`): registered
  * `DataTable`s and driver snapshots of small parquet tables. Reads over them
  * equal the same reads over live parquet views, ad-hoc texts that differ
  * only in a literal compile no generated class, and Spark plans over them
  * scan them with `LocalTableScanExec`. Each test runs on its own child
  * session. */
class DriverRelationSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val memSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("g", StringType), StructField("v", LongType)))

  /** 2000 seeded rows of (k, g, v), like the `serve_write` in-memory table. */
  private val memRows: Seq[Row] = {
    val r = new scala.util.Random(7)
    (0 until 2000).map(_ => Row(r.nextInt(50), s"g${r.nextInt(8)}", r.nextInt(1000).toLong))
  }

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-driverrel-$prefix-").toString

  /** Write `df` as parquet and read it back by path, job-free. */
  private def parquet(spark: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val dir = tmp(prefix)
    df.write.mode("overwrite").parquet(dir)
    Tables.readParquet(spark, dir)
  }

  /** A child facade with `orders` and `customer` registered through the
    * facade (driver snapshots on first read) and `mem_t` as a `DataTable`;
    * `orders_live`, `customer_live` and `mem_live` hold the same rows as
    * plain parquet views on the session, which Spark reads and joins. */
  private def session(): GraftSession = {
    val g = root.newSession()
    val spark = g.spark
    val orders = parquet(spark, spark.range(3000).selectExpr("id AS o_orderkey",
      "id % 300 AS o_custkey", "concat('p', id % 5) AS o_orderpriority",
      "cast(id * 7 % 1000 AS double) + 0.25 AS o_totalprice"), "orders")
    val customer = parquet(spark, spark.range(300).selectExpr("id AS c_custkey",
      "cast(id * 37 % 2000 AS double) - 1000 AS c_acctbal"), "customer")
    g.registerTable("orders", orders)
    g.registerTable("customer", customer)
    g.registerTable("mem_t", DataTable(memSchema, memRows))
    orders.createOrReplaceTempView("orders_live")
    customer.createOrReplaceTempView("customer_live")
    parquet(spark, spark.createDataFrame(memRows.asJava, memSchema), "mem")
      .createOrReplaceTempView("mem_live")
    g
  }

  /** `q` over the live parquet views instead of the facade's tables. */
  private def live(g: GraftSession, q: String): Seq[String] =
    g.spark.sql(q.replace("orders", "orders_live").replace("customer", "customer_live")
      .replace("mem_t", "mem_live")).collect().map(_.toString).toSeq.sorted

  private def sorted(dt: DataTable): Seq[String] = dt.rows.map(_.toString).sorted

  private def isDriverTable(g: GraftSession, name: String): Boolean =
    g.spark.table(name).queryExecution.analyzed.collectFirst { case r: DriverRelation => r }.nonEmpty

  /** Spark jobs started while `body` runs, and its value. */
  private def jobsDuring[T](g: GraftSession)(body: => T): (Int, T) = {
    val sc = g.spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(listener)
    try {
      val v = body
      ListenerBridge.drain(sc, 10000)
      (jobs.get(), v)
    } finally sc.removeSparkListener(listener)
  }

  /** The ad-hoc templates: the `serve_write` join over two snapshots, a
    * filtered aggregate over a `DataTable`, and a join of a snapshot with a
    * `DataTable`. Text `i` of a template differs from the others only in
    * its literals. */
  private val templates: Seq[Int => String] = Seq(
    i => "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders o " +
      f"JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > ${i * 47.31 - 1000}%.2f " +
      "GROUP BY o_orderpriority",
    i => s"SELECT g, count(*) AS n, sum(v) AS s FROM mem_t WHERE k % 7 = ${i % 7} AND v > ${i * 37} GROUP BY g",
    i => "SELECT c_custkey, m.g, m.v FROM customer c JOIN mem_t m ON c.c_custkey = m.k " +
      s"WHERE m.v > ${i * 43}")

  test("ad-hoc texts that differ only in a literal compile no generated class after a warm-up") {
    val g = session()
    // warm-up: the first texts collect the snapshots and compile the shapes
    for (t <- templates; i <- 0 until 2) g.sql(t(i))
    assert(isDriverTable(g, "orders") && isDriverTable(g, "customer") && isDriverTable(g, "mem_t"))
    val texts = for (t <- templates; i <- 2 until 22) yield t(i)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (jobs, results) = jobsDuring(g)(texts.map(q => sorted(g.sql(q))))
    val added = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(added == 0, s"${texts.size} ad-hoc texts compiled $added generated classes")
    assert(jobs == 0, s"ad-hoc reads over driver tables ran $jobs Spark jobs")
    assert(results == texts.map(live(g, _)))
    assert(results.forall(_.nonEmpty))
  }

  test("a self-join of one snapshot folds; a full outer join runs on LocalTableScanExec; both equal live reads") {
    val g = session()
    val self = "SELECT a.o_custkey, count(*) AS n, max(b.o_totalprice) AS mx FROM orders a " +
      "JOIN orders b ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey " +
      "WHERE a.o_totalprice > 900 GROUP BY a.o_custkey"
    assert(sorted(g.sql(self)) == live(g, self))
    assert(isDriverTable(g, "orders"))
    val folded = g.sqlDF(self).queryExecution.executedPlan
    assert(folded.isInstanceOf[DirectPlanExec], s"the self-join did not run on the calling thread:\n$folded")

    // a full outer join does not run on the calling thread: Spark joins the
    // two driver tables, each scanned by a LocalTableScanExec
    val full = "SELECT c.c_custkey, m.k, m.v FROM customer c FULL OUTER JOIN mem_t m " +
      "ON c.c_custkey = m.k + 280"
    assert(sorted(g.sql(full)) == live(g, full))
    val df = g.sqlDF(full)
    assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]))
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: LocalTableScanExec => s
    }
    assert(scans.size == 2, s"expected two local table scans:\n${df.queryExecution.executedPlan}")
  }

  test("executeAndRegister over a snapshot and a DataTable") {
    val g = session()
    val q = "SELECT o_orderpriority, count(*) AS n, sum(m.v) AS s FROM orders o " +
      "JOIN mem_t m ON o.o_custkey = m.k WHERE o.o_totalprice > 500 GROUP BY o_orderpriority"
    assert(g.executeAndRegister(q, "written") == 5L)
    assert(isDriverTable(g, "orders"))
    assert(sorted(g.sql("SELECT * FROM written")) == live(g, q))
    // the written table is checkpointed, not held on the driver
    assert(!isDriverTable(g, "written"))
  }

  test("clock and rand() reads of a DataTable stay live") {
    val g = session()
    val clock = "SELECT g, max(current_timestamp()) AS ts FROM mem_t GROUP BY g"
    def ts(): Long = g.sql(clock).rows.map(_.getTimestamp(1).getTime).max
    val t1 = ts()
    Thread.sleep(15)
    val t2 = ts()
    Thread.sleep(15)
    val t3 = ts()
    assert(t2 > t1 && t3 > t2, s"a clock read of a DataTable was frozen: $t1, $t2, $t3")
    // the clock aggregate runs on the calling thread and reads the clock of
    // each execution, not one bound into the cached plan
    val clocked = g.sqlDF(clock).queryExecution.executedPlan
    assert(clocked.isInstanceOf[DirectPlanExec], s"a clock aggregate is not a calling-thread plan:\n$clocked")

    // rand(7) over the same rows as a LocalRelation: the same values; the
    // plan stays a Spark plan and its rows are never frozen
    val rnd = "SELECT k, g, v, rand(7) AS r FROM mem_t"
    val before = g.cacheStats
    val runs = (1 to 3).map(_ => g.sql(rnd).rows.map(_.toString))
    g.spark.createDataFrame(memRows.asJava, memSchema).createOrReplaceTempView("mem_local")
    val stock = g.spark.sql(rnd.replace("mem_t", "mem_local")).collect().map(_.toString).toSeq
    assert(runs.forall(_ == stock), "rand(7) over a DataTable differs from Spark's")
    assert(g.cacheStats.resultHits == before.resultHits, "a rand() read was frozen")
    assert(!g.sqlDF(rnd).queryExecution.executedPlan.exists(_.isInstanceOf[DirectPlanExec]))
  }

  test("a DataTable registered on a session built without GraftExtensions is planned") {
    root
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    // a session of the shared context with no extensions: nothing injects
    // the strategy that plans a DriverRelation, so the facade adds it
    val plain = try SparkSession.builder().create() finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
    val g = GraftSession(plain)
    g.registerTable("plain_t", DataTable(memSchema, memRows))
    val q = "SELECT g, count(*) AS n, sum(v) AS s FROM plain_t GROUP BY g"
    val want = plain.createDataFrame(memRows.asJava, memSchema).groupBy("g")
      .agg(org.apache.spark.sql.functions.count("*"), org.apache.spark.sql.functions.sum("v"))
      .collect().map(_.toString).toSeq.sorted
    assert(sorted(g.sql(q)) == want)
    assert(g.table("plain_t").rowCount == 2000)
  }

  test("explain of a plan over a snapshot or a DataTable does not print its rows") {
    val g = root.newSession()
    val spark = g.spark
    val marked = parquet(spark, spark.range(50).selectExpr("id AS k", "concat('rowmark', id) AS s"), "marked")
    g.registerTable("marked", marked)
    g.registerTable("marked_dt", DataTable(StructType(Seq(StructField("s", StringType))),
      (0 until 50).map(i => Row(s"dtmark$i"))))
    assert(g.sql("SELECT count(*) AS n FROM marked").rows.head.getLong(0) == 50L)
    assert(isDriverTable(g, "marked") && isDriverTable(g, "marked_dt"))
    for (q <- Seq("SELECT k, s FROM marked", "SELECT s FROM marked_dt",
        "SELECT m.s, d.s FROM marked m FULL OUTER JOIN marked_dt d ON m.s = d.s")) {
      val df = g.sqlDF(q)
      df.collect()
      val text = df.queryExecution.toString + df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExtendedMode)
      assert(!text.contains("rowmark") && !text.contains("dtmark"), s"explain printed rows:\n$text")
      assert(text.contains("50 rows"), s"explain did not print the row count:\n$text")
    }
  }
}

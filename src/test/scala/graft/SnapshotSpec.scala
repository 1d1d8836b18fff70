package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.View
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, rand, udf}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DriverRelation, GraftSession}

/** Driver snapshots of small file tables registered through the facade:
  * which registrations get one, when it is taken, what wins a race, and
  * that facade reads over snapshots run no Spark job. Each test runs on its
  * own child session. */
class SnapshotSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-snapshot-$prefix-").toString

  /** Write `df` as parquet and read it back by path, job-free. */
  private def parquet(spark: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val dir = tmp(prefix)
    df.write.mode("overwrite").parquet(dir)
    Tables.readParquet(spark, dir)
  }

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

  /** The plan the catalog holds for the temp view `name`. */
  private def stored(g: GraftSession, name: String) =
    g.spark.table(name).queryExecution.analyzed

  private def isSnapshot(g: GraftSession, name: String): Boolean =
    stored(g, name).collectFirst { case r: DriverRelation => r }.nonEmpty &&
      stored(g, name).collectFirst { case l: LogicalRelation => l }.isEmpty

  private def sorted(dt: DataTable): Seq[String] = dt.rows.map(_.toString).sorted

  /** The `serve_write` join template (perfbench `Serve.scanSql`). */
  private def adhoc(bal: String): String =
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders o " +
      s"JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > $bal GROUP BY o_orderpriority"

  test("ad-hoc joins over small parquet tables registered through the facade run no Spark job") {
    val g = root.newSession()
    val spark = g.spark
    val orders = parquet(spark, spark.range(3000).selectExpr("id AS o_orderkey",
      "id % 300 AS o_custkey", "concat('p', id % 5) AS o_orderpriority",
      "cast(id * 7 % 1000 AS double) + 0.25 AS o_totalprice"), "orders")
    val customer = parquet(spark, spark.range(300).selectExpr("id AS c_custkey",
      "cast(id * 37 % 2000 AS double) - 1000 AS c_acctbal"), "customer")
    // the same tables as live views, which Spark joins
    orders.createOrReplaceTempView("orders_live")
    customer.createOrReplaceTempView("customer_live")
    def live(q: String) = spark.sql(q.replace("FROM orders o", "FROM orders_live o")
      .replace("JOIN customer c", "JOIN customer_live c")).collect().map(_.toString).toSeq.sorted

    val (registerJobs, _) = jobsDuring(g) {
      g.registerTable("orders", orders)
      g.registerTable("customer", customer)
    }
    assert(registerJobs == 0, "registration ran a Spark job")
    assert(!isSnapshot(g, "orders"), "the snapshot was taken before the first read")
    // the first read collects both tables, once
    val (firstJobs, first) = jobsDuring(g)(g.sql(adhoc("0.00")))
    assert(firstJobs == 2, s"the first read ran $firstJobs jobs")
    assert(sorted(first) == live(adhoc("0.00")))
    assert(isSnapshot(g, "orders") && isSnapshot(g, "customer"))
    // every later text, each with a new literal, is answered on the driver
    val bals = (1 to 8).map(i => f"${i * 211.37 - 1000}%.2f")
    val (jobs, results) = jobsDuring(g)(bals.map(b => sorted(g.sql(adhoc(b)))))
    assert(jobs == 0, s"ad-hoc reads over snapshots ran $jobs Spark jobs")
    assert(results == bals.map(b => live(adhoc(b))))

    // a write reads the snapshot too
    val agg = "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > 500 GROUP BY o_orderpriority"
    assert(g.executeAndRegister(agg, "agg_latest") == 5L)
    assert(sorted(g.sql("SELECT o_orderpriority, n FROM agg_latest")) ==
      live(agg.replace("FROM orders ", "FROM orders_live ")))
  }

  test("a table read through a view, a non-deterministic table and a streaming table stay live") {
    val g = root.newSession()
    val spark = g.spark
    val base = parquet(spark, spark.range(20).selectExpr("id AS k", "id * 2 AS v"), "base")
    g.registerTable("base", base)
    g.registerTable("nested", spark.table("base").where("k < 10"))
    val q = "SELECT sum(v) AS s FROM nested"
    assert(g.sql(q).rows.head.getLong(0) == 90L)
    assert(g.sql(q).rows.head.getLong(0) == 90L)
    assert(isSnapshot(g, "base"))
    // nested keeps reading base through its view, so the plans that read
    // nested depend on base, and a write to base drops them
    assert(stored(g, "nested").collect { case v: View => v.desc.identifier.table }.contains("base"))
    assert(!isSnapshot(g, "nested"), "a table read through a view got a snapshot")
    val before = g.cacheStats
    assert(before.entries == 1)
    g.registerTable("base", parquet(spark, spark.range(20).selectExpr("id AS k", "id * 3 AS v"), "base2"))
    assert(g.cacheStats.invalidated == before.invalidated + 1 && g.cacheStats.entries == 0)

    g.registerTable("noisy", base.withColumn("r", rand(3)))
    assert(g.sql("SELECT count(*) AS n FROM noisy").rows.head.getLong(0) == 20L)
    assert(!isSnapshot(g, "noisy"), "a non-deterministic table got a snapshot")

    val stream = spark.readStream.format("rate").load()
    g.registerTable("ticks", stream)
    assert(g.spark.table("ticks").isStreaming)
    assert(g.sql("SELECT count(*) AS n FROM base").rows.head.getLong(0) == 20L)
    assert(g.spark.table("ticks").isStreaming, "a streaming table was replaced")
  }

  test("tables over the size estimate or over the per-table byte bound stay live") {
    val g = root.newSession()
    val spark = g.spark
    // 400 000 random longs: about 3 MB of parquet, over the 2 MB estimate
    // bound (an eighth of the 16 MB per-table bound), so the first read does
    // not collect it: it runs the jobs of the same read over a plain view
    val wide = parquet(spark, spark.range(400000).selectExpr("xxhash64(id) AS k"), "wide")
    assert(wide.queryExecution.optimizedPlan.stats.sizeInBytes > (2L << 20))
    wide.createOrReplaceTempView("wide_live")
    g.registerTable("over_estimate", wide)
    val (liveJobs, _) = jobsDuring(g)(spark.sql("SELECT count(*) AS n FROM wide_live").collect())
    val (jobs, n) = jobsDuring(g)(g.sql("SELECT count(*) AS n FROM over_estimate").rows.head.getLong(0))
    assert(n == 400000L)
    assert(!isSnapshot(g, "over_estimate"))
    assert(jobs == liveJobs, s"the first read ran $jobs jobs, a plain read $liveJobs")

    // a few kB of parquet (one repeated string), but about 30 MB of rows in
    // the heap: under the estimate bound and over the per-table bound, so
    // the collected rows are dropped and the view stays
    val big = parquet(spark, spark.range(200000).selectExpr("id % 10 AS k", "repeat('x', 100) AS s"), "big")
    assert(big.queryExecution.optimizedPlan.stats.sizeInBytes < (2L << 20))
    g.registerTable("over_bound", big)
    assert(g.sql("SELECT count(*) AS n FROM over_bound").rows.head.getLong(0) == 200000L)
    assert(!isSnapshot(g, "over_bound"), "a table over the per-table bound got a snapshot")
    assert(g.sql("SELECT max(k) AS m FROM over_bound").rows.head.getLong(0) == 9L)
  }

  test("a re-registration during the first read's collect wins over the older snapshot") {
    val g = root.newSession()
    val spark = g.spark
    val a = parquet(spark, spark.range(10).selectExpr("id AS x"), "race-a")
    val b = parquet(spark, spark.range(100).selectExpr("id AS x"), "race-b")
    // a deterministic UDF keeps `a` a snapshot candidate and holds its
    // collect until the re-registration has returned
    import SnapshotSpec.{go, started}
    val hold = udf { (x: Long) =>
      started.countDown()
      go.await(60, TimeUnit.SECONDS)
      x
    }
    g.registerTable("t", a.select(hold(col("x")).as("x")))
    @volatile var firstRead: Long = -1L
    val reader = new Thread(() => firstRead = g.sql("SELECT sum(x) AS s FROM t").rows.head.getLong(0))
    reader.start()
    assert(started.await(60, TimeUnit.SECONDS), "the snapshot's collect did not start")
    g.registerTable("t", b)
    go.countDown()
    reader.join(60000)
    assert(firstRead == 4950L, s"the first read saw $firstRead, not the newer registration")
    assert(isSnapshot(g, "t"))
    assert(g.sql("SELECT count(*) AS n FROM t").rows.head.getLong(0) == 100L)
    assert(g.table("t").rowCount == 100)
  }

  /** Builds a child facade, uses it and drops it; returns a weak handle on
    * its session. */
  private def dropped(): WeakReference[SparkSession] = {
    val g = root.newSession()
    val kv = StructType(Seq(StructField("k", IntegerType)))
    g.registerTable("t", DataTable(kv, (1 to 10).map(i => Row(i))))
    g.sql("SELECT sum(k) AS s FROM t")
    g.sql("SELECT sum(k) AS s FROM t")
    new WeakReference(g.spark)
  }

  test("a session nobody references is collected with its facade") {
    val ref = dropped()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (ref.get != null && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(50)
    }
    assert(ref.get == null, "a dropped session is still reachable")
  }
}

object SnapshotSpec {
  /** Hold the collect of a snapshot in the race test (one-shot). */
  val started = new CountDownLatch(1)
  val go = new CountDownLatch(1)
}

package graft

import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DirectPlan, DirectPlanExec, DriverRelation, GraftSession}

/** `executeAndRegister` over driver-resident tables: the plan runs on the
  * calling thread, its rows are held on the driver within the snapshot
  * bounds and published under the name as a new version of the table, so
  * the cached plans that read the name survive a same-schema
  * re-materialization. A result over a bound, and a plan over other inputs,
  * is checkpointed by Spark instead. Each test runs on its own child
  * session. */
class MaterializeSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val memSchema = StructType(Seq(StructField("k", IntegerType),
    StructField("g", StringType), StructField("v", LongType)))

  /** 2000 seeded rows of (k, g, v). */
  private val memRows: Seq[Row] = {
    val r = new scala.util.Random(11)
    (0 until 2000).map(_ => Row(r.nextInt(50), s"g${r.nextInt(8)}", r.nextInt(1000).toLong))
  }

  private val kvSchema = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType)))

  /** 1100 rows on one key, v = 1..1100. */
  private val oneKey: Seq[Row] = (1 to 1100).map(i => Row(1, i.toLong))

  /** Write `df` as parquet and read it back by path, job-free. */
  private def parquet(spark: SparkSession, df: DataFrame, prefix: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-materialize-$prefix-").toString
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

  /** A child facade with the `DataTable`s `l` and `r` of `oneKey`, and
    * `lp` and `rp`, parquet copies that Spark joins. */
  private def joinSession(): GraftSession = {
    val g = root.newSession()
    Seq("l", "r").foreach { name =>
      g.registerTable(name, DataTable(kvSchema, oneKey))
      parquet(g.spark, g.spark.createDataFrame(oneKey.asJava, kvSchema), name)
        .createOrReplaceTempView(name + "p")
    }
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

  private def agg(price: Int): String =
    "SELECT o_orderpriority, count(*) AS n, sum(m.v) AS s, max(c.c_acctbal) AS b FROM orders o " +
      "JOIN customer c ON o.o_custkey = c.c_custkey JOIN mem_t m ON o.o_custkey = m.k " +
      s"WHERE o.o_totalprice > $price GROUP BY o_orderpriority"

  test("a materialization over a snapshot join and a DataTable runs no Spark job and is held on the driver") {
    val g = session()
    // the first read takes the snapshots of orders and customer
    g.sql("SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey")
    val (jobs, n) = jobsDuring(g)(g.executeAndRegister(agg(500), "written"))
    assert(jobs == 0, s"the materialization ran $jobs Spark jobs")
    assert(n == 5L)
    assert(isDriverTable(g, "written"))
    assert(sorted(g.sql("SELECT * FROM written")) == live(g, agg(500)))

    // over a table that is not driver-resident, the result is checkpointed
    val (spark, m) = jobsDuring(g)(g.executeAndRegister("SELECT k, v FROM mem_live WHERE v > 500", "spilled"))
    assert(spark > 0 && m == memRows.count(_.getLong(2) > 500))
    assert(!isDriverTable(g, "spilled"))
  }

  test("a same-schema re-materialization keeps the cached readers; a new column set drops them") {
    val g = session()
    val reader = "SELECT * FROM written"
    g.executeAndRegister(agg(500), "written")
    (1 to 3).foreach(_ => g.sql(reader))
    val before = g.cacheStats
    assert(before.resultHits == 1, s"the reader was not cached and frozen: $before")

    val (jobs, _) = jobsDuring(g)(g.executeAndRegister(agg(700), "written"))
    assert(jobs == 0)
    val kept = g.cacheStats
    assert(kept.rebinds == before.rebinds + 1 && kept.invalidated == before.invalidated, s"$kept")
    assert(sorted(g.sql(reader)) == live(g, agg(700)))
    val after = g.cacheStats
    assert(after.misses == before.misses && after.firstSightings == before.firstSightings &&
      after.planHits == before.planHits + 1, s"the reader was compiled again: $after")

    // another column set: the reader is dropped and compiled again
    val other = "SELECT o_orderpriority AS p, count(*) AS cnt FROM orders GROUP BY o_orderpriority"
    g.executeAndRegister(other, "written")
    val dropped = g.cacheStats
    assert(dropped.invalidated == after.invalidated + 1 && dropped.rebinds == after.rebinds, s"$dropped")
    val got = g.sql(reader)
    assert(got.schema.fieldNames.toSeq == Seq("p", "cnt"))
    assert(sorted(got) == live(g, other))
  }

  test("a result over the per-table bound is checkpointed, after copying at most the bound plus one row") {
    val g = joinSession()
    // 1100 x 1100 pairs on one key: 1.21 M rows of two longs, about 106 MB
    // on the heap, against 16 MB per table
    val q = "SELECT l.v AS a, r.v AS b FROM l JOIN r ON l.k = r.k"
    assert(g.spark.sql(q).queryExecution.executedPlan.isInstanceOf[DirectPlanExec])
    val copied = DirectPlan.joinRowsBuilt.sum
    val (jobs, n) = jobsDuring(g)(g.executeAndRegister(q, "pairs"))
    val held = DirectPlan.joinRowsBuilt.sum - copied
    assert(n == g.spark.sql(q.replace("FROM l ", "FROM lp l ").replace(" r ON", " rp r ON")).count())
    assert(n == 1210000L)
    assert(jobs > 0 && !isDriverTable(g, "pairs"))
    // each row is 24 bytes of data and DirectPlan.RowHeapBytes of overhead
    assert(held > 0 && (held - 1) * (24 + DirectPlan.RowHeapBytes) <= (16L << 20),
      s"the collection copied $held rows before giving up")
    assert(g.sql("SELECT count(*) AS n, sum(a) AS s FROM pairs").rows.head ==
      Row(1210000L, 1100L * (1100L * 1101 / 2)))
  }

  test("a result over the facade's bound is checkpointed; re-registering a held name releases its bytes") {
    val g = joinSession()
    /** 1100 * `n` rows of two longs: 96.8 KB per unit of `n`. */
    def pairs(n: Int): String = s"SELECT l.v AS a, r.v AS b FROM l JOIN r ON l.k = r.k WHERE r.v <= $n"
    // four results of about 16.5 MB each hold 65.8 of the facade's 64 MiB
    (1 to 4).foreach { i =>
      assert(g.executeAndRegister(pairs(170), s"held$i") == 1100L * 170)
      assert(isDriverTable(g, s"held$i"))
    }
    // about 3.9 MB more does not fit
    val (jobs, n) = jobsDuring(g)(g.executeAndRegister(pairs(40), "extra"))
    assert(n == 1100L * 40 && jobs > 0 && !isDriverTable(g, "extra"))
    assert(g.sql("SELECT count(*) AS n FROM extra").rows.head.getLong(0) == 1100L * 40)

    // a held name registered again as a small DataTable lets go of its bytes
    g.registerTable("held1", DataTable(kvSchema, Seq(Row(1, 1L))))
    val (again, m) = jobsDuring(g)(g.executeAndRegister(pairs(40), "extra"))
    assert(m == 1100L * 40 && again == 0 && isDriverTable(g, "extra"))
    // about 15.5 MB more fits only once a held name, registered again as a
    // DataFrame, lets go of its bytes too
    assert(g.executeAndRegister(pairs(160), "extra2") == 1100L * 160 && !isDriverTable(g, "extra2"))
    g.registerTable("held2", g.spark.range(3).toDF("id"))
    assert(g.executeAndRegister(pairs(160), "extra2") == 1100L * 160 && isDriverTable(g, "extra2"))
  }

  test("a clock column of a materialized query over a DataTable is frozen in the written table") {
    val g = session()
    val (jobs, _) = jobsDuring(g)(
      g.executeAndRegister("SELECT g, max(current_timestamp()) AS ts FROM mem_t GROUP BY g", "stamped"))
    assert(jobs == 0 && isDriverTable(g, "stamped"))
    val first = sorted(g.sql("SELECT g, ts FROM stamped"))
    Thread.sleep(15)
    val second = sorted(g.sql("SELECT g, ts FROM stamped"))
    assert(first == second && first.size == 8)
  }

  test("8 readers see a whole version at least as new as the one published when they began, while a writer materializes the table 200 times") {
    val g = root.newSession()
    g.registerTable("src", DataTable(memSchema, memRows))
    /** Version `n`: the source rows with (k + n) % 3 <> 0, `ver` = n. */
    def materialize(n: Long): Long = g.executeAndRegister(
      s"SELECT k, g, v, CAST($n AS BIGINT) AS ver FROM src WHERE (k + $n) % 3 <> 0", "w")
    val expected = TrieMap[Long, Set[(String, Long, Long)]]()
    def want(n: Long): Set[(String, Long, Long)] = expected.getOrElseUpdate(n,
      memRows.filter(r => (r.getInt(0) + n) % 3 != 0).groupBy(_.getString(1))
        .map { case (grp, rs) => (grp, rs.size.toLong, rs.map(_.getLong(2)).sum) }.toSet)
    val reader = "SELECT g, count(*) AS n, sum(v) AS s, min(ver) AS lo, max(ver) AS hi FROM w GROUP BY g"

    // warm-up before the writer starts: the reader is seen, cached, frozen
    materialize(0)
    (1 to 3).foreach(_ => g.sql(reader))
    val warm = g.cacheStats
    assert(warm.entries == 1 && warm.resultHits == 1, s"$warm")

    val published = new AtomicLong(0)
    val done = new AtomicBoolean(false)
    val stale, mixed, wrong, reads = new AtomicLong
    val pool = Executors.newFixedThreadPool(9)
    val (jobs, _) = jobsDuring(g) {
      val readers = (0 until 8).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit = while (!done.get()) {
            val atStart = published.get()
            val got = g.sql(reader)
            val lo = got.rows.map(_.getLong(3)).min
            val hi = got.rows.map(_.getLong(4)).max
            if (lo != hi) mixed.incrementAndGet()
            else if (lo < atStart) stale.incrementAndGet()
            else if (got.rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet != want(lo))
              wrong.incrementAndGet()
            reads.incrementAndGet()
          }
        })
      }
      val writer = pool.submit(new Runnable {
        override def run(): Unit =
          try (1 to 200).foreach { n =>
            assert(materialize(n.toLong) == memRows.count(r => (r.getInt(0) + n) % 3 != 0))
            published.set(n.toLong)
          } finally done.set(true)
      })
      writer.get(120, TimeUnit.SECONDS)
      readers.foreach(_.get(120, TimeUnit.SECONDS))
    }
    pool.shutdown()
    assert(reads.get() > 0)
    assert(mixed.get() == 0, s"${mixed.get()} of ${reads.get()} results paired two versions")
    assert(stale.get() == 0, s"${stale.get()} of ${reads.get()} results were older than the version published when they began")
    assert(wrong.get() == 0, s"${wrong.get()} of ${reads.get()} results matched no version")
    assert(jobs == 0, s"the reads and materializations ran $jobs Spark jobs")
    val s = g.cacheStats
    assert(s.rebinds >= warm.rebinds + 200 && s.invalidated == warm.invalidated, s"$s")
    assert(s.misses == warm.misses && s.firstSightings == warm.firstSightings && s.entries == 1,
      s"the reader was compiled again: $s")
    assert(g.sql(reader).rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want(200))
  }
}

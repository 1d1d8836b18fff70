package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DirectPlanExec, DriverRelation, GraftSession}

/** Late binding of registered `DataTable`s: re-registering one with the same
  * schema publishes a new version that the cached plans over it read on
  * their next execution (the reference's `NamedLocalRelation`); any other
  * re-registration drops those plans. Reads stay fresh under concurrent
  * writes, an execution reads one version, and a result frozen from a
  * version that was replaced meanwhile is never served. Each test runs on
  * its own child session. */
class RebindSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val schema = StructType(Seq(StructField("k", IntegerType), StructField("g", StringType),
    StructField("v", LongType), StructField("ver", LongType)))

  /** Version `n` of the table: 300 rows whose `ver` column is `n`. */
  private def rowsOf(n: Long): Seq[(Int, String, Long)] =
    (0 until 300).map(i => (i % 30, s"g${i % 4}", (i * 7L + n * 13) % 101))

  private def version(n: Long): DataTable =
    DataTable(schema, rowsOf(n).map { case (k, g, v) => Row(k, g, v, n) })

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

  private def sorted(dt: DataTable): Seq[String] = dt.rows.map(_.toString).sorted

  test("8 readers see a whole version at least as new as the one published when they began, while a writer re-registers every 5 ms") {
    val g = root.newSession()
    val spark = g.spark
    // a snapshot of a small parquet table, registered through the facade
    val dir = java.nio.file.Files.createTempDirectory("graft-rebind-snap-").toString
    spark.range(0, 30, 2).selectExpr("CAST(id AS INT) AS k", "concat('n', id % 5) AS name")
      .write.mode("overwrite").parquet(dir)
    g.registerTable("snap", Tables.readParquet(spark, dir))
    val names = (0 until 30 by 2).map(k => k -> s"n${k % 5}").toMap
    g.registerTable("t", version(0))

    val texts = IndexedSeq(
      "SELECT g, count(*) AS n, sum(v) AS s, min(ver) AS lo, max(ver) AS hi FROM t WHERE k % 3 = 0 GROUP BY g",
      "SELECT s.name AS g, count(*) AS n, sum(t.v) AS s, min(t.ver) AS lo, max(t.ver) AS hi " +
        "FROM t JOIN snap s ON t.k = s.k GROUP BY s.name",
      "SELECT CAST(a.k AS STRING) AS g, count(*) AS n, sum(b.v) AS s, " +
        "least(min(a.ver), min(b.ver)) AS lo, greatest(max(a.ver), max(b.ver)) AS hi " +
        "FROM t a JOIN t b ON a.k = b.k AND a.v < b.v GROUP BY a.k")
    /** (group, count, sum) of text `i` over version `n`, computed here. */
    val expected = TrieMap[(Int, Long), Set[(String, Long, Long)]]()
    def want(i: Int, n: Long): Set[(String, Long, Long)] = expected.getOrElseUpdate((i, n), {
      val rs = rowsOf(n)
      val groups = i match {
        case 0 => rs.filter(_._1 % 3 == 0).groupBy(_._2).view.mapValues(_.map(_._3))
        case 1 => rs.filter(r => names.contains(r._1)).groupBy(r => names(r._1)).view.mapValues(_.map(_._3))
        case _ => rs.groupBy(_._1.toString).view.mapValues { a =>
          a.flatMap(x => a.filter(_._3 > x._3).map(_._3)) }.filter(_._2.nonEmpty)
      }
      groups.map { case (k, vs) => (k, vs.size.toLong, vs.sum) }.toSet
    })

    // warm-up before the writer starts: each text is seen, cached, frozen
    for (i <- texts.indices; _ <- 1 to 3) g.sql(texts(i))
    val warm = g.cacheStats
    assert(warm.entries == texts.size && warm.resultHits == texts.size, s"$warm")

    val published = new AtomicLong(0)
    val done = new AtomicBoolean(false)
    val stale, mixed, wrong, reads = new AtomicLong
    val pool = Executors.newFixedThreadPool(9)
    val (jobs, _) = jobsDuring(g) {
      val readers = (0 until 8).map { c =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            var i = c
            while (!done.get()) {
              val atStart = published.get()
              val t = i % texts.size
              val got = g.sql(texts(t))
              val lo = got.rows.map(_.getLong(3)).min
              val hi = got.rows.map(_.getLong(4)).max
              if (lo != hi) mixed.incrementAndGet()
              else if (lo < atStart) stale.incrementAndGet()
              else if (got.rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet != want(t, lo))
                wrong.incrementAndGet()
              reads.incrementAndGet()
              i += 1
            }
          }
        })
      }
      val writer = pool.submit(new Runnable {
        override def run(): Unit = {
          try (1 to 300).foreach { n =>
            g.registerTable("t", version(n.toLong))
            published.set(n.toLong)
            Thread.sleep(5)
          } finally done.set(true)
        }
      })
      writer.get(120, TimeUnit.SECONDS)
      readers.foreach(_.get(120, TimeUnit.SECONDS))
    }
    pool.shutdown()
    assert(mixed.get() == 0, s"${mixed.get()} of ${reads.get()} results paired two versions")
    assert(stale.get() == 0, s"${stale.get()} of ${reads.get()} results were older than the version published when they began")
    assert(wrong.get() == 0, s"${wrong.get()} of ${reads.get()} results matched no version")
    assert(jobs == 0, s"the reads and writes ran $jobs Spark jobs")
    val s = g.cacheStats
    assert(s.rebinds > warm.rebinds && s.invalidated == warm.invalidated, s"$s")
    assert(s.misses == warm.misses && s.firstSightings == warm.firstSightings,
      s"cached texts were compiled again: $s")
    assert(s.driverRuns > warm.driverRuns && s.entries == texts.size, s"$s")
    texts.indices.foreach { i =>
      assert(g.sql(texts(i)).rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet == want(i, 300))
    }
  }

  test("a re-registration that changes the table drops the plans over it; one with the same schema, also through a SQL view, keeps them") {
    val g = root.newSession()
    val kv = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType)))
    def table(s: StructType, rows: Row*): DataTable = DataTable(s, rows)
    g.registerTable("t", table(kv, Row(1, 10L), Row(2, 20L)))
    val q = "SELECT * FROM t"
    /** `q` cached and frozen, then `change` drops it (or keeps it) and the
      * next read returns `want`. */
    def check(change: => Unit, want: Seq[String], kept: Boolean = false): Unit = {
      (1 to 3).foreach(_ => g.sql(q))
      val before = g.cacheStats
      assert(before.entries == 1 && before.resultHits >= 1, s"$before")
      change
      val after = g.cacheStats
      if (kept) assert(after.rebinds == before.rebinds + 1 && after.invalidated == before.invalidated &&
        after.entries == 1, s"$after")
      else assert(after.rebinds == before.rebinds && after.entries == 0, s"$after")
      assert(sorted(g.sql(q)) == want)
      assert(sorted(g.sql(q)) == want)
    }
    // the same schema: a new version of the same table
    check(g.registerTable("t", table(kv, Row(1, 11L))), Seq("[1,11]"), kept = true)
    // a column added
    val kvw = kv.add("w", StringType)
    check(g.registerTable("t", table(kvw, Row(1, 12L, "a"))), Seq("[1,12,a]"))
    assert(g.sqlDF(q).columns.toSeq == Seq("k", "v", "w"))
    // a column's type changed
    val kd = StructType(Seq(StructField("k", IntegerType), StructField("v", DoubleType)))
    check(g.registerTable("t", table(kd, Row(1, 1.5))), Seq("[1,1.5]"))
    // a column's nullability changed
    val kdn = StructType(Seq(StructField("k", IntegerType), StructField("v", DoubleType, nullable = false)))
    check(g.registerTable("t", table(kdn, Row(2, 2.5))), Seq("[2,2.5]"))
    assert(!g.sqlDF(q).schema("v").nullable)
    // the name registered as a parquet DataFrame: a pending snapshot, taken
    // by the next read
    val dir = java.nio.file.Files.createTempDirectory("graft-rebind-pq-").toString
    g.spark.range(3).selectExpr("CAST(id AS INT) AS k", "id * 100 AS v").write.mode("overwrite").parquet(dir)
    check(g.registerTable("t", Tables.readParquet(g.spark, dir)), Seq("[0,0]", "[1,100]", "[2,200]"))
    assert(g.spark.table("t").queryExecution.analyzed.collectFirst { case r: DriverRelation => r }.nonEmpty,
      "the parquet table got no snapshot")
    // back to a DataTable, then the view replaced by a command through sql
    check(g.registerTable("t", table(kv, Row(3, 30L))), Seq("[3,30]"))
    check(g.sql("CREATE OR REPLACE TEMP VIEW t AS SELECT 4 AS k, 40L AS v"), Seq("[4,40]"))
    // a DataTable of the first schema again: the command's view is replaced,
    // not written to through the old table
    check(g.registerTable("t", table(kv, Row(5, 50L))), Seq("[5,50]"))

    // a SQL view over the DataTable rebinds through the view
    g.sql("CREATE OR REPLACE TEMP VIEW tv AS SELECT k, v * 2 AS v2 FROM t WHERE k > 0")
    val vq = "SELECT sum(v2) AS s FROM tv"
    (1 to 3).foreach(_ => g.sql(vq))
    val before = g.cacheStats
    assert(g.sql(vq).rows.head.getLong(0) == 100L)
    g.registerTable("t", table(kv, Row(5, 51L), Row(6, 60L)))
    val after = g.cacheStats
    assert(after.rebinds == before.rebinds + 1 && after.invalidated == before.invalidated, s"$after")
    assert(g.sql(vq).rows.head.getLong(0) == 222L)
    assert(g.sqlDF(vq).queryExecution.executedPlan.isInstanceOf[DirectPlanExec])
  }

  test("a result frozen from a version replaced during its execution is not served") {
    val g = root.newSession()
    val kv = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType)))
    def table(v: Long): DataTable = DataTable(kv, (1 to 10).map(k => Row(k, v)))
    val armed = new AtomicBoolean(false)
    val entered, release = new CountDownLatch(1)
    // deterministic, so the plan runs on the calling thread; when armed, the
    // first row it sees waits until the test releases it
    g.spark.udf.register("hold", (x: Long) => {
      if (armed.getAndSet(false)) { entered.countDown(); release.await(60, TimeUnit.SECONDS) }
      x
    })
    g.registerTable("t", table(1))
    val q = "SELECT sum(hold(v)) AS s FROM t"
    def s(): Long = g.sql(q).rows.head.getLong(0)
    assert(s() == 10L && s() == 10L && s() == 10L)
    assert(g.cacheStats.resultHits == 1 && g.cacheStats.driverRuns == 2, s"${g.cacheStats}")
    g.registerTable("t", table(2))
    assert(g.cacheStats.rebinds == 1 && g.cacheStats.entries == 1)

    // an execution that read version 2 is held while version 3 is published
    armed.set(true)
    val held = Executors.newSingleThreadExecutor()
    val result = held.submit(() => s())
    assert(entered.await(60, TimeUnit.SECONDS), "the held execution never started")
    g.registerTable("t", table(3))
    release.countDown()
    assert(result.get(60, TimeUnit.SECONDS) == 20L, "the held execution did not read the version of its start")
    held.shutdown()
    val afterRace = g.cacheStats
    assert(afterRace.rebinds == 2 && afterRace.frozenBytes == 0, s"a result of a replaced version was frozen: $afterRace")
    // the next call runs the plan over version 3 (and freezes it)
    assert(s() == 30L)
    assert(g.cacheStats.resultHits == afterRace.resultHits && g.cacheStats.driverRuns == afterRace.driverRuns + 1)
    assert(s() == 30L && g.cacheStats.resultHits == afterRace.resultHits + 1)
    assert(g.cacheStats.misses == 1 && g.cacheStats.firstSightings == 1, "the plan was compiled again")
  }
}

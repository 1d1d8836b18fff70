package graft

import java.util.concurrent.Executors
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, GraftSession}
import graft.engine.GraftSession.CacheStats

/** The facade's plan cache: frozen results, invalidation of only the plans
  * a write touches, admission on the second sighting, clock plans, the
  * memory bounds and the counters. Each test runs on its own child session
  * (`newSession`), so its temp views and counters are its own. */
class PlanCacheSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()

  private val kv = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType)))

  /** `n` rows (i % 10, i * scale) for i in 1..n, computed from `range`: a
    * join of two `DataTable`s (driver-resident LocalRelations) folds on the
    * driver and runs no Spark job, while these plan real joins. */
  private def table(g: GraftSession, n: Int, scale: Long = 1L): DataFrame =
    g.spark.range(1, n + 1).selectExpr("CAST(id % 10 AS INT) AS k", s"id * $scale AS v")

  /** The rows of `table` as a `DataTable`, whose plans run on the driver. */
  private def local(n: Int, scale: Long = 1L): DataTable =
    DataTable(kv, (1 to n).map(i => Row(i % 10, i * scale)))

  /** A self-join and aggregate over `t`: a broadcast join below a shuffle,
    * so the cached executed plan re-runs only its result stage. */
  private def joinSql(t: String, above: Int = 0): String =
    s"SELECT a.k, count(*) AS n, max(b.v) AS mx FROM $t a JOIN $t b ON a.k = b.k " +
      s"WHERE a.v > $above GROUP BY a.k"

  private def sorted(dt: DataTable): Seq[String] = dt.rows.map(_.toString).sorted

  private def direct(g: GraftSession, q: String): Seq[String] =
    g.spark.sql(q).collect().map(_.toString).toSeq.sorted

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(g: GraftSession)(body: => Unit): Int = {
    val sc = g.spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(listener)
    try { body; ListenerBridge.drain(sc, 10000) }
    finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("a cached plan with a clock below an exchange reads the clock afresh on every call") {
    val g = root.newSession()
    g.registerTable("mem_t", table(g, 20))
    val q = "SELECT k % 2 AS p, max(current_timestamp()) AS ts FROM mem_t GROUP BY k % 2"
    def ts(): java.sql.Timestamp = g.sql(q).rows.map(_.getTimestamp(1)).maxBy(_.getTime)
    val t1 = ts()
    Thread.sleep(15)
    val t2 = ts()
    Thread.sleep(15)
    val t3 = ts()
    assert(t2.after(t1) && t3.after(t2), s"cached plan replayed its clock: $t1, $t2, $t3")

    // the clock in a filter below the exchange: rows due two seconds from
    // now must show up once they are due
    val now = System.currentTimeMillis() / 1000
    g.registerTable("due", DataTable(kv, (1 to 20).map(i => Row(i % 4, now + 2))))
    val dq = "SELECT k, count(*) AS n FROM due WHERE v < unix_timestamp() GROUP BY k"
    assert(g.sql(dq).rows.isEmpty)
    assert(g.sql(dq).rows.isEmpty)
    while (System.currentTimeMillis() / 1000 <= now + 2) Thread.sleep(50)
    assert(g.sql(dq).rows.map(_.getLong(1)).sum == 20L,
      "cached plan replayed the clock of its first run in a filter below the exchange")
    assert(g.cacheStats.resultHits == 0, "a clock plan was frozen")
  }

  test("a seeded non-deterministic plan keeps re-running its executed plan and is never frozen") {
    val g = root.newSession()
    g.registerTable("mem_t", table(g, 20))
    val q = "SELECT a.k, a.v, rand(7) AS r FROM mem_t a JOIN mem_t b ON a.k = b.k"
    val runs = (1 to 4).map(_ => sorted(g.sql(q)))
    assert(runs.distinct.size == 1, "a cached rand(7) plan changed its values")
    val s = g.cacheStats
    assert(s.resultHits == 0 && s.planHits == 2, s"$s")
  }

  test("reads see every write published before they began while a writer re-registers views") {
    val g = root.newSession()
    g.registerTable("ind_t", table(g, 50))
    g.registerTable("dep_t", table(g, 50, 1L))
    val depTexts = Seq(joinSql("dep_t"), joinSql("dep_t", 2))
    val indTexts = Seq(joinSql("ind_t"), joinSql("ind_t", 3))
    val indWant = indTexts.map(direct(g, _))
    // every text is cached and frozen before the writer starts: the first
    // write drops the entries over dep_t, and no write may drop the others
    (depTexts ++ indTexts).foreach(q => (1 to 2).foreach(_ => g.sql(q)))
    val warm = g.cacheStats
    assert(warm.entries == 4 && warm.heldPlans == 0 && warm.frozenBytes > 0, s"$warm")
    // version n of dep_t holds v = i * n, so max(b.v) over all keys is 50 * n
    def version(dt: DataTable): Long = dt.rows.map(_.getLong(2)).max / 50
    val published = new AtomicLong(1L)
    val done = new AtomicBoolean(false)
    val stale, wrong, reads, indReads = new AtomicLong
    val versions = 30
    val pool = Executors.newFixedThreadPool(5)
    val readers = (0 until 4).map { c =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          var i = c
          while (!done.get()) {
            val atStart = published.get()
            if (i % 2 == 0) {
              if (version(g.sql(depTexts((i / 2) % 2))) < atStart) stale.incrementAndGet()
            } else {
              val t = (i / 2) % 2
              if (sorted(g.sql(indTexts(t))) != indWant(t)) wrong.incrementAndGet()
              indReads.incrementAndGet()
            }
            reads.incrementAndGet()
            i += 1
          }
        }
      })
    }
    val writer = pool.submit(new Runnable {
      override def run(): Unit = {
        (2 to versions).foreach { n =>
          g.registerTable("dep_t", table(g, 50, n.toLong))
          published.set(n.toLong)
          Thread.sleep(20)
        }
        done.set(true)
      }
    })
    writer.get()
    readers.foreach(_.get())
    pool.shutdown()
    assert(stale.get() == 0, s"${stale.get()} of ${reads.get()} reads saw a version older than published")
    assert(wrong.get() == 0, s"${wrong.get()} reads of the untouched view were wrong")
    depTexts.foreach(q => assert(version(g.sql(q)) == versions))
    val s = g.cacheStats
    assert(s.resultHits - warm.resultHits >= indReads.get(),
      s"reads of the untouched view did not all come from the surviving frozen entries: $s")
    assert(s.invalidated >= depTexts.size, s"$s")
  }

  test("a write drops only the entries that read the view, through nested views, subqueries and db.table names") {
    val g = root.newSession()
    g.registerTable("base", table(g, 30))
    g.registerTable("other", table(g, 30))
    g.registerTable("hello.world", table(g, 30))
    // a view registered from a facade DataFrame over another view
    g.registerTable("nested", g.sqlDF("SELECT k, v FROM base WHERE v > 5"))
    val overBase = Seq(joinSql("base"), joinSql("nested"),
      "SELECT k, count(*) AS n FROM other WHERE v IN (SELECT v + 1 FROM base) GROUP BY k")
    val overQualified = joinSql("hello__g__world")
    val untouched = Seq(joinSql("other"), joinSql("other", 7))
    val all = overBase ++ untouched :+ overQualified
    all.foreach(q => (1 to 3).foreach(_ => g.sql(q)))
    val warm = g.cacheStats
    assert(warm.entries == all.size && warm.invalidated == 0, s"$warm")

    g.registerTable("base", table(g, 30, 2L))
    val afterBase = g.cacheStats
    assert(afterBase.invalidated == overBase.size, s"$afterBase")
    assert(afterBase.entries == all.size - overBase.size, s"$afterBase")
    // the survivors still serve their frozen rows, with no Spark job
    val jobs = jobsDuring(g)((untouched :+ overQualified).foreach(q => g.sql(q)))
    assert(jobs == 0, s"surviving entries ran $jobs Spark job(s)")
    assert(g.cacheStats.resultHits == afterBase.resultHits + untouched.size + 1)
    // and the dropped ones read the new version
    assert(sorted(g.sql(joinSql("base"))) == direct(g, joinSql("base")))

    g.registerTable("hello.world", table(g, 30, 3L))
    assert(g.cacheStats.invalidated == overBase.size + 1)
    assert(sorted(g.sql(overQualified)) == direct(g, overQualified))
  }

  test("a temp view registered under a persistent table's name reaches the plans that read the table") {
    val g = root.newSession()
    val name = "plancache_shadow"
    g.spark.sql(s"DROP TABLE IF EXISTS $name")
    // a crashed prior run can leave the managed location behind without a
    // catalog entry; CREATE TABLE then fails on LOCATION_ALREADY_EXISTS
    val loc = new java.io.File(
      g.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name)
    def rm(f: java.io.File): Unit = { Option(f.listFiles()).foreach(_.foreach(rm)); f.delete() }
    if (loc.exists()) rm(loc)
    try {
      g.sql(s"CREATE TABLE $name USING parquet AS SELECT id % 3 AS k, id AS v FROM range(30)")
      val q = s"SELECT k, count(*) AS n FROM $name GROUP BY k"
      (1 to 3).foreach(_ => g.sql(q))
      assert(g.cacheStats.resultHits == 1, s"${g.cacheStats}")
      g.registerTable(name, table(g, 20))
      assert(sorted(g.sql(q)) == direct(g, q), "a read kept the shadowed persistent table's rows")
      assert(sorted(g.sql(q)) == Seq("[0,2]", "[1,2]", "[2,2]", "[3,2]", "[4,2]", "[5,2]",
        "[6,2]", "[7,2]", "[8,2]", "[9,2]"))
    } finally g.spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("a compile that overlaps a write to one of its views is not cached") {
    val g = root.newSession()
    // a DataTable: the test expression holds a closure, which cannot be
    // shipped to a Spark task
    g.registerTable("ov_t", local(10, 1L))
    // the analyzer type-checks WriteDuringCompile after it resolved ov_t;
    // when armed, another thread publishes a new version of ov_t right
    // then, in the middle of the compile, as a concurrent client would
    val armed = new AtomicBoolean(false)
    val version = new AtomicLong(1L)
    val write = () => if (armed.getAndSet(false)) {
      val n = version.incrementAndGet()
      val w = new Thread(() => g.registerTable("ov_t", local(10, n)))
      w.start()
      w.join()
    }
    g.spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "write_ov_t", _ => PlanCacheSpec.WriteDuringCompile(write), "scala_udf")
    val q = "SELECT max(v) + write_ov_t() AS mx FROM ov_t"
    def mx(): Long = g.sql(q).rows.head.getLong(0)
    armed.set(true)
    mx() // first sighting; version 2 is published during its compile
    armed.set(true)
    mx() // second sighting; version 3 is published during its compile
    assert(version.get() == 3L)
    assert(g.cacheStats.entries == 0, "a compile that overlapped a write was cached")
    assert(mx() == 30L && mx() == 30L, "a stale plan was cached")
    assert(g.cacheStats.entries == 1)
  }

  test("texts over an untouched view are cached while a writer re-registers another view") {
    val g = root.newSession()
    g.registerTable("calm_t", local(10))
    g.registerTable("busy_t", local(10))
    // each compile of the texts below sleeps 60 ms in the analyzer, so
    // every one of them overlaps a write to busy_t
    g.spark.sessionState.functionRegistry.createOrReplaceTempFunction("slow_compile",
      _ => PlanCacheSpec.WriteDuringCompile(() => Thread.sleep(60)), "scala_udf")
    val texts = (0 until 4).map(i => s"SELECT max(v) + slow_compile() AS mx FROM calm_t WHERE v > $i")
    val done = new AtomicBoolean(false)
    val writes = new AtomicInteger
    val writer = new Thread(() => while (!done.get()) {
      g.registerTable("busy_t", local(10, writes.incrementAndGet().toLong))
      Thread.sleep(25)
    })
    writer.start()
    val mx = try texts.map(q => (1 to 3).map(_ => g.sql(q).rows.head.getLong(0))) finally {
      done.set(true)
      writer.join()
    }
    assert(mx.flatten.forall(_ == 10L))
    assert(writes.get() >= 2 * texts.size, s"only ${writes.get()} writes")
    val s = g.cacheStats
    // each text: a first sighting, a miss that caches it, a frozen result
    assert(s.entries == texts.size && s.misses == texts.size && s.resultHits == texts.size,
      s"texts over an untouched view were not cached: $s")
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.isFinalPlan
      case p => fail(s"expected an adaptive plan, got:\n$p")
    }

  test("frozen entries release their executed plan; results over the bound and pinned plans are bounded") {
    val g = root.newSession()
    g.registerTable("mem_t", table(g, 40))
    val q = joinSql("mem_t")
    assert(jobsDuring(g)(g.sql(q)) > 0, "the join ran no Spark job")
    assert(jobsDuring(g)(g.sql(q)) > 0, "the join ran no Spark job")
    assert(g.cacheStats.heldPlans == 0, s"a frozen entry kept its executed plan: ${g.cacheStats}")
    assert(!finalPlan(g.sqlDF(q)), "a frozen entry kept its executed plan")
    val want = direct(g, q)
    assert(jobsDuring(g)(assert(sorted(g.sql(q)) == want)) == 0)

    // about 6 MB of rows: over the per-entry bound, so the executed plan is
    // kept and run again
    val big = "SELECT id % 20000 AS k, max(repeat('x', 100)) AS pad FROM range(40000) GROUP BY 1"
    g.sql(big)
    g.sql(big)
    val before = g.cacheStats
    assert(jobsDuring(g)(assert(g.sql(big).rowCount == 20000)) > 0)
    val after = g.cacheStats
    assert(after.planHits == before.planHits + 1 && after.resultHits == before.resultHits)
    assert(after.frozenBytes < (1L << 20), s"$after")

    // plans that re-run their executed plan are capped at 8: `big` and ten
    // seeded-rand texts make 11, so the three least recently used go
    (1 to 10).foreach { i =>
      val r = s"SELECT a.k, rand($i) AS r FROM mem_t a JOIN mem_t b ON a.k = b.k"
      g.sql(r)
      g.sql(r)
    }
    // q's DataFrame, lent by sqlDF above, is let go of first
    val capped = g.cacheStats
    assert(capped.evictions == 3 && capped.entries == 1 + 8 && capped.heldPlans == 8, s"$capped")

    // executeAndRegister compiles without the cache
    val snap = "SELECT k, v FROM mem_t WHERE v > 3"
    assert(g.executeAndRegister(snap, "snap.t") == 37L)
    assert(g.executeAndRegister(snap, "snap.t") == 37L)
    assert(g.cacheStats == capped)
  }

  test("DataFrames run through sqlDF count toward the bound on entries that hold a plan") {
    val g = root.newSession()
    g.registerTable("mem_t", table(g, 40))
    // twelve texts cached and run only through sqlDF: none is settled, so
    // each holds the plan its caller ran
    val texts = (1 to 12).map(i => joinSql("mem_t", i))
    val jobs = jobsDuring(g)(texts.foreach { t =>
      g.sqlDF(t)
      g.sqlDF(t).collect()
    })
    assert(jobs >= texts.size, s"${texts.size} joins ran $jobs Spark jobs")
    val s = g.cacheStats
    assert(s.heldPlans == 8 && s.entries == 8 && s.evictions == 4, s"$s")

    // a frozen entry's DataFrame, run by its caller, is let go of once
    // other texts' DataFrames fill the bound
    val fq = joinSql("mem_t", 20)
    g.sql(fq)
    g.sql(fq)
    val lent = g.sqlDF(fq)
    assert(g.sqlDF(fq) eq lent, "sqlDF returned a new DataFrame for an unchanged frozen entry")
    assert(jobsDuring(g)(lent.collect()) > 0, "the lent DataFrame ran no Spark job")
    assert(finalPlan(lent))
    texts.take(8).foreach { t =>
      g.sqlDF(t)
      g.sqlDF(t).collect()
    }
    assert(g.cacheStats.heldPlans <= 8, s"${g.cacheStats}")
    val again = g.sqlDF(fq)
    assert((again ne lent) && !finalPlan(again), "a frozen entry kept a DataFrame its caller ran")
    assert(sorted(g.sql(fq)) == direct(g, fq))
  }

  test("cacheStats counts a scripted sequence of calls") {
    val g = root.newSession()
    g.registerTable("t", table(g, 20))
    val q = joinSql("t")
    val clock = "SELECT k, max(current_timestamp()) AS ts FROM t GROUP BY k"
    g.sql(q) // first sighting
    g.sql(q) // miss: cached, run, frozen
    g.sql(q) // result hit
    g.sqlDF(q) // plan hit
    g.sql(clock) // first sighting
    g.sql(clock) // miss: the analyzed plan is cached
    g.sql(clock) // planned afresh
    g.sql("SELECT 1 AS once") // first sighting
    g.sql("CREATE OR REPLACE TEMPORARY VIEW cmd_v AS SELECT 1 AS x") // drops both entries
    g.sql(q) // miss: the text stays admitted
    g.registerTable("t", table(g, 20, 2L)) // drops q
    g.sql(q) // miss
    g.sql(q) // result hit
    val s = g.cacheStats
    assert(s.frozenBytes > 0)
    assert(s.copy(frozenBytes = 0) == CacheStats(resultHits = 2, planHits = 1, misses = 4,
      firstSightings = 3, commands = 1, clockReplans = 1, invalidated = 3, evictions = 0,
      entries = 1, heldPlans = 0, frozenBytes = 0))
  }
}

object PlanCacheSpec {
  /** The constant 0, whose type check runs `hook`: a way to act in the
    * middle of a compile, after the catalog lock is released. */
  final case class WriteDuringCompile(hook: () => Unit) extends LeafExpression
      with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = {
      hook()
      TypeCheckResult.TypeCheckSuccess
    }
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = 0L
  }
}

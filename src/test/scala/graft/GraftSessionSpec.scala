package graft

import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DirectPlanExec, GraftSession}

/** Facade parity specs mirroring the reference's DirectExecSuite method:
  * differential testing of the cached-plan path against direct spark.sql on
  * the same session, plus the reference's own fixtures (people/people2,
  * FIXTURES.md A.1) and its time-advance + concurrency scenarios. */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val g: GraftSession = {
    val s = GraftSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .getOrCreate()
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("age", IntegerType), StructField("genda", IntegerType)))
    s.registerTable("people", DataTable(schema, Seq(
      Row("a", 2, 0), Row("bbb", 2, 1), Row("c", 3, 0), Row("ddd", 4, 1), Row("e", 5, 1))))
    s.registerTable("people2", DataTable(schema, Seq(
      Row("a", 1, 0), Row("b", 2, 1), Row("c", 3, 0))))
    // the rows of people2, computed from `range`: a join of two DataTables
    // (driver-resident) runs on the calling thread with no Spark job, while a
    // join with this one plans a real join
    s.registerTable("people2_live", s.spark.range(3).selectExpr("char(97 + id) AS name",
      "CAST(id + 1 AS INT) AS age", "CAST(id % 2 AS INT) AS genda"))
    s
  }

  /** The local property that marks the jobs of the executing arms below. */
  private val ArmKey = "graft.test.arm"

  /** Spark jobs started while `body` runs from threads whose local
    * property `ArmKey` is set, and the value of `body`. */
  private def armJobs[T](body: => T): (Int, T) = {
    val sc = g.spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(ArmKey) != null)) { jobs.incrementAndGet(); () }
    }
    org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      (jobs.get(), v)
    } finally sc.removeSparkListener(listener)
  }

  /** `call` with the local property `ArmKey` set on this thread. */
  private def inArm[T](call: => T): T = {
    g.spark.sparkContext.setLocalProperty(ArmKey, "exec")
    try call finally g.spark.sparkContext.setLocalProperty(ArmKey, null)
  }

  private def viewName(n: String) = n // registered unqualified below

  private def differential(sql: String): Unit = {
    val direct = g.spark.sql(sql).collect().map(_.toString).sorted
    val cached1 = g.sql(sql).rows.map(_.toString).sorted
    val cached2 = g.sql(sql).rows.map(_.toString).sorted // cache hit
    assert(cached1.sameElements(direct), s"cached vs direct for: $sql")
    assert(cached2.sameElements(direct), s"second (cached) run for: $sql")
  }

  test("differential: joins, agg, window, union (reference DirectExecSuite queries)") {
    differential("SELECT t1.name, t1.age, t2.age FROM people t1 JOIN people2 t2 ON t1.name = t2.name")
    differential("SELECT t1.name, t2.age FROM people t1 LEFT JOIN people2 t2 ON t1.name = t2.name")
    differential("SELECT t1.name, t2.age FROM people t1 RIGHT JOIN people2 t2 ON t1.name = t2.name")
    differential("SELECT name FROM people t1 WHERE EXISTS (SELECT 1 FROM people2 t2 WHERE t1.name = t2.name)")
    differential("SELECT age, count(name) AS n FROM people GROUP BY age")
    differential("SELECT name, row_number() OVER (PARTITION BY genda ORDER BY age, name) AS rn FROM people")
    differential("SELECT name FROM people UNION SELECT name FROM people2")
    differential("SELECT name, age FROM people GROUP BY GROUPING SETS ((name), (age)) , name, age".replace("GROUP BY GROUPING SETS ((name), (age)) , name, age", "GROUP BY GROUPING SETS ((name), (age))"))
    differential("SELECT 1 AS m, 'a' AS n")
    differential("SELECT name FROM people WHERE 1 = 0")
    differential("SELECT name, age FROM people ORDER BY age DESC, name LIMIT 3")
    // reference example queries (SparkDirectSQLExample): LATERAL VIEW,
    // substring over join, approx_count_distinct
    differential("SELECT name, genda, pair FROM people LATERAL VIEW explode(split(name, '')) t AS pair")
    differential("SELECT substring(t1.name, 1, 2) AS pre, t2.age FROM people t1 LEFT JOIN people2 t2 ON t1.name = t2.name")
    differential("SELECT genda, approx_count_distinct(name) AS n FROM people GROUP BY genda")
    // null-aware anti join (NOT IN), incl. a null-producing subquery
    differential("SELECT name FROM people WHERE name NOT IN (SELECT name FROM people2)")
    differential("SELECT name FROM people WHERE name NOT IN (SELECT nullif(name, 'a') FROM people2)")
  }

  test("db.table qualified temp views (reference testTempView/db namespace)") {
    g.executeAndRegister("SELECT name, age FROM people WHERE age >= 3", "hello.world")
    val dt = g.table("hello.world")
    assert(dt.rowCount == 3)
    assert(g.sql("SELECT count(*) AS n FROM hello__g__world").rows.head.getLong(0) == 3)
  }

  test("executeAndRegister of a command statement still registers its result rows") {
    // commands execute eagerly at plan construction; the snapshot path
    // (localCheckpoint of a CommandResult) must not choke on them
    val n = g.executeAndRegister("SHOW FUNCTIONS LIKE 'abs'", "cmd.out")
    assert(n == 1L)
    assert(g.table("cmd.out").rows.head.getString(0).contains("abs"))
  }

  test("executeAndRegister stays distributed: snapshot view is not a driver-heap LocalRelation") {
    val n = g.executeAndRegister(
      "SELECT id, id * 2 AS v FROM range(100000)", "snap.big")
    assert(n == 100000L)
    val view = g.spark.table("snap__g__big")
    // the old collect-and-recreate path produced a LocalRelation (all rows on
    // the driver); the checkpointed path scans executor-held partitions
    val analyzed = view.queryExecution.analyzed.toString
    assert(!analyzed.contains("LocalRelation"),
      s"snapshot materialized on the driver:\n$analyzed")
    assert(view.count() == 100000L)
    // snapshot is stable: re-registering under the same name replaces it,
    // but the handle we already resolved still reads the old snapshot data
    g.executeAndRegister("SELECT id FROM range(5)", "snap.big")
    assert(g.table("snap.big").rowCount == 5)
  }

  test("executeAndRegister snapshot does not pollute clock semantics of later sql() calls") {
    // a snapshot freezes its own clock values (correct: it is a
    // materialization), but a later sql() of the SAME text must see a live
    // clock — lineage severing keeps the CacheManager from matching it
    val sqlText = "SELECT current_timestamp() AS ts"
    g.executeAndRegister(sqlText, "snap.ts")
    val t1 = g.sql(sqlText).rows.head.getAs[java.sql.Timestamp](0).getTime
    Thread.sleep(15)
    val t2 = g.sql(sqlText).rows.head.getAs[java.sql.Timestamp](0).getTime
    assert(t2 > t1, s"clock frozen after executeAndRegister snapshot: $t1 vs $t2")
  }

  test("plan cache refreshes after re-register (reference lazy-view semantics)") {
    val schema = StructType(Seq(StructField("x", IntegerType)))
    g.registerTable("vt", DataTable(schema, Seq(Row(1), Row(2))))
    assert(g.sql("SELECT sum(x) AS s FROM vt").rows.head.getLong(0) == 3)
    g.registerTable("vt", DataTable(schema, Seq(Row(10), Row(20), Row(30))))
    assert(g.sql("SELECT sum(x) AS s FROM vt").rows.head.getLong(0) == 60)
  }

  test("local-relation fast path: project/filter/limit fold to a driver-side LocalRelation") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // the reference's regime: a small in-memory table answered without a
    // Spark job. ClockSafeConvertToLocalRelation must fold these plans over
    // a LocalRelation to a bare LocalRelation (collect on which never
    // submits a job); over a registered DataTable they run on the calling
    // thread in a DirectPlanExec, which binds the table's rows when it runs
    val schema = g.spark.table("people").schema
    g.spark.createDataFrame(g.sql("SELECT * FROM people").rows.asJava, schema)
      .createOrReplaceTempView("people_local")
    val text = "SELECT upper(name) AS n, age + 1 AS a FROM people WHERE age >= 3 LIMIT 2"
    val folded = g.sqlDF(text.replace("people", "people_local"))
    assert(folded.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      s"expected LocalRelation, got:\n${folded.queryExecution.optimizedPlan}")
    val direct = g.sqlDF(text).queryExecution.executedPlan
    assert(direct.isInstanceOf[DirectPlanExec], s"expected DirectPlanExec, got:\n$direct")
    assert(g.sql("SELECT upper(name) AS n FROM people WHERE age >= 3").rows.size == 3)
    assert(g.sql("SELECT upper(name) AS n FROM people_local WHERE age >= 3").rows.size == 3)
    // clock expressions must NOT fold — they'd freeze into the cached plan;
    // the calling-thread plan evaluates them at execution
    val clocked = g.sqlDF("SELECT name, current_timestamp() AS ts FROM people_local")
    assert(!clocked.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "clock expression was folded into a LocalRelation — frozen clock bug")
    assert(g.sqlDF("SELECT name, current_timestamp() AS ts FROM people")
      .queryExecution.executedPlan.isInstanceOf[DirectPlanExec])
    // non-deterministic expressions keep per-execution semantics too
    val random = g.sqlDF("SELECT name, rand() AS r FROM people_local")
    assert(!random.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      "rand() was folded — cached plan would replay identical values")
    assert(!g.sqlDF("SELECT name, rand() AS r FROM people")
      .queryExecution.executedPlan.exists(_.isInstanceOf[DirectPlanExec]),
      "rand() ran on the calling thread")
  }

  test("local-relation fast path: small aggregates fold driver-side (reference testAgg regime)") {
    def foldsTo[T](sql: String): Boolean =
      g.sqlDF(sql).queryExecution.executedPlan.isInstanceOf[DirectPlanExec]
    // grouped + global aggregates run on the calling thread (no job) and
    // their values match direct spark.sql (differential covers values)
    val grouped = "SELECT age, count(*) AS n, sum(genda) AS s, avg(age) + 1 AS a FROM people GROUP BY age"
    assert(foldsTo(grouped), s"grouped aggregate did not fold:\n${g.sqlDF(grouped).queryExecution.optimizedPlan}")
    differential(grouped)
    val global = "SELECT count(*) AS n, min(name) AS mn, max(age) AS mx FROM people"
    assert(foldsTo(global))
    differential(global)
    // global aggregate over zero rows still emits its one row (count=0)
    val empty = "SELECT count(*) AS n, sum(age) AS s FROM people WHERE 1 = 0"
    assert(foldsTo(empty))
    assert(g.sql(empty).rows.head.getLong(0) == 0L)
    differential(empty)
    // grouping expression reused inside the projection, non-trivial key
    val exprKey = "SELECT age % 2 AS par, (age % 2) * 10 + count(*) AS v FROM people GROUP BY age % 2"
    assert(foldsTo(exprKey))
    differential(exprKey)
    // guards: clock / non-determinism / distinct / imperative aggs fall back
    // to the distributed path (and still compute correctly)
    val distinctAgg = "SELECT count(DISTINCT age) AS n FROM people"
    assert(!foldsTo(distinctAgg), "DISTINCT aggregate must not fold")
    differential(distinctAgg)
    val imperative = "SELECT age, collect_list(name) AS xs FROM people GROUP BY age"
    assert(!foldsTo(imperative), "imperative (ObjectHashAggregate) function must not fold")
    // (non-deterministic aggregate inputs are rejected by the analyzer
    // itself.) A clock aggregate runs on the calling thread too, and reads
    // the clock of each execution: it is never frozen into the plan
    val clocked = "SELECT max(current_timestamp()) AS ts FROM people"
    assert(foldsTo(clocked))
    val t1 = g.sql(clocked).rows.head.getTimestamp(0)
    Thread.sleep(15)
    val t2 = g.sql(clocked).rows.head.getTimestamp(0)
    assert(t2.after(t1), s"clock frozen into a cached aggregate: $t1, $t2")
  }

  test("ORDER BY (and LIMIT) over a folded aggregate stays job-free and correctly ordered") {
    def onDriver(sql: String): Boolean =
      g.sqlDF(sql).queryExecution.executedPlan.isInstanceOf[DirectPlanExec]
    // reference-style micro-query: GROUP BY + ORDER BY + LIMIT, all on the
    // calling thread
    val q = "SELECT age, count(*) AS n FROM people GROUP BY age ORDER BY n DESC, age LIMIT 2"
    assert(onDriver(q),
      s"ORDER BY over the aggregate is not a calling-thread plan:\n${g.sqlDF(q).queryExecution.executedPlan}")
    // ORDER-SENSITIVE comparison (the differential helper sorts rows away)
    val direct = g.spark.sql(q).collect().map(_.toString).toSeq
    assert(g.sql(q).rows.map(_.toString) == direct)
    assert(g.sql(q).rows.map(_.toString) == direct, "second (cached) run")
    // nulls + direction semantics match the distributed sort
    val qn = "SELECT nullif(name, 'c') AS k FROM people ORDER BY k DESC NULLS LAST"
    assert(onDriver(qn))
    assert(g.sql(qn).rows.map(_.toString) ==
      g.spark.sql(qn).collect().map(_.toString).toSeq)
    // a non-deterministic sort key keeps per-execution semantics: a Spark plan
    val qr = "SELECT name FROM people ORDER BY rand()"
    assert(!g.sqlDF(qr).queryExecution.executedPlan.exists(_.isInstanceOf[DirectPlanExec]),
      "rand() sort key ran on the calling thread — it must keep Spark's per-execution values")
  }

  test("folded facade queries submit ZERO Spark jobs (listener-counted regression gate)") {
    // The ms-latency story (local_agg_ms/local_sort_ms in Bench; the
    // reference's whole regime) rests on folded plans never launching a
    // job. The plan-shape assertions above prove the fold HAPPENED; this
    // gate proves its runtime consequence directly — a collect over the
    // folded plan submits no job — so a future rule/conf change (like the
    // original ConvertToLocalRelation exclusion) that silently
    // re-introduces the ~0.2 s job floor fails here by construction.
    val sc = g.spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val folded = Seq(
      "SELECT genda, count(*) AS n, sum(age) AS s FROM people GROUP BY genda",
      "SELECT genda, count(*) AS n FROM people GROUP BY genda ORDER BY n DESC, genda LIMIT 3",
      "SELECT name, age FROM people WHERE age >= 3",
      "SELECT upper(name) AS u FROM people LIMIT 2")
    folded.foreach(q => g.sql(q)) // warm the plan cache (the cached regime)
    sc.addSparkListener(listener)
    try {
      folded.foreach(q => assert(g.sql(q).rows.nonEmpty))
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      assert(jobs.get() == 0,
        s"folded facade queries submitted ${jobs.get()} Spark job(s) — job floor re-introduced")
      // control: a deliberately non-foldable query through the SAME facade
      // and listener must count jobs, proving the counter observes this
      // session (a silently-detached listener would green-light anything)
      g.sql("SELECT genda, collect_list(name) AS ns FROM people GROUP BY genda")
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      assert(jobs.get() > 0,
        "control query counted no job — the listener is not observing this session")
    } finally sc.removeSparkListener(listener)
  }

  test("aggregate fold normalizes floating-point grouping keys (-0.0/NaN parity with distributed)") {
    def onDriver(sql: String): Boolean =
      g.sqlDF(sql).queryExecution.executedPlan.isInstanceOf[DirectPlanExec]
    // The calling-thread aggregate groups on raw UnsafeRow key bytes:
    // without its own normalization, -0.0 vs 0.0 and differing NaN bit
    // patterns split into separate groups while the distributed path
    // unifies them.
    val nanPayload = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)
    g.registerTable("fpk", DataTable(
      StructType(Seq(StructField("k", DoubleType), StructField("v", IntegerType))),
      Seq(Row(0.0d, 1), Row(-0.0d, 2), Row(Double.NaN, 3), Row(nanPayload, 4))))
    val q = "SELECT k, count(*) AS n, sum(v) AS s FROM fpk GROUP BY k"
    assert(onDriver(q), "double-keyed aggregate should still run on the driver (with normalized keys)")
    assert(g.sql(q).rows.size == 2, "expected exactly {0.0, NaN} after normalization")
    differential(q)
    // float keys take the same normalization path
    g.registerTable("fpkf", DataTable(
      StructType(Seq(StructField("k", FloatType))),
      Seq(Row(0.0f), Row(-0.0f), Row(Float.NaN),
        Row(java.lang.Float.intBitsToFloat(0x7fc00001)))))
    val qf = "SELECT k, count(*) AS n FROM fpkf GROUP BY k"
    assert(g.sql(qf).rows.size == 2)
    differential(qf)
    // floats nested inside a struct key are not normalized — must stay a Spark plan
    g.registerTable("fpks", DataTable(
      StructType(Seq(StructField("s",
        StructType(Seq(StructField("d", DoubleType)))))),
      Seq(Row(Row(0.0d)), Row(Row(-0.0d)))))
    val qs = "SELECT s, count(*) AS n FROM fpks GROUP BY s"
    assert(!g.sqlDF(qs).queryExecution.executedPlan.exists(_.isInstanceOf[DirectPlanExec]),
      "struct-of-double key must fall back to the distributed path")
    differential(qs)
  }

  test("aggregate/sort fold differential fuzz: random tables match direct spark.sql") {
    // seeded randomized differential over the driver-side fold (the
    // component where interpreted evaluation could silently diverge from
    // the distributed path): small tables with float specials (-0.0, NaN
    // payloads) as both grouping keys and aggregate inputs
    val rnd = new scala.util.Random(42)
    val specials = Array(0.0, -0.0, Double.NaN,
      java.lang.Double.longBitsToDouble(0x7ff8000000000001L), 1.5, -2.25, 1e300)
    (1 to 12).foreach { i =>
      val n = 1 + rnd.nextInt(40)
      val rows = Seq.fill(n)(Row(rnd.nextInt(4),
        specials(rnd.nextInt(specials.length)), rnd.nextInt(100).toLong))
      g.registerTable(s"fuzz_$i", DataTable(StructType(Seq(
        StructField("k", IntegerType), StructField("d", DoubleType),
        StructField("v", LongType))), rows))
      differential(s"SELECT k, count(*) AS n, sum(v) AS s, min(d) AS mn, max(d) AS mx FROM fuzz_$i GROUP BY k")
      differential(s"SELECT d, count(*) AS n, sum(v) AS s FROM fuzz_$i GROUP BY d")
      differential(s"SELECT k, sum(v) AS s FROM fuzz_$i GROUP BY k ORDER BY s DESC, k LIMIT 3")
    }
  }

  test("exec-time clock: cached plan's current_timestamp advances (reference testTime)") {
    val q = "SELECT current_timestamp() AS ts, name FROM people"
    val t1 = g.sql(q).rows.map(_.getTimestamp(0)).distinct
    assert(t1.size == 1, "clock must be frozen within one execution")
    Thread.sleep(15)
    val t2 = g.sql(q).rows.map(_.getTimestamp(0)).distinct
    assert(t2.size == 1)
    assert(t2.head.after(t1.head), s"cached plan returned stale time: $t1 vs $t2")
    // current_date consistent with the frozen instant (UTC session)
    val d = g.sql("SELECT current_date() AS d, current_timestamp() AS ts FROM people").rows.head
    assert(d.getDate(0).toString == d.getTimestamp(1).toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
    // localtimestamp() is also exec-time under the cache (ComputeCurrentTime
    // folds the stock LocalTimestamp; our rule swaps it too)
    val lq = "SELECT localtimestamp() AS lt FROM people LIMIT 1"
    val l1 = g.sql(lq).rows.head.getAs[java.time.LocalDateTime](0)
    Thread.sleep(15)
    val l2 = g.sql(lq).rows.head.getAs[java.time.LocalDateTime](0)
    assert(l2.isAfter(l1), s"cached localtimestamp went stale: $l1 vs $l2")
  }

  test("concurrent execution of one cached plan is correct (reference testMultiThread)") {
    val q = "SELECT t1.age, count(*) AS n FROM people t1 JOIN people2_live t2 ON t1.name = t2.name GROUP BY t1.age"
    val expected = g.spark.sql(q).collect().map(_.toString).sorted.mkString("|")
    val pool = Executors.newFixedThreadPool(8)
    val futures = (1 to 8).map { _ =>
      pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        override def call(): Seq[String] =
          (1 to 20).map(_ => g.sql(q).rows.map(_.toString).sorted.mkString("|"))
      })
    }
    // once sql() serves the text's frozen rows, the arm above reads a map;
    // this arm runs the cached DataFrame itself, so every call is Spark jobs
    val (jobs, executed) = armJobs {
      val executing = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = inArm(
            (1 to 5).map(_ => g.sqlDF(q).collect().map(_.toString).sorted.mkString("|")))
        })
      }
      executing.flatMap(_.get().toSeq)
    }
    val results = futures.flatMap(_.get().toSeq)
    pool.shutdown()
    assert(results.forall(_ == expected), "concurrent cached executions diverged")
    assert(executed.forall(_ == expected), "concurrent executions of the cached DataFrame diverged")
    assert(jobs >= executed.size, s"${executed.size} executions of the cached DataFrame ran $jobs Spark jobs")
  }

  test("commands bypass the plan cache: repeated INSERT executes twice") {
    g.spark.sql("DROP TABLE IF EXISTS cmdtest")
    // a crashed prior run can leave the managed location behind without a
    // catalog entry; CREATE TABLE then fails on LOCATION_ALREADY_EXISTS
    val loc = new java.io.File(
      g.spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "cmdtest")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
    g.sql("CREATE TABLE cmdtest (x INT) USING parquet")
    g.sql("INSERT INTO cmdtest VALUES (1)")
    g.sql("INSERT INTO cmdtest VALUES (1)") // identical text: must NOT replay from cache
    assert(g.sql("SELECT count(*) AS n FROM cmdtest").rows.head.getLong(0) == 2)
    g.spark.sql("DROP TABLE cmdtest")
  }

  test("DDL through sql() invalidates cached SELECT plans") {
    g.sql("CREATE OR REPLACE TEMPORARY VIEW ddlv AS SELECT 1 AS x")
    assert(g.sql("SELECT sum(x) AS s FROM ddlv").rows.head.getLong(0) == 1)
    g.sql("CREATE OR REPLACE TEMPORARY VIEW ddlv AS SELECT 5 AS x")
    assert(g.sql("SELECT sum(x) AS s FROM ddlv").rows.head.getLong(0) == 5,
      "cached plan must not survive a view replacement issued via sql()")
  }

  test("one facade per SparkSession (invalidation cannot split-brain)") {
    val g2 = graft.engine.GraftSession.builder().getOrCreate()
    val g3 = graft.engine.GraftSession.builder().getOrCreate()
    assert(g2 eq g3)
    assert(graft.engine.GraftSession(g2.spark) eq g2)
  }

  // The hive-UDF surface (reference testHiveUdf and beyond: simple UDF +
  // both UDAF styles + GenericUDTF + permanent CREATE FUNCTION) is proven by
  // HiveSurfaceSpec, which forks graft.HiveCheck into its own JVM — the hive
  // session catalog is a SharedState-static choice, so it can only activate
  // in a JVM whose FIRST SparkSession enables it, which a shared test JVM
  // cannot guarantee. An in-suite variant lived here until round 4 but could
  // only ever self-cancel; the forked spec is the real gate.

  test("facade pins lenient (pre-ANSI) cast semantics like the reference") {
    val r = g.sql("SELECT CAST('abc' AS INT) AS x, 'a' || 1 AS y FROM people LIMIT 1").rows.head
    assert(r.isNullAt(0), "bad cast must yield null, not error (Spark 2.4 parity)")
    assert(r.getString(1) == "a1")
  }

  test("java map-list ingest coercion matrix (reference RegisterTableTest)") {
    val schema = StructType(Seq(
      StructField("a", IntegerType), StructField("b", LongType),
      StructField("c", TimestampType), StructField("d", DecimalType(38, 18)),
      StructField("e", FloatType), StructField("f", DoubleType),
      StructField("g", BooleanType), StructField("h", ShortType),
      StructField("i", ByteType), StructField("j", DateType),
      StructField("k", StringType)))
    val row1 = Map[String, Object](
      "a" -> "10", "b" -> "10", "c" -> java.lang.Long.valueOf(1565748795542L),
      "d" -> "23", "e" -> "2.3", "f" -> "24.03", "g" -> "true", "h" -> "1",
      "i" -> "12", "j" -> java.lang.Long.valueOf(1565748795542L),
      "k" -> java.lang.Double.valueOf(2342.23)).asJava
    val row2 = Map[String, Object](
      "a" -> Integer.valueOf(200), "b" -> Integer.valueOf(10),
      "c" -> "1565748795542", "d" -> Integer.valueOf(900000),
      "e" -> java.lang.Double.valueOf(9.08), "f" -> java.lang.Float.valueOf(9.0008f),
      "h" -> Integer.valueOf(12), "i" -> Integer.valueOf(23),
      "j" -> "1565748795542", "k" -> "strtest").asJava
    val dt = DataTable.fromJavaMapList(schema, Seq(row1, row2).asJava)
    g.registerTable("ingest", dt)
    val got = g.table("ingest").rows
    assert(got.size == 2)
    val r1 = got.head
    assert(r1.getInt(0) == 10 && r1.getLong(1) == 10L)
    assert(r1.getTimestamp(2).getTime == 1565748795542L)
    assert(r1.getFloat(4) == 2.3f && r1.getDouble(5) == 24.03)
    assert(r1.getBoolean(6) && r1.getShort(7) == 1 && r1.getByte(8) == 12)
    assert(r1.getString(10) == "2342.23")
    val r2 = got(1)
    assert(r2.getInt(0) == 200)
    assert(r2.isNullAt(6), "absent key must be null")
    assert(r2.getString(10) == "strtest")
  }

  test("java map-list ingest coerces NESTED types recursively (array/map/struct)") {
    // the reference's ingest was scalar-only (JavaTypeConverter.scala:
    // 183-201); this is the declared superset: a Java List/Map tree lands
    // as Spark array/map/struct with element-level coercion (strings to
    // ints, numbers narrowed) applied at every depth
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("xs", ArrayType(IntegerType)),
      StructField("kv", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType),
        StructField("tags", ArrayType(StringType)))))))
    val row = Map[String, Object](
      "id" -> "7",
      "xs" -> Seq[Object]("1", Integer.valueOf(2), java.lang.Long.valueOf(3L)).asJava,
      "kv" -> Map[String, Object]("x" -> "10", "y" -> Integer.valueOf(20)).asJava,
      "st" -> Map[String, Object](
        "a" -> java.lang.Double.valueOf(5.0),
        "tags" -> Seq[Object]("t1", Integer.valueOf(9)).asJava).asJava).asJava
    val dt = DataTable.fromJavaMapList(schema, Seq(row).asJava)
    g.registerTable("nested_ingest", dt)
    // drive it through a real query so the coerced values survive Catalyst,
    // not just the DataTable container
    val got = g.sql(
      "SELECT id, xs[2] AS x2, kv['y'] AS y, st.a AS sa, st.tags[1] AS t2 " +
        "FROM nested_ingest").rows
    assert(got.size == 1)
    val r = got.head
    assert(r.getInt(0) == 7 && r.getInt(1) == 3 && r.getLong(2) == 20L)
    assert(r.getInt(3) == 5 && r.getString(4) == "9")
    // absent nested key -> null inside the struct
    val row2 = Map[String, Object]("id" -> "8",
      "st" -> Map[String, Object]("a" -> "1").asJava).asJava
    val dt2 = DataTable.fromJavaMapList(schema, Seq(row2).asJava)
    val st = dt2.rows.head.getStruct(3)
    assert(st.getInt(0) == 1 && st.isNullAt(1))
  }

  test("java map-list ingest coerces calendar intervals (string and native)") {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("iv", CalendarIntervalType)))
    val row1 = Map[String, Object]("id" -> "1",
      "iv" -> "1 months 2 days 3 hours").asJava
    val row2 = Map[String, Object]("id" -> "2",
      "iv" -> new org.apache.spark.unsafe.types.CalendarInterval(0, 1, 0L)).asJava
    val dt = DataTable.fromJavaMapList(schema, Seq(row1, row2).asJava)
    g.registerTable("iv_ingest", dt)
    // intervals behave like SQL-literal ones: arithmetic against a ts
    val got = g.sql(
      "SELECT id, CAST(TIMESTAMP '2020-01-01 00:00:00' + iv AS STRING) AS t " +
        "FROM iv_ingest ORDER BY id").rows
    assert(got.size == 2)
    assert(got.head.getString(1) == "2020-02-03 03:00:00")
    assert(got(1).getString(1) == "2020-01-02 00:00:00")
    intercept[IllegalArgumentException] {
      DataTable.fromJavaMapList(schema,
        Seq(Map[String, Object]("id" -> "3", "iv" -> "not an interval").asJava).asJava)
    }
  }

  test("sustained concurrency soak: one cached plan under 8 threads for a bounded duration, plus newSession isolation (reference DirectExecSuite:227-299)") {
    // the reference's 10-thread x 30 s sustained stress, scaled to the test
    // budget: duration-bounded (~6 s) rather than iteration-bounded, so the
    // soak exercises whatever iteration count the box sustains (asserted
    // >= a floor to prove it actually looped), all on ONE cached plan so
    // the plan-cache's concurrent reuse is what is being soaked. A sibling
    // newSession() runs the SAME query text against DIFFERENT data
    // throughout, proving cached-plan isolation under sustained load.
    val q = "SELECT t1.age, count(*) AS n FROM people t1 JOIN people2_live t2 ON t1.name = t2.name GROUP BY t1.age"
    val expected = g.spark.sql(q).collect().map(_.toString).sorted.mkString("|")
    val iso = g.newSession()
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("age", IntegerType), StructField("genda", IntegerType)))
    iso.registerTable("people", DataTable(schema, Seq(Row("z", 99, 0))))
    iso.registerTable("people2_live", iso.spark.range(1).selectExpr("'z' AS name",
      "1 AS age", "1 AS genda"))
    val isoExpected = iso.spark.sql(q).collect().map(_.toString).sorted.mkString("|")
    assert(isoExpected != expected, "isolation fixture must differ")
    val deadline = System.nanoTime() + 6L * 1000 * 1000 * 1000
    val iters = new java.util.concurrent.atomic.AtomicLong
    val execIters = new java.util.concurrent.atomic.AtomicLong
    val bad = new java.util.concurrent.atomic.AtomicLong
    val pool = Executors.newFixedThreadPool(13)
    val (jobs, _) = armJobs {
      val tasks = (1 to 8).map { _ =>
        pool.submit(new Runnable {
          override def run(): Unit =
            while (System.nanoTime() < deadline) {
              if (g.sql(q).rows.map(_.toString).sorted.mkString("|") != expected)
                bad.incrementAndGet()
              iters.incrementAndGet()
            }
        })
      } ++ (1 to 4).map { _ =>
        // sql() serves this text's frozen rows after its second call; these
        // threads re-execute the cached DataFrame, so real jobs are soaked too
        pool.submit(new Runnable {
          override def run(): Unit = inArm {
            while (System.nanoTime() < deadline) {
              if (g.sqlDF(q).collect().map(_.toString).sorted.mkString("|") != expected)
                bad.incrementAndGet()
              execIters.incrementAndGet()
            }
          }
        })
      } :+ pool.submit(new Runnable {
        override def run(): Unit =
          while (System.nanoTime() < deadline) {
            if (iso.sql(q).rows.map(_.toString).sorted.mkString("|") != isoExpected)
              bad.incrementAndGet()
            iters.incrementAndGet()
          }
      })
      tasks.foreach(_.get())
    }
    pool.shutdown()
    assert(bad.get() == 0, s"${bad.get()} soak iterations diverged")
    assert(iters.get() >= 50,
      s"soak only completed ${iters.get()} iterations — did it run?")
    assert(execIters.get() >= 20,
      s"the executing arm only completed ${execIters.get()} iterations — did it run?")
    assert(jobs >= execIters.get(),
      s"${execIters.get()} executions of the cached DataFrame ran $jobs Spark jobs")
  }
}

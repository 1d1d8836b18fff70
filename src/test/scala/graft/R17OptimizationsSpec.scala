package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{QueryUtil, Relational}

/** Round-17 optimization gates: the dsum NaN/Inf runtime guard (VERDICT r16
  * item 5), the SparkEntry analyzed-plan memo (item 4), and the conf-routed
  * reliable barrier (item 3); and the per-session memos of
  * `SessionRegistry`: which contract builds may be memoized, and
  * first-insert-wins under concurrent first calls. */
class R17OptimizationsSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("dsum nulls NaN/±Inf like the old decimal cast (poisoned-row parity)") {
    import spark.implicits._
    // clean 2-decimal values + every poison the old cast nulled: NaN, ±Inf,
    // null, and magnitudes that overflow decimal(18,2)/decimal(18,0)
    val rows = Seq[java.lang.Double](
      1.25, 2.50, -3.75, 0.01, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, null, 9.0e15, 5.0e16, 1.0e17, -1.0e17)
    val df = rows.toDF("x")
    val oldForm = df.agg(
      sum(col("x").cast(DecimalType(18, 2))).cast(DoubleType)).head().getDouble(0)
    val newForm = df.agg(Relational.dsum(col("x"), 2)).head().getDouble(0)
    assert(newForm == oldForm,
      s"dsum guard parity broke: old=$oldForm new=$newForm")
    // and per-row: quant is null exactly where the old cast was null
    val perRow = df.select(col("x"),
      Relational.quant(col("x"), 2).cast(DecimalType(18, 0)).isNull.as("qn"),
      col("x").cast(DecimalType(18, 2)).isNull.as("cn")).collect()
    perRow.foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2),
        s"quant/cast null domains diverge at x=${r.get(0)}: " +
          s"quantNull=${r.getBoolean(1)} castNull=${r.getBoolean(2)}")
    }
  }

  test("SparkEntry memoizes analyzed plans per (session, dir); eager builders excluded; unpersistKeyed invalidates") {
    val s = spark.newSession()
    val q01a = SparkEntry.queries("q01")(s, dir)
    val q01b = SparkEntry.queries("q01")(s, dir)
    assert(q01a eq q01b, "q01 plan should be memoized per (session, dir)")
    // memo caches the PLAN only: two actions both execute (row counts equal
    // and stable — nothing result-level is frozen)
    assert(q01a.count() == q01b.count())
    // a different dir is a different memo key
    val q01c = SparkEntry.queries("q01")(s, "/root/testdata/sf0.01")
    assert(!(q01c eq q01a), "distinct dirs must not share a memo entry")
    // eager builder (d86 runs its min-length guard job at build): excluded
    val d86a = SparkEntry.queries("d86")(s, dir)
    val d86b = SparkEntry.queries("d86")(s, dir)
    assert(!(d86a eq d86b), "eager-build queries must rebuild per invocation")
    // a persist-memo prefix eviction invalidates the plan memo for the
    // session (a cached outer plan must not serve an evicted entry's RDD)
    import spark.implicits._
    QueryUtil.persistKeyed(s, "r17spec:x", Seq(1, 2, 3).toDF("v"))
    QueryUtil.unpersistKeyed(s, "r17spec:")
    val q01d = SparkEntry.queries("q01")(s, dir)
    assert(!(q01d eq q01a), "unpersistKeyed must drop the session's plan memo")
    assert(q01d.collect().length == q01a.collect().length)
  }

  test("barrier routes to a reliable checkpoint under graft.barrier.mode=reliable; memo contract holds") {
    import spark.implicits._
    val s = spark.newSession()
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    val hadCk = s.sparkContext.getCheckpointDir
    s.sparkContext.setCheckpointDir(ckDir)
    s.conf.set("graft.barrier.mode", "reliable")
    try {
      val built = QueryUtil.persistKeyed(s, "r17ck:a",
        Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
      assert(built.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 3)))
      // the reliable checkpoint materialized ON DISK under the configured dir
      def fileCount(p: java.io.File): Int =
        if (p.isDirectory) p.listFiles().map(fileCount).sum else 1
      assert(fileCount(new java.io.File(ckDir)) > 0,
        "reliable mode must write checkpoint files under sc.checkpointDir")
      // memo contract: same key -> same instance, rows stable
      val hit = QueryUtil.persistKeyed(s, "r17ck:a",
        sys.error("must not rebuild"): org.apache.spark.sql.DataFrame)
      assert(hit eq built)
      assert(hit.count() == 3)
      // local mode (the default `auto` on a local master) still works after
      s.conf.set("graft.barrier.mode", "auto")
      val loc = QueryUtil.persistKeyed(s, "r17ck:b", Seq(4, 5).toDF("k"))
      assert(loc.count() == 2)
    } finally {
      s.conf.set("graft.barrier.mode", "auto")
      QueryUtil.unpersistKeyed(s, "r17ck:")
      // restore: SparkContext has no un-set; point it back at the previous
      // dir when one existed (tests share the context — `auto` + local
      // master never routes reliable, so a lingering dir is inert)
      hadCk.foreach(s.sparkContext.setCheckpointDir)
    }
  }

  test("the ids whose build still starts a Spark job with its intermediates memoized are exactly SparkEntry.eagerBuild") {
    // A build whose job bakes computed results into its plan must not be
    // memoized. A persistKeyed barrier also starts jobs at its first build
    // (AQE materializes every stage but the last when the checkpoint RDD is
    // made), but its rows live in the memoized barrier, so a plan over it is
    // safe to memoize: each id is built twice, and the second build, with
    // its intermediates memoized, is the one that counts.
    val s = spark.newSession()
    val sc = s.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    def startsJob(build: => Any): Boolean = {
      val before = jobs.get()
      build
      ListenerBridge.drain(sc, 10000)
      jobs.get() > before
    }
    ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(listener)
    val eager = try {
      SparkEntry.builders.toSeq.sortBy(_._1).collect {
        case (id, build) if startsJob(build(s, dir)) && startsJob(build(s, dir)) => id
      }.toSet
    } finally sc.removeSparkListener(listener)
    assert(eager == SparkEntry.eagerBuild,
      s"builds that start a job: ${eager.toSeq.sorted}; eagerBuild: " +
        SparkEntry.eagerBuild.toSeq.sorted)
  }

  test("concurrent first calls on a new session all get the first inserted entry") {
    val s = spark.newSession()
    val threads = 8
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map(_ => pool.submit(new Callable[(AnyRef, AnyRef)] {
        def call(): (AnyRef, AnyRef) = {
          start.await()
          (Tables.load(s, dir, "orders"), SparkEntry.queries("q01")(s, dir))
        }
      }))
      start.countDown()
      val got = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(got.forall(_._1 eq got.head._1), "Tables.load returned different frames")
      assert(got.forall(_._2 eq got.head._2), "SparkEntry.queries returned different frames")
      assert(Tables.load(s, dir, "orders") eq got.head._1)
      assert(SparkEntry.queries("q01")(s, dir) eq got.head._2)
    } finally pool.shutdownNow()
  }
}

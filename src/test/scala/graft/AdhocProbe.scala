package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.engine.GraftSession

/** Single-thread latency of facade calls over `perfbench/data/sf0.01`
  * registered through the facade.
  *
  * The default mode times ad-hoc reads: the `serve_write` ad-hoc join
  * template (orders joined with customers above a balance, counted and
  * summed per priority), a new balance literal on every call. 300 warm-up
  * calls, then 600 timed; prints their mean and median.
  *
  * The `write` mode times the `serve_write` materialization: orders per
  * priority above a new price threshold written to `agg_latest` with
  * `executeAndRegister`, then read back. 100 warm-up calls, then 300 timed;
  * prints their mean, median and the Spark jobs started per call.
  *
  * {{{
  * sbt "Test/runMain graft.AdhocProbe [write] [dataDir]"   # default perfbench/data/sf0.01
  * }}}
  */
object AdhocProbe {
  def main(args: Array[String]): Unit = {
    val write = args.contains("write")
    val dir = args.filterNot(_ == "write").headOption.getOrElse("perfbench/data/sf0.01")
    val g = GraftSession.builder().master("local[4]").appName("adhoc-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    g.spark.sparkContext.setLogLevel("ERROR")
    Seq("orders", "customer").foreach(t => g.registerTable(t, Tables.load(g.spark, dir, t)))
    if (write) writes(g) else reads(g)
    g.spark.stop()
  }

  /** Milliseconds of each of `calls`, sorted. */
  private def timed(calls: Range)(call: Int => Unit): IndexedSeq[Double] = calls.map { i =>
    val t0 = System.nanoTime()
    call(i)
    (System.nanoTime() - t0) / 1e6
  }.sorted

  private def summary(ms: IndexedSeq[Double]): String =
    f"calls=${ms.size} mean=${ms.sum / ms.size}%.2f ms p50=${ms(ms.size / 2)}%.2f ms"

  private def reads(g: GraftSession): Unit = {
    // the harness's literal sequence: n -> n * 7919 mod 1.1e6 is a bijection
    def text(n: Long): String = {
      val bal = f"${(n * 7919) % 1100000 / 100.0 - 1000}%.2f"
      "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders o " +
        s"JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > $bal GROUP BY o_orderpriority"
    }
    (1 to 300).foreach(i => g.sql(text(i)))
    println(s"[adhoc] ${summary(timed(301 to 900)(i => g.sql(text(i))))}")
  }

  private def writes(g: GraftSession): Unit = {
    // the harness's thresholds: 1000 + a step of 7919 mod 498000
    def call(n: Int): Unit = {
      val t = 1000 + n * 7919L % 498000
      g.executeAndRegister(s"SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > $t " +
        "GROUP BY o_orderpriority", "agg_latest")
      g.sql("SELECT o_orderpriority, n FROM agg_latest")
    }
    (1 to 100).foreach(call)
    val sc = g.spark.sparkContext
    val jobs = new AtomicLong
    ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    val ms = timed(101 to 400)(call)
    ListenerBridge.drain(sc, 10000)
    println(f"[write] ${summary(ms)} jobs/call=${jobs.get.toDouble / ms.size}%.2f")
  }
}

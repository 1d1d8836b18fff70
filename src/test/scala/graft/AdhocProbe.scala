package graft

import graft.engine.GraftSession

/** Single-thread latency of ad-hoc facade reads: the `serve_write` ad-hoc
  * join template (orders joined with customers above a balance, counted and
  * summed per priority) over `orders` and `customer` registered through the
  * facade, a new balance literal on every call. 300 warm-up calls, then 600
  * timed; prints their mean and median.
  *
  * {{{
  * sbt "Test/runMain graft.AdhocProbe [dataDir]"   # default perfbench/data/sf0.01
  * }}}
  */
object AdhocProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("perfbench/data/sf0.01")
    val g = GraftSession.builder().master("local[4]").appName("adhoc-probe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    g.spark.sparkContext.setLogLevel("ERROR")
    Seq("orders", "customer").foreach(t => g.registerTable(t, Tables.load(g.spark, dir, t)))
    // the harness's literal sequence: n -> n * 7919 mod 1.1e6 is a bijection
    def text(n: Long): String = {
      val bal = f"${(n * 7919) % 1100000 / 100.0 - 1000}%.2f"
      "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders o " +
        s"JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > $bal GROUP BY o_orderpriority"
    }
    (1 to 300).foreach(i => g.sql(text(i)))
    val ms = (301 to 900).map { i =>
      val t0 = System.nanoTime()
      g.sql(text(i))
      (System.nanoTime() - t0) / 1e6
    }.sorted
    println(f"[adhoc] calls=${ms.size} mean=${ms.sum / ms.size}%.2f ms p50=${ms(ms.size / 2)}%.2f ms")
    g.spark.stop()
  }
}

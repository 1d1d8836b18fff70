package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{DedupOps, MultimodalOps, Relational, SimilarityOps, TextOps, UdfOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query inventories (each module = one SURVEY §2
  * operator family) into the single map the driver's Verify/Bench harness
  * consumes.
  */
object SparkEntry {

  private def modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracles),
      (TextOps.queries, TextOps.oracles),
      (DedupOps.queries, DedupOps.oracles),
      (SimilarityOps.queries ++ SimilarityOps.queries2, SimilarityOps.oracles),
      (MultimodalOps.queries, MultimodalOps.oracles),
      (UdfOps.queries, UdfOps.oracles)
    )

  /** r17 (guide §3.3/§7.3 planning cost; the facade plan cache's regime
    * lifted to the DSL contract queries): memo of the ANALYZED DataFrame per
    * (session, dir, query). Building a contract query's DataFrame re-runs
    * the whole DSL chain — every withColumn/select/join step analyzes an
    * ever-larger tree eagerly — measured at 40–60 ms per invocation for the
    * mid-tail (and ~300 ms for the biggest plans). The
    * memo caches the LOGICAL PLAN ONLY: each action still optimizes, plans
    * and executes from the parquet inputs (the noop-sink write builds a new
    * QueryExecution every save), exactly like Tables.load and the facade's
    * (catalog-version, sqlText) plan cache. Cleared per session at
    * application end (the hook below) and by QueryUtil.unpersistKeyed
    * (ScaleProbe's per-pass reset must not leave a memoized plan pointing at
    * an evicted checkpoint entry). */
  private val planMemo =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[(String, String), DataFrame]]()

  /** Queries whose BUILD is itself execution — driver-stepped loops or
    * eager scalar jobs whose results are baked into the returned plan as
    * literals (t58 BPE merge training, u68 SQL-scripting WHILE, d86's
    * min-length guard scalar, s74's power-iteration eigenvectors, d72's
    * collected Bloom words). Memoizing those DataFrames would cache computed
    * RESULTS, not a plan — every invocation must rebuild them. A build that
    * routes an as-of join or global merge to its range form also runs one
    * job, sampling the range bounds; those bounds steer balance only, never
    * rows, so memoizing such a plan stays safe and it is not listed here. */
  private val eagerBuild = Set("t58", "u68", "d86", "s74", "d72")

  /** Sessions whose contexts carry the memo-clearing listener. Mirrors
    * QueryUtil.hookEviction: the memo VALUES strongly reference their
    * session (Dataset.sparkSession), so weak keys alone never collect —
    * entries are dropped explicitly at application end. */
  private val evictionHooked =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]()

  private def hookEviction(sc: org.apache.spark.SparkContext): Unit =
    if (evictionHooked.put(sc, java.lang.Boolean.TRUE) == null) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          planMemo.synchronized {
            val it = planMemo.keySet().iterator()
            while (it.hasNext) if (it.next().sparkContext eq sc) it.remove()
          }
      })
    }

  /** Drop every memoized plan of `s` — called by QueryUtil.unpersistKeyed so
    * a probe's targeted persist eviction can never leave a cached outer plan
    * referencing the evicted entry's stale LogicalRDD. */
  private[graft] def invalidatePlanMemo(s: SparkSession): Unit =
    planMemo.synchronized { planMemo.remove(s); () }

  private def memoized(id: String,
      fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    if (eagerBuild.contains(id)) fn
    else (s: SparkSession, dir: String) => {
      val m = planMemo.synchronized {
        hookEviction(s.sparkContext)
        var mm = planMemo.get(s)
        if (mm == null) { mm = new java.util.HashMap; planMemo.put(s, mm) }
        mm
      }
      val k = (dir, id)
      val hit = m.synchronized(m.get(k))
      if (hit != null) hit
      else {
        // build OUTSIDE the lock (a builder may nest persistKeyed or register
        // views); a racing duplicate build is a harmless plan rebuild
        val df = fn(s, dir)
        m.synchronized(m.put(k, df))
        df
      }
    }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  // The driver's tail capture of the bench stdout line is ~2 KB; with 95
  // descriptive query names the required per-query map alone overflows it
  // (r1–r3 all scored `parsed: null`). The contract maps therefore key on the
  // unique short id prefix (`q01`, `d50`, …); the descriptive names stay on
  // the per-module maps and are exposed via `longNames` for the human-facing
  // bench file.
  private def shortId(name: String): String = name.takeWhile(_ != '_')

  /** short id -> descriptive module-level name (for humans / bench file). */
  lazy val longNames: Map[String, String] = {
    val pairs = modules.flatMap(_._1.keys).map(n => shortId(n) -> n)
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"short query ids collide: ${pairs.groupBy(_._1).filter(_._2.size > 1)}")
    pairs.toMap
  }

  /** One entry per implemented operator from SURVEY.md §2. Lazy: Bench
    * resolves a query per sample, and rebuilding the 247-entry map (plus
    * the wrapper closures) each lookup is avoidable driver work. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val _ = longNames // forces the short-id collision assert before any lookup
    modules.map(_._1).reduce(_ ++ _).map { case (k, v) =>
      val id = shortId(k)
      id -> memoized(id, v)
    }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    modules.map(_._2).reduce(_ ++ _).map { case (k, v) => shortId(k) -> v }
}

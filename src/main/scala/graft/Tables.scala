package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * Capability superset of the reference's ingest surface: the reference only
  * supports driver-heap `LocalRelation` temp views
  * (reference `DirectSparkSession.scala:129-137`); we read parquet through
  * Spark's vectorized scan, which is what survives at 100 TB (filter pushdown,
  * column pruning, partition pruning all apply at the source).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Timestamp columns whose physical parquet type has varied across corpus
    * generations: INT64 TIMESTAMP(NANOS) (no native Spark type — read as long
    * via the legacy conf and floor-divide to micros, the same ns→µs truncation
    * DuckDB applies) or native timestamp[us] with isAdjustedToUTC=false (read
    * as TIMESTAMP_NTZ — cast to TIMESTAMP, which under the pinned UTC session
    * timezone yields the identical instant and matches DuckDB's naive
    * timestamp semantics). The branch is on the LOADED type, so either corpus
    * generation produces the same TIMESTAMP column downstream. */
  private val tsCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** Per-session memo of the LOADED (schema-resolved) DataFrames, keyed on
    * (dir, name). Resolving a read costs a driver-side file listing and a
    * footer read (see [[readParquet]]: no Spark job, but still I/O and
    * analysis on every call), which every query invocation would re-pay.
    * The memo caches the resolved LOGICAL PLAN only: every action still
    * scans parquet (tasks re-read row groups; nothing row-level is cached),
    * exactly like the long-standing `registerAll` temp views the SQL-based
    * queries already go through.
    *
    * PRECONDITION (r16 ADVICE): inputs under `dir` are immutable for the
    * session's lifetime — the memo pins the first call's file listing and
    * schema snapshot, so a tool that rewrites the corpus mid-session must
    * either use a fresh session or go through [[raw]]. Eviction (r16
    * ADVICE): the map is weak-KEYED, but a DataFrame value strongly
    * references its session (Dataset.sparkSession), so weak keys alone
    * would never collect an entry — the application-end listener below
    * drops a stopped context's entries explicitly, the same lifecycle
    * QueryUtil.hookEviction gives the persist memo. */
  private val loadMemo =
    new java.util.WeakHashMap[SparkSession, java.util.HashMap[(String, String), DataFrame]]()

  private val evictionHooked =
    new java.util.WeakHashMap[org.apache.spark.SparkContext, java.lang.Boolean]()

  private def hookEviction(sc: org.apache.spark.SparkContext): Unit =
    if (evictionHooked.put(sc, java.lang.Boolean.TRUE) == null) {
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          loadMemo.synchronized {
            val it = loadMemo.keySet().iterator()
            while (it.hasNext) if (it.next().sparkContext eq sc) it.remove()
          }
      })
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (spark.conf.getOption("graft.cache.tables").contains("true")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      cached(spark, dir, name)
    } else loadMemo.synchronized {
      hookEviction(spark.sparkContext)
      var m = loadMemo.get(spark)
      if (m == null) { m = new java.util.HashMap; loadMemo.put(spark, m) }
      val k = (dir, name)
      var df = m.get(k)
      if (df == null) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = raw(spark, dir, name)
        m.put(k, df)
      }
      df
    }
  }

  /** Read an UNPARTITIONED parquet path without a Spark job: the schema
    * comes from the footer on the driver (`ParquetSchemaBridge`), where
    * `spark.read.parquet` would launch a schema-inference job per call.
    * Partitioned layouts keep `spark.read.parquet` (`Sinks.readPartitioned`),
    * whose partition discovery adds the directory-name columns. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetSchemaBridge.footerSchema(spark, path)).parquet(path)

  private def raw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    tsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case LongType         => d.withColumn(c, timestamp_micros(expr(s"`$c` DIV 1000")))
        case TimestampNTZType => d.withColumn(c, col(c).cast(TimestampType))
        case _                => d
      }
    }
  }

  /** Opt-in (conf `graft.cache.tables`) columnar in-memory corpus cache —
    * the reference's whole data model is RAM-resident tables
    * (`LocalRelation`); Spark's equivalent is the columnar table cache.
    * Bench enables it; Verify keeps the plain parquet path. */
  private def cached(spark: SparkSession, dir: String, name: String): DataFrame = {
    // sanitized path + hex hash: the path part keeps the name debuggable,
    // the hash restores injectivity (sanitizing alone would collapse
    // /a/b-c and /a/b_c; a hash alone could collide across dirs)
    val view = s"graft_cached_${name}_${dir.replaceAll("[^A-Za-z0-9]", "_")}_" +
      Integer.toHexString(dir.hashCode)
    synchronized {
      if (!spark.catalog.tableExists(view)) {
        raw(spark, dir, name).createOrReplaceTempView(view)
        spark.catalog.cacheTable(view)
      }
    }
    spark.table(view)
  }

  /** Register every corpus table as a temp view named after the table.
    * Memoized per (session, dir): SQL-based queries call this on every
    * invocation, and re-resolving ten views each time is waste. */
  private val registered = new java.util.WeakHashMap[SparkSession, String]()
  def registerAll(spark: SparkSession, dir: String): Unit = registered.synchronized {
    if (registered.get(spark) != dir) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
      registered.put(spark, dir)
    }
  }
}

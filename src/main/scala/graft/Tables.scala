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

  /** The schema-resolved read of `dir/name`, memoized per session in
    * [[SessionRegistry]] (see there for what an entry holds, and the
    * precondition that `dir` does not change). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (spark.conf.getOption("graft.cache.tables").contains("true")) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      cached(spark, dir, name)
    } else SessionRegistry.memo(spark, SessionRegistry.Loaded(dir, name)) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      raw(spark, dir, name)
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
    * Memoized per (session, dir) in [[SessionRegistry]]: SQL-based queries
    * call this on every invocation, and re-resolving ten views each time is
    * waste. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    SessionRegistry.registerViews(spark, dir) {
      names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Write-side surface. The reference has no sinks at all (SURVEY §2.1: the
  * only "sink" is collecting to the driver or re-registering a view); at
  * 100 TB the sink IS the product, so this module pins the idioms:
  * hive-style partitioned parquet for pruning on read, and an explicit
  * repartition-by-partition-columns before the write so each task writes one
  * file per partition value instead of `tasks × partitions` small files.
  */
object Sinks {

  /** Partitioned parquet write (dynamic partition columns). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.spark.sql.functions.col
    df.repartition(partitionCols.map(col): _*)
      .write.mode(mode)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Plain parquet with an explicit target file count (compaction). */
  def writeCompacted(df: DataFrame, path: String, numFiles: Int,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(numFiles).write.mode(mode).parquet(path)

  // spark.read.parquet, not Tables.readParquet: partition discovery adds the
  // directory-name columns, which a footer schema does not have.
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Bucketed managed table: pre-shuffles once at write so joins/aggs on the
    * bucket key need NO exchange at read — the canonical way to co-locate a
    * 100 TB fact table with its dimensions for repeated joins.
    * Requires a managed table (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)

  /** Append rows into an EXISTING bucketed table under its own bucket spec
    * (read from the catalog, so an append can never silently diverge from
    * the layout the table was written with — Spark rejects a mismatched
    * spec, and this way there is nothing for the caller to mis-state).
    * Appends add files per bucket rather than rewriting: cost ∝ the
    * appended batch, which is what makes a standing 100 TB index
    * maintainable day over day. Reads stay exchange-free on the bucket key;
    * with >1 file per bucket Spark drops only the sorted-scan assumption
    * (a per-task sort, not a shuffle, for sort-merge joins). */
  def appendBucketed(spark: SparkSession, df: DataFrame, tableName: String): Unit = {
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tableName))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"appendBucketed: table $tableName is not bucketed"))
    df.write.mode(SaveMode.Append)
      .bucketBy(spec.numBuckets,
        spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
      .sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
      .saveAsTable(tableName)
  }
}

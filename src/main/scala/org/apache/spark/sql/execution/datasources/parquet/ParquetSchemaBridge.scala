package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Job-free Parquet schema read. `spark.read.parquet(path)` infers the
  * schema through `ParquetFileFormat.mergeSchemasInParallel`, which launches
  * a Spark job even when it reads a single footer, and that job's fixed
  * scheduling cost dominates loading a small table. This reads the same
  * footers on the driver instead, so
  * `spark.read.schema(footerSchema(spark, path)).parquet(path)` resolves
  * without a job. The footer reader and `readSchema` are `private[parquet]`,
  * hence this bridge in Spark's parquet package; same precedent as
  * org.apache.spark.sql.graft.ColumnBridge.
  *
  * For unpartitioned paths: partition columns come from directory names,
  * which only `spark.read.parquet`'s partition discovery adds.
  */
object ParquetSchemaBridge {

  /** The schema `spark.read.parquet(path)` would infer under the session's
    * confs. Files are picked as `ParquetUtils.inferSchema` picks them:
    * `_common_metadata`, else `_metadata`, else the first data file; every
    * data file (plus the summaries) when `spark.sql.parquet.mergeSchema` is
    * on. A missing path raises the same AnalysisException as
    * `spark.read.parquet`; a path with no footer to read raises one naming
    * the path. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val files = new InMemoryFileIndex(spark, roots, Map.empty, None).allFiles()
      .sortBy(_.getPath.toString)
    def named(n: String): Seq[FileStatus] = files.filter(_.getPath.getName == n)
    val summaries = named(PARQUET_METADATA_FILE) ++ named(PARQUET_COMMON_METADATA_FILE)
    val data = files.filterNot(summaries.contains)
    val toRead =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++ summaries
      else
        named(PARQUET_COMMON_METADATA_FILE).headOption
          .orElse(named(PARQUET_METADATA_FILE).headOption)
          .orElse(data.headOption).toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      hadoopConf, toRead, conf.ignoreCorruptFiles)
    // nullable, as the file source relation makes every data column
    ParquetFileFormat.readSchema(footers, spark).getOrElse(
      throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet", path)).asNullable
  }
}

package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge.footerSchema
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side footer schema read behind `Tables.readParquet`: loading
  * tables launches no Spark job, and the schema (or the error) is the one
  * `spark.read.parquet` infers under the same session confs. */
class ParquetSchemaBridgeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // the generated corpora (TESTDATA.md); the last is the sf0.01 one
  private val corpora = Seq("sf0.001", "sf0.01").map(sf => s"/root/testdata/$sf")

  private lazy val tmp: Path = Files.createTempDirectory("graft-footer-")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile) finally super.afterAll()

  /** The helper's schema, and the schema of the read it feeds, both equal
    * the inferring read's under `s`'s current confs. */
  private def assertParity(s: SparkSession, path: String): Unit = {
    val inferred = s.read.parquet(path).schema
    assert(footerSchema(s, path) == inferred, s"footer schema of $path")
    assert(Tables.readParquet(s, path).schema == inferred, s"loaded schema of $path")
  }

  private def withConf[T](s: SparkSession, k: String, v: String)(f: => T): T = {
    val old = s.conf.getOption(k)
    s.conf.set(k, v)
    try f finally old.fold(s.conf.unset(k))(s.conf.set(k, _))
  }

  /** (a, b) part files, then appended (a, c) part files: the two differ, so
    * the mergeSchema setting changes the answer. */
  private lazy val multiFileDir: String = {
    val p = tmp.resolve("multi").toString
    spark.range(40).selectExpr("id AS a", "cast(id AS string) AS b")
      .repartition(4).write.parquet(p)
    spark.range(40).selectExpr("id AS a", "id * 0.5 AS c")
      .repartition(3).write.mode("append").parquet(p)
    p
  }

  test("loading and registering all ten tables in a fresh session submits ZERO Spark jobs") {
    // Spark's schema inference runs one job per table just to read a
    // footer; the footer read on the driver must keep table loading
    // job-free (the cached-corpus path included), and the control query
    // proves the listener observes this context.
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val dir = corpora.last
    val fresh = spark.newSession()
    val cachedCorpus = spark.newSession()
    cachedCorpus.conf.set("graft.cache.tables", "true")
    org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
    sc.addSparkListener(listener)
    try {
      Tables.names.foreach(n => Tables.load(fresh, dir, n))
      Tables.registerAll(fresh, dir)
      Tables.names.foreach(n => Tables.load(cachedCorpus, dir, n))
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      assert(jobs.get() == 0,
        s"table loading submitted ${jobs.get()} Spark job(s) — schema inference re-introduced")
      assert(fresh.table("orders").count() > 0)
      org.apache.spark.graft.ListenerBridge.drain(sc, 10000)
      assert(jobs.get() > 0,
        "control query counted no job — the listener is not observing this context")
    } finally {
      sc.removeSparkListener(listener)
      Tables.names.foreach(n => Tables.load(cachedCorpus, dir, n).unpersist())
    }
  }

  test("footer schema == spark.read.parquet schema on every corpus table") {
    // the confs Tables.load runs under, then Spark's defaults
    for (nanosAsLong <- Seq("true", "false");
         dir <- corpora; n <- Tables.names)
      withConf(spark, "spark.sql.legacy.parquet.nanosAsLong", nanosAsLong) {
        assertParity(spark, s"$dir/$n.parquet")
      }
  }

  test("footer schema parity: Spark-written multi-file directory with _SUCCESS") {
    assert(new java.io.File(multiFileDir, "_SUCCESS").exists())
    assert(new java.io.File(multiFileDir).list().count(_.endsWith(".parquet")) > 1)
    assertParity(spark, multiFileDir)
  }

  test("footer schema parity: mergeSchema=true merges every part file") {
    withConf(spark, "spark.sql.parquet.mergeSchema", "true") {
      assertParity(spark, multiFileDir)
      assert(footerSchema(spark, multiFileDir).fieldNames.toSet == Set("a", "b", "c"))
    }
  }

  test("footer schema parity: summary files (_metadata, _common_metadata)") {
    val p = tmp.resolve("summaries").toString
    spark.range(30).selectExpr("id AS a", "cast(id AS string) AS s")
      .repartition(3).write.option("parquet.summary.metadata.level", "ALL").parquet(p)
    assert(new java.io.File(p, "_metadata").exists())
    assert(new java.io.File(p, "_common_metadata").exists())
    assertParity(spark, p)
    withConf(spark, "spark.sql.parquet.mergeSchema", "true")(assertParity(spark, p))
  }

  test("footer schema parity: TIMESTAMP and TIMESTAMP_NTZ columns") {
    val p = tmp.resolve("ts").toString
    spark.sql("SELECT TIMESTAMP'2024-03-01 12:34:56.123456' AS t, " +
      "TIMESTAMP_NTZ'2024-03-01 12:34:56.123456' AS n").write.parquet(p)
    for (inferNtz <- Seq("true", "false"))
      withConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled", inferNtz) {
        assertParity(spark, p)
      }
  }

  test("error parity: a missing path raises AnalysisException") {
    val p = tmp.resolve("absent.parquet").toString
    intercept[AnalysisException](spark.read.parquet(p))
    val e = intercept[AnalysisException](footerSchema(spark, p))
    assert(e.getMessage.contains("absent.parquet"), e.getMessage)
  }

  test("error parity: a directory with no data files names the path") {
    val d = tmp.resolve("empty")
    Files.createDirectories(d)
    Files.createFile(d.resolve("_SUCCESS"))
    intercept[AnalysisException](spark.read.parquet(d.toString))
    val e = intercept[AnalysisException](footerSchema(spark, d.toString))
    assert(e.getMessage.contains(d.toString), e.getMessage)
  }
}

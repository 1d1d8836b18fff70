package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, Tables}

/** The contract-query suite: one cold pass in inventory order, then a fixed
  * number of warm passes, each in a seed-permuted order, each query built
  * with `SparkEntry.queries(id)(spark, dir)` and run to a `noop` sink. An
  * untimed pass afterwards collects every result for its digest. The
  * session is set up by `Suite.setup`. */
final class Suite(spark: SparkSession, dataDir: String, ids: Seq[String], seed: Long,
    tracer: Tracer) {
  private val log = new OpLog(tracer)
  private val hits = new IdentityHits
  private val memoLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  private def runQuery(cls: String, id: String): Unit =
    log.run(cls, id, 0) {
      if (!tracer.enabled)
        SparkEntry.queries(id)(spark, dataDir).write.format("noop").mode("overwrite").save()
      else {
        val df = tracer.span("entry.build")(SparkEntry.queries(id)(spark, dataDir))
        memoLog.add(tracer.currentSpan -> hits.observe(id, df).toString)
        tracer.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
      }
      true
    }

  /** The cold pass, then `warmPasses` warm passes. */
  def measure(warmPasses: Int): Unit = {
    ids.foreach(runQuery("cold", _))
    (0 until warmPasses).foreach { pass =>
      new Random(seed * 31 + pass).shuffle(ids).foreach(runQuery("warm", _))
    }
  }

  /** Digest of every query's result, keyed by id; a query that throws
    * gets its error message instead. */
  def digests(): Map[String, String] = ids.map { id =>
    id -> (try {
      val df = SparkEntry.queries(id)(spark, dataDir)
      RowDigest.of(df.schema, df.collect().toSeq)
    } catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300) })
  }.toMap

  def ops: Seq[Op] = log.all
  def memoOutcomes: Seq[Seq[Any]] = memoLog.toArray.toSeq.map { case (a, b) => Seq(a, b) }
}

object Suite {
  /** The session's set-up: `Tables.registerAll`. Traced, each table is
    * also loaded alone, before and after, to time its cold and warm load. */
  def setup(spark: SparkSession, dataDir: String, tracer: Tracer): Unit =
    if (!tracer.enabled) Tables.registerAll(spark, dataDir)
    else {
      Tables.names.foreach(n => tracer.span("tables.load")(Tables.load(spark, dataDir, n)))
      tracer.span("tables.registerAll")(Tables.registerAll(spark, dataDir))
      Tables.names.foreach(n => tracer.span("tables.load.warm")(Tables.load(spark, dataDir, n)))
    }
}

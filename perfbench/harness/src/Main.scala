package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One benchmark run in one JVM. Started by `perfbench/run.py`, which turns
  * the raw record this writes to `--out` into metrics.
  *
  * Arguments (all `--name value`): workload, seed, seconds, trace (0|1),
  * out, tmp (per-run temporary directory), data (corpus directory), cpus,
  * setups (set-ups timed in the warm JVM after the measurement) and queries
  * (suite only). The serving loop runs for `seconds`; the suite makes one
  * warm pass per 6 of them (at least two), about as long on 4 cores. */
object Main {

  /** Used heap once garbage is gone: collect until two readings agree within
    * 1 MB (at most five rounds), pausing so Spark's ContextCleaner can drop
    * the blocks of broadcasts and RDDs the previous collection freed. */
  def retainedHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 5 && math.abs(prev - cur) > 1.0) { prev = cur; cur = collect(); rounds += 1 }
    cur
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val tmp = opt("tmp")
    val data = opt("data")
    val cpus = opt("cpus").toInt
    val warmSetups = opt("setups").toInt
    require(Set("serve_write", "suite_sf001").contains(workload), s"unknown workload $workload")

    val tracer = new Tracer(traced)

    def open(t: Tracer): (GraftSession, Option[SparkProbe]) = {
      val g = GraftSession.builder().master(s"local[$cpus]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
        .config("spark.local.dir", s"$tmp/local")
        .config("spark.ui.enabled", "false")
        // a serving session's job history is bounded, so the heap it keeps
        // does not grow with the number of calls a run happens to complete
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.sql.ui.retainedExecutions", "100")
        .getOrCreate()
      val sc = g.spark.sparkContext
      sc.setLogLevel("ERROR")
      sc.setCheckpointDir(s"$tmp/checkpoint")
      val probe = if (!t.enabled) None else {
        t.sc = sc
        val p = new SparkProbe(t)
        sc.addSparkListener(p)
        g.spark.listenerManager.register(p)
        Some(p)
      }
      (g, probe)
    }

    // one small job, so the first timed operation does not pay for starting
    // the scheduler and executor threads
    def warmUp(spark: SparkSession): Unit =
      spark.range(0, 1000, 1, cpus).selectExpr("sum(id)").collect()

    val queries = opt.get("queries").map(_.split(",").toSeq).getOrElse(Nil)

    /** The workload's set-up on a fresh session: the session, the tables
      * the workload reads, and one warm-up job. */
    def setUp(t: Tracer): (GraftSession, Option[SparkProbe]) = {
      val (g, probe) = open(t)
      if (workload == "suite_sf001") Suite.setup(g.spark, data, t)
      else Serve.setup(g, data, seed, t)
      warmUp(g.spark)
      (g, probe)
    }

    val (g, probe) = setUp(tracer)
    val firstSetupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    // the measurement, and the untimed work that follows it (output checks,
    // settling); the serving reference is read here, outside every set-up
    val (run, after): (() => Unit, () => Map[String, Any]) = workload match {
      case "suite_sf001" =>
        val s = new Suite(g.spark, data, queries, seed, tracer)
        // a fixed amount of work, not a deadline: the JIT keeps speeding
        // up the early passes, so a pass count that varied with machine
        // speed would move the warm figures with it
        (() => s.measure(math.max(2, (seconds / 6).round.toInt)),
          () => Map("ops" -> s.ops.map(_.toMap), "memo_outcomes" -> s.memoOutcomes,
            "digests" -> s.digests()))
      case _ =>
        val s = new Serve(g, Serve.Reference.load(g.spark, data), seed, tracer, probe)
        (() => { s.coldPass(); s.loop(cpus, seconds) },
          () => { s.settle(); Map("ops" -> s.ops.map(_.toMap), "plan_outcomes" -> s.planOutcomes) })
    }
    val sc = g.spark.sparkContext
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    def codegen = (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val (gc0, cg0) = (gcMs, codegen)
    run()
    val (gc1, cg1) = (gcMs, codegen)
    val result = after()
    org.apache.spark.graft.ListenerBridge.drain(sc, 60000)
    val persisted = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

    val heapMb = retainedHeapMb()
    val sparkVersion = g.spark.version
    g.spark.stop()

    val setups = (1 to warmSetups).map { _ =>
      val t0 = System.nanoTime()
      val (g2, _) = setUp(new Tracer(false))
      val s = (System.nanoTime() - t0) / 1e9
      g2.spark.stop()
      s
    }

    val record = result ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cpus" -> cpus,
      "first_setup_s" -> firstSetupS, "warm_setups_s" -> setups, "retained_heap_mb" -> heapMb,
      "gc_ms" -> (gc1 - gc0), "codegen_ms" -> (cg1._1 - cg0._1) / 1e6,
      "codegen_count" -> (cg1._2 - cg0._2), "persisted_bytes" -> persisted,
      "spark_version" -> sparkVersion, "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spans" -> tracer.spans.map(_.toMap))
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(opt("out")), record)
  }
}

package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SortExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds; `parent` is the id of
  * the enclosing span (0 for none) and `op` the benchmark operation the
  * span belongs to (0 for set-up work). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    start: Long, end: Long, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "name" -> name, "parent" -> parent, "op" -> op,
      "start" -> start, "end" -> end) ++ (if (attrs.isEmpty) Nil else Seq("attrs" -> attrs))
}

/** In-memory span recorder, kept by the benchmark around each call it makes
  * into the program. Disabled, `span` only runs its body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000
  @volatile var sc: SparkContext = _

  def nowUs: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000
  def newId(): Long = ids.incrementAndGet()
  def record(s: Span): Unit = if (enabled) recorded.add(s)
  def spans: Seq[Span] = recorded.asScala.toSeq
  def currentSpan: Long = stack.get.headOption.fold(0L)(_._1)

  /** Run `body` inside a span. `op` starts a new operation; by default the
    * span joins the enclosing one's. Jobs the body launches carry the span
    * id as a local property, so the listener can parent them. */
  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get
      val id = newId()
      val opId = if (op != 0L) op else outer.headOption.fold(0L)(_._2)
      stack.set((id, opId) :: outer)
      val ctx = sc
      val prevProp = if (ctx != null) ctx.getLocalProperty(Tracer.SpanProperty) else null
      if (ctx != null) ctx.setLocalProperty(Tracer.SpanProperty, id.toString)
      val start = nowUs
      try body
      finally {
        recorded.add(Span(id, name, outer.headOption.fold(0L)(_._1), opId, start, nowUs))
        if (ctx != null) ctx.setLocalProperty(Tracer.SpanProperty, prevProp)
        stack.set(outer)
      }
    }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Spark-side spans and counters: jobs, stages and tasks from the public
  * `SparkListener`, and the `QueryPlanningTracker` phases and executed-plan
  * shape of each query execution from `QueryExecutionListener`. Only
  * registered on traced runs. */
final class SparkProbe(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private case class Open(id: Long, parent: Long, start: Long)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  // weak keys (trackers compare by identity), so the probe holds no plan alive
  private val seenTrackers = new java.util.WeakHashMap[QueryPlanningTracker, java.lang.Boolean]()
  /** Owning span of query executions known up front (the facade's cached
    * DataFrames), by `QueryExecution.id`. */
  val qeOwner = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  private def stageSpanId(stageId: Int, attempt: Int): Long =
    stageSpan.computeIfAbsent((stageId, attempt), _ => tracer.newId())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val id = tracer.newId()
    jobs.put(e.jobId, Open(id, parent, e.time * 1000))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val o = jobs.remove(e.jobId)
    if (o != null) tracer.record(Span(o.id, "spark.job", o.parent, 0L, o.start, e.time * 1000))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      tracer.record(Span(stageSpanId(si.stageId, si.attemptNumber()), "spark.stage",
        stageJob.getOrDefault(si.stageId, 0L), 0L, s * 1000, c * 1000,
        Map("tasks" -> si.numTasks)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ti = e.taskInfo
    val m = e.taskMetrics
    val attrs: Map[String, Any] =
      if (m == null) Map("failed" -> !ti.successful)
      else Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak_mem" -> m.peakExecutionMemory,
        "failed" -> !ti.successful)
    tracer.record(Span(tracer.newId(), "spark.task", stageSpanId(e.stageId, e.stageAttemptId),
      0L, ti.launchTime * 1000, ti.finishTime * 1000, attrs))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val owner = qeOwner.getOrDefault(qe.id, 0L)
    // A cached DataFrame re-reports its one compilation on every execution,
    // and a write shares its DataFrame's tracker, which merges a repeated
    // phase into one interval from its first start to its last end. So the
    // phases are recorded once per tracker: at its first execution.
    if (seenTrackers.synchronized(seenTrackers.put(qe.tracker, java.lang.Boolean.TRUE) == null)) {
      qe.tracker.phases.foreach { case (phase, p) =>
        tracer.record(Span(tracer.newId(), s"spark.compile.$phase", owner, 0L,
          p.startTimeMs * 1000, p.endTimeMs * 1000))
      }
    }
    val nodes = SparkProbe.planNodes(qe.executedPlan)
    val at = qe.tracker.phases.get("planning").map(_.endTimeMs * 1000).getOrElse(tracer.nowUs)
    tracer.record(Span(tracer.newId(), "spark.plan", owner, 0L, at, at, Map(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "sorts" -> nodes.count(_.isInstanceOf[SortExec]))))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe {
  /** Every node of an executed plan, looking through adaptive wrappers,
    * query stages, reused exchanges and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil // runs no exchange of its own
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}

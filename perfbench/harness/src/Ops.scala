package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed benchmark operation. `cls` is the operation class (a facade
  * read class, a write, or a suite pass), `stmt` the statement it ran. */
final case class Op(id: Long, cls: String, stmt: String, client: Int,
    start: Long, end: Long, ok: Boolean, error: String = null) {
  def toMap: Map[String, Any] =
    Map("id" -> id, "cls" -> cls, "stmt" -> stmt, "client" -> client,
      "start" -> start, "end" -> end, "ok" -> ok) ++ Option(error).map("error" -> _)
}

/** Thread-safe log of the operations of one run. */
final class OpLog(tracer: Tracer) {
  private val ops = ArrayBuffer[Op]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)

  /** Time `body`, which returns whether its result was correct. An
    * exception counts as a failed operation; its time is kept but the op is
    * marked not ok, so it misses every latency limit. */
  def run(cls: String, stmt: String, client: Int)(body: => Boolean): Unit = {
    val id = ids.incrementAndGet()
    val start = tracer.nowUs
    val (ok, err) =
      try (tracer.span(s"op.$cls", op = id)(body), null)
      catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    val op = Op(id, cls, stmt, client, start, tracer.nowUs, ok,
      if (ok || err != null) err else "wrong result")
    synchronized(ops += op)
  }

  def all: Seq[Op] = synchronized(ops.toList)
}

package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The per-session memos of the contract path, one map for all of them.
  *
  * Each kind of entry has its own key:
  *  - [[Loaded]]: a corpus table as `Tables.load` resolves it. Resolving
  *    costs a driver-side file listing and footer read on every call.
  *  - [[Plan]]: a contract query's analyzed DataFrame (`SparkEntry.queries`).
  *    Building one re-analyzes the whole DSL chain: 40–60 ms for the
  *    mid-tail, ~300 ms for the biggest plans.
  *  - [[Persisted]]: a lineage-barriered intermediate
  *    (`QueryUtil.persistKeyed`).
  * Loaded and Plan entries cache logical plans only: every action still
  * optimizes, plans and scans parquet. They are bounded by the query
  * inventory times the corpus dirs a session reads. Persisted entries pin
  * storage, so a session keeps at most [[maxPersisted]] of them and evicts
  * the least recently used. Evicting or removing a persisted entry also drops
  * the session's plans: a memoized plan may embed the entry's barrier RDD
  * and would keep its blocks alive.
  *
  * Locking: one monitor, held for map operations only. A caller builds a
  * missing entry outside it, because a build may nest memo calls on the same
  * session and may take long. When builds race, the first insert wins and
  * every caller gets the winner.
  *
  * Lifetime: an entry strongly references its session
  * (`Dataset.sparkSession`), so weak keys alone never let one go. A listener
  * on each context drops the context's sessions at application end.
  *
  * PRECONDITION: inputs under a dir are immutable for the session's
  * lifetime. Entries pin the first call's file listing and schema, so a tool
  * that rewrites the corpus mid-session uses a fresh session. */
private[graft] object SessionRegistry {
  sealed trait Key
  final case class Loaded(dir: String, name: String) extends Key
  final case class Plan(dir: String, id: String) extends Key
  final case class Persisted(key: String) extends Key

  /** Far above any single pipeline's working set; bounds what a long-lived
    * multi-corpus session pins. */
  val maxPersisted = 64

  private final class Entries {
    val memo = new java.util.HashMap[Key, DataFrame]()
    /** Access-ordered: the head is the least recently used entry. */
    val persisted = new java.util.LinkedHashMap[Key, DataFrame](16, 0.75f, true)
    /** The dir whose tables are the session's temp views, or null. */
    var viewsDir: String = _
    def of(key: Key): java.util.HashMap[Key, DataFrame] = key match {
      case _: Persisted => persisted
      case _            => memo
    }
    def dropPlans(): Unit = { memo.keySet().removeIf(_.isInstanceOf[Plan]); () }
  }

  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]()
  private val hooked = new java.util.WeakHashMap[SparkContext, java.lang.Boolean]()

  /** The caller holds the monitor. */
  private def entries(s: SparkSession): Entries = {
    val sc = s.sparkContext
    if (hooked.put(sc, java.lang.Boolean.TRUE) == null)
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          SessionRegistry.synchronized {
            sessions.keySet().removeIf(_.sparkContext eq sc); ()
          }
      })
    var e = sessions.get(s)
    if (e == null) { e = new Entries; sessions.put(s, e) }
    e
  }

  /** The entry under `key`, or null. A hit counts as a use for the LRU. */
  def get(s: SparkSession, key: Key): DataFrame =
    synchronized(entries(s).of(key).get(key))

  /** Insert `df` under `key` unless an entry is there already. Returns the
    * entry that won, and the persisted entries evicted to stay within
    * [[maxPersisted]]. */
  def insert(s: SparkSession, key: Key, df: DataFrame): (DataFrame, Seq[DataFrame]) =
    synchronized {
      val e = entries(s)
      val prev = e.of(key).putIfAbsent(key, df)
      if (prev != null) (prev, Nil)
      else {
        val evicted = Seq.newBuilder[DataFrame]
        while (e.persisted.size > maxPersisted) {
          val it = e.persisted.values().iterator()
          evicted += it.next()
          it.remove()
        }
        val out = evicted.result()
        if (out.nonEmpty) e.dropPlans()
        (df, out)
      }
    }

  /** The entry under `key`, built by `build` on a miss. */
  def memo(s: SparkSession, key: Key)(build: => DataFrame): DataFrame = {
    val hit = get(s, key)
    if (hit != null) hit else insert(s, key, build)._1
  }

  /** Remove the persisted entries whose key starts with `prefix`, and with
    * any removed, the session's plans. Returns the removed entries. */
  def removePersisted(s: SparkSession, prefix: String): Seq[DataFrame] = synchronized {
    val e = entries(s)
    val removed = Seq.newBuilder[DataFrame]
    val it = e.persisted.entrySet().iterator()
    while (it.hasNext) {
      val en = it.next()
      en.getKey match {
        case Persisted(k) if k.startsWith(prefix) => removed += en.getValue; it.remove()
        case _ =>
      }
    }
    val out = removed.result()
    if (out.nonEmpty) e.dropPlans()
    out
  }

  /** The session's persisted entries. */
  def persisted(s: SparkSession): Seq[DataFrame] =
    synchronized(entries(s).persisted.values().toArray(Array.empty[DataFrame]).toSeq)

  /** Run `register` unless `dir`'s tables already are the session's temp
    * views. */
  def registerViews(s: SparkSession, dir: String)(register: => Unit): Unit =
    if (synchronized(entries(s).viewsDir) != dir) {
      register
      synchronized(entries(s).viewsDir = dir)
    }
}

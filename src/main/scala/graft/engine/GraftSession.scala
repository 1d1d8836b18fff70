package graft.engine

import java.lang.ref.WeakReference
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ExchangeQueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

/** The engine facade: the reference's session API (`sqlDirectly`,
  * `registerTempView`, `tempView`, `executeAndRegisterTempView`,
  * `db.table`-qualified names — reference `DirectSparkSession.scala:88-219`)
  * rebuilt on a stock SparkSession.
  *
  * Design deltas vs the reference, deliberate (SURVEY §7.4):
  *  - The plan cache is keyed by SQL text, and each entry records the name
  *    of every relation its analyzed plan resolved (temp views, persistent
  *    tables and aliases; nested views and subqueries included).
  *    Re-registering a view drops only the entries that read that name, so
  *    a view that now shadows a persistent table reaches the plans that read
  *    the table; commands (DDL, INSERT) issued through `sql` still drop
  *    every entry. A compile that overlaps a write to a name it read, or a
  *    command, is used once but not cached; writes to other names do not
  *    keep it out.
  *  - The one exception is the reference's lazy `NamedLocalRelation`
  *    rebinding: re-registering a `DataTable` under a name whose `DataTable`
  *    registration the catalog still holds, with the same schema (names,
  *    types, nullability), publishes the rows as a new version of the same
  *    table (`DriverSlot`). The entries that read the name (directly or
  *    through a view) and run on the calling thread keep their plan and
  *    lose only their frozen rows; each execution reads the version current
  *    when it starts, once per table, so a self-join sees one version. Every
  *    other re-registration takes the path above: a changed schema, a
  *    DataFrame, a driver snapshot swapped in, or a view replaced by a
  *    command.
  *  - A text is cached only the second time it is seen, so one-off texts pin
  *    nothing. A first sighting keeps a weak handle on its DataFrame, which
  *    the second sighting adopts if it is still alive and no command and no
  *    write to a name it read happened since.
  *  - After an entry's first complete execution, its result rows are frozen
  *    when running the plan again could not change them: no
  *    non-deterministic and no clock expression, and the result stage of the
  *    final plan reads only materialized exchange stages or local tables.
  *    Later `sql` calls return those rows without a Spark job, and the
  *    executed plan's broadcast relations and shuffle stages are released;
  *    `sqlDF` gets a DataFrame over the analyzed plan, built on demand. Rows
  *    computed from a table version that was replaced during the execution
  *    are not frozen.
  *    Frozen rows are bounded per entry and in total; a larger result, or a
  *    plan that fails the test, keeps re-running its executed plan (the AQE
  *    stages it materialized are reused).
  *  - At most `MaxHeldPlans` entries hold a DataFrame that may have run: one
  *    not yet settled, one that re-runs its executed plan, or a frozen
  *    entry's DataFrame handed out by `sqlDF`. Past the bound, frozen
  *    entries let go of their DataFrames first, then the least recently used
  *    of the others are evicted.
  *  - Time correctness under the cache comes from the `Exec*` clock
  *    expressions (see ExecTime.scala) — frozen per execution via local
  *    properties, so concurrent callers on different threads each see their
  *    own clock, mirroring the reference's thread-local
  *    `DirectExecutionContext` but cluster-safe. A plan holding a clock
  *    expression is never frozen. One that runs on the calling thread keeps
  *    its node, which reads the clock of each execution; any other caches
  *    only its analyzed plan and is planned afresh on every call, because
  *    AQE would otherwise replay the first call's clock from its
  *    materialized stages (as would a node the optimizer folded a clock
  *    into: `current_time()`, or any clock on a session built without
  *    GraftExtensions).
  *  - Small file tables registered through `registerTable(name, df)` are
  *    served from driver snapshots, the reference's `NamedLocalRelation`
  *    tables: a deterministic, clock-free batch DataFrame whose leaves are
  *    all file scans by path, that reads no view, and whose optimizer size
  *    estimate is at most `MaxSnapshotEstimateBytes`. Registration stays
  *    job-free; the first facade call that reads the table (`sql`, `sqlDF`,
  *    `table`, `executeAndRegister`) collects its rows once, as
  *    `UnsafeRow`s, and replaces the live view with a `DriverRelation` over
  *    them, unless the view was re-registered through the facade
  *    meanwhile: the newer registration always wins. (A view replaced by a
  *    command, through `sql` or on the session, is checked for too, but not
  *    atomically: a command that lands while the snapshot is swapped in is
  *    overwritten.)
  *    The collected rows are bounded per table and per facade
  *    (`MaxSnapshotBytes`, `MaxSnapshotsBytes`, shared with the results of
  *    `executeAndRegister`); a table over a bound keeps its live view. A `DataTable` registered through
  *    `registerTable(name, table)` is held in a `DriverRelation` at once.
  *    That leaf keeps its rows out of Catalyst's expression walks, and
  *    names a version slot rather than rows. A plan over snapshots and
  *    registered `DataTable`s whose operators are projections, filters,
  *    equi-joins, aggregates, sorts and limits runs on the calling thread as
  *    one `DirectPlanExec` (the reference's `DirectPlan`): `sql` runs it
  *    directly, with no Spark job and without Spark's action wrapper. It
  *    uses generated code only where that cannot inline a literal of the
  *    query text, so an ad-hoc text that differs from an earlier one only in
  *    a literal compiles nothing.
  *  - `executeAndRegister` splits the same way (the reference's
  *    `executeAndRegisterTempView`): a plan whose root is a `DirectPlanExec`
  *    runs on the calling thread, its rows are collected as `UnsafeRow`s and
  *    published under the name as a `DataTable` registration is, so a
  *    same-schema re-materialization keeps the plans that read the name.
  *    Those rows count against the snapshot bounds, and collection stops as
  *    soon as they pass one (at most one row more is held); such a result,
  *    and every other plan, is checkpointed by a Spark job instead. A name's
  *    bytes are released when it is registered again.
  *  - Executions of everything else are plain Spark jobs: thread-safe,
  *    spill-aware, distributed. A calling-thread plan holds on the driver
  *    what its operators must hold (a join's hash table over its build
  *    side, an aggregate's groups, a sort's rows), with no bound of its own;
  *    rows between operators stream.
  */
class GraftSession private (val spark: SparkSession) {
  import GraftSession._

  // The cache state below is guarded by `lock`.
  private val lock = new Object

  /** Admitted texts, least recently used first. */
  private val cache =
    new java.util.LinkedHashMap[String, Entry](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean =
        size() > MaxEntries && { drop(e.getValue); counters.evictions.increment(); true }
    }

  /** Texts seen but not (or no longer) cached. */
  private val seen =
    new java.util.LinkedHashMap[String, Sighting](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Sighting]): Boolean =
        size() > MaxSightings
    }

  /** Writes and commands are numbered, so a compile can tell whether one
    * that concerns it overlapped it: `writeSeq` is the newest number,
    * `written` holds the newest write of each relation name (a name it no
    * longer holds was last written at `writtenFloor` or before) and
    * `commandSeq` the newest command. */
  private var writeSeq = 0L
  private val written = new java.util.HashMap[String, java.lang.Long]()
  private var writtenFloor = 0L
  private var commandSeq = 0L
  private var frozenBytes = 0L
  /** Cached entries whose `df` is set. */
  private var heldPlans = 0
  private val counters = new Counters

  /** Registrations whose driver snapshot is not taken yet, by view key. A
    * registration and a snapshot's swap into the catalog hold `views`, so a
    * re-registration always wins over an older snapshot. `views` is taken
    * before `lock`, never after. */
  private val pending = new ConcurrentHashMap[String, Pending]()
  private val views = new Object
  /** Bytes of the snapshots and materialized results the catalog holds, by
    * view key; guarded by `views`. */
  private val snapshots = new java.util.HashMap[String, java.lang.Long]()
  private var snapshotBytes = 0L
  /** The `DataTable`s registered through the facade, by view key, while the
    * catalog still holds the view their registration created; guarded by
    * `views`. */
  private val tables = new java.util.HashMap[String, Bound]()

  /** `db.table` temp-view names, like the reference's directTempViews
    * namespace (reference `DirectSessionCatalog.scala:130-171`), via
    * deterministic name mangling inside the facade. */
  private def mangle(name: String): String = name.replace(".", "__g__")

  /** How the catalog spells a temp view's name (case-insensitive). */
  private def viewKey(name: String): String = name.toLowerCase(Locale.ROOT)

  private def isCommand(df: DataFrame): Boolean = {
    // the parsed plan of e.g. INSERT is an InsertIntoStatement (not yet a
    // Command) — only the ANALYZED plan reliably reveals command-ness
    import org.apache.spark.sql.catalyst.plans.logical.{Command, CommandResult}
    df.queryExecution.logical.isInstanceOf[CommandResult] ||
      df.queryExecution.analyzed.isInstanceOf[Command] ||
      df.queryExecution.analyzed.isInstanceOf[CommandResult]
  }

  /** Every relation name `plan` resolved, nested views and subqueries
    * included; not only temp views: a view registered later under a
    * persistent table's name shadows it. Extra names (query aliases) only
    * drop an entry more often. */
  private def relationNames(plan: LogicalPlan): Set[String] =
    plan.collectWithSubqueries {
      case v: View => viewKey(v.desc.identifier.table)
      case a: SubqueryAlias => viewKey(a.identifier.name)
    }.toSet

  private def newEntry(sqlText: String, df: DataFrame): Entry = {
    val analyzed = df.queryExecution.analyzed
    val nodes = analyzed.collectWithSubqueries { case p => p }
    val clock = nodes.exists(_.expressions.exists(ExecTimeRewrite.hasClockExpr))
    new Entry(sqlText, analyzed, relationNames(analyzed), clock,
      nodes.forall(_.expressions.forall(_.deterministic)), if (clock) null else df)
  }

  /** The DataFrame to run for `sqlText`, and the cache entry behind it
    * (null when the text is not cached; null for a hit the caller runs with
    * the entry's calling-thread node, when `direct`). Compiles outside the
    * lock, so unrelated statements analyze in parallel. */
  private def lookup(sqlText: String, direct: Boolean): Lookup = {
    var hit: Entry = null
    var hitDf: DataFrame = null
    var prior: Sighting = null
    var reuse: DataFrame = null
    var start = 0L
    lock.synchronized {
      hit = cache.get(sqlText)
      if (hit != null) hitDf = hit.df
      else {
        start = writeSeq
        prior = seen.get(sqlText)
        if (prior != null && prior.df != null && unchangedSince(prior.compiledAt, prior.deps))
          reuse = prior.df.get
      }
    }
    if (hit != null) {
      if (hit.clock && !(direct && hit.direct != null))
        Lookup(hit, DatasetBridge.ofRows(spark, hit.analyzed), Clock)
      // null for a frozen entry that holds no DataFrame
      else Lookup(hit, hitDf, Hit)
    } else {
      // taking a snapshot bumps the write number, so a text compiled again
      // over one is not cached by this call
      val df = if (reuse != null) reuse else compile(spark.sql(sqlText))
      val compiledAt = if (reuse != null) prior.compiledAt else start
      if (isCommand(df)) {
        // commands (INSERT/DDL) execute eagerly at construction: caching one
        // would turn a re-issued statement into a silent no-op replay, and a
        // catalog mutation may change what any cached SELECT reads
        invalidateAll()
        Lookup(null, df, Command)
      } else {
        val e = newEntry(sqlText, df)
        val admitted = lock.synchronized {
          if (prior == null) {
            seen.put(sqlText, Sighting(new WeakReference(df), compiledAt, e.deps))
            false
          } else if (!unchangedSince(compiledAt, e.deps) || cache.containsKey(sqlText)) false
          else {
            seen.remove(sqlText)
            cache.put(sqlText, e)
            if (e.df != null) { heldPlans += 1; trimHeld(e) }
            true
          }
        }
        // an adopted DataFrame may have run already: a clock plan must not
        // replay that run's stages
        val run = if (e.clock && reuse != null) DatasetBridge.ofRows(spark, e.analyzed) else df
        Lookup(if (admitted) e else null, run, if (prior == null) FirstSighting else Miss)
      }
    }
  }

  /** Settle a pending entry after a complete execution of `ran`: freeze its
    * rows, or keep re-running its executed plan. */
  private def settle(e: Entry, ran: DataFrame, result: DataTable): Unit =
    if (!e.deterministic) pin(e)
    else ran.queryExecution.executedPlan match {
      // another first execution is still re-planning: decide after a later run
      case a: AdaptiveSparkPlanExec if !a.isFinalPlan => ()
      case p if replaysFrozenInputs(p) =>
        val bytes = SizeEstimator.estimate(result.rows)
        if (bytes <= MaxFrozenEntryBytes) freeze(e, result, bytes) else pin(e)
      case _ => pin(e)
    }

  /** Freeze `e`'s rows and let go of its executed plan. */
  private def freeze(e: Entry, result: DataTable, bytes: Long): Unit = lock.synchronized {
    if (e.state == Pending && (cache.get(e.text) eq e)) {
      val it = cache.values.iterator
      while (frozenBytes + bytes > MaxFrozenBytes && it.hasNext) {
        val o = it.next()
        if (o.state == Frozen) { it.remove(); drop(o); counters.evictions.increment() }
      }
      e.result = result
      e.bytes = bytes
      e.state = Frozen
      release(e)
      frozenBytes += bytes
    }
  }

  private def pin(e: Entry): Unit = lock.synchronized {
    if (e.state == Pending && (cache.get(e.text) eq e)) e.state = Pinned
  }

  /** The DataFrame `sqlDF` returns for the frozen entry `e`: the one `e`
    * holds, or a new one over its analyzed plan, which `e` then holds. */
  private def lend(e: Entry): DataFrame = {
    val fresh = DatasetBridge.ofRows(spark, e.analyzed)
    lock.synchronized {
      if (e.df == null && (cache.get(e.text) eq e)) {
        e.df = fresh
        heldPlans += 1
        trimHeld(e)
      }
      if (e.df != null) e.df else fresh
    }
  }

  private def release(e: Entry): Unit =
    if (e.df != null) { e.df = null; heldPlans -= 1 }

  /** Keep at most `MaxHeldPlans` entries holding a DataFrame, `keep` among
    * them: frozen entries let go of theirs first (their rows stay), then the
    * least recently used of the others are evicted. */
  private def trimHeld(keep: Entry): Unit = {
    val frozen = cache.values.iterator
    while (heldPlans > MaxHeldPlans && frozen.hasNext) {
      val o = frozen.next()
      if (o.state == Frozen && (o ne keep)) release(o)
    }
    val it = cache.values.iterator
    while (heldPlans > MaxHeldPlans && it.hasNext) {
      val o = it.next()
      if (o.df != null && (o ne keep)) { it.remove(); drop(o); counters.evictions.increment() }
    }
  }

  /** Account for an entry leaving the cache. Its text stays admitted: the
    * next call compiles and caches it again. */
  private def drop(e: Entry): Unit = {
    if (e.state == Frozen) frozenBytes -= e.bytes
    release(e)
    seen.put(e.text, Readmit)
  }

  /** True when no command and no write to one of `deps` came after the
    * write number `since`. Guarded by `lock`. */
  private def unchangedSince(since: Long, deps: Set[String]): Boolean =
    commandSeq <= since && deps.forall { d =>
      val w = written.get(d)
      (if (w == null) writtenFloor else w.longValue) <= since
    }

  /** Drop the entries that read `view`, directly or through another view. */
  private def invalidate(view: String): Unit = noteWrite(view, _ => false)

  /** Publish `rows` as the new version of the table in `slot` (view key
    * `view`). The entries that read it and run on the calling thread, or
    * are planned afresh on every call, stay cached: each execution reads the
    * slot, so only their frozen rows and lent DataFrames (which read the old
    * version) are dropped. Every other entry that reads it is dropped. */
  private def rebind(view: String, slot: DriverSlot, rows: DriverRows): Unit = lock.synchronized {
    slot.publish(rows)
    noteWrite(view, e => e.direct != null || e.clock)
  }

  /** Record a write to `view`: a compile that overlapped it is not cached.
    * Of the entries that read `view`, those `keep` holds lose their frozen
    * rows; the others are dropped. */
  private def noteWrite(view: String, keep: Entry => Boolean): Unit = lock.synchronized {
    writeSeq += 1
    written.put(view, writeSeq)
    if (written.size > MaxWrittenNames) { written.clear(); writtenFloor = writeSeq }
    val it = cache.values.iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.deps.contains(view)) {
        if (keep(e)) { thaw(e); counters.rebinds.increment() }
        else { it.remove(); drop(e); counters.invalidated.increment() }
      }
    }
  }

  /** Let a kept entry go of its frozen rows and of any DataFrame it lent. */
  private def thaw(e: Entry): Unit = {
    if (e.state == Frozen) {
      frozenBytes -= e.bytes
      e.result = null
      e.bytes = 0L
      e.state = Pending
    }
    release(e)
  }

  private def invalidateAll(): Unit = lock.synchronized {
    writeSeq += 1
    commandSeq = writeSeq
    counters.invalidated.add(cache.size)
    cache.values.asScala.foreach(drop)
    cache.clear()
  }

  /** Run `sqlText` with a frozen per-execution clock and collect it: from
    * frozen rows when the text's entry holds them, else over its cached
    * plan (parse/analyze/optimize/plan skipped), else compiled afresh. A
    * plan whose root is a `DirectPlanExec` is run by that node on this
    * thread, over the current version of each driver table it reads, with
    * no Spark job and without Spark's action wrapper. */
  def sql(sqlText: String): DataTable = {
    val l = lookup(sqlText, direct = true)
    val e = l.entry
    val frozen = if (e == null) null else e.result
    if (frozen != null) { counters.resultHits.increment(); frozen }
    else {
      counters.count(l.outcome)
      val direct = if (e != null && e.direct != null) e.direct else directRoot(e, l.df)
      executing {
        if (direct != null) {
          val run = direct.collectLive()
          counters.driverRuns.increment()
          // the analyzed schema, as the Spark path returns: optimization may
          // have changed the nullability of the plan's output
          val result = DataTable(if (e != null) e.analyzed.schema else l.df.schema, run.rows)
          if (e != null && e.state == Pending) settleDirect(e, result, run.read)
          result
        } else {
          val result = DataTable(l.df.schema, l.df.collect().toSeq)
          if (e != null && e.state == Pending) settle(e, l.df, result)
          result
        }
      }
    }
  }

  /** `body` with this thread's execution clock frozen. */
  private def executing[T](body: => T): T = {
    GraftExecutionContext.begin(spark)
    try body finally GraftExecutionContext.end(spark)
  }

  /** The `DirectPlanExec` at the root of `df`'s executed plan, or null. An
    * entry `e` that runs it keeps the node and lets go of `df` (the node
    * binds its tables' rows and reads the clock when it runs, so it
    * outlives a rebind), unless the optimizer folded a clock into it. */
  private def directRoot(e: Entry, df: DataFrame): DirectPlanExec =
    if (df.isStreaming) null
    else df.queryExecution.executedPlan match {
      case d: DirectPlanExec =>
        if (e != null && !(e.clock && e.analyzed.exists(_.expressions.exists(ExecTimeRewrite.hasFoldedClock))))
          lock.synchronized {
            if (e.direct == null && (cache.get(e.text) eq e)) { e.direct = d; release(e) }
          }
        d
      case _ => null
    }

  /** Freeze the rows of a calling-thread execution of `e`, unless a newer
    * version of a table it read was published meanwhile: a freeze that
    * lost that race is not served. */
  private def settleDirect(e: Entry, result: DataTable, read: Seq[(DriverSlot, DriverRows)]): Unit = {
    val bytes = SizeEstimator.estimate(result.rows)
    lock.synchronized {
      if (read.forall { case (slot, rows) => slot.current eq rows }) {
        if (bytes <= MaxFrozenEntryBytes) freeze(e, result, bytes) else pin(e)
      }
    }
  }

  /** Lazy variant for composition — same cache, no collect. A frozen
    * entry returns the DataFrame it holds, or a new unexecuted one over its
    * analyzed plan; a text with a clock expression gets a new DataFrame over
    * its cached analyzed plan on every call. */
  def sqlDF(sqlText: String): DataFrame = {
    val l = lookup(sqlText, direct = false)
    counters.count(l.outcome)
    if (l.df != null) l.df else lend(l.entry)
  }

  /** Plan-cache counters since the session was built, and its current size. */
  def cacheStats: CacheStats =
    lock.synchronized(counters.snapshot(cache.size, heldPlans, frozenBytes))

  /** Register `table`'s rows as the temp view `name`, held on the driver
    * in a `DriverRelation`. Over a `DataTable` registered here under the
    * same name with the same schema (names, types, nullability), whose view
    * the catalog still holds, the rows are published as a new version of
    * the same table: the cached plans that read it are kept, and only their
    * frozen rows are dropped (see `rebind`). */
  def registerTable(name: String, table: DataTable): Unit = {
    publish(name, table.schema, DriverRows.of(table.schema, table.rows), 0L)
    ()
  }

  /** Register `rows` of `schema` as the temp view `name`, as
    * `registerTable(name, table)` does, and count `bytes` of them against
    * the snapshot bounds (0 for a caller's `DataTable`); false, registering
    * nothing, when they do not fit. */
  private def publish(name: String, schema: StructType, rows: DriverRows, bytes: Long): Boolean = {
    val view = mangle(name)
    val key = viewKey(view)
    views.synchronized {
      bytes <= room(key) && {
        val b = tables.get(key)
        if (b != null && b.schema == schema &&
            DatasetBridge.tempView(spark, view).exists(_ eq b.registered)) rebind(key, b.slot, rows)
        else {
          val slot = new DriverSlot(rows)
          replaceView(view, key,
            DatasetBridge.ofRows(spark, DriverRelation(DataTypeUtils.toAttributes(schema), slot)),
            candidate = false)
          tables.put(key, Bound(schema, slot, DatasetBridge.tempView(spark, view).orNull))
        }
        hold(key, bytes)
        true
      }
    }
  }

  /** The bytes view key `key` may hold on the driver: the per-table bound,
    * or what the facade's bound leaves once `key`'s own bytes are released.
    * Guarded by `views`. */
  private def room(key: String): Long = {
    val own = snapshots.get(key)
    math.min(MaxSnapshotBytes, MaxSnapshotsBytes - snapshotBytes + (if (own == null) 0L else own.longValue))
  }

  /** Count `bytes` as what view key `key` holds on the driver, in place of
    * what it held. Guarded by `views`. */
  private def hold(key: String, bytes: Long): Unit = {
    val old = if (bytes > 0) snapshots.put(key, bytes) else snapshots.remove(key)
    snapshotBytes += bytes - (if (old == null) 0L else old.longValue)
  }

  /** Register `df` as the temp view `name`. A small file table becomes a
    * driver snapshot on the first facade read that needs it (see
    * `snapshotCandidate`); registration itself runs no Spark job. */
  def registerTable(name: String, df: DataFrame): Unit = {
    val view = mangle(name)
    val candidate = snapshotCandidate(df)
    views.synchronized(replaceView(view, viewKey(view), df, candidate))
  }

  /** Make `df` the temp view `view` (key `key`) and drop the plans that read
    * it. Guarded by `views`. */
  private def replaceView(view: String, key: String, df: DataFrame, candidate: Boolean): Unit = {
    df.createOrReplaceTempView(view)
    hold(key, 0L)
    tables.remove(key)
    if (candidate) pending.put(key, new Pending(key, view, df, DatasetBridge.tempView(spark, view).orNull))
    else pending.remove(key)
    invalidate(key)
  }

  def table(name: String): DataTable = {
    val df = compile(spark.table(mangle(name)))
    DataTable(df.schema, df.collect().toSeq)
  }

  /** `build`'s DataFrame. While a query's plan reads a table whose
    * snapshot is pending, the snapshot is taken and `build` runs again, so
    * the DataFrame reads the snapshots (or the views that replaced them). A
    * command is returned as built: it has run already. */
  private def compile(build: => DataFrame): DataFrame = {
    var df = build
    while (!isCommand(df) && takePending(df.queryExecution.analyzed)) df = build
    df
  }

  /** True when `df` may be served from a driver snapshot instead of a live
    * view: a deterministic, clock-free batch plan of this session whose
    * every leaf is a scan of files by path (no catalog table, which a
    * command could change; no view, so a view it reads stays live and a
    * write to that view still reaches the plans that read `df`), with an
    * optimizer size estimate at most `MaxSnapshotEstimateBytes`. */
  private def snapshotCandidate(df: DataFrame): Boolean = {
    val nodes = df.queryExecution.analyzed.collectWithSubqueries { case p => p }
    (df.sparkSession eq spark) && !df.isStreaming &&
      nodes.forall {
        case _: View => false
        case l: LogicalRelation =>
          l.catalogTable.isEmpty && l.relation.isInstanceOf[HadoopFsRelation]
        case p => p.children.nonEmpty
      } &&
      nodes.forall(_.expressions.forall(e => e.deterministic && !ExecTimeRewrite.hasClockExpr(e))) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <= MaxSnapshotEstimateBytes
  }

  /** Take the pending snapshots of the relations `plan` reads; true when
    * there was one, so `plan` may have read a view that has since changed. */
  private def takePending(plan: LogicalPlan): Boolean =
    !pending.isEmpty && {
      val ps = relationNames(plan).toSeq.flatMap(n => Option(pending.get(n)))
      ps.foreach(takeSnapshot)
      ps.nonEmpty
    }

  /** Collect `p`'s rows, at most once, and put them in the catalog in place
    * of its live view, unless the view was replaced meanwhile or the rows
    * are over the bounds (checked on the collected rows: the file size
    * understates their heap size 8–17×); either way `p` is no longer
    * pending. A re-registration through the facade holds `views`, so it
    * always wins; a command that replaces the view between the check and
    * the swap is overwritten. Swapping bumps the write number, so a compile
    * that overlapped it is not cached. */
  private def takeSnapshot(p: Pending): Unit = p.synchronized {
    def current = (pending.get(p.key) eq p) &&
      DatasetBridge.tempView(spark, p.view).exists(_ eq p.registered)
    if (pending.get(p.key) eq p) {
      val rows =
        try { if (current) DatasetBridge.collectInternal(p.df) else null }
        catch { case NonFatal(e) => pending.remove(p.key, p); throw e }
      val bytes = if (rows == null) 0L else SizeEstimator.estimate(rows)
      views.synchronized {
        if (rows != null && current && bytes <= room(p.key)) {
          val attrs = p.df.queryExecution.analyzed.output
            .map(a => AttributeReference(a.name, a.dataType, a.nullable, a.metadata)())
          val snapshot = DriverRelation(attrs, new DriverSlot(new DriverRows(ArraySeq.unsafeWrapArray(rows))))
          DatasetBridge.ofRows(spark, snapshot).createOrReplaceTempView(p.view)
          hold(p.key, bytes)
          invalidate(p.key)
        }
        pending.remove(p.key, p)
      }
    }
  }

  /** Isolated child session: shares SparkContext + catalog-level state,
    * isolates temp views, conf and plan cache (reference `newSession`,
    * `DirectSparkSession.scala:81-86`). Extensions (exec-time clock rule)
    * carry over to the child. */
  def newSession(): GraftSession = GraftSession(spark.newSession())

  /** Execute and register the result as a temp view; returns row count
    * (reference `executeAndRegisterTempView`, `DirectSparkSession.scala:
    * 181-219`). Materialized eagerly, so later queries read a stable
    * result, with its clock values frozen. The text is compiled without
    * touching the plan cache, over the driver snapshots of the tables it
    * reads. Where the result lives depends on the plan:
    *  - a plan whose root is a `DirectPlanExec` (all its inputs are on the
    *    driver) runs on the calling thread with no Spark job, and its rows
    *    are kept on the driver as copied `UnsafeRow`s, registered as a
    *    `DataTable` is (see `registerTable`), within the snapshot bounds.
    *    Collection stops as soon as the rows pass a bound;
    *  - every other plan, and a driver plan past a bound, is checkpointed:
    *    `localCheckpoint` pins the computed partitions in executor storage,
    *    so a large result never reaches the driver. Checkpointing also
    *    severs plan lineage, so the CacheManager cannot match the result
    *    against later executions of the same text, whose clocks stay live. */
  def executeAndRegister(sqlText: String, name: String): Long = {
    val df = compile(spark.sql(sqlText))
    if (isCommand(df)) invalidateAll()
    val direct = directRoot(null, df)
    val held =
      if (direct == null) None
      else executing(direct.collectLiveRows(views.synchronized(room(viewKey(mangle(name))))))
    held match {
      case Some((rows, bytes)) if publish(name, df.schema, rows, bytes) => rows.rows.length.toLong
      case _ =>
        val snap = executing(df.localCheckpoint(true))
        registerTable(name, snap)
        // counts over the checkpointed partitions — no recompute, no driver rows
        snap.count()
    }
  }
}

object GraftSession {

  // Bounds of the plan cache: fixed constants, not options.
  private val MaxEntries = 1000
  private val MaxSightings = 1000
  /** Relation names whose newest write is kept; past it, the compiles that
    * began before the newest write are not cached. */
  private val MaxWrittenNames = 1000
  /** Entries that hold a DataFrame that may have run: each can pin a
    * broadcast relation and AQE stage state, about 3 MB for a small join. */
  private val MaxHeldPlans = 8
  private val MaxFrozenEntryBytes = 1L << 20
  private val MaxFrozenBytes = 32L << 20
  // Bounds of the driver snapshots of registered tables, per table and per
  // facade, on the collected rows.
  private val MaxSnapshotBytes = 16L << 20
  private val MaxSnapshotsBytes = 64L << 20
  /** The optimizer size estimate (file bytes) past which a table is not
    * collected at all: parquet rows measured 8–17× larger on the heap, so a
    * larger file would pass `MaxSnapshotBytes` anyway. */
  private val MaxSnapshotEstimateBytes = MaxSnapshotBytes / 8

  private sealed trait State
  /** Not yet settled by a complete run through `sql`. */
  private case object Pending extends State
  /** Serves its frozen rows; holds a DataFrame only once `sqlDF` asks. */
  private case object Frozen extends State
  /** Re-runs its executed plan. */
  private case object Pinned extends State
  /** Holds a clock expression: never frozen; keeps the analyzed plan, and
    * the calling-thread node that runs it, if any. */
  private case object Replanned extends State

  /** One cached text. `deps` are the relation names its analyzed plan
    * resolved, nested views and subqueries included. `df` is the DataFrame
    * calls run, null for a clock plan and for a frozen entry not lent. */
  private final class Entry(val text: String, val analyzed: LogicalPlan,
      val deps: Set[String], val clock: Boolean, val deterministic: Boolean,
      @volatile var df: DataFrame) {
    @volatile var state: State = if (clock) Replanned else Pending
    @volatile var result: DataTable = null
    var bytes = 0L
    /** The executed plan's root when it runs on the calling thread. */
    @volatile var direct: DirectPlanExec = null
  }

  /** A `DataTable` registration: its schema, the slot its versions are
    * published to, and the catalog's definition of the view it created. */
  private final case class Bound(schema: StructType, slot: DriverSlot, registered: AnyRef)

  /** A text seen but not cached: a weak handle on the DataFrame its first
    * compile built (null once it left the cache), the write number when
    * that compile began, and the relation names its plan read. */
  private final case class Sighting(df: WeakReference[DataFrame], compiledAt: Long,
      deps: Set[String])
  private val Readmit = Sighting(null, 0L, Set.empty)

  private sealed trait Outcome
  private case object Hit extends Outcome
  private case object Clock extends Outcome
  private case object Miss extends Outcome
  private case object FirstSighting extends Outcome
  private case object Command extends Outcome

  private final case class Lookup(entry: Entry, df: DataFrame, outcome: Outcome)

  /** A registration of `df` as the temp view `view` (key `key`) whose
    * snapshot is not taken yet; `registered` is the catalog's definition of
    * the view that the registration created. */
  private final class Pending(val key: String, val view: String, val df: DataFrame,
      val registered: AnyRef)

  /** Plan-cache counters of one facade. Each `sql` or `sqlDF` call counts
    * once, in one of the first six:
    *  - `resultHits`: `sql` returned frozen rows, with no Spark job;
    *  - `planHits`: a cached plan was run (a clock text's calling-thread
    *    node included), or returned by `sqlDF`;
    *  - `misses`: compiled on a later sighting and cached, unless a write
    *    overlapped the compile;
    *  - `firstSightings`: compiled and not cached, as the text was new;
    *  - `commands`: a command, run uncached; it drops every entry;
    *  - `clockReplans`: a cached analyzed plan holding a clock expression,
    *    optimized and planned afresh.
    * `invalidated` counts entries dropped by a write to a name they read or
    * by a command, `evictions` entries dropped by a bound; `entries`,
    * `heldPlans` (entries holding a DataFrame that may have run) and
    * `frozenBytes` are the cache's current size. `driverRuns` counts the
    * `sql` calls (of `planHits`, `misses`, `firstSightings` or
    * `clockReplans`) that a `DirectPlanExec` answered on the calling thread
    * with no Spark job; `rebinds` counts cached entries kept across a
    * re-registration of a `DataTable` with the same schema (each lost only
    * its frozen rows). */
  final case class CacheStats(resultHits: Long, planHits: Long, misses: Long,
      firstSightings: Long, commands: Long, clockReplans: Long,
      invalidated: Long, evictions: Long, entries: Int, heldPlans: Int,
      frozenBytes: Long, driverRuns: Long = 0L, rebinds: Long = 0L)

  private final class Counters {
    val resultHits, planHits, misses, firstSightings, commands, clockReplans,
      invalidated, evictions, driverRuns, rebinds = new LongAdder

    def count(o: Outcome): Unit = (o match {
      case Hit => planHits
      case Clock => clockReplans
      case Miss => misses
      case FirstSighting => firstSightings
      case Command => commands
    }).increment()

    def snapshot(entries: Int, heldPlans: Int, frozenBytes: Long): CacheStats = CacheStats(
      resultHits.sum, planHits.sum, misses.sum, firstSightings.sum, commands.sum,
      clockReplans.sum, invalidated.sum, evictions.sum, entries, heldPlans, frozenBytes,
      driverRuns.sum, rebinds.sum)
  }

  /** True when running the executed plan `p` again could only repeat its
    * rows: every input of its result stage is a materialized exchange stage
    * or a local table. (Applied to deterministic, clock-free plans only.) */
  private def replaysFrozenInputs(p: SparkPlan): Boolean = p match {
    case a: AdaptiveSparkPlanExec => a.isFinalPlan && replaysFrozenInputs(a.executedPlan)
    case r: ResultQueryStageExec => replaysFrozenInputs(r.plan)
    case s: ExchangeQueryStageExec => s.isMaterialized
    case _: LocalTableScanExec => true
    case _ => p.children.nonEmpty &&
      (p.children ++ p.subqueries).forall(replaysFrozenInputs)
  }


  /** One facade per SparkSession: two facades over one session would each
    * hold an independent plan cache, so an invalidation in one would not
    * reach the other's cached plans. Both sides are weak, since a facade
    * holds its session: a session that nobody references is collected with
    * its facade, and a facade that nobody references is replaced by a new
    * one on the next request. */
  private val facades = new java.util.WeakHashMap[SparkSession, WeakReference[GraftSession]]()

  private def facadeFor(spark: SparkSession): GraftSession = facades.synchronized {
    val held = facades.get(spark)
    var f = if (held == null) null else held.get
    if (f == null) { f = new GraftSession(spark); facades.put(spark, new WeakReference(f)) }
    f
  }

  private val convertToLocalRelation =
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** Ensure ConvertToLocalRelation is excluded on a session we did not
    * build — it would pre-evaluate Exec* clock expressions at optimization
    * time for local-relation plans, freezing them into cached plans. */
  private def ensureClockSafety(spark: SparkSession): Unit = {
    val key = "spark.sql.optimizer.excludedRules"
    val cur = spark.conf.getOption(key).getOrElse("")
    if (!cur.contains(convertToLocalRelation)) {
      spark.conf.set(key,
        if (cur.isEmpty) convertToLocalRelation else s"$cur,$convertToLocalRelation")
    }
  }

  def builder(): Builder = new Builder

  class Builder {
    private var master: String = "local[*]"
    private var appName: String = "graft"
    private var hive: Boolean = false
    private val extraConf = scala.collection.mutable.Map[String, String]()

    def master(m: String): Builder = { master = m; this }
    def appName(n: String): Builder = { appName = n; this }
    def config(k: String, v: String): Builder = { extraConf += k -> v; this }

    /** Enable the Hive session catalog so `CREATE [TEMPORARY] FUNCTION name
      * AS 'class'` accepts Hive UDF/GenericUDF/UDAF/UDTF classes — the
      * reference's function surface (reference
      * `DirectSessionCatalog.makeFunctionExpression:62-112`). Catalog
      * implementation is a SharedState-static conf: this must be the first
      * session created in the JVM to take effect. */
    def withHiveSupport(): Builder = { hive = true; this }

    def getOrCreate(): GraftSession = {
      // SparkSession.builder().getOrCreate() returns any existing default
      // session and silently ignores withExtensions — which would drop the
      // exec-time clock rule. Reuse only a session we created; otherwise
      // clear the default so a fresh session (sharing the SparkContext) is
      // built with our extensions.
      SparkSession.getDefaultSession match {
        case Some(s) if !s.sparkContext.isStopped &&
            s.conf.getOption("graft.session").contains("true") =>
          if (hive || extraConf.nonEmpty) {
            System.err.println("[graft] reusing existing graft session: " +
              "withHiveSupport/config settings on this builder are ignored")
          }
          return facadeFor(s)
        case Some(_) =>
          SparkSession.clearDefaultSession()
          SparkSession.clearActiveSession()
        case None =>
      }
      var b = SparkSession.builder()
        .config("graft.session", "true")
        .master(master)
        .appName(appName)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        // the reference inherits Spark 2.4 lenient semantics (bad casts ->
        // null, no overflow errors); Spark 4 defaults ANSI on — pin it off
        // in the facade for behavioral parity (SURVEY §7.4)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.ui.enabled", "false")
        // ConvertToLocalRelation evaluates deterministic projections over
        // local relations driver-side at *optimization* time — which would
        // freeze Exec* clock expressions into the cached plan. Excluding it
        // costs nothing at scale (file relations are unaffected).
        .config("spark.sql.optimizer.excludedRules",
          "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
        .withExtensions(new GraftExtensions)
      if (hive) b = b.enableHiveSupport()
      extraConf.foreach { case (k, v) => b = b.config(k, v) }
      facadeFor(b.getOrCreate())
    }
  }

  /** Wrap an existing session (extensions must already include
    * GraftExtensions for exec-time clock semantics; the planner strategy
    * for driver-resident tables is added when it is missing). */
  def apply(spark: SparkSession): GraftSession = {
    ensureClockSafety(spark)
    DatasetBridge.ensurePlanning(spark, DirectPlanStrategy, PinDriverRows)
    facadeFor(spark)
  }
}

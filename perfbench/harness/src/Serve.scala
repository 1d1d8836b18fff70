package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.engine.{DataTable, GraftSession}

/** The facade serving workload: `nproc` client threads in a closed loop on
  * one `GraftSession`. Each client's reads come in blocks of ten, shuffled
  * per block: six repeated in-memory reads, three repeated parquet joins and
  * one ad-hoc join whose literal is new on every call. Every 50th operation
  * of a client is a write instead, alternating a new version of the
  * in-memory table and a materialized parquet aggregate, which the client
  * then reads back. Every result is checked against one computed here from
  * the seeded inputs. The session is set up by `Serve.setup`. */
final class Serve(g: GraftSession, ref: Serve.Reference, seed: Long, tracer: Tracer,
    probe: Option[SparkProbe]) {
  import Serve._

  private val log = new OpLog(tracer)
  private val hits = new IdentityHits
  private val hitLog = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()

  // -- inputs ---------------------------------------------------------------

  private val rng = new Random(seed)
  // one balance from each eighth of the c_acctbal range, so the join reads
  // filter about as much on every seed
  private val scanBals: IndexedSeq[String] =
    (0 until 8).map(i => f"${-1000 + (i * 125000 + rng.nextInt(125000)) / 100.0}%.2f")
  private val memTexts: IndexedSeq[String] =
    (0 until 4).map(i => s"SELECT g, count(*) AS n, sum(v) AS s FROM mem_t WHERE k % 4 = $i GROUP BY g") ++
      (0 until 4).map(i => s"SELECT k, sum(v) AS s FROM mem_t WHERE g = 'g$i' GROUP BY k ORDER BY s DESC, k LIMIT 5")
  private val scanTexts: IndexedSeq[String] = scanBals.map(scanSql)
  private val adhocCounter = new AtomicLong(0)

  // -- writes -----------------------------------------------------------------

  // Writes of one table are serialized, so its versions are published in
  // order. `started` is the newest version begun, `published` the newest
  // finished. A read of `mem_t` must see a version at least as new as the
  // one published when it began; a writer's read of `agg_latest`, at least
  // its own.
  private val memLock = new Object
  private val memStarted = new AtomicLong(0)
  @volatile private var memPublished = 0L
  private val aggLock = new Object
  private val aggStarted = new AtomicLong(0)
  /** The `o_totalprice` threshold of each version of `agg_latest`. */
  private val aggThreshold = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val writeEpoch = new AtomicLong(0)

  // -- checks -----------------------------------------------------------------

  private val memExpected = new java.util.concurrent.ConcurrentHashMap[(Long, Int), Seq[Row]]()

  private def expectedMem(version: Long, text: Int): Seq[Row] =
    memExpected.computeIfAbsent((version, text), _ => {
      val rows = memTable(seed, version).rows.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      if (text < 4) rows.filter(_._1 % 4 == text).groupBy(_._2).toSeq
        .map { case (gk, rs) => Row(gk, rs.size.toLong, rs.map(_._3).sum) }
      else rows.filter(_._2 == s"g${text - 4}").groupBy(_._1).toSeq
        .map { case (k, rs) => (k, rs.map(_._3).sum) }
        .sortBy { case (k, s) => (-s, k) }.take(5).map { case (k, s) => Row(k, s) }
    })

  /** A read of the in-memory table is fresh when it matches a version at
    * least as new as the one published when the read began. */
  private def memOk(text: Int, got: DataTable, publishedAtStart: Long): Boolean = {
    val rows = got.rows.map(r => Row(r.toSeq: _*))
    val newest = memStarted.get()
    (publishedAtStart to newest).exists { v =>
      val want = expectedMem(v, text)
      if (text < 4) rows.sortBy(_.getString(0)) == want.sortBy(_.getString(0))
      else rows == want
    }
  }

  private val bals: Array[Double] = ref.joined.map(_._1)

  private def joinOk(bal: Double, got: DataTable): Boolean = {
    // first order whose customer balance is above `bal`
    var lo = 0
    var hi = bals.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (bals(m) > bal) hi = m else lo = m + 1 }
    val want = ref.joined.iterator.drop(lo).toSeq.groupBy(_._2)
      .map { case (p, rs) => p -> (rs.size.toLong, rs.map(_._3).sum) }
    val have = got.rows.map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    have.size == want.size && want.forall { case (p, (n, s)) =>
      have.get(p).exists { case (hn, hs) => hn == n && close(hs, s) }
    }
  }

  private val aggExpected = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()

  /** Orders per priority among those priced above `t`. */
  private def expectedAgg(t: Long): Map[String, Long] =
    aggExpected.computeIfAbsent(t, _ => ref.orders.iterator.filter(_._3 > t).toSeq
      .groupBy(_._2).map { case (p, rs) => p -> rs.size.toLong })

  /** A read of `agg_latest` is fresh when it matches, row for row, a
    * version at least as new as `version`. */
  private def aggOk(got: DataTable, version: Long): Boolean = {
    val rows = got.rows.map(r => r.getString(0) -> r.getLong(1))
    val have = rows.toMap
    rows.size == have.size &&
      (version to aggStarted.get()).exists(v => have == expectedAgg(aggThreshold.get(v)))
  }

  // -- operations -------------------------------------------------------------

  /** One facade read, traced as plan lookup (`sqlDF`) plus execution
    * (`sql`) so plan-cache hits can be told apart by DataFrame identity. */
  private def read(text: String, repeated: Boolean = true): DataTable =
    if (!tracer.enabled) g.sql(text)
    else {
      val df = tracer.span("engine.plan")(g.sqlDF(text))
      val outcome = if (repeated) hits.observe(text, df, writeEpoch.get()) else IdentityHits.First
      hitLog.add(tracer.currentSpan -> outcome.toString)
      tracer.span("engine.collect") {
        probe.foreach(_.qeOwner.put(df.queryExecution.id, tracer.currentSpan))
        g.sql(text)
      }
    }

  private def memRead(client: Int, text: Int, cls: String = "mem"): Unit = {
    val published = memPublished
    log.run(cls, s"mem$text", client)(memOk(text, read(memTexts(text)), published))
  }

  private def scanRead(client: Int, i: Int, cls: String = "scan"): Unit =
    log.run(cls, s"scan$i", client)(joinOk(scanBals(i).toDouble, read(scanTexts(i))))

  private def adhocRead(client: Int): Unit = {
    val n = adhocCounter.incrementAndGet()
    // n -> n * 7919 mod 1.1e6 is a bijection, so every literal is new
    val bal = f"${(n * 7919 + seed.abs % 1000) % 1100000 / 100.0 - 1000}%.2f"
    log.run("adhoc", "adhoc", client)(joinOk(bal.toDouble, read(scanSql(bal), repeated = false)))
  }

  private def write(client: Int, k: Int): Unit =
    if (k % 2 == 0) log.run("write", "register", client) {
      memLock.synchronized {
        val v = memStarted.incrementAndGet()
        val table = memTable(seed, v)
        tracer.span("engine.register")(g.registerTable("mem_t", table))
        memPublished = v
      }
      writeEpoch.incrementAndGet()
      true
    }
    else {
      val t = 1000 + (seed.abs * 31 + client * 977 + k * 7919L) % 498000
      var version = 0L
      log.run("write", "materialize", client) {
        val n = aggLock.synchronized {
          version = aggStarted.incrementAndGet()
          aggThreshold.put(version, t)
          tracer.span("engine.materialize")(g.executeAndRegister(
            s"SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > $t GROUP BY o_orderpriority",
            "agg_latest"))
        }
        writeEpoch.incrementAndGet()
        n == expectedAgg(t).size
      }
      // the writer reads its own write back: its version or a newer one
      if (version > 0) log.run("fresh", "agg_latest", client)(
        aggOk(read("SELECT o_orderpriority, n FROM agg_latest", repeated = false), version))
    }

  /** First call of every repeated statement, one after another. */
  def coldPass(): Unit = {
    memTexts.indices.foreach(memRead(-1, _, "cold"))
    scanTexts.indices.foreach(scanRead(-1, _, "cold"))
  }

  /** The closed loop: `clients` threads until `seconds` have passed. */
  def loop(clients: Int, seconds: Double): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val r = new Random(seed * 1000 + c)
        val block = scala.collection.mutable.Queue[Int]()
        var i = 0
        var writesDone = 0
        val writeOffset = c * 50 / clients
        while (System.nanoTime() < deadline) {
          if ((i + writeOffset) % 50 == 49) { write(c, writesDone); writesDone += 1 }
          else {
            if (block.isEmpty) block ++= r.shuffle(Seq(0, 0, 0, 0, 0, 0, 1, 1, 1, 2))
            block.dequeue() match {
              case 0 => memRead(c, r.nextInt(memTexts.size))
              case 1 => scanRead(c, r.nextInt(scanTexts.size))
              case _ => adhocRead(c)
            }
          }
          i += 1
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Leave the plan cache in the same state at the end of every run: empty
    * (an untimed re-registration of the newest `mem_t`), so the retained
    * heap does not depend on how long ago the last write was. */
  def settle(): Unit =
    memLock.synchronized(g.registerTable("mem_t", memTable(seed, memPublished)))

  def ops: Seq[Op] = log.all
  def planOutcomes: Seq[Seq[Any]] = hitLog.toArray.toSeq.map { case (a, b) => Seq(a, b) }
}

object Serve {
  /** The session's set-up: load and register `orders` and `customer`
    * through `graft.Tables`, and register version 0 of `mem_t`. */
  def setup(g: GraftSession, dataDir: String, seed: Long, tracer: Tracer): Unit = {
    Seq("orders", "customer").foreach { t =>
      g.registerTable(t, tracer.span("tables.load")(Tables.load(g.spark, dataDir, t)))
      tracer.span("tables.load.warm")(Tables.load(g.spark, dataDir, t))
    }
    tracer.span("engine.register")(g.registerTable("mem_t", memTable(seed, 0)))
  }

  /** The reference for every parquet read. `orders` holds (o_custkey,
    * o_orderpriority, o_totalprice) per order; `joined` holds (c_acctbal,
    * o_orderpriority, o_totalprice) per order, sorted by balance. */
  final case class Reference(orders: Array[(Long, String, Double)],
      joined: Array[(Double, String, Double)])

  object Reference {
    /** Read with a plain parquet scan, not through the facade or
      * `graft.Tables`. */
    def load(spark: SparkSession, dataDir: String): Reference = {
      val orders = spark.read.parquet(s"$dataDir/orders.parquet")
        .select("o_custkey", "o_orderpriority", "o_totalprice").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val bal = spark.read.parquet(s"$dataDir/customer.parquet")
        .select("c_custkey", "c_acctbal").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      Reference(orders, orders.flatMap(o => bal.get(o._1).map(b => (b, o._2, o._3))).sortBy(_._1))
    }
  }

  val memSchema: StructType = StructType(Seq(
    StructField("k", IntegerType), StructField("g", StringType), StructField("v", LongType)))

  /** Version `v` of the in-memory table: 2000 seeded rows. */
  def memTable(seed: Long, v: Long): DataTable = {
    val r = new Random(seed * 7907 + v)
    DataTable(memSchema, (0 until 2000).map(_ => Row(r.nextInt(50), s"g${r.nextInt(8)}", r.nextInt(1000).toLong)))
  }

  def scanSql(bal: String): String =
    "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM orders o " +
      s"JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_acctbal > $bal GROUP BY o_orderpriority"

  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
}

package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{DataTable, DirectPlan, DirectPlanExec, GraftSession}

/** The hash join of `DirectPlanExec`: a join of two registered `DataTable`s
  * runs on the calling thread, and its rows equal those of the same query
  * over parquet copies of the inputs, which Spark joins. Each test runs on
  * its own child session. */
class JoinFoldSpec extends AnyFunSuite {

  private lazy val root: GraftSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()

  private val schema = StructType(Seq(StructField("k", IntegerType),
    StructField("d", DoubleType), StructField("v", LongType)))

  /** A NaN whose bits differ from the canonical `Double.NaN`. */
  private val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000001L)

  /** `l` and `r` as folding DataTables, and `lp` and `rp` as parquet copies
    * registered on the session directly (not through the facade, so they
    * stay Spark scans). */
  private def session(l: Seq[Row], r: Seq[Row]): GraftSession = {
    val g = root.newSession()
    Seq("l" -> l, "r" -> r).foreach { case (name, rows) =>
      g.registerTable(name, DataTable(schema, rows))
      val dir = java.nio.file.Files.createTempDirectory(s"graft-joinfold-$name-").toString
      g.spark.createDataFrame(g.spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(dir)
      g.spark.read.parquet(dir).createOrReplaceTempView(name + "p")
    }
    g
  }

  private def rows(g: GraftSession, q: String): Seq[String] =
    g.spark.sql(q).collect().map(_.toString).toSeq.sorted

  /** True when `q`'s executed plan is one `DirectPlanExec`. */
  private def direct(g: GraftSession, q: String): Boolean =
    g.spark.sql(q).queryExecution.executedPlan.isInstanceOf[DirectPlanExec]

  /** `q`, written `FROM l <join> r ON ...`, over the parquet copies. */
  private def parquet(q: String): String =
    q.replace("FROM l ", "FROM lp l ").replace(" r ON ", " rp r ON ")

  /** `q` (over `l` and `r`) runs on the calling thread and returns the rows
    * of the same query over the parquet copies. */
  private def assertFolds(g: GraftSession, q: String): Unit = {
    assert(direct(g, q), s"not run on the calling thread: $q\n${g.spark.sql(q).queryExecution.executedPlan}")
    val overParquet = parquet(q)
    assert(!direct(g, overParquet))
    assert(rows(g, q) == rows(g, overParquet), s"driver-side join differs from Spark's: $q")
  }

  private val joins = Seq("JOIN", "LEFT JOIN", "RIGHT JOIN", "LEFT SEMI JOIN", "LEFT ANTI JOIN")

  private def select(join: String): String =
    if (join.contains("SEMI") || join.contains("ANTI")) "SELECT l.k, l.d, l.v"
    else "SELECT l.k, l.d, l.v, r.k AS rk, r.d AS rd, r.v AS rv"

  test("every supported join type with null, duplicate and unmatched keys, with and without an extra condition") {
    val l = Seq(Row(1, 1.0, 10L), Row(1, 2.0, 11L), Row(2, 3.0, 12L), Row(null, 4.0, 13L),
      Row(5, 5.0, 14L), Row(null, null, 15L))
    val r = Seq(Row(1, 1.0, 20L), Row(1, 9.0, 21L), Row(1, 8.0, 5L), Row(3, 3.0, 22L),
      Row(null, 4.0, 23L), Row(5, null, 24L))
    val g = session(l, r)
    for (j <- joins; cond <- Seq("", " AND l.v < r.v", " AND r.d > l.d + 1")) {
      assertFolds(g, s"${select(j)} FROM l $j r ON l.k = r.k$cond")
    }
    // null-safe equality: null keys match each other
    assertFolds(g, s"${select("JOIN")} FROM l JOIN r ON l.k <=> r.k")
    // keys that are expressions, and two keys
    assertFolds(g, s"${select("LEFT JOIN")} FROM l LEFT JOIN r ON l.k + 1 = r.k + 1 AND l.d = r.d")
  }

  test("NaN, -0.0 and 0.0 keys match as in Spark's joins; a nested double key declines the fold") {
    val l = Seq(Row(1, Double.NaN, 1L), Row(2, -0.0, 2L), Row(3, 0.0, 3L), Row(4, null, 4L),
      Row(5, otherNaN, 5L), Row(6, 1.5, 6L))
    val r = Seq(Row(1, otherNaN, 7L), Row(2, 0.0, 8L), Row(3, -0.0, 9L), Row(4, null, 10L),
      Row(6, 1.5, 11L))
    val g = session(l, r)
    joins.foreach(j => assertFolds(g, s"${select(j)} FROM l $j r ON l.d = r.d"))
    val nested = s"${select("JOIN")} FROM l JOIN r ON named_struct('d', l.d) = named_struct('d', r.d)"
    assert(!direct(g, nested), "a nested double key was joined on the driver")
    assert(rows(g, nested) == rows(g, parquet(nested)))
    // a collation whose equal strings have different bytes declines too
    val collated = s"${select("JOIN")} FROM l JOIN r ON " +
      "concat('A', l.k) COLLATE UTF8_LCASE = concat('a', r.k) COLLATE UTF8_LCASE"
    assert(!direct(g, collated), "a case-insensitive key was joined on the driver")
    assert(rows(g, collated) == rows(g, parquet(collated)) && rows(g, collated).size == 5)
  }

  test("an empty side folds to the right rows") {
    val some = Seq(Row(1, 1.0, 1L), Row(2, 2.0, 2L))
    for ((l, r) <- Seq((some, Nil), (Nil, some), (Nil, Nil))) {
      val g = session(l, r)
      joins.foreach(j => assertFolds(g, s"${select(j)} FROM l $j r ON l.k = r.k"))
    }
  }

  test("random tables: every join type folds to Spark's rows") {
    val rnd = new Random(17)
    def table(n: Int): Seq[Row] = (1 to n).map { i =>
      Row(if (rnd.nextInt(6) == 0) null else rnd.nextInt(5),
        rnd.nextInt(6) match {
          case 0 => null
          case 1 => Double.NaN
          case 2 => -0.0
          case 3 => 0.0
          case _ => rnd.nextInt(3).toDouble
        },
        i.toLong)
    }
    (1 to 3).foreach { _ =>
      val g = session(table(40), table(30))
      for (j <- joins; on <- Seq("l.k = r.k", "l.d = r.d AND l.k = r.k", "l.k = r.k AND l.v > r.v"))
        assertFolds(g, s"${select(j)} FROM l $j r ON $on")
    }
  }

  test("a 1.21 M-pair join streams into its aggregate") {
    // on the calling thread, building no joined row on the driver
    // 1100 x 1100 rows on one key: 1.21 M join pairs of (k, v, k, v), about
    // 116 MB if they were built as UnsafeRows
    val one = (1 to 1100).map(i => Row(1, i.toDouble, i.toLong))
    val g = session(one, one)
    val q = "SELECT count(*) AS n, sum(l.v + r.v) AS s FROM l JOIN r ON l.k = r.k"
    assert(direct(g, q), "the join did not run on the calling thread")
    val built = DirectPlan.joinRowsBuilt
    val before = built.sum
    val runs = g.cacheStats.driverRuns
    val got = g.sql(q).rows.map(_.toString)
    assert(got == Seq(s"[1210000,${2L * 1100 * (1100 * 1101 / 2)}]"))
    assert(got == rows(g, parquet(q)), "the count and sum differ from Spark's")
    assert(g.cacheStats.driverRuns == runs + 1, "the join ran a Spark job")
    assert(built.sum == before, "the aggregated join built joined rows")
    // a join returned as rows builds exactly its output rows: 400 x 400
    val small = "SELECT l.v AS a, r.v AS b FROM l JOIN r ON l.k = r.k AND l.v <= 400 AND r.v <= 400"
    assert(direct(g, small))
    val beforeSmall = built.sum
    assert(g.sql(small).rowCount == 160000)
    assert(built.sum - beforeSmall == 160000L)
  }
}

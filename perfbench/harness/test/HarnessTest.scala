package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.engine.{DataTable, GraftSession}

/** Checks of the harness's own helpers; exits non-zero on the first
  * failure. Run by perfbench/tests/test_harness.py. */
object HarnessTest {
  private def check(what: String)(cond: Boolean): Unit =
    if (cond) println(s"ok   $what")
    else { println(s"FAIL $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = {
    val schema = StructType(Seq(StructField("k", StringType), StructField("x", DoubleType)))
    val rows = Seq(Row("a", 1.5), Row("b", 0.1 + 0.2), Row(null, -0.0), Row("a", 1.5))
    val d = RowDigest.of(schema, rows)
    check("digest ignores row order")(RowDigest.of(schema, rows.reverse) == d)
    check("digest counts duplicate rows")(RowDigest.of(schema, rows.distinct) != d)
    check("digest sees a changed value")(RowDigest.of(schema, rows.updated(0, Row("a", 1.6))) != d)
    check("digest ignores last-bit float noise")(
      RowDigest.of(schema, rows.updated(1, Row("b", 0.3))) == d)
    check("digest sees the schema")(
      RowDigest.of(StructType(Seq(StructField("k2", StringType), StructField("x", DoubleType))), rows) != d)
    check("digest encodes the row count")(RowDigest.count(d) == 4)
    check("null and the string \"null\" differ")(
      RowDigest.of(schema, Seq(Row(null, 1.0))) != RowDigest.of(schema, Seq(Row("null", 1.0))))

    val hits = new IdentityHits
    val a = new String("plan")
    val b = new String("plan")
    check("first use")(hits.observe("q", a) == IdentityHits.First)
    check("same object is a hit")(hits.observe("q", a) == IdentityHits.Hit)
    check("an equal but distinct object is not a hit")(hits.observe("q", b) == IdentityHits.Miss)
    check("a new object after a write is an invalidation")(
      hits.observe("q", a, epoch = 1) == IdentityHits.Invalidated)

    // the facade's plan cache returns the identical DataFrame on a hit and a
    // new one after a registration, which is what the traced runs rely on
    val g = GraftSession.builder().master("local[1]").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val t = DataTable(StructType(Seq(StructField("v", IntegerType))), Seq(Row(1), Row(2)))
      g.registerTable("t", t)
      val live = new IdentityHits
      val sql = "SELECT sum(v) AS s FROM t"
      check("facade: first call")(live.observe(sql, g.sqlDF(sql)) == IdentityHits.First)
      check("facade: repeated call hits")(live.observe(sql, g.sqlDF(sql)) == IdentityHits.Hit)
      g.registerTable("t", t)
      check("facade: call after a registration misses")(
        live.observe(sql, g.sqlDF(sql), epoch = 1) == IdentityHits.Invalidated)
    } finally g.spark.stop()
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generalized as-of join — every probe row matched to at most ONE quote
  * row of the same key: the latest at-or-before (`backward`), earliest
  * at-or-after (`forward`), or closest-in-time (`nearest`, ties to the
  * backward side) quote, optionally within a `tolerance`. The surface
  * pandas calls `merge_asof` and DuckDB spells `ASOF JOIN`
  * (backward-only); the reference could only nested-loop such theta
  * shapes (reference defaultJoin NLJ, `DirectPlanConverter.scala:150-178`),
  * and stock Spark has no as-of join at all.
  *
  * NOT a pair join: both inputs union into one stream partitioned by key
  * and sorted by time, and a windowed running last/first carries the
  * nearest quote to each probe — one shuffle on the key, per-partition
  * external sort, O(n log n) at any scale (the same plan class as q54's
  * hand-built backward as-of; this operator generalizes it to both
  * directions, nearest, and tolerances). Time keys may be integral, DATE
  * or TIMESTAMP/NTZ (one scale family per call — TimeKeys maps each to a
  * monotonic exact Long image: native units / days / epoch µs);
  * `tolerance` is in the family's units. Quotes with null time never
  * match and probes with null time match nothing.
  *
  * Determinism: among quotes sharing an exact (key, time) the survivor is
  * by default arbitrary (the window's tie order); pass `tieBreak` (a
  * quote payload column) and the survivor is the quote with the GREATEST
  * tie-break value in both directions — reproducible across
  * repartitionings whenever the tie-break is unique per (key, time).
  * LEFT-join semantics: every probe row survives, unmatched probes carry
  * nulls in the quote columns. Column sets must be disjoint; output is
  * probes' columns then quotes' non-key columns (incl. the quote time,
  * for the matched distance).
  *
  * Null keys follow DuckDB's ASOF: a quote with a null key never matches,
  * and a probe with a null key survives with null quote columns.
  *
  * Scale: the keyed window sorts each key's whole stream in one task, so a
  * hot or low-cardinality key (q113's `user_id`; a market-data symbol)
  * serializes. Above [[RangeSweep.maxWindowBytes]] of plan-estimated
  * stream, the tieBreak-free directions run the same windows over
  * [[RangeSweep]]'s (range, key) partitions instead: a key spans many
  * ranges, and each range's running last/first falls back to a carry — the
  * last quote of the key's earlier ranges (backward) or the first of its
  * later ranges (forward). A tieBreak keeps the keyed window form: its
  * max-tie-break survivor needs the reversed forward tie order, which a
  * min_by carry cannot spell generically. Row-identical to the window form
  * by AsofJoinSpec's forced-range battery and RangeSweepSpec. */
object AsofJoin {

  def asof(probes: DataFrame, quotes: DataFrame, keyCols: Seq[String],
      pTime: String, qTime: String, direction: String = "backward",
      tolerance: Option[Long] = None,
      tieBreak: Option[String] = None): DataFrame = {
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"direction must be backward|forward|nearest, got $direction")
    require(tolerance.forall(_ >= 0), "tolerance must be non-negative")
    require(probes.columns.toSet.intersect(quotes.columns.toSet) == keyCols.toSet &&
      keyCols.forall(k => probes.columns.contains(k) && quotes.columns.contains(k)),
      "asof inputs must share exactly the key columns; payloads must be disjoint")
    require(TimeKeys.familyOf(probes.schema(pTime).dataType) ==
      TimeKeys.familyOf(quotes.schema(qTime).dataType),
      "asof time keys mix scale families (integral vs DATE vs TIMESTAMP)")
    tieBreak.foreach(tb => require(
      quotes.columns.contains(tb) && !keyCols.contains(tb),
      s"tieBreak '$tb' must be a quote payload column"))
    val qPayload = quotes.columns.filterNot(keyCols.contains).toSeq
    val pPayload = probes.columns.filterNot(keyCols.contains).toSeq
    val keys = keyCols.map(col)
    // the quote struct carries a hidden __qt Long image of the quote time,
    // so nearest-distance and tolerance math is exact for every key family
    // (a TIMESTAMP→Long cast would truncate to SECONDS; __qt is epoch µs)
    val qStructType = quotes
      .select(qPayload.map(col) :+
        TimeKeys.toLong(quotes, qTime).as("__qt"): _*).schema
    val pStream = probes.select(
      keys ++ pPayload.map(col) :+
        TimeKeys.toLong(probes, pTime).as("__t") :+ lit(0).as("__isq") :+
        lit(null).cast(qStructType).as("__q"): _*)
    val qStream = quotes
      .filter(keys.foldLeft(col(qTime).isNotNull)(_ && _.isNotNull)).select(
      keys ++ pPayload.map(c => lit(null).cast(
        probes.schema(c).dataType).as(c)) :+
        TimeKeys.toLong(quotes, qTime).as("__t") :+ lit(1).as("__isq") :+
        struct(qPayload.map(col) :+
          TimeKeys.toLong(quotes, qTime).as("__qt"): _*).as("__q"): _*)
    val all = pStream.unionByName(qStream)
    // the range form partitions by (range, key) and falls back to the
    // carried last quote of the key's earlier ranges (__cb) or first quote
    // of its later ranges (__cf); max_by/min_by skip probes, whose
    // ordering key is null
    val ranged = tieBreak.isEmpty && RangeSweep.exceedsWindow(all)
    val (src, byKey) = if (!ranged) (all, Window.partitionBy(keys: _*)) else {
      val qOrd = when(col("__isq") === 1, col("__t"))
      RangeSweep(all, keyCols, Seq("__t"),
        Seq(max_by(col("__q"), qOrd).as("__lastq"),
          min_by(col("__q"), qOrd).as("__firstq")),
        w => Seq(
          last(col("__lastq"), ignoreNulls = true)
            .over(w.rowsBetween(Window.unboundedPreceding, -1)).as("__cb"),
          first(col("__firstq"), ignoreNulls = true)
            .over(w.rowsBetween(1, Window.unboundedFollowing)).as("__cf")))
    }
    def carried(m: Column, carry: String) =
      if (ranged) coalesce(m, col(carry)) else m
    // backward: at an equal instant the quote sorts BEFORE the probe, so
    // the unbounded-preceding..current frame's running last includes it
    // (at-or-before, inclusive); forward mirrors with the probe first and
    // a current..unbounded-following running first. With a tieBreak, the
    // survivor among same-(key, time) quotes is the MAX tie-break value:
    // backward's running last takes the ascending order's last, forward's
    // running first takes the descending order's first — nulls ordered so
    // a non-null tie-break always wins. The extra sort key never reorders
    // probe-vs-quote rows (they differ on __isq, a higher-priority key).
    val wBack = byKey
      .orderBy(Seq(col("__t").asc_nulls_first, col("__isq").desc) ++
        tieBreak.map(tb => col("__q")(tb).asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = byKey
      .orderBy(Seq(col("__t").asc_nulls_last, col("__isq").asc) ++
        tieBreak.map(tb => col("__q")(tb).desc_nulls_last): _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withMatch = direction match {
      case "backward" => src.withColumn("__m",
        carried(last(col("__q"), ignoreNulls = true).over(wBack), "__cb"))
      case "forward" => src.withColumn("__m",
        carried(first(col("__q"), ignoreNulls = true).over(wFwd), "__cf"))
      case "nearest" =>
        val b = carried(last(col("__q"), ignoreNulls = true).over(wBack), "__cb")
        // Without a tieBreak, the forward running-first can share wBack's
        // ORDERING (only the frame differs): the two windows then collapse
        // into ONE WindowExec over ONE sort (Spark groups window functions
        // by (partition, order), frames evaluate in the same pass) — r16,
        // guide §2.4: the nearest as-of drops a full per-partition re-sort
        // + second window pass. Semantics are unchanged: the only rows the
        // two orderings place differently are (a) same-instant quotes,
        // which leave the probe's current..following frame — but backward's
        // frame still holds them at distance 0, and the `bd <= fd` rule
        // picks backward on any tie, so the match is identical; (b) null-
        // time probes (nulls first vs last) — their match is nulled by the
        // `__t` isNotNull guard below either way. With a tieBreak the
        // forward survivor among same-(key, time) quotes must be the MAX
        // tie-break, which needs the reversed tie order — keep the
        // two-sort form exactly there.
        val f = carried(
          if (tieBreak.isEmpty)
            first(col("__q"), ignoreNulls = true).over(
              wBack.rowsBetween(Window.currentRow, Window.unboundedFollowing))
          else first(col("__q"), ignoreNulls = true).over(wFwd), "__cf")
        val bd = col("__t") - col("__b")("__qt")
        val fd = col("__f")("__qt") - col("__t")
        src.withColumn("__b", b).withColumn("__f", f)
          .withColumn("__m",
            when(col("__b").isNull, col("__f"))
              .when(col("__f").isNull, col("__b"))
              // tie -> backward (<=): the standard nearest rule
              .when(bd <= fd, col("__b")).otherwise(col("__f")))
          .drop("__b", "__f")
    }
    val tolOk = tolerance.map(t =>
      abs(col("__t") - col("__m")("__qt")) <= lit(t)).getOrElse(lit(true))
    // probes only; null probe time matches nothing; tolerance nulls the
    // match rather than dropping the probe (LEFT semantics)
    val matched = withMatch.filter(col("__isq") === 0)
      .withColumn("__mOk",
        when(col("__t").isNotNull && col("__m").isNotNull && tolOk, col("__m")))
    matched.select(
      keys ++ pPayload.map(col) ++
        qPayload.map(c => col("__mOk")(c).as(c)): _*)
  }
}

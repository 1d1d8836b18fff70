package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Linear-time temporal operators over closed integer intervals [lo, hi] —
  * the questions every session/booking/validity-window table gets asked
  * ("how many were active at once?", "how much time was covered?", "what
  * is left after the embargo windows?") and that naive SQL answers with a
  * self-join the reference could only run as a nested loop (reference
  * defaultJoin NLJ path, `DirectPlanConverter.scala:150-178`). None of the
  * operators here pays the pair explosion:
  *
  *  - [[maxConcurrent]] is the classic boundary sweep — O(n log n) per key
  *    (one shuffle on the key + one windowed scan) instead of the O(n²)
  *    "count intervals containing each start" self-join.
  *  - [[mergeIntervals]] is gaps-and-islands — the same single windowed
  *    scan, emitting the union of the intervals as maximal disjoint
  *    islands.
  *  - [[subtractIntervals]] clips intervals against a merged island set —
  *    a banded left-outer join plus one higher-order gap walk.
  *
  * 100 TB: the sweeps are one shuffle on the grouping key followed by a
  * per-partition external-sorted window — the same plan class as any
  * windowed query, no pair blowup at any scale. A single key with a huge
  * timeline still external-sorts; key skew is ordinary window skew.
  * Interval bounds may be integral, DATE or TIMESTAMP/NTZ (one scale
  * family per call — TimeKeys maps each to a monotonic exact Long image:
  * native units / days / epoch µs); outputs that surface bounds
  * (island_lo/hi, frag_lo/hi) come back in the caller's own type.
  * Adjacency and the sweep's hi + 1 close are in the family's units (+1
  * day for DATE, +1 µs for timestamps); bounds must sit below the
  * family's Long.MaxValue image.
  */
object IntervalSweep {

  /** Per key, the maximum number of simultaneously-active closed intervals
    * [lo, hi] — +1 at lo, −1 at hi + 1, running sum ordered by boundary,
    * max per key. The running sum uses the default RANGE frame, whose
    * current-row bound includes every peer at the same instant — so
    * coincident boundaries coalesce inside the window itself (a
    * same-instant close+open never shows a phantom peak) and the whole
    * operator is ONE shuffle: the window exchange on the key, whose
    * hash(keys) partitioning also satisfies the final per-key max (subset
    * clustering — no second exchange; plan-asserted in the spec). Empty
    * intervals (hi < lo) are dropped. Output: keyCols ++ max_concurrent;
    * keys with no live interval are absent (max of nothing is undefined).
    */
  /** Per (key, time bucket), how many intervals were ACTIVE during the
    * bucket — the calendar-grid occupancy report ("concurrent sessions per
    * hour per service", the monitoring/capacity twin of [[maxConcurrent]]'s
    * single peak number). An interval [lo, hi] is active in bucket B iff it
    * overlaps [B·W, (B+1)·W): exactly the bands RangeJoin's containment
    * explosion covers, so the operator IS one band explode (len/W + 1 rows
    * per interval) + one (key, bucket) count — scan → partial/final hash
    * aggregate, no window, no join; shuffle rows ∝ covered buckets. Keys
    * may be integral/DATE/TIMESTAMP (one TimeKeys family); `bucketWidth`
    * is in the family's Long units, and `bucket_lo` comes back in the
    * caller's own key type (bucket start). Empty intervals (hi < lo)
    * drop. Output: keyCols ++ (bucket_lo, n_active).
    *
    * Precondition: keys must lie at or above Long.MinValue + bucketWidth
    * (in the family's Long image). Band ids themselves are exact over the
    * full Long domain, but the reconstructed bucket start `__bkt *
    * bucketWidth` would wrap for a key within one bucket of Long.MinValue
    * — every real time domain (epoch µs, days, u32/u48 ids) sits far
    * above it. (ADVICE r15.) */
  def occupancyByBucket(df: DataFrame, keyCols: Seq[String],
      lo: String, hi: String, bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val keys = keyCols.map(col)
    TimeKeys.requireSameFamily("occupancyByBucket", df, Seq(lo, hi))
    val dt = df.schema(lo).dataType
    def k(c: String) = TimeKeys.toLong(df, c)
    df.filter(col(hi) >= col(lo))
      .select(keys :+ explode(sequence(
        RangeJoin.bandOf(k(lo), bucketWidth),
        RangeJoin.bandOf(k(hi), bucketWidth))).as("__bkt"): _*)
      .groupBy(keys :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("n_active"))
      .select(keys :+
        TimeKeys.fromLong(col("__bkt") * bucketWidth, dt).as("bucket_lo") :+
        col("n_active"): _*)
  }

  def maxConcurrent(df: DataFrame, keyCols: Seq[String],
      lo: String, hi: String): DataFrame = {
    val keys = keyCols.map(col)
    TimeKeys.requireSameFamily("maxConcurrent", df, Seq(lo, hi))
    def k(c: String) = TimeKeys.toLong(df, c)
    val bounds = df.filter(col(hi) >= col(lo))
      .select(keys :+ explode(array(
        struct(k(lo).as("t"), lit(1L).as("d")),
        struct((k(hi) + 1).as("t"), lit(-1L).as("d"))))
        .as("__b"): _*)
      .select(keys :+ col("__b.t").as("__t") :+ col("__b.d").as("__d"): _*)
    // default frame with an ORDER BY = RANGE UNBOUNDED PRECEDING..CURRENT
    // ROW: peers at the same __t are IN the frame, which is exactly the
    // boundary-coalescing the sweep needs
    val run = Window.partitionBy(keys: _*).orderBy(col("__t"))
    bounds.withColumn("__active", sum(col("__d")).over(run))
      .groupBy(keys: _*)
      .agg(max(col("__active")).as("max_concurrent"))
  }

  /** Interval SUBTRACTION — clip each left interval against a set of
    * DISJOINT, non-adjacent forbidden islands (the output contract of
    * [[mergeIntervals]]: pass raw windows through it first), emitting the
    * allowed fragments: left minus the islands' union. The "clip sessions
    * to allowed time" decontamination shape — the set-difference dual of
    * the overlap-anti join (anti DROPS a touched interval; subtract keeps
    * its clean parts).
    *
    * Plan: banded overlap join (via [[RangeJoin.intervalOverlap]]'s
    * banding, inlined here as a left-outer so untouched intervals pass
    * through whole) routes each left interval to the islands it overlaps;
    * the overlapping islands collect per left row (sorted — they are
    * disjoint, so (lo, hi) order is total), and a single `aggregate`
    * higher-order walk emits the gaps. No pair explosion: each left row
    * meets only the islands sharing its bands, and the collected list is
    * bounded by len/islandMinLen + 1.
    *
    * Left rows need a unique id column (`idCol`) to regroup fragments —
    * as-of/session tables have one; the walk is per id. The island set is
    * GLOBAL (one forbidden timeline for every row — the embargo shape);
    * for per-key islands, prefix both sides' times with a key offset or
    * filter per key first. Empty left intervals (hi < lo) drop; a
    * fully-covered interval emits zero fragments. Output: idCol ++
    * (frag_lo, frag_hi), one row per allowed fragment. */
  def subtractIntervals(left: DataFrame, islands: DataFrame,
      idCol: String, lLo: String, lHi: String,
      iLo: String, iHi: String, bandWidth: Long): DataFrame =
    subtractIntervals(left, islands, idCol, Nil, Nil, lLo, lHi, iLo, iHi,
      bandWidth)

  /** PER-KEY interval subtraction — each left interval is clipped against
    * ITS key's island set only ("clip each user's sessions against their
    * own embargo windows"): `leftKeys` and `islandKeys` are positionally
    * aligned key columns added as equality conjuncts to the banded routing
    * join, so an island of another key never clips a row (and the shuffle
    * co-partitions on key+band — narrower bands per key, same plan class).
    * A left row whose key matches NO island group (including a null key —
    * equality semantics) passes through whole. Islands must be disjoint
    * and non-adjacent PER KEY — the keyed output of [[mergeIntervals]].
    * The no-key overload above is the GLOBAL embargo shape. */
  def subtractIntervals(left: DataFrame, islands: DataFrame,
      idCol: String, leftKeys: Seq[String], islandKeys: Seq[String],
      lLo: String, lHi: String,
      iLo: String, iHi: String, bandWidth: Long): DataFrame = {
    val (frags, keys, ldt) = clippedFrags(left, islands, idCol, leftKeys,
      islandKeys, lLo, lHi, iLo, iHi, bandWidth)
    frags.select((col(idCol) +: keys) :+
        explode(col("__frags")).as("__f"): _*)
      .select((col(idCol) +: keys) :+
        TimeKeys.fromLong(col("__f.lo"), ldt).as("frag_lo") :+
        TimeKeys.fromLong(col("__f.hi"), ldt).as("frag_hi"): _*)
  }

  /** Clip STATISTICS — one row per left interval (empty ones drop) with
    * the fragment count and total covered length after subtracting its
    * key's islands, computed on the collected fragment array WITHOUT
    * exploding fragments into rows (r16, guide §1.2/§2.4: a caller that
    * only wants per-row coverage totals — q115 — otherwise pays a
    * Generate, a second shuffle to re-group by id, and a join back to the
    * left table to restore fully-covered rows; here a fully-covered
    * interval is simply an empty array → (0, 0)). `covered_units` is in
    * the family's Long units (µs / days / the integers themselves),
    * closed-interval lengths (hi − lo + 1) summed. Output: idCol ++
    * leftKeys ++ (n_frag, covered_units). */
  def subtractIntervalsStats(left: DataFrame, islands: DataFrame,
      idCol: String, leftKeys: Seq[String], islandKeys: Seq[String],
      lLo: String, lHi: String,
      iLo: String, iHi: String, bandWidth: Long): DataFrame = {
    val (frags, keys, _) = clippedFrags(left, islands, idCol, leftKeys,
      islandKeys, lLo, lHi, iLo, iHi, bandWidth)
    frags.select((col(idCol) +: keys) :+
      size(col("__frags")).cast(LongType).as("n_frag") :+
      expr("aggregate(__frags, 0L, (a, f) -> a + (f.hi - f.lo + 1L))")
        .as("covered_units"): _*)
  }

  /** Shared clip core: bands, routes, collects and gap-walks — returns
    * one row per (idCol, keys, lLo, lHi) group with `__frags` holding the
    * allowed fragments as struct<lo,hi> Long images, plus the key columns
    * and the left bound type for the caller to reconstruct. */
  private def clippedFrags(left: DataFrame, islands: DataFrame,
      idCol: String, leftKeys: Seq[String], islandKeys: Seq[String],
      lLo: String, lHi: String, iLo: String, iHi: String,
      bandWidth: Long): (DataFrame, Seq[Column],
        org.apache.spark.sql.types.DataType) = {
    require(bandWidth > 0, s"bandWidth must be positive, got $bandWidth")
    require(leftKeys.size == islandKeys.size,
      "leftKeys and islandKeys must align positionally")
    val w = bandWidth
    val (ldt, idt) = (left.schema(lLo).dataType, islands.schema(iLo).dataType)
    TimeKeys.requireSameFamily("subtractIntervals", left, Seq(lLo, lHi))
    TimeKeys.requireSameFamily("subtractIntervals", islands, Seq(iLo, iHi))
    require(TimeKeys.familyOf(ldt) == TimeKeys.familyOf(idt),
      "subtractIntervals sides mix scale families")
    def lk(c: String) = TimeKeys.toLong(col(c), ldt)
    def ik(c: String) = TimeKeys.toLong(col(c), idt)
    // shared full-Long-domain band id (RangeJoin.bandOf) — one spelling for
    // both layers, exact down to Long.MinValue
    def bandOf(c: Column): Column = RangeJoin.bandOf(c, w)
    val keys = leftKeys.map(col)
    val l = left.filter(col(lHi) >= col(lLo))
      .withColumn("__lband", explode(sequence(bandOf(lk(lLo)), bandOf(lk(lHi)))))
    val r = islands.filter(col(iHi) >= col(iLo))
      .withColumn("__rband", explode(sequence(bandOf(ik(iLo)), bandOf(ik(iHi)))))
    // canonical band on the overlap region's low end — each (left, island)
    // pair lands exactly once, islands that miss the interval null-extend
    val keyEq = leftKeys.zip(islandKeys)
      .map { case (a, b) => col(a) === col(b) }
      .foldLeft(lit(true))(_ && _)
    val joined = l.join(r,
      keyEq && col("__lband") === col("__rband") &&
        col(lLo) <= col(iHi) && col(iLo) <= col(lHi) &&
        col("__lband") === bandOf(greatest(lk(lLo), ik(iLo))), "left_outer")
      .filter(col("__rband").isNotNull || col("__lband") === bandOf(lk(lLo)))
    val collected = joined
      .groupBy((col(idCol) +: keys) :+ col(lLo) :+ col(lHi): _*)
      .agg(sort_array(collect_list(when(col(iLo).isNotNull,
        struct(ik(iLo).as("lo"), ik(iHi).as("hi"))))).as("__blk"))
      .withColumn("__llo", lk(lLo)).withColumn("__lhi", lk(lHi))
    // the walk: cursor starts at lLo; each island emits the gap before it
    // (if any) and advances the cursor past it; the finish step emits the
    // tail gap. Islands are disjoint and sorted, so one pass suffices.
    // Bounds walk on the Long images (__llo/__lhi) so native DATE/TIMESTAMP
    // keys take the exact same path as integral ones.
    val frags = collected.withColumn("__frags", expr(
      """aggregate(
         |  __blk,
         |  named_struct('cur', __llo, 'acc',
         |    CAST(array() AS ARRAY<STRUCT<lo: BIGINT, hi: BIGINT>>)),
         |  (st, b) -> named_struct(
         |    'cur', greatest(st.cur, b.hi + 1L),
         |    'acc', CASE WHEN b.lo > st.cur
         |      THEN array_append(st.acc,
         |        named_struct('lo', st.cur, 'hi', least(b.lo - 1L, __lhi)))
         |      ELSE st.acc END),
         |  st -> CASE WHEN st.cur <= __lhi
         |    THEN array_append(st.acc,
         |      named_struct('lo', st.cur, 'hi', __lhi))
         |    ELSE st.acc END)""".stripMargin))
    (frags, keys, ldt)
  }

  /** Per key, the union of the closed intervals [lo, hi] as maximal
    * disjoint islands — intervals that overlap OR are adjacent (next.lo <=
    * current max hi + 1: [1,5] and [6,9] cover contiguous integers) merge.
    * Gaps-and-islands: running max of hi over the lo-ordered prefix
    * (exclusive of the current row); a row opens a new island when its lo
    * clears that max by more than 1; islands aggregate to their extent.
    * Empty intervals (hi < lo) are dropped. Bounds may be integral, DATE
    * or TIMESTAMP/NTZ; island_lo/island_hi come back in the input's own
    * type. Output: keyCols ++ (island_lo, island_hi, n_intervals) — one
    * row per island.
    *
    * keyCols = Nil merges GLOBALLY. Small inputs (a blackout/embargo set
    * before an overlap-anti join — q111) run the one-window form; above
    * [[RangeSweep.maxWindowBytes]] of plan-estimated input the same sweep
    * runs over [[RangeSweep]]'s ranges of (lo, hi), so a lake-scale global
    * merge never funnels through one window partition. Two carries repair
    * the range boundaries: the prefix max of the earlier ranges' hi joins
    * the island-start test (an island spanning many ranges continues, never
    * restarts), and the prefix sum of the earlier ranges' island starts
    * offsets each range's local island numbers to global ones. Both forms
    * are row-identical (IntervalSweepSpec, RangeSweepSpec). */
  def mergeIntervals(df: DataFrame, keyCols: Seq[String],
      lo: String, hi: String): DataFrame = {
    TimeKeys.requireSameFamily("mergeIntervals", df, Seq(lo, hi))
    val dt = df.schema(lo).dataType
    val keys = keyCols.map(col)
    // r16 (guide §2.4: share the sort): materialize the Long key images
    // ONCE as columns and order both windows by those attribute refs. With
    // the ordering spelled as fresh cast-expressions the planner could not
    // prove the second window's required ordering was already satisfied
    // and planned TWO SortExecs for native DATE/TIMESTAMP keys; on
    // attributes the orderings canonicalize equal and one sort feeds both
    // windows and the final first-sorted groupBy.
    val withK = df.filter(col(hi) >= col(lo))
      .withColumn("__klo", TimeKeys.toLong(col(lo), dt))
      .withColumn("__khi", TimeKeys.toLong(col(hi), dt))
    val ranged = keyCols.isEmpty && RangeSweep.exceedsWindow(df)
    val (src, byKey) = if (!ranged) (withK, Window.partitionBy(keys: _*))
      else RangeSweep(withK, Nil, Seq("__klo", "__khi"),
        Seq(max(col("__khi")).as("__maxhi")),
        w => Seq(max(col("__maxhi"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)).as("__carry")))
    val ord = byKey.orderBy(col("__klo"), col("__khi"))
    val local =
      max(col("__khi")).over(ord.rowsBetween(Window.unboundedPreceding, -1))
    // greatest() skips nulls: null only when there is no earlier interval
    val prevMax = if (ranged) greatest(local, col("__carry")) else local
    val flagged = src
      .withColumn("__new",
        when(prevMax.isNull || col("__klo") > prevMax + 1, 1L).otherwise(0L))
      .withColumn("__island", sum(col("__new"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // range-local island numbers, offset by the earlier ranges' starts
    val numbered = if (!ranged) flagged else {
      val offs = flagged.groupBy(col("__pid"))
        .agg(sum(col("__new")).as("__starts"))
        .select(col("__pid"), coalesce(sum(col("__starts"))
          .over(Window.orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__off"))
      flagged.join(offs, "__pid")
        .withColumn("__island", col("__island") + col("__off"))
    }
    numbered
      .groupBy(keys :+ col("__island"): _*)
      .agg(TimeKeys.fromLong(min(col("__klo")), dt).as("island_lo"),
        TimeKeys.fromLong(max(col("__khi")), dt).as("island_hi"),
        count(lit(1)).as("n_intervals"))
      .drop("__island")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetSchemaBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the events table — capability the
  * reference lacks entirely (SURVEY §2.9: absent). Batch and stream share the
  * same declarative plans (`window()` aggregation), so the streaming results
  * converge to the batch answers — asserted in StreamingSpec.
  *
  * Scale notes: windowed counts are partial-aggregated per micro-batch and
  * merged in the state store (no per-event shuffle amplification); the
  * sessionization state is per-user — `sessionize` keeps it under NoTimeout
  * (fine for finite replay), `sessionizeWithTimeout` is the production
  * shape where the event-time watermark both closes sessions and evicts
  * idle keys' state.
  */
/** Per-user sessionization state (top-level so the Catalyst encoder can
  * construct it in generated code). */
case class SessState(lastTsMicros: Long, nSessions: Long, nEvents: Long)

/** One open session interval of one user (EventTimeTimeout variant). */
case class OpenSess(startMicros: Long, lastMicros: Long, nEvents: Long)

/** Per-user running moments for the transformWithState anomaly flagger —
  * constant-size regardless of history length. */
case class RunStats(n: Long, sum: Double, sumSq: Double)

/** The SCD2 fold's per-key state: the one OPEN version (scd2Stream). */
case class OpenVersion(state: String, fromUs: Long, version: Int)

/** All open session intervals of one user, disjoint, gap-separated,
  * ordered by start. More than one exists only while out-of-order events
  * inside the watermark tolerance are still arriving. */
case class OpenSessList(ss: Seq[OpenSess])

object StreamingOps {

  /** Stream-source schema for the events parquet. The file-stream source
    * requires an explicit schema, and the corpus's physical `ts` type has
    * varied across generations (INT64 TIMESTAMP(NANOS) vs timestamp[us]
    * NTZ) — so probe the file's actual schema with a footer-only batch read
    * and declare `ts` the same way, exactly mirroring Tables.raw. */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over the events parquet file. The file-stream source
    * only accepts directories, so the (read-only) single file is exposed via
    * a symlinked staging directory — memoized per source dir (repeated calls
    * would otherwise litter /tmp) and removed on JVM exit. Note the
    * nanosAsLong conf is session-wide, same as Tables.load. */
  private val stagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staging = stagingDirs.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-events-")
      java.nio.file.Files.createSymbolicLink(
        p.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath)
      p.resolve("events.parquet").toFile.deleteOnExit()
      p.toFile.deleteOnExit()
      p
    })
    val tsType = ParquetSchemaBridge.footerSchema(spark, s"$dir/events.parquet")("ts").dataType
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(staging.toString)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _        => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling-window counts per event type, 10-minute watermark. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Sliding (hopping) window counts — 2-hour windows advancing hourly,
    * the q99 batch shape as a stream: every event contributes to exactly
    * two open windows. window() emits the overlap copies scan-locally
    * BEFORE the stateful aggregation, so state is 2× tumbling's (two open
    * windows per event type) but still watermark-bounded — windows close
    * and evict as event time passes ws + 2h + delay. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))

  /** Trending terms over a document stream: per tumbling 10-minute window,
    * per-term occurrence counts — generator-EXPLODE feeding the watermarked
    * stateful aggregation (the one streaming shape the dedup/sessionize
    * family doesn't exercise: a flatMap blow-up BEFORE state). State is
    * bounded by watermark × vocabulary (windows close and evict); the
    * explode itself is stateless scan work. Top-k per closed window is a
    * downstream batch rank over the appended sink — deliberately NOT a
    * streaming rank (complete-mode ranking holds all windows' state
    * forever; appended-closed-windows + batch rank is the production
    * pattern). Spec proves convergence to the batch explode+window agg and
    * the derived top-3. */
  def trendingTerms(docs: DataFrame, delay: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", delay)
      .select(col("ts"), explode(split(trim(col("text")), "\\s+")).as("term"))
      .groupBy(window(col("ts"), "10 minutes"), col("term"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("term"), col("n"))

  /** Stateful sessionization via mapGroupsWithState: per-user session count
    * with a 30-minute gap, equivalent to the batch session_window query
    * (q45_sessionize). Events inside one micro-batch are sorted per group;
    * across batches the state carries (lastTs, counts). State here is
    * per-user and never times out (NoTimeout) — right for the finite-replay
    * use; an unbounded-key production stream would use EventTimeTimeout so
    * the watermark can evict idle keys. */
  def sessionize(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val gapMicros = graft.queries.QueryUtil.sessionGapMicros
    events
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[SessState, (Long, Long, Long)](GroupStateTimeout.NoTimeout) {
        case (userId, it, state: GroupState[SessState]) =>
          val sorted = it.map(_._2).toArray.sorted
          var s = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { t =>
            val newSession = s.lastTsMicros == Long.MinValue || t - s.lastTsMicros >= gapMicros
            s = SessState(t, s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          (userId, s.nSessions, s.nEvents)
      }
      .toDF("user_id", "n_sessions", "n_events")
  }

  /** Production sessionization — flatMapGroupsWithState + EventTimeTimeout,
    * the variant `sessionize`'s NoTimeout comment promises: each session is
    * emitted exactly once, when the event-time watermark passes its
    * gap-close point (on a data batch or a timeout-driven no-data batch) —
    * the only moment a session is DEFINITIVELY over, since any earlier
    * "close" could still be overturned by an allowed-late event bridging
    * it. The same pass EVICTS emitted intervals and removes idle users'
    * state entirely, so state stays bounded over unbounded keys — the
    * property that makes this the 100 TB shape, and exactly what NoTimeout
    * lacks. Out-of-order events across micro-batches (within the watermark
    * delay) merge correctly into open intervals — spec-proven via a
    * MemoryStream disorder scenario. Append-mode output (closed sessions
    * are immutable facts): (user_id, start_micros, end_micros, n_events).
    * Gap semantics match q45's session_window: an event at exactly
    * lastTs + gap starts a new session (the window is half-open).
    * StreamingSpec proves replay convergence against batch session_window
    * up to the final watermark. */
  def sessionizeWithTimeout(spark: SparkSession, events: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    val gapMicros = graft.queries.QueryUtil.sessionGapMicros
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("tsm"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[OpenSessList, (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, it, state: GroupState[OpenSessList]) =>
          // State is a LIST of open intervals, and events MERGE into them
          // (possibly bridging two): an out-of-order event from a later
          // micro-batch that lands inside/adjacent to an interval must
          // extend its bounds, never drag lastMicros backwards — a single
          // last-timestamp state mis-splits sessions and can emit
          // end < start under cross-batch disorder. Intervals close ONLY
          // when the watermark passes their gap-close point (a later
          // event cannot close an earlier interval definitively, because
          // an allowed-late event could still bridge them).
          var ivs = state.getOption.map(_.ss.toList).getOrElse(Nil)
          it.map(_._3).toArray.sorted.foreach { t =>
            // same-session rule as session_window: strict gap on both
            // sides (an event at exactly gap distance starts a new one)
            val (touch, rest) = ivs.partition(iv =>
              t > iv.startMicros - gapMicros && t < iv.lastMicros + gapMicros)
            val merged =
              if (touch.isEmpty) OpenSess(t, t, 1L)
              else OpenSess(
                math.min(t, touch.map(_.startMicros).min),
                math.max(t, touch.map(_.lastMicros).max),
                touch.map(_.nEvents).sum + 1L)
            ivs = (merged :: rest).sortBy(_.startMicros)
          }
          // close everything the watermark has passed: no event within the
          // allowed lateness can extend those intervals any more. The same
          // path serves both data batches and timeout-only invocations.
          val wmMs = state.getCurrentWatermarkMs()
          val (closed, open) = ivs.partition(_.lastMicros + gapMicros <= wmMs * 1000)
          if (open.isEmpty) state.remove()
          else {
            state.update(OpenSessList(open))
            // Spark fires a timeout only when `timeout < watermark`
            // (strict) and rejects registrations at or below the current
            // watermark — so register the EARLIEST legal firing point:
            // ceil(closeMicros/1000) - 1 is the last ms value strictly
            // below the first watermark at which the close test
            // (closeMicros <= wm*1000) can pass, clamped to wmMs + 1.
            // Registering later (e.g. a floor + 1ms overshoot) can land a
            // timeout exactly ON a final watermark, where strict `<`
            // never fires and a closable session stalls. (The one
            // residual corner — the final watermark stopping exactly at
            // the clamp — is inherent to the engine's strict comparison.)
            val nextCloseMs =
              open.map(iv => (iv.lastMicros + gapMicros + 999) / 1000 - 1).min
            state.setTimeoutTimestamp(math.max(nextCloseMs, wmMs + 1))
          }
          closed.map(s0 => (userId, s0.startMicros, s0.lastMicros, s0.nEvents)).iterator
      }
      .toDF("user_id", "start_micros", "end_micros", "n_events")
  }

  /** Stream-stream INNER JOIN with event-time range bounds: click→purchase
    * attribution per user within 30 minutes. Both sides carry watermarks and
    * the join condition bounds event time in both directions, so the state
    * store provably evicts rows once the watermark passes — the only
    * stream-stream join shape that is safe on an unbounded stream. Append
    * mode; identical semantics to the batch theta-join (StreamingSpec
    * asserts convergence). */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_ts"), col("p_ts"))
  }

  /** Stream-stream LEFT OUTER interval join — [[clickPurchaseJoin]] plus
    * the unmatched side: a click with NO purchase inside its 30-minute
    * window emits with NULL p_ts once the watermark passes the window end
    * (only then is "no purchase will ever match" decidable — outer results
    * are inherently watermark-delayed; Spark runs the no-data batch that
    * performs the final evictions when the source drains). Same
    * both-sides-bounded state as the inner form — the only outer
    * stream-stream shape that is safe unbounded. The spec asserts the
    * matched rows equal the batch inner join exactly and the null rows are
    * batch-unmatched clicks (never a false null), with every unmatched
    * click whose eviction horizon the final watermark passed present. */
  def clickPurchaseLeftOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("click_ts") &&
        col("p_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
      "left_outer")
      .select(col("user_id"), col("click_ts"), col("p_ts"))
  }

  /** Stream-STATIC enrichment join — the dimension-lookup shape every
    * production pipeline runs before any stateful op: a static (batch)
    * table joined to a stream needs NO state store at all — the static
    * side is planned per micro-batch like any batch join (broadcast here:
    * customer is dim-sized), and late data cannot exist on a static side,
    * so no watermark is involved. Per-segment event counts + exact value
    * sums; Complete mode since the rollup is unwindowed. The spec asserts
    * the drained table equals the batch join bit-for-bit. */
  def segmentRollup(spark: SparkSession, events: DataFrame, dir: String): DataFrame = {
    val dim = graft.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    events
      .select(col("user_id"), col("value"))
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast(org.apache.spark.sql.types.DoubleType).as("sum_value"))
  }

  /** Bounded-state streaming exact dedup — the streaming form of the d50
    * batch operator: `dropDuplicatesWithinWatermark` keeps a key's dedup
    * state only until the watermark passes its arrival horizon, so state is
    * EVICTED instead of growing with the key space. Plain streaming
    * `dropDuplicates` (OperatorsSpec) holds every key forever — fine on a
    * finite replay, unbounded on a 100 TB/day stream; this variant is the
    * production shape. Guarantee (Spark's contract): events whose
    * duplicates arrive within the watermark delay are deduplicated
    * exactly; a duplicate arriving later than the delay may pass — the
    * explicit, bounded tradeoff. */
  def dedupBounded(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))

  /** Streaming HLL++ register partials — d88's stored-partials pattern fed
    * by a document stream: per-(source, register) MAX of rho is an
    * order-blind streaming aggregate, so state is at most sources × 2^p
    * register rows (never row-count-bound, no watermark needed) and the
    * stream's registers at any point are BIT-EQUAL to the batch
    * `HllMirror.registersDf` over the rows seen so far (max is associative
    * and duplicate-blind — StreamingSpec pins the equality). This is the
    * incremental distinct-count: the day-2 rollup reads the standing
    * register state instead of rescanning history, and
    * `HllMirror.estimateDf` turns any snapshot into the
    * approx_count_distinct figure. Input needs (source, text). */
  def hllRegisterStream(docs: DataFrame, p: Int = 9): DataFrame =
    graft.queries.HllMirror.registersDf(
      docs.filter(col("text").isNotNull)
        .select(col("source").as("g"),
          expr("cast(conv(substring(md5(text), 1, 15), 16, 10) as bigint)")
            .as("v")),
      Seq("g"), p)

  /** Streaming exact-CONTENT dedup — the content-level form of
    * [[dedupBounded]] (which keys on event_id): dedup key = md5 of the
    * document text, so byte-identical documents are dropped regardless of
    * id, with state bounded by the watermark exactly as in dedupBounded.
    * This is the d50 batch guarantee carried to an unbounded 100 TB/day
    * stream: duplicates arriving within the watermark delay are dropped
    * exactly; a duplicate later than the delay may pass — the explicit
    * bounded-state tradeoff. Input needs (doc_id, text, ts). */
  def dedupContentExact(docs: DataFrame, delay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("ckey", md5(col("text")))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("ckey")
      .select(col("doc_id"), col("ckey"))

  /** Streaming NEAR-dup dedup: the dedup key is a MinHash band bucket
    * (one band of `r` hashes over word-3-gram shingles — the d53 batch
    * construction via DedupOps.minhashBandKey), so reworded-but-similar
    * documents collapse to one survivor. Approximation bound (documented,
    * not hidden): a single band catches a pair of Jaccard similarity J
    * with probability J^r — at r=4: J=0.99 → 0.96, J=0.9 → 0.66 — and
    * drops a dissimilar pair only on a band collision (≈ J^r, negligible
    * below J~0.5). Batch LSH OR-amplifies across 32 bands; a streaming
    * dedup key must be ONE value, so the single-band form trades recall
    * for bounded per-key state — raise r for precision, lower it for
    * recall. Byte-identical texts always collapse (J=1 ⇒ key equality is
    * deterministic). State is watermark-bounded as in dedupContentExact. */
  def dedupContentNear(spark: SparkSession, docs: DataFrame,
      delay: String = "10 minutes", r: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    docs
      .withColumn("bkey", graft.queries.DedupOps.minhashBandKey(col("text"), r))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("bkey")
      .select(col("doc_id"), col("bkey"))
  }

  /** Streaming INGESTION dedup against a STORED corpus index — the
    * continuous form of d65: every micro-batch of incoming (doc_id, text)
    * documents is shingle-hashed with the exact batch rule
    * (DedupOps.hashedFrame) and probed against the
    * writeIngestIndex-materialized corpus via foreachBatch, reusing the
    * batch probe verbatim (the canonical pattern for running existing batch
    * logic over a stream). Because every match is computed against the
    * STATIC corpus only — never batch×batch — each document's result is
    * independent of how the stream is micro-batched, so the union of batch
    * outputs equals the one-shot batch probe of the same documents
    * (StreamingSpec proves it across a 3-batch split). Per-batch cost is
    * the d65_probe row of SCALE.md: probe-sized shuffle against an index
    * that never reshuffles — the 100 TB/day ingest shape. */
  def ingestDedupStream(spark: SparkSession, bucketsTable: String,
      shinglesTable: String, incoming: DataFrame, t: Double)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.queries.DedupOps.probeIngestIndex(spark, bucketsTable,
          shinglesTable, graft.queries.DedupOps.hashedFrame(batch.toDF()), t),
          batchId)
      }
      .start()

  /** The CONTINUOUS ingest loop closed — probe → accept → APPEND: like
    * [[ingestDedupStream]], every micro-batch is probed against the
    * standing stored index, but the batch's survivors (docs NOT flagged as
    * near-dups) are then folded into the index via
    * DedupOps.appendIngestIndex before the next batch arrives — so the
    * index GROWS with the accepted stream, and a later batch dedups against
    * both the original corpus AND every previously accepted document. This
    * is the missing half of the day-2 story: ingestDedupStream probes but
    * never grows the index; this is the loop a production pipeline actually
    * runs continuously.
    *
    * Ordering: the probe result is pinned with an EAGER localCheckpoint
    * before the append writes. Lazy planning alone is not the only hazard:
    * even a persist()ed probe is re-executed after the append, because the
    * bucketed append's saveAsTable refreshes the table and Spark lazily
    * invalidates every cached plan that references it — the probe would
    * silently re-run against the grown index and flag the batch against
    * itself. A localCheckpoint is a LogicalRDD with no table reference, so
    * the refresh cannot touch it. Semantics: acceptance is sequential-greedy
    * (a doc is
    * judged against the index state its batch arrived at) — the honest
    * streaming semantics, proven in StreamingSpec against a batch-mode
    * greedy replay. Intra-batch near-dups are NOT collapsed here (both
    * get accepted if neither matches the index); chain
    * [[dedupContentNear]] upstream when that collapse is wanted.
    *
    * Scale: per batch, one probe-sized join against the never-reshuffled
    * index (SCALE.md d65_probe row) plus one batch-sized bucketed append
    * (d65_append row) — nothing corpus-sized moves, ever. `sink` receives
    * (flagged, accepted doc_ids, batchId) per micro-batch. */
  def ingestAcceptStream(spark: SparkSession, bucketsTable: String,
      shinglesTable: String, incoming: DataFrame, t: Double)
      (sink: (DataFrame, DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val hashed = graft.queries.DedupOps.hashedFrame(batch.toDF()).persist()
        try {
          // eager pin BEFORE the index mutates (see ordering note above)
          val flagged = graft.queries.DedupOps.probeIngestIndex(spark,
            bucketsTable, shinglesTable, hashed, t).localCheckpoint(true)
          val accepted = hashed.join(flagged.select(col("doc_id")),
            Seq("doc_id"), "left_anti")
          graft.queries.DedupOps.appendIngestIndex(spark,
            bucketsTable, shinglesTable, accepted)
          // the insert runs through the micro-batch's CLONED session (the
          // batch frame owns the write), which refreshes only the clone's
          // relation cache — without an explicit refresh here, `spark`
          // keeps serving its stale cached file listing and every later
          // batch probes yesterday's index (measured, not hypothetical)
          spark.catalog.refreshTable(bucketsTable)
          spark.catalog.refreshTable(shinglesTable)
          sink(flagged, accepted.select(col("doc_id")), batchId)
        } finally hashed.unpersist(): Unit
      }
      .start()

  /** The VECTOR-side continuous ingest loop — the embedding parallel of
    * [[ingestAcceptStream]]: each micro-batch of (nid, v: array<float>)
    * vectors probes the stored int8-IVF layout for near-duplicates
    * (asymmetric q8 rerank in the batch's nprobe cells, flagged at cosine
    * ≥ tau), and the survivors are folded into the layout via
    * appendIvfCorpusQuantized — encoded on the layout's frozen grid, routed
    * under its stored centroids, refused wholesale if the batch is
    * out-of-grid past maxClampFrac (the staleness rule surfaces a needed
    * rebuild instead of writing clamp-saturated codes).
    *
    * Ordering: the probe is pinned with an eager localCheckpoint before the
    * append, same reasoning as the text loop. Visibility differs though:
    * the layout is PATH-based parquet (not a catalog table), and each
    * batch's probe builds a fresh file index over the path, so appended
    * cell files are seen without any refresh call. Per-batch cost is
    * batch-sized: nprobe/C of the index scanned for the probe, only the
    * batch's own rows encoded and appended. `sink` gets (flagged, accepted
    * nids, batchId) per micro-batch. */
  def vectorIngestStream(spark: SparkSession, path: String, incoming: DataFrame,
      nprobe: Int, tau: Double, maxClampFrac: Double = 0.05)
      (sink: (DataFrame, DataFrame, Long) => Unit): StreamingQuery =
    incoming.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF().persist()
        try {
          val flagged = graft.queries.SimilarityOps
            .probeVectorDups(spark, path, b, nprobe, tau).localCheckpoint(true)
          val accepted = b.join(flagged.select(col("nid")), Seq("nid"), "left_anti")
          graft.queries.SimilarityOps
            .appendIvfCorpusQuantized(spark, path, accepted, maxClampFrac): Unit
          sink(flagged, accepted.select(col("nid")), batchId)
        } finally b.unpersist(): Unit
      }
      .start()

  /** Streaming benchmark-DECONTAMINATION gate — d72's Bloom cost model in
    * the ingest path: before documents enter the corpus (or the accept
    * loop), drop any that share a shingle with the eval benchmark set. The
    * eval shingles are folded ONCE at stream start into an m-bit Bloom
    * filter (eval-sized, a plan constant thereafter); every micro-batch
    * then pays only scan-local probes, and the few bloom survivors are
    * verified against the real eval shingle set (persisted — benchmark-
    * sized, read per batch) so the gate is EXACT: no clean doc is dropped
    * (no false negatives), no contaminated doc passes (verify join).
    * Because the eval set is static, each doc's verdict is independent of
    * micro-batching — union over batches ≡ the one-shot batch gate
    * (StreamingSpec proves it across a 3-batch split). Per-batch cost:
    * batch-sized scan + (bloom-pass fraction)·batch rows into a
    * benchmark-sized join — the d72 measurement (SCALE.md: 8.9% pass,
    * zero FPs at sf0.1) is exactly what each micro-batch pays. `sink`
    * receives (contaminated doc_ids, clean rows, batchId). */
  def decontamGateStream(spark: SparkSession, evalShingles: DataFrame,
      incoming: DataFrame, mBits: Long = 1L << 18, k: Int = 5)
      (sink: (DataFrame, DataFrame, Long) => Unit): StreamingQuery = {
    val words = graft.queries.DedupOps.bloomBuild(
      evalShingles.select(col("sh")), mBits, k)
    val ev = evalShingles.select(col("sh")).distinct().persist()
    incoming.writeStream.outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.toDF().persist()
        try {
          val contaminated = graft.queries.DedupOps.hashedFrame(b)
            .select(col("doc_id"), explode(col("hs")).as("sh"))
            .filter(graft.queries.DedupOps.bloomProbe(words, mBits, k))
            .join(ev, "sh")
            .select(col("doc_id")).distinct()
          val clean = b.join(contaminated, Seq("doc_id"), "left_anti")
          sink(contaminated, clean, batchId)
        } finally b.unpersist(): Unit
      }
      .start()
  }

  /** Streaming per-user anomaly flags via Spark 4's transformWithState —
    * the arbitrary-state API that replaces (flat)mapGroupsWithState: typed
    * `ValueState` handles from the processor's lifecycle-managed handle,
    * per-state TTL, timers, and the RocksDB state store underneath (set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider — transformWithState requires it).
    *
    * Semantics: an event is anomalous when its value deviates more than
    * `z` running standard deviations from the user's PRIOR mean (prior =
    * strictly earlier events, so the decision never peeks at itself), once
    * at least `minSamples` prior events exist. State per user is three
    * numbers (n, sum, sumSq) — constant-size regardless of history length,
    * the Welford-style bound that survives unbounded streams.
    *
    * Ordering contract (API-level): state accumulates in ARRIVAL order.
    * Within a micro-batch events are sorted by (ts, event_id), so equality
    * with the batch prior-window mirror holds exactly when batches arrive
    * in event-time order — the replay/backfill regime, proven by the
    * multi-batch spec (maxFilesPerTrigger=1). Under out-of-order
    * cross-batch arrival the prior is "all events seen so far" — the
    * standard online-scoring model; flags stay well-defined but are not
    * the event-time frame. Callers needing the exact frame under disorder
    * should buffer by watermark upstream before this operator.
    *
    * `ttl` ages out idle users' state (processing-time TTL, switches the
    * processor to TimeMode.ProcessingTime): an idle user costs nothing
    * after expiry and their stats restart cold — the bounded-state knob
    * for 100 TB streams with churning user populations; eviction
    * spec-proven via the state-store row count.
    * Output: (user_id, event_id, n_prior, is_anomaly). */
  def anomalyFlags(spark: SparkSession, events: DataFrame,
      minSamples: Int = 5, z: Double = 3.0,
      ttl: Option[java.time.Duration] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    val ttlConfig = ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)
    class AnomalyProcessor
        extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Long, Boolean)] {
      @transient private var stats: org.apache.spark.sql.streaming.ValueState[RunStats] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        stats = getHandle.getValueState[RunStats]("stats",
          Encs.product[RunStats], ttlConfig)
      override def handleInputRows(key: Long,
          rows: Iterator[(Long, Long, Long, Double)],
          timerValues: TimerValues): Iterator[(Long, Long, Long, Boolean)] = {
        var s = if (stats.exists()) stats.get() else RunStats(0L, 0.0, 0.0)
        val out = rows.toArray.sortBy(r => (r._3, r._2)).map { r =>
          val anomalous = s.n >= minSamples && {
            val mean = s.sum / s.n
            val sd = math.sqrt(math.max(s.sumSq / s.n - mean * mean, 0.0))
            sd > 0.0 && math.abs(r._4 - mean) > z * sd
          }
          val res = (key, r._2, s.n, anomalous)
          s = RunStats(s.n + 1, s.sum + r._4, s.sumSq + r._4 * r._4)
          res
        }
        stats.update(s)
        out.iterator
      }
    }
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsm"),
        col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new AnomalyProcessor,
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
      .toDF("user_id", "event_id", "n_prior", "is_anomaly")
  }

  /** Streaming per-user rising-streak flags via transformWithState's LIST
    * state — the micro-pattern detector shape (spike onsets, monotone
    * ramps): emit, per event, whether the last 3 values (this one and the
    * two before it in (ts, event_id) order) strictly increase. Exercises
    * `ListState` next to anomalyFlags' ValueState: the list is trimmed to
    * the last 2 values on every update, so state is O(pattern window) per
    * user, never O(history). Same ordering contract as anomalyFlags
    * (within-batch sort; cross-batch equality with the batch lag-window
    * mirror under event-time-ordered arrival — spec-proven). Output:
    * (user_id, event_id, rising). */
  def risingStreak(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    class StreakProcessor
        extends StatefulProcessor[Long, (Long, Long, Long, Double), (Long, Long, Boolean)] {
      @transient private var last: org.apache.spark.sql.streaming.ListState[Double] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        last = getHandle.getListState[Double]("last2", Encs.scalaDouble, TTLConfig.NONE)
      override def handleInputRows(key: Long,
          rows: Iterator[(Long, Long, Long, Double)],
          timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
        var prev = last.get().toVector // [older, newer]
        val out = rows.toArray.sortBy(r => (r._3, r._2)).map { r =>
          val rising = prev.length == 2 && prev(0) < prev(1) && prev(1) < r._4
          prev = (prev :+ r._4).takeRight(2)
          (key, r._2, rising)
        }
        last.put(prev.toArray)
        out.iterator
      }
    }
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsm"),
        col("value"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new StreakProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_id", "rising")
  }

  /** Streaming per-(user, event_type) running counts via
    * transformWithState's MAP state — the per-key sub-dictionary shape
    * (feature counters, per-category rate limits): each event emits how
    * many PRIOR events of the SAME type its user produced. Completes the
    * arbitrary-state triad next to anomalyFlags (ValueState) and
    * risingStreak (ListState); state is one counter per (user, seen type)
    * — bounded by the type vocabulary, never history length. Same
    * ordering contract as the other two. Output:
    * (user_id, event_id, event_type, n_prior_type). */
  def typeCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    class TypeCountProcessor
        extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Long, String, Long)] {
      @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        counts = getHandle.getMapState[String, Long]("counts",
          Encs.STRING, Encs.scalaLong, TTLConfig.NONE)
      override def handleInputRows(key: Long,
          rows: Iterator[(Long, Long, Long, String)],
          timerValues: TimerValues): Iterator[(Long, Long, String, Long)] = {
        rows.toArray.sortBy(r => (r._3, r._2)).map { r =>
          val c = if (counts.containsKey(r._4)) counts.getValue(r._4) else 0L
          counts.updateValue(r._4, c + 1)
          (key, r._2, r._4, c)
        }.iterator
      }
    }
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsm"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "event_id", "event_type", "n_prior_type")
  }

  /** Streaming SCD2 changelog fold — the incremental twin of the d94 batch
    * fold (the CDC shape a live dimension/feature-store pipeline actually
    * runs): per user the only state is the OPEN version
    * (state, valid_from, version) — constant-size per key regardless of
    * history. An arriving event whose type differs from the open state
    * CLOSES the open version (emitted with valid_to = the event's time)
    * and opens the next; equal-state events are no-ops (true SCD2).
    * Append mode cannot retract, so only CLOSED versions are emitted —
    * the batch mirror is d94's `is_current = false` rows; each key's open
    * tail lives in the state store until the next change closes it.
    * Same ordering contract as anomalyFlags (within-batch (ts, event_id)
    * sort; cross-batch equality with the batch fold under
    * event-time-ordered arrival — the replay/backfill regime, spec-gated).
    * Output: (user_id, version, state, valid_from_us, valid_to_us). */
  def scd2Stream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    class Scd2Processor
        extends StatefulProcessor[Long, (Long, Long, Long, String), (Long, Int, String, Long, Long)] {
      @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenVersion] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        open = getHandle.getValueState[OpenVersion]("open",
          Encs.product[OpenVersion], TTLConfig.NONE)
      override def handleInputRows(key: Long,
          rows: Iterator[(Long, Long, Long, String)],
          timerValues: TimerValues): Iterator[(Long, Int, String, Long, Long)] = {
        var cur = if (open.exists()) Option(open.get()) else None
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, String, Long, Long)]
        rows.toArray.sortBy(r => (r._3, r._2)).foreach { r =>
          cur match {
            case Some(o) if o.state == r._4 => // no change: no new version
            case Some(o) =>
              out += ((key, o.version, o.state, o.fromUs, r._3))
              cur = Some(OpenVersion(r._4, r._3, o.version + 1))
            case None =>
              cur = Some(OpenVersion(r._4, r._3, 1))
          }
        }
        cur.foreach(open.update)
        out.iterator
      }
    }
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsm"),
        col("event_type"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new Scd2Processor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "version", "state", "valid_from_us", "valid_to_us")
  }

  /** TIMER-driven sessionization via transformWithState's event-time
    * timers — the fourth arbitrary-state feature next to Value/List/Map
    * state: a session closes either when a later in-batch event reveals
    * the gap (immediate emit) or when the WATERMARK passes lastTs + gap
    * and the registered timer fires in `handleExpiredTimer` (the user
    * went quiet — no further event will ever close it). Each batch
    * re-registers one timer at the current close point; stale timers
    * (re-registered later by new events) are ignored by re-checking the
    * live state's close point at expiry — the standard
    * one-logical-timer-per-key pattern. Semantics match
    * sessionizeWithTimeout (flatMapGroupsWithState EventTimeTimeout) and
    * the batch session_window mirror — same strict gap, same emit tuple,
    * spec gated the same way — including cross-batch disorder that lands
    * inside/adjacent to the open interval (merges, lowering smin as
    * needed). One documented delta of the single-interval state: a
    * straggler session older than the open interval by MORE than the gap
    * emits as closed immediately instead of staying open for possible
    * later within-watermark companions (sessionizeWithTimeout's
    * interval-list state holds those open until the watermark passes).
    * State: one 3-number ValueState + one timer per user. Output:
    * (user_id, smin, smax, n_events) in event-time micros. */
  def timerSessions(spark: SparkSession, events: DataFrame,
      gapMicros: Long = graft.queries.QueryUtil.sessionGapMicros,
      delay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, StatefulProcessor, TimeMode, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders => Encs}
    val gapMs = gapMicros / 1000
    class TimerSessProcessor
        extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long)] {
      @transient private var sess: org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        sess = getHandle.getValueState[(Long, Long, Long)]("sess",
          Encs.tuple(Encs.scalaLong, Encs.scalaLong, Encs.scalaLong), TTLConfig.NONE)
      override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
          timerValues: TimerValues): Iterator[(Long, Long, Long, Long)] = {
        val sorted = rows.toArray.map(_._2).sorted
        var st = if (sess.exists()) sess.get() else null
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        // group the batch into in-batch sessions first (strict gap, same
        // rule as session_window), THEN merge each against the open state:
        // per-event folding would split a straggler group that precedes
        // the open interval into singletons.
        val batch = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        sorted.foreach { ts =>
          if (batch.nonEmpty && ts - batch.last._2 < gapMicros) {
            val l = batch.last
            batch(batch.length - 1) = (l._1, ts, l._3 + 1)
          } else batch += ((ts, ts, 1L))
        }
        batch.foreach { bs =>
          if (st == null) st = bs
          else if (bs._2 > st._1 - gapMicros && bs._1 < st._2 + gapMicros)
            // touches the open interval on either side (a cross-batch
            // out-of-order group may precede it): merge, lowering smin
            st = (math.min(st._1, bs._1), math.max(st._2, bs._2), st._3 + bs._3)
          else if (bs._1 >= st._2 + gapMicros) {
            // gap visible in arrived data: close the open interval
            out += ((key, st._1, st._2, st._3))
            st = bs
          } else
            // entirely before the open interval by more than the gap:
            // emit as closed (see docstring for the delta vs the
            // interval-list variant)
            out += ((key, bs._1, bs._2, bs._3))
        }
        sess.update(st)
        getHandle.registerTimer(st._2 / 1000 + gapMs)
        out.iterator
      }
      override def handleExpiredTimer(key: Long, timerValues: TimerValues,
          expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
        if (!sess.exists()) return Iterator.empty
        val st = sess.get()
        // a timer registered for an OLDER close point is stale if later
        // events extended the session past it — only the live close fires
        if (expiredTimerInfo.getExpiryTimeInMs() < st._2 / 1000 + gapMs)
          Iterator.empty
        else {
          sess.clear()
          Iterator.single((key, st._1, st._2, st._3))
        }
      }
    }
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), unix_micros(col("ts")).as("tsm"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new TimerSessProcessor, TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "smin", "smax", "n_events")
  }

  /** Run a streaming aggregation to completion against the (finite) file
    * source via a named memory sink; returns the sink table name. */
  def runToMemorySink(df: DataFrame, name: String, mode: OutputMode): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q
  }
}

package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke test: replicate-and-perturb the sf0.1 corpus 10–100× and
  * measure the heavy operator family (d52 SSJoin, d53 MinHash LSH, u65
  * Misra-Gries, s58/s61 tiled pair joins) — wall time plus shuffle/spill
  * bytes from task metrics. Converts the SCALE.md plan-shape arguments into
  * measurements; results table lives in SCALE.md.
  *
  * Replication is designed so per-factor work scales the way the operator's
  * complexity class says it should, with no cross-replica artifacts:
  *
  *  - documents for d52/d53: every token gets a per-replica suffix, so
  *    replicas share ZERO shingles — each replica is an independent corpus
  *    shard, near-dup structure replicated per shard, candidate work and
  *    output exactly ×K (the near-linear regime the bucketed paths claim).
  *    Plain replication instead would make every doc an exact dup of its
  *    K-1 copies → O(K²) output pairs, measuring a corpus property rather
  *    than the operator.
  *  - documents for u65: PLAIN replication — frequencies and the n/257
  *    survival threshold scale together, so the heavy-hitter set stays
  *    stable while scan and sketch-merge work grow ×K.
  *  - embeddings for s58/s61: one deterministic sign-flip pattern (a
  *    diagonal ±1 orthogonal transform) per replica, applied to every
  *    vector of that replica — intra-replica cosines are preserved
  *    BIT-EXACTLY, cross-replica sims collapse to noise. Work for the
  *    exact all-pairs operators is inherently O(n²) pairs; the honest
  *    scale claim measured here is time ∝ pair count at bounded memory
  *    (the tiling's job), not sublinear time.
  *
  * Usage: `sbt "runMain graft.tools.ScaleProbe [baseSfDir] [workDir]"`.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = if (args.length > 1) args(1) else "/tmp/graft_scale"
    // rerun knobs: SCALE_QUERIES=csv filter, SCALE_FACTORS=csv filter,
    // SCALE_SHUFFLE=shuffle partition count. The partition knob exists to
    // demonstrate the one genuine local-vs-cluster delta this probe
    // surfaces: shuffle volume scales linearly with corpus size, but a
    // FIXED partition count makes per-partition sorts spill at 100× — the
    // production fix is partitions ∝ data (the standard sizing rule), not
    // a plan change.
    val onlyQ = sys.env.get("SCALE_QUERIES").map(_.split(",").toSet)
    val onlyF = sys.env.get("SCALE_FACTORS").map(_.split(",").map(_.toInt).toSet)
    val cpus = math.min(32, Runtime.getRuntime.availableProcessors())
    val shufflePartitions =
      sys.env.get("SCALE_SHUFFLE").flatMap(_.toIntOption).getOrElse(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // stored delta-probe indexes land under the work dir, not the repo
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shufWrite = new AtomicLong; val spilled = new AtomicLong
    val maxTaskMs = new AtomicLong // longest single task — the skew signal
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spilled.addAndGet(m.memoryBytesSpilled)
        }
        if (te.taskInfo != null) {
          val d = te.taskInfo.duration
          var cur = maxTaskMs.get
          while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get
        }
      }
    })

    def synthDocs(k: Int, suffixTokens: Boolean, out: String): Unit = {
      val base = spark.read.parquet(s"$baseDir/documents.parquet")
      val text =
        if (!suffixTokens) col("text")
        else when(col("rep") === 0, col("text")).otherwise(concat_ws(" ",
          transform(split(trim(col("text")), "\\s+"),
            t => concat(t, lit("_r"), col("rep")))))
      base.crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("doc_id") + col("rep") * 100000000L).as("doc_id"),
          text.as("text"), col("lang"), col("source"), col("n_chars"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    // events for q64/q65: per-replica user_id/event_id offsets with
    // timestamps UNCHANGED — every replica is an independent user
    // population with the identical funnel/retention structure, so stage
    // counts and cohort rows replicate xK while the ts distribution (and
    // thus week buckets, watermark math) stays fixed. ts is kept as raw
    // nanos LONG (Tables.load's DIV-1000 conversion applies unchanged).
    def synthEvents(k: Int, out: String): Unit = {
      // nanosAsLong only for this read+write: restore the previous value so
      // the shared probe session doesn't silently inherit the legacy
      // interpretation for every later table (Tables.load sets it
      // deliberately session-wide for its own reads; the probe must not).
      val prev = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      try {
        val base = spark.read.parquet(s"$baseDir/events.parquet")
        base.crossJoin(spark.range(k).select(col("id").as("rep")))
          .select((col("event_id") + col("rep") * 1000000000000L).as("event_id"),
            col("ts"), (col("user_id") + col("rep") * 1000000000L).as("user_id"),
            col("event_type"), col("value"), col("props"))
          .repartition(cpus)
          .write.mode("overwrite").parquet(s"$out/events.parquet")
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
    }

    // orders for q113's quote side: o_custkey offsets mirror synthEvents
    // user_id offsets, so each replica keeps the identical probe-quote
    // match structure — honest xK for the as-of stream
    def synthOrders(k: Int, out: String): Unit = {
      val base = spark.read.parquet(s"$baseDir/orders.parquet")
      base.crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("o_orderkey") + col("rep") * 1000000000000L).as("o_orderkey"),
          (col("o_custkey") + col("rep") * 1000000000L).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }

    def synthEmb(k: Int, out: String): Unit = {
      val base = spark.read.parquet(s"$baseDir/embeddings.parquet")
      base.crossJoin(spark.range(k).select(col("id").as("rep")))
        .select((col("vec_id") + col("rep") * 100000000L).as("vec_id"),
          when(col("rep") === 0, col("embedding")).otherwise(
            zip_with(col("embedding"),
              transform(sequence(lit(0), size(col("embedding")) - 1),
                i => pmod(hash(col("rep"), i), lit(2))),
              (v, flip) => when(flip === 1, -v).otherwise(v))).as("embedding"),
          col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    // min-of-2 warm passes after a cold pass, noop-sink materialization
    // (same methodology as Bench). Each warm pass snapshots its OWN shuffle/
    // spill counters (listener bus drained via waitUntilEmpty, not a fixed
    // sleep), and the reported metrics are those of the min-time run — so
    // the row is internally consistent rather than a cross-run average.
    // Probes that aren't contract queries: the d54 block-TRIPLE banding
    // variant (C(8,3)=56 tables × 24-bit buckets, complete for hamming≤5) —
    // the scheme SCALE.md names as the next step once 16-bit bucket
    // occupancy grows; measured here at the same corpora as d54.
    // Delta probes (d64_probe / d65_probe): a FIXED probe input — the base
    // sf's new-eval shingle set / incoming batch — against a stored index
    // built (outside timing) from the ×K corpus. The production claim under
    // test: the corpus-sized side enters its joins pre-bucketed, so probe
    // SHUFFLE stays probe-sized while the corpus grows ×K; wall is bounded
    // by the index scan, never by reshuffling it.
    def tblSuffix(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")
    // Managed-table data persists under $workDir/warehouse across JVMs while
    // the in-memory catalog does not; a stale location makes
    // saveAsTable(Overwrite) fail. Drop the leftover dir before a rebuild so
    // reruns with the same workDir are idempotent (the parquet corpora get
    // the same treatment via their file-existence guards).
    def dropStaleIndex(tbls: String*): Unit = tbls.foreach { t =>
      if (!spark.catalog.tableExists(t)) {
        val loc = new java.io.File(s"$workDir/warehouse/${t.toLowerCase}")
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(): Unit
          }
          rm(loc)
        }
      }
    }
    def forcedRange(build: => DataFrame): DataFrame = {
      val saved = graft.operators.RangeSweep.maxWindowBytes
      graft.operators.RangeSweep.maxWindowBytes = 0
      try build finally graft.operators.RangeSweep.maxWindowBytes = saved
    }
    val extraProbes: Map[String, (SparkSession, String) => DataFrame] = Map(
      "d54_triple" -> ((s, d) =>
        graft.queries.DedupOps.simhashPairs(s, d, choose = 3, maxHamming = 5)
          .orderBy(col("ida"), col("idb"))),
      "d64_probe" -> ((s, d) =>
        graft.queries.DedupOps.decontaminateDelta(
          s.table(s"scale_train_idx_${tblSuffix(d)}"),
          graft.queries.DedupOps.evalShingles(s, baseDir, 89, 1))),
      "d65_probe" -> ((s, d) =>
        graft.queries.DedupOps.probeIngestIndex(s,
          s"scale_ing_buckets_${tblSuffix(d)}",
          s"scale_ing_shingles_${tblSuffix(d)}",
          graft.queries.DedupOps.ingestIncoming(s, baseDir), 0.8)),
      // d72 with the filter sized FOR the scaled eval set (m ∝ n, the
      // production rule): the contract query's fixed m=2^18 saturates at
      // 100× eval (kn/m ≈ 4.6 → FPR ≈ 0.95, cut vanishes — measured);
      // 2^25 bits (4 MiB) restores kn/m ≈ 0.037
      "d72_sized" -> ((s, d) =>
        graft.queries.DedupOps.decontaminateBloom(s, d, 3, 1L << 25, 5)),
      // d81 doc-LENGTH stress (the graft_strip_spans kernel claim): same
      // corpus with every token stream repeated ×16 — boilerplate-heavy
      // long docs. The old array_contains cover probe was O(len²) per doc
      // (≈256× the base cost here); the mask kernel must stay ≈×16.
      // Targeted unpersist per pass: d81 memo-persists its grams AND its
      // result, and Spark's CacheManager matches cached plans structurally,
      // so without a reset every warm pass is a cache read, not a
      // computation. clearCache() (the r9 form) was the wrong reset — it
      // also evicted the OTHER probes' shared memos and left this probe's
      // memoized frames uncached, so warm passes computed the grams subtree
      // twice (heavier than the production plan). Prefix unpersist makes
      // each pass rebuild + re-persist exactly like a fresh production run.
      "d81_flat" -> ((s, d) => { graft.queries.QueryUtil.unpersistKeyed(s, "sc-d81f:")
        graft.queries.DedupOps.boilerplateStripFrame(s, s"sc-d81f:$d",
          s.read.parquet(s"$d/documents.parquet")
            .select(col("doc_id"), split(trim(col("text")), "\\s+").as("t")))
          .drop("kept") }),
      "d81_long" -> ((s, d) => { graft.queries.QueryUtil.unpersistKeyed(s, "sc-d81l:")
        graft.queries.DedupOps.boilerplateStripFrame(s, s"sc-d81l:$d",
          s.read.parquet(s"$d/documents.parquet")
            .select(col("doc_id"), flatten(array_repeat(
              split(trim(col("text")), "\\s+"), 16)).as("t")))
          .drop("kept") }),
      // d84 day-2 refresh: stored bucketed report state (built outside
      // timing from the ×K corpus) + a FIXED base-sf batch — cost must stay
      // flat while the corpus behind the state grows ×K
      "d84_probe" -> ((s, d) =>
        graft.queries.DedupOps.reportDelta(
          s.table(s"scale_report_state_${tblSuffix(d)}"),
          s.read.parquet(s"$baseDir/documents.parquet"))),
      // d90 memo-persists its tokenize base keyed by dir — the d81-style
      // per-pass unpersist makes every pass rebuild + re-persist like a
      // fresh production run instead of reading the cached frame
      "d90_probe" -> ((s, d) => {
        graft.queries.QueryUtil.unpersistKeyed(s, "d90base:")
        graft.SparkEntry.queries("d90")(s, d)
      }),
      // sampled pair-bound audits: evict the memoized sample so every pass
      // pays the real hash-rank scan of the ×K corpus (the production cost)
      "s78_probe" -> ((s, d) => {
        graft.queries.QueryUtil.unpersistKeyed(s, "svec:s78:")
        graft.SparkEntry.queries("s78")(s, d)
      }),
      "s79_probe" -> ((s, d) => {
        graft.queries.QueryUtil.unpersistKeyed(s, "svec:s79:")
        graft.SparkEntry.queries("s79")(s, d)
      }),
      "s80_probe" -> ((s, d) => {
        graft.queries.QueryUtil.unpersistKeyed(s, "svec:s80:")
        graft.SparkEntry.queries("s80")(s, d)
      }),
      // standing interval index: probe a FIXED base-sf point batch against
      // an index built (outside timing) from the ×K interval history — the
      // d64_probe/d65_probe economics for the temporal family: the index
      // enters its join off the bucketed scan (no corpus reshuffle), so
      // probe cost tracks the index SCAN + the ×K match volume (replicas
      // share the time axis), never a corpus-wide shuffle
      "ivx_probe" -> ((s, d) =>
        graft.operators.IntervalIndex.probePoints(s,
          s"scale_iv_idx_${tblSuffix(d)}",
          graft.Tables.load(s, baseDir, "events")
            .filter(col("user_id") % 4 === 2)
            .select(col("event_id").as("pid"), col("ts").as("pt")),
          "pt")),
      // the range forms of the global merge and the as-of join (over every
      // event session; q117's backward as-of without its tieBreak): the
      // contract queries only run their window forms, so these probes are
      // what prove the lake-scale paths' growth class. The threshold is
      // restored at once: routing is decided at operator-call time, before
      // the probe's noop write runs.
      "merge_scalable_probe" -> ((s, d) => forcedRange {
        val iv = graft.Tables.load(s, d, "events").select(col("ts").as("lo"))
          .withColumn("hi", col("lo") + expr("INTERVAL 1799 SECONDS"))
        graft.operators.IntervalSweep.mergeIntervals(iv, Nil, "lo", "hi")
      }),
      "asof_scalable_probe" -> ((s, d) => forcedRange {
        val ev = graft.Tables.load(s, d, "events")
        def side(rem: Int, id: String, t: String) =
          ev.filter(pmod(col("user_id"), lit(4)) === rem)
            .select(col("event_type").as("k"), col("event_id").as(id), col("ts").as(t))
        graft.operators.AsofJoin.asof(side(2, "pid", "pt"), side(3, "q_eid", "qt"),
          Seq("k"), "pt", "qt", "backward", tolerance = Some(7200L * 1000000L))
      }))

    // max single-task seconds of the min-time warm pass, for skew probes
    var minRunMaxTaskSec = 0.0
    def timeAction(body: => Unit): (Double, Double, Double) = {
      def once(): (Double, Double, Double, Double) = {
        shufWrite.set(0); spilled.set(0); maxTaskMs.set(0)
        val t0 = System.nanoTime()
        body
        val t = (System.nanoTime() - t0) / 1e9
        org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 30000)
        (t, shufWrite.get / 1e6, spilled.get / 1e6, maxTaskMs.get / 1e3)
      }
      once() // cold
      val best = (1 to 2).map(_ => once()).minBy(_._1)
      minRunMaxTaskSec = best._4
      (best._1, best._2, best._3)
    }
    def timeQuery(name: String, dir: String): (Double, Double, Double) =
      timeAction {
        extraProbes.getOrElse(name, graft.SparkEntry.queries(name))(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }

    val rows = scala.collection.mutable.ArrayBuffer[String]()
    def record(name: String, factor: Int, m: (Double, Double, Double)): Unit = {
      val (sec, shufMb, spillMb) = m
      val line = f"| $name | ${factor}x | $sec%.2f | $shufMb%.1f | $spillMb%.1f | $shufflePartitions |"
      println(s"[scale] $line")
      rows += line
    }
    def run(name: String, factor: Int, dir: String): Unit =
      if (onlyQ.forall(_.contains(name)) && onlyF.forall(_.contains(factor)))
        record(name, factor, timeQuery(name, dir))
    def wanted(names: String*): Boolean =
      onlyQ.forall(q => names.exists(q.contains))

    for (k <- Seq(1, 10, 100) if onlyF.forall(_.contains(k))) {
      val sufDir = s"$workDir/text_x$k"; val plainDir = s"$workDir/plain_x$k"
      if (k > 1 && wanted("d52", "d53", "d54", "d54_triple", "t49", "d60",
          "d62", "d64_probe", "d65_probe", "d65_append", "d69", "d71", "d72",
          "d82", "d83", "d84_probe", "d86", "t71") &&
          !new java.io.File(s"$sufDir/documents.parquet").exists())
        synthDocs(k, suffixTokens = true, sufDir)
      if (k > 1 && wanted("u65", "d61", "t55", "t56", "d66", "d67", "d68",
          "t57", "d70", "d90_probe", "d95", "d96") &&
          !new java.io.File(s"$plainDir/documents.parquet").exists())
        synthDocs(k, suffixTokens = false, plainDir)
      val d = if (k == 1) baseDir else sufDir
      val p = if (k == 1) baseDir else plainDir
      run("d52", k, d)
      run("d53", k, d)
      // the two scalar-kernel queries (SimHash banding dedup; Rabin-Karp
      // fingerprint dedup): suffixed replicas keep signatures/fingerprints
      // disjoint across replicas, so banding candidates and collision groups
      // replicate per shard — the claimed scan-bound ×K regime
      run("d54", k, d)
      run("d54_triple", k, d)
      run("t49", k, d)
      // decontamination: suffixed replicas keep train/eval shingle overlap
      // within a replica, so flagged docs and join matches replicate per
      // shard — the linear regime the inverted-index join claims
      run("d60", k, d)
      // bloom-prefiltered decontamination next to d60: same output, the
      // shuffle column shows the join-input cut directly (only bloom
      // survivors reach the exchange). The eval set also grows ×K while
      // m stays fixed, so this measures the filter at RISING load — at
      // 100× the honest production response is m ∝ eval (still eval-sized)
      run("d72", k, d)
      run("d72_sized", k, d)
      // repeated-ngram boilerplate: suffixed replicas share zero windows,
      // so window keys/counts replicate per shard — one key agg + one
      // co-partitioned join, the claimed linear regime
      run("d71", k, d)
      // containment join: suffixed replicas keep containment structure
      // per shard (same rationale as d52) — prefix x full-entries join
      run("d62", k, d)
      // longest-shared-span: suffixed replicas share zero 8-gram anchors,
      // so pairs and aligned runs replicate per shard — the linear
      // anchor-join regime the gaps-and-islands form claims
      run("d83", k, d)
      // prefix-truncation dedup: suffixed replicas share zero first-8-token
      // anchors, so candidates and verified prefix pairs replicate per
      // shard — one anchor equi-join + per-candidate O(len) verify, linear
      run("d86", k, d)
      // LM quality scoring: suffixed replicas share zero bigrams, so the
      // model (×K vocab), the marginal, and the doc⋈model join matches all
      // replicate per shard — two corpus scans + bigram-keyed aggs/join,
      // the claimed linear train-then-score regime
      run("t71", k, d)
      // lexical retrieval: suffixed replicas share zero tokens, so the
      // postings build (explode + two token-keyed aggs) replicates per
      // shard ×K while the probe join stays query-term-bounded (the fixed
      // 10 query docs live in replica 0 and match only replica-0 postings)
      // — the claimed index-build-linear / probe-flat regime
      run("t73", k, d)
      // d81 kernel claims are doc-LENGTH scaling, probed at the base
      // corpus only (the ×16-token stress next to its control)
      if (k == 1) { run("d81_flat", k, d); run("d81_long", k, d) }
      if (wanted("d84_probe")) {
        if (!spark.catalog.tableExists(s"scale_report_state_${tblSuffix(d)}")) {
          dropStaleIndex(s"scale_report_state_${tblSuffix(d)}")
          graft.queries.DedupOps.reportPartials(
              spark.read.parquet(s"$d/documents.parquet"))
            .write.bucketBy(4, "source").sortBy("source", "keep", "split")
            .saveAsTable(s"scale_report_state_${tblSuffix(d)}")
        }
        run("d84_probe", k, d)
      }
      // pipeline v2: quality/dedup/decontam/upsample structure replicates
      // per shard (suffixed texts stay distinct across replicas)
      run("d69", k, d)
      // pipeline v3 (the bench's most expensive query — a scale-gate row):
      // same per-shard replication argument as d69; every stage is linear
      run("d82", k, d)
      // delta probes: index built once per factor (outside timing) from the
      // suffixed ×K corpus; probe input fixed at the base sf. Suffixed
      // replicas share zero shingles with the base, so probe OUTPUT stays
      // constant while the stored index grows ×K — any cost growth is pure
      // index-side overhead, which the bucketed layout confines to the scan.
      if (wanted("d64_probe")) {
        if (!spark.catalog.tableExists(s"scale_train_idx_${tblSuffix(d)}")) {
          dropStaleIndex(s"scale_train_idx_${tblSuffix(d)}")
          graft.queries.DedupOps.writeTrainIndex(spark, d, s"scale_train_idx_${tblSuffix(d)}")
        }
        run("d64_probe", k, d)
      }
      if (wanted("d65_probe", "d65_append")) {
        if (!spark.catalog.tableExists(s"scale_ing_buckets_${tblSuffix(d)}")) {
          dropStaleIndex(
            s"scale_ing_buckets_${tblSuffix(d)}", s"scale_ing_shingles_${tblSuffix(d)}")
          graft.queries.DedupOps.writeIngestIndex(spark, d,
            s"scale_ing_buckets_${tblSuffix(d)}", s"scale_ing_shingles_${tblSuffix(d)}")
        }
        run("d65_probe", k, d)
        // append a FIXED base-sf batch into the ×K standing index: the day-2
        // claim is append cost ∝ batch, flat while the index grows ×K.
        // Runs AFTER the probe (the append makes the batch corpus; probing
        // the same batch again would then self-match). Timed appends
        // accumulate duplicate rows in the scratch tables — harmless for the
        // cost claim (each append writes only batch-sized data) and the
        // tables are rebuilt per JVM.
        if (onlyQ.forall(_.contains("d65_append")) && onlyF.forall(_.contains(k))) {
          val batch = graft.queries.DedupOps.ingestIncoming(spark, baseDir)
          record("d65_append", k, timeAction {
            graft.queries.DedupOps.appendIngestIndex(spark,
              s"scale_ing_buckets_${tblSuffix(d)}",
              s"scale_ing_shingles_${tblSuffix(d)}", batch)
          })
        }
      }
      run("u65", k, p)
      // plain replicas: per-source caps and the vocabulary both stay
      // CONSTANT-size while the corpus grows xK — the claimed
      // "output bounded by K/vocab, cost = one scan" regime
      run("d61", k, p)
      run("t55", k, p)
      // plain replicas (suffixing would break the \b-bounded dictionary
      // matches): redaction is a pure regex scan; upsampling replicates
      // every replica by the same per-source weights — both claim
      // scan-bound xK
      run("t56", k, p)
      run("d66", k, p)
      // global shuffle: the one exchange IS the shard write — shuffle
      // bytes must track corpus size, time must stay exchange-bound
      run("d67", k, p)
      // z-order audit: scan-local bit arithmetic + broadcast stats row
      run("d68", k, p)
      // tokenization: plain replicas keep the vocab CONSTANT while token
      // volume grows xK — join stays vocab-sized, re-assembly agg ∝ data
      run("t57", k, p)
      // sequence packing: one two-pass prefix sum (bucket windows +
      // broadcast offsets) + scan-local fragment arithmetic — output and
      // cost must track the token stream xK, shuffle ∝ corpus rows only
      run("d70", k, p)
      // budget selection: PLAIN replicas keep the density distribution —
      // the budget (25% of tokens) and the admitted set replicate per
      // shard; the banded two-pass keeps bands fixed (~21) with ×K rows
      // each, so window parallelism and shuffle stay ∝ rows, no
      // single-task global sort to break
      run("d90_probe", k, p)
      // quantile partials: one scan into a (source × bucket)-sized agg —
      // plain replicas keep the bucket set CONSTANT while counts grow ×K,
      // so the cumsum windows stay bucket-sized and the op is scan-bound
      run("d95", k, p)
      // PPS sampling: the banded two-pass cumsum over ×K rows (offset
      // replicas draw fresh hash positions) — bands fixed at 256 with ×K
      // rows each, selection stays m points; same regime as d90_probe
      run("d96", k, p)
      // drop this factor's memo-persisted frames before the next one: the
      // memo keys embed the corpus dir, so nothing carries over — but the
      // CACHED DATA does, and a one-JVM all-factor run accumulates ×K
      // corpora in storage memory until execution starves (hash-map OOM
      // at 100×, observed). Targeted eviction keeps single-family runs
      // and the one-shot full run equivalent.
      graft.queries.QueryUtil.unpersistKeyed(spark, "")
    }
    for (k <- Seq(1, 3, 10) if onlyF.forall(_.contains(k))) {
      val dir = s"$workDir/emb_x$k"
      if (k > 1 && wanted("s58", "s61", "s64", "s65", "s76", "s77",
          "s78", "s79", "s80", "s81", "s84",
          // the budgeted members run under their _probe names (the
          // d64_probe/d90_probe convention) — SCALE_QUERIES set to a probe
          // name must still synthesize the ×K embeddings dir
          "s78_probe", "s79_probe", "s80_probe") &&
          !new java.io.File(s"$dir/embeddings.parquet").exists())
        synthEmb(k, dir)
      val d = if (k == 1) baseDir else dir
      run("s58", k, d)
      run("s61", k, d)
      // label separability rides the same tiled pair machinery as s58 —
      // time ∝ pair count at two-block memory; the ±-flip replicas keep
      // intra-replica label structure while cross-replica sims collapse
      run("s76", k, d)
      // the BUDGETED members of the pair-bound family: compare work is
      // fixed by the pair budget (s78/s79: 19 900 pairs; s80: 50 queries
      // × n), so wall must stay FLAT (s78/s79) / LINEAR (s80) while the
      // exact audits above grow ∝ n² — the per-pass unpersist makes each
      // pass re-rank the ×K corpus instead of reading the cached sample
      run("s78_probe", k, d)
      run("s79_probe", k, d)
      run("s80_probe", k, d)
      // recall audit: both sides linear (fixed 10-query exact scan + the
      // LSH signature/bucket join) — the audit must stay scan-bound
      run("s81", k, d)
      // centroid drift is the family's LINEAR member: one scan,
      // (label,dim) agg — the contrast row to the O(n²) pair audits
      run("s77", k, d)
      // sampling/quantization: k*n broadcast-join sims reduced map-side
      // (s64) and a scan-local coding pass against broadcast stats (s65) —
      // both claim linear scan-bound growth, no corpus-sized shuffle
      run("s64", k, d)
      run("s65", k, d)
      // IVF-PQ end to end: both k-means trainings are Lloyd rounds over
      // broadcast centroids/codebooks (scan ×K per round), the PQ encode is
      // scan-local, and the probe's ADC scan touches nprobe/C of the ×K
      // corpus with a FIXED 10-query probe list — every stage linear, no
      // pair blowup (candidates ∝ corpus, never corpus²)
      run("s84", k, d)
      graft.queries.QueryUtil.unpersistKeyed(spark, "") // see the docs loop
    }
    // agreement report (s66): needs BOTH tables in ONE dir with consistent
    // ids — synthDocs and synthEmb share the 100000000L per-replica offset,
    // so the combined corpus keeps the doc_id == vec_id alignment the
    // report joins on; both pair sets replicate per shard (suffix/flip).
    for (k <- Seq(1, 3, 10) if onlyF.forall(_.contains(k))) {
      val dir = s"$workDir/combo_x$k"
      if (k > 1 && wanted("s66") &&
          !new java.io.File(s"$dir/embeddings.parquet").exists()) {
        synthDocs(k, suffixTokens = true, dir)
        synthEmb(k, dir)
      }
      run("s66", k, if (k == 1) baseDir else dir)
      graft.queries.QueryUtil.unpersistKeyed(spark, "") // see the docs loop
    }
    for (k <- Seq(1, 10, 100) if onlyF.forall(_.contains(k))) {
      val dir = s"$workDir/events_x$k"
      if (k > 1 && wanted("q64", "q65", "q66", "q67", "q108", "q109", "q111",
          "q113", "q114", "q115", "q116", "q117", "q119", "q120", "q121",
          "d94", "ivx_probe", "q122", "q123", "q124", "merge_scalable_probe",
          "asof_scalable_probe") &&
          !new java.io.File(s"$dir/events.parquet").exists())
        synthEvents(k, dir)
      if (k > 1 && wanted("q113", "q118") &&
          !new java.io.File(s"$dir/orders.parquet").exists())
        synthOrders(k, dir)
      val e = if (k == 1) baseDir else dir
      // funnel + retention: all stages shuffle on user_id, so time should
      // track the event count (per-replica user populations are disjoint);
      // q66's two-sided gap adds one predicate per stage, not a shuffle —
      // it must scale indistinguishably from q64
      run("q64", k, e)
      run("q65", k, e)
      run("q66", k, e)
      // path mining: one user_id window + agg to the constant-size
      // trigram table — linear, shuffle ∝ events
      run("q67", k, e)
      // interval sweeps: one shuffle each — q108 windows per event_type
      // (replicated user shards stack ×K boundaries onto the SAME 8 type
      // timelines: per-partition external sort, n log n), q109 per user
      // (user populations disjoint — rows ×K, per-user work fixed)
      run("q108", k, e)
      run("q109", k, e)
      // merge-then-anti decontamination: replicas share the time axis, so
      // raw blackout density per band grows ×K — the mergeIntervals
      // pre-union is what this row proves out: the merged island set gets
      // DENSER but not larger (bounded by the time span), so the anti
      // join's probe cost stays ∝ sessions and the op stays linear; the
      // unmerged form would pay sessions × K per band
      run("q111", k, e)
      // interval clipping (merge -> banded left-outer -> HOF walk):
      // the same density argument as q111 — merged islands bounded by the
      // time span, fragments per session bounded by islands touched
      run("q114", k, e)
      // generalized as-of (nearest+tolerance): one union stream per key,
      // two window passes over one shuffle — probes x K, per-key quote
      // lists fixed (replicated users are disjoint populations)
      run("q113", k, e)
      // r15 native-key interval tier. q115 per-key clip: keyed merge +
      // keyed banded left-outer — user populations disjoint, rows ×K,
      // per-user islands fixed; q116 overlap FULL OUTER: replicas share
      // the time axis so matches grow ×K per side (bounded by band
      // occupancy × the fixed span), the two anti legs group each shard
      // once — linear; q117 backward as-of on 8 event-type keys: ×K
      // boundaries on the SAME 8 timelines, per-partition n log n;
      // q119 sweep per type: same argument as q108
      run("q115", k, e)
      run("q116", k, e)
      run("q117", k, e)
      run("q119", k, e)
      // orders-keyed native-date merge: windows stack ×K onto the same 5
      // priority timelines — per-partition external sort, n log n
      run("q118", k, if (k == 1) baseDir else dir)
      // keyed banded joins: user populations disjoint per replica, so the
      // (user, band) co-partitioning's candidate sets stay fixed — rows
      // and matches both ×K, honest linear
      run("q120", k, e)
      run("q121", k, e)
      // calendar-grid occupancy: one band explode + one (key, bucket)
      // count — x K intervals stack x K counts onto the same fixed hour
      // grid (replicas share the time axis); scan -> agg, honest linear
      run("q122", k, e)
      // idle-gap report: mergeIntervals + lead + agg on ONE key exchange —
      // x K sessions stack onto the same 8 type timelines (n log n sort)
      run("q123", k, e)
      // SCD2 fold: one user_id shuffle, three stacked window functions on
      // the same sort — user populations disjoint per replica, so per-user
      // version chains stay fixed while rows grow ×K, honest linear
      run("d94", k, e)
      // point-in-time SCD2 enrichment: the d94 fold + a per-user backward
      // as-of — user populations disjoint per replica, probes and version
      // chains both x K with per-user work fixed, honest linear
      run("q124", k, e)
      // standing interval index: build once per factor (outside timing)
      // from the ×K session history, probe the fixed base-sf point batch
      if (wanted("ivx_probe")) {
        if (!spark.catalog.tableExists(s"scale_iv_idx_${tblSuffix(e)}")) {
          dropStaleIndex(s"scale_iv_idx_${tblSuffix(e)}")
          graft.operators.IntervalIndex.write(spark,
            graft.Tables.load(spark, e, "events")
              .filter(col("user_id") % 4 === 1)
              .select(col("event_id").as("rid"), col("ts").as("s_lo"),
                (col("ts") + expr("INTERVAL 30 MINUTES")).as("s_hi")),
            "s_lo", "s_hi", s"scale_iv_idx_${tblSuffix(e)}", 3600000000L)
        }
        run("ivx_probe", k, e)
      }
      // the forced range forms: one data exchange on (range, key) +
      // per-range sweeps + carries aggregated before the exchange
      run("merge_scalable_probe", k, e)
      run("asof_scalable_probe", k, e)
      graft.queries.QueryUtil.unpersistKeyed(spark, "") // see the docs loop
    }

    // SKEW STRESS (hot boilerplate group): ONE short template replicated
    // hot× with a distinct tail token each — near- but not exact-dups, so
    // exact content dedup cannot collapse them upstream — mixed into the
    // base corpus. Every prefix entry of the group carries df ≈ hot, so the
    // candidate self-join concentrates ~3 keys × hot²/2 output rows into ≤3
    // tasks when unsalted. AQE's skew split cannot rescue this shape: its
    // trigger is INPUT partition bytes (spark.sql.adaptive.skewJoin.
    // skewedPartitionThresholdInBytes = 256 MB default) and the hot keys'
    // prefix entries are only ~hot·40 B ≈ 0.4 MB of input — the explosion
    // is in the join OUTPUT, which AQE never sees. The evidence recorded
    // here: unsalted wall ≈ max single-task time (single-task bound, no
    // split happened); the df-driven salt in jaccardPairs restores
    // parallelism at identical output (losslessness is spec-proven).
    if (wanted("d52_skew", "d52_skew_salted")) {
      val hot = sys.env.get("SCALE_SKEW_HOT").flatMap(_.toIntOption).getOrElse(10000)
      // the host corpus must be big enough that the candidate join CANNOT
      // broadcast its build side (broadcast hash join streams the probe side
      // and is inherently skew-immune — measured: at 1× sf0.1 the ~215k-row
      // prefix broadcasts and the hot group costs nothing). The ×10 suffixed
      // corpus puts ~2M rows on both sides, forcing the shuffled join the
      // 100 TB regime always runs.
      val repDir = s"$workDir/text_x10"
      if (!new java.io.File(s"$repDir/documents.parquet").exists())
        synthDocs(10, suffixTokens = true, repDir)
      val skewDir = s"$workDir/skew_${hot}_x10"
      if (!new java.io.File(s"$skewDir/documents.parquet").exists()) {
        val base = spark.read.parquet(s"$repDir/documents.parquet")
          .select("doc_id", "text", "lang", "source", "n_chars")
        val hotDocs = spark.range(hot).select(
          (lit(900000000L) + col("id")).as("doc_id"),
          concat(lit("alpha beta gamma delta epsilon zeta rev"), col("id")).as("text"),
          lit("en").as("lang"), lit("hot").as("source"), lit(50).as("n_chars"))
        base.union(hotDocs).repartition(cpus)
          .write.mode("overwrite").parquet(s"$skewDir/documents.parquet")
      }
      val saved = graft.queries.QueryUtil.hotPrefixBucket
      def skewRun(name: String, bucket: Int): Unit =
        if (onlyQ.forall(_.contains(name))) {
          graft.queries.QueryUtil.hotPrefixBucket = bucket
          record(name, 1, timeAction {
            graft.queries.DedupOps.jaccardPairs(spark, skewDir, 0.4)
              .write.format("noop").mode("overwrite").save()
          })
          println(f"[scale] $name max single task: $minRunMaxTaskSec%.2f s")
        }
      try {
        skewRun("d52_skew", Int.MaxValue) // unsalted: the failure mode
        skewRun("d52_skew_salted", saved)
      } finally graft.queries.QueryUtil.hotPrefixBucket = saved
    }

    println("[scale] === results ===")
    println("| query | factor | warm sec | shuffle write MB | spilled MB |")
    println("|---|---|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}

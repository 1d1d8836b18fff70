package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}

import graft.SessionRegistry

private[graft] object QueryUtil {

  /** The memo's lineage barrier (r17, VERDICT r16 item 3). `localCheckpoint`
    * blocks live ONLY on executors: locally invisible, but on a real cluster
    * an executor loss makes the truncated-lineage RDD unrecoverable mid-job
    * (Spark throws — that is localCheckpoint's documented contract). Routing:
    *
    *  - `graft.barrier.mode=reliable` — `Dataset.checkpoint` into the
    *    configured `sc.setCheckpointDir` (HDFS/object store): survives
    *    executor loss; first action pays the extra checkpoint-write pass.
    *  - `graft.barrier.mode=local` — `localCheckpoint(eager = false)`:
    *    cheapest, the r16 planning-cost win, fine where a lost executor only
    *    costs a rerun.
    *  - `auto` (default) — reliable when a checkpoint dir is configured on a
    *    NON-local master, local otherwise: a cluster deployment that sets
    *    `spark.checkpoint.dir` gets fault tolerance without code changes,
    *    and local benches keep the cheap path.
    *
    * Both forms return a LogicalRDD leaf, so the planning-cost truncation
    * (consumers analyze a one-node subtree) is identical; both preserve
    * originStats for broadcast decisions.
    *
    * Neither form is lazy under AQE, despite `eager = false`: building the
    * checkpointed RDD executes the physical plan, and AQE materializes every
    * stage but the last when it does. So the build of a query that makes a
    * barrier runs Spark jobs before any action. First builds at sf0.001
    * (R17OptimizationsSpec's eagerBuild test) ran d51 3 jobs, d52 3, d56 34,
    * d81 7, d82 16, s60 15, s62 32, s68 2, s69 24, s72 25 and s83 2; a
    * second build, with the barrier memoized, runs none. */
  private def barrier(s: SparkSession, df: DataFrame): DataFrame = {
    val reliable = s.conf.getOption("graft.barrier.mode").getOrElse("auto") match {
      case "reliable" => true
      case "local"    => false
      case _ => s.sparkContext.getCheckpointDir.isDefined && !s.sparkContext.isLocal
    }
    if (reliable) {
      require(s.sparkContext.getCheckpointDir.isDefined,
        "graft.barrier.mode=reliable requires sc.setCheckpointDir")
      df.checkpoint(eager = false)
    } else df.localCheckpoint(eager = false)
  }

  /** Memoized persist: one barriered DataFrame per (session, key), returned
    * to every invocation, so repeated runs (bench cold+warm, verify) reuse
    * one entry instead of stacking up orphaned copies. The entries live in
    * [[graft.SessionRegistry]] under `Persisted(key)`, which bounds them per
    * session (LRU) and drops them at application end. Eviction only costs
    * recompute on the next call, never correctness. */
  def persistKeyed(s: SparkSession, key: String, mk: => DataFrame): DataFrame = {
    val k = SessionRegistry.Persisted(key)
    // The build runs OUTSIDE the registry lock: `mk` may itself call
    // persistKeyed on the same session (d56's components builder runs the
    // jaccard pipeline, which memoizes its own intermediates) and may take
    // arbitrarily long. get-then-insert tolerates that nesting; a
    // racing duplicate build is harmless — one copy wins, and the loser is
    // simply DROPPED, not unpersisted: Spark's CacheManager keys cache
    // entries by logical-plan sameResult, so the loser and winner (built
    // from the same `mk` plan) share ONE cache entry, and unpersisting the
    // loser would silently uncache the winner too. LRU eviction is safe
    // because distinct memo keys come from distinct plans.
    val hit = SessionRegistry.get(s, k)
    if (hit != null) hit
    else {
      // r16 (guide §3.3/§7.3: very large plans make PLANNING the
      // bottleneck): lazy localCheckpoint instead of persist() — the
      // memoized frame comes back as a LogicalRDD LEAF, so every consumer
      // query analyzes a one-node subtree instead of re-walking the whole
      // builder DAG on each invocation (d82 alone paid ~1.0 s of Catalyst
      // per run on the old InMemoryRelation path, whose logical plan stays
      // full-sized). Same laziness (computed at first action, once —
      // block-level locking), stats carried over (Dataset.localCheckpoint
      // preserves originStats, so broadcast decisions are unchanged), and
      // the RDD persist is GC-cleaned by the ContextCleaner after memo
      // eviction, which the cc:/scc:/ivf: builders already rely on.
      // r17: routed through `barrier` — reliable checkpoint on clusters
      // that configure a checkpoint dir, localCheckpoint locally.
      val built = barrier(s, mk)
      val (winner, evicted) = SessionRegistry.insert(s, k, built)
      release(s, evicted)
      // a same-plan loser shares the winner's single cache entry and must
      // NOT be unpersisted (see the comment above) — but builders that end
      // in localCheckpoint (cc:/scc:/ivf: keys) yield run-specific
      // LogicalRDD plans, where the loser owns a DISTINCT entry that would
      // otherwise leak (unreachable by the memo and its LRU) for the
      // session's lifetime; sameResult distinguishes the two cases
      if ((winner ne built) &&
          !built.queryExecution.analyzed.sameResult(winner.queryExecution.analyzed))
        built.unpersist()
      winner
    }
  }

  /** Unpersist entries that left the memo. Cross-uncache guard (mirrors the
    * loser path in persistKeyed): CacheManager keys cache entries by
    * logical-plan sameResult, so if a SURVIVING entry's plan sameResults a
    * gone one, unpersisting the gone one would silently uncache the survivor
    * too. Distinct memo keys wrap distinct plans today, but that is a
    * convention of the current callers, not an invariant the map can
    * enforce — guard, don't assume. Survivors are snapshotted only when
    * something left, so the common miss path pays neither lock nor copy. */
  private def release(s: SparkSession, gone: Seq[DataFrame]): Unit =
    if (gone.nonEmpty) {
      val survivors = SessionRegistry.persisted(s)
      gone.foreach { e =>
        if (!survivors.exists(v =>
            v.queryExecution.analyzed.sameResult(e.queryExecution.analyzed)))
          e.unpersist()
      }
    }

  /** Drop and unpersist every memo entry of `s` whose key starts with
    * `prefix` — targeted eviction for measurement harnesses (ScaleProbe's
    * per-pass reset). `catalog.clearCache()` is the wrong tool there: it
    * evicts every OTHER probe's shared memo too, and leaves this map's
    * memoized frames silently UNcached, so a warm pass re-executes shared
    * subtrees twice (heavier than the production plan). Prefix removal
    * means the next pass rebuilds a FRESH entry (new barrier RDD) exactly
    * like a fresh production run.
    *
    * Lifecycle honesty (r16 ADVICE): entries are checkpoint-barriered, so
    * `Dataset.unpersist()` here is a CacheManager no-op for them — the old
    * blocks are freed by GC + ContextCleaner once the removed frames become
    * unreachable, not eagerly. That is deliberate: eagerly destroying a
    * local checkpoint's RDD is data LOSS for any still-live plan that embeds
    * it (a nested persistKeyed consumer whose own barrier has not computed
    * yet would become unrunnable), and measurement passes only need the
    * REBUILD guarantee, not eager block frees. The unpersist in `release`
    * still runs for any legacy CacheManager-persisted entry and is harmless for
    * barrier entries; the sameResult guard protects the former. The
    * registry drops the session's memoized plans with the removed entries,
    * so no cached outer query plan keeps serving a removed entry's stale
    * LogicalRDD as a warm path. */
  def unpersistKeyed(s: SparkSession, prefix: String): Unit =
    release(s, SessionRegistry.removePersisted(s, prefix))

  /** The 30-minute session gap — single definition shared by the batch q45
    * `session_window`, both streaming sessionizers (StreamingOps), and
    * StreamingSpec's convergence math, so a gap change cannot silently
    * desynchronize the stream/batch equivalence proofs (previously four
    * hardcoded copies). The q45 DuckDB oracle string remains a deliberate
    * hand-mirror, like every other oracle. */
  val sessionGapMicros: Long = 30L * 60 * 1000 * 1000

  /** `session_window` duration-string form of [[sessionGapMicros]]. */
  val sessionGapStr: String = s"${sessionGapMicros / 60000000L} minutes"

  /** Target rows per salt bucket for the SSJoin candidate self-join's
    * hot-shingle split (DedupOps.jaccardPairs). A shingle whose document
    * frequency exceeds this is an intra-key cartesian the optimizer cannot
    * parallelize — AQE's skew split keys off INPUT partition bytes (256 MB
    * default), and a 10⁴-doc boilerplate group's prefix entries are only
    * ~KBs of input yet produce ~10⁸ joined rows inside one task. Salting by
    * ceil(df / bucket) spreads that key's output across df/bucket reducers
    * (work is inherently quadratic in group size; the salt buys parallelism,
    * not less work). df ≤ bucket ⇒ one bucket ⇒ plan shape identical to the
    * unsalted join, so the normal-corpus path pays only a constant-width
    * salt column. `var` so ScaleProbe/specs can A/B the unsalted form. */
  private[graft] var hotPrefixBucket: Int = 1024

  /** Word n-grams of a token array as space-joined strings; empty array when
    * fewer than n tokens. Single definition shared by the shingle pipeline
    * (n=3) and the bigram table function (n=2) so the mirrored DuckDB
    * oracles can't drift against two hand-maintained copies. */
  /** Whitespace token count of a text column — single definition for
    * t46/t47/t51 (Spark side); the DuckDB mirror is [[oracleTokenCount]]. */
  def tokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** DuckDB fragment mirroring [[tokenCount]] (INTEGER-width cast is left to
    * the call site). */
  val oracleTokenCount: String = """len(string_split_regex(trim(text), '\s+'))"""

  /** The corpus quality gate (token count / vowel density / length bounds)
    * — single definition shared by t50_quality_filter and the d58 pipeline
    * so the two can't drift; [[oracleQualityPredicate]] is its DuckDB
    * mirror. */
  def qualityKeep(text: Column): Column = {
    val nTok = tokenCount(text)
    val vowelRatio =
      length(regexp_replace(text, "[^aeiou]", "")).cast(DoubleType) / length(text)
    nTok >= 30 && nTok <= 200 && vowelRatio >= 0.27 && length(text) <= 450
  }

  /** The deterministic train/val split rule (id-residue) — single
    * definition shared by d55 (split), d58 (pipeline), and d63 (data
    * card) so the published card cannot drift from the shipped splits;
    * [[oracleSplitCase]] is its DuckDB mirror. */
  def splitAssign(docId: Column): Column =
    when(docId % 10 < 8, "train").otherwise("val")

  /** DuckDB fragment mirroring [[splitAssign]] over `doc_id`. */
  val oracleSplitCase: String =
    "CASE WHEN doc_id % 10 < 8 THEN 'train' ELSE 'val' END"

  /** DuckDB fragment mirroring [[qualityKeep]] over the `text` column. */
  val oracleQualityPredicate: String =
    s"""($oracleTokenCount >= 30 AND $oracleTokenCount <= 200
       |   AND CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
       |     / length(text) >= 0.27
       |   AND length(text) <= 450)""".stripMargin

  /** The Gopher rule battery (Rae et al. 2021 §A1.1 re-expressed on this
    * corpus) — single definition shared by t65_gopher_rules and the d82
    * pipeline gate so the two cannot drift. Returns the named metric and
    * rule columns in t65's output order; [[oracleGopherKeep]] is the
    * conjunction's DuckDB mirror. */
  def gopherCols(text: Column): Seq[(String, Column)] = {
    val toks = split(trim(text), "\\s+")
    val nTok = size(toks)
    val mwl = length(regexp_replace(text, "\\s+", "")).cast(DoubleType) / nTok
    val nStop = size(filter(toks, t =>
      t.isin("the", "a", "is", "on", "fast", "slow")))
    val rWc = nTok >= 20 && nTok <= 80
    val rWl = mwl >= 4.0 && mwl <= 5.0
    val rSt = nStop >= 3
    Seq("n_tok" -> nTok, "mean_wlen" -> mwl, "n_stop" -> nStop,
      "r_wordcount" -> rWc, "r_wordlen" -> rWl, "r_stopwords" -> rSt,
      "keep" -> (rWc && rWl && rSt))
  }

  /** The Gopher gate: conjunction of the three rules. */
  def gopherKeep(text: Column): Column = gopherCols(text).last._2

  /** DuckDB fragment mirroring [[gopherKeep]] over the `text` column. */
  val oracleGopherKeep: String =
    s"""($oracleTokenCount BETWEEN 20 AND 80
       |   AND CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |     / $oracleTokenCount BETWEEN 4.0 AND 5.0
       |   AND len(list_filter(string_split_regex(trim(text), '\\s+'),
       |     x -> x IN ('the','a','is','on','fast','slow'))) >= 3)""".stripMargin

  def wordNgrams(tokens: Column, n: Int): Column =
    if (n == 2)
      // bigram fast path: two O(n) slices + zip_with, instead of an O(n)
      // per-element slice+concat_ws inside transform (allocation per index)
      // — bigrams run over every document in t52/u64
      when(size(tokens) >= 2,
        zip_with(slice(tokens, lit(1), size(tokens) - 1),
          slice(tokens, lit(2), size(tokens) - 1),
          (a, b) => concat_ws(" ", a, b)))
        .otherwise(array().cast(ArrayType(StringType)))
    else
      when(size(tokens) >= n,
        transform(sequence(lit(1), size(tokens) - (n - 1)),
          i => concat_ws(" ", slice(tokens, i, lit(n)))))
        .otherwise(array().cast(ArrayType(StringType)))
}

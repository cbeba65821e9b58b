package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation ([EXT]): the composed pipeline a
  * 100 TB corpus actually runs before pre-training —
  *
  *   quality filter → language filter → exact dedup → near-dup dedup →
  *   deterministic train/test split
  *
  * Each stage is one of the engine's own operators (TextAnalysis, Dedup,
  * Sampling), composed so the whole thing stays a handful of narrow maps
  * plus the two dedup shuffles:
  *  - quality + language filters are codegen'd scan-side predicates
  *    (pushdown-friendly, drop rows before anything shuffles);
  *  - exact dedup shuffles 16-byte digests, keeps the min-id row per
  *    fingerprint;
  *  - near-dup dedup uses MinHash+LSH candidates (never all-pairs) and
  *    drops the higher id of each verified pair;
  *  - the split is key-hash based, so reruns reproduce it exactly.
  */
object Curation {

  final case class Config(
      minTokens: Int = 30,
      maxStopRatio: Double = 0.6,
      langs: Seq[String] = Seq("en"),
      nearDupThreshold: Double = 0.8,
      testFraction: Double = 0.1,
      // 1.0 disables the gate (any ratio passes); Gopher-style pipelines
      // run ~0.2-0.5 to drop boilerplate/loop-generated text
      maxDupShingleRatio: Double = 1.0,
      // false = pair-greedy near-dup drop (higher id of each verified pair);
      // true = transitive: ONE keeper per connected near-dup cluster
      transitiveNearDups: Boolean = false,
      // Some(sep) rewrites textCol through TextAnalysis.dedupLines BEFORE
      // the quality gate (intra-doc repetition removal: token counts and
      // repetition ratios then score the cleaned page, not the boilerplate)
      dedupLinesSep: Option[String] = None,
      // non-empty = drop documents whose blocklisted-token fraction
      // exceeds maxBlockFrac (the Redaction.blocklistScreen gate, fused
      // into the same narrow predicate so batch and streaming ingest
      // cannot drift); entries are lowercased, empty strings dropped
      blocklist: Seq[String] = Nil,
      maxBlockFrac: Double = 0.1,
      // true = apply the C4 cleaning rules (TextAnalysis.c4Filters):
      // the page gate joins the quality predicate (evaluated on the
      // INCOMING text, so a brace on a to-be-dropped line still fails
      // the page, matching the batch audit) and surviving documents'
      // text is REWRITTEN to the retained lines before fingerprinting —
      // gate first, rewrite second, in both batch curate and the
      // streaming ingest
      c4: Boolean = false)

  /** Eval-side leakage report: for each eval row, how many train docs
    * share at least one `shingleN`-gram with it and how many distinct
    * shingles leak — the audit a decontamination run publishes (the
    * per-TRAIN-doc view is [[decontaminate]]). Same scale shape: the
    * eval side is size-gated and broadcast; the train side explodes once
    * and the broadcast join discards non-matching shingles in-task, so
    * the only exchange is the final per-eval-row aggregation.
    */
  def contaminationReport(
      docs: DataFrame,
      evalSet: DataFrame,
      textCol: String,
      idCol: String,
      evalIdCol: String,
      shingleN: Int = 3,
      maxEvalShingles: Long = 50000000L): DataFrame = {
    Similarity.requireBroadcastable(evalSet, 1000000L,
      "contamination-report eval set", "chunked report calls")
    def sh(c: Column) =
      TextAnalysis.shingles(TextAnalysis.tokens(c), shingleN)
    // what is BROADCAST is the exploded shingle set, not eval rows — the
    // row gate above alone cannot prevent the driver OOM it exists for
    // (round-9 review finding: 1M small docs pass it yet explode to
    // ~500M shingle rows). One tiny eval-side agg bounds the real thing;
    // ~50M rows ≈ 1.5 GB broadcast, the same bar as curate's guard.
    val nShingles = evalSet
      .agg(coalesce(sum(size(array_distinct(sh(col(textCol))))), lit(0L)))
      .head().getLong(0)
    require(nShingles <= maxEvalShingles,
      s"contamination-report eval set explodes to $nShingles shingle " +
        s"rows (> $maxEvalShingles) — the report broadcasts them all; " +
        "chunk the eval set")
    val esh = evalSet.select(col(evalIdCol).as("__eid"),
      explode(array_distinct(sh(col(textCol)))).as("__g"))
    val tsh = docs.select(col(idCol).as("__tid"),
      explode(array_distinct(sh(col(textCol)))).as("__g"))
    tsh.join(broadcast(esh), "__g")
      .groupBy(col("__eid"))
      .agg(count_distinct(col("__tid")).as("n_train_docs"),
        count_distinct(col("__g")).as("n_shared_shingles"))
      .select(col("__eid").as(evalIdCol), col("n_train_docs"),
        col("n_shared_shingles"))
  }

  /** The quality/language gate as a single Column predicate — shared by
    * the batch `qualityFilter` and the streaming `ingestCuration` so the
    * two curation surfaces cannot drift. Conjuncts whose threshold cannot
    * reject anything are omitted entirely: `ratio <= 1.0` is always true
    * (both ratios are bounded by 1) but Catalyst cannot fold it away, and
    * the repetition conjunct would cost a full shingle build per
    * document.
    */
  def qualityPredicate(textCol: String, langCol: String,
      cfg: Config): org.apache.spark.sql.Column =
    qualityPredicateOnTokens(
      TextAnalysis.tokens(col(textCol)), textCol, langCol, cfg)

  /** [[qualityPredicate]] over an already-materialized token column —
    * for pipelines (curate's base pass) that compute the token array
    * once and reuse it for shingling: Catalyst's subexpression
    * elimination does not span the filter/project boundary, so without
    * this the gate and the shingle projection each tokenize every
    * document.
    */
  def qualityPredicateOnTokens(toks: org.apache.spark.sql.Column,
      textCol: String, langCol: String,
      cfg: Config): org.apache.spark.sql.Column = {
    val conjuncts = Seq(
      Some(col(langCol).isin(cfg.langs: _*)),
      Some(size(toks) >= cfg.minTokens),
      Option.when(cfg.maxStopRatio < 1.0)(
        TextAnalysis.stopwordRatio(toks) <= cfg.maxStopRatio),
      Option.when(cfg.maxDupShingleRatio < 1.0)(
        TextAnalysis.dupShingleRatio(toks) <= cfg.maxDupShingleRatio),
      Option.when(cfg.c4)(TextAnalysis.c4PagePass(col(textCol))),
      Option.when(cfg.blocklist.exists(_.nonEmpty)) {
        // same literal-map kernel as Redaction.blocklistScreen: O(1)
        // probe per token, stays a narrow codegen conjunct. minTokens
        // >= 1 in any realistic config makes the 0-token division moot,
        // but guard it anyway (0/0 would be null and null && x = null
        // drops rows the other conjuncts accepted)
        val table = graft.plans.ScoreTable.serialize(
          cfg.blocklist.map(_.toLowerCase).filter(_.nonEmpty).distinct
            .map(_ -> 1.0), default = 0.0)
        val frac = when(size(toks) === 0, lit(0.0)).otherwise(
          call_function("graft_map_sum", toks, lit(table)) / size(toks))
        frac <= cfg.maxBlockFrac
      })
    conjuncts.flatten.reduce(_ && _)
  }

  /** Quality + language gate (pure narrow predicate). */
  def qualityFilter(docs: DataFrame, textCol: String, langCol: String,
      cfg: Config): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    docs.filter(qualityPredicate(textCol, langCol, cfg))
  }

  /** Exact dedup keeping the lowest-id row per content fingerprint, as a
    * single `min_by(struct(row), id)` aggregation ([[Dedup.keeperRows]])
    * rather than a row_number window: one scan, one shuffle on the
    * fingerprint, no sort — the window shape shuffles the same full rows
    * and then sorts every partition by (fp, id), and a keeper-join shape
    * scans the input twice. Duplicate groups collapse map-side (partial
    * min_by keeps one row per fingerprint per task), so skewed duplicate
    * classes never concentrate rows on one reducer. Output columns keep
    * the input's order; dotted names (`meta.src`) pass through.
    */
  def dropExactDups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.keeperRows(
      docs.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))), idCol)
      .drop("__fp")

  /** Near-dup removal: LSH candidates verified by n-gram Jaccard; the
    * HIGHER id of each pair ≥ threshold is dropped (anti join on the id).
    */
  def dropNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val losers = Dedup.nearDupPairs(docs, textCol, idCol, threshold,
      SketchHash.XxHash64)
      .select(col("id_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Transitive near-dup removal: keep exactly the MIN-id document of each
    * connected cluster of verified pairs ([[Dedup.nearDupClusters]]). The
    * pair-greedy [[dropNearDups]] above keeps every doc that is not the
    * higher side of some pair — a maximal mutually-dissimilar set, which can
    * retain several members of one transitive cluster (edges (1,9),(5,9)
    * keep both 1 and 5). Large-corpus pipelines typically want this
    * one-per-cluster posture; both always keep the cluster minimum, so the
    * two only differ on clusters that are not cliques.
    */
  def dropNearDupClusters(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double): DataFrame = {
    val losers = Dedup.nearDupClusters(docs, textCol, idCol, threshold,
      SketchHash.XxHash64)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dropNearDupClusters]] with a quality-aware keeper: within each
    * near-dup cluster the surviving copy is the argmax of `qualityCol`
    * (ascending-id tie-break) via [[Dedup.canonicalPerCluster]], not the
    * cluster representative id. Docs outside any cluster pass through
    * untouched. The cluster frame is computed once and feeds both the
    * keeper argmax and the loser anti-join.
    */
  def dropNearDupClustersKeepBest(docs: DataFrame, textCol: String,
      idCol: String, threshold: Double, qualityCol: String): DataFrame = {
    val clusters = Dedup.nearDupClusters(docs, textCol, idCol, threshold,
      SketchHash.XxHash64)
    val keepers = Dedup.canonicalPerCluster(clusters, docs, idCol,
      qualityCol).select(col("keeper_id").as("id"))
    val losers = clusters.join(keepers, Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Eval-set decontamination: flag train documents sharing any n-gram
    * shingle with an evaluation set — the standard pre-training hygiene
    * pass that keeps benchmark text out of the corpus.
    *
    * Scale design (train = the 100 TB side, eval = benchmarks, tiny):
    * neither stage shuffles the train side.
    *  1. Bloom prefilter, SIZE-ADAPTIVE: the distinct eval shingle
    *     hashes fold into one Bloom filter (one small agg job over eval,
    *     which also yields the distinct count), inlined as a binary
    *     literal. The per-shingle probe filter is applied ONLY when the
    *     eval shingle set is large (> ~2M entries): under the broadcast
    *     exact verify both the Bloom probe and the join probe are
    *     in-task hash lookups per exploded row, so for a
    *     benchmark-sized eval set the Bloom pass is redundant CPU
    *     (measured ~2× the subtree cost at sf0.1) — it pays only when
    *     the broadcast relation is cache-hostile (hundreds of MB) and
    *     the 8 MB cache-resident filter screens the ~all-miss stream.
    *     When applied, it is a TOP-LEVEL codegen'd `might_contain`
    *     filter — never inside an `exists(...)` lambda, which runs the
    *     probe in the INTERPRETED higher-order-function path
    *     (~25µs/probe vs nanoseconds, 30× slower end-to-end).
    *  2. Exact verify: surviving shingle rows broadcast-hash-join the
    *     eval shingle set, so Bloom false positives cost wasted verify
    *     work, never a wrong row; the only exchange is the final per-doc
    *     count over shared-shingle rows.
    *
    * Returns (idCol, n_shared) for contaminated train docs only.
    *
    * Cache lifecycle: the eval shingle frame is materialized as an eager
    * `localCheckpoint`, so its blocks are RDD checkpoint blocks — NOT
    * catalog cache entries; `spark.catalog.clearCache()` does not free
    * them. They are released by the ContextCleaner once the returned plan
    * (which holds the only reference to the checkpointed RDD) becomes
    * unreachable and is GC'd. Long-running sessions should simply drop
    * their reference to the returned DataFrame when done with it.
    */
  def decontaminate(
      train: DataFrame,
      eval: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1000000L,
      maxEvalRows: Long = 10000000L): DataFrame = {
    graft.plans.GraftFunctions.register(train.sparkSession)
    graft.plans.GraftFunctions.register(eval.sparkSession)
    // the eval side is assumed benchmark-sized: its distinct shingles are
    // both collected into one Bloom filter AND broadcast for the exact
    // verify. A caller passing a corpus-sized frame here would OOM the
    // driver late — fail fast with a bounded probe instead (the probe
    // scans at most maxEvalRows+1 rows, never the table).
    Similarity.requireBroadcastable(eval, maxEvalRows,
      s"decontaminate eval set ($textCol)",
      "swapping the sides (treat the smaller set as eval) or a shuffle " +
        "join over pre-computed shingle tables")
    def sh(c: Column) = TextAnalysis.shingles(TextAnalysis.tokens(c), shingleN)
    // eagerly checkpointed: the Bloom build below and the exact-verify
    // broadcast both reuse it (without materialization the eval-side
    // tokenize/shingle/distinct pipeline would run twice), and over
    // checkpoint blocks AQE coalesces the frame before the Bloom agg —
    // a lazy persist kept the distinct's full shuffle-partition count
    // alive into the agg, allocating and shuffling one numBits/8-byte
    // partial Bloom buffer PER PARTITION (measured on curate's inlined
    // twin: ~0.3 s of its eval agg was exactly this)
    val evalShingles = Similarity.spreadIfNarrow(eval)
      .select(explode(sh(col(textCol))).as("sh")).distinct()
      .localCheckpoint()
    val guard = evalShingles
      .select(xxhash64(col("sh")).as("__h"))
      .agg(expr(s"graft_bloom_agg(__h, ${expectedItems}L, ${numBits}L)")
        .as("__bf"), count(lit(1)).as("__n"))
      .head()
    val bfBytes: Array[Byte] = guard.getAs[Array[Byte]]("__bf")
    if (bfBytes == null) {
      // empty eval set: nothing can be contaminated
      return train.select(col(idCol), lit(0L).as("n_shared")).limit(0)
    }
    // the broadcast carries DISTINCT SHINGLES, not eval rows; the row
    // probe above fails fast on corpus-sized frames, and this bounds
    // what is actually broadcast (the count was already computed by the
    // Bloom agg — round-9 review finding: it was measured but never
    // checked, while curate enforced exactly this bound)
    require(guard.getLong(1) <= MaxEvalShingles,
      s"decontaminate eval set explodes to ${guard.getLong(1)} distinct " +
        s"shingles (> $MaxEvalShingles) — the exact verify broadcasts " +
        "this side entirely; decontaminate in chunks")
    val bloomPays = guard.getLong(1) > BloomWorthwhileEvalShingles
    // spread BEFORE the heavy projection: a single-file batch scan would
    // otherwise shingle every document in ONE task
    val trainShingles = Similarity.spreadIfNarrow(train)
      .select(col(idCol),
        explode(array_distinct(sh(col(textCol)))).as("sh"))
    (if (bloomPays)
      trainShingles.filter(call_function("graft_might_contain",
        lit(bfBytes), xxhash64(col("sh"))))
    else trainShingles)
      .join(broadcast(evalShingles), "sh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Distinct-eval-shingle count above which [[decontaminate]]'s
    * per-shingle Bloom prefilter pays: below it the broadcast hash
    * relation is cache-friendly and the Bloom pass is redundant probe
    * work; above it (~100+ MB relation) the cache-resident filter
    * screens the miss stream cheaper than the relation can.
    */
  private val BloomWorthwhileEvalShingles = 2000000L

  /** Full pipeline → (train, test): quality → eval-set decontamination
    * (when an eval set is supplied) → exact dedup → near-dup dedup →
    * deterministic split.
    *
    * PRECONDITION: `idCol` must be unique across `docs` (ADVICE r11).
    * Keeper resolution is id-keyed — the survivor-ID set joins back to
    * base rows by id — so a duplicated id makes "which copy survives"
    * ill-defined: a non-keeper row sharing an id with a keeper of a
    * DIFFERENT fingerprint would be resurrected, and duplicate survivor
    * ids would multiply matched rows. The reference corpus guarantees
    * unique record ids (each DPLA item id appears once per snapshot), as
    * do all fixture tables; callers feeding synthetic frames must dedup
    * ids first (`dropExactDups` on the id itself, or monotonically minted
    * ids). Semantics are stage-identical to composing
    * [[qualityFilter]] → [[decontaminate]]-drop → [[dropExactDups]] →
    * [[dropNearDups]]/[[dropNearDupClusters]] → trainTestSplit (the
    * q_curate_full oracle replays exactly that composition in SQL), but
    * the physical pipeline is FUSED (the round-5 verdict's finding: the
    * layered composition ran 28 jobs at sf0.1, most of them re-running
    * the gate/shingle compute per consumer). Round-13 shape (verdict r12
    * item 1 — one more action-floor cut):
    *  - ONE materialization carries gate + shingles + fingerprint AND the
    *    exact dedup: `groupBy(fp).min_by(full row, id)` rides the same
    *    action, so the round-5..12 full-row base checkpoint and the
    *    narrow keeper checkpoint MERGE into one keeper-row checkpoint.
    *    This is sound because exact dedup COMMUTES with decontamination:
    *    identical fingerprints imply identical normalized text, hence
    *    identical shingle sets, so a fingerprint class is contaminated as
    *    a whole or not at all — removing whole classes never changes the
    *    min-id keeper of a surviving class. The keeper pass has NO data
    *    dependency on the eval Bloom, so it fully overlaps the eval job
    *    (the old base checkpoint's overlap, kept);
    *  - the eval Bloom build and the broadcast-side size guard ride ONE
    *    aggregate over the eval shingle set (the standalone
    *    [[decontaminate]] keeps its fail-fast row probe; here the guard
    *    bounds what is actually broadcast — distinct eval shingles —
    *    and fails after one bounded pass instead of before);
    *  - decontamination applies LAZILY to the keeper frame feeding the
    *    LSH SIGNATURE pass only — the jaccard verify sides join pair ids
    *    back to raw keeper blocks, correct because a pair's both ends
    *    come from the decontaminated signature input by construction;
    *  - the only other materialization is the tiny survivor ID set
    *    (exact keepers minus contaminated minus near-dup losers); the
    *    returned halves join keeper blocks against it lazily.
    * localCheckpoint storage: one keeper-row frame (≤ the old base frame:
    * duplicates already collapsed) plus the survivor-id frame.
    * Actions: eval ∥ keepers, survivors, caller's terminal action — one
    * fewer materialization than round 12 (measured at sf0.1: 16 → 12
    * jobs, 1.82 → 1.4 s same-sitting).
    *
    * At 100 TB: the fp exchange now carries keeper FULL rows once
    * (min_by partial-aggregates map-side, so duplicate classes collapse
    * before the wire) — the same single full-row exchange any exact
    * dedup pays at least once; the old shape paid it as a full-row
    * checkpoint WRITE plus a narrow exchange instead. Everything else
    * (banded LSH, capped buckets, broadcast-bounded eval set, star-loop
    * CC) is unchanged.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, cfg: Config = Config(),
      evalSet: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    val flagged = curateFlagged(docs, idCol, textCol, langCol, cfg, evalSet)
    (flagged.filter(!col("__is_test")).drop("__is_test"),
      flagged.filter(col("__is_test")).drop("__is_test"))
  }

  /** [[curate]] as ONE frame with a `__is_test` flag column instead of two
    * filtered halves. The two-frame API filters this; single-action
    * consumers (q_curate_full aggregates train ∪ test) should use this
    * directly — the union of the two filtered halves duplicates the
    * survivor-join subtree in the final plan (two copies of the join +
    * union), where the flagged frame carries it once.
    */
  def curateFlagged(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, cfg: Config = Config(),
      evalSet: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    graft.plans.GraftFunctions.register(spark)
    // spread decision up front, off the raw input: a narrow single-file
    // scan must fan out BEFORE the shingle/fingerprint pass below
    val par = spark.sparkContext.defaultParallelism
    val spreadNeeded = docs.rdd.getNumPartitions < par
    val cleanedText = cfg.dedupLinesSep match {
      case Some(sep) => docs.withColumn(textCol,
        TextAnalysis.dedupLines(col(textCol), sep))
      case None => docs
    }
    // spread BEFORE the gate, tokenize ONCE: the token array feeds the
    // gate predicate AND (c4 off) the shingle projection — without the
    // materialized __tk the gate and the shingle pass each tokenize
    // every document (subexpression elimination does not span the
    // filter/project boundary), and the gate's tokenize ran in the
    // UNSPREAD scan task. The lang conjunct still reaches the parquet
    // scan (it references only source columns, so it pushes below the
    // __tk project and the repartition).
    val spread0 =
      if (spreadNeeded) cleanedText.repartition(par) else cleanedText
    val withTk = spread0
      .withColumn("__tk", TextAnalysis.tokens(col(textCol)))
    val quality = withTk.filter(
      qualityPredicateOnTokens(col("__tk"), textCol, langCol, cfg))
    // The merged keeper pass (round 13): gate + shingles + fingerprint +
    // exact dedup in ONE action, materialized once. C4 rewrite AFTER the
    // gate (the page gate must see the raw page); fingerprints/shingles
    // then dedup the RETAINED content, so under c4 the shingles must
    // re-tokenize the rewritten text — only the c4-off path reuses __tk.
    // The keeper is [[Dedup.keeperRows]] (min_by(full-row struct, id)):
    // deterministic because idCol is unique (precondition above),
    // partial-aggregable so duplicate classes collapse map-side before
    // the exchange, and it quotes every column, so dotted names pass.
    val shingled = (if (cfg.c4)
        quality.withColumn(textCol, TextAnalysis.c4CleanLines(col(textCol)))
          .withColumn("__sh",
            TextAnalysis.shingles(TextAnalysis.tokens(col(textCol))))
      else quality.withColumn("__sh", TextAnalysis.shingles(col("__tk"))))
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .drop("__tk")
    // The eval job runs BESIDE the keeper checkpoint: the eval-side Bloom
    // agg reads only the eval set, so the two jobs overlap on the cluster
    // instead of running back to back (measured ~0.4 s off the sf0.1
    // wall clock). [[graft.Concurrent.both]] returns only once both have
    // finished, so a failing keeper pass never leaves the eval job
    // running against the caller's session. ONE eval-side job (round 12,
    // verdict r11 item 1 — cut the action floor): the Bloom filter and
    // the broadcast-size guard ride the shingle-set checkpoint as observe
    // metrics instead of a second standalone agg action over the
    // checkpointed blocks (the DeltaCurate diff-count pattern). The
    // exact-verify broadcast below reads the same blocks. The eager
    // checkpoint itself stays: a lazy persist kept the distinct's 32
    // shuffle partitions alive into downstream consumers, and the r11
    // A/B (coalesce(1) agg + recomputed broadcast subtree) measured
    // 1.9-2.4 s vs 1.7-2.3 s — no gain, worse eval-reuse posture.
    val (keepers, evalGuard) = graft.Concurrent.both(
      Dedup.keeperRows(shingled, idCol).drop("__fp").localCheckpoint(),
      evalSet.map { ev =>
        val obs = org.apache.spark.sql.Observation()
        val evalShingles = Similarity.spreadIfNarrow(ev)
          .select(explode(
            TextAnalysis.shingles(TextAnalysis.tokens(col(textCol))))
            .as("sh"))
          .distinct()
          .observe(obs,
            expr(s"graft_bloom_agg(xxhash64(sh), 1000000L, " +
              s"${8L * 1000000L}L)").as("__bf"),
            count(lit(1)).as("__n"))
          .localCheckpoint()
        // the checkpoint action has run, so the metrics are in. A MISSING
        // key means an empty-relation rewrite cut the CollectMetrics node
        // out of the executed plan — possible ONLY when the eval shingle
        // set is genuinely empty, which is exactly the nothing-to-verify
        // case the null-Bloom branch below already handles; an empty map
        // here is therefore a correct "empty eval", never a silent wrong
        // default (contrast DeltaCurate, where a missing removed-count
        // must fail).
        val m = obs.get
        (evalShingles,
          m.get("__bf").orNull.asInstanceOf[Array[Byte]],
          m.get("__n").map(_.asInstanceOf[Long]).getOrElse(0L))
      })
    // Decontamination applies lazily to the LSH signature input below —
    // sound ordering per the scaladoc (exact dedup commutes with
    // decontamination), and the verify joins may read RAW keeper blocks
    // because every candidate pair's ids come from decontaminated
    // signatures by construction.
    val deconKeepers = evalGuard match {
      case Some((evalShingles, bf, nEvalShingles)) =>
        require(nEvalShingles <= MaxEvalShingles,
          s"curate eval set explodes to $nEvalShingles distinct " +
            s"shingles (> $MaxEvalShingles) — the exact verify broadcasts " +
            "this side entirely; decontaminate in chunks or pre-filter " +
            "the eval set")
        if (bf == null) keepers // empty eval set: nothing can be contaminated
        else {
          // two stages: a DOCUMENT-level codegen Bloom scan
          // (graft_bloom_any) drops docs with no eval-shared shingle
          // before anything explodes (on a real sparse-overlap corpus
          // that is almost every document; on the templated fixture,
          // few — but the scan early-exits at the first hit, so dense
          // overlap costs little), then survivors' shingles exact-verify
          // directly against the BROADCAST eval set. No per-shingle
          // Bloom re-probe and no array_distinct: under a broadcast
          // hash join a Bloom prefilter is redundant CPU (both are
          // in-task hash probes per row and the join decides exactly —
          // measured 1.18 s → 0.52 s for this subtree at sf0.1), and
          // duplicate in-doc shingles collapse in the final id-distinct
          // anyway. The standalone decontaminate() KEEPS its per-shingle
          // Bloom: there the eval set may be near the broadcast bound
          // (~GB relation, cache-hostile probes) where the 8 MB
          // cache-resident filter pays; here the guard already bounded
          // what is broadcast. The shingle array comes from the
          // checkpoint, not a fresh compute.
          // the 8M-bit filter is sized for ~1-2M shingles; beyond
          // that its false-positive rate approaches 1 and the doc-level
          // probe would pass essentially everything — pure wasted CPU
          // (round-9 review finding: the guard admits up to 50M shingles
          // but the filter size was fixed). The exact broadcast verify
          // below is correct either way; past capacity we just skip the
          // saturated prefilter.
          // the graft_bloom_any BUILDER rewrites this lit into a
          // BinaryBlob: the 1 MB filter as a resolved-plan Literal pays a
          // full-array hash/equality walk on every plan canonicalization,
          // and AQE canonicalizes per stage submission (measured inside
          // q_curate_full's 0.6 s plan-time gap)
          val probed =
            if (nEvalShingles <= CurateBloomCapacity)
              keepers.filter(
                call_function("graft_bloom_any", lit(bf), col("__sh")))
            else keepers
          val contaminated = probed
            .select(col(idCol), explode(col("__sh")).as("sh"))
            .join(broadcast(evalShingles), "sh")
            .select(col(idCol)).distinct()
          keepers.join(contaminated, Seq(idCol), "left_anti")
        }
      case None => keepers
    }
    // dedupPairs = false on the transitive path: CC's own edge
    // canonicalization distinct subsumes the cross-band pair distinct, so
    // the pair-level exchange buys nothing here; the ≤bands-way duplicate
    // verify probes are broadcast-join lookups. The pair-greedy path keeps
    // the dedup — `losers = id_b` feeds a left_anti, which also ignores
    // duplicates, so both branches are decision-identical either way.
    // spreadBeforeExpand = false too: keeper shingle buckets are sparse
    // (the cap and the class-collapse upstream bound them), the verified
    // pair set is a few hundred rows, and the spread exchange costs a
    // stage + an AQE re-optimization round per run
    val pairs = Dedup.nearDupPairsFromShingled(
      deconKeepers.select(col(idCol), col("__sh").as("sh")), idCol,
      cfg.nearDupThreshold, SketchHash.XxHash64,
      verifySide = Some(keepers.select(col(idCol), col("__sh").as("sh"))),
      dedupPairs = false, spreadBeforeExpand = false)
    val losers =
      if (cfg.transitiveNearDups)
        ConnectedComponents.run(pairs, "id_a", "id_b")
          .filter(col("id") =!= col("component"))
          .select(col("id").as(idCol))
      // no .distinct(): left_anti ignores duplicate right rows, so the
      // dedup exchange would be a pure extra stage
      else pairs.select(col("id_b").as(idCol))
    // The second materialization is the SURVIVOR ID SET (decontaminated
    // exact keepers minus near-dup losers) — a tiny ids-only frame. The
    // returned frame joins keeper blocks against it lazily: at fixture
    // scale AQE broadcasts the id set (zero exchanges on the row side),
    // at 100 TB it degenerates to one shuffle join on the id — the same
    // single full-row exchange the old window shape paid, just moved
    // after the filters.
    // relies on the idCol-uniqueness precondition (scaladoc): keepers has
    // one row per fingerprint, so survivor ids are distinct iff ids are —
    // no defensive .distinct() exchange on the hot path.
    // NO checkpoint here any more (round 13): the r12 A/B kept this
    // materialization because the split-halves union re-ran the ENTIRE
    // LSH pipeline behind `losers` per half. Both reasons are gone —
    // curateFlagged's single frame carries the survivor join ONCE, and
    // `losers` now ends at ConnectedComponents' own materialization (the
    // edge checkpoint + driver closure on the fast path, per-round
    // checkpoints on the star path), so everything upstream of this
    // anti-join is blocks or a driver-local relation and re-running the
    // lazy chain per consumer costs broadcast-probe work only.
    val survivorIds = deconKeepers.select(col(idCol))
      .join(losers, Seq(idCol), "left_anti")
    val cleaned = keepers.join(survivorIds, Seq(idCol))
      .drop("__sh", "__fp")
    cleaned.withColumn("__is_test",
      Sampling.testFlag(col(idCol), cfg.testFraction))
  }

  /** Distinct-eval-shingle count past which [[curate]]'s fixed-size
    * (8M-bit) document-level Bloom prefilter is saturated (fpp → 1) and
    * is skipped rather than paid for nothing.
    */
  private val CurateBloomCapacity = 2000000L

  /** Broadcast-side bound for [[curate]]'s inlined decontamination: the
    * exact verify broadcasts the DISTINCT eval shingle set, so the guard
    * bounds that (≈50M shingles ≈ 1.5 GB broadcast), not eval row count.
    */
  private val MaxEvalShingles = 50000000L
}

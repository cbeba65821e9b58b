package graft.processes

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, SketchHash, SnapshotDiff,
  TextAnalysis}

/** Incremental snapshot curation ([EXT]) — the monthly-delta shape: when a
  * new corpus snapshot lands, do NOT re-curate the world; diff it against
  * the previous snapshot, push only the added/changed documents through
  * the quality gate, and dedup them against the PERSISTED fingerprint and
  * signature indexes that earlier increments built.
  *
  * At 100 TB this is the difference between a petabyte job and a job
  * proportional to the month's churn: the diff exchanges (id, digest)
  * pairs only, the index joins are one-sided (history is bucketed and
  * never moves — the same layout contract as
  * [[graft.operators.Dedup.incrementalExact]] /
  * [[graft.operators.Dedup.incrementalNearDupMd5]]), and the quality
  * gate is a narrow predicate over just the delta.
  *
  * Job-count shape (the round-5 verdict's finding): the diff counts and
  * the gated count ride the survivor computation as `observe` metrics —
  * they cost zero extra actions — and the exact + near-dup index steps
  * are FUSED over one materialized base frame, so a whole increment runs
  * exactly four jobs: (1) checkpoint the gated delta with its exact
  * fingerprint and MinHash signature computed in the same pass, (2)
  * checkpoint the dedup verdicts (in-increment keeper self-join + both
  * one-sided index joins, with near-dup drops FLAGGED rather than
  * filtered so both appends read the same blocks), (3) append new
  * fingerprints, (4) append surviving signatures — 3 and 4 on
  * concurrent action threads (different tables, same source blocks).
  * The sequential composition of the two public incremental operators
  * costs seven.
  *
  * Changed documents re-enter curation under their (unchanged) ids; their
  * superseded fingerprints/signatures remain in the index, which gives
  * the conservative dedup semantics on purpose: a COSMETIC edit (near-dup
  * of the document's own previous version) is suppressed — the corpus
  * keeps the prior version — while a material rewrite passes. Compaction
  * of dead fingerprints is a maintenance task, not a correctness one.
  */
object DeltaCurate {

  final case class Result(
      added: Long,
      changed: Long,
      removed: Long,
      gated: Long,
      survivors: DataFrame)

  /** Curate the delta between `prevSnap` and `newSnap` against the
    * persisted `fpIndexTable` / `sigIndexTable` (bootstrapped on first
    * use). Returns counts plus the surviving, deduped delta documents.
    *
    * Semantics are IDENTICAL to `incrementalExact` then
    * `incrementalNearDupMd5` run in sequence (the q_delta_curate oracle
    * replays both stages in SQL): the min-id copy of each fingerprint new
    * to the exact index survives exact dedup, ALL exact survivors'
    * fingerprints enter the exact index (including rows the near-dup
    * stage then drops — matching the sequential composition), near-dup
    * drops any document whose estimated Jaccard against an indexed
    * signature reaches `cfg.nearDupThreshold`, and only near-dup
    * survivors' band rows enter the signature index. Documents with no
    * shingles have null band keys: never candidates, never indexed.
    *
    * Concurrency contract (single writer): `run` briefly mutates the
    * SESSION-global `spark.sql.adaptive.optimizer.excludedRules` conf
    * around the base-checkpoint action (see the comment at the mutation
    * site) and restores it in `finally`. A caller must not run concurrent
    * actions on the SAME session while `run` is executing — they would
    * plan under the exclusion (harmless today: the excluded rule only
    * prunes degenerate empty-relation plans, so the worst case is a
    * missed no-op optimization, never a wrong result), and a JVM death
    * inside the window leaves the conf set for nobody (a fresh session
    * starts clean). `run`'s OWN concurrent action threads (the two
    * bucketed index appends) are spawned after the `finally` restores the
    * conf, so the contract binds external callers only. Callers needing
    * concurrent foreign actions should give `run` a dedicated session
    * (`spark.newSession()` shares the context and catalog but isolates
    * the conf).
    */
  def run(
      prevSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      cfg: Curation.Config = Curation.Config(),
      fpIndexTable: String = "graft_fp_index",
      sigIndexTable: String = "graft_sig_index",
      buckets: Int = 64,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 1000): Result = {
    require(buckets > 0 && maxBucket > 0, "buckets/maxBucket must be positive")
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(cfg.nearDupThreshold > 0.0 && cfg.nearDupThreshold <= 1.0,
      s"nearDupThreshold=${cfg.nearDupThreshold} must be in (0, 1] " +
        "(incrementalNearDupMd5 parity: <=0 would drop every candidate)")
    val reserved = Seq("__fp", "__sig", "__bk", "__sh", "__keep", "__nd")
    require(!newSnap.columns.exists(reserved.contains),
      s"input must not already contain ${reserved.mkString("/")} columns")
    val spark = newSnap.sparkSession
    // Spread decision BEFORE any observe node exists: an `.rdd` partition
    // probe over a plan containing a CollectMetrics node latches that
    // node's Observation at zero (the probe's execution-end event carries
    // the never-run accumulator), so Similarity.spreadIfNarrow must not
    // touch the observed frame. The new snapshot's scan partitioning is
    // the right proxy: when the delta semi-join broadcasts the (small) id
    // side, the gated frame inherits exactly this partitioning; when it
    // shuffles instead, the output is already at shuffle parallelism.
    val par = spark.sparkContext.defaultParallelism
    val spreadNeeded = newSnap.rdd.getNumPartitions < par
    // Diff counts and the gated count are observe metrics: they are
    // aggregated by the SAME job that materializes the base frame below,
    // not by standalone count() actions. (Catalyst does not push the
    // added/changed filter through a CollectMetrics node, so `removed`
    // rows are still counted; DeltaCurateSpec pins that.)
    val statusObs = Observation()
    val gatedObs = Observation()
    // Bootstrap fast path (round 12): a STATICALLY-empty previous
    // snapshot (the limit(0) bootstrap idiom) makes every new row an
    // "added" by definition, so the full-outer fingerprint diff — which
    // would otherwise run for REAL against the empty side, because
    // AQEPropagateEmptyRelation is excluded around this action to
    // protect the observe metrics — is skipped entirely and the status
    // counts ride the new snapshot directly (changed/removed are
    // identically zero). Decision-identical: diff against an empty side
    // labels every row "added", and the added count is the new-snapshot
    // row count either way. Runtime-empty (but not statically-empty)
    // prev snapshots still take the diff; only the provable case skips.
    val bootstrapEmpty = prevSnap.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    // the delta: documents the previous snapshot did not have in this form
    val delta0 =
      if (bootstrapEmpty)
        newSnap.observe(statusObs,
          count(lit(1)).as("added"),
          count(when(lit(false), 1)).as("changed"),
          count(when(lit(false), 1)).as("removed"))
      else {
        val statuses = SnapshotDiff.diff(prevSnap, newSnap, idCol, textCol)
          .observe(statusObs,
            count(when(col("status") === "added", 1)).as("added"),
            count(when(col("status") === "changed", 1)).as("changed"),
            count(when(col("status") === "removed", 1)).as("removed"))
        newSnap.join(
          statuses.filter(col("status").isin("added", "changed"))
            .select(col(idCol)),
          Seq(idCol), "left_semi")
      }
    // the SAME text-rewrite order as batch curate and streaming ingest
    // (round-9 review finding: run previously ignored cfg.dedupLinesSep
    // and cfg.c4, so the same Config produced divergent fingerprints —
    // and therefore divergent dedup decisions — across the three
    // surfaces): intra-doc line dedup BEFORE the gate, the C4 page gate
    // inside qualityFilter against the raw page, survivors rewritten to
    // their retained lines BEFORE fingerprinting.
    val delta = cfg.dedupLinesSep match {
      case Some(sep) => delta0.withColumn(textCol,
        TextAnalysis.dedupLines(col(textCol), sep))
      case None => delta0
    }
    val gated0 = Curation.qualityFilter(delta, textCol, langCol, cfg)
      .observe(gatedObs, count(lit(1)).as("n"))
    val gated =
      if (cfg.c4) gated0.withColumn(textCol,
        TextAnalysis.c4CleanLines(col(textCol)))
      else gated0
    // Job 1: ONE pass computes the exact fingerprint AND the MinHash
    // signature/band keys over the gated delta, checkpointed so (a) the
    // interpreted minhash HOF tree is never inlined into a join filter
    // (the incrementalNearDupMd5 rule) and (b) the keeper self-join below
    // reads blocks, not a recomputed diff+gate pipeline.
    //
    // AQEPropagateEmptyRelation is excluded for EXACTLY this action: on a
    // no-change increment the delta semi-join's right side is empty at
    // runtime, and the rule would replace the join with an empty relation
    // — cutting the CollectMetrics nodes out of the executed plan, so
    // both Observations fulfill with an EMPTY metric map (no keys) and
    // the counts below crash (or, with defaults, would silently report
    // removed=0 on a removal-only month). The rule only prunes degenerate
    // plans, so excluding it costs nothing on real increments.
    val aqeExcludeKey = "spark.sql.adaptive.optimizer.excludedRules"
    val prevExcluded = spark.conf.getOption(aqeExcludeKey)
    val emptyRelRule =
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    spark.conf.set(aqeExcludeKey,
      (prevExcluded.toSeq :+ emptyRelRule).mkString(","))
    // spread BY THE FINGERPRINT, not round-robin (optimization r17, guide
    // §2.4): localCheckpoint preserves outputPartitioning in its
    // LogicalRDD, so a hash(__fp)-partitioned checkpoint lets the keeper
    // aggregation below and every fp-keyed frame join over these blocks
    // without a fresh exchange (md5 fingerprints are uniform — no skew
    // risk), where the round-robin spread forced each consumer to
    // re-shuffle. Also skips round-robin's sort-before-repartition pass.
    val sketched = Dedup.withSketch(
      {
        val fp = gated.withColumn("__fp",
          TextAnalysis.fingerprint(col(textCol)))
        if (spreadNeeded) fp.repartition(par, col("__fp")) else fp
      },
      textCol, k, bands, SketchHash.Md5)
    // table existence BEFORE either append mutates the catalog (and
    // before the first action, so the bootstrap shape below can fuse)
    val fpExists = spark.catalog.tableExists(fpIndexTable)
    val sigExists = spark.catalog.tableExists(sigIndexTable)
    // BOOTSTRAP CHECKPOINT FUSION (optimization r17, guide §1.2/§5 —
    // fewer actions): with NO index tables, the sketched base's only
    // consumer is the keeper aggregation (no fp anti-join, no band-key
    // semi-join — both index branches are statically absent) and the
    // near-dup drop set is statically empty, so the base checkpoint and
    // the flagged checkpoint collapse into ONE keeper materialization:
    // flagged ≡ keepers + a null __nd column — the empty left join's
    // rows, but NOT its column order: keeperRows puts __fp first, the
    // USING join below puts idCol first. The appends select by name;
    // the returned survivors keep the input's order at bootstrap and
    // lead with idCol afterwards. The observe metrics ride this single
    // action; the AQE-exclusion window covers it.
    val bootstrapFused = !fpExists && !sigExists
    val checkpointed =
      try {
        if (bootstrapFused)
          Dedup.keeperRows(sketched, idCol)
            .withColumn("__nd", lit(null).cast("boolean"))
            .localCheckpoint()
        else sketched.localCheckpoint()
      } finally {
        prevExcluded match {
          case Some(v) => spark.conf.set(aqeExcludeKey, v)
          case None => spark.conf.unset(aqeExcludeKey)
        }
      }
    val flagged = if (bootstrapFused) checkpointed else {
    val base = checkpointed
    // in-increment exact keeper: min-id copy per fingerprint,
    // exchange-free over the hash(__fp) checkpoint blocks
    val firsts = Dedup.keeperRows(base, idCol)
    // one-sided anti-join: the bucketed index scan satisfies the join's
    // distribution, only the (small) delta side shuffles. exactFresh
    // lands twice in the flagged-checkpoint action (the flagged left
    // side + the near-dup candidate probe); a persist was TRIED
    // (optimization r17) and reverted on measurement — ReuseExchange
    // already dedups the identical keeper/anti-join subtrees inside the
    // one AQE plan, so the cache only added its own materialization
    // stages (34 → 36 jobs on q_delta_index_write).
    val exactFresh =
      if (fpExists)
        firsts.join(spark.table(fpIndexTable)
          .select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      else firsts
    val (dropIds, matchedCache) =
      if (sigExists) {
        val idx = spark.table(sigIndexTable)
        // The bucket-cap counts do NOT aggregate the whole index: index
        // rows are first semi-joined to the increment's band keys (taken
        // from `base`, a superset of exactFresh's keys — extra keys can
        // never match a candidate, so the cap decisions are identical to
        // counting the full index), and that ONE filtered scan — persisted
        // so it materializes once inside the flagged-checkpoint action —
        // feeds both the degenerate-bucket cap and the candidate join.
        // Per-increment aggregate work is O(index rows matching delta
        // keys), not O(index): the full-index groupBy this replaces was
        // shuffle-free (bucketBy(key)) but still touched every row every
        // month. A key's matched rows are ALL of its index rows, so the
        // per-key counts equal the full-index counts exactly.
        // distinct AT THE BUCKET PARTITIONING (optimization r17, guide
        // §2.4): repartition(buckets, key) is the same murmur3-pmod
        // mapping as the index's bucket id, so the distinct aggregates
        // exchange-free on top of it AND the semi-join below sees both
        // sides co-partitioned — the old session-parallelism distinct
        // paid one exchange to dedup and a second to re-align with the
        // bucketed scan. Parallelism is unchanged: the join already ran
        // at bucket granularity (the one-sided contract).
        val deltaKeys = base
          .select(explode(col("__bk")).as("key"))
          .repartition(buckets, col("key")).distinct()
        val matched = idx.join(deltaKeys, Seq("key"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val okKeys = matched.groupBy(col("key"))
          .agg(count(lit(1)).as("__kn"))
          .filter(col("__kn") <= maxBucket)
          .select(col("key"))
        val est = size(filter(
          zip_with(col("__bsig"), col("sig"), (a, b) => a === b),
          m => m)).cast("double") / lit(k.toDouble)
        (exactFresh
          .select(col(idCol).as("__bid"), col("__sig").as("__bsig"),
            explode(col("__bk")).as("key"))
          .join(matched.join(okKeys, Seq("key")), Seq("key"))
          .filter(est >= lit(cfg.nearDupThreshold))
          .select(col("__bid").as(idCol)).distinct(),
          Some(matched))
      } else (exactFresh.limit(0).select(col(idCol)), None)
    // Job 2: near-dup drops are FLAGGED, not filtered — the fingerprint
    // append needs ALL exact survivors (sequential-composition parity)
    // while the signature append and the returned frame need only the
    // near-dup survivors, and ONE wide checkpoint serves both (severing
    // the index-table lineage before the appends mutate the tables). A
    // narrow verdict-only checkpoint with id-join reconstitution from the
    // base blocks was tried (optimization r16) and REVERTED on
    // measurement — see the incrementalNearDupMd5 comment: the extra
    // per-consumer broadcast joins cost more in AQE replanning/scheduling
    // floors (~0.3-0.5 s per row at sf0.1, interleaved A/B) than the
    // increment-bounded wide materialization they avoided.
    val f = exactFresh
      .join(dropIds.withColumn("__nd", lit(true)), Seq(idCol), "left")
      .localCheckpoint()
    // every consumer of the shared matched-index scan has now run
    matchedCache.foreach { m => m.unpersist(); () }
    f
    }
    // Jobs 3+4, CONCURRENT: both bucketed appends read the same flagged
    // checkpoint blocks and write DIFFERENT tables (independent catalog
    // entries, per-table Hadoop commit dirs), so they run on two action
    // threads and overlap instead of paying two sequential job+commit
    // floors. saveAsTable (not insertInto) so the bucket spec is
    // validated against an existing table.
    // repartition ON THE BUCKET EXPRESSION before each bucketed write:
    // `repartition(n, c)` is HashPartitioning(murmur3(c) pmod n) — the
    // SAME mapping as the bucket id — so every task holds exactly one
    // bucket and writes exactly ONE file. Without it each of the ~32
    // checkpoint partitions opens a file per bucket it touches (up to
    // 32 × 64 files per append): slow at toy scale (file-create bound,
    // measured 1.1 s → 0.35 s for the bootstrap append pair at sf0.1)
    // and an accumulating small-files tax on every later index SCAN at
    // real scale. Write parallelism becomes `buckets` — which is already
    // the index's scale knob (more data ⇒ more buckets).
    val survivors = flagged.filter(col("__nd").isNull)
    graft.Concurrent.both(
      flagged.select(col("__fp").as("fp"))
        .repartition(buckets, col("fp"))
        .write.mode(if (fpExists) "append" else "overwrite")
        .bucketBy(buckets, "fp").sortBy("fp")
        .saveAsTable(fpIndexTable),
      survivors.select(explode(col("__bk")).as("key"), col(idCol).as("id"),
          col("__sig").as("sig"))
        .repartition(buckets, col("key"))
        .write.mode(if (sigExists) "append" else "overwrite")
        .bucketBy(buckets, "key").sortBy("key")
        .saveAsTable(sigIndexTable))
    // the checkpoints above have run, so the observation results are in.
    // A MISSING key (empty metric map) means the CollectMetrics nodes
    // were optimized out of the executed plan anyway — seen when a
    // STATICALLY-empty input (e.g. a limit(0) local-relation bootstrap
    // whose gate rejects every row) lets the non-adaptive optimizer
    // collapse the observed subtree before the AQE-rule exclusion can
    // protect it. Fail with the diagnosis instead of a bare
    // NoSuchElementException; deliberately NOT defaulted to zero — a
    // silent removed=0 on a removal-only month is the worse failure.
    val sm = statusObs.get
    def metric(m: Map[String, Any], name: String): Long =
      m.getOrElse(name, throw new IllegalStateException(
        s"observation '$name' missing: the diff/gate metrics were " +
          "optimized out of the executed plan (statically-empty input " +
          "or an empty-relation rewrite upstream of CollectMetrics); " +
          "counts are unavailable rather than silently zero"))
        .asInstanceOf[Long]
    Result(
      added = metric(sm, "added"),
      changed = metric(sm, "changed"),
      removed = metric(sm, "removed"),
      gated = metric(gatedObs.get, "n"),
      survivors = survivors.drop("__fp", "__sig", "__bk", "__nd"))
  }

  /** In-memory index frames equivalent to what a BOOTSTRAP increment of
    * [[run]] persists ((fp) and (key, id, sig)) — for [[deltaSurvivors]]
    * dry-runs and tests that want the month-0 state without a warehouse.
    * Built exactly as run() builds them on a missing index: gate →
    * fingerprint+sketch → in-increment min-id keeper; every keeper's
    * fingerprint enters the fp frame and (bootstrap has no signature
    * index to drop against) every keeper's band rows enter the sig
    * frame. Narrow columns only (id, fp, sig, bands) are checkpointed —
    * text never materializes.
    */
  def indexFrames(
      snapshot: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      cfg: Curation.Config = Curation.Config(),
      k: Int = 8,
      bands: Int = 4): (DataFrame, DataFrame) = {
    val (fp, sig, _) =
      bootstrapFrames(snapshot, idCol, textCol, langCol, cfg, k, bands)
    (fp, sig)
  }

  /** [[indexFrames]] plus the month-0 KEEPER rows they derive from, all
    * three views over ONE checkpointed pass (optimization r16, guide
    * §1.2: q_delta_compact previously recomputed the identical gate →
    * fingerprint → sketch pipeline three times — indexFrames, the
    * bootstrap deltaSurvivors dry-run, then compact's liveRows over those
    * same survivors). The third frame is (idCol, __fp, __sig, __bk) —
    * exactly [[liveRows]]' shape for the bootstrap survivor set, i.e. the
    * live rows a subsequent compaction keeps against, and (by the
    * bootstrap semantics of [[deltaSurvivors]]: no index ⇒ exactFresh =
    * in-increment keepers, no near-dup drops) exactly the bootstrap
    * survivors' sketch rows. DeltaCurateSpec pins the equivalence.
    */
  def bootstrapFrames(
      snapshot: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      cfg: Curation.Config = Curation.Config(),
      k: Int = 8,
      bands: Int = 4): (DataFrame, DataFrame, DataFrame) = {
    val spark = snapshot.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val spreadNeeded = snapshot.rdd.getNumPartitions < par
    val cleaned = cfg.dedupLinesSep match {
      case Some(sep) => snapshot.withColumn(textCol,
        TextAnalysis.dedupLines(col(textCol), sep))
      case None => snapshot
    }
    val gated0 = Curation.qualityFilter(cleaned, textCol, langCol, cfg)
    val gated =
      if (cfg.c4) gated0.withColumn(textCol,
        TextAnalysis.c4CleanLines(col(textCol)))
      else gated0
    // ONE fused checkpoint (optimization r17, guide §1.2/§5 — the run()
    // bootstrap-fusion shape): the sketched base's only consumer here is
    // the keeper aggregation, so materializing base separately was a
    // pure extra action — the hash(__fp) spread's exchange feeds the
    // min_by keeper agg directly (HashPartitioning(__fp) satisfies the
    // grouping's ClusteredDistribution: no second exchange) and only the
    // KEEPER rows ever hit disk. The checkpoint keeps the narrow
    // (id, fp, sig, bands) width and the hash(__fp) partitioning the
    // three consumer views rely on (q_delta_curate: the fp anti-join
    // once, the sig frame twice — the un-persisted matched scan's cap
    // agg + candidate join; q_delta_compact: the compactFramesOverLive
    // keep semi-joins are exchange-free on the fp side over these
    // blocks). Strictly fewer rows than base —
    // increment-proportional at 100 TB.
    val firsts = Dedup.keeperRows(
        Dedup.withSketch(
            {
              val fp = gated.withColumn("__fp",
                TextAnalysis.fingerprint(col(textCol)))
              if (spreadNeeded) fp.repartition(par, col("__fp")) else fp
            },
            textCol, k, bands, SketchHash.Md5)
          .select(col(idCol), col("__fp"), col("__sig"), col("__bk")),
        idCol)
      .select(col(idCol), col("__fp"), col("__sig"), col("__bk"))
      .localCheckpoint()
    (firsts.select(col("__fp").as("fp")),
      firsts.select(explode(col("__bk")).as("key"), col(idCol).as("id"),
        col("__sig").as("sig")),
      firsts)
  }

  /** Dry-run delta curation: the SURVIVOR QUERY of [[run]] against index
    * FRAMES instead of persisted tables — what an operator asks before
    * committing an increment ("what would this month's delta keep?")
    * and what the q_delta_curate oracle replays. Decision-identical to
    * [[run]] (same diff → gate → in-increment keeper → one-sided exact
    * anti-join → capped banded candidate → estimated-Jaccard drop), but
    * it mutates nothing: no index appends, no catalog operations, no
    * observe bookkeeping — so the whole query is two checkpoints (the
    * bootstrap index base inside [[indexFrames]], the sketched delta
    * here) plus the caller's action. The produce path — bucketed
    * index-table writes, crash-window swap — is [[run]]'s job and is
    * measured separately (q_delta_index_write). Splitting the consume
    * query from the produce step mirrors the reference's monthly chain,
    * where each stage's artifact hand-off is its own measured unit
    * (monthly_batch_emr.sh:84,101).
    *
    * `fpIndex` is a (fp) frame, `sigIndex` a (key, id, sig) frame —
    * [[indexFrames]] shapes, or narrow selects of the persisted tables.
    * None = bootstrap semantics (nothing indexed yet).
    */
  def deltaSurvivors(
      prevSnap: DataFrame,
      newSnap: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      cfg: Curation.Config = Curation.Config(),
      fpIndex: Option[DataFrame] = None,
      sigIndex: Option[DataFrame] = None,
      k: Int = 8,
      bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(cfg.nearDupThreshold > 0.0 && cfg.nearDupThreshold <= 1.0,
      s"nearDupThreshold=${cfg.nearDupThreshold} must be in (0, 1]")
    val spark = newSnap.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val spreadNeeded = newSnap.rdd.getNumPartitions < par
    // Bootstrap fast path (optimization r16, guide §1.2 — mirrors run()'s
    // round-12 fast path, which this dry-run surface never got): a
    // STATICALLY-empty previous snapshot (the limit(0) bootstrap idiom)
    // makes every new row an "added" by definition, so the md5
    // snapshot-diff — a full digest pass over newSnap plus an exchange,
    // measured 5.5 task-core-s inside q_delta_compact's bootstrap leg at
    // sf0.1 — is skipped entirely. Decision-identical: diffing against an
    // empty side labels every row "added", and added/changed rows are
    // exactly newSnap. Runtime-empty (but not statically-empty) prev
    // snapshots still take the diff; only the provable case skips.
    val bootstrapEmpty = prevSnap.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        l.data.isEmpty
      case _ => false
    }
    val delta0 =
      if (bootstrapEmpty) newSnap
      else {
        val statuses = SnapshotDiff.diff(prevSnap, newSnap, idCol, textCol)
        newSnap.join(
          statuses.filter(col("status").isin("added", "changed"))
            .select(col(idCol)),
          Seq(idCol), "left_semi")
      }
    val delta = cfg.dedupLinesSep match {
      case Some(sep) => delta0.withColumn(textCol,
        TextAnalysis.dedupLines(col(textCol), sep))
      case None => delta0
    }
    val gated0 = Curation.qualityFilter(delta, textCol, langCol, cfg)
    val gated =
      if (cfg.c4) gated0.withColumn(textCol,
        TextAnalysis.c4CleanLines(col(textCol)))
      else gated0
    // same single sketch pass + hash(__fp) checkpoint + min_by keeper as
    // run() (the minhash HOF tree must never inline into a join filter)
    val base = Dedup.withSketch(
        {
          val fp = gated.withColumn("__fp",
            TextAnalysis.fingerprint(col(textCol)))
          if (spreadNeeded) fp.repartition(par, col("__fp")) else fp
        },
        textCol, k, bands, SketchHash.Md5)
      .localCheckpoint()
    val firsts = Dedup.keeperRows(base, idCol)
    val exactFresh = fpIndex match {
      case Some(fi) =>
        firsts.join(fi.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      case None => firsts
    }
    val dropIds = sigIndex match {
      case Some(idx) =>
        // the run() candidate shape: semi-join the index to the delta's
        // band keys first, cap degenerate keys over the MATCHED scan
        // (identical counts — a key's matched rows are all its rows).
        // Deliberately NOT persisted here, unlike run(): this builder is
        // LAZY (no internal action to anchor an unpersist against — a
        // persist would outlive the call, the joinSkewReport leak
        // class), and the index side is an [[indexFrames]]-style narrow
        // frame over checkpoint blocks, so the two consumers (cap agg +
        // candidate join) pay two cheap block scans, not two re-fits.
        val deltaKeys = base
          .select(explode(col("__bk")).as("key")).distinct()
        val matched = idx.join(deltaKeys, Seq("key"), "left_semi")
        val okKeys = matched.groupBy(col("key"))
          .agg(count(lit(1)).as("__kn"))
          .filter(col("__kn") <= maxBucket)
          .select(col("key"))
        val est = size(filter(
          zip_with(col("__bsig"), col("sig"), (a, b) => a === b),
          m => m)).cast("double") / lit(k.toDouble)
        exactFresh
          .select(col(idCol).as("__bid"), col("__sig").as("__bsig"),
            explode(col("__bk")).as("key"))
          .join(matched.join(okKeys, Seq("key")), Seq("key"))
          .filter(est >= lit(cfg.nearDupThreshold))
          .select(col("__bid").as(idCol)).distinct()
      case None => exactFresh.limit(0).select(col(idCol))
    }
    exactFresh.join(dropIds, Seq(idCol), "left_anti")
      .drop("__fp", "__sig", "__bk")
  }

  /** Index maintenance ([EXT], the task [[run]]'s scaladoc defers): drop
    * every fingerprint/signature row NOT derivable from the current
    * curated corpus — superseded versions of changed documents and rows
    * of removed documents, which otherwise accumulate forever and make
    * the conservative suppression semantics silently strengthen over
    * years of increments.
    *
    * `corpus` is the CALLER's current curated corpus (the latest
    * surviving version per id — for a suppressed cosmetic edit that is
    * the prior version, exactly the content whose duplicates future
    * increments must keep suppressing). Post-compaction guarantee: a
    * delta document that is an exact copy or near-dup of any CURRENT
    * corpus document behaves identically to the uncompacted index; what
    * is forgotten is only suppression of content no longer in the
    * corpus (a re-add of a long-dead version re-enters as fresh).
    *
    * Scale shape: one narrow pass recomputes live fingerprints and
    * banded signatures (same kernels as [[run]]), then each index
    * rewrites via a semi-join that the bucketed scan keeps one-sided,
    * into a fresh table with the SAME bucket spec, swapped in by
    * drop+rename — so every future increment keeps its one-sided-join
    * property. The signature semi-join matches the FULL row (key, id,
    * sig): a band of a superseded version that coincidentally equals the
    * current version's band key still carries the superseded signature
    * and must go.
    *
    * Returns (fp rows, sig rows) after compaction.
    */
  def compact(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      fpIndexTable: String = "graft_fp_index",
      sigIndexTable: String = "graft_sig_index",
      buckets: Int = 64,
      k: Int = 8,
      bands: Int = 4): (Long, Long) = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val spark = corpus.sparkSession
    val live = liveRows(corpus, idCol, textCol, k, bands)
    val fpRows = rewriteBucketed(spark, fpIndexTable, buckets, "fp")(
      keepFp(live))
    val sigRows = rewriteBucketed(spark, sigIndexTable, buckets, "key")(
      keepSig(live, idCol))
    (fpRows, sigRows)
  }

  /** The KEEP DECISION of [[compact]] over FRAMES — the catalog-free
    * surface (the [[deltaSurvivors]] pattern): same live-row computation,
    * same semi-joins (shared builders, so the persisted rewrite and this
    * dry-run cannot drift), no table writes. `fpIndex`/`sigIndex` are
    * [[indexFrames]] shapes or narrow selects of the persisted tables;
    * returns the (fp) and (key, id, sig) frames that survive compaction
    * against `corpus` — what the q_delta_compact oracle replays, and what
    * an operator inspects before committing a [[compact]].
    */
  def compactFrames(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      fpIndex: DataFrame,
      sigIndex: DataFrame,
      k: Int = 8,
      bands: Int = 4): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val live = liveRows(corpus, idCol, textCol, k, bands)
    compactFramesOverLive(live, idCol, fpIndex, sigIndex)
  }

  /** [[compactFrames]] for a caller that ALREADY holds the live sketch
    * rows ((idCol, __fp, __sig, __bk) — [[bootstrapFrames]]' third frame,
    * optionally filtered to the still-live ids, or [[liveRows]]' output):
    * the same keep semi-joins through the same shared builders, without
    * re-fingerprinting the corpus. Optimization r16 plumbing for
    * q_delta_compact (guide §1.2); [[compactFrames]] delegates here so
    * the two surfaces cannot drift.
    */
  def compactFramesOverLive(
      live: DataFrame,
      idCol: String,
      fpIndex: DataFrame,
      sigIndex: DataFrame): (DataFrame, DataFrame) =
    (keepFp(live)(fpIndex), keepSig(live, idCol)(sigIndex))

  /** One narrow checkpointed pass over the caller's current corpus:
    * (id, fp, sig, band keys) under the SAME kernels as [[run]] — the
    * live set both [[compact]] and [[compactFrames]] keep against.
    * The corpus text is fingerprinted AS GIVEN: run()'s survivors carry
    * the post-rewrite text (dedupLinesSep/c4 applied before
    * fingerprinting), so re-applying a rewrite here would double it.
    */
  private def liveRows(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      bands: Int): DataFrame = {
    val spark = corpus.sparkSession
    val par = spark.sparkContext.defaultParallelism
    // hash(__fp) spread (optimization r17): the keepFp semi-join's
    // distinct and the live side of both keep joins read these blocks —
    // a fingerprint-partitioned checkpoint keeps them exchange-free.
    val fp = corpus.withColumn("__fp",
      TextAnalysis.fingerprint(col(textCol)))
    val spread =
      if (corpus.rdd.getNumPartitions < par) fp.repartition(par, col("__fp"))
      else fp
    Dedup.withSketch(spread, textCol, k, bands, SketchHash.Md5)
      .select(col(idCol), col("__fp"), col("__sig"), col("__bk"))
      .localCheckpoint()
  }

  /** Keep a fingerprint-index row iff its fp is derivable from the live
    * corpus — one definition for the rewrite and the frame form.
    */
  private def keepFp(live: DataFrame)(old: DataFrame): DataFrame =
    old.join(live.select(col("__fp").as("fp")).distinct(),
      Seq("fp"), "left_semi")

  /** Keep a signature-index row iff the FULL (key, id, sig) row matches a
    * live document's banded signature: a superseded version whose band
    * key coincidentally equals the current version's still carries the
    * superseded signature and must go.
    */
  private def keepSig(live: DataFrame, idCol: String)(
      old: DataFrame): DataFrame =
    old.join(
      live.select(explode(col("__bk")).as("key"), col(idCol).as("id"),
        col("__sig").as("sig")),
      Seq("key", "id", "sig"), "left_semi")

  /** Rewrite a bucketed index table through `keep`, preserving the bucket
    * spec (write to a sibling, then a rename-aside swap — saveAsTable
    * cannot overwrite a table its own plan reads). The swap never drops
    * the live table first: `table` → `table__old`, `table__compact` →
    * `table`, then drop `table__old` — so at every instant either the old
    * or the new index exists under a recoverable name, and a crash
    * mid-swap loses nothing (restart finds either the live table or
    * `table__old` to rename back).
    */
  private def rewriteBucketed(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      buckets: Int,
      bucketCol: String)(keep: DataFrame => DataFrame): Long = {
    val tmp = table + "__compact"
    val aside = table + "__old"
    // Crash recovery BEFORE any cleanup (round-9 review finding: dropping
    // tmp/aside first would destroy BOTH recoverable copies if a previous
    // swap died between its two renames — the live name missing and the
    // only index copies sitting under __old/__compact). Roll BACK to the
    // aside copy (always safe: tmp may be half-written if the crash was
    // mid-save, so rolling forward is not) and redo the rewrite.
    if (!spark.catalog.tableExists(table)) {
      require(spark.catalog.tableExists(aside),
        s"$table does not exist and no $aside copy to recover from")
      spark.sql(s"ALTER TABLE $aside RENAME TO $table")
    }
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    spark.sql(s"DROP TABLE IF EXISTS $aside")
    // The rewrite is a ZERO-shuffle pass when the old table's bucketed
    // layout is honored: the scan's HashPartitioning(bucketCol, buckets)
    // is exactly the writer's bucket-id mapping, so the planner elides
    // the repartition below as redundant and task i holds precisely
    // bucket i — one output file per bucket, no exchange. But with the
    // default autoBucketedScan the planner then DISABLES the bucketed
    // scan (nothing left in this query requires its partitioning — the
    // write is a separate execution), leaving the elided repartition
    // pointing at an arbitrarily-coalesced scan: tasks hold mixed
    // buckets and every bucket fragments into multiple files (caught by
    // the DeltaCurateSpec file audit). Pinning the bucketed scan for the
    // one write keeps both halves consistent. Session-global conf,
    // restored in finally — same single-writer contract as `run`'s AQE
    // exclusion (see run's scaladoc).
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.getOption(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      keep(spark.table(table))
        // one file per bucket (same murmur3-pmod mapping as the bucket
        // id; see the append sites) — elided against the pinned bucketed
        // scan, a real exchange only if `keep` broke the partitioning
        .repartition(buckets, col(bucketCol))
        .write.mode("overwrite")
        .bucketBy(buckets, bucketCol).sortBy(bucketCol)
        .saveAsTable(tmp)
    } finally {
      prevAuto match {
        case Some(v) => spark.conf.set(autoKey, v)
        case None => spark.conf.unset(autoKey)
      }
    }
    val n = spark.table(tmp).count()
    spark.sql(s"ALTER TABLE $table RENAME TO $aside")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    spark.sql(s"DROP TABLE $aside")
    n
  }
}

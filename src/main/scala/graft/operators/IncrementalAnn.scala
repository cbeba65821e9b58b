package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental ANN index maintenance ([EXT]) — the vector analog of the
  * delta fingerprint/signature indexes ([[graft.processes.DeltaCurate]],
  * [[Dedup.incrementalNearDupMd5]]): when a new embedding batch lands
  * (continuously-ingested corpus), do NOT rebuild the vector index; assign
  * the batch to the index's FIXED coarse cells and append its inverted-list
  * rows to the persisted, cell-bucketed index table.
  *
  * The index is two managed tables:
  *  - `<indexTable>`            — (cell BIGINT, id BIGINT, vec ARRAY<DOUBLE>)
  *                                bucketed by `cell`: each bucket IS an
  *                                inverted list, appends add one file per
  *                                bucket, probes join one-sided (the index
  *                                side never shuffles).
  *  - `<indexTable>_centroids`  — (cell BIGINT, centroid ARRAY<DOUBLE>), the
  *                                coarse quantizer, written ONCE at
  *                                bootstrap and read (bounded, ≤ nCells
  *                                rows) by every later append and query.
  *
  * Centroids are FIXED at bootstrap on purpose — the real-system IVF
  * contract: incremental inserts assign against the trained quantizer;
  * re-training is an offline rebuild, not an append. That makes the whole
  * chain deterministic and gives the decision contract the spec pins and
  * the q_ann_incr_md5 oracle replays in SQL:
  *
  *   query(bootstrap(A) then append(B))
  *     ≡ [[Similarity.annIvf]] over A ∪ B with
  *       `fitted = Clustering.kmeansFit(A)`
  *
  * i.e. appending then querying equals batch-building under the bootstrap
  * centroids — the sequential-composition parity the delta-curation family
  * established for text dedup, applied to vectors.
  *
  * At 100 TB: the fit touches only the bootstrap batch (k·dim literal
  * centroids, corpus never shuffles — [[Clustering.kmeansFit]]); an append
  * is one narrow codegen assignment pass ([[graft.plans.VectorExpressions]]
  * `graft_ivf_cells`, centroid table as ONE plan literal) plus one exchange
  * on `cell` (one file per bucket per append — the small-files discipline
  * of the delta index writers); a query probes `nProbe` cells one-sided
  * against the bucketed scan and elects top-k through the bounded
  * `graft_topk` heap (O(queries × k) exchange). The `maxCellSize` gate
  * reads the index's `cell` column only (parquet column pruning — a
  * directory-sized scan, not a vector scan).
  */
object IncrementalAnn {

  /** The centroid sidecar's table name for a given index table. */
  def centroidsTableName(indexTable: String): String =
    indexTable + "_centroids"

  /** The tombstone sidecar's table name — one `id BIGINT` column, the
    * pending logical deletes ([[deleteIds]]) a [[compact]] or [[rebuild]]
    * applies physically and then clears.
    */
  def tombstonesTableName(indexTable: String): String =
    indexTable + "_tombstones"

  /** Drop an index and its sidecars, tables AND storage dirs — the
    * idempotence preamble every drop-then-rebuild caller needs (the
    * registered produce rows). One shared helper
    * (review finding r14): the per-caller copies hand-built
    * `<warehouse>/<name>` paths, the exact pattern [[dropTableAndDir]]'s
    * catalog resolution exists to avoid.
    */
  def dropIndex(spark: SparkSession, indexTable: String): Unit =
    Seq(indexTable, centroidsTableName(indexTable),
        tombstonesTableName(indexTable))
      .foreach(dropTableAndDir(spark, _))

  /** Append `batch` to the index, bootstrapping it (k-means fit + both
    * tables) when absent. Returns the centroids in force, so a caller
    * chaining appends with queries pays the bounded sidecar read once.
    *
    * Crash ordering at bootstrap: the SIDECAR is written first — an index
    * table without its quantizer is unreadable (every later append would
    * assign against nothing), while a sidecar without an index table just
    * re-bootstraps the data rows on the next append under the SAME
    * (deterministic) centroids. A half-state is detected and failed
    * actionably rather than silently refit.
    *
    * `fitted` short-circuits the quantizer acquisition (the fitted-model
    * memo discipline): at bootstrap it replaces the k-means fit; on a
    * later append it replaces the sidecar read (two bounded collect jobs
    * a chained append-after-append caller otherwise pays per call). On a
    * non-bootstrap append the caller MUST pass the value a prior
    * append/bootstrap for THIS index returned — anything else silently
    * assigns the batch under a different quantizer than the index's
    * earlier rows; when in doubt, omit it and pay the sidecar read. The
    * spec pins fitted-path ≡ sidecar-read-path equivalence.
    */
  def append(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexTable: String,
      nCells: Int = 8,
      iters: Int = 2,
      fitted: Option[Array[Array[Double]]] = None): Array[Array[Double]] = {
    require(nCells > 0 && nCells <= 10000,
      s"nCells must be in (0, 10000], got $nCells")
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val centTable = centroidsTableName(indexTable)
    // a writer self-heals a crashed rebuild FIRST (the rewriteBucketed
    // recover-at-start rule): without this, a crash between the two
    // rebuild swaps leaves a live pair of a NEW index with the OLD
    // sidecar, and an append would silently assign against the wrong
    // quantizer. recover() is idempotent and catalog-only — on a healthy
    // or fresh index it is a handful of tableExists probes.
    recover(spark, indexTable)
    val idxExists = spark.catalog.tableExists(indexTable)
    val centExists = spark.catalog.tableExists(centTable)
    if (idxExists && !centExists) throw new IllegalStateException(
      s"index table $indexTable exists without its centroid sidecar " +
        s"$centTable — run recover($indexTable) if a rebuild crashed " +
        s"mid-swap; otherwise the quantizer is lost: drop $indexTable " +
        "and re-bootstrap")
    val centroids: Array[Array[Double]] = fitted.getOrElse(
      if (centExists) loadCentroids(spark, centTable)
      else Clustering.kmeansFit(batch, idCol, vecCol, nCells, iters))
    // the bucket count ALWAYS follows the quantizer in force — `nCells`
    // sizes the bootstrap FIT only; a later append against a 4-cell index
    // must write 4 buckets no matter what the caller passed (a mismatch
    // against the existing table's bucket spec is a saveAsTable error)
    val cells = centroids.length
    if (!centExists) {
      import spark.implicits._
      centroids.zipWithIndex
        .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .write.mode("overwrite").saveAsTable(centTable)
    }
    assign(batch, idCol, vecCol, centroids)
      // one file per bucket per append: repartition(n, c) is
      // HashPartitioning(murmur3(c) pmod n) — the same mapping as the
      // bucket id — so every task holds exactly one bucket (the
      // DeltaCurate.run small-files rule; an unspread append writes up to
      // partitions × nCells files, an accumulating tax on every probe)
      .repartition(cells, col("cell"))
      .write.mode(if (idxExists) "append" else "overwrite")
      .bucketBy(cells, "cell").sortBy("cell")
      .saveAsTable(indexTable)
    centroids
  }

  /** Logical delete ([EXT] — the takedown path: rights issues,
    * contamination discoveries, right-to-be-forgotten): append the ids to
    * the tombstone sidecar. Nothing in the bucketed index moves — a
    * delete costs one distinct + one tiny write, proportional to the
    * DELETE batch, never the index ([[compact]] is the physical rewrite,
    * run on maintenance cadence like a real LSM/segment store).
    *
    * Semantics: a tombstoned id is suppressed ENTIRELY — [[query]] drops
    * its rows (including rows appended AFTER the delete) until a
    * [[compact]] or [[rebuild]] applies the tombstones physically and
    * clears them. Re-ingesting a previously-deleted id should therefore
    * follow a compact; the conservative direction (a banned id stays
    * banned through the window) is the right default for takedowns.
    *
    * Idempotent by construction: deletes are declarative (ids, not rows),
    * re-deleting the same ids or deleting ids the index never held leaves
    * query results unchanged (anti-join semantics; the distinct keeps the
    * re-delete from even growing the sidecar within one batch). Crash
    * window: the append is at-least-once like every writer in the family —
    * a blind retry writes duplicate tombstone rows, which change nothing.
    */
  def deleteIds(
      ids: DataFrame,
      idCol: String,
      indexTable: String): Unit = {
    val spark = ids.sparkSession
    recover(spark, indexTable)
    if (!spark.catalog.tableExists(indexTable))
      throw new IllegalStateException(
        s"index table $indexTable does not exist — nothing to delete from " +
          "(bootstrap with append() first)")
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1)
      .write.mode("append")
      .saveAsTable(tombstonesTableName(indexTable))
  }

  /** The pending-tombstone filter every reader applies: anti-join `df`'s
    * `id` against the tombstone sidecar when one exists. The sidecar
    * broadcasts (the index side must never shuffle), so its size is gated
    * fail-closed — past `maxTombstones` the fix is a [[compact]], which
    * empties it. Shared by [[query]] and the rebuild sources so the read
    * and rewrite paths cannot disagree about what is deleted.
    */
  private[operators] def notTombstoned(
      spark: SparkSession,
      indexTable: String,
      df: DataFrame,
      maxTombstones: Long): DataFrame = {
    val tombTable = tombstonesTableName(indexTable)
    if (!spark.catalog.tableExists(tombTable)) df
    else {
      val tomb = spark.table(tombTable)
      Similarity.requireBroadcastable(tomb, maxTombstones,
        s"tombstone sidecar $tombTable (query-time deletes broadcast " +
          "against the streaming index scan)",
        "compact() — it applies the tombstones physically and clears them")
      df.join(broadcast(tomb.select(col("id").as("__del"))),
        col("id") === col("__del"), "left_anti")
    }
  }

  /** Top-k neighbors from the index for every query vector: assign each
    * query its `nProbe` nearest cells (narrow kernel pass), join the
    * probes one-sided against the bucketed index scan, verify with the
    * round-4 cosine, elect (sim4 DESC, n_id ASC) top-k via the bounded
    * `graft_topk` heap — the [[Similarity.annIvf]] probe contract
    * against persisted state.
    *
    * `excludeSelf` drops candidates whose index id equals the query id
    * (on by default: self-querying a corpus member should return its
    * neighbors, not itself; ids are assumed to share one namespace).
    *
    * Degenerate cells (> `maxCellSize` DISTINCT members — a collapsed
    * fit) are excluded from probing, failing closed exactly like the
    * batch family. Distinct ids, not raw rows (ADVICE r14): the
    * at-least-once ingest's crash window can duplicate a batch, and a
    * raw count would let those duplicates trip the cap on a healthy
    * cell. The count pass reads only (cell, id) — column-pruned, no
    * vectors — and aggregates exchange-free on the bucketed layout.
    *
    * `fitted` skips the sidecar read for callers chaining a query after
    * an append (whose return value IS the sidecar content) — the same
    * trust contract as [[append]]'s `fitted`: it must be THIS index's
    * quantizer or probes hit the wrong cells.
    *
    * Probe-side join regime (verdict r13 — the unconditional
    * `broadcast(probes)` hint was a scale-killer for corpus-sized query
    * batches): the probe frame is queries × nProbe rows each carrying
    * the full query vector, so its size is gated BEFORE choosing the
    * join. Under `probeBroadcastBytes` (Catalyst plan-stats estimate of
    * the query frame × nProbe — zero extra jobs, and an unknown size
    * estimates to `defaultSizeInBytes` = huge, failing SAFE into the
    * shuffle regime) the probes broadcast and the index side spreads
    * round-robin past its bucket-bound task count. ABOVE it the hint
    * drops and the join runs cell-keyed: the index side's bucket spec
    * (`bucketBy(cells, "cell")`) already satisfies the join's required
    * distribution, so ONLY the probe side exchanges — the index never
    * shuffles in either regime (the one-sided contract the plan spec
    * pins for both). `spreadIfNarrow` is broadcast-regime-only on
    * purpose: a round-robin spread of the index scan would destroy the
    * bucket distribution the shuffle regime relies on. Same shape as the
    * batch family's un-hinted probe join ([[Similarity.annIvf]]).
    *
    * Estimate caveat: without CBO, filters and localCheckpoint barriers
    * inherit their child's sizeInBytes UNREDUCED, so a heavily-filtered
    * probe frame can estimate at the unfiltered size and land in the
    * shuffle regime — correct, but bound to nCells tasks on a
    * small-cell index. A caller that KNOWS its probe set is small (e.g.
    * a sampled query set cut from a checkpointed corpus) should say so
    * via `probeBroadcastBytes`.
    */
  def query(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      indexTable: String,
      k: Int,
      nProbe: Int = 2,
      maxCellSize: Int = 10000,
      excludeSelf: Boolean = true,
      fitted: Option[Array[Array[Double]]] = None,
      probeBroadcastBytes: Long = 32L << 20,
      maxTombstones: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val spark = queries.sparkSession
    graft.plans.GraftFunctions.register(spark)
    // a READER must not mutate the catalog, but it must also never pair
    // a half-swapped rebuild's new index with the old sidecar (silently
    // wrong probes) — detect the crash residue and fail actionably
    if (spark.catalog.tableExists(
        centroidsTableName(indexTable) + RebuildSuffix) ||
        spark.catalog.tableExists(indexTable + RebuildSuffix))
      throw new IllegalStateException(
        s"a rebuild of $indexTable crashed mid-swap (__rebuild residue " +
          "present) — run IncrementalAnn.recover, or rebuild again, " +
          "before querying")
    val centroids = fitted.getOrElse(
      loadCentroids(spark, centroidsTableName(indexTable)))
    require(nProbe <= centroids.length,
      s"nProbe=$nProbe exceeds the index's ${centroids.length} cells")
    val centStr = centroids.map(_.mkString(",")).mkString(";")
    val probes = Similarity.spreadIfNarrow(
        queries.filter(col(vecCol).isNotNull))
      .select(col(idCol).as("q_id"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("q_vec"))
      .select(col("q_id"), col("q_vec"),
        explode(slice(
          call_function("graft_ivf_cells", col("q_vec"), lit(centStr)),
          1, nProbe)).as("p"))
      .select(col("q_id"), col("q_vec"), col("p").getField("c").as("cell"))
    // pending tombstones are applied BEFORE the cap gate on purpose: the
    // gate's distinct-id counts must see the index the parity contract
    // describes (delete + query ≡ query over survivors — a cell over the
    // cap only because of deleted rows would otherwise stay wrongly
    // excluded until compaction). The anti-join broadcasts the (gated)
    // tombstone set against the streaming scan, so the one-sided property
    // and the bucketed partitioning both survive — the okCells partial
    // below stays exchange-free.
    val idx = notTombstoned(spark, indexTable, spark.table(indexTable),
      maxTombstones)
    // cap gate: per-cell DISTINCT-id counts — the streaming ingest is
    // at-least-once, so a crash-window re-append can leave duplicate
    // rows; a RAW count would let those duplicates push a near-cap cell
    // over the gate and silently exclude the whole cell's neighbors
    // until rebuildFromIndex reconciles (ADVICE r14). The scan is
    // column-pruned to (cell, id) — still no vector bytes — and BOTH
    // aggregate phases stay exchange-free: the partial distinct groups
    // by (cell, id), which the bucketed read's hash-on-cell already
    // clusters (cell ⊆ the grouping keys), and the final count groups
    // by the bucket column itself. The kept-cell table is ≤ nCells
    // rows, broadcast.
    val okCells = idx.select(col("cell"), col("id"))
      .groupBy(col("cell")).agg(countDistinct(col("id")).as("__n"))
      .filter(col("__n") <= maxCellSize)
      .select(col("cell"))
    // one-sided probe join, regime picked by probe SIZE (scaladoc above).
    // Small probes broadcast; the index side is then free to spread —
    // a bucketed scan is task-per-bucket and non-splittable, so on a
    // small-nCells index the verify pass is otherwise bound to nCells
    // tasks no matter how many cores exist (measured: 8 tasks max through
    // a 30k-row verify on 32 cores), and a broadcast join gains nothing
    // from the bucketing (at real scale a 10k-list index already exceeds
    // any executor count and the spread is a no-op). Large probes join
    // cell-keyed instead: the bucket spec keeps the index side
    // exchange-free (only the probe side shuffles, into the bucket
    // partitioning), so the index is never broadcast-sized OR shuffled.
    // The stats estimate reads the UNPRUNED query frame — an
    // overestimate, which errs toward the always-correct shuffle regime.
    val probeSmall =
      queries.queryExecution.optimizedPlan.stats.sizeInBytes *
        nProbe <= probeBroadcastBytes
    // The large regime joins UN-HINTED (Spark picks sort-merge): an
    // interleaved A/B at the 30× rehearsal measured SMJ and shuffle_hash
    // at parity (523 vs 530 s — the wall is the bucket-bound task count,
    // not the join; per-core throughput matches the broadcast path), and
    // SMJ's buffered-group spill degrades GRACEFULLY when a drifted
    // corpus-sized query batch concentrates its probes into few cells —
    // nothing caps probe rows per cell (maxCellSize caps the lists, not
    // the probes), so a hash build of the probe side could OOM exactly
    // where SMJ spills and survives.
    val cand =
      if (probeSmall)
        Similarity.spreadIfNarrow(idx)
          .join(broadcast(okCells), Seq("cell"))
          .join(broadcast(probes), Seq("cell"))
      else
        idx.join(broadcast(okCells), Seq("cell"))
          .join(probes, Seq("cell"))
    val scored = (if (excludeSelf) cand.filter(col("q_id") =!= col("id"))
      else cand)
      .select(col("q_id"), col("id").as("n_id"),
        round(call_function("graft_cosine", col("q_vec"), col("vec")), 4)
          .as("sim4"))
    Similarity.topKPerQuery(scored, k)
  }

  /** Re-train the quantizer on `corpus` and rewrite the whole index under
    * it — the OFFLINE maintenance op of a real IVF index (inserts assign
    * against the frozen quantizer; distribution drift is fixed by a
    * rebuild, never by an append). Returns the new centroids.
    *
    * Swap protocol (the [[graft.processes.DeltaCurate]] rename-aside rule
    * extended to a COUPLED table pair): both `__rebuild` siblings are
    * fully written BEFORE any rename, then the index swaps
    * (`t → t__old`, `t__rebuild → t`, drop `t__old`), then the sidecar
    * swaps the same way. The index swap is the COMMIT POINT: a crash
    * before it rolls the rebuild back (the live pair was never touched),
    * a crash after it rolls forward (the sidecar sibling provably exists
    * and is complete, because writes precede every rename). [[recover]]
    * applies exactly that rule and runs automatically at the start of
    * every rebuild.
    *
    * Readers: rebuild is an OFFLINE op by contract — the quantizer
    * CHANGES, so even a perfectly atomic swap changes query results;
    * between the two swaps a concurrent reader could pair a new index
    * with the old sidecar. Single-writer, no-concurrent-readers, like a
    * real index re-train.
    */
  def rebuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      indexTable: String,
      nCells: Int = 8,
      iters: Int = 2): Array[Array[Double]] = {
    require(nCells > 0 && nCells <= 10000,
      s"nCells must be in (0, 10000], got $nCells")
    val spark = corpus.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val centTable = centroidsTableName(indexTable)
    recover(spark, indexTable)
    require(spark.catalog.tableExists(indexTable) &&
        spark.catalog.tableExists(centTable),
      s"rebuild needs an existing index — bootstrap $indexTable with " +
        "append() first")
    // a previous crashed rebuild may have left sibling DIRS without
    // catalog entries (recover() dropped the entries) — clear them so the
    // managed-table create below cannot die on LOCATION_ALREADY_EXISTS
    Seq(indexTable, centTable).foreach { t =>
      dropTableAndDir(spark, t + RebuildSuffix)
    }
    val centroids = Clustering.kmeansFit(corpus, idCol, vecCol,
      nCells, iters)
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid")
      .write.mode("overwrite").saveAsTable(centTable + RebuildSuffix)
    assign(corpus, idCol, vecCol, centroids)
      .repartition(centroids.length, col("cell"))
      .write.mode("overwrite")
      .bucketBy(centroids.length, "cell").sortBy("cell")
      .saveAsTable(indexTable + RebuildSuffix)
    // commit point: the index swap; then the sidecar swap
    swapIn(spark, indexTable)
    swapIn(spark, centTable)
    // a rebuild rewrites every row under the caller's authoritative
    // corpus, so pending tombstones are consumed by it: leaving them
    // would re-delete ids the new corpus legitimately re-added. Cleared
    // AFTER the commit point — a crash before the swap keeps the old
    // index AND its tombstones (still consistent); a crash between the
    // swaps and this drop leaves tombstones naming ids the caller either
    // excluded (anti-join no-op) or re-added (suppressed until the next
    // compact — the conservative direction, same as deleteIds' contract).
    dropTableAndDir(spark, tombstonesTableName(indexTable))
    centroids
  }

  /** [[rebuild]] sourced from the index's own rows — the maintenance form
    * for a continuously-ingested index whose authoritative corpus IS the
    * index (the streaming-ingest deployment). Duplicate ids are dropped
    * before the refit: the ingest commit log's append-before-log crash
    * window re-appends a micro-batch (at-least-once — see
    * [[graft.streaming.StreamingAnnIngest]]), and the rebuild, which
    * rewrites every row anyway, is the designated reconciliation point
    * that removes those duplicates EXACTLY. A duplicate shares its id's
    * vector by construction (same row re-appended), so keeping any copy
    * is correct; the dedup is one exchange on id inside an operation
    * that already rewrites the whole index.
    */
  def rebuildFromIndex(
      spark: SparkSession,
      indexTable: String,
      nCells: Int = 8,
      iters: Int = 2): Array[Array[Double]] = {
    // self-heal BEFORE the eager spark.table() analysis (review finding
    // r14): a prior rebuild crashed between swapIn's two renames leaves
    // the live name missing with __old holding the only copy — the
    // designated reconciliation op must recover that state itself, like
    // every other writer entry point, not die on TABLE_NOT_FOUND before
    // rebuild()'s own recover() can run. recover is idempotent; the
    // second call inside rebuild() is a handful of catalog probes.
    recover(spark, indexTable)
    // pending tombstones are honored by the refit source (a takedown must
    // not survive INTO the rebuilt index via the index's own rows) — the
    // anti-join is deliberately un-hinted: this op rewrites every row
    // anyway, so a tombstone set too large to broadcast just shuffles,
    // which is exactly the degraded mode a huge takedown batch deserves.
    // rebuild() clears the sidecar after its commit point.
    val tombTable = tombstonesTableName(indexTable)
    val corpus0 = spark.table(indexTable).select(col("id"), col("vec"))
    val corpus = (if (spark.catalog.tableExists(tombTable))
        corpus0.join(spark.table(tombTable).select(col("id")),
          Seq("id"), "left_anti")
      else corpus0).dropDuplicates("id")
    rebuild(corpus, "id", "vec", indexTable, nCells, iters)
  }

  /** Physical delete + garbage collection ([EXT] — [[deleteIds]]' other
    * half): rewrite the index WITHOUT tombstoned ids and without the
    * at-least-once crash window's duplicate (cell, id) rows, under the
    * UNCHANGED quantizer (the centroid sidecar is read-only here —
    * re-training stays [[rebuild]]'s job), then clear the tombstone
    * sidecar. Returns the surviving row count.
    *
    * Contract the spec + q_ann_incr_del_md5 oracle pin:
    *
    *   compact(delete(ids)) then query ≡ query over the index built from
    *   the survivors under the same quantizer
    *
    * — and [[query]] answers identically BEFORE and AFTER the compact
    * (the tombstone anti-join and the physical rewrite are the same
    * decision), so compaction never changes results, only reclaims space
    * and removes the per-query tombstone filter.
    *
    * Scale shape: one bucketed scan → (un-hinted) tombstone anti-join →
    * per-(cell, id) keeper → bucketed write of the SAME spec. With a
    * broadcastable tombstone set the whole rewrite is exchange-free: the
    * bucketed scan's hash-on-cell satisfies the keeper grouping
    * (cell ⊆ keys) and the write's repartition(cells, cell) is the
    * identity mapping the planner elides. Duplicate ids share their
    * vector by the at-least-once contract (the same row re-appended), so
    * keeping any copy is exact.
    *
    * Crash windows (the [[rebuild]] machinery, single table): the
    * `__rebuild` sibling is fully written before the swap; [[recover]]
    * rolls a pre-swap crash back (index + tombstones untouched — rerun
    * compact) and a mid-swap crash to the recoverable copy. The
    * tombstone drop comes AFTER the swap (commit point): a crash between
    * them leaves tombstones naming ids that no longer exist — an
    * anti-join no-op, cleared by the next compact. Offline/single-writer
    * like rebuild.
    */
  def compact(spark: SparkSession, indexTable: String,
      fitted: Option[Array[Array[Double]]] = None): Long = {
    recover(spark, indexTable)
    require(spark.catalog.tableExists(indexTable),
      s"compact needs an existing index — bootstrap $indexTable with " +
        "append() first")
    // bucket count always follows the quantizer in force (the append
    // rule); `fitted` is the append/query chaining contract (optimization
    // r16, guide §5 — only the cell count is read, but wrong models here
    // mean a wrong bucket spec, same severity; when in doubt, omit)
    val cells = fitted.getOrElse(
      loadCentroids(spark, centroidsTableName(indexTable))).length
    // a previous crashed rebuild/compact may have left a sibling DIR
    // without a catalog entry (recover() dropped the entry)
    dropTableAndDir(spark, indexTable + RebuildSuffix)
    val tombTable = tombstonesTableName(indexTable)
    val scan = spark.table(indexTable)
    val live =
      if (spark.catalog.tableExists(tombTable))
        scan.join(spark.table(tombTable).select(col("id").as("__del")),
          col("id") === col("__del"), "left_anti")
      else scan
    // the audit count rides the rewrite job as an observe metric
    // (optimization r16, guide §5 — it used to be a second scan of the
    // just-written table; the rewrite's own row count IS the compacted
    // table's count). Never statically empty (the observed subtree is
    // the full rewrite), so the metric always fulfills.
    val nObs = org.apache.spark.sql.Observation()
    live
      .groupBy(col("cell"), col("id"))
      .agg(first(col("vec")).as("vec"))
      .observe(nObs, count(lit(1)).as("n"))
      .repartition(cells, col("cell"))
      .write.mode("overwrite")
      .bucketBy(cells, "cell").sortBy("cell")
      .saveAsTable(indexTable + RebuildSuffix)
    swapIn(spark, indexTable)
    dropTableAndDir(spark, tombTable)
    nObs.get("n").asInstanceOf[Long]
  }

  /** Maintenance decision (verdict r13 #3 — "nothing consumes
    * quantizerDrift"): turn the index's two staleness signals — the PSI
    * from [[quantizerDrift]]/[[cellDrift]] and the inverted-list size
    * histogram vs the probe cap — into the rebuild/no-rebuild decision
    * plus a recommended cell count. This is exactly the loop the 100×
    * rehearsal executed by hand (healthy growth tripping the cap gate →
    * rebuild at 64 cells → 6.8× query win, SCALE_REHEARSAL.md), promoted
    * to an operator.
    *
    * Input: a drift frame from [[quantizerDrift]] (or [[cellDrift]] for
    * catalog-free callers) — ≤ nCells rows of
    * (cell, n_index, n_batch, psi6). One output row:
    *  - `n_cells`, `n_index_rows`, `n_batch_rows`, `max_list`,
    *    `psi_micro` (the PSI in 1e-6 units: each per-cell round-6
    *    contribution becomes an exact integer micro value and the sum is
    *    an associative bigint fold — a plain double sum is
    *    addition-order-dependent in the last ulps across engines, the
    *    q_lr_quality/MMR integer micro-unit lesson. The usual working
    *    rule: < 100000 (0.1) stable, > 250000 (0.25) rebuild);
    *  - `over_cap` = any list past `maxCellSize` (the query gate would
    *    start excluding healthy cells — the growth signal);
    *  - `drifted`  = psi6 > `psiThreshold` (the distribution signal);
    *  - `rebuild`  = either;
    *  - `recommended_cells` = when rebuilding, the smallest power of two
    *    that puts the EXPECTED list size (total rows incl. the batch)
    *    at or under half the cap — headroom so the very next appends
    *    don't re-trip the gate — and never fewer cells than now; when
    *    not rebuilding, the current `n_cells`. SATURATES at
    *    `maxRecommendedCells` (default 10000 — the writers' own nCells
    *    limit, so the recommendation is always one [[rebuild]] will
    *    accept; review finding r14): a corpus needing more cells than
    *    the writers allow needs capacity planning beyond this
    *    heuristic, the saturated rebuild still helps (more cells than
    *    now), and `over_cap` re-trips afterward to keep signaling.
    *
    * Everything is exact integer/round-6 arithmetic over a ≤ nCells-row
    * frame, so the whole DECISION is hash-oracled (q_ann_policy replays
    * it in SQL over the same k-means CTEs as q_ann_drift). Cost at
    * 100 TB: the drift frame's column-pruned directory scan dominates;
    * this is a one-row fold over it.
    */
  def maintenancePolicy(
      drift: DataFrame,
      nCells: Int,
      maxCellSize: Long = 10000L,
      psiThreshold: Double = 0.25,
      maxRecommendedCells: Int = 10000): DataFrame = {
    require(nCells > 0, s"nCells must be positive, got $nCells")
    require(maxCellSize > 1, s"maxCellSize must be > 1, got $maxCellSize")
    require(maxRecommendedCells >= nCells,
      s"maxRecommendedCells ($maxRecommendedCells) must be >= the " +
        s"current cell count ($nCells)")
    val target = maxCellSize / 2
    val psiMicroThreshold = math.round(psiThreshold * 1e6)
    val powers = array((0 to 20).map(i => 1L << i)
      .filter(_ <= maxRecommendedCells).map(lit): _*)
    drift
      .agg(
        sum(col("n_index")).as("n_index_rows"),
        sum(col("n_batch")).as("n_batch_rows"),
        max(col("n_index")).as("max_list"),
        sum(round(col("psi6") * 1e6).cast("long")).as("psi_micro"))
      .select(
        lit(nCells.toLong).as("n_cells"),
        col("n_index_rows"), col("n_batch_rows"), col("max_list"),
        col("psi_micro"),
        (col("max_list") > maxCellSize).cast("long").as("over_cap"),
        (col("psi_micro") > psiMicroThreshold).cast("long").as("drifted"))
      .withColumn("rebuild",
        greatest(col("over_cap"), col("drifted")))
      .withColumn("recommended_cells",
        when(col("rebuild") === 1L,
          // smallest power of two ≥ both ceil(total/target) and the
          // current cell count — exact integer division (`div`), no
          // float log2 boundary risk; when even the largest allowed
          // power can't reach the target list size, SATURATE at the
          // writers' limit instead of recommending a cell count
          // rebuild() would reject (or NULL, which callers would NPE on)
          coalesce(
            array_min(filter(powers, p =>
              p >= expr(s"(n_index_rows + n_batch_rows + ${target - 1}) " +
                s"div $target") && p >= lit(nCells.toLong))),
            lit(maxRecommendedCells.toLong)))
          .otherwise(lit(nCells.toLong)))
  }

  /** Complete or abort a rebuild that crashed mid-swap, per the commit
    * rule in [[rebuild]]'s scaladoc:
    *  - index `__rebuild` sibling still present → the commit point was
    *    not passed (writes may even be half-done) → ROLL BACK: drop both
    *    siblings; if the crash split the index swap's two renames
    *    (live name missing, `__old` present), restore `__old` first.
    *  - index sibling consumed but the sidecar's still present → the
    *    commit point WAS passed → ROLL FORWARD: finish the sidecar swap
    *    (its sibling is provably complete — writes precede renames).
    *  - stray `__old` copies after both swaps → drop them.
    * Idempotent; safe to call on a healthy index (no-op). Runs
    * automatically at the start of [[rebuild]].
    */
  def recover(spark: SparkSession, indexTable: String): Unit = {
    val centTable = centroidsTableName(indexTable)
    val idxReb = indexTable + RebuildSuffix
    if (spark.catalog.tableExists(idxReb)) {
      // pre-commit: roll back. The index swap may have died between its
      // renames — live name gone, __old holding the only live copy.
      if (!spark.catalog.tableExists(indexTable) &&
          spark.catalog.tableExists(indexTable + OldSuffix))
        spark.sql(s"ALTER TABLE ${indexTable + OldSuffix} " +
          s"RENAME TO $indexTable")
      spark.sql(s"DROP TABLE IF EXISTS $idxReb")
      spark.sql(s"DROP TABLE IF EXISTS ${centTable + RebuildSuffix}")
    } else if (spark.catalog.tableExists(centTable + RebuildSuffix)) {
      // post-commit: roll forward the sidecar swap from wherever it died
      if (spark.catalog.tableExists(centTable) &&
          !spark.catalog.tableExists(centTable + OldSuffix))
        spark.sql(s"ALTER TABLE $centTable " +
          s"RENAME TO ${centTable + OldSuffix}")
      if (!spark.catalog.tableExists(centTable))
        spark.sql(s"ALTER TABLE ${centTable + RebuildSuffix} " +
          s"RENAME TO $centTable")
    }
    Seq(indexTable, centTable).foreach { t =>
      if (spark.catalog.tableExists(t + OldSuffix) &&
          spark.catalog.tableExists(t))
        spark.sql(s"DROP TABLE ${t + OldSuffix}")
    }
  }

  private[operators] val RebuildSuffix = "__rebuild"
  private val OldSuffix = "__old"

  /** Single-table form of [[recover]] for ops that swap ONE table (the
    * compaction rewrites here and in [[IvfPq.compactPersisted]] — no
    * coupled sidecar, the quantizer/models are read-only): `__rebuild`
    * residue means the commit point was not passed → roll back (restore
    * `__old` if the swap's first rename ran, drop the sibling); stray
    * `__old` next to a live table → drop it. Idempotent, catalog-only on
    * a healthy table.
    */
  private[operators] def recoverTable(spark: SparkSession,
      table: String): Unit = {
    if (spark.catalog.tableExists(table + RebuildSuffix)) {
      if (!spark.catalog.tableExists(table) &&
          spark.catalog.tableExists(table + OldSuffix))
        spark.sql(s"ALTER TABLE ${table + OldSuffix} RENAME TO $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table + RebuildSuffix}")
    }
    if (spark.catalog.tableExists(table + OldSuffix)) {
      if (spark.catalog.tableExists(table))
        spark.sql(s"DROP TABLE ${table + OldSuffix}")
      else
        // not a window swapIn can produce, but the restore is always safe
        spark.sql(s"ALTER TABLE ${table + OldSuffix} RENAME TO $table")
    }
  }

  /** `t → t__old`, `t__rebuild → t`, drop `t__old` — at every instant a
    * complete copy exists under a recoverable name (the rename-aside
    * rule; [[recover]] handles every crash window).
    */
  private[operators] def swapIn(spark: SparkSession, table: String): Unit = {
    spark.sql(s"ALTER TABLE $table RENAME TO ${table + OldSuffix}")
    spark.sql(s"ALTER TABLE ${table + RebuildSuffix} RENAME TO $table")
    spark.sql(s"DROP TABLE ${table + OldSuffix}")
  }

  /** Drop a table AND its storage dir (a previous crash can leave the dir
    * behind with no catalog entry, poisoning the next managed-table create
    * with LOCATION_ALREADY_EXISTS).
    *
    * The dir is resolved from the CATALOG, not reconstructed as
    * `<warehouse>/<name>` (ADVICE r13): a database-qualified `db.tbl`
    * lives under `db.db/tbl` and a custom warehouse layout anywhere — a
    * hand-built path silently misses both, leaving the self-heal inert
    * against the exact failure it exists to prevent. While the entry
    * exists its real `location` is read from the metadata (captured
    * BEFORE the drop); for the entry-less leftover-dir case the catalog's
    * own `defaultTablePath` computes the would-be managed location,
    * honoring the database's directory.
    *
    * EXTERNAL tables are dropped catalog-only — their data is not ours to
    * delete (review finding: since [[graft.operators.IvfPq.dropPersisted]]
    * shares this helper, a user-supplied name could be an external table
    * over shared data; recursively deleting its location would destroy it
    * where `DROP TABLE` correctly leaves it). Managed tables and
    * entry-less leftover dirs keep the full table+dir cleanup.
    */
  private[operators] def dropTableAndDir(spark: SparkSession, table: String): Unit = {
    val catalog = spark.sessionState.catalog
    val parsed = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val ident = parsed.copy(database =
      parsed.database.orElse(Some(catalog.getCurrentDatabase)))
    val meta =
      if (catalog.tableExists(ident)) Some(catalog.getTableMetadata(ident))
      else None
    val external = meta.exists(_.tableType ==
      org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
    val loc = new org.apache.hadoop.fs.Path(
      meta.map(_.location).getOrElse(catalog.defaultTablePath(ident)))
    spark.sql(s"DROP TABLE IF EXISTS $table")
    if (!external) {
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }
  }

  /** Quantizer staleness report — the "when to rebuild" signal. PSI
    * between the INDEX's cell distribution and a new batch's assignment
    * under the same (frozen) quantizer: a batch that no longer looks like
    * the corpus the quantizer was trained on concentrates into few cells,
    * degrading probe recall and skewing the inverted lists — exactly the
    * drift [[rebuild]] exists to fix. One row per cell with both counts
    * and the 6-decimal PSI contribution (sum = the PSI; the usual
    * working rule: < 0.1 stable, > 0.25 rebuild).
    *
    * Cost: one column-pruned directory scan of the index (`cell` only,
    * exchange-free agg on the bucket column), one narrow kernel pass over
    * the batch, and a ≤ nCells-row join — at 100 TB this is the cheap
    * monitoring pass a real system runs per ingest. The epsilon/rounding
    * contract mirrors [[Profiling.psi]].
    */
  def quantizerDrift(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexTable: String,
      fitted: Option[Array[Array[Double]]] = None): DataFrame = {
    val spark = batch.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val centroids = fitted.getOrElse(
      loadCentroids(spark, centroidsTableName(indexTable)))
    cellDrift(spark.table(indexTable).select(col("cell")),
      batch, idCol, vecCol, centroids)
  }

  /** [[quantizerDrift]] over FRAMES: `indexCells` is any frame carrying
    * the index's `cell` column (the table scan, or an [[assign]] result
    * for catalog-free callers — the q_ann_drift oracle surface).
    */
  def cellDrift(
      indexCells: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val p = indexCells.select(col("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n_index"))
    val c = assign(batch, idCol, vecCol, centroids)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_batch"))
    // tiny (≤ nCells rows) joined frame, materialized once; totals come
    // from it rather than re-scanning either input (the Profiling.psi
    // totals rule), and the epsilon floor keeps empty-on-one-side cells
    // finite with the same 1e-6 / round-6 contract
    val joined = p.join(c, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_index"), lit(0L)).as("n_index"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"))
      .localCheckpoint()
    val eps = lit(1e-6)
    val pr = greatest(col("n_index") / col("__ti"), eps)
    val qr = greatest(col("n_batch") / col("__tb"), eps)
    joined
      .crossJoin(broadcast(joined.agg(
        sum(col("n_index")).as("__ti"), sum(col("n_batch")).as("__tb"))))
      .select(col("cell"), col("n_index"), col("n_batch"),
        round((pr - qr) * log(pr / qr), 6).as("psi6"))
  }

  /** The one narrow assignment pass every writer shares: (cell, id, vec)
    * for each non-null vector under the given centroids — element 1 of the
    * fused `graft_ivf_cells` kernel's (sim6 DESC, cell ASC) order, the
    * identical argmax the batch family and the oracle replay use. Public:
    * it is also the catalog-free "what WOULD this batch look like in the
    * index" surface ([[cellDrift]] consumers).
    */
  def assign(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val centStr = centroids.map(_.mkString(",")).mkString(";")
    Similarity.spreadIfNarrow(batch.filter(col(vecCol).isNotNull))
      .select(col(idCol).as("id"),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("vec"))
      .select(
        element_at(call_function("graft_ivf_cells", col("vec"), lit(centStr)),
          1).getField("c").as("cell"),
        col("id"), col("vec"))
  }

  /** The index's quantizer, read from the sidecar — the public form of
    * the bounded read every append/query pays when not fitted-chained
    * (a long-lived caller, e.g. the streaming ingest, reads it once and
    * chains it through every micro-batch).
    */
  def centroids(spark: SparkSession, indexTable: String): Array[Array[Double]] =
    loadCentroids(spark, centroidsTableName(indexTable))

  /** Bounded sidecar read: ≤ nCells (cell, centroid) rows, ordered by
    * cell so index position = cell id (the kernel's centroid-table
    * contract).
    */
  private def loadCentroids(
      spark: SparkSession, centTable: String): Array[Array[Double]] = {
    // EVERY sidecar read refuses crashed-rebuild residue (not just
    // query's explicit pre-check): a reader that consumed the OLD
    // sidecar next to a NEW index would be silently wrong — centroids(),
    // quantizerDrift, and the streaming ingest all arrive here
    if (spark.catalog.tableExists(centTable + RebuildSuffix))
      throw new IllegalStateException(
        s"a rebuild around $centTable crashed mid-swap (__rebuild " +
          "residue present) — run IncrementalAnn.recover, or rebuild " +
          "again, before reading the quantizer")
    if (!spark.catalog.tableExists(centTable))
      throw new IllegalStateException(
        s"centroid sidecar $centTable does not exist — bootstrap the " +
          "index with append() first")
    val rows = spark.table(centTable)
      .orderBy(col("cell")).collect()
    require(rows.nonEmpty, s"centroid sidecar $centTable is empty")
    rows.zipWithIndex.foreach { case (r, i) =>
      require(r.getLong(0) == i.toLong,
        s"centroid sidecar $centTable is not dense: expected cell $i, " +
          s"got ${r.getLong(0)} — the quantizer rows are corrupt")
    }
    rows.map(_.getSeq[Double](1).toArray)
  }
}

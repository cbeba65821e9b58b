package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The hash a sketch runs under — only what differs between the two
  * families: the MinHash and band-key kernels, the signature element type
  * (`bigint` components and band keys vs lowercase hex strings), the
  * component an empty shingle set gets, SimHash's per-token hash with its
  * bit extraction, and the hyperplane hash h(j, d) with its dimension
  * base for the vector sketch (`VectorFunctions.lshBucket`).
  */
sealed abstract class SketchHash(
    private[graft] val minhashKernel: String,
    private[graft] val bandKernel: String,
    private[graft] val elemType: String) {
  /** Signature component of an empty or null shingle set. */
  private[graft] def emptyComponent: Column
  /** SimHash per-token hash, computed once per token. */
  private[graft] def tokenHash(t: Column): Column
  /** Bit `i` (an int column) of a [[tokenHash]] value, as a 0/1 bigint. */
  private[graft] def bit(h: Column, i: Column): Column
  /** Hyperplane `j`'s hash at dimension index `d` (an int column); the
    * weight is `(pmod(h, 2001) − 1000) / 1000`.
    */
  private[graft] def planeHash(j: Int, d: Column): Column
  /** Index of a vector's first dimension as [[planeHash]] sees it. */
  private[graft] def dimBase: Int
}

object SketchHash {

  /** xxhash64 permutations: the fast path, Spark-only. The empty-set
    * component is Long.MaxValue (the identity of min); SimHash bit i is
    * bit i of the token's 64-bit hash; the hyperplane hash is
    * xxhash64(j, d) over 0-based dims (the `graft_lsh_bucket` kernel).
    */
  case object XxHash64
      extends SketchHash("graft_minhash", "graft_lsh_bands", "bigint") {
    private[graft] def emptyComponent: Column = lit(Long.MaxValue)
    private[graft] def tokenHash(t: Column): Column = xxhash64(t)
    // call_function: the Scala shiftright wrapper only takes an Int
    // shift amount; the SQL function takes an expression
    private[graft] def bit(h: Column, i: Column): Column =
      call_function("shiftright", h, i).bitwiseAND(lit(1L))
    private[graft] def planeHash(j: Int, d: Column): Column = xxhash64(lit(j), d)
    private[graft] val dimBase: Int = 0
  }

  /** md5 permutations: bit-identical in every engine, so the oracle can
    * replay the sketch. The empty-set component is NULL (DuckDB's
    * `list_min([])`); SimHash bit i reads hex digit i/4 of the token's
    * md5, bit 3-(i%4) (MSB-first within the digit); the hyperplane hash
    * is the first three hex digits of md5("j d") over 1-based dims (SQL
    * `generate_series(1, len(e))`).
    */
  case object Md5
      extends SketchHash("graft_minhash_md5", "graft_lsh_bands_md5", "string") {
    private[graft] def emptyComponent: Column = lit(null).cast("string")
    private[graft] def tokenHash(t: Column): Column = md5(t)
    private[graft] def bit(h: Column, i: Column): Column = {
      val pos = call_function("shiftright", i, lit(2)) + lit(1)
      val digit = conv(call_function("substring", h, pos, lit(1)), 16, 10)
        .cast("long")
      call_function("shiftright", digit, lit(3) - i.bitwiseAND(lit(3)))
        .bitwiseAND(lit(1L))
    }
    private[graft] def planeHash(j: Int, d: Column): Column =
      conv(substring(md5(concat(lit(s"$j "), d.cast("string"))), 1, 3),
        16, 10).cast("long")
    private[graft] val dimBase: Int = 1
  }
}

/** Deduplication operators for training-data pipelines ([EXT], SURVEY.md §7.2
  * step 6): exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Exact dedup shuffles O(#docs) 16-byte digests, not document bodies —
  *    group keys are md5 fingerprints computed scan-side.
  *  - MinHash/LSH is the classic two-stage candidate plan: per-doc signatures
  *    are a narrow map (codegen'd array expressions, no shuffle); only the
  *    banded bucket ids are exploded and shuffled (b rows/doc, b≈8), and the
  *    expensive Jaccard verify runs solely on same-bucket candidate pairs —
  *    never all-pairs. Bucket skew (a degenerate band value holding millions
  *    of docs) is capped before the self-join.
  *  - SimHash packs a document to one 64-bit value; near-dup candidates at
  *    cluster scale come from grouping on rotated prefixes, here we expose the
  *    signature itself plus a Hamming-distance verifier.
  * All of it is built from Spark built-ins (xxhash64 / higher-order array
  * functions) — matching the reference's expression-first design cue (zero
  * UDFs; SURVEY.md §2.J). The HOF lambdas evaluate interpreted
  * (CodegenFallback) inside the codegen'd stage — acceptable for these
  * cheap per-element bodies; see TextAnalysis scaladoc for the rule on
  * what must NOT go inside a lambda.
  *
  * Each text-sketch family (MinHash signature, LSH band keys, SimHash) is
  * ONE operator chain that takes its hash as a [[SketchHash]] argument:
  * xxhash64 is the fast Spark-only family, md5 the cross-engine one the
  * DuckDB oracle replays. Both run every operator but the hash.
  */
object Dedup {

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** One row per distinct fingerprint: keeper id (min), duplicate count. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** Incremental exact dedup against a persisted BUCKETED fingerprint
    * index ([EXT]): the daily-increment shape of a 100 TB pipeline. The
    * historical index is a table bucketed on `fp`, so the anti-join
    * against it shuffles ONLY the new batch (the bucketed scan already
    * satisfies the join's distribution — history, the petabyte side,
    * never moves); the survivors' fingerprints then append in the same
    * bucket layout, keeping every future increment one-sided too.
    *
    * Semantics: the min-id copy of each fingerprint new to the index
    * survives (exactGroups' keeper rule applied within the increment);
    * fingerprints already indexed drop entirely. A missing table
    * bootstraps from this increment. Returns the surviving rows of `df`
    * (materialized before the index append, so the result is stable).
    *
    * Precondition: `idCol` is unique and non-null within `df` (the
    * snapshot contract). The keeper is a `min_by` over the id: rows tied
    * on the minimum id keep an arbitrary one of them, and `min_by`
    * ignores null ids, so a fingerprint whose ids are all null keeps an
    * all-null row.
    */
  def incrementalExact(
      df: DataFrame,
      textCol: String,
      idCol: String,
      indexTable: String,
      buckets: Int = 64): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    require(!df.columns.contains("__fp") && !df.columns.contains("__keep"),
      "input must not already contain __fp/__keep columns")
    val spark = df.sparkSession
    val firsts = keeperRows(
      df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))), idCol)
    val fresh =
      if (spark.catalog.tableExists(indexTable)) {
        firsts.join(spark.table(indexTable)
            .select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
      } else firsts
    // SEVER the plan from the table before mutating it: a persist is not
    // enough — the table append invalidates dependent cache entries and
    // the result would silently recompute against the UPDATED index
    // (dropping everything); localCheckpoint materializes eagerly and
    // cuts the lineage entirely
    val out = fresh.localCheckpoint()
    val newFps = out.select(col("__fp").as("fp"))
    // append via saveAsTable WITH the bucket spec: plain insertInto would
    // write unbucketed files into a bucketed layout (silent corruption of
    // the one property the index exists for); saveAsTable validates the
    // spec against the existing table
    // repartition on the bucket expression first: repartition(n, c) is
    // the SAME murmur3-pmod mapping as the bucket id, so each task holds
    // one bucket and writes ONE file (instead of a file per bucket per
    // input partition — a small-files tax every later index scan pays)
    newFps.repartition(buckets, col("fp"))
      .write.mode(if (spark.catalog.tableExists(indexTable)) "append"
        else "overwrite")
      .bucketBy(buckets, "fp").sortBy("fp")
      .saveAsTable(indexTable)
    out.drop("__fp")
  }

  /** The in-increment exact keeper: the min-`idCol` row per `__fp`, as
    * ONE `min_by` aggregation — exchange-free over a hash(__fp)-
    * partitioned frame, where a groupBy(min) + self-join back to the rows
    * would pay a second exchange and a sort-merge join. Output columns
    * are `__fp`, then the input's other columns in order. Column names
    * are quoted into the struct and read back with `getField`, so dotted
    * names (`meta.src`) pass through. Ids must be unique and non-null
    * (see [[incrementalExact]]).
    */
  private[graft] def keeperRows(df: DataFrame, idCol: String): DataFrame = {
    def quoted(c: String) = col("`" + c.replace("`", "``") + "`")
    val others = df.columns.filter(_ != "__fp")
    df.groupBy(col("__fp"))
      .agg(min_by(struct(others.map(quoted): _*), quoted(idCol)).as("__s"))
      .select(col("__fp") +: others.map(c => col("__s").getField(c).as(c)): _*)
  }

  /** Incremental NEAR-dup suppression against a persisted signature
    * index ([EXT]) — the MinHash sibling of [[incrementalExact]]: a new
    * batch drops every document whose estimated Jaccard (matching
    * MinHash components / k) against ANY indexed document reaches
    * `threshold`; survivors' banded signatures append to the index.
    *
    * Index design for the one-sided-shuffle property: the band id is
    * baked INTO the key string (`md5(band || "|" || components)`), so the
    * index is a single-column-keyed table bucketed on `key` — the
    * candidate equi-join and the per-key cap aggregation are both
    * satisfied by the bucketed scan, and only the (small) batch side
    * ever shuffles. Signatures are stored with each band row, so the
    * verify needs no text and no second pass over history.
    *
    * md5 permutations (not xxhash64) keep the whole decision replayable
    * by an independent engine — the q_incr_neardup oracle recomputes
    * both increments in SQL. Batch documents are only checked against
    * the index, not each other (intra-batch near-dup is [[nearDupPairs]]'
    * job); documents with no shingles have null band keys and pass
    * through unexamined, and never enter the index.
    *
    * Skew guard: index keys holding more than `maxBucket` rows are
    * excluded from candidate generation (degenerate boilerplate bands) —
    * the count aggregation is shuffle-free thanks to the bucketed layout.
    */
  def incrementalNearDupMd5(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexTable: String,
      k: Int = 8,
      bands: Int = 4,
      threshold: Double = 0.7,
      maxBucket: Int = 1000,
      buckets: Int = 64): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(buckets > 0 && maxBucket > 0, "buckets/maxBucket must be positive")
    require(!batch.columns.exists(c => c == "__sig" || c == "__bk"),
      "input must not already contain __sig/__bk columns")
    val spark = batch.sparkSession
    require(!batch.columns.contains("__sh"),
      "input must not already contain a __sh column")
    // Materialize the signatures BEFORE anything joins over them: the
    // minhash transform is an interpreted HOF tree, and without this cut
    // projection collapse inlines the WHOLE tree into the candidate
    // join's filter — re-hashing every shingle of a document once per
    // candidate row it meets (measured 26 s vs 0.3 s on a 500-doc
    // increment). Index-table lineage is severed separately by the
    // survivor checkpoint below (the incrementalExact rule: appending
    // invalidates dependent caches and a lazy result would recompute
    // against the UPDATED index, dropping everything).
    val withSig = withSketch(
        Similarity.spreadIfNarrow(batch), textCol, k, bands, SketchHash.Md5)
      .localCheckpoint()
    val batchBands = withSig.select(col(idCol).as("__bid"),
      col("__sig").as("__bsig"), explode(col("__bk")).as("key"))
    val (dropIdsOpt, matchedCache) =
      (if (spark.catalog.tableExists(indexTable)) {
        val idx = spark.table(indexTable)
        // The bucket-cap counts do NOT aggregate the whole index (the
        // DeltaCurate.run shape): index rows are first semi-joined to
        // the batch's band keys, and that ONE filtered scan — persisted,
        // materialized inside the survivor-checkpoint action — feeds
        // both the degenerate-bucket cap and the candidate join. A key's
        // matched rows are ALL of its index rows, so the per-key counts
        // equal full-index counts exactly; per-batch aggregate work is
        // O(index rows matching batch keys), not O(index).
        val batchKeys = withSig
          .select(explode(col("__bk")).as("key")).distinct()
        val matched = idx.join(batchKeys, Seq("key"), "left_semi")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val okKeys = matched.groupBy(col("key"))
          .agg(count(lit(1)).as("__kn"))
          .filter(col("__kn") <= maxBucket)
          .select(col("key"))
        val est = size(filter(
          zip_with(col("__bsig"), col("sig"), (a, b) => a === b),
          m => m)).cast("double") / lit(k.toDouble)
        (Some(batchBands
          .join(matched.join(okKeys, Seq("key")), Seq("key"))
          .filter(est >= lit(threshold))
          .select(col("__bid").as(idCol))
          .distinct()), Some(matched))
      // bootstrap: nothing indexed, nothing to drop, nothing reads the
      // table — no survivor checkpoint needed at all (optimization r16)
      } else (None, None))
    // ONE wide survivor checkpoint on the non-bootstrap path: the index
    // append below and every caller action read these blocks, and the
    // checkpoint (not the dropIds subtree) severs the index-table lineage
    // so the returned frame stays stable across the append. A narrow
    // verdict-only checkpoint was tried (optimization r16) and REVERTED on
    // measurement: reconstituting survivor rows from the sketch blocks via
    // an id join made every consumer (the append plus each caller action)
    // re-run a broadcast anti-join — three extra AQE queries whose
    // replanning/scheduling floor cost ~0.3-0.5 s per registry row at
    // sf0.1 (interleaved A/B: q_incr_neardup 2.8 vs 2.3 s), against a
    // materialization bounded by 1x the INCREMENT's bytes (never the
    // corpus) that is already increment-proportional at 100 TB.
    val out = dropIdsOpt match {
      case Some(d) =>
        withSig.join(d, Seq(idCol), "left_anti").localCheckpoint()
      case None => withSig
    }
    // every consumer of the shared matched-index scan has now run (the
    // survivor checkpoint above is eager; bootstrap never builds one)
    matchedCache.foreach { m => m.unpersist(); () }
    out.select(explode(col("__bk")).as("key"), col(idCol).as("id"),
        col("__sig").as("sig"))
      // one file per bucket per append (see incrementalExact)
      .repartition(buckets, col("key"))
      .write.mode(if (spark.catalog.tableExists(indexTable)) "append"
        else "overwrite")
      .bucketBy(buckets, "key").sortBy("key")
      .saveAsTable(indexTable)
    out.drop("__sig", "__bk")
  }

  /** The sketch block every signature-index writer and reader shares
    * (DeltaCurate, [[incrementalNearDupMd5]]): `__sig` (k MinHash
    * components) and `__bk` (banded keys, NULL for shingle-less docs)
    * computed from `textCol` in one narrow pass, every other column kept.
    * The persisted indexes use [[SketchHash.Md5]].
    */
  private[graft] def withSketch(df: DataFrame, textCol: String,
      k: Int, bands: Int, hash: SketchHash): DataFrame =
    sketched(df.withColumn("__sh",
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol)))),
      "__sh", k, bands, hash).drop("__sh")

  /** Adds `__sig` and `__bk` from the shingle column `shCol` — the ONE
    * null-band guard. Shingle-less docs (empty or null shingles) get NULL
    * band keys, so explode/posexplode drops them: they never become
    * candidates and never enter an index. The coalesce matters: null
    * text gives size(null) = null, which would slip past `=== 0` and put
    * every null doc into one degenerate bucket per band.
    */
  private def sketched(df: DataFrame, shCol: String, k: Int, bands: Int,
      hash: SketchHash): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    df.withColumn("__sig", minhashSignature(col(shCol), k, hash))
      .withColumn("__bk",
        when(coalesce(size(col(shCol)), lit(0)) === 0,
          lit(null).cast(s"array<${hash.elemType}>"))
          .otherwise(lshBandKeys(col("__sig"), bands, k / bands, hash)))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003) — the
    * local document-fingerprinting scheme behind MOSS-style plagiarism
    * and crawl-corpus overlap detection: hash every k-gram, slide a
    * w-gram window over the hash stream, keep each window's minimum.
    * The winnowing guarantee: any shared run of at least k + w − 1
    * tokens between two documents yields at least one SHARED
    * fingerprint, while the selected set is a ~2/(w+1) fraction of all
    * grams — so fingerprint equi-joins find partial overlap at a
    * fraction of the span-dedup seed volume (SpanDedup is the exact,
    * position-resolving tier; this is the cheap screening tier).
    *
    * Determinism contract: gram hashes are the first 8 md5 hex digits
    * (cross-engine replayable, < 2^32 so no sign issues), ties inside a
    * window resolve to the minimum VALUE (set semantics make the
    * position irrelevant), and the result is the sorted distinct
    * selection. Documents with fewer than k tokens fingerprint to an
    * empty array; with fewer than k + w − 1 tokens the single window is
    * the whole hash stream. A pure narrow expression tree — at corpus
    * scale the operator adds zero shuffles; downstream matching joins
    * explode only the selected ~2/(w+1) fraction.
    */
  def winnowFingerprints(toks: Column, k: Int = 5, w: Int = 4): Column = {
    require(k >= 1 && w >= 1, s"k and w must be positive, got ($k, $w)")
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        // codegen kernel: hash + window-min + distinct-sort in ONE pass
        // (the HOF form below pays an interpreted md5+hex+parse round
        // trip per gram and a w-element array copy per window — measured
        // 6x on the q_winnow_overlap fingerprint stage at sf0.1). Null
        // token arrays shingle to null; coalesce keeps the empty-array
        // contract. Same multi-session registration caveat as shingles.
        graft.plans.GraftFunctions.register(s)
        coalesce(
          call_function("graft_winnow",
            TextAnalysis.shingles(toks, k), lit(w)),
          array().cast("array<bigint>"))
      case None =>
        val h = transform(TextAnalysis.shingles(toks, k),
          g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
        val nw = size(h) - (w - 1)
        val sel = when(coalesce(size(h), lit(0)) === 0,
            array().cast("array<bigint>"))
          .when(nw <= 0, array(array_min(h)))
          .otherwise(transform(sequence(lit(1), nw),
            i => array_min(slice(h, i, lit(w)))))
        array_sort(array_distinct(sel))
    }
  }

  /** Partial-overlap candidate pairs via winnowing: documents sharing at
    * least one selected fingerprint, with the shared-fingerprint count as
    * the overlap strength — the cheap screening tier before the exact,
    * position-resolving [[SpanDedup]] pass. Fingerprints occurring in
    * more than `maxDf` documents are dropped before pairing (the same
    * boilerplate guard as SpanDedup's gram-df cap and lshCandidatePairs'
    * bucket cap: a viral license paragraph must not go quadratic), and
    * df < 2 fingerprints cannot pair — so the join touches only the
    * shareable slice. Returns (id_a, id_b, n_shared) with id_a < id_b.
    *
    * Scale shape: one narrow fingerprint pass (the winnow selection is
    * ~2/(w+1) of the gram stream), one (fp, count) aggregation riding
    * the same exchange as the first join side, and the pair aggregation
    * over match rows only. The fingerprint frame feeds the cap count and
    * both join sides — persisted, same lifecycle contract as
    * [[lshCandidatePairs]].
    */
  def winnowOverlapPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      w: Int = 4,
      maxDf: Int = 20): DataFrame = {
    require(maxDf >= 2, s"maxDf must be at least 2, got $maxDf")
    val fps = Similarity.spreadIfNarrow(df)
      .select(col(idCol),
        explode(winnowFingerprints(TextAnalysis.tokens(col(textCol)), k, w))
          .as("__fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairable = fps.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__c"))
      .filter(col("__c").between(2, maxDf))
      .select(col("__fp"))
    val bounded = fps.join(pairable, Seq("__fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bounded.select(col("__fp"), col(idCol).as("id_a"))
      .join(bounded.select(col("__fp"), col(idCol).as("id_b")), Seq("__fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** k-permutation MinHash signature over a shingle array, in one
    * codegen pass. Component i is the minimum over the shingles of
    *  - xxhash64(shingle, i) for [[SketchHash.XxHash64]] (the kernel
    *    hashes each shingle's bytes once and derives the k components by
    *    int-mixes), or
    *  - md5("i " + shingle) as a hex string for [[SketchHash.Md5]].
    * Empty and null shingle sets yield the hash's empty component in
    * every slot (Long.MaxValue or NULL); [[sketched]] nulls their band
    * keys so short docs never enter LSH buckets (they would otherwise all
    * share one degenerate bucket and explode O(m²) false candidates).
    * TextAnalysisSpec pins both kernels against their HOF definitions.
    */
  def minhashSignature(shingleCol: Column, k: Int, hash: SketchHash): Column = {
    graft.plans.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    // the kernels return NULL for a NULL array; the coalesce completes it
    coalesce(call_function(hash.minhashKernel, shingleCol, lit(k)),
      array(Seq.fill(k)(hash.emptyComponent): _*))
  }

  /** LSH band keys: the signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one key with the band id mixed in (xxhash64 seed
    * or `md5(band || "|" || components)`), so downstream joins and indexes
    * need no (band, key) composite. Docs sharing any key are candidates.
    * NULL signatures stay NULL.
    */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int,
      hash: SketchHash): Column = {
    graft.plans.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(hash.bandKernel, sig, lit(bands), lit(rowsPerBand))
  }

  /** Per-doc signature + band keys (the shuffle-free stage). The input is
    * spread first: tokenize, shingle and sign are per-row compute, and a
    * single-file scan would otherwise pay the whole corpus in one task
    * (see TextAnalysis scaladoc; on a real multi-file layout the spread
    * is the identity).
    */
  def minhashed(
      df: DataFrame,
      textCol: String,
      idCol: String,
      hash: SketchHash,
      k: Int = 32,
      bands: Int = 8): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    minhashedFromShingles(
      Similarity.spreadIfNarrow(df)
        .select(col(idCol), TextAnalysis.shingles(toks).as("__sh")),
      "__sh", idCol, hash, k, bands)
  }

  /** [[minhashed]] over a precomputed shingle column — lets callers that
    * also need the shingles for verification (nearDupPairs) compute and
    * cache the expensive shingle projection exactly once.
    */
  def minhashedFromShingles(
      df: DataFrame,
      shCol: String,
      idCol: String,
      hash: SketchHash,
      k: Int = 32,
      bands: Int = 8): DataFrame =
    sketched(df.select(col(idCol), col(shCol)), shCol, k, bands, hash)
      .select(col(idCol), col("__sig").as("minhash_sig"),
        col("__bk").as("band_keys"))

  /** Same-bucket candidate pairs (id_a < id_b), deduped across bands.
    * `maxBucketSize` drops degenerate buckets before the pair expansion —
    * the standard guard that keeps worst-case skew from going quadratic.
    *
    * Shape (round 12): ONE bounded-collect aggregate + an in-task codegen
    * pair generator + the cross-band distinct — two exchanges total, zero
    * persists. The pre-round-12 shape (count aggregate → broadcast cap
    * join → bucket self-join → distinct, with the bucket stream persisted
    * twice so its three consumers didn't re-run the upstream sketch) paid
    * three passes over the bucket rows and two cache materializations for
    * the same pair set. `graft_collect_capped` keeps at most cap+1 ids
    * per group on BOTH update and merge — a degenerate bucket (every
    * empty doc, a boilerplate shingle) costs 8·(cap+1) bytes per task
    * buffer, never an unbounded collect_list, and evaluates to NULL as
    * the overflow marker; `graft_pair_gen` expands the surviving
    * (sorted, exhaustive) member arrays in two tight long-loops — a
    * nested interpreted-HOF expansion measured ~3× slower at ~10M
    * candidates when this shape was first considered. Upstream
    * signature/sketch compute is consumed exactly ONCE (the aggregate's
    * map side), so nothing needs caching.
    *
    * `dedupPairs = false` skips the cross-band distinct — for consumers
    * that tolerate (or re-collapse) the ≤ `bands`-way duplicate a pair
    * shared by several bands produces: the transitive paths feed
    * [[ConnectedComponents.run]], whose own edge-canonicalization distinct
    * subsumes it, so the pair-level exchange is pure extra wall there.
    * Callers that EMIT pairs (q_neardup_pairs et al.) keep the default.
    *
    * `spreadBeforeExpand = false` skips the pre-expansion repartition —
    * for pipelines whose bucket population is known-sparse (curate's
    * keeper shingle buckets: a few hundred verified pairs), where the
    * generator's output fits one task trivially and the exchange is a
    * pure extra stage (and an extra AQE re-optimization round). Dense
    * workloads (the 4-bit embedding tables, 10k-member buckets) MUST
    * keep the default: AQE sizes the post-agg stage by array bytes, not
    * generated rows, and collapses the expansion into one 1.1 s task
    * (measured round 12).
    */
  def lshCandidatePairs(
      minhashedDf: DataFrame,
      idCol: String,
      maxBucketSize: Int = 1000,
      dedupPairs: Boolean = true,
      spreadBeforeExpand: Boolean = true): DataFrame = {
    // explicit contract (the pre-round-12 join shape accepted any id
    // type): the bounded-collect buffer is a long array. Fail at the API
    // with an actionable message instead of a CollectCapped
    // TypeCheckFailure deep in analysis.
    require(minhashedDf.schema(idCol).dataType ==
        org.apache.spark.sql.types.LongType,
      s"lshCandidatePairs requires a bigint '$idCol' (bounded-collect " +
        s"contract) — got ${minhashedDf.schema(idCol).dataType.simpleString}; " +
        "cast the id or mint one (zipWithUniqueId / monotonic id + join) " +
        "before pairing")
    val spark = minhashedDf.sparkSession
    graft.plans.GraftFunctions.register(spark)
    minhashedDf
      .select(col(idCol), posexplode(col("band_keys")).as(Seq("band", "key")))
      .groupBy(col("band"), col("key"))
      .agg(call_function("graft_collect_capped",
        col(idCol), lit(maxBucketSize)).as("__ids"))
      // NULL = overflow (> maxBucketSize members), size 1 = no partner
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
      // spread BEFORE expanding: AQE sizes the post-agg stage by the
      // shuffled array bytes, but the generator multiplies output by up
      // to n/2 per row — dense-bucket workloads (the 4-bit embedding
      // tables) otherwise collapse into ONE 1.1 s task (measured). The
      // exchange carries one capped id-array row per bucket — strictly
      // fewer bytes than the old shape's second bucket-stream shuffle.
      .transform(b => if (spreadBeforeExpand)
        b.repartition(spark.sparkContext.defaultParallelism) else b)
      // streaming generator, not explode of a materialized pairs array: a
      // materialized expansion of a cap-sized bucket is ~n²/2 row objects
      // in one task (gigabytes at maxBucketSize 10000)
      .select(call_function("graft_pair_gen", col("__ids")))
      .transform(p => if (dedupPairs) p.distinct() else p)
  }

  /** Jaccard similarity of two token/shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** ASYMMETRIC containment |A∩B| / |A| (set semantics): ~1 when A is
    * quoted/wrapped inside B even though Jaccard is low — the signal
    * symmetric near-dup misses on quote-heavy corpora (a short doc fully
    * embedded in a long one). 0 for shingle-less A.
    */
  def containment(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val da = size(array_distinct(a)).cast("double")
    when(da === 0, 0.0).otherwise(inter / da)
  }

  /** Set-overlap F1 of two token/shingle arrays (distinct-set semantics,
    * like [[jaccard]]/[[containment]]): 2·|A∩B| / (|A|+|B|) — the
    * harmonic mean of the two containment directions, the ROUGE/BLEU-
    * style balance point an eval-pair audit reads when one side quotes
    * the other ([[containment]] is direction-sensitive; [[jaccard]]
    * punishes length mismatch quadratically). 0 when both sides are
    * gram-less. One rounded division of exact integer counts.
    */
  def ngramF1(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val da = size(array_distinct(a)).cast("double")
    val db = size(array_distinct(b)).cast("double")
    when(da + db === 0, 0.0)
      .otherwise(round(lit(2.0) * inter / (da + db), 4))
  }

  /** Verified near-dup pairs: LSH candidates with true n-gram Jaccard ≥ t.
    *
    * The shingle projection — the most expensive narrow compute in the
    * whole pipeline (tokenize + window-concat per doc, interpreted HOF) —
    * is spread across the cluster, computed ONCE, and persisted; the
    * signature derives from the cached frame and both verify join sides
    * re-read it. The naive layering (signature from text, one fresh
    * shingle projection per join side) costs three full corpus passes —
    * measured 10×+ end-to-end on a single-file local scan.
    *
    * Cache lifecycle: the shingle frame is linear in corpus size and
    * stays persisted after return (the result is lazy) —
    * MEMORY_AND_DISK spills rather than OOMs, and the same
    * `spark.catalog.clearCache()` contract as Dedup/Similarity/Packing
    * applies between workloads.
    */
  def nearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      hash: SketchHash,
      k: Int = 32,
      bands: Int = 8): DataFrame = {
    val shingled = Similarity.spreadIfNarrow(df)
      .select(
        col(idCol),
        TextAnalysis.shingles(TextAnalysis.tokens(col(textCol))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    nearDupPairsFromShingled(shingled, idCol, threshold, hash, k, bands)
  }

  /** [[nearDupPairs]] over a precomputed `(idCol, sh)` shingle frame — for
    * pipelines (Curation.curate) that already materialized the shingle
    * array once and share it between decontamination and verification.
    * The caller owns the frame's lifecycle: it is consumed THREE times
    * (signature pass + both verify join sides), so it must be persisted
    * or checkpointed — handing in a raw projection re-runs the shingle
    * compute per consumer.
    *
    * `verifySide`, when supplied, is the `(idCol, sh)` frame the jaccard
    * verify joins read instead of `shingled` — for callers whose
    * signature input is a cheap lazy FILTER of an already-materialized
    * superset (curate's decontaminated keepers over the raw keeper
    * checkpoint): every candidate pair's ids come from `shingled` by
    * construction, so verifying against the superset joins the exact
    * same rows while reading checkpoint blocks instead of re-running the
    * filter subtree per join side. The caller must guarantee
    * `shingled ⊆ verifySide` with identical per-id shingle arrays.
    */
  def nearDupPairsFromShingled(
      shingled: DataFrame,
      idCol: String,
      threshold: Double,
      hash: SketchHash,
      k: Int = 32,
      bands: Int = 8,
      verifySide: Option[DataFrame] = None,
      dedupPairs: Boolean = true,
      spreadBeforeExpand: Boolean = true): DataFrame = {
    val pairs = lshCandidatePairs(
      minhashedFromShingles(shingled, "sh", idCol, hash, k, bands), idCol,
      dedupPairs = dedupPairs, spreadBeforeExpand = spreadBeforeExpand)
    // both verify sides join the IDENTICAL projection (aliased, keyed via
    // the join condition) rather than two side-renamed copies, so the two
    // verify subtrees canonicalize identically. At fixture scale this is
    // neutral (the planner broadcasts the PAIRS side — inspected round 13:
    // only one verify side builds at all); in the shuffle-join regime at
    // scale the two id-keyed exchanges over the same child dedupe via
    // ReuseExchange instead of shuffling the corpus twice.
    val verify = verifySide.getOrElse(shingled)
      .select(col(idCol), col("sh"))
    pairs
      .join(verify.as("__va"), col("id_a") === col(s"__va.$idCol"))
      .join(verify.as("__vb"), col("id_b") === col(s"__vb.$idCol"))
      .withColumn("jaccard", jaccard(col("__va.sh"), col("__vb.sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Transitive near-dup clusters: the connected components of the verified
    * pair graph, (id, component=min id of the cluster). `nearDupPairs`
    * answers "which pairs are near-dups"; this answers "which documents are
    * ONE document" — A~B and B~C put A, B, C in one cluster even though
    * A and C never paired. See [[ConnectedComponents]] for the scale story.
    */
  def nearDupClusters(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      hash: SketchHash,
      k: Int = 32,
      bands: Int = 8): DataFrame =
    ConnectedComponents.run(
      nearDupPairs(df, textCol, idCol, threshold, hash, k, bands),
      "id_a", "id_b")

  /** Quality-aware canonical selection: one keeper per near-dup cluster,
    * chosen by highest quality with ascending-id tie-break — the policy a
    * curation pipeline wants when duplicates differ in extraction quality
    * (keep the cleanest copy, not the lowest id). `clusters` is the
    * `(id, component)` frame from [[nearDupClusters]] /
    * [[ConnectedComponents.run]]; quality is looked up from
    * `docs(idCol, qualityCol)`. Null quality ranks below every real
    * score (coalesced to -Infinity on both engines, not engine-default
    * null ordering). Returns one row per component:
    * `(component, keeper_id, keeper_quality, n_members)`.
    *
    * Plan shape: one equi-join on the id (both sides narrow — (id,
    * component) vs (id, quality)) and one aggregation on the component.
    * The keeper argmax is a single `max(struct(quality, -id))` — Spark's
    * lexicographic struct ordering gives exactly "quality DESC, id ASC"
    * with no window, so skewed giant clusters still collapse map-side.
    */
  def canonicalPerCluster(
      clusters: DataFrame,
      docs: DataFrame,
      idCol: String,
      qualityCol: String): DataFrame = {
    require({
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(docs.schema(idCol).dataType)
    },
      s"canonicalPerCluster needs an integral id; '$idCol' is " +
        s"${docs.schema(idCol).dataType.simpleString} (a string id would " +
        "cast to NULL and silently drop every row)")
    val q = docs.select(col(idCol).cast("long").as("id"),
      coalesce(col(qualityCol).cast("double"),
        lit(Double.NegativeInfinity)).as("__q"))
    clusters.join(q, "id")
      .groupBy(col("component"))
      .agg(
        max(struct(col("__q"), (-col("id")).as("__negid"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(col("component"),
        (-col("__best.__negid")).cast("long").as("keeper_id"),
        col("__best.__q").as("keeper_quality"),
        col("n_members"))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** `nBits`-bit SimHash of a token array: each token hashes ONCE, votes
    * ±1 on each of the first nBits bits of its hash ([[SketchHash.bit]]),
    * and bit i of the signature is set iff its vote total is strictly
    * positive. [[SketchHash.XxHash64]] with 64 bits is the fast path
    * (streaming near-dup); [[SketchHash.Md5]] with 16 bits is the
    * cross-engine form the oracle replays. Pure array expressions (the
    * counter fold is a per-row `aggregate`, no shuffle). Null token
    * arrays give a null signature; empty ones pack 0.
    */
  def simhash(toks: Column, nBits: Int, hash: SketchHash): Column = {
    // one packed long: bit indices above 63 would WRAP (Java shift mod
    // 64) and silently alias low bits with carry corruption
    require(nBits >= 1 && nBits <= 64,
      s"nBits must be in [1, 64], got $nBits")
    val bitIdx = sequence(lit(0), lit(nBits - 1))
    val votes = aggregate(
      transform(toks, t => hash.tokenHash(t)),
      array_repeat(lit(0L), nBits),
      (acc, h) =>
        zip_with(
          acc,
          transform(bitIdx,
            i => when(hash.bit(h, i) === 1L, lit(1L)).otherwise(lit(-1L))),
          (a, v) => a + v))
    // `votes` is referenced exactly once (zip_with), so the token fold is
    // not duplicated per bit
    aggregate(
      zip_with(votes, bitIdx,
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i))
          .otherwise(lit(0L))),
      lit(0L),
      (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}

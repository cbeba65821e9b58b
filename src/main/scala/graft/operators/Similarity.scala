package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Similarity search over embedding columns ([EXT], SURVEY.md §7.2 step 6;
  * two-stage top-k layout per the distributed similarity-search literature in
  * PAPERS.md).
  *
  * Three paths:
  *  - `knnBruteForce` — exact: broadcast the candidate side, score all pairs,
  *    keep top-k per query via the bounded graft_topk partial aggregate.
  *    Correctness baseline; O(Q×N). At 100 TB this is only sane when one side
  *    is broadcastable (the usual "small query batch vs huge corpus" shape —
  *    the corpus side streams through the scan, nothing shuffles but the
  *    per-query top-k rows).
  *  - `annLsh` — approximate, data-independent: hyperplane-sign sketches put
  *    near-parallel vectors in the same bucket; scoring happens only within
  *    buckets (equi-join on bucket id ⇒ plain shuffle hash join, no
  *    cartesian). Recall is tunable via nBits; candidates per bucket are
  *    capped so a degenerate bucket cannot go quadratic. The hash is an
  *    argument ([[SketchHash]]): xxhash64 for the kernel fast path, md5 for
  *    the oracled replay — one chain either way.
  *  - `annIvf` — approximate, trained: the md5-seeded k-means fit is the
  *    coarse quantizer; its tiny centroid table rides as one kernel literal,
  *    so cell assignment and probing are narrow codegen'd maps (no join, no
  *    vector shuffle) and only the cell-keyed candidate join shuffles.
  *
  * Index lifecycle: `annLsh` materializes its bucket frame as an eager
  * localCheckpoint because it feeds a cap-count plus both self-join sides;
  * the returned DataFrame is lazy, so the operator cannot know when to
  * release the blocks. Long-running sessions interleaving unrelated heavy
  * work should `spark.catalog.clearCache()` between workloads.
  */
object Similarity {

  /** Exact top-k cosine neighbors for every vector in `queries` against
    * `corpus` (self-join when they're the same frame). Ranks on the
    * 4-decimal-rounded similarity with id tiebreak, so results are
    * deterministic and stable across engines and partitionings.
    */
  def knnBruteForce(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxCorpusRows: Long = 1000000L): DataFrame = {
    val spark = queries.sparkSession
    graft.plans.GraftFunctions.register(spark)
    requireBroadcastable(corpus, maxCorpusRows,
      "knnBruteForce corpus", "annLsh/annIvf")
    // graft_cosine (one fused codegen loop) and NOT normalize-once+dot:
    // this path is hash-compared against DuckDB's list_cosine_similarity,
    // which divides the raw dot by the norms — same operation sequence ⇒
    // same rounded value. Normalizing first changes the per-element
    // rounding (~1e-14), enough to flip a 4-decimal boundary on rare pairs
    // and fail the gate non-deterministically. The rows-only
    // embeddingNearDupPairs keeps the cheaper normalize+dot scoring.
    //
    val q = spreadIfNarrow(queries.select(col(idCol).as("q_id"),
      asDouble(col(vecCol)).as("q_vec")))
    val c = corpus.select(col(idCol).as("n_id"),
      asDouble(col(vecCol)).as("n_vec"))
    val scored = q.crossJoin(broadcast(c))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(expr("graft_cosine(q_vec, n_vec)"), 4).as("sim4"))
    topKPerQuery(scored, k)
  }

  /** Hard-negative mining ([EXT]): for each query vector, the top-k most
    * similar corpus vectors with a DIFFERENT label — the standard
    * negative set for contrastive retrieval training (in-batch negatives
    * are easy; the near-boundary different-label neighbors carry the
    * gradient). Exact scoring under the [[knnBruteForce]] broadcast
    * contract; the 100 TB path blocks with LSH/IVF first and applies the
    * same label-mismatch filter on candidates. NULL labels yield no
    * pairs on either side (inequality with NULL is unknown — SQL
    * semantics on both engines); NULL vectors are dropped. Returns
    * (q_id, n_id, sim4, rn), rank ties to the smaller neighbor id.
    */
  def hardNegatives(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      maxCorpusRows: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.plans.GraftFunctions.register(queries.sparkSession)
    requireBroadcastable(corpus, maxCorpusRows, "hardNegatives corpus",
      "LSH/IVF blocking + label-mismatch filter on candidates")
    val q = spreadIfNarrow(queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("q_vec"),
        col(labelCol).as("q_label")))
    val c = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("n_id"), asDouble(col(vecCol)).as("n_vec"),
        col(labelCol).as("n_label"))
    val scored = q.crossJoin(broadcast(c))
      .filter(col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("n_id"),
        round(expr("graft_cosine(q_vec, n_vec)"), 4).as("sim4"))
    topKPerQuery(scored, k)
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk 2019 "ratio"
    * margin): for every source vector, elect the target maximizing
    * `cos(x,y) / ((avgTopK(x→tgt) + avgTopK(y→src)) / 2)` — raw cosine
    * normalized by both endpoints' neighborhood density, which demotes
    * "hub" vectors that are close to everything and is the standard
    * mined-parallel-corpus scorer (LASER/CCMatrix).
    *
    * Cross-engine determinism by the integer micro-unit trick (the
    * q_lr_quality/MMR pattern): cosines become `floor(cos·1e6)` longs,
    * the top-k sums are exact integer window sums, and the only float op
    * is ONE division `ci·2k / (sumA+sumB)` of two exact integers,
    * rounded to 6 decimals — so the mined pairs hash-compare against a
    * DuckDB replay.
    *
    * Plan shape: this is the EXACT all-pairs baseline (same contract as
    * [[knnBruteForce]]): the target side must fit a broadcast
    * ([[requireBroadcastable]] gates it); the margin then needs no joins
    * at all — four window functions over two partition keys (two
    * exchanges of the narrow (src, tgt, ci) pair frame, nothing
    * recomputed). The scale path is LSH/IVF blocking on both sides
    * before exact margin scoring on the candidates.
    */
  def bitextMine(
      src: DataFrame,
      tgt: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4,
      maxTargetRows: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.plans.GraftFunctions.register(src.sparkSession)
    requireBroadcastable(tgt, maxTargetRows, "bitextMine target",
      "LSH/IVF blocking + margin scoring on candidates")
    // Per-row norms precomputed ONCE per side (sqrt of the same
    // index-order sum of squares graft_cosine accumulates), so each of
    // the pair passes runs a single dot loop instead of the fused
    // dot+nx+ny — bit-identical: denom = sqrt(nx)·sqrt(ny) is the same
    // two sqrts multiplied, and the dot accumulates in the same order.
    // __qn/__nn are each referenced twice in the cosine expression
    // (zero-denominator guard + division), which blocks CollapseProject
    // from inlining the norm back into the per-pair projection (the
    // generator-projection lesson, same failure class).
    val q = spreadIfNarrow(src.select(col(idCol).as("src_id"),
      asDouble(col(vecCol)).as("q_vec")))
      .withColumn("__qn", sqrt(expr("graft_dot(q_vec, q_vec)")))
    val c = tgt.select(col(idCol).as("tgt_id"),
      asDouble(col(vecCol)).as("n_vec"))
      .withColumn("__nn", sqrt(expr("graft_dot(n_vec, n_vec)")))
    val denom = col("__qn") * col("__nn")
    val cosExact = when(denom === lit(0.0), lit(0.0))
      .otherwise(expr("graft_dot(q_vec, n_vec)") / denom)
    val pairs = q.crossJoin(broadcast(c))
      .select(col("src_id"), col("tgt_id"),
        floor(cosExact * lit(1000000.0)).cast("long").as("ci"))
    // Target-side neighborhood sums as a partial-aggregable graft_topk —
    // NOT a window: a window partitioned by tgt_id exchanges and sorts
    // the whole pair frame a second time (profiled 3.7 s taskrun on 10
    // AQE-coalesced tasks at sf0.1), while the aggregate forwards at most
    // k entries per target from each map task and the result is one row
    // per target — broadcastable by the same contract that already
    // broadcasts the target vectors. graft_topk keeps (score desc, id
    // asc), exactly the window's (ci desc, src_id asc) tie-break, and
    // ci values are integers (< 2^53), so the double sum is exact.
    // Costs one extra cosine pass over the pairs (map-parallel, cheap)
    // in exchange for dropping an O(pairs) exchange+sort — the right
    // trade at any scale where pairs >> targets.
    val sumB = pairs.groupBy(col("tgt_id"))
      .agg(aggregate(
        expr(s"graft_topk(src_id, cast(ci as double), $k)"),
        lit(0L), (acc, x) => acc + x.getField("score").cast("long"))
        .as("sumB"))
    // One exchange by src_id serves all three source-side steps: the
    // top-k rank, the group sum, and the final best-by-margin pick (its
    // window partitions by src_id too, so it adds a sort, not a shuffle).
    val wA = Window.partitionBy("src_id")
      .orderBy(col("ci").desc, col("tgt_id"))
    val mDenom = (col("sumA") + col("sumB")).cast("double")
    // Final election as a hash aggregate, not a second windowed sort:
    // the frame is already hash-partitioned by src_id from the wA
    // exchange, so the groupBy reuses that partitioning and the
    // (margin DESC, tgt_id ASC) pick becomes a struct max — the negated
    // id turns the ASC tie-break into lexicographic max; (src, tgt)
    // pairs are unique, so the trailing payload fields never decide.
    // (Numeric id columns only — the negation is the tie-break.)
    pairs
      .join(broadcast(sumB), "tgt_id")
      .withColumn("rnA", row_number().over(wA))
      .withColumn("sumA", sum(when(col("rnA") <= k, col("ci")))
        .over(Window.partitionBy("src_id")))
      .withColumn("margin",
        when(col("sumA") + col("sumB") === 0L, lit(0.0))
          .otherwise(round(
            col("ci").cast("double") * lit((2 * k).toDouble) / mDenom, 6)))
      .groupBy(col("src_id"))
      .agg(max(struct(col("margin"), (-col("tgt_id")).as("__nt"),
        col("tgt_id"), col("ci"))).as("__b"))
      .select(col("src_id"), col("__b.tgt_id").as("tgt_id"),
        col("__b.ci").as("ci"), col("__b.margin").as("margin"))
  }

  /** Size-gate for the exact all-pairs baselines: they broadcast one side
    * entirely, which does not survive a 100× scale-up — past the bound the
    * driver would OOM building the broadcast long before any executor
    * failed. The probe is a bounded `limit(max+1).count()`, so gating a
    * 100 TB table scans at most max+1 rows, not the table. Fails fast with
    * a pointer at the scale path instead of letting the job die late.
    */
  def requireBroadcastable(
      df: DataFrame, maxRows: Long, what: String, alternative: String): Unit = {
    val n = df.limit(math.min(maxRows + 1, Int.MaxValue.toLong).toInt).count()
    require(n <= maxRows,
      s"$what exceeds $maxRows rows — the exact all-pairs baseline " +
        s"broadcasts this side entirely and will not survive at scale; " +
        s"use $alternative instead")
  }

  /** Spread a frame to the cluster's parallelism iff it is
    * under-partitioned: the streamed side of a broadcast join keeps its
    * scan partitioning, so a batch read from one small file would score
    * every pair in ONE task. When the scan is already parallel (the
    * cluster case) this is the identity and nothing extra shuffles.
    */
  private[graft] def spreadIfNarrow(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** Bounded partial-aggregable top-k: the exchange after scoring carries
    * O(queries × k) rows — a row_number window would shuffle and sort the
    * entire scored pair stream. Expects (q_id, n_id, sim4).
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(n_id, sim4, $k)").as("topk"))
      .select(col("q_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"), col("t.score").as("sim4"),
        (col("pos") + 1).cast("long").as("rn"))

  /** The `nBits`-bit hyperplane bucket of `v` ([[VectorFunctions.lshBucket]])
    * under `hash`: [[SketchHash.XxHash64]] runs the codegen
    * `graft_lsh_bucket` kernel (HyperplaneSketch), [[SketchHash.Md5]] the
    * interpreted md5 fold. Callers register the graft functions first.
    */
  private def hyperplaneBucket(v: Column, nBits: Int, hash: SketchHash): Column =
    hash match {
      case SketchHash.XxHash64 =>
        call_function("graft_lsh_bucket", asDouble(v), lit(nBits))
      case SketchHash.Md5 => lshBucket(v, nBits, hash)
    }

  /** Per-vector LSH sketch assignment (narrow, shuffle-free; fused codegen
    * loop — see HyperplaneSketch).
    */
  def sketched(df: DataFrame, idCol: String, vecCol: String, nBits: Int = 8): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    df.withColumn("bucket",
      hyperplaneBucket(col(vecCol), nBits, SketchHash.XxHash64))
  }

  /** Embedding-cosine near-dup pairs at scale — the auto-scale counterpart
    * of the size-gated exact `q_embed_neardup` baseline. Multi-table LSH:
    * ONE HyperplaneSketch pass computes `nTables × nBits` bits, table t
    * reads bit-slice [t·nBits, (t+1)·nBits) — so recall compounds across
    * tables (a near-parallel pair missed by one table's hyperplanes is
    * caught by another's) for zero extra vector scans. The per-table keys
    * feed the SAME banded candidate machinery as MinHash LSH
    * (`Dedup.lshCandidatePairs`: posexplode → capped buckets → in-bucket
    * pair expansion → distinct), then candidates join back to the
    * normalized vectors and only those pairs are scored — never all-pairs,
    * and only ids + scalars move in the pair shuffle. Table 0's slice
    * equals the single-table sketch, so results are a deterministic
    * superset of `annLsh`-style candidates at the same nBits.
    *
    * Tuning: a pair at cosine s collides in one b-bit table with
    * probability (1 − acos(s)/π)^b, and across L tables 1−(1−p)^L — so
    * match (b, L) to the threshold. The 4×15 default fills the sketch's
    * 63-bit budget recall-first (≈0.92 for s=0.4, ≈0.999 for s≥0.9); for high
    * thresholds on huge corpora prefer wider tables (8×4: ≈0.75 at s=0.9)
    * to cut candidate volume — candidates per table scale with Σpᵢ² of
    * its bucket distribution, so fewer/wider buckets prune harder.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int = 4,
      nTables: Int = 15,
      maxBucketSize: Int = 10000): DataFrame = {
    require(nBits * nTables <= 63,
      s"nBits*nTables must fit the 63-bit sketch, got $nBits*$nTables")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val mask = (1L << nBits) - 1
    // normalized vectors feed the sketch AND both verify-join sides;
    // spread FIRST — normalize is an interpreted HOF fold, and a
    // single-file scan would run it for the whole corpus in one task
    // (measured 4.3s of a 5.6s query at sf0.1)
    // eager localCheckpoint, not lazy persist: concurrent consumer stages
    // convoy on a lazy cache's first-touch block lock (see annLsh)
    val vecs = spreadIfNarrow(df)
      .select(col(idCol), normalize(col(vecCol)).as("__v"))
      .localCheckpoint()
    val banded = vecs
      .withColumn("__sketch",
        hyperplaneBucket(col("__v"), nBits * nTables, SketchHash.XxHash64))
      .select(col(idCol),
        // degenerate vectors can't be near-dups of anything by cosine, so
        // null their band keys (posexplode drops nulls) rather than let
        // them pile into one spurious bucket per table, same guard as the
        // MinHash path. Three degenerate shapes: NULL column (dot is null
        // -> coalesce 0), empty array (dot 0), and all-zero non-empty
        // vector — normalize leaves zero vectors as zeros, every
        // projection is then 0, and `proj >= 0` would set EVERY sketch
        // bit, congregating all zero vectors into the same bucket in
        // every table. Self-dot of the normalized vector is 0 exactly for
        // these three and 1 otherwise, so one codegen'd check covers all.
        when(coalesce(
          call_function("graft_dot", col("__v"), col("__v")), lit(0d)) === 0,
          lit(null).cast("array<bigint>"))
          .otherwise(transform(sequence(lit(0), lit(nTables - 1)), t =>
            call_function("shiftright", col("__sketch"), t * nBits)
              .bitwiseAND(lit(mask)))).as("band_keys"))
    val pairs = Dedup.lshCandidatePairs(banded, idCol, maxBucketSize)
    pairs
      .join(vecs.select(col(idCol).as("id_a"), col("__v").as("va")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col("__v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(call_function("graft_dot", col("va"), col("vb")), 4).as("sim4"))
      .filter(col("sim4") >= threshold)
  }

  /** IVF ANN with a fully DETERMINISTIC, cross-engine-replayable chain
    * ([EXT]): centroids are the md5-seeded k-means fit (the oracled
    * q_kmeans fit — Clustering.kmeansFit), each vector is assigned to its
    * argmax cell (cosine rounded to 6 decimals, cell-id tie-break), each
    * QUERY probes its top-`nProbe` cells in the same rounded order,
    * candidates are the probed cells' members (each point lives in
    * exactly one cell, so no candidate dedup is needed), verification is
    * the exact cosine rounded to 4, top-k by (sim4 DESC, id ASC). Every
    * stage is a pure function of the input — DuckDB replays fit,
    * assignment, probe order, and verify bit-identically, so the WHOLE
    * chain is hash-oracled (q_ann_ivf_md5, and q_ann_ivf's per-query
    * summary of it).
    *
    * Scale shape: the fit is the k·dim literal-table pass (corpus never
    * shuffles); assignment/probing are narrow kernel passes; the
    * candidate join is cell-keyed with `maxCellSize` failing closed on
    * degenerate fits (an inline per-cell count + broadcast join). Ids are
    * assumed unique (the usual vector-index contract).
    */
  def annIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCells: Int = 8,
      iters: Int = 2,
      nProbe: Int = 2,
      maxCellSize: Int = 10000,
      fitted: Option[Array[Array[Double]]] = None): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe out of [1, $nCells]: $nProbe")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val centroids = fitted.getOrElse(
      Clustering.kmeansFit(df, idCol, vecCol, nCells, iters))
    val e = spreadIfNarrow(df.filter(col(vecCol).isNotNull))
      .select(col(idCol),
        graft.functions.VectorFunctions.asDouble(col(vecCol)).as("__v"))
    // Cell order is ascending (−sim6, cell) = (sim6 DESC, cell ASC) — the
    // assignment is element 1, the probe set the first nProbe elements.
    // The reference expression form lives ONLY in OperatorSpec's kernel
    // parity property (no shadow copy here to drift).
    // NOT checkpointed (unlike the md5-fold LSH sketch): the sorted
    // cell array is nCells cheap codegen cosines per row, and its
    // three consumers (corpus assignment, cell gate, probes) each
    // materialize `cell` at a projection/exchange boundary (argmax
    // element, generator input, group key) — never per candidate pair.
    // Re-evaluating the subtree per consumer inside one job is cheaper
    // than a checkpoint materialization job + wait (profiled: 1.8 s →
    // 1.1 s at sf0.1).
    // r12 re-A/B on the narrower (id, __v) frame alone: 1.35 s with the
    // checkpoint vs 1.31 s without, same sitting — still no gain; the
    // scan is cheap and fully overlapped by AQE's independent stages.
    // ONE fused codegen kernel, not array_sort(array(struct(...))):
    // array_sort is a higher-order function (interpreted CodegenFallback)
    // and the sorted-cells expression re-evaluates in all three
    // consumers; the kernel also carries the centroid table as ONE plan
    // literal instead of nCells arrays inlined three times (what AQE
    // re-canonicalized on every stage submission). Bit-parity with the
    // expression form pinned by OperatorSpec + the hash oracle.
    val centStr = centroids.map(_.mkString(",")).mkString(";")
    val base = e.withColumn("__cells",
      call_function("graft_ivf_cells", col("__v"), lit(centStr)))
    val assigned = base.select(col(idCol).as("n_id"), col("__v").as("n_vec"),
      element_at(col("__cells"), 1).getField("c").as("cell"))
    // maxCellSize gate: the per-cell histogram runs inline and the kept
    // cells join back as a broadcast
    val keptCells = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxCellSize)
      .select(col("cell"))
    val corpus = assigned.join(broadcast(keptCells), "cell")
    val probes = base.select(col(idCol).as("q_id"), col("__v").as("q_vec"),
      explode(slice(col("__cells"), 1, nProbe)).as("p"))
      .select(col("q_id"), col("q_vec"), col("p").getField("c").as("cell"))
    // graft_topk, not a row_number window (round 12): the heap aggregate
    // elects (sim4 DESC, n_id ASC) — bit-identical to the window since
    // each n_id appears at most once per q_id (a point lives in exactly
    // one cell) — and the post-scoring exchange carries O(queries × k)
    // rows instead of sorting the full candidate stream per partition
    val verified = probes.join(corpus, Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(call_function("graft_cosine", col("q_vec"), col("n_vec")), 4)
          .as("sim4"))
    topKPerQuery(verified, k)
  }

  /** Approximate top-k by hyperplane LSH: score only same-bucket pairs.
    * The bucket is [[VectorFunctions.lshBucket]] under `hash` —
    * [[SketchHash.XxHash64]] runs the codegen `graft_lsh_bucket` kernel,
    * [[SketchHash.Md5]] the md5 fold. Buckets over `maxBucketSize` are
    * dropped via a broadcast count-table join (not a per-row window —
    * that would shuffle every vector), verification is the exact cosine
    * rounded to 4, and the bounded graft_topk aggregate elects
    * (sim4 DESC, id ASC) so the post-scoring exchange carries
    * O(queries × k) rows. Under `Md5` every stage is cross-engine
    * deterministic, so DuckDB replays the candidate → verify → top-k
    * chain bit-identically (q_ann_lsh_md5); under `XxHash64` the same
    * chain is rows-only and recall-floored (q_ann_lsh). Returns
    * (q_id, n_id, sim4, rn), rn ≤ k.
    */
  def annLsh(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      hash: SketchHash,
      nBits: Int = 8,
      maxBucketSize: Int = 10000): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val bucket = hyperplaneBucket(col(vecCol), nBits, hash)
    // the bucket feeds the cap count and both self-join sides — checkpoint
    // eagerly so none of them recomputes it (the md5 fold is nBits × dim
    // interpreted md5 calls per vector; the signature-frame lesson), and
    // so AQE's concurrent consumer stages do not convoy on a lazy cache's
    // first-touch block lock. Spread first: a single-file scan would pay
    // the whole sketch in one task. Null vectors have no direction: they
    // enter no bucket (as in annIvf).
    val b = spreadIfNarrow(df.filter(col(vecCol).isNotNull))
      .select(col(idCol), asDouble(col(vecCol)).as("__v"),
        bucket.as("__bucket"))
      .localCheckpoint()
    val kept = b.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxBucketSize)
      .select(col("__bucket"))
    val bounded = b.join(broadcast(kept), "__bucket")
    val a = bounded.select(col("__bucket"), col(idCol).as("q_id"),
      col("__v").as("q_vec"))
    val c = bounded.select(col("__bucket"), col(idCol).as("n_id"),
      col("__v").as("n_vec"))
    // graft_topk, not a row_number window — see annIvf: identical
    // election (sim4 DESC, n_id ASC; n_id unique per q_id — one bucket
    // per vector), O(queries × k) exchange instead of a full pair sort
    val scored = a.join(c, Seq("__bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(expr("graft_cosine(q_vec, n_vec)"), 4).as("sim4"))
    topKPerQuery(scored, k)
  }

  /** SemDeDup-lite: partition embedding space into 2^nBits hyperplane
    * cells (the portable md5 sketch — any engine computes the same cells)
    * and keep ONE representative per cell, the minimum id. The blunt,
    * cheap tier of semantic dedup: one narrow sketch pass + one
    * cell-keyed aggregation that shuffles only (cell, id) pairs, vs the
    * pair-verified [[embeddingNearDupPairs]] path which is finer but pays
    * candidate generation + verification. Returns one row per occupied
    * cell: (cell, keeper, n_members).
    */
  def semanticDedupCells(
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int = 8): DataFrame = {
    require(nBits >= 1 && nBits <= 62, s"nBits out of [1,62]: $nBits")
    spreadIfNarrow(vectors)
      // degenerate vectors (null / empty / all-zero) carry no direction:
      // every null projection maps to bit 0 and every zero projection to
      // bit 1, so they would all congregate in one cell and a minimum-id
      // degenerate row could evict that cell's real keeper (round-9
      // review finding — the same guard embeddingNearDupPairs has). They
      // belong in NO cell; semanticDedup passes them through.
      .filter(!degenerateVec(col(vecCol)))
      .select(col(idCol),
        lshBucket(col(vecCol), nBits, SketchHash.Md5).as("cell"))
      .groupBy(col("cell"))
      .agg(min(col(idCol)).as("keeper"),
        count(lit(1)).cast("long").as("n_members"))
  }

  /** Null / empty / all-zero (or all-null-element) vector — no direction,
    * so cosine machinery must not bucket it.
    */
  private def degenerateVec(v: Column): Column =
    v.isNull || size(v) === 0 ||
      !exists(v, x => x.isNotNull && x =!= 0.0)

  /** The drop form of [[semanticDedupCells]]: the input minus every
    * non-keeper row (a broadcast-friendly semi join on the keeper ids
    * when cells are few; Catalyst picks the strategy).
    */
  def semanticDedup(
      vectors: DataFrame,
      vecCol: String,
      idCol: String,
      nBits: Int = 8): DataFrame = {
    val keepers = semanticDedupCells(vectors, vecCol, idCol, nBits)
      .select(col("keeper").as(idCol))
    // degenerate vectors are in no cell (see semanticDedupCells): they
    // cannot be semantic duplicates of anything, so they PASS THROUGH
    vectors.filter(degenerateVec(col(vecCol)))
      .unionByName(vectors.filter(!degenerateVec(col(vecCol)))
        .join(keepers, Seq(idCol), "left_semi"))
  }
}

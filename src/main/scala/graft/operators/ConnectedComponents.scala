package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list ([EXT]) — the missing
  * last step of transitive near-dup deduplication: `Dedup.nearDupPairs`
  * emits PAIRS, but "keep one document per duplicate CLUSTER" needs the
  * transitive closure (A~B, B~C ⇒ {A,B,C} is one cluster even when A and C
  * never paired).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
  * "Connected Components in MapReduce and Beyond") — the standard
  * O(log² n)-round method, converging to star graphs where every node
  * points at its component's minimum id:
  *
  *  - large-star: every node connects its STRICTLY LARGER neighbors to the
  *    smallest member of its closed neighborhood;
  *  - small-star: every node (on down-pointing edges) connects its smaller
  *    neighbors and itself to the smallest one.
  *
  * Scale design (100 TB of near-dup pairs):
  *  - Each round is two hash aggregations + two hash joins on node ids —
  *    no driver-side graph state, no collect; a plain label-propagation
  *    loop would need O(diameter) rounds (a 5000-node chain ⇒ 5000 jobs),
  *    this needs O(log² n).
  *  - `localCheckpoint` after every round truncates the exponentially
  *    deepening lineage — without it Catalyst re-analyzes a plan that
  *    doubles per iteration and task binaries blow up. On a real cluster
  *    with executor churn, prefer `spark.sparkContext.setCheckpointDir` +
  *    reliable `checkpoint` (localCheckpoint blocks lose lineage-recovery);
  *    locally the executor-memory flavor is exactly right.
  *  - Convergence is detected by an aggregate signature (count, sums, and
  *    a sum of per-edge xxhash64) of the canonical edge set — one cheap agg
  *    job per round instead of two `EXCEPT` shuffles; the hash term makes a
  *    false "stable" read a 2⁻⁶⁴ event.
  */
object ConnectedComponents {

  /** (id, component) for every node that appears in `edges`, where
    * `component` is the minimum node id reachable. Self-loops and
    * duplicate/reversed edges are tolerated. Isolated nodes never appear
    * (they have no edges) — callers left-join and `coalesce(component, id)`.
    *
    * @param maxIter hard stop; the algorithm provably converges in
    *                O(log² n) rounds, so hitting this indicates a bug or an
    *                adversarial graph — fail loudly rather than return a
    *                silently-partial clustering.
    * @param driverMaxEdges edge count at or below which the closure runs as
    *                a driver-side union-find instead of star rounds — the
    *                same adaptive move as a broadcast-join threshold. The
    *                count (and, at or under ObservedEdgeCap, the edge list
    *                itself) rides the canonicalization checkpoint as an
    *                observe metric, the block collect beyond the cap is
    *                bounded (default 1M edges ≈ 16 MB of longs), and
    *                near-dup pair graphs are tiny relative to their corpus,
    *                so in practice this replaces ~2 jobs × O(log² n) rounds
    *                with zero or one extra jobs. At real scale the count
    *                exceeds the bound and the star loop runs unchanged.
    *                0 forces distributed.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 30,
      driverMaxEdges: Long = 1000000L): DataFrame = {
    // fail fast on non-integral id columns (round-9 review finding: a
    // string/UUID id silently cast to NULL, every edge was filtered, and
    // the transitive dedup paths became a no-op while pair-greedy worked)
    Seq(srcCol, dstCol).foreach { c =>
      val dt = edges.schema(c).dataType
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
        s"connected components needs integral id columns; '$c' is " +
          s"${dt.simpleString} — map string ids to longs (dictionary or " +
          "hash) before clustering")
    }
    // The edge count AND a bounded edge collect ride the checkpoint action
    // as observe metrics (round 13 — the action-floor pattern proven on
    // curate's eval guard and DeltaCurate's diff count): the fast-path
    // decision previously cost a separate signature aggregate over the
    // checkpointed blocks plus a separate collect job — two extra jobs in
    // EVERY transitive-dedup pipeline. Now graphs at or under
    // `ObservedEdgeCap` union-find from the observed interleaved array
    // with ZERO extra actions; graphs between the cap and driverMaxEdges
    // pay the one block-collect job; bigger graphs run the star loop
    // unchanged (their observed collect evaluated to NULL after a bounded
    // 16·(cap+1)-byte buffer — trying costs nothing extra, the action runs
    // anyway). A MISSING metric key means AQE's empty-relation rewrite
    // pruned the CollectMetrics node, which is possible only when the edge
    // set is genuinely empty — exactly the nothing-to-cluster case, so
    // defaulting to 0 is the correct read, never a silent wrong answer.
    graft.plans.GraftFunctions.register(edges.sparkSession)
    val nObs = org.apache.spark.sql.Observation()
    var e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst") &&
        col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .observe(nObs, count(lit(1)).as("n"),
        expr(s"graft_collect_pairs_capped(src, dst, $ObservedEdgeCap)")
          .as("edges"))
      .localCheckpoint()
    val metrics = nObs.get
    val nEdges = metrics.get("n").map(_.asInstanceOf[Long]).getOrElse(0L)
    if (nEdges > 0L && nEdges <= driverMaxEdges) {
      val observed =
        if (nEdges <= ObservedEdgeCap)
          metrics.get("edges").map(_.asInstanceOf[Seq[Long]]).filter(_ != null)
        else None
      return driverClosure(e, observed)
    }
    var sig = signature(e)
    var iter = 0
    var converged = sig._1 == 0L // empty edge set is already done
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      e = next
      sig = nextSig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          s"(${sig._1} edges) — raise maxIter or inspect the edge set")
    // stars: every edge points (member → component min); the min itself
    // only appears as a dst, so add its identity row
    e.select(col("src").as("id"), col("dst").as("component"))
      .union(e.select(col("dst").as("id"), col("dst").as("component")))
      .distinct()
  }

  /** Edge count at or below which the fast path's edge list arrives as an
    * observe metric on the checkpoint action itself (zero extra jobs);
    * bounds the per-task aggregate buffer and the metric accumulator at
    * 16·(cap+1) bytes ≈ 2 MB. Between this and `driverMaxEdges` the fast
    * path still runs, via one block-collect job.
    */
  private val ObservedEdgeCap = 131072

  /** Small-graph fast path: collect the (deduped, checkpointed) edge list
    * and run union-find with union-by-min — attaching the larger root
    * under the smaller keeps every tree's root equal to the minimum member
    * id by induction, so the final `find` of each node IS its component's
    * min, exactly the star loop's fixpoint. Deterministic (no ordering
    * sensitivity: the merged root is min() regardless of edge order), and
    * the output row set — every node mapped to its component min — is
    * identical to the distributed path's.
    *
    * `observed`, when present, is the interleaved [s0, d0, s1, d1, …] edge
    * array the checkpoint action's observe metric already delivered — the
    * collect job is skipped entirely.
    */
  private def driverClosure(e: DataFrame,
      observed: Option[Seq[Long]]): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edges: Array[(Long, Long)] = observed match {
      case Some(flat) =>
        Array.tabulate(flat.length / 2)(i => (flat(2 * i), flat(2 * i + 1)))
      case None => e.as[(Long, Long)].collect()
    }
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
      parent.size())
    parent.keySet().forEach(k => out += ((k, find(k))))
    out.toSeq.toDF("id", "component")
  }

  /** Canonical-form signature for convergence detection: count plus two
    * XOR-folded per-edge hashes — order-independent, and XOR cannot
    * overflow (a sum of hashes trips ANSI mode's long-overflow check).
    * The edge set is distinct, so XOR's duplicate-cancellation is moot.
    */
  private def signature(e: DataFrame): (Long, Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h1"),
      coalesce(bit_xor(xxhash64(col("dst"), col("src"))), lit(0L)).as("h2"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Connect every strictly-larger neighbor of u to min(Γ(u) ∪ {u}). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__mn"))
      .select(col("src"), least(col("src"), col("__mn")).as("__m"))
    sym.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** On down-pointing edges, connect u's smaller neighbors and u itself to
    * the smallest of them.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val down = e
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val m = down.groupBy(col("src")).agg(min(col("dst")).as("__m"))
    val joined = down.join(m, "src")
    joined
      .filter(col("dst") =!= col("__m"))
      .select(col("dst").as("src"), col("__m").as("dst"))
      .union(m.select(col("src"), col("__m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }
}

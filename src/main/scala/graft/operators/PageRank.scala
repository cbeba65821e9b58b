package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic fixed-iteration PageRank ([EXT]): the domain/source
  * authority score a corpus-curation pipeline uses to weight crawl
  * sources (CommonCrawl-style domain ranking) and prioritize dedup
  * keepers — the second iterative graph operator beside
  * [[ConnectedComponents]], expressed so an independent engine can
  * replay the fit exactly:
  *
  *  - fixed `iters` power rounds (no data-dependent stop), ranks rounded
  *    to 8 decimals after every round — engines summing contributions in
  *    different orders still agree bit-for-bit after the round;
  *  - dangling mass (nodes with no out-edges) is redistributed uniformly
  *    each round, the standard correction, computed as one bounded
  *    scalar aggregate.
  *
  * Scale shape per round — ONE job: a join of the rank frame with the
  * (pre-persisted) degree-annotated edge list keyed on src, a
  * map-side-combined sum keyed on dst, and the dangling-mass sum riding
  * the same plan as a broadcast 1-row cross join (not a separate
  * driver-side scalar action). Rank state is 16 bytes per node; lineage is
  * truncated per round with localCheckpoint (the [[ConnectedComponents]]
  * contract: single-job batch fits — streaming-recovery jobs should
  * checkpoint to reliable storage instead).
  */
object PageRank {

  /** Node count at or below which the iteration loop uses the
    * broadcast-iterate regime (rank frame ≈ 16 B/node ⇒ ≤ ~16 MB
    * broadcasts) with AQE off for the loop's internal actions.
    */
  private val SmallGraphNodes = 1000000L

  /** (node, rank) after `iters` rounds over the directed multigraph
    * `edges` (parallel edges count once per occurrence). Node set =
    * union of sources and destinations.
    */
  def run(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping >= 0.0 && damping <= 1.0,
      s"damping out of [0,1]: $damping")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    // ONE setup action (round 12, the action-floor discipline): node
    // count and dangling-node EXISTENCE ride the same left-join
    // aggregate — this also first-touch-materializes the nodes persist —
    // instead of a nodes.count() action plus a danglingNodes limit-probe
    // action. outdeg evaluation count is unchanged-or-better: the old
    // probe materialized danglingNodes (one outdeg subtree) up front;
    // now that frame only materializes (in round 1's job) when dangling
    // nodes actually exist.
    val hdr = nodes.join(outdeg, nodes("node") === outdeg("src"), "left")
      .agg(count(lit(1)).as("__n"),
        count(when(col("src").isNull, 1)).as("__nd"),
        coalesce(sum(col("__deg")), lit(0L)).as("__e")).head()
    val n = hdr.getLong(0)
    require(n > 0, "PageRank: empty graph")
    val hasDangling = hdr.getLong(1) > 0
    val nEdges = hdr.getLong(2)
    val par = edges.sparkSession.sparkContext.defaultParallelism
    // Loop parallelism for the small-graph regime, derived from DATA
    // SIZE, never from the core count (optimization guide §2: make
    // partitioning scale-adaptive). A fixture-scale iteration stage pays
    // a per-task fixed cost (scheduler dispatch, codegen/broadcast
    // setup) that dwarfs its row work: q_pagerank at sf0.1 measured
    // 2.17/2.18 s on 32-wide loop stages vs 1.42/1.85 s size-fitted
    // (r16 interleaved A/B, bench methodology; the loop frames are
    // ≤ ~32 B × edges). Target ~2 MB of edge rows per task, floor 1, cap at the
    // session's parallelism — an edge list near the SmallGraphNodes
    // boundary still fans out to every core, and the large-graph path
    // (AQE shuffle-iterate) is untouched.
    val loopPar = math.max(1L, math.min(par.toLong,
      (nEdges * 32L + (2L << 20) - 1) / (2L << 20))).toInt
    val smallGraph = n <= SmallGraphNodes
    val withDeg0 = e.join(outdeg, "src")
    val withDeg = (if (smallGraph && loopPar < par)
        withDeg0.coalesce(loopPar) else withDeg0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val base = (1.0 - damping) / n

    // the dangling-node SET is static — compute and persist it once, so
    // the per-round mass lookup is one narrow join + scalar agg instead
    // of re-deriving the outdeg aggregation from the raw edges every
    // round; a graph with no dangling nodes (most curated link graphs)
    // skips the per-round job entirely
    val danglingNodes = nodes.join(outdeg,
        nodes("node") === outdeg("src"), "left_anti")
      .select(col("node").as("__dn"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // initial ranks stay LAZY (no checkpoint action): round 1's three
    // reads are a cheap withColumn over the already-materialized nodes
    // blocks, and the round-1 checkpoint truncates the lineage anyway.
    // In the small-graph regime the loop reads nodes through the same
    // size-fitted coalesce as withDeg (see loopPar above): the rank
    // checkpoints and every per-round stage then run at loopPar tasks —
    // a narrow re-read of the persisted nodes blocks, no extra job.
    val loopNodes =
      if (smallGraph && loopPar < par) nodes.coalesce(loopPar) else nodes
    var ranks: DataFrame = loopNodes
      .withColumn("rank", round(lit(1.0 / n), 8))
    // Small-graph iteration regime (round 13): with n known (the header
    // agg), a graph whose rank frame broadcasts (≤ SmallGraphNodes ×
    // 16 B ≈ 16 MB) iterates with EXPLICIT broadcast hints on the rank
    // and contribution sides and AQE disabled for the loop's internal
    // actions. Rationale: AQE's per-stage replanning dominated the row's
    // wall on fixture-scale graphs (profiled: 1.38 s of a 2.63 s wall
    // in withFinalPlanUpdate across 24 jobs — each tiny round replanned
    // 3-4 stages to conclude what the hint states up front), and a
    // checkpointed rank frame never benefits from runtime re-planning at
    // this size. Large graphs keep the AQE shuffle-iterate path
    // untouched — there the rank exchange is real data movement AQE
    // should size. The conf flip is scoped to the loop (the driver owns
    // the session during an iterative fit — the ConnectedComponents
    // sequential-execution contract) and restored in finally; the
    // RETURNED frame is checkpoint blocks, so callers plan against it
    // under their own conf.
    val spark = edges.sparkSession
    val adaptiveKey = "spark.sql.adaptive.enabled"
    val prevAdaptive = spark.conf.get(adaptiveKey)
    if (smallGraph) spark.conf.set(adaptiveKey, "false")
    try {
      var it = 0
      while (it < iters) {
        val rankSide = if (smallGraph) broadcast(ranks) else ranks
        val contribs0 = withDeg
          .join(rankSide, withDeg("src") === ranks("node"))
          .select(col("dst"), (col("rank") / col("__deg")).as("__c"))
          .groupBy(col("dst")).agg(sum(col("__c")).as("__in"))
        val contribs = if (smallGraph) broadcast(contribs0) else contribs0
        // dangling mass rides the round's ONE job as a broadcast 1-row
        // cross join instead of a separate driver-side scalar agg — same
        // arithmetic ((__in + dm/n) with dm summed over dangling ranks,
        // identically rounded), half the jobs per round. Both subtrees
        // read the checkpointed `ranks` blocks.
        val next0 = loopNodes
          .join(contribs, loopNodes("node") === contribs("dst"), "left")
        val withMass =
          if (!hasDangling) next0.withColumn("__dm", lit(0.0))
          else next0.crossJoin(broadcast(
            ranks.join(danglingNodes, ranks("node") === col("__dn"))
              .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))))
        val next = withMass
          .select(col("node"),
            round(lit(base) +
              lit(damping) * (coalesce(col("__in"), lit(0.0)) +
                col("__dm") / lit(n.toDouble)), 8).as("rank"))
          .localCheckpoint()
        ranks.unpersist()
        ranks = next
        it += 1
      }
    } finally {
      if (smallGraph) spark.conf.set(adaptiveKey, prevAdaptive)
    }
    // the returned frame is localCheckpoint-materialized, so the working
    // frames can be released now
    nodes.unpersist(); withDeg.unpersist(); danglingNodes.unpersist()
    ranks
  }
}

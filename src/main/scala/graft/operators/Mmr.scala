package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal-marginal-relevance re-ranking ([EXT]): pick `k` results per
  * query that balance relevance against redundancy — the diversity pass
  * a retrieval pipeline (RAG context assembly, eval-set mining) runs
  * over its ANN candidates so near-identical passages don't crowd out
  * coverage. Greedy MMR: each step selects
  * `argmax λ·rel − (1−λ)·max(0, maxSimToSelected)` — the CLAMPED
  * variant: a candidate anti-similar (negative cosine) to everything
  * selected gets no redundancy penalty but also no bonus (the working
  * term initializes at 0 and only ratchets up), the common robustness
  * choice that stops adversarially-opposite vectors from jumping the
  * relevance ranking. The oracle replays exactly this rule.
  *
  * Determinism contract (the [[Clustering]] posture, so an independent
  * engine replays the whole greedy loop): the per-step score is an
  * EXACT INTEGER — relevance (a 4-decimal value) and the redundancy
  * term (a 6-decimal value) are recovered as scaled integers and
  * combined with integer λ weights (λ restricted to tenths), so no
  * float ever sits near a rounding boundary at argmax time (a
  * double-rounded score flipped 2/1500 rows against the oracle before
  * this). Ties break to the smaller candidate id; the redundancy term
  * updates with 6-decimal-rounded cosines; the step count is a fixed
  * `k` — the oracle unrolls the identical k steps as CTEs. The emitted
  * `mmr6` is the single exact division scoreInt / 10⁷.
  *
  * Scale shape: MMR is inherently per-query work over a bounded
  * candidate list (the ANN stage already cut the corpus to ≤ c rows per
  * query), so every step is a q_id-partitioned window argmax plus an
  * equi-join back — all frames are O(queries × c), never corpus-sized,
  * and the unrolled plan is k window/join stages that partition on the
  * same q_id key throughout.
  */
object Mmr {

  /** Re-rank `candidates` — (qCol, idCol, relCol, vecCol array<double>)
    * rows, relevance already rounded/deterministic — to the top `k` per
    * query. Returns (qCol, idCol, mmr6, rank) with rank 1..k in
    * selection order; queries with fewer than `k` candidates yield
    * fewer rows.
    */
  def rerank(
      candidates: DataFrame,
      qCol: String,
      idCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    val l10 = checkArgs(candidates, k, lambda)
    // the whole greedy loop runs inside ONE partial-aggregable kernel
    // (graft_mmr): the unrolled k-window/k-join plan form cost more in
    // AQE replanning than in compute (profiled 1.67 s driver replan +
    // a coalesced single-task tail on O(q × c) data — see
    // [[graft.plans.MmrSelect]]); kernel ≡ unrolled parity is pinned by
    // MmrSpec and the q_mmr_rerank hash oracle
    // no cast on the id: graft_mmr requires a bigint id (the graft_topk
    // convention) and REFUSES anything else at analysis time — a cast
    // would turn non-numeric ids into nulls the kernel silently drops
    // (review finding)
    candidates.select(
        col(qCol), col(idCol).as("__id"),
        round(col(relCol) * 10000).cast("long").as("__rel4"),
        col(vecCol).as("__v"))
      .groupBy(col(qCol))
      .agg(expr(s"graft_mmr(__id, __rel4, __v, $k, ${l10.toInt})")
        .as("__picks"))
      .select(col(qCol), posexplode(col("__picks")).as(Seq("__pos", "__p")))
      .select(col(qCol), col("__p.id").as(idCol),
        (col("__p.sc").cast("double") / lit(1e7)).as("mmr6"),
        (col("__pos") + 1).cast("long").as("rank"))
  }

  private def checkArgs(
      candidates: DataFrame, k: Int, lambda: Double): Double = {
    require(k > 0 && k <= 100, s"k must be in (0, 100], got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    val l10 = math.rint(lambda * 10)
    require(l10 == lambda * 10,
      s"lambda must be a multiple of 0.1 (exact integer scoring), got $lambda")
    require(!candidates.columns.exists(_.startsWith("__")),
      "input must not contain __-prefixed working columns")
    graft.plans.GraftFunctions.register(candidates.sparkSession)
    l10
  }

  /** The unrolled plan form of [[rerank]] — k window argmaxes + k joins.
    * Retired from the production path (plan costs dominate; see the
    * [[rerank]] scaladoc) but kept as the independently-derived REFERENCE
    * for MmrSpec's kernel ≡ unrolled parity property: the two
    * implementations share no selection code, so a drift in either
    * trips the spec.
    */
  private[graft] def rerankUnrolled(
      candidates: DataFrame,
      qCol: String,
      idCol: String,
      relCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    val l10 = checkArgs(candidates, k, lambda)
    // score over denominator 10^7: 100·l10·rel₄ − (10−l10)·ms₆ with
    // rel₄ = rel·10⁴ and ms₆ = ms·10⁶ recovered as exact integers
    val wRel = 100L * l10.toLong
    val wMs = 10L - l10.toLong
    var remaining = candidates.select(
      col(qCol), col(idCol),
      round(col(relCol) * 10000).cast("long").as("__rel4"),
      col(vecCol).as("__v"), lit(0L).as("__ms6"))
    var out: Option[DataFrame] = None
    var s = 1
    while (s <= k) {
      val scored = remaining
        .withColumn("__sc",
          lit(wRel) * col("__rel4") - lit(wMs) * col("__ms6"))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col(qCol))
            .orderBy(col("__sc").desc, col(idCol))))
      val sel = scored.filter(col("__rn") === 1)
        .select(col(qCol), col(idCol),
          (col("__sc").cast("double") / lit(1e7)).as("mmr6"),
          lit(s.toLong).as("rank"), col("__v").as("__sv"))
      out = Some(out.fold(sel.drop("__sv"))(_.unionAll(sel.drop("__sv"))))
      if (s < k) {
        remaining = scored.filter(col("__rn") > 1)
          .join(sel.select(col(qCol), col("__sv")), Seq(qCol))
          .withColumn("__ms6", greatest(col("__ms6"),
            round(round(call_function("graft_cosine", col("__v"), col("__sv")),
              6) * 1000000).cast("long")))
          .drop("__sv", "__sc", "__rn")
      }
      // cap plan growth: each step's window+join otherwise nests inside
      // the next (O(k²) operators at k=100 — analysis-time blowup even
      // though the data is tiny); a periodic checkpoint keeps lineage
      // segments bounded at 10 steps and never fires for small k
      if (s < k && s % 10 == 0) remaining = remaining.localCheckpoint()
      s += 1
    }
    out.get
  }

  /** KNN-candidates + MMR in one call: brute-force top-`c` per query
    * (exact, size-gated — swap in an ANN candidate frame at corpus
    * scale), then greedy diversification to the top `k`.
    */
  def rerankKnn(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      c: Int,
      k: Int,
      lambda: Double = 0.7): DataFrame = {
    val knn = Similarity.knnBruteForce(df, df, idCol, vecCol, c)
    val vecs = df.select(col(idCol).as("n_id"),
      graft.functions.VectorFunctions.asDouble(col(vecCol)).as("nv"))
    val cand = knn.join(vecs, Seq("n_id"))
      .select(col("q_id"), col("n_id"), col("sim4"), col("nv"))
    rerank(cand, "q_id", "n_id", "sim4", "nv", k, lambda)
  }
}

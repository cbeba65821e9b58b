package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained quality classifier ([EXT]): logistic regression over a fitted
  * token vocabulary — the fastText-shaped linear model a training-data
  * pipeline fits on a labeled seed set (wiki-vs-crawl, good-vs-spam) and
  * then applies corpus-wide as a learned quality gate, one tier above the
  * heuristic ratio gates in [[TextAnalysis]] and the LM scores in
  * [[UnigramLm]].
  *
  * Determinism contract (the [[Clustering]] fitted-operator posture, made
  * exact): weights live in INTEGER MICRO-UNITS (w = w_int / 1e6), so
  *  - the per-document logit is `bias_int + Σ w_int(token)` summed over
  *    token OCCURRENCES — an integer sum, exactly associative, identical
  *    on any engine in any order (the doubles inside graft_map_sum are
  *    integer-valued, so the left-to-right fold is exact up to 2^53);
  *  - the per-document gradient residual is rounded ONCE to micro-units
  *    (`floor(x + 0.5)` — both engines use the same half-up convention,
  *    not their differing native round()), and per-feature gradients are
  *    again exact integer sums of those residuals over occurrences;
  *  - the update `w_int -= floor(lr · grad_int / n + 0.5)` is a single
  *    IEEE expression over exact integers — bit-identical cross-engine.
  * Fixed `iters` epochs of full-batch gradient descent, no convergence
  * test, so an independent engine (the DuckDB oracle) unrolls the exact
  * same rounds as CTEs and reproduces the fit bit for bit.
  *
  * Scale shape (100 TB): the fit is `iters` passes, each one narrow
  * scoring pass (vocabulary + weights ride the plan as a codegen literal
  * map — no join, no shuffle) plus one map-side-combined gradient
  * aggregation whose output is ≤ vocabSize+1 rows; the only driver
  * traffic is that bounded collect per round. Scoring after the fit is a
  * single narrow codegen pass — zero shuffles at any corpus size.
  */
object QualityClassifier {

  /** Fitted model: token → micro-unit weight, plus the bias. */
  final case class Model(weights: Map[String, Long], biasInt: Long,
      lr: Double, iters: Int)

  private val BiasTok = "\u0000bias" // outside [a-z0-9]+, can't collide

  /** One doc per row: (__id, __t tokens, __y 0/1 long). Null text tokenizes
    * to the empty array (bias-only logit), matching COALESCE in the oracle.
    */
  private def prep(docs: DataFrame, textCol: String, idCol: String,
      label: Column): DataFrame =
    docs.select(col(idCol).as("__id"),
      TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("__t"),
      when(label, 1L).otherwise(0L).as("__y"))

  private def logitInt(weights: Map[String, Long], biasInt: Long): Column = {
    // integer-valued doubles: the codegen fold sums them exactly
    val table = graft.plans.ScoreTable.serialize(
      weights.toSeq.sortBy(_._1).map { case (t, w) => t -> w.toDouble },
      0.0)
    call_function("graft_map_sum", col("__t"), lit(table)) + lit(biasInt.toDouble)
  }

  /** p = sigmoid(z_int / 1e6) as an unrounded double column. */
  private def sigmoid(zInt: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(zInt / lit(1e6))))

  /** Fit the model: top-`vocabSize` tokens by (count desc, token asc),
    * zero-initialized weights, `iters` full-batch GD epochs at rate `lr`.
    */
  def fit(docs: DataFrame, textCol: String, idCol: String, label: Column,
      vocabSize: Int = 32, iters: Int = 2, lr: Double = 0.5): Model = {
    require(vocabSize > 0 && vocabSize <= 100000,
      s"vocabSize must be in (0, 100000], got $vocabSize")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val d = Similarity.spreadIfNarrow(prep(docs, textCol, idCol, label))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = d.select(explode(col("__t")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t"))
        .limit(vocabSize)
        .collect()
        .map(_.getString(0))
      val n = d.count()
      var weights: Map[String, Long] = vocab.map(_ -> 0L).toMap
      var biasInt = 0L
      var it = 0
      while (it < iters && n > 0L) {
        // residual g_int = floor((p - y)·1e6 + 0.5), once per document;
        // bias rides as a pseudo-token occurring exactly once per doc so
        // one map-side-combined aggregation yields every gradient row
        val g = floor(
          (sigmoid(logitInt(weights, biasInt)) - col("__y")) * lit(1e6)
            + lit(0.5)).cast("long")
        // `__g` (an O(tokens) scoring fold) is materialized in its OWN
        // projection below the explode: in one select with the generator
        // it would land in the projection ABOVE it and re-run once per
        // emitted token — O(tokens²) per document per epoch (the Bm25
        // size(toks)/explode(toks) lesson; the Generate node between the
        // two Projects keeps CollapseProject from re-inlining it)
        val gradRows = d
          .select(g.as("__g"), col("__t"))
          .select(col("__g"),
            explode(concat(array(lit(BiasTok)), col("__t"))).as("t"))
          .where(col("t").isin((BiasTok +: vocab.toSeq): _*))
          .groupBy(col("t")).agg(sum(col("__g")).as("grad"))
          .collect()
          .map(r => r.getString(0) -> r.getLong(1))
          .toMap
        def step(gradInt: Long): Long =
          math.floor(lr * gradInt.toDouble / n.toDouble + 0.5).toLong
        weights = weights.map { case (t, w) =>
          t -> (w - step(gradRows.getOrElse(t, 0L)))
        }
        biasInt -= step(gradRows.getOrElse(BiasTok, 0L))
        it += 1
      }
      Model(weights, biasInt, lr, iters)
    } finally { d.unpersist(); () }
  }

  /** Score every document under a fitted model:
    * (idCol, score = round(sigmoid, 4), pred = score >= 0.5 as 0/1).
    * One narrow codegen pass — the model is a plan literal.
    */
  def score(docs: DataFrame, textCol: String, idCol: String,
      model: Model): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    Similarity.spreadIfNarrow(
        docs.select(col(idCol),
          TextAnalysis.tokens(coalesce(col(textCol), lit(""))).as("__t")))
      .select(col(idCol),
        round(sigmoid(logitInt(model.weights, model.biasInt)), 4).as("score"))
      .select(col(idCol), col("score"),
        when(col("score") >= 0.5, 1L).otherwise(0L).as("pred"))
  }

  /** Score a labeled frame under an ALREADY-fitted model — the
    * evaluation shape (`score`, `pred`, `y`). One narrow codegen pass;
    * the model rides the plan as a literal map, the label rides the
    * projection, no join. Kept apart from [[fit]] so callers running
    * several evaluations of one gate (scores, AUC, calibration) pay the
    * fit's driver-collect loop once, not once per report.
    */
  def scoreLabeled(docs: DataFrame, textCol: String, idCol: String,
      label: Column, model: Model): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    Similarity.spreadIfNarrow(prep(docs, textCol, idCol, label))
      .select(col("__id").as(idCol),
        round(sigmoid(logitInt(model.weights, model.biasInt)), 4).as("score"),
        col("__y").as("y"))
      .select(col(idCol), col("score"),
        when(col("score") >= 0.5, 1L).otherwise(0L).as("pred"), col("y"))
  }

  /** Calibration curve (reliability diagram) over a scored+labeled
    * frame: per score decile (or `bins`-tile), the doc count, mean
    * predicted score, and empirical positive rate — how a pipeline
    * decides whether the gate's scores can be read as probabilities.
    * One aggregation, map-side collapsible (≤ `bins` groups).
    *
    * Cross-engine exactness: scores are 4-decimal, so the mean is
    * computed from an exact integer sum of `floor(score·10⁴ + 0.5)`
    * units (a double sum would be order-dependent); the bin index and
    * both divisions are identical IEEE expressions on both engines.
    * A 1.0 score joins the top bin rather than opening bin `bins`.
    */
  def evaluateCalibration(scored: DataFrame, bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    scored
      .groupBy(least(floor(col("score") * bins), lit((bins - 1).toDouble))
        .cast("long").as("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(
          sum(floor(col("score") * 10000d + 0.5d).cast("long"))
            .cast("double") / 10000d / count(lit(1)).cast("double"), 6)
          .as("mean_score"),
        round(sum(col("y")).cast("double")
          / count(lit(1)).cast("double"), 6).as("pos_rate"))
  }

  /** Classifier evaluation over a scored+labeled frame (the
    * [[scoreLabeled]] shape: `score`, `pred`, `y` columns): one row with
    * class counts, midrank AUC (the Mann-Whitney statistic with the
    * standard tie handling — 4-decimal scores tie often), and the
    * 0.5-threshold confusion metrics. Degenerate cases are null, not a
    * division blow-up: AUC needs both classes, precision needs a
    * positive prediction, recall a positive label.
    *
    * Everything before the final division is an exact integer — the
    * doubled midrank (`2·below + t + 1`) keeps tie midpoints integral,
    * so `AUC = (Σ p·rank2 − np(np+1)) / (2·np·nn)` hash-compares
    * cross-engine after one IEEE division and a 6-decimal round.
    *
    * Scale shape: scores take at most 10001 distinct 4-decimal values,
    * so the per-score aggregation collapses map-side and the ordered
    * cumulative window runs over that tiny frame, never the corpus; the
    * confusion counts are one partial-agg pass. No joins, no sort of
    * the corpus, two single-row frames cross-joined at the end.
    */
  def evaluate(scored: DataFrame): DataFrame = {
    val perScore = scored.groupBy(col("score"))
      .agg(sum(col("y")).as("p"), count(lit(1)).as("t"))
    val below = org.apache.spark.sql.expressions.Window
      .orderBy(col("score"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ranks = perScore
      .withColumn("rank2",
        lit(2L) * coalesce(sum(col("t")).over(below), lit(0L))
          + col("t") + lit(1L))
      .agg(
        sum(col("p")).as("np"),
        sum(col("t") - col("p")).as("nn"),
        sum(col("p") * col("rank2")).as("sr2"))
    val cm = scored.agg(
      sum(col("y") * col("pred")).as("tp"),
      sum((lit(1L) - col("y")) * col("pred")).as("fp"),
      sum(col("y") * (lit(1L) - col("pred"))).as("fn"),
      sum((lit(1L) - col("y")) * (lit(1L) - col("pred"))).as("tn"))
    ranks.crossJoin(cm).select(
      col("np").as("n_pos"),
      col("nn").as("n_neg"),
      when(col("np") === 0 || col("nn") === 0, lit(null).cast("double"))
        .otherwise(round(
          (col("sr2") - col("np") * (col("np") + lit(1L))).cast("double")
            / (lit(2L) * col("np") * col("nn")).cast("double"), 6))
        .as("auc"),
      round((col("tp") + col("tn")).cast("double")
        / (col("tp") + col("tn") + col("fp") + col("fn")).cast("double"), 6)
        .as("accuracy"),
      when(col("tp") + col("fp") === 0, lit(null).cast("double"))
        .otherwise(round(col("tp").cast("double")
          / (col("tp") + col("fp")).cast("double"), 6)).as("prec"),
      when(col("tp") + col("fn") === 0, lit(null).cast("double"))
        .otherwise(round(col("tp").cast("double")
          / (col("tp") + col("fn")).cast("double"), 6)).as("rec"),
      when(lit(2L) * col("tp") + col("fp") + col("fn") === 0,
        lit(null).cast("double"))
        .otherwise(round((lit(2L) * col("tp")).cast("double")
          / (lit(2L) * col("tp") + col("fp") + col("fn")).cast("double"), 6))
        .as("f1"))
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multinomial Naive-Bayes text classifier ([EXT]): the fit/apply pair a
  * curation pipeline uses for cheap supervised tagging (language, domain,
  * quality tier) when a labeled slice exists — the classic fastText-tier
  * baseline before anything neural.
  *
  * Fit is bounded, fit-style (same contract as UnigramLm/IVF): a global
  * top-`vocabSize` vocabulary, per-label priors, and per-(label, token)
  * counts restricted to the vocabulary — at most `labels × vocabSize`
  * rows ever reach the driver. Apply is a narrow literal-map fold per
  * label (zero shuffles at any corpus size): each label's map carries the
  * Laplace-smoothed log-probability for EVERY vocab token (absent → the
  * smoothed floor is baked in at build time), so out-of-vocabulary tokens
  * contribute exactly 0 to every label and the fold needs no separate
  * membership probe.
  *
  * Fit and apply are SEPARATE entry points (like QualityClassifier and
  * the fitted-BPE/PQ tables) so one fitted `Model` can score several
  * frames — the fit runs three bounded collect actions.
  *
  * Scores are rounded to 4 decimals before the argmax and ties break
  * toward the LARGER label string (array_max struct order) — both
  * reproduced by the DuckDB oracle, making the whole fit+apply loop
  * cross-engine verifiable.
  */
object NaiveBayes {

  /** A fitted model: per label its string value, log-prior, and the
    * serialized vocab→log-likelihood score table. Plain literals — safe
    * to cache across sessions and bake into any plan. Empty `perLabel`
    * means the corpus had no labeled rows or no tokens (predict then
    * returns an empty frame, matching the old fitPredict contract).
    */
  final case class Model(perLabel: Seq[(String, Double, String)])

  /** Fit on rows with a non-null label: three bounded collects (global
    * vocab top-k, label priors, per-(label, vocab-token) counts).
    */
  def fit(
      docs: DataFrame,
      textCol: String,
      labelCol: String,
      vocabSize: Int = 500): Model = {
    require(vocabSize > 0, s"vocabSize must be positive, got $vocabSize")
    val spark = docs.sparkSession
    require(vocabSize >= 1 && vocabSize <= 100000,
      s"vocabSize out of (0, 100000]: $vocabSize (the fit collects the " +
        "vocab to the driver)")
    val toks = TextAnalysis.tokens(col(textCol))
    // the label is handled AS A STRING throughout (collects call
    // getString; an integer tier column would otherwise CCE deep in the
    // fit) — predictions come back as the stringified label
    val docsSpread = Similarity.spreadIfNarrow(docs)
      .withColumn(labelCol, col(labelCol).cast("string"))

    val vocabRows = docsSpread
      .select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(vocabSize)
      .collect().map(_.getString(0))
    val labeled = docsSpread.filter(col(labelCol).isNotNull)
    // bounded collect: limit(cap+1) rides the existing aggregate, so a
    // free-text column passed as labelCol ships at most 1001 rows to the
    // driver before the require fires — one job, no extra distinct scan
    val labelRows = labeled
      .groupBy(col(labelCol).as("l")).agg(count(lit(1)).as("dc"))
      .limit(1001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    require(labelRows.length <= 1000,
      "NB label column has more than 1000 distinct values — the " +
        "literal-map apply is built for bounded label sets; bucketize " +
        "the label first")
    if (labelRows.isEmpty || vocabRows.isEmpty) return Model(Nil)
    val nDocs = labelRows.map(_._2).sum.toDouble
    val vocabDf = {
      import spark.implicits._
      vocabRows.toIndexedSeq.toDF("t")
    }
    val cntRows = labeled
      .select(col(labelCol).as("l"), explode(toks).as("t"))
      .join(broadcast(vocabDf), "t")
      .groupBy(col("l"), col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    val v = vocabRows.length
    Model(labelRows.map { case (l, dc) =>
      val nL = vocabRows.map(t => cntRows.getOrElse((l, t), 0L)).sum
      val table = graft.plans.ScoreTable.serialize(
        vocabRows.toIndexedSeq.map(t => t ->
          math.log((cntRows.getOrElse((l, t), 0L) + 1).toDouble / (nL + v))),
        0.0) // OOV tokens contribute 0 to every label
      (l, math.log(dc / nDocs), table)
    })
  }

  /** Predict for every row with a fitted model. Returns
    * (idCol, pred, score): the argmax label and its rounded log-score
    * `log P(label) + Σ_tokens∈vocab log P(token|label)`. Zero actions,
    * zero shuffles — one codegen'd O(1)-probe map fold per label.
    */
  def predict(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      model: Model): DataFrame = {
    if (model.perLabel.isEmpty) {
      return docs.select(col(idCol), lit(null).cast("string").as("pred"),
        lit(0.0).as("score")).limit(0)
    }
    val spark = docs.sparkSession
    graft.plans.GraftFunctions.register(spark)
    val toks = TextAnalysis.tokens(col(textCol))
    val toksSafe = coalesce(toks, array().cast("array<string>"))
    val scoreStructs = model.perLabel.map { case (l, prior, table) =>
      struct(
        round(lit(prior) +
          call_function("graft_map_sum", toksSafe, lit(table)), 4)
          .as("score"),
        lit(l).as("pred"))
    }
    val best = array_max(array(scoreStructs: _*))
    // one codegen'd fold per label per row — spread single-file scans
    Similarity.spreadIfNarrow(docs).select(col(idCol),
      best.getField("pred").as("pred"),
      best.getField("score").as("score"))
  }

  /** Fit on rows with a non-null label, predict for every row — the
    * one-shot convenience over fit + predict.
    */
  def fitPredict(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      labelCol: String,
      vocabSize: Int = 500): DataFrame =
    predict(docs, textCol, idCol, fit(docs, textCol, labelCol, vocabSize))
}

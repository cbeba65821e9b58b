package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model quality scoring ([EXT]): the perplexity-flavored
  * filter a training-data pipeline runs after the cheap ratio heuristics —
  * score every document by its average negative log-likelihood under a
  * corpus-wide unigram model; gibberish and boilerplate-stuffed documents
  * land far from the fluent-band and get gated.
  *
  * Scale design (100 TB):
  *  - model fit: one token-count aggregation (explode → groupBy(token),
  *    map-side combined so the exchange moves distinct tokens per
  *    partition, not occurrences), then the top-K vocabulary + total are
  *    collected — bounded by vocabSize, a fit-style eager step like the
  *    IVF centroids and the Bloom build;
  *  - scoring: the vocabulary becomes a LITERAL map, so the per-document
  *    score is one narrow codegen'd `aggregate` fold over the token
  *    array — no explode, no join, no shuffle; the output is one row per
  *    document straight from the scan.
  * Out-of-vocabulary tokens get a count floor of 1 (they cannot be liked
  * more than the rarest vocab word).
  */
object UnigramLm {

  /** Top-K unigram vocabulary with counts; deterministic tie-break
    * (count desc, token asc).
    */
  def vocabulary(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t"))
      .limit(vocabSize)

  /** A fitted unigram model: the serialized per-token NLL table for the
    * `graft_map_sum` codegen kernel. Pure data (no session references).
    * `None` from [[fitUnigram]] means the corpus had no tokens.
    */
  final case class UniModel(table: String)

  /** A fitted interpolated-bigram model: the two premultiplied score
    * tables for the `graft_bigram_nll` kernel. Pure data.
    */
  final case class BiModel(biTable: String, uniTable: String)

  /** Fit the unigram NLL model: one map-side-combined token-count
    * aggregation, then the bounded top-K vocab + total (two actions over
    * a persisted aggregate). Returns None when the corpus has no tokens.
    */
  def fitUnigram(docs: DataFrame, textCol: String,
      vocabSize: Int = 1000): Option[UniModel] = {
    require(vocabSize >= 1 && vocabSize <= 100000,
      s"vocabSize out of (0, 100000]: $vocabSize (0 silently empties " +
        "the model; the fit collects the vocab to the driver)")
    // persist the distinct-token counts: the vocab top-K and the total
    // are two actions over the same aggregate, and without the cache the
    // full tokenize/explode/shuffle pass over the corpus would run twice
    val docsSpread = Similarity.spreadIfNarrow(docs)
    val counts = docsSpread
      .select(explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // fit-style eager step: bounded vocab + one scalar
    val (vocabRows, total) =
      try {
        (counts.orderBy(col("c").desc, col("t")).limit(vocabSize).collect(),
          counts.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0))
      } finally { counts.unpersist(); () }
    if (total == 0L || vocabRows.isEmpty) return None
    // fitted table for the codegen kernel: per-token NLL precomputed as
    // the SAME IEEE doubles the old HOF fold computed per row, so the
    // swap is bit-exact against the DuckDB oracle (a − ln(x) ≡ a + −ln(x))
    Some(UniModel(graft.plans.ScoreTable.serialize(
      vocabRows.map(r => r.getString(0) ->
        -math.log(r.getLong(1).toDouble / total.toDouble)),
      -math.log(1.0 / total.toDouble))))
  }

  /** Score under an already-fitted model: one narrow codegen'd
    * O(1)-probe kernel call per row — zero actions, zero shuffles.
    */
  def scoresWith(docs: DataFrame, textCol: String, idCol: String,
      model: Option[UniModel]): DataFrame = model match {
    case None =>
      docs.select(col(idCol), lit(0.0).as("avg_nll"),
        lit(0L).as("n_tokens")).limit(0)
    case Some(m) =>
      graft.plans.GraftFunctions.register(docs.sparkSession)
      val toks = TextAnalysis.tokens(col(textCol))
      // spread a single-file scan so the scoring pass parallelizes
      Similarity.spreadIfNarrow(docs)
        .select(col(idCol), toks.as("__t"))
        .filter(size(col("__t")) > 0)
        .select(col(idCol),
          round(
            call_function("graft_map_sum", col("__t"), lit(m.table))
              / size(col("__t")), 4).as("avg_nll"),
          size(col("__t")).cast("long").as("n_tokens"))
  }

  /** (idCol, avg_nll, n_tokens) for every document with at least one
    * token; `avg_nll` is rounded to 4 decimals so the left-to-right fold
    * hash-compares across engines. Fit + score in one call; callers that
    * score repeatedly should [[fitUnigram]] once and use [[scoresWith]].
    */
  def scores(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 1000): DataFrame =
    scoresWith(docs, textCol, idCol, fitUnigram(docs, textCol, vocabSize))

  /** Interpolated bigram-LM scoring ([EXT] — the KenLM-shaped upgrade of
    * [[scores]]): per-position probability is
    * `λ·P(w₂|w₁) + (1−λ)·P(w₂)`, where the bigram term uses the fitted
    * top-`bigramSize` bigram table (0 when either the bigram or its
    * history is outside the fitted tables — pure backoff to the unigram
    * term) and the unigram term floors OOV counts at 1, like [[scores]].
    * Returns (idCol, avg_nll2, n_pairs) for documents with ≥ 2 tokens;
    * avg_nll2 is the mean over the n−1 adjacent pairs, rounded to 4
    * decimals for cross-engine hash comparison.
    *
    * Same scale shape as the unigram fit: two map-side-combined count
    * aggregations (tokens, 2-shingles) with bounded top-K collects, then
    * scoring is a narrow literal-map fold — zero scoring shuffles at any
    * corpus size.
    */
  def bigramScores(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 1000, bigramSize: Int = 2000,
      lambda: Double = 0.7): DataFrame =
    bigramScoresWith(docs, textCol, idCol,
      fitBigram(docs, textCol, vocabSize, bigramSize, lambda))

  /** Fit the interpolated-bigram model (three bounded actions: unigram
    * top-K + total over one persisted aggregate, bigram top-K). Returns
    * None when the corpus has no tokens. See [[bigramScores]] for the
    * model semantics; callers that score repeatedly should fit once and
    * use [[bigramScoresWith]].
    */
  def fitBigram(docs: DataFrame, textCol: String,
      vocabSize: Int = 1000, bigramSize: Int = 2000,
      lambda: Double = 0.7): Option[BiModel] = {
    require(vocabSize >= 1 && vocabSize <= 100000 &&
        bigramSize >= 1 && bigramSize <= 200000,
      s"vocab/bigram sizes out of range: ($vocabSize, $bigramSize)")
    // lambda = 1.0 excluded: the unigram interpolation floor (1-λ)/total
    // would be 0, so any adjacent pair missing from the fitted bigram
    // table scores -ln(0) = +Infinity
    require(lambda >= 0.0 && lambda < 1.0, s"lambda out of [0,1): $lambda")
    val toksC = TextAnalysis.tokens(col(textCol))
    val docsSpread = Similarity.spreadIfNarrow(docs)
    val uniCounts = docsSpread
      .select(explode(toksC).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (uniRows, total) =
      try {
        (uniCounts.orderBy(col("c").desc, col("t")).limit(vocabSize)
          .collect(),
          uniCounts.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0))
      } finally { uniCounts.unpersist(); () }
    val biRows = docsSpread
      .select(explode(TextAnalysis.shingles(toksC, 2)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("b")).limit(bigramSize)
      .collect()
    if (total == 0L || uniRows.isEmpty) return None
    // Premultiplied interpolation tables for the codegen kernel (same
    // IEEE ops the HOF fold performed per row: divide, then scale by the
    // λ weights computed once here): bi value = λ·c12/c1 (entry only
    // when the history w1 is in the fitted vocab — otherwise the bigram
    // term backs off to 0), uni value = (1−λ)·c/total, default
    // (1−λ)·1/total.
    val uniCountsMap = uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val biTable = graft.plans.ScoreTable.serialize(
      biRows.flatMap { r =>
        val pair = r.getString(0)
        val w1 = pair.substring(0, pair.indexOf(' '))
        uniCountsMap.get(w1).map { c1 =>
          pair -> lambda * (r.getLong(1).toDouble / c1.toDouble)
        }
      },
      0.0)
    val lambda2 = 1.0 - lambda
    val uniTable = graft.plans.ScoreTable.serialize(
      uniRows.map(r => r.getString(0) ->
        lambda2 * (r.getLong(1).toDouble / total.toDouble)),
      lambda2 * (1.0 / total.toDouble))
    Some(BiModel(biTable, uniTable))
  }

  /** Score under an already-fitted bigram model: one narrow codegen'd
    * kernel call per row — zero actions, zero shuffles.
    */
  def bigramScoresWith(docs: DataFrame, textCol: String, idCol: String,
      model: Option[BiModel]): DataFrame = model match {
    case None =>
      docs.select(col(idCol), lit(0.0).as("avg_nll2"),
        lit(0L).as("n_pairs")).limit(0)
    case Some(m) =>
      graft.plans.GraftFunctions.register(docs.sparkSession)
      val toksC = TextAnalysis.tokens(col(textCol))
      // the scoring pass is one narrow codegen'd kernel call per row;
      // spread a single-file scan so it parallelizes
      Similarity.spreadIfNarrow(docs)
        .select(col(idCol), toksC.as("__t"))
        .filter(size(col("__t")) >= 2)
        .select(col(idCol),
          round(
            call_function("graft_bigram_nll", col("__t"),
              lit(m.biTable), lit(m.uniTable))
              / (size(col("__t")) - 1), 4).as("avg_nll2"),
          (size(col("__t")) - 1).cast("long").as("n_pairs"))
  }

  /** CCNet-style perplexity bucketing ([EXT]): score every document with
    * the fitted unigram model, fit head/middle/tail thresholds as exact
    * order statistics of a bounded DETERMINISTIC sample, and label each
    * document by threshold comparison — the standard quality-tiering step
    * before mixture sampling (Wenzek et al. 2020 bucket fluent text into
    * head/middle/tail by LM perplexity and train preferentially on head).
    *
    * Scale design (100 TB):
    *  - scoring is [[scores]] — a narrow literal-map fold, zero shuffles;
    *  - the threshold fit never sorts the corpus: the sample is the first
    *    `sampleSize` documents in md5(id) hex order (a per-partition
    *    top-K merge, no global sort) and its scores are a bounded
    *    collect, exactly how CCNet fits thresholds on a held-out slice;
    *  - thresholds become plan LITERALS, so bucket assignment is one
    *    comparison per row off the scan.
    *
    * Determinism: avg_nll is 4-decimal-rounded (cross-engine exact),
    * quantile ranks use integer ceil arithmetic (`(n·pct + 99) / 100` —
    * no float frac·n ulp hazard), and the md5 draw is a hex-string order
    * — every stage replays bit-identically in the DuckDB oracle.
    *
    * @param headPct percentile (1-99) of the sample at or below which a
    *                score is "head"; `headPct + midPct <= 99`.
    */
  def perplexityBuckets(docs: DataFrame, textCol: String, idCol: String,
      vocabSize: Int = 1000, sampleSize: Int = 1000,
      headPct: Int = 30, midPct: Int = 30): DataFrame =
    perplexityBucketsWith(docs, textCol, idCol,
      fitUnigram(docs, textCol, vocabSize), sampleSize, headPct, midPct)

  /** [[perplexityBuckets]] under an already-fitted unigram model (one
    * bounded sample collect remains — the threshold fit).
    */
  def perplexityBucketsWith(docs: DataFrame, textCol: String, idCol: String,
      model: Option[UniModel], sampleSize: Int = 1000,
      headPct: Int = 30, midPct: Int = 30): DataFrame = {
    require(sampleSize >= 1, s"sampleSize must be positive, got $sampleSize")
    require(headPct >= 1 && midPct >= 1 && headPct + midPct <= 99,
      s"percent bounds out of range: head $headPct mid $midPct")
    val scored = scoresWith(docs, textCol, idCol, model)
    val sample = scored
      .orderBy(md5(col(idCol).cast("string")))
      .limit(sampleSize)
      .select(col("avg_nll"))
      .collect().map(_.getDouble(0)).sorted
    if (sample.isEmpty) {
      return docs.select(col(idCol), lit(0.0).as("avg_nll"),
        lit("").as("bucket")).limit(0)
    }
    val n = sample.length
    def at(pct: Int): Double = sample((n * pct + 99) / 100 - 1)
    val tHead = at(headPct)
    val tMid = at(headPct + midPct)
    scored.select(col(idCol), col("avg_nll"),
      when(col("avg_nll") <= tHead, "head")
        .when(col("avg_nll") <= tMid, "middle")
        .otherwise("tail").as("bucket"))
  }
}

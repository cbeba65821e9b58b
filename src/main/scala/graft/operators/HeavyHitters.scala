package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact heavy hitters with a Count-Min prefilter ([EXT]) — "which keys
  * occur at least N times" over a stream whose distinct-key space dwarfs
  * its heavy tail (vocabulary counting, hot-host detection, boilerplate
  * n-gram discovery).
  *
  * The naive `groupBy(key).count().filter(cnt >= N)` is exact but its
  * partial-aggregation hash maps hold EVERY distinct key a task sees, so
  * at 100 TB the map-side combine spills and the exchange carries
  * (tasks × vocabulary) partial rows. This plan fits a Count-Min sketch
  * in one narrow pass (`count_min_sketch` partials merge like any
  * aggregate — a few KB per task), broadcasts the fitted bytes back as a
  * plan literal, and prefilters rows with [[graft.plans.CmsAtLeast]]
  * BEFORE the exact count. CMS never undercounts, so the filter keeps a
  * superset of the true heavy keys: the result is EXACT — the sketch
  * only bounds the partial-agg state, (tasks × candidates) instead of
  * (tasks × vocabulary). Sketch error (`eps` relative overcount on
  * colliding keys) costs extra candidate rows, never a missed or wrong
  * answer, which is why the DuckDB oracle is a plain GROUP BY/HAVING.
  *
  * Null keys never count (SQL aggregate semantics drop them; the probe
  * is null-safe and yields null → filtered).
  */
object HeavyHitters {

  /** Exact (key, cnt) for keys with `cnt >= minCount`.
    *
    * The input is scanned twice (sketch fit, then candidate count), so
    * the exactness guarantee requires a DETERMINISTIC frame: a
    * nondeterministic input (`sample` without a seed, `rand()`-derived
    * filters, a re-read of changing data) can present different rows to
    * the two scans and silently drop a key that was light in scan 1 but
    * heavy in scan 2 — persist such inputs first.
    *
    * @param eps        CMS relative error: estimates overcount by at most
    *                   `eps * totalCount` with probability `confidence`.
    *                   Smaller eps = wider sketch = fewer false
    *                   candidates; 1e-4 keeps the sketch ~200 KB.
    * @param confidence per-probe probability the eps bound holds.
    */
  def heavyHitters(
      df: DataFrame,
      keyCol: String,
      minCount: Long,
      eps: Double = 1e-4,
      confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(eps > 0.0 && eps < 1.0, s"eps must be in (0, 1), got $eps")
    require(confidence > 0.0 && confidence < 1.0,
      s"confidence must be in (0, 1), got $confidence")
    graft.plans.GraftFunctions.register(df.sparkSession)
    val keyed = df.select(col(keyCol).cast("string").as("__k"))
      .filter(col("__k").isNotNull)
    val sketchBytes: Array[Byte] = keyed
      .agg(expr(s"count_min_sketch(__k, ${eps}d, ${confidence}d, $seed)")
        .as("__cms"))
      .head().getAs[Array[Byte]]("__cms")
    if (sketchBytes == null) // empty input: no aggregate row content
      return keyed.limit(0).groupBy(col("__k").as(keyCol))
        .agg(count(lit(1)).as("cnt"))
        .select(col(keyCol), col("cnt"))
    keyed
      .filter(call_function("graft_cms_atleast",
        col("__k"), lit(sketchBytes), lit(minCount)))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("__k").as(keyCol), col("cnt"))
  }

  /** [[heavyHitters]] over the token stream of a text column: exact
    * (token, cnt) with `cnt >= minCount` — vocabulary pruning /
    * boilerplate-word discovery without a full-vocabulary aggregation.
    */
  def heavyTokens(
      df: DataFrame,
      textCol: String,
      minCount: Long,
      eps: Double = 1e-4): DataFrame = {
    val toks = Similarity.spreadIfNarrow(df.filter(col(textCol).isNotNull))
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
    heavyHitters(toks, "token", minCount, eps)
  }
}

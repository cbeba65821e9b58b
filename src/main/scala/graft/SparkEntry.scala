package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.operators.Completeness
import graft.operators.Completeness.Flag

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in `queries` is an operator exercise from SURVEY.md §2 (or an
  * [EXT] LLM-pipeline operator); every SQL-expressible one has a matching
  * DuckDB oracle in `oracleSql` with IDENTICAL column names. Doubles that are
  * order-dependent sums are rounded on both sides so the hash compare is
  * stable; integer-flag means are exact in both engines and left unrounded.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  // ---------------------------------------------------------------------
  // Flagship: MQ completeness scores (reference MqReports.scala:22-111
  // shape) over the `documents` fixture, grouped by source.
  // ---------------------------------------------------------------------

  private val docFlags: Seq[Flag] = Seq(
    Flag("has_text", when(length(trim(col("text"))) > 0, 1).otherwise(0)),
    Flag("long_text", when(col("n_chars") >= 300, 1).otherwise(0)),
    Flag("lang_en", when(col("lang") === "en", 1).otherwise(0)),
    Flag("mentions_spark",
      Completeness.likeAnyFlag(col("text"), Seq("%spark%"))),
    Flag("mentions_engine",
      Completeness.likeAnyFlag(col("text"), Seq("%query%", "%scan%"))))

  def mqSourceScores(s: SparkSession, dir: String): DataFrame =
    Completeness.score(t(s, dir, "documents"), Seq("source"), docFlags)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    mqSourceScores(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------

  /** One entry per implemented operator from SURVEY.md §2.
    * Group objects under graft.queries contribute their own maps.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val base: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mq_source_scores" -> (mqSourceScores _),

    // D1/D2-style multi-aggregate hash agg over the big fact table.
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),
    )
    base ++ graft.queries.RelationalQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.VectorQueries.queries ++
      graft.queries.SchemaQueries.queries ++
      graft.queries.MediaQueries.queries ++
      graft.queries.ConvQueries.queries ++
      graft.queries.PrefQueries.queries ++
      graft.queries.DqQueries.queries ++
      graft.queries.DqQueries.refQueries ++
      graft.queries.ProfilingQueries.queries
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "mq_source_scores" ->
      """SELECT source,
         avg(CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END) AS has_text,
         avg(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS long_text,
         avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS lang_en,
         avg(CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) AS mentions_spark,
         avg(CASE WHEN text LIKE '%query%' OR text LIKE '%scan%' THEN 1 ELSE 0 END) AS mentions_engine,
         count(*) AS "count"
         FROM documents WHERE source IS NOT NULL GROUP BY source""",

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         round(sum(l_extendedprice), 4) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
         round(avg(l_quantity), 4) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
  ) ++ graft.queries.RelationalQueries.oracles ++
    graft.queries.TextQueries.oracles ++
    graft.queries.VectorQueries.oracles ++
    graft.queries.SchemaQueries.oracles ++
    graft.queries.MediaQueries.oracles ++
    graft.queries.ConvQueries.oracles ++
    graft.queries.PrefQueries.oracles ++
    graft.queries.DqQueries.oracles ++
    graft.queries.DqQueries.refOracles ++
    graft.queries.ProfilingQueries.oracles

  /** Queries that are BY DESIGN rows-only (no SQL oracle CAN exist):
    * inherently approximate surfaces — xxhash64-seeded sketches whose
    * exact candidate sets no independent engine replays — plus the
    * index-table produce path whose deliverable is a bucketed table no
    * oracle materializes. Each approximate entry has a fully
    * hash-oracled exact-md5 sibling proving the same operator semantics
    * (q_ann_*_md5, q_lsh_bucket_md5, q_minhash_md5, q_embed_neardup,
    * q_percentiles/q_distinct_agg; q_delta_index_write's decisions are
    * hash-oracled by q_delta_curate). Each approximate row's quality is
    * asserted in a spec: recall floors for q_ann_lsh, q_ann_pq and
    * q_embed_neardup_lsh (OperatorSpec, "ANN recall floors at BENCH
    * scale"), error bounds for q_approx_distinct (ScaleLayoutSpec, HLL)
    * and q_approx_percentile (OperatorSpec, percentile sketch), and
    * kernel-vs-fold bit parity for q_lsh_buckets (OperatorSpec,
    * HyperplaneSketch) and q_minhash_lsh (TextAnalysisSpec,
    * graft_minhash). Verify dumps this set as `rows_only.json` so
    * correctness tooling can report these rows as "rows_only (by
    * design)" rather than a `no_oracle` error.
    */
  def rowsOnly: Set[String] = Set(
    "q_ann_lsh", "q_ann_pq",
    "q_approx_distinct", "q_approx_percentile",
    "q_embed_neardup_lsh", "q_lsh_buckets", "q_minhash_lsh",
    "q_delta_index_write", "q_delta_index_bootstrap")
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Metadata-quality ("MQ") completeness scoring, generalized.
  *
  * The reference computes per-provider / per-contributor completeness scores
  * by projecting each record to a row of 0/1 presence flags and then taking
  * grouped means plus a record count
  * (/root/reference/.../MqReports.scala:22-134). This operator keeps that
  * exact two-stage shape — flag projection, then grouped mean — but takes the
  * flag definitions and grouping keys as parameters so the same operator
  * scores DPLA records (nested size()/LIKE/IS NULL flags) and the fixture
  * `documents` table alike.
  *
  * Scale notes (100 TB): the flag projection is a narrow map fused into the
  * scan by whole-stage codegen; the only shuffle is the partial/final
  * HashAggregate pair on the grouping keys — the same minimal plan the
  * reference's hand-written query compiles to. Grouped means are
  * map-side-combined (partial avg = (sum,count)), so shuffle volume is
  * O(#groups), not O(#records). Two nested levels come from ONE
  * aggregation, [[rollupScores]], where the reference recomputes the
  * projection 4× (MqReports.scala:136-153; SURVEY.md §3.2).
  */
object Completeness {

  /** A named 0/1 presence flag. */
  final case class Flag(name: String, expr: Column)

  /** Reference flag idioms (MqReports.scala:25-87), as combinators. */
  def sizeFlag(c: Column): Column = when(size(c) === 0, 0).otherwise(1)
  def notNullFlag(c: Column): Column = when(c.isNull, 0).otherwise(1)
  def likeAnyFlag(c: Column, patterns: Seq[String]): Column =
    when(patterns.map(c.like).reduce(_ || _), 1).otherwise(0)

  /** Conjunction-of-flags (wikimediaReady idiom, MqReports.scala:92). */
  def allOf(flagCols: Column*): Column =
    when(flagCols.map(_ === 1).reduce(_ && _), 1).otherwise(0)

  /** Stage 1: project id/grouping columns + flag columns. */
  def flagged(df: DataFrame, keep: Seq[Column], flags: Seq[Flag]): DataFrame =
    df.select(keep ++ flags.map(f => f.expr.as(f.name)): _*)

  private def scoreAggs(flagNames: Seq[String]): Seq[Column] =
    flagNames.map(n => mean(col(n)).alias(n)) :+ count(lit(1)).alias("count")

  /** Stage 2: grouped means of every flag + record count.
    *
    * The reference counts via `withColumn("count", lit(1))` + `sum("count")`
    * (MqReports.scala:93,111); `count(lit(1))` is the same value without the
    * extra projected column.
    */
  def scores(flaggedDf: DataFrame, groupCols: Seq[String], flagNames: Seq[String]): DataFrame = {
    val aggs = scoreAggs(flagNames)
    flaggedDf
      .filter(groupCols.map(c => col(c).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private val Level = "score_level" // 1: outer-key row, 0: (outer, inner) row

  /** Two levels of [[scores]] in one `rollup(outer, inner)` over non-null
    * outer keys, holding only the rows of [[outerScores]] and [[innerScores]];
    * means of 0/1 flags are exact, so each equals its [[scores]] row.
    */
  def rollupScores(flaggedDf: DataFrame, outer: String, inner: String,
      flagNames: Seq[String]): DataFrame =
    flaggedDf
      .filter(col(outer).isNotNull)
      .rollup(col(outer), col(inner))
      .agg(grouping_id().as(Level), scoreAggs(flagNames): _*)
      .where(col(Level) === 1 || (col(Level) === 0 && col(inner).isNotNull))

  /** `scores(_, Seq(outer), _)`, selected from a [[rollupScores]] frame. */
  def outerScores(rolled: DataFrame, outer: String, flagNames: Seq[String]): DataFrame =
    rolled.where(col(Level) === 1).select((outer +: flagNames :+ "count").map(col): _*)

  /** `scores(_, Seq(inner, outer), _)`, selected from a [[rollupScores]] frame. */
  def innerScores(rolled: DataFrame, outer: String, inner: String,
      flagNames: Seq[String]): DataFrame =
    rolled.where(col(Level) === 0).select((inner +: outer +: flagNames :+ "count").map(col): _*)

  /** One-shot: flags then scores. */
  def score(df: DataFrame, groupCols: Seq[String], flags: Seq[Flag]): DataFrame =
    scores(flagged(df, groupCols.map(col), flags), groupCols, flags.map(_.name))
}

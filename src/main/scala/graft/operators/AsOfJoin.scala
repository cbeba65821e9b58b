package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (point-in-time) join — an operator the reference lacks but whose key
  * space it sets up (record-id / time chains; SURVEY.md §2.E [EXT]).
  *
  * Semantics: for every left row, attach the single right row with the same
  * key and the greatest right timestamp <= the left timestamp. Ties between
  * right rows sharing (key, ts) are resolved deterministically: the row with
  * the greatest value of the LAST `rightCols` column wins (it sorts last in
  * the window frame, and `last` over the frame takes it) — pass an id column
  * last to pin run-to-run stability.
  *
  * Implementation is the scale-friendly union+window form, NOT a join:
  * both sides are tagged and unioned, then one window pass per key ordered by
  * (ts, side) carries the most recent right payload forward onto left rows.
  * Cost at 100 TB: exactly ONE shuffle (hash by key) + one in-partition sort —
  * no O(L×R) pair blow-up, no range-condition nested-loop join, skew bounded
  * by per-key cardinality. This is the standard distributed as-of plan (same
  * shape Flink/kdb use); Spark's own sort-merge join cannot express "latest
  * prior row" without an aggregation that re-shuffles.
  */
object AsOfJoin {

  /** leftTs/rightTs must be comparable columns named in their own frames.
    * Output: all left columns + the requested right columns (null when no
    * prior right row exists).
    *
    * Null semantics (matching SQL ASOF JOIN): a right row with a NULL key
    * or NULL timestamp is incomparable and matches nothing — both are
    * filtered before the union (without the filter, null timestamps sort
    * FIRST under the ascending window order and would be carried as the
    * "latest prior" payload onto every row, and null keys on both sides
    * would group into one window partition and fabricate matches that an
    * equality join would never produce). Left rows with a null key or
    * null timestamp pass through with null right columns: after the
    * right-side filter they sort at the head of their partition with no
    * right row before them.
    */
  def asOf(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String]): DataFrame = {
    require(rightCols.nonEmpty,
      "rightCols must name at least one column to attach (the last one " +
        "doubles as the deterministic tie-break)")
    val leftNames = left.columns.toSeq
    // side: right=0 sorts before left=1 at equal ts, so a right row AT the
    // left timestamp is visible (>= as-of semantics, matching ASOF JOIN).
    val l = left.select(
      col(key).as("__k"), col(leftTs).as("__t"), lit(1).as("__side"),
      struct(leftNames.map(col): _*).as("__l"),
      lit(null).cast(structType(right, rightCols)).as("__r"))
    val r = right
      .filter(col(key).isNotNull && col(rightTs).isNotNull)
      .select(
        col(key).as("__k"), col(rightTs).as("__t"), lit(0).as("__side"),
        lit(null).cast(structType(left, leftNames)).as("__l"),
        struct(rightCols.map(col): _*).as("__r"))

    // third sort key = last rightCols column (null on left rows, which are
    // already separated by __side) → deterministic winner among right rows
    // tied on (key, ts)
    val w = Window.partitionBy("__k")
      .orderBy(col("__t"), col("__side"), col("__r").getField(rightCols.last))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__r", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)

    val out = leftNames.map(n => col("__l").getField(n).as(n)) ++
      rightCols.map(n => col("__r").getField(n).as(n))
    carried.select(out: _*)
  }

  private def structType(df: DataFrame, cols: Seq[String]) =
    org.apache.spark.sql.types.StructType(
      cols.map(c => df.schema(c)))
}

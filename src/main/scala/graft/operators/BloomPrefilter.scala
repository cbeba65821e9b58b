package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Explicit Bloom-filter semi-join pushdown ([EXT]): build a Bloom filter
  * over the small side's join keys, broadcast the single serialized sketch,
  * and drop big-side rows that cannot match BEFORE the join's shuffle.
  *
  * Catalyst injects this automatically for some shuffle joins
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), but only under its
  * own heuristics; this operator makes the pattern available anywhere —
  * e.g. pre-filtering a 100 TB fact scan against a filtered dimension
  * before an aggregation, where the optimizer sees no join to instrument.
  *
  * No false negatives (every true match survives — guaranteed by the Bloom
  * contract over identical xxhash64-ed keys on both sides), a tunable
  * false-positive rate, and the filter itself is one `numBits/8`-byte blob:
  * shuffle volume drops by the big side's non-matching fraction for one
  * broadcast of KBs-to-MBs.
  *
  * Uses Spark's own BloomFilterAggregate/BloomFilterMightContain
  * expressions (registered as graft_bloom_agg / graft_might_contain —
  * they are internal to the runtime-filter rule and not SQL-exposed).
  */
object BloomPrefilter {

  /** Rows of `big` whose `bigKey` might match some `small.smallKey`
    * (superset of the exact semi join; follow with the exact join).
    *
    * Like annIvf's centroid table, the built filter is collected and
    * inlined as a binary literal: might_contain requires a constant (or
    * scalar subquery) filter, and a literal keeps the big-side pass a
    * fully narrow codegen'd filter — no join node at all. Building the
    * filter runs one aggregation job over `small` at construction time.
    */
  def semiFilter(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      expectedItems: Long = 1000000L,
      numBits: Long = 8L * 1000000L): DataFrame = {
    // both frames run jobs here (the build agg on `small`, the filter on
    // `big`) — register on both sessions so a cross-session pair can't hit
    // an unresolved-function error halfway through
    graft.plans.GraftFunctions.register(big.sparkSession)
    graft.plans.GraftFunctions.register(small.sparkSession)
    // xxhash64 hashes by PHYSICAL type (hashInt vs hashLong), so equal
    // values of different widths hash differently and every true match
    // would be dropped. Normalize integrals to long; anything else must
    // already agree.
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    def keyed(df: DataFrame, key: String): Column =
      if (integral(df.schema(key).dataType)) col(key).cast("long")
      else col(key)
    val bigType = big.schema(bigKey).dataType
    val smallType = small.schema(smallKey).dataType
    require((integral(bigType) && integral(smallType)) || bigType == smallType,
      s"join keys must hash identically: $bigKey is $bigType, " +
        s"$smallKey is $smallType — cast them to a common type first")
    val bfBytes: Array[Byte] = small
      .select(xxhash64(keyed(small, smallKey)).as("__h"))
      .agg(expr(s"graft_bloom_agg(__h, ${expectedItems}L, ${numBits}L)")
        .as("__bf"))
      .head().getAs[Array[Byte]]("__bf")
    if (bfBytes == null) big.filter(lit(false)) // empty small side: no matches
    else big.filter(
      call_function("graft_might_contain", lit(bfBytes),
        xxhash64(keyed(big, bigKey))))
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Fixture-table loader for the TPC-H-ish test corpus (TESTDATA.md).
  *
  * Canonical local source is Parquet (the reference's master dataset is Avro
  * on S3 — /root/reference/.../ParquetDump.scala:116 — but no spark-avro jar
  * ships locally, so Parquet is the engine's canonical columnar source; see
  * SURVEY.md §2.A1). All readers go through `spark.read.parquet`, which gives
  * vectorized scans, predicate pushdown, and nested-schema pruning for free.
  */
object Tables {
  /** Conf a session reading a NANOS-encoded `events` must carry (set by
    * the graft session builders — Verify, perfbench and the test
    * harness — at construction; `table` deliberately does NOT
    * set it, so reading one table can't silently change parquet
    * semantics session-wide).
    */
  val nanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** One fixture table, kept as a temp view of the calling session named
    * by its backquoted path (`` `<dir>/<name>` ``): `spark.read.parquet`
    * runs a footer-inference job per call, a sweep reads the same tables
    * hundreds of times, and a view's stored plan resolves with no job.
    * Self-joins of two reads are deduplicated like any other self-join.
    * The view dies with its session; `spark.newSession()` starts without
    * it. A path holds a `/`, so it cannot collide with a managed table; view
    * names are case-insensitive, so dirs differing only in case share one.
    * The listing is taken once per session: a parquet file rewritten under
    * an already-read dir is not seen again by that session.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"${dir.stripSuffix("/")}/$name"
    val view = s"`${path.replace("`", "``")}`"
    if (!spark.catalog.tableExists(view))
      load(spark, dir, name).createOrReplaceTempView(view)
    spark.table(view)
  }

  /** Load one fixture table from a scale-factor directory.
    *
    * `events.ts` has shipped in two encodings across testdata
    * generations, both normalized here to a session-zoned TIMESTAMP so
    * every downstream query sees one type:
    *  - Parquet TIMESTAMP(NANOS), which Spark 4's vectorized reader
    *    rejects outright: read as a long (legacy flag) and
    *    integer-divided down to microseconds — `ts div 1000`, NOT
    *    `/ 1000`: epoch-nanos (~1.7e18) exceed a double's 2^53 integer
    *    range, so float division would corrupt timestamps. DuckDB (the
    *    oracle) truncates NANOS→micros the same way.
    *  - Parquet TIMESTAMP(MICROS) without timezone (TIMESTAMP_NTZ to
    *    Spark): cast to TIMESTAMP, wall-clock-preserving under the UTC
    *    session timezone every graft session pins.
    */
  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"${dir.stripSuffix("/")}/$name.parquet"
    if (name == "events") {
      val df = spark.read.parquet(path)
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // NANOS generation, surfaced as long via the legacy flag
          require(spark.conf.getOption(nanosAsLongKey)
              .exists(_.equalsIgnoreCase("true")),
            s"reading `events` needs $nanosAsLongKey=true at session " +
              "build (its ts column is parquet TIMESTAMP(NANOS))")
          df.withColumn("ts", org.apache.spark.sql.functions.expr(
            "timestamp_micros(ts div 1000)"))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.col("ts").cast("timestamp"))
        case _ => df
      }
    } else spark.read.parquet(path)
  }
}

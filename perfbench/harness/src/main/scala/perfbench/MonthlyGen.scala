package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.processes.Processes
import graft.schema.{DplaMap, SchemaAlign}
import graft.sources.AvroDirect

/** The enrichment half of the `monthly_batch` input: per-provider Avro
  * snapshots under `master/<provider>/enrichment/<snapshot>/`, written by
  * `AvroDirect`, plus `expect_monthly.json` with the outputs the chain
  * must produce. (The JSON-lines half and `records.parquet` — one flat row
  * per record with its seed-drawn item id and provider hub — come from
  * `gen_tables.monthly_records`.)
  *
  * Each flat record is mapped to the nested record field by field (every
  * field the MQ report reads, emptiness and nullness decided by id
  * arithmetic), then aligned to the canonical `DplaMap.record`.
  *
  * The expected export digest comes from `Processes.flattenRecord` over
  * the in-memory canonical frame; the timed run reads through the Avro
  * round trip instead, so the two paths differ.
  */
object MonthlyGen {

  def generate(spark: SparkSession, a: Map[String, String]): Unit = {
    val out = a("inputs")
    val flat = spark.read.parquet(s"$out/records.parquet")
    val canonical = SchemaAlign.alignToSchema(master(flat), DplaMap.record)
      .withColumn("__hub", col("provider.name"))
      .localCheckpoint()
    val counts = canonical.groupBy("__hub").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (h <- counts.keys.toSeq.sorted) AvroDirect.write(
      canonical.filter(col("__hub") === h).drop("__hub").repartition(2),
      s"$out/master/$h/enrichment/${a("snapshot")}")
    val records = canonical.drop("__hub")
    val contributors = records
      .select(col("dataProvider.name"), col("provider.name")).distinct().count()
    val expect = Map[String, Any](
      "records" -> counts.values.sum,
      "provider_counts" -> counts,
      "providers" -> counts.size.toLong,
      "contributors" -> contributors,
      "export_digest" -> Main.digest(Processes.flattenRecord(records)))
    Files.writeString(Paths.get(s"$out/expect_monthly.json"), Json.render(expect))
  }

  /** The nested master record, in the shape of the DPLA MAP fields the
    * export and the MQ report read.
    */
  private def master(df: DataFrame): DataFrame = {
    val d = col("d")
    def emptyWhen(cond: Column, a: Column): Column =
      when(cond, slice(a, 1, 0)).otherwise(a)
    def wrap(c: Column): Column = SchemaAlign.wrapValue(c)
    val rights = when(d % 5 === 1, lit("http://rightsstatements.org/vocab/NoC-US/1.0/"))
      .when(d % 5 === 2, lit("http://creativecommons.org/publicdomain/mark/1.0/"))
      .when(d % 5 === 4, lit("http://creativecommons.org/licenses/by-sa/4.0/"))
      .when(d % 5 === 3, lit("http://example.org/all-rights-reserved"))
    df.select(
      wrap(concat(lit("http://dp.la/api/items/"), col("item"))).as("dplaUri"),
      struct(
        when(d % 3 === 2, lit(null))
          .otherwise(emptyWhen(d % 3 === 0, array(substring(col("text"), 1, 60))))
          .as("title"),
        emptyWhen(d % 2 === 0, array(col("text"))).as("description"),
        emptyWhen(d % 4 === 0, array(struct(concat(lit("cr_"), col("lang")).as("name"))))
          .as("creator"),
        emptyWhen(d % 5 === 0, array(lit("text"))).as("type"),
        emptyWhen(d % 6 === 0, array(struct(col("lang").as("providedLabel"))))
          .as("language"),
        emptyWhen(d % 3 === 1, array(struct(col("source").as("name")))).as("place"),
        emptyWhen(d % 4 === 1, array(struct(col("lang").as("providedLabel"))))
          .as("subject"),
        emptyWhen(d % 5 === 2, array(struct(concat(col("source"), lit("-c")).as("title"))))
          .as("collection"),
        emptyWhen(d % 6 === 3, array(struct(
          concat(lit("19"), (d % 90 + 10).cast(StringType)).as("originalSourceDate"))))
          .as("date")).as("sourceResource"),
      struct(col("hub").as("name")).as("provider"),
      struct(concat(lit("dp_"), col("lang")).as("name")).as("dataProvider"),
      when(d % 2 === 0, lit(null))
        .otherwise(struct(wrap(concat(lit("http://obj/"), col("item"))).as("uri")))
        .as("object"),
      when(d % 3 === 0, lit(null))
        .otherwise(wrap(concat(lit("http://iiif/"), col("item")))).as("iiifManifest"),
      when(d % 4 === 1, lit(null))
        .otherwise(emptyWhen(d % 4 === 0, array(struct(
          wrap(concat(lit("http://media/"), col("item"))).as("uri")))))
        .as("mediaMaster"),
      wrap(rights).as("edmRights"))
  }
}

package graft.processes

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Completeness, Flatten}
import graft.schema.{DplaMap, SchemaAlign}
import graft.sinks._

/** The reference's seven driver programs re-expressed as composable
  * plan-builder + sink pairs (SURVEY.md §0 table; §7.1 "every pipeline =
  * pure plan-builder function + thin side-effecting sink").
  *
  * Each function takes already-loaded frames, so tests and the correctness
  * harness can drive the plan without object-store I/O. Path discovery is
  * `Catalog`; receipts are `Manifest`.
  */
object Processes {

  /** ParquetDump (ParquetDump.scala:115-126): canonical master dataset →
    * flattened export. The nested rewrite is one collapsed Project — a
    * narrow, shuffle-free stage at any scale. Rows are counted by an
    * observed metric on the write: one job, where a read-back count is three.
    */
  def parquetDump(records: DataFrame, outPath: String): Long = {
    val rows = Observation()
    flattenRecord(records).observe(rows, count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    rows.get("n").asInstanceOf[Long]
  }

  /** The ParquetDump.modifyColumns rewrite (ParquetDump.scala:10-52) built
    * from the Flatten combinators: unwrap dplaUri, derive id, flatten
    * entity columns, rebuild sourceResource (genre omitted), drop the
    * export-excluded payload columns. Column order reproduces the
    * reference's withColumn/drop mechanics — in-place replacements keep
    * master positions, derived `uri`/`id`/`rights` append at the end — so
    * the output schema equals `DplaMap.exportRecord` field-for-field
    * (golden-tested in SchemaAlignSpec).
    */
  def flattenRecord(records: DataFrame): DataFrame = {
    val cols = Seq(
      Flatten.flattenSourceResource(col("sourceResource")).as("sourceResource"),
      Flatten.flattenAgent(col("dataProvider")).as("dataProvider"),
      transform(col("hasView"), Flatten.flattenWebResource(_)).as("hasView"),
      Flatten.flattenAgent(col("intermediateProvider")).as("intermediateProvider"),
      Flatten.flattenWebResource(col("isShownAt")).as("isShownAt"),
      Flatten.flattenWebResource(col("object")).as("object"),
      Flatten.flattenWebResource(col("preview")).as("preview"),
      Flatten.flattenAgent(col("provider")).as("provider"),
      col("originalId"),
      SchemaAlign.unwrapValue(col("iiifManifest")).as("iiifManifest"),
      transform(col("mediaMaster"), Flatten.flattenWebResource(_)).as("mediaMaster"),
      SchemaAlign.unwrapValue(col("dplaUri")).as("uri"),
      Flatten.itemId(col("dplaUri")).as("id"),
      SchemaAlign.unwrapValue(col("edmRights")).as("rights"))
    records.select(cols: _*)
  }

  /** MqReports (MqReports.scala:12-158): both reports from ONE rollup, where
    * the reference recomputes the scan and flag projection 4× (SURVEY.md
    * §3.2). It is fetched once behind a limit, so an oversized report fails
    * with [[CsvReport]]'s message instead of landing on the driver whole;
    * each report, sorted by its (string) keys, reruns byte-identical.
    */
  def mqReports(
      flagged: DataFrame,
      flagNames: Seq[String],
      outProviderDir: String,
      outContributorDir: String,
      timestamp: String): (Long, Long) = {
    val rolled = Completeness.rollupScores(flagged, "provider", "dataProvider", flagNames)
    // the rollup holds exactly the two reports' rows, so a fetch that
    // reaches this limit leaves at least one of them over the bound
    val fetched = rolled.limit(2 * CsvReport.MaxRows + 1).collect().toSeq
    val local = flagged.sparkSession.createDataFrame(fetched.asJava, rolled.schema)
    // the q_mq_dpla / q_mq_dpla_contrib selections, on a local frame: no job
    val provider = Completeness.outerScores(local, "provider", flagNames)
    val contributor = Completeness.innerScores(local, "provider", "dataProvider", flagNames)
    val providerRows = provider.collect().toSeq.sortBy(_.getString(0))
    val contributorRows =
      contributor.collect().toSeq.sortBy(r => (r.getString(0), r.getString(1)))
    // both bounds hold before either report is written
    Seq(providerRows, contributorRows).foreach(r => CsvReport.requireFits(r.size))
    (CsvReport.write(providerRows, provider.schema, outProviderDir,
      Map("Report" -> "provider"), timestamp),
     CsvReport.write(contributorRows, contributor.schema, outContributorDir,
      Map("Report" -> "contributor"), timestamp))
  }

  /** SchemaRepair (SchemaRepair.scala:26-138): align to canonical. */
  def schemaRepair(records: DataFrame): DataFrame =
    SchemaAlign.alignToSchema(records, DplaMap.record)

  /** SchemaTest (SchemaTest.scala:16-28): per-provider DDL dump + drift. */
  def schemaTest(
      spark: SparkSession,
      frames: Map[String, DataFrame],
      outRoot: String): Seq[String] =
    SchemaDdl.divergent(SchemaDdl.dump(spark, frames, outRoot))

  /** ThumbnailPurge (ThumbnailPurge.scala:9-28): id → key fan-out in-plan,
    * executor-side batched deletes. The returned count is "keys absent
    * after the pass" and reconciles against the INPUT id count (ids whose
    * thumbnail never existed are counted gone) — use `KeyPurge.purgeStats`
    * for the deleted/already-absent split.
    */
  def thumbnailPurge(ids: Dataset[String], thumbRoot: String): Long = {
    import ids.sparkSession.implicits._
    val keys = ids
      .select(concat_ws("/",
        substring(col("value"), 1, 1), substring(col("value"), 2, 1),
        substring(col("value"), 3, 1), substring(col("value"), 4, 1),
        concat(col("value"), lit(".jpg"))).as("key"))
      .where(length(col("value")) >= 4)
      .as[String]
    KeyPurge.purge(keys, thumbRoot)
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Completeness.Flag

/** The reference's exact MQ flag set over the flattened DPLA export
  * (MqReports.scala:22-134), reproduced flag-for-flag so score CSVs match
  * byte-for-byte given the same records.
  *
  * Faithfully-preserved quirks (SURVEY.md §2.C note — required for oracle
  * parity, do NOT "fix"):
  *  - `preview` tests the `object` column, not `preview`
  *    (MqReports.scala:72-75);
  *  - a NULL array yields flag 1, not 0: `size(null)` is null post-Spark-3
  *    defaults, so `CASE WHEN size(x)==0 THEN 0 ELSE 1` falls through to
  *    the ELSE branch (same behavior on the reference's Spark 3.5.5);
  *  - the reference's `drop("dataProviders")` (MqReports.scala:91) is a
  *    no-op on a misspelled column and is omitted here.
  */
object MqDpla {

  import Completeness.{likeAnyFlag, notNullFlag, sizeFlag}

  /** MqReports.scala:25-87, in CSV column order. */
  val flags: Seq[Flag] = Seq(
    Flag("title", sizeFlag(col("sourceResource.title"))),
    Flag("description", sizeFlag(col("sourceResource.description"))),
    Flag("creator", sizeFlag(col("sourceResource.creator"))),
    Flag("type", sizeFlag(col("sourceResource.type"))),
    Flag("language", sizeFlag(col("sourceResource.language.providedLabel"))),
    Flag("spatial", sizeFlag(col("sourceResource.place.name"))),
    Flag("subject", sizeFlag(col("sourceResource.subject.providedLabel"))),
    Flag("collection", sizeFlag(col("sourceResource.collection.title"))),
    Flag("date", sizeFlag(col("sourceResource.date.originalSourceDate"))),
    Flag("standardizedRights", notNullFlag(col("rights"))),
    Flag("openRights", likeAnyFlag(col("rights"), Seq(
      "%/NoC-US/%", "%/publicdomain/%", "%/by/%", "%/by-sa/%"))),
    Flag("preview", notNullFlag(col("object"))), // quirk: tests `object`
    Flag("iiifManifest", notNullFlag(col("iiifManifest"))),
    Flag("mediaMaster", sizeFlag(col("mediaMaster"))),
    // MqReports.scala:84-87: 0 only when NEITHER iiifManifest NOR
    // mediaMaster exists; a NULL mediaMaster array falls through to 1
    // (size(null) == 0 is null, so the conjunction is not true).
    Flag("mediaAccess",
      when(col("iiifManifest").isNull && size(col("mediaMaster")) === 0, 0)
        .otherwise(1)))

  /** The itemdata projection (MqReports.scala:22-88): id, group names,
    * flags — one narrow codegen'd Project over the parquet scan.
    */
  def itemdata(items: DataFrame): DataFrame =
    Completeness.flagged(items,
      Seq(col("id"), col("provider.name").as("provider"),
        col("dataProvider.name").as("dataProvider")),
      flags)

  def withDerived(d: DataFrame): DataFrame =
    d.withColumn("wikimediaReady",
      Completeness.allOf(col("mediaAccess"), col("openRights")))

  /** Score-CSV column order follows the reference's AGG list
    * (MqReports.scala:95-111), not the itemdata projection order: there
    * `openRights` lands after `mediaAccess`, immediately before
    * `wikimediaReady` — required for the byte-for-byte CSV claim above.
    */
  val scoreCols: Seq[String] =
    flags.map(_.name).filterNot(_ == "openRights") :+
      "openRights" :+ "wikimediaReady"

  /** Both reports' scores (MqReports.scala:90-134) in one aggregation. */
  def scoreRollup(itemdata: DataFrame): DataFrame =
    Completeness.rollupScores(withDerived(itemdata), "provider", "dataProvider", scoreCols)

  /** providerScores (MqReports.scala:90-111). */
  def providerScores(itemdata: DataFrame): DataFrame =
    Completeness.outerScores(scoreRollup(itemdata), "provider", scoreCols)

  /** contributorScores (MqReports.scala:113-134). */
  def contributorScores(itemdata: DataFrame): DataFrame =
    Completeness.innerScores(scoreRollup(itemdata), "provider", "dataProvider", scoreCols)
}

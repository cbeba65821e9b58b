package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.operators.MqDpla

/** Golden test for the reference's exact MQ flag semantics over flattened
  * DPLA records, including the preserved quirks (preview→object,
  * null-array ⇒ flag 1).
  */
class MqDplaSpec extends SparkSpec {

  private val nameStruct = StructType(Seq(StructField("name", StringType)))
  private def labelArr(f: String) = ArrayType(StructType(Seq(StructField(f, StringType))))

  private val schema = StructType(Seq(
    StructField("id", StringType),
    StructField("provider", nameStruct),
    StructField("dataProvider", nameStruct),
    StructField("sourceResource", StructType(Seq(
      StructField("title", ArrayType(StringType)),
      StructField("description", ArrayType(StringType)),
      StructField("creator", labelArr("name")),
      StructField("type", ArrayType(StringType)),
      StructField("language", labelArr("providedLabel")),
      StructField("place", labelArr("name")),
      StructField("subject", labelArr("providedLabel")),
      StructField("collection", labelArr("title")),
      StructField("date", labelArr("originalSourceDate"))))),
    StructField("rights", StringType),
    StructField("object", StringType),
    StructField("iiifManifest", StringType),
    StructField("mediaMaster", ArrayType(StringType))))

  private def sr(full: Boolean, nullTitle: Boolean = false) =
    if (full) Row(Seq("t"), Seq("d"), Seq(Row("c")), Seq("img"), Seq(Row("en")),
      Seq(Row("Boston")), Seq(Row("maps")), Seq(Row("coll")), Seq(Row("1900")))
    else Row(if (nullTitle) null else Seq.empty[String], Seq.empty[String],
      Seq.empty[Row], Seq.empty[String], Seq.empty[Row], Seq.empty[Row],
      Seq.empty[Row], Seq.empty[Row], Seq.empty[Row])

  private val rows = Seq(
    // complete record, open rights, has media ⇒ mediaAccess=1,
    // wikimediaReady=1
    Row("r1", Row("hubA"), Row("c1"), sr(full = true),
      "http://rightsstatements.org/vocab/NoC-US/1.0/", "http://obj/1",
      "http://iiif/1", Seq("m1")),
    // empty record, no rights/media ⇒ mediaAccess=0, all else 0
    Row("r2", Row("hubA"), null, sr(full = false),
      null, null, null, Seq.empty[String]),
    // null title array ⇒ title flag 1 (quirk); by/ rights but no media ⇒
    // openRights=1, mediaAccess=0 ⇒ wikimediaReady=0
    Row("r3", Row("hubB"), Row("c3"), sr(full = false, nullTitle = true),
      "https://creativecommons.org/licenses/by/4.0/", null, null,
      Seq.empty[String]))

  private lazy val items = spark.createDataFrame(
    spark.sparkContext.parallelize(rows), schema)

  test("itemdata flags reproduce the reference quirks") {
    val d = MqDpla.itemdata(items).collect()
      .map(r => r.getAs[String]("id") -> r).toMap

    val r1 = d("r1")
    assert(r1.getAs[Int]("title") === 1)
    assert(r1.getAs[Int]("openRights") === 1)
    assert(r1.getAs[Int]("preview") === 1)   // from object, not preview
    assert(r1.getAs[Int]("mediaAccess") === 1) // has media ⇒ 1

    val r2 = d("r2")
    assert(r2.getAs[Int]("title") === 0)
    assert(r2.getAs[Int]("standardizedRights") === 0)
    assert(r2.getAs[Int]("mediaAccess") === 0) // no media ⇒ 0

    val r3 = d("r3")
    assert(r3.getAs[Int]("title") === 1) // null array quirk ⇒ 1
    assert(r3.getAs[Int]("description") === 0)
  }

  test("provider scores aggregate with wikimediaReady and count") {
    val scores = MqDpla.providerScores(MqDpla.itemdata(items)).collect()
      .map(r => r.getAs[String]("provider") -> r).toMap
    val a = scores("hubA")
    assert(a.getAs[Double]("title") === 0.5)
    assert(a.getAs[Double]("mediaAccess") === 0.5)
    assert(a.getAs[Double]("wikimediaReady") === 0.5) // r1: media + open rights
    assert(a.getAs[Long]("count") === 2L)
    val b = scores("hubB")
    assert(b.getAs[Double]("wikimediaReady") === 0.0) // open rights, no media
    assert(b.getAs[Long]("count") === 1L)
  }

  test("itemdata runs end-to-end on the flattenRecord export shape") {
    import graft.schema.{DplaMap, SchemaAlign}
    val rec = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("http://dp.la/api/items/e2e1"))),
      StructType(Seq(StructField("dplaUri", StringType))))
    val flattened = graft.processes.Processes.flattenRecord(
      SchemaAlign.alignToSchema(rec, DplaMap.record))
    val d = MqDpla.itemdata(flattened).collect()
    assert(d.length === 1)
    assert(d.head.getAs[String]("id") === "e2e1")
  }

  test("contributor scores drop null dataProviders (reference filter)") {
    val scores = MqDpla.contributorScores(MqDpla.itemdata(items)).collect()
    assert(scores.length === 2) // r2 has null dataProvider
    assert(scores.map(_.getAs[String]("dataProvider")).toSet === Set("c1", "c3"))
  }

  test("the rollup reports equal the per-level groupBy scores exactly, as rows and as CSV bytes") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import graft.operators.Completeness
    import graft.processes.Processes
    // reference: one plain groupBy per report (the pre-rollup shape)
    def byKey(df: DataFrame, keys: Int): Map[Seq[Any], Seq[Any]] =
      df.collect().map(r => r.toSeq.take(keys) -> r.toSeq.drop(keys)).toMap
    def sameScores(got: DataFrame, want: DataFrame, keys: Int): Unit = {
      assert(got.columns.toSeq === want.columns.toSeq)
      val (g, w) = (byKey(got, keys), byKey(want, keys))
      assert(g.keySet === w.keySet)
      // doubles compared with ==, not a tolerance
      for (k <- w.keys) assert(g(k) == w(k), k)
    }

    // the DPLA flag set over the nested fixture (r2: null dataProvider)
    val derived = MqDpla.withDerived(MqDpla.itemdata(items))
    sameScores(MqDpla.providerScores(MqDpla.itemdata(items)),
      Completeness.scores(derived, Seq("provider"), MqDpla.scoreCols), 1)
    sameScores(MqDpla.contributorScores(MqDpla.itemdata(items)),
      Completeness.scores(derived, Seq("dataProvider", "provider"),
        MqDpla.scoreCols), 2)

    // null provider, null dataProvider, a provider whose only rows have a
    // null dataProvider, names holding a comma and a quote; means in
    // thirds and sevenths
    val hostile = "Hub, \"The\" One"
    val rows = (1 to 42).map { i =>
      val provider = i % 6 match {
        case 0 => null
        case 1 => "hubNoContrib"
        case 2 => hostile
        case _ => s"hub${i % 4}"
      }
      val dataProvider = if (provider == "hubNoContrib" || i % 5 == 0) null
        else if (i % 2 == 0) "c,\"q\"" else s"c${i % 3}"
      Row(provider, dataProvider, i % 3 % 2, if (i % 7 == 0) 1 else 0)
    }
    val flagged = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("provider", StringType),
        StructField("dataProvider", StringType),
        StructField("f1", IntegerType), StructField("f2", IntegerType))))
    val names = Seq("f1", "f2")
    val rolled = Completeness.rollupScores(flagged, "provider", "dataProvider", names)
    val wantP = Completeness.scores(flagged, Seq("provider"), names)
    val wantC = Completeness.scores(flagged, Seq("dataProvider", "provider"), names)
    sameScores(Completeness.outerScores(rolled, "provider", names), wantP, 1)
    sameScores(Completeness.innerScores(rolled, "provider", "dataProvider", names),
      wantC, 2)
    assert(wantP.where(col("provider") === "hubNoContrib").count() === 1)
    assert(wantC.where(col("provider") === "hubNoContrib").count() === 0)

    // the CSV files mqReports writes hold the groupBy reports' lines
    def tmp() = Files.createTempDirectory("graft-test").toString
    def lines(dir: String): Seq[String] = {
      val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
      assert(parts.length === 1, dir)
      new String(Files.readAllBytes(parts.head.toPath), "UTF-8").linesIterator.toSeq.sorted
    }
    val (outP, outC) = (tmp(), tmp())
    Processes.mqReports(flagged, names, outP, outC, "2026-10-19")
    for ((want, got) <- Seq(wantP -> outP, wantC -> outC)) {
      val dir = tmp()
      want.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)
      assert(lines(got) === lines(dir))
    }
    assert(lines(outP).exists(_.startsWith("\"Hub, \\\"The\\\" One\",")))
  }
}

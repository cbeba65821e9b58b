package graft

import java.sql.{Date, Timestamp}

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.AvroDirect

/** Round-trip and schema-resolution tests for the direct Avro
  * container-file path (A1/H2 without the optional spark-avro jar).
  */
class AvroSpec extends SparkSpec {

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-avro").toString

  test("nested DPLA-MAP record round-trips through Avro (write → read)") {
    // the reference's master dataset IS this shape (SchemaRepair.scala:31)
    val rec = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("http://dp.la/api/items/abc1"),
        Row("http://dp.la/api/items/abc2"),
        Row(null))),
      StructType(Seq(StructField("dplaUri", StringType))))
    val canonical = graft.schema.SchemaAlign.alignToSchema(
      rec, graft.schema.DplaMap.record)
    val out = tmpDir()
    AvroDirect.write(canonical, out)
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.schema === canonical.schema)
    val a = canonical.orderBy(col("dplaUri").asc_nulls_last).collect()
    val b = back.orderBy(col("dplaUri").asc_nulls_last).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("full type matrix round-trips: date, timestamp, binary, map, array, struct") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("i", IntegerType),
      StructField("f", FloatType),
      StructField("d", DoubleType),
      StructField("bool", BooleanType),
      StructField("day", DateType),
      StructField("ts", TimestampType),
      StructField("bin", BinaryType),
      StructField("tags", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, LongType)),
      StructField("inner", StructType(Seq(
        StructField("s", StringType),
        StructField("xs", ArrayType(LongType)))))))
    val ts = Timestamp.valueOf("2026-08-13 01:02:03.123456")
    val rows = Seq(
      Row(1L, 7, 1.5f, 2.25, true, Date.valueOf("2026-08-13"), ts,
        Array[Byte](1, 2, 3), Seq("a", "b"), Map("k" -> 9L),
        Row("s1", Seq(1L, 2L))),
      Row(2L, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = tmpDir()
    AvroDirect.write(df, out)
    val back = AvroDirect.read(spark, Seq(out)).orderBy("id")
    assert(back.schema === schema)
    val got = back.collect()
    assert(got(0).getAs[Date]("day") === Date.valueOf("2026-08-13"))
    assert(got(0).getAs[Timestamp]("ts") === ts) // micros preserved
    assert(got(0).getAs[Array[Byte]]("bin").toSeq === Seq[Byte](1, 2, 3))
    assert(got(0).getAs[Seq[String]]("tags") === Seq("a", "b"))
    assert(got(0).getAs[Map[String, Long]]("attrs") === Map("k" -> 9L))
    assert(got(0).getAs[Row]("inner") === Row("s1", Seq(1L, 2L)))
    assert((1 to 10).forall(got(1).isNullAt))
  }

  test("nullable byte/short columns write as Avro INT (union resolution)") {
    // toAvro maps ByteType|ShortType to INT, but Avro's [null,int] union
    // resolution is `instanceof Integer` — a raw java.lang.Byte/Short
    // threw UnresolvedUnionException on every non-null row until
    // the write converter widened them (review finding). Reads come
    // back as IntegerType (the declared Avro type), values intact.
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("b", ByteType),
      StructField("s", ShortType)))
    val rows = Seq(Row(1L, 7.toByte, 300.toShort), Row(2L, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = tmpDir()
    AvroDirect.write(df, out)
    val back = AvroDirect.read(spark, Seq(out)).orderBy("id").collect()
    assert(back(0).getInt(1) === 7 && back(0).getInt(2) === 300)
    assert(back(1).isNullAt(1) && back(1).isNullAt(2))
  }

  test("multi-path scan unions files across directories (A1)") {
    import spark.implicits._
    val d1 = tmpDir(); val d2 = tmpDir()
    AvroDirect.write(Seq((1L, "x")).toDF("id", "v"), d1)
    AvroDirect.write(Seq((2L, "y"), (3L, "z")).toDF("id", "v"), d2)
    val back = AvroDirect.read(spark, Seq(d1, d2))
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
  }

  test("schema resolution: a file with reordered fields + a defaulted addition resolves against the first path's schema") {
    import spark.implicits._
    val d1 = tmpDir(); val d2 = tmpDir()
    // first path defines the reader schema (id, v, extra?)
    val df1 = Seq((1L, "x", "e1")).toDF("id", "v", "extra")
    AvroDirect.write(df1, d1)
    // second path: reordered fields, no extra column — Avro resolution
    // matches by name and fills extra with its null default
    val df2 = Seq(("y", 2L)).toDF("v", "id")
    AvroDirect.write(df2, d2)
    val back = AvroDirect.read(spark, Seq(d1, d2)).orderBy("id")
    assert(back.columns.toSeq === Seq("id", "v", "extra"))
    val got = back.collect()
    assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "x"), (2L, "y")))
    assert(got(0).getString(2) === "e1" && got(1).isNullAt(2))
  }

  test("empty frame round-trips with its schema; empty partitions write no extra files") {
    import spark.implicits._
    val out = tmpDir()
    val empty = Seq.empty[(Long, String)].toDF("id", "v").repartition(8)
    AvroDirect.write(empty, out)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".avro"))
    assert(files.length === 1) // only partition 0 materializes the schema
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.count() === 0)
    assert(back.schema === empty.schema)

    val out2 = tmpDir()
    AvroDirect.write(Seq((1L, "x")).toDF("id", "v").repartition(8), out2)
    val files2 = new java.io.File(out2).listFiles
      .filter(_.getName.endsWith(".avro"))
    // 1 data file + possibly partition 0's schema-only file
    assert(files2.length <= 2)
    assert(AvroDirect.read(spark, Seq(out2)).count() === 1)
  }

  test("a ZERO-partition frame still writes a readable schema-only dir") {
    // an empty relation can plan to an RDD with no partitions at all
    // (foreachPartition never runs) — the driver-side fallback must
    // materialize the schema
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val zero = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    assert(zero.rdd.getNumPartitions === 0) // the shape under test
    val out = tmpDir()
    AvroDirect.write(zero, out)
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.count() === 0)
    assert(back.schema === schema)
  }

  test("read packs small splits into at most defaultParallelism tasks") {
    import spark.implicits._
    val out = tmpDir()
    AvroDirect.write((1L to 100L).toDF("id").repartition(4), out)
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.rdd.getNumPartitions === 4)
    assert(back.agg(sum("id")).head.getLong(0) === 5050L)
  }

  test("8 small files on local[4] pack into 4 tasks with every record read once") {
    import spark.implicits._
    assert(spark.sparkContext.defaultParallelism === 4)
    val out = tmpDir()
    AvroDirect.write((1L to 800L).toDF("id").repartition(8), out)
    assert(new java.io.File(out).listFiles
      .count(_.getName.endsWith(".avro")) === 8)
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.rdd.getNumPartitions === 4)
    assert(back.count() === 800L)
    assert(back.agg(sum("id")).head.getLong(0) === 800L * 801L / 2)
  }

  test("pre-1582 DATE and TIMESTAMP round-trip unchanged, stored as raw days and micros") {
    // Avro's date / timestamp-micros are days / micros since the epoch on
    // the proleptic Gregorian calendar, which is Catalyst's own internal
    // value: no hybrid-calendar rebase on either side
    val df = spark.sql("SELECT 1L AS id, DATE'1000-03-01' AS day, " +
      "TIMESTAMP'1000-03-01 12:34:56.123456' AS ts")
    val out = tmpDir()
    AvroDirect.write(df, out)
    val raw = Seq("unix_date(day) AS day", "unix_micros(ts) AS ts")
    val want = df.selectExpr(raw: _*).head()
    val back = AvroDirect.read(spark, Seq(out))
    assert(back.schema === df.schema)
    assert(back.selectExpr(raw: _*).head() === want)
    val file = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".avro")).head
    val reader = new DataFileReader[GenericRecord](file,
      new GenericDatumReader[GenericRecord]())
    val rec = try reader.next() finally reader.close()
    assert(rec.get("day") === java.time.LocalDate.of(1000, 3, 1).toEpochDay.toInt)
    assert(rec.get("ts") === want.getLong(1))
  }

  /** One record written with plain Avro (no AvroDirect on the write side):
    * a `timestamp-millis` long and an enum.
    */
  private def writeMillisEnumFile(millis: Long): String = {
    val schema = new Schema.Parser().parse(
      """{"type": "record", "name": "r", "fields": [
        |  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-millis"}},
        |  {"name": "color", "type": {"type": "enum", "name": "Color", "symbols": ["RED", "GREEN"]}}
        |]}""".stripMargin)
    val rec = new GenericData.Record(schema)
    rec.put("ts", millis)
    rec.put("color", new GenericData.EnumSymbol(schema.getField("color").schema, "GREEN"))
    val out = tmpDir()
    val writer = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    writer.create(schema, new java.io.File(out, "part-00000.avro"))
    try writer.append(rec) finally writer.close()
    out
  }

  test("a plain-Avro timestamp-millis long and enum decode to the same instant and string") {
    val millis = 1700000000123L
    val back = AvroDirect.read(spark, Seq(writeMillisEnumFile(millis)))
    assert(back.schema === StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("color", StringType, nullable = false))))
    val got = back.selectExpr("unix_micros(ts)", "color").head()
    assert(got.getLong(0) === millis * 1000L)
    assert(got.getString(1) === "GREEN")
  }

  test("an out-of-range timestamp-millis value fails loudly instead of wrapping") {
    val out = writeMillisEnumFile(Long.MaxValue / 100)
    val e = intercept[Exception](AvroDirect.read(spark, Seq(out)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ArithmeticException]), e)
  }

  test("one multi-block container file splits on sync blocks across >1 task") {
    import spark.implicits._
    val out = tmpDir()
    // one partition → ONE container file, with long high-entropy rows
    // (snappy must not collapse them) so the writer's default ~64 KB
    // sync interval yields many blocks
    val df = (1L to 5000L)
      .map(i => (i, (1 to 25)
        .map(j => ((i * 31 + j) * 2654435761L).toHexString).mkString))
      .toDF("id", "pad")
      .coalesce(1)
    AvroDirect.write(df, out)
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(file.length === 1)
    val len = file.head.length()
    assert(len > 256 * 1024, s"fixture too small for a split test: $len")
    // split well below the file size: every split must land on a sync
    // boundary with no duplicated or dropped records
    val split = AvroDirect.read(spark, Seq(out), splitSize = 64 * 1024)
    assert(split.rdd.getNumPartitions === (len + 64 * 1024 - 1) / (64 * 1024))
    assert(split.rdd.getNumPartitions > 1)
    assert(split.count() === 5000L)
    assert(split.agg(sum("id")).head.getLong(0) === 5000L * 5001L / 2)
    // byte-identical row set vs the unsplit read
    val whole = AvroDirect.read(spark, Seq(out))
    assert(split.select("id", "pad").except(whole.select("id", "pad")).isEmpty)
    assert(whole.select("id", "pad").except(split.select("id", "pad")).isEmpty)
  }

  test("spark-avro module parity: AvroSource's module path and AvroDirect " +
      "agree (runs only when the optional jar is on the classpath)") {
    import graft.sources.AvroSource
    // This environment ships no spark-avro jar, so the module path is
    // untestable here — but a deployment WITH the jar runs AvroSource
    // through format("avro"), a code path no other test covers. The spec
    // self-arms: on such a classpath it asserts both readers produce the
    // same frame from both writers' files; here it cancels (reported as
    // canceled, not silently passed).
    assume(AvroSource.available(spark),
      "spark-avro module not on the classpath; parity leg skipped")
    import spark.implicits._
    val df = Seq((1L, "x", Seq("a", "b")), (2L, null, Seq.empty[String]),
      (3L, "z", null)).toDF("id", "v", "tags")
    // writer parity: module write ↔ direct read, direct write ↔ module read
    val outModule = tmpDir(); val outDirect = tmpDir()
    df.write.format("avro").mode("overwrite").save(outModule)
    AvroDirect.write(df, outDirect)
    val fromModuleFiles = AvroDirect.read(spark, Seq(outModule)).orderBy("id")
    val fromDirectFiles = spark.read.format("avro").load(outDirect).orderBy("id")
    // reader parity on the same files: AvroSource must pick the module
    val viaSource = AvroSource.read(spark, Seq(outDirect)).orderBy("id")
    for (back <- Seq(fromModuleFiles, fromDirectFiles, viaSource)) {
      assert(back.columns.toSeq === df.columns.toSeq)
      assert(back.select("id", "v", "tags").collect().toSeq ===
        df.orderBy("id").select("id", "v", "tags").collect().toSeq)
    }
  }
}

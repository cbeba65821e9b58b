package graft.sources

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileStream, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, SpecializedGetters}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.classic.InternalRowFrames
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Direct Avro container-file source/sink over `org.apache.avro` (which
  * ships with Spark core), for environments where the optional
  * `spark-avro` connector jar is absent. Implements the subset the
  * reference needs — nested records, arrays, maps, [null, T] unions,
  * date/timestamp logical types — which covers the full DPLA-MAP shape
  * (reference `ParquetDump.scala:116`, `SchemaRepair.scala:31,33`).
  *
  * Scale shape:
  *  - READ splits every file into ≤`splitSize` byte ranges aligned to
  *    Avro sync blocks at read time (the spark-avro split behavior behind
  *    reference `ParquetDump.scala:116`): a reader seeks to the first sync
  *    marker at or after its range start and reads every block that
  *    STARTS inside its range, so a single multi-TB container file fans
  *    out across the cluster and no record is read twice — the standard
  *    Hadoop Avro split contract (`sync(start)` / `pastSync(end)`);
  *  - small splits are packed, in listing order, into about
  *    `defaultParallelism` tasks (see [[packSplits]]): many small files
  *    cost a few tasks, while a split of `splitSize` bytes still gets a
  *    task of its own;
  *  - records decode straight into Catalyst's internal rows (raw micros
  *    for timestamps, raw days for dates, the Avro wire values), so no
  *    encoder serializer is generated or run per task;
  *  - schema resolution is Avro-native: the FIRST file's schema is the
  *    reader schema, and every other file resolves against it (reordered
  *    fields and defaulted additions are fine — the A1 multi-path merge
  *    contract);
  *  - WRITE is one container file per partition of the frame's internal
  *    rows, written executor-side through the broadcast Hadoop conf (the
  *    Sitemap F2/H6 pattern), so no driver bottleneck and no global sort.
  *    Run it with speculative execution off (direct write, no output
  *    committer) — same contract as every executor-side put in
  *    graft.sinks.
  */
object AvroDirect {

  // ---------------------------------------------------------------- read

  /** Multi-path Avro scan: every `*.avro` under each path (or the path
    * itself if it is a file), cut into ≤`splitSize` byte ranges with
    * sync-block alignment resolved at read time and packed into about
    * `defaultParallelism` tasks, first file's schema as the reader schema.
    */
  def read(spark: SparkSession, paths: Seq[String],
      splitSize: Long = DefaultSplitSize): DataFrame = {
    require(paths.nonEmpty, "at least one path required")
    require(splitSize > 0, s"splitSize must be positive, got $splitSize")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = listAvroFiles(conf, paths)
    require(files.nonEmpty,
      s"no .avro files under ${paths.mkString(", ")}")
    val readerSchema = fileSchema(conf, files.head._1)
    val schemaJson = readerSchema.toString
    val structType = toCatalyst(readerSchema) match {
      case st: StructType => st
      case other => throw new UnsupportedOperationException(
        s"top-level Avro type must be a record, got $other")
    }
    // Byte-range splits computed from the listing's lengths (no extra
    // filesystem round-trips); block alignment happens in-task: each
    // reader syncs FORWARD to the first block at or after `start` and
    // stops once it passes `end`, so a block is owned by exactly the
    // split its first byte falls into — records never duplicate or drop
    // across split boundaries, whatever the block/split size ratio.
    val splits = files.flatMap { case (f, len) =>
      if (len == 0) Seq(Split(f, 0L, 0L, 0L))
      else (0L until len by splitSize).map(s =>
        Split(f, s, math.min(s + splitSize, len), len))
    }
    val tasks = packSplits(splits, splitSize,
      spark.sparkContext.defaultParallelism)
    val hconf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val rows = spark.sparkContext
      .parallelize(tasks, tasks.size)
      .flatMap { task =>
        val expected = new Schema.Parser().parse(schemaJson)
        val convert = recordToRow(expected, structType)
        task.iterator
          .flatMap(readSplit(hconf.value.value, expected, _))
          .map(convert)
      }
    InternalRowFrames.create(spark, rows, structType)
  }

  /** Default split grain, matching Spark's files.maxPartitionBytes. */
  val DefaultSplitSize: Long = 128L * 1024 * 1024

  /** Bytes `[start, end)` of `file`, whose listed length is `fileLen`. */
  private final case class Split(
      file: String, start: Long, end: Long, fileLen: Long) {
    def bytes: Long = end - start
  }

  /** Groups `splits` into tasks, keeping listing order: a split joins the
    * current task unless that would push the task past `perTask` bytes.
    * `perTask` is the smallest cap from ⌈total / parallelism⌉ up to
    * `splitSize` at which that fill needs at most `parallelism` tasks (the
    * fill's task count only falls as the cap grows), so small files pack
    * into about `parallelism` even tasks, and a split of `splitSize` or
    * more still runs alone.
    */
  private def packSplits(splits: Seq[Split], splitSize: Long,
      parallelism: Int): Seq[Seq[Split]] = {
    def fill(perTask: Long): Seq[Seq[Split]] = {
      val tasks = ArrayBuffer(ArrayBuffer.empty[Split])
      var bytes = 0L
      splits.foreach { s =>
        if (tasks.last.nonEmpty && bytes + s.bytes > perTask) {
          tasks += ArrayBuffer.empty[Split]
          bytes = 0L
        }
        tasks.last += s
        bytes += s.bytes
      }
      tasks.map(_.toSeq).toSeq
    }
    val total = splits.map(_.bytes).sum
    var lo = math.min(splitSize, (total + parallelism - 1) / parallelism)
    var hi = splitSize
    while (lo < hi) {
      val mid = lo + (hi - lo) / 2
      if (fill(mid).size <= parallelism) hi = mid else lo = mid + 1
    }
    fill(lo)
  }

  /** The records of one split: every block that starts inside it. */
  private def readSplit(conf: Configuration, schema: Schema,
      split: Split): Iterator[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      openSeekable(conf, split.file, split.fileLen),
      new GenericDatumReader[GenericRecord](null, schema))
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => reader.close()))
    reader.sync(split.start)
    new Iterator[GenericRecord] {
      def hasNext: Boolean = {
        val h = reader.hasNext && !reader.pastSync(split.end)
        if (!h) reader.close()
        h
      }
      def next(): GenericRecord = reader.next()
    }
  }

  /** Seekable Hadoop input for [[DataFileReader]] (the split reader needs
    * seek/tell; avro-mapred's FsInput is not on the core classpath). The
    * length comes from the driver's listing, not a per-task status call.
    */
  private def openSeekable(conf: Configuration, file: String,
      len: Long): SeekableInput = {
    val path = new Path(file)
    val in = path.getFileSystem(conf).open(path)
    new SeekableInput {
      def read(b: Array[Byte], off: Int, n: Int): Int = in.read(b, off, n)
      def seek(p: Long): Unit = in.seek(p)
      def tell(): Long = in.getPos
      def length(): Long = len
      def close(): Unit = in.close()
    }
  }

  /** Driver-side schema peek (also used by SchemaDdl-style divergence
    * checks): the writer schema of one container file.
    */
  def fileSchema(conf: Configuration, file: String): Schema = {
    val fs = new Path(file).getFileSystem(conf)
    val in = fs.open(new Path(file))
    try {
      val stream = new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]())
      try stream.getSchema
      finally stream.close()
    } finally in.close()
  }

  /** Recursive listing (spark-avro's file index recurses too — a
    * partitioned/nested layout must not silently read a subset here);
    * hidden and metadata entries (`_SUCCESS`, `.crc`) are skipped.
    */
  private def listAvroFiles(
      conf: Configuration, paths: Seq[String]): Seq[(String, Long)] = {
    def walk(p: Path, fs: org.apache.hadoop.fs.FileSystem): Seq[(String, Long)] = {
      val status = fs.getFileStatus(p)
      if (status.isFile) {
        if (p.getName.endsWith(".avro")) Seq((p.toString, status.getLen))
        else Seq.empty
      } else fs.listStatus(p)
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .toSeq.flatMap(s =>
          if (s.isFile) {
            if (s.getPath.getName.endsWith(".avro"))
              Seq((s.getPath.toString, s.getLen))
            else Seq.empty
          } else walk(s.getPath, fs))
    }
    paths.flatMap { p =>
      val path = new Path(p)
      walk(path, path.getFileSystem(conf)).sortBy(_._1)
    }
  }

  // --------------------------------------------------------------- write

  /** Write `df` under `out` as one Avro container file per partition
    * (overwrite semantics). Empty partitions are skipped except partition
    * 0, so an empty frame still materializes its schema.
    */
  def write(df: DataFrame, out: String): Unit = {
    val spark = df.sparkSession
    val schemaJson = toAvro(df.schema, "topLevelRecord").toString
    val structType = df.schema
    val conf = spark.sparkContext.hadoopConfiguration
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(conf)
    if (fs.exists(outPath)) fs.delete(outPath, true)
    fs.mkdirs(outPath)
    val base = outPath.toString
    val hconf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    df.queryExecution.toRdd.foreachPartition { iter =>
      val idx = TaskContext.getPartitionId()
      if (iter.nonEmpty || idx == 0) {
        val schema = new Schema.Parser().parse(schemaJson)
        val convert = rowToRecord(structType, schema)
        val file = new Path(f"$base/part-$idx%05d.avro")
        val os = file.getFileSystem(hconf.value.value).create(file, true)
        val writer = new DataFileWriter[GenericRecord](
          new GenericDatumWriter[GenericRecord](schema))
        writer.setCodec(CodecFactory.snappyCodec())
        writer.create(schema, os)
        try iter.foreach(r => writer.append(convert(r)))
        finally writer.close()
      }
    }
    // an empty relation can plan to a ZERO-partition RDD (PropagateEmpty
    // Relation / spark.emptyDataFrame) — foreachPartition never runs, so
    // materialize the schema-only file driver-side to keep the contract
    // that the written dir is always readable
    if (!fs.listStatus(outPath).exists(_.getPath.getName.endsWith(".avro"))) {
      val schema = new Schema.Parser().parse(schemaJson)
      val os = fs.create(new Path(s"$base/part-00000.avro"), true)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(CodecFactory.snappyCodec())
      writer.create(schema, os)
      writer.close()
    }
  }

  // ------------------------------------------------- schema conversion

  /** Unwrap a [null, T] union → (T, nullable). Avro unions beyond that
    * shape have no Catalyst analogue and fail fast.
    */
  private def unwrap(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(branches.size == 1,
        s"only [null, T] unions are supported, got $s")
      (branches.head, branches.size < s.getTypes.size)
    } else (s, false)

  def toCatalyst(s: Schema): DataType = {
    val (base, _) = unwrap(s)
    base.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT =>
        if (logicalName(base) == "date") DateType else IntegerType
      case Schema.Type.LONG =>
        logicalName(base) match {
          case "timestamp-micros" | "timestamp-millis" => TimestampType
          case _ => LongType
        }
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING | Schema.Type.ENUM => StringType
      case Schema.Type.BYTES | Schema.Type.FIXED => BinaryType
      case Schema.Type.RECORD =>
        StructType(base.getFields.asScala.map { f =>
          StructField(f.name, toCatalyst(f.schema), unwrap(f.schema)._2)
        }.toArray)
      case Schema.Type.ARRAY =>
        val (elem, elemNullable) = unwrap(base.getElementType)
        ArrayType(toCatalyst(elem), elemNullable)
      case Schema.Type.MAP =>
        val (v, vNullable) = unwrap(base.getValueType)
        MapType(StringType, toCatalyst(v), vNullable)
      case other =>
        throw new UnsupportedOperationException(s"Avro type $other")
    }
  }

  private def logicalName(s: Schema): String =
    Option(s.getLogicalType).map(_.getName).getOrElse("")

  /** Catalyst → Avro; nullable fields become [null, T] unions with null
    * defaults. Nested record names derive from the field path (Avro
    * record names must be unique per full name).
    */
  def toAvro(dt: DataType, path: String, nullable: Boolean = false): Schema = {
    val base = dt match {
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case ByteType | ShortType | IntegerType => Schema.create(Schema.Type.INT)
      case LongType => Schema.create(Schema.Type.LONG)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case StringType => Schema.create(Schema.Type.STRING)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case DateType =>
        LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
      case TimestampType =>
        LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
      case ArrayType(et, cn) =>
        Schema.createArray(toAvro(et, s"${path}_item", cn))
      case MapType(StringType, vt, cn) =>
        Schema.createMap(toAvro(vt, s"${path}_value", cn))
      case st: StructType =>
        val rec = Schema.createRecord(sanitize(path), null, "graft.avro", false)
        rec.setFields(st.fields.map { f =>
          val fieldSchema = toAvro(f.dataType, s"${path}_${f.name}", f.nullable)
          if (f.nullable)
            new Schema.Field(f.name, fieldSchema, null,
              Schema.Field.NULL_DEFAULT_VALUE)
          else new Schema.Field(f.name, fieldSchema)
        }.toSeq.asJava)
        rec
      case other =>
        throw new UnsupportedOperationException(
          s"no Avro mapping for Catalyst type $other at $path")
    }
    if (nullable)
      Schema.createUnion(Schema.create(Schema.Type.NULL), base)
    else base
  }

  private def sanitize(path: String): String =
    path.replaceAll("[^A-Za-z0-9_]", "_")

  // -------------------------------------------------- value conversion
  //
  // Both directions work on Catalyst's internal values, which for the
  // logical types are the Avro wire values themselves: a timestamp is
  // micros since the epoch (a `timestamp-millis` long is scaled, failing
  // on overflow) and a date is days since the epoch, with no calendar
  // conversion on either side.

  /** Converter Avro record → Catalyst internal row, built once per task
    * from the (Avro, Catalyst) schema pair — the Avro side is needed to
    * tell micros from millis timestamps, which the Catalyst type alone
    * cannot. Fields are looked up by Avro field position.
    */
  private def recordToRow(s: Schema, st: StructType): GenericRecord => InternalRow = {
    val fields = st.fields.map { f =>
      val avroField = s.getField(f.name)
      (avroField.pos, fromAvro(avroField.schema, f.dataType))
    }
    rec => {
      val values = new Array[Any](fields.length)
      var i = 0
      while (i < fields.length) {
        values(i) = fields(i)._2(rec.get(fields(i)._1))
        i += 1
      }
      new GenericInternalRow(values)
    }
  }

  /** Converter Avro runtime value → Catalyst internal value. */
  private def fromAvro(s: Schema, dt: DataType): AnyRef => Any = {
    val (base, _) = unwrap(s)
    val convert: AnyRef => Any = (base.getType, dt) match {
      case (Schema.Type.RECORD, st: StructType) =>
        val toRow = recordToRow(base, st)
        v => toRow(v.asInstanceOf[GenericRecord])
      case (Schema.Type.ARRAY, ArrayType(et, _)) =>
        val c = fromAvro(base.getElementType, et)
        v => new GenericArrayData(
          v.asInstanceOf[java.util.Collection[AnyRef]].asScala.map(c).toArray)
      case (Schema.Type.MAP, MapType(_, vt, _)) =>
        val c = fromAvro(base.getValueType, vt)
        v => {
          val m = v.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
          val keys = new Array[Any](m.size)
          val values = new Array[Any](m.size)
          var i = 0
          m.forEach { (k, x) =>
            keys(i) = utf8(k)
            values(i) = c(x)
            i += 1
          }
          new ArrayBasedMapData(new GenericArrayData(keys),
            new GenericArrayData(values))
        }
      case (Schema.Type.LONG, TimestampType)
          if logicalName(base) == "timestamp-millis" =>
        v => Math.multiplyExact(v.asInstanceOf[java.lang.Long].longValue, 1000L)
      case (_, StringType) => utf8
      case (Schema.Type.BYTES, BinaryType) =>
        v => {
          val b = v.asInstanceOf[ByteBuffer]
          val a = new Array[Byte](b.remaining())
          b.duplicate().get(a)
          a
        }
      case (Schema.Type.FIXED, BinaryType) =>
        v => v.asInstanceOf[GenericData.Fixed].bytes().clone()
      case _ => identity[Any]
    }
    v => if (v == null) null else convert(v)
  }

  /** Avro string or enum symbol → UTF8String (a decoded Utf8 is wrapped,
    * not re-encoded: the reader hands out a fresh buffer per record).
    */
  private def utf8(v: AnyRef): UTF8String = v match {
    case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
    case other => UTF8String.fromString(other.toString)
  }

  /** Converter Catalyst internal row → Avro record, the inverse of
    * [[recordToRow]] over a [[toAvro]] schema.
    */
  private def rowToRecord(st: StructType, s: Schema): InternalRow => GenericRecord = {
    val fields = st.fields.map { f =>
      val avroField = s.getField(f.name)
      (avroField.pos, toAvroValue(f.dataType, avroField.schema))
    }
    row => {
      val rec = new GenericData.Record(s)
      var i = 0
      while (i < fields.length) {
        rec.put(fields(i)._1, fields(i)._2(row, i))
        i += 1
      }
      rec
    }
  }

  /** Converter for slot `i` of a Catalyst row or array → Avro runtime
    * value.
    */
  private def toAvroValue(dt: DataType, s: Schema): (SpecializedGetters, Int) => Any = {
    val (base, _) = unwrap(s)
    val convert: (SpecializedGetters, Int) => Any = dt match {
      case st: StructType =>
        val toRecord = rowToRecord(st, base)
        (g, i) => toRecord(g.getStruct(i, st.length))
      case ArrayType(et, _) =>
        val c = toAvroValue(et, base.getElementType)
        (g, i) => {
          val a = g.getArray(i)
          val out = new java.util.ArrayList[Any](a.numElements())
          var j = 0
          while (j < a.numElements()) {
            out.add(c(a, j))
            j += 1
          }
          out
        }
      case MapType(StringType, vt, _) =>
        val c = toAvroValue(vt, base.getValueType)
        (g, i) => {
          val m = g.getMap(i)
          val keys = m.keyArray()
          val values = m.valueArray()
          val out = new java.util.HashMap[Utf8, Any]()
          var j = 0
          while (j < m.numElements()) {
            out.put(new Utf8(keys.getUTF8String(j).getBytes), c(values, j))
            j += 1
          }
          out
        }
      case StringType => (g, i) => new Utf8(g.getUTF8String(i).getBytes)
      case BinaryType => (g, i) => ByteBuffer.wrap(g.getBinary(i))
      // toAvro maps these to Avro INT, and Avro's union resolution is
      // `instanceof Integer` — a raw java.lang.Byte/Short in a [null,int]
      // union throws UnresolvedUnionException on every non-null row
      // (review finding); widen at write time
      case ByteType => (g, i) => Integer.valueOf(g.getByte(i).toInt)
      case ShortType => (g, i) => Integer.valueOf(g.getShort(i).toInt)
      // boolean, int, long, float, double; a date's days and a
      // timestamp's micros are already the Avro values
      case other => InternalRow.getAccessor(other, nullable = false)
    }
    (g, i) => if (g.isNullAt(i)) null else convert(g, i)
  }
}

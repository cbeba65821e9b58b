package graft.sinks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Single-file CSV report with header + manifest sidecar (reference
  * MqReports.scala:136-158): driver-side rows, written in the given order
  * by one single-task job — correct only because score reports are
  * O(#providers) rows; the writer asserts that assumption.
  */
object CsvReport {

  val MaxRows = 1000000

  /** Fails unless `n` rows fit one single-file report. */
  def requireFits(n: Long, maxRows: Long = MaxRows): Unit =
    require(n <= maxRows,
      s"CsvReport is a single-file sink; got $n rows > $maxRows. " +
        "Use df.write.csv directly for large outputs.")

  def write(
      rows: Seq[Row],
      schema: StructType,
      outDir: String,
      manifestOpts: Map[String, String],
      timestamp: String,
      maxRows: Long = MaxRows): Long = {
    requireFits(rows.size, maxRows)
    val spark = SparkSession.active
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(outDir)
    Manifest.write(spark.sparkContext.hadoopConfiguration, outDir,
      manifestOpts + ("Count" -> rows.size.toString), timestamp)
    rows.size
  }
}

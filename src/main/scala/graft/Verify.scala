package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional trailing args select a query subset (local iteration);
    // the driver passes exactly <sfDir> <outDir> and gets the full dump.
    val Array(sfDir, outDir) = args.take(2)
    val subset = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      // the listener bus renders an explain string per action even with
      // the UI off; simple mode + a cap keeps that tax off the driver
      // path (measured via driver stack samples: Literal.toString /
      // truncatedString frames during job gaps)
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.maxPlanStringLength", "1024")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ADVICE r11: register graft functions at session bootstrap so a
    // Column built while another (or no) session was active still
    // resolves the graft_* kernels when analyzed against THIS session
    graft.plans.GraftFunctions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // explicit by-design rows-only marker (SparkEntry.rowsOnly): these
    // queries CANNOT have a SQL oracle; a missing oracle elsewhere is a
    // builder bug, these are contract
    Files.writeString(Paths.get(s"$outDir/rows_only.json"),
      SparkEntry.rowsOnly.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}

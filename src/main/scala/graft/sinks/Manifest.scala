package graft.sinks

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Manifest sidecar: a `_MANIFEST` key=value receipt written next to every
  * dump (reference ManifestWriter.scala:5-15; call sites
  * JsonlDump.scala:79-86, MqReports.scala:150-158, Sitemap.scala:45-55).
  * Keys are emitted sorted, then the generation timestamp — the reference's
  * exact format, reproduced as a pure function for golden-testing.
  *
  * I/O goes through the Hadoop FileSystem API so `file://`, `hdfs://` and
  * `s3a://` behave identically (SURVEY.md §7.1 replaces the AWS-SDK-specific
  * S3FileHelper with this).
  */
object Manifest {

  /** Render the manifest body: sorted key: value lines + timestamp line. */
  def render(opts: Map[String, String], timestamp: String): String = {
    val lines = opts.toSeq.sortBy(_._1).map { case (k, v) => s"$k: $v" }
    (lines :+ s"Generated: $timestamp").mkString("\n")
  }

  /** Write the manifest under `dir/_MANIFEST`. */
  def write(conf: Configuration, dir: String, opts: Map[String, String],
      timestamp: String): Path = {
    val p = new Path(dir, "_MANIFEST")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(render(opts, timestamp).getBytes(StandardCharsets.UTF_8))
    finally out.close()
    p
  }

  def read(conf: Configuration, dir: String): String = {
    val p = new Path(dir, "_MANIFEST")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}

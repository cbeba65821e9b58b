package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Driver-side source discovery: "latest snapshot wins" per provider
  * (reference S3FileHelper.scala:20-31 — list each hub prefix, take the
  * lexicographically last timestamped subfolder of the requested data type).
  *
  * Uses the Hadoop FileSystem API instead of the AWS SDK so the same code
  * lists `file://` fixtures locally and `s3a://` buckets on a cluster. This
  * is catalog work on the driver, not a Spark plan node (SURVEY.md §2.A4) —
  * it runs once per job over O(#providers) listings.
  */
object Catalog {

  /** All child directory names under `root`. */
  def providers(conf: Configuration, root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .toSeq.sorted
  }

  /** Latest snapshot dir for one provider+dataType, if any:
    * `root/provider/dataType/<timestamp>/` with the lexicographically
    * greatest timestamp (S3FileHelper.scala:27 `.sorted.lastOption`).
    *
    * Computed as a streaming max over `listStatusIterator`, which pages
    * under the hood on object stores — the reference buffers up to
    * MAX_ROWS = 2,000,000 keys across pages before sorting
    * (S3FileHelper.scala:16,20-31); the fold keeps O(1) memory at any
    * listing size and cannot miss a snapshot that lands past a page
    * boundary.
    */
  def latestSnapshot(conf: Configuration, root: String, provider: String,
      dataType: String): Option[String] = {
    val base = new Path(s"$root/$provider/$dataType")
    val fs = base.getFileSystem(conf)
    if (!fs.exists(base)) None
    else {
      val it = fs.listStatusIterator(base)
      var best: Option[String] = None
      while (it.hasNext) {
        val status = it.next()
        if (status.isDirectory) {
          val name = status.getPath.getName
          if (best.forall(_ < name)) best = Some(name)
        }
      }
      best.map(ts => s"$root/$provider/$dataType/$ts")
    }
  }

  /** provider → latest snapshot path, for every provider that has one. */
  def latestSnapshots(conf: Configuration, root: String,
      dataType: String): Map[String, String] =
    providers(conf, root)
      .flatMap(p => latestSnapshot(conf, root, p, dataType).map(p -> _))
      .toMap

  /** Date-partitioned output convention (PathHelper.scala:6-14):
    * `root/yyyy/MM/suffix`.
    */
  def datePath(root: String, year: Int, month: Int, suffix: String): String =
    f"${root.stripSuffix("/")}/$year%04d/$month%02d/$suffix"
}

package graft.sinks

import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

/** Per-provider JSONL dumps + combined all-provider dump, gzipped
  * (reference JsonlDump.scala:16-87).
  *
  * Reference semantics kept:
  *  - records are opaque text lines, never parsed (JsonlDump.scala:24-28);
  *  - each provider's lines are persisted DISK_ONLY, since the data is
  *    consumed twice — own dump + all-dump (JsonlDump.scala:29-32) — and
  *    counted once, by an observed metric on the provider's own write;
  *  - the all-dump is the n-way union (JsonlDump.scala:51);
  *  - a manifest records per-provider counts and the invariant
  *    Σ provider counts = all count (JsonlDump.scala:44-67).
  *
  * Spark-first deltas: `Dataset[String]` instead of RDD[String] (same
  * physical text scan, but unions stay in the optimized plan), Spark's
  * native gzip text writer with SaveMode.Overwrite instead of hand-rolled
  * S3 delete-then-write (H7). Writes are narrow — no shuffle anywhere; at
  * 100 TB each provider dump streams scan→codec→files in one stage.
  *
  * OWNERSHIP: `outRoot` belongs exclusively to this dump (the reference's
  * prefix-clearing contract, JsonlDump.scala:44-50): every `*.jsonl`
  * directory under it that is not in the CURRENT provider set is
  * recursively deleted on each run, so vanished providers don't leave
  * stale dumps. Do not co-locate unrelated `*.jsonl` directories there.
  */
object JsonlDump {

  final case class Result(outRoot: String, providerCounts: Map[String, Long],
      totalCount: Long)

  def dump(
      spark: SparkSession,
      providerPaths: Map[String, String],
      outRoot: String,
      timestamp: String): Result = {
    if (providerPaths.isEmpty) {
      // a fresh/empty source root discovers zero providers — still a valid
      // (empty) dump with an auditable manifest, not a reduce() crash
      Manifest.write(spark.sparkContext.hadoopConfiguration, outRoot,
        Map("Count.all" -> "0", "Providers" -> ""), timestamp)
      return Result(outRoot, Map.empty, 0L)
    }

    // a provider literally named "all" would write <outRoot>/all.jsonl,
    // which the combined dump then silently overwrites (and its manifest
    // count key collides with Count.all) — provider names are unvalidated
    // directory names, so fail fast (review finding)
    require(!providerPaths.contains("all"),
      "provider name 'all' collides with the combined dump — rename the " +
        "source directory")
    val perProvider: Map[String, Dataset[String]] = providerPaths.map {
      case (provider, path) =>
        provider -> spark.read.textFile(path).persist(StorageLevel.DISK_ONLY)
    }
    try {

    // each provider's count rides its own write as an observed metric:
    // a separate count() would be one more job per provider (two under
    // AQE) over data the write already streams
    val counts = perProvider.map { case (provider, ds) =>
      val lines = Observation()
      ds.observe(lines, count(lit(1)).as("n"))
        .write.mode(SaveMode.Overwrite)
        .option("compression", "gzip")
        .text(s"${outRoot.stripSuffix("/")}/$provider.jsonl")
      provider -> lines.get("n").asInstanceOf[Long]
    }

    val all = perProvider.values.reduce(_.union(_))
    all.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .text(s"${outRoot.stripSuffix("/")}/all.jsonl")

    // SaveMode.Overwrite only clears the CURRENT providers' directories:
    // a provider that disappeared since the previous run into this root
    // would leave its old <provider>.jsonl dump behind — unlisted by the
    // new manifest but still ingested by any consumer that globs
    // *.jsonl/ instead of parsing the manifest. The reference's
    // delete-then-write cleared the prefix; deleting the no-longer-
    // present provider dirs restores that contract.
    val hconf = spark.sparkContext.hadoopConfiguration
    val rootPath = new org.apache.hadoop.fs.Path(outRoot.stripSuffix("/"))
    val fs = rootPath.getFileSystem(hconf)
    val live = providerPaths.keySet.map(_ + ".jsonl") + "all.jsonl"
    if (fs.exists(rootPath)) fs.listStatus(rootPath).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.endsWith(".jsonl") && !live.contains(name))
        fs.delete(st.getPath, true)
    }

    val total = counts.values.sum
    Manifest.write(
      spark.sparkContext.hadoopConfiguration, outRoot,
      counts.map { case (p, n) => s"Count.$p" -> n.toString } ++
        Map("Count.all" -> total.toString,
          "Providers" -> providerPaths.keys.toSeq.sorted.mkString(",")),
      timestamp)

    Result(outRoot, counts, total)
    } finally {
      // released on failure too: a failed multi-provider dump must not
      // leave the whole corpus pinned DISK_ONLY for the session lifetime
      perProvider.values.foreach(_.unpersist())
    }
  }
}

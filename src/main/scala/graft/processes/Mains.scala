package graft.processes

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MqDpla
import graft.schema.DplaMap
import graft.sinks.{JsonlDump, Manifest, Sitemap}
import graft.sources.{AvroSource, Catalog}

/** spark-submit entry points, one per reference driver program, each the
  * thin frame the reference uses (reference `MqReports.scala:164-171`:
  * read args → getOrCreate → execute → stop), wired to the plan-builder +
  * sink pairs in [[Processes]]. `MonthlyBatchMain` chains the four
  * monthly steps in the reference's EMR step order
  * (`monthly_batch_emr.sh:41-111`: parquet → jsonl → mq → sitemap) in a
  * SINGLE session with the month pinned once — a UTC month rollover
  * mid-chain must not point the mq/sitemap steps at a parquet path the
  * dump step never wrote.
  *
  * The frame stops the session only when it created it, so the same
  * mains run under spark-submit (fresh session, stopped at exit) and
  * embedded in tests or notebooks (caller's session, left running).
  */
object Mains {

  private[processes] def run(appName: String)(body: SparkSession => Unit): Unit = {
    // a stopped-but-not-cleared default session must not count as
    // pre-existing (getOrCreate skips stopped sessions and builds a fresh
    // one, which would then leak); an active thread-local session counts
    // the same as a default one
    // mirror getOrCreate's OWN fallback: a stopped thread-local session
    // must not shadow a live default session (round-9 review finding —
    // the orElse-then-exists shape inspected only the first candidate,
    // so getOrCreate would return the live default session while
    // preExisting read false, and the finally below stopped the
    // caller's shared session)
    val preExisting = SparkSession.getActiveSession
      .filter(s => !s.sparkContext.isStopped)
      .orElse(SparkSession.getDefaultSession
        .filter(s => !s.sparkContext.isStopped))
      .isDefined
    val spark = SparkSession.builder().appName(appName).getOrCreate()
    // ADVICE r11: register graft functions at session bootstrap so a
    // Column built while another (or no) session was active still
    // resolves the graft_* kernels when analyzed against this session
    graft.plans.GraftFunctions.register(spark)
    try body(spark)
    finally if (!preExisting) spark.stop()
  }

  /** Actionable arg-count failure instead of a bare MatchError. */
  private[processes] def need(args: Array[String], n: Int, usage: String): Unit =
    require(args.length >= n,
      s"expected $n arguments, got ${args.length} - usage: $usage")

  private[processes] def nowUtc: LocalDateTime =
    LocalDateTime.now(ZoneOffset.UTC)

  private[processes] def isoTimestamp: String =
    nowUtc.atZone(ZoneOffset.UTC).format(DateTimeFormatter.ISO_INSTANT)

  /** `root/yyyy/MM/suffix` at a pinned time (PathHelper.datePath
    * convention) — chained steps pin once so the path cannot roll over
    * between steps.
    */
  def datePath(root: String, suffix: String, at: LocalDateTime): String =
    Catalog.datePath(root, at.getYear, at.getMonthValue, suffix)

  /** `root/yyyy/MM/suffix`, this month. */
  def datePath(root: String, suffix: String): String =
    datePath(root, suffix, nowUtc)
}

/** Master dataset (Avro snapshots) → flattened parquet export.
  * Args: masterRoot outRoot.
  */
object ParquetDumpMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "masterRoot outRoot")
    val Array(masterRoot, outRoot) = args.take(2)
    Mains.run("graft: parquet dump") { spark =>
      execute(spark, masterRoot, Mains.datePath(outRoot, "all.parquet"))
    }
  }

  private[processes] def execute(
      spark: SparkSession, masterRoot: String, outPath: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val paths = Catalog.latestSnapshots(hconf, masterRoot, "enrichment")
      .values.toSeq.sorted
    require(paths.nonEmpty, s"no enrichment snapshots under $masterRoot")
    val records = AvroSource.read(spark, paths)
    val count = Processes.parquetDump(
      Processes.schemaRepair(records), outPath)
    Manifest.write(hconf, outPath, Map("Count" -> count.toString),
      Mains.isoTimestamp)
    println(s"Parquet saved to $outPath")
  }
}

/** Per-provider JSONL snapshots → gzipped provider + all dumps.
  * Args: masterRoot outRoot.
  */
object JsonlDumpMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "masterRoot outRoot")
    val Array(masterRoot, outRoot) = args.take(2)
    Mains.run("graft: jsonl dump") { spark =>
      execute(spark, masterRoot, Mains.datePath(outRoot, "jsonl"))
    }
  }

  private[processes] def execute(
      spark: SparkSession, masterRoot: String, outPath: String): Unit = {
    val paths = Catalog.latestSnapshots(
      spark.sparkContext.hadoopConfiguration, masterRoot, "jsonl")
    val result = JsonlDump.dump(spark, paths, outPath, Mains.isoTimestamp)
    println(s"JSONL saved to ${result.outRoot} " +
      s"(${result.totalCount} records)")
  }
}

/** Flattened parquet export → provider + contributor MQ score CSVs.
  * Args: parquetPath outRoot.
  */
object MqReportsMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "parquetPath outRoot")
    val Array(parquetPath, outRoot) = args.take(2)
    Mains.run("graft: mq reports") { spark =>
      execute(spark.read.parquet(parquetPath),
        Mains.datePath(outRoot, "provider"),
        Mains.datePath(outRoot, "contributor"))
    }
  }

  private[processes] def execute(items: DataFrame,
      outProvider: String, outContributor: String): Unit = {
    val (np, nc) = Processes.mqReports(
      MqDpla.withDerived(MqDpla.itemdata(items)), MqDpla.scoreCols,
      outProvider, outContributor, Mains.isoTimestamp)
    println(s"MQ reports: $np provider rows, $nc contributor rows")
  }
}

/** Flattened parquet export → sitemap subfiles + index.
  * Args: parquetPath outDir publicUrlPrefix [itemUrlBase].
  */
object SitemapMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 3, "parquetPath outDir publicUrlPrefix [itemUrlBase]")
    val Array(parquetPath, outDir, publicUrlPrefix) = args.take(3)
    val itemUrlBase =
      if (args.length > 3) args(3) else "https://dp.la/item/"
    Mains.run("graft: sitemap") { spark =>
      execute(spark.read.parquet(parquetPath), outDir, publicUrlPrefix,
        itemUrlBase)
    }
  }

  private[processes] def execute(items: DataFrame, outDir: String,
      publicUrlPrefix: String, itemUrlBase: String): Unit = {
    import items.sparkSession.implicits._
    val ids = items.select(col("id")).as[String]
    val subfiles = Sitemap.write(items.sparkSession, ids, outDir, itemUrlBase,
      publicUrlPrefix, Mains.isoTimestamp)
    println(s"Sitemap: ${subfiles.size} subfiles under $outDir")
  }
}

/** Avro dataset → canonical-schema Avro dataset.
  * Args: inPath outPath.
  */
object SchemaRepairMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "inPath outPath")
    val Array(inPath, outPath) = args.take(2)
    Mains.run("graft: schema repair") { spark =>
      val records = AvroSource.read(spark, Seq(inPath))
      AvroSource.write(Processes.schemaRepair(records), outPath)
      println(s"Repaired dataset saved to $outPath")
    }
  }
}

/** Per-provider schema DDL dump + divergence report.
  * Args: masterRoot outRoot.
  */
object SchemaTestMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "masterRoot outRoot")
    val Array(masterRoot, outRoot) = args.take(2)
    Mains.run("graft: schema test") { spark =>
      val frames = Catalog.latestSnapshots(
        spark.sparkContext.hadoopConfiguration, masterRoot, "enrichment")
        .map { case (provider, path) =>
          provider -> AvroSource.read(spark, Seq(path))
        }
      val divergent = Processes.schemaTest(spark, frames, outRoot)
      if (divergent.isEmpty) println("All provider schemas agree")
      else println(s"Divergent providers: ${divergent.mkString(", ")}")
    }
  }
}

/** Purge thumbnails for the ids in a parquet export.
  * Args: parquetPath thumbRoot.
  */
object ThumbnailPurgeMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 2, "parquetPath thumbRoot")
    val Array(parquetPath, thumbRoot) = args.take(2)
    Mains.run("graft: thumbnail purge") { spark =>
      import spark.implicits._
      val ids = spark.read.parquet(parquetPath)
        .select(col("id")).as[String]
      val n = Processes.thumbnailPurge(ids, thumbRoot)
      println(s"Purged $n thumbnails under $thumbRoot")
    }
  }
}

/** The chained monthly batch, reference EMR step order
  * (`monthly_batch_emr.sh:41-111`): parquet → jsonl → mq → sitemap, in
  * ONE session with the month pinned before the first step.
  * Args: masterRoot outRoot publicUrlPrefix.
  * Layout: outRoot/{parquet,jsonl,mq,sitemap}; parquet feeds mq+sitemap,
  * read once with the schema the dump wrote (no schema-inference job).
  */
object MonthlyBatchMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 3, "masterRoot outRoot publicUrlPrefix")
    val Array(masterRoot, outRoot, publicUrlPrefix) = args.take(3)
    val base = outRoot.stripSuffix("/")
    val month = Mains.nowUtc
    val parquetOut = Mains.datePath(s"$base/parquet", "all.parquet", month)
    Mains.run("graft: monthly batch") { spark =>
      ParquetDumpMain.execute(spark, masterRoot, parquetOut)
      JsonlDumpMain.execute(spark, masterRoot,
        Mains.datePath(s"$base/jsonl", "jsonl", month))
      val items = spark.read.schema(DplaMap.exportRecord).parquet(parquetOut)
      MqReportsMain.execute(items,
        Mains.datePath(s"$base/mq", "provider", month),
        Mains.datePath(s"$base/mq", "contributor", month))
      SitemapMain.execute(items, s"$base/sitemap",
        publicUrlPrefix, "https://dp.la/item/")
    }
  }
}

/** Incremental snapshot curation ([EXT], no reference counterpart): diff
  * the new snapshot against the previous one and curate only the delta
  * against the persisted dedup indexes — the monthly-churn-sized job.
  * Writes the surviving delta as parquet under outPath.
  *
  * `--compact=corpusParquet` additionally runs [[DeltaCurate.compact]]
  * against the given curated corpus AFTER the increment — the maintenance
  * pass [[DeltaCurate.run]]'s scaladoc defers, reachable from the same
  * chained invocation (a typical deployment passes it every Nth month).
  * The corpus argument is explicit rather than defaulted to the new
  * snapshot because the curated corpus keeps the PRIOR version of a
  * suppressed cosmetic edit; only the caller knows where that corpus
  * lives.
  */
object DeltaCurateMain {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = args.partition(_.startsWith("--compact="))
    // fail fast on any other flag-looking arg: a space-separated
    // "--compact corpus" would otherwise be consumed as positional args
    // and silently target bogus index-table names
    require(!positional.exists(_.startsWith("--")),
      s"unrecognized flag(s): ${positional.filter(_.startsWith("--"))
        .mkString(", ")} — the only flag is --compact=corpusParquet")
    Mains.need(positional, 3,
      "prevSnapshotParquet newSnapshotParquet outPath " +
        "[fpIndexTable sigIndexTable] [--compact=corpusParquet]")
    val Array(prevPath, newPath, outPath) = positional.take(3)
    val fpTable = if (positional.length > 3) positional(3) else "graft_fp_index"
    val sigTable = if (positional.length > 4) positional(4) else "graft_sig_index"
    val compactCorpus = flags.headOption.map(_.stripPrefix("--compact="))
    require(compactCorpus.forall(_.nonEmpty),
      "--compact= requires a corpus parquet path")
    Mains.run("graft: delta curate") { spark =>
      val prev = spark.read.parquet(prevPath)
      val next = spark.read.parquet(newPath)
      val r = DeltaCurate.run(prev, next, "doc_id", "text", "lang",
        fpIndexTable = fpTable, sigIndexTable = sigTable)
      r.survivors.write.mode("overwrite").parquet(outPath)
      val compacted = compactCorpus.map { corpusPath =>
        DeltaCurate.compact(spark.read.parquet(corpusPath),
          "doc_id", "text", fpTable, sigTable)
      }
      val compactJson = compacted
        .map { case (fp, sig) => s""","fp_rows":$fp,"sig_rows":$sig""" }
        .getOrElse("")
      println(s"""{"added":${r.added},"changed":${r.changed},""" +
        s""""removed":${r.removed},"gated":${r.gated}$compactJson}""")
    }
  }
}

/** Index maintenance: compact the incremental dedup indexes against the
  * current curated corpus ([[DeltaCurate.compact]]) — run between
  * increments (e.g. quarterly) to drop superseded fingerprints and
  * signatures. Args: corpusParquet [fpIndexTable sigIndexTable buckets].
  */
object CompactIndexesMain {
  def main(args: Array[String]): Unit = {
    Mains.need(args, 1,
      "corpusParquet [fpIndexTable sigIndexTable buckets]")
    val corpusPath = args(0)
    val fpTable = if (args.length > 1) args(1) else "graft_fp_index"
    val sigTable = if (args.length > 2) args(2) else "graft_sig_index"
    val buckets = if (args.length > 3) args(3).toInt else 64
    Mains.run("graft: compact dedup indexes") { spark =>
      val corpus = spark.read.parquet(corpusPath)
      val (fpRows, sigRows) = DeltaCurate.compact(
        corpus, "doc_id", "text", fpTable, sigTable, buckets)
      println(s"""{"fp_rows":$fpRows,"sig_rows":$sigRows}""")
    }
  }
}

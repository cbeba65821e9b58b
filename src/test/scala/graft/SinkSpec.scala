package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sinks._
import graft.sources.Catalog

/** Sinks + catalog: sitemap partition math (reference-bug boundary cases),
  * XML rendering, manifest format, jsonl dump invariants, schema DDL drift,
  * key purge, latest-snapshot discovery (SURVEY.md §5.2).
  */
class SinkSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-test").toString

  test("training pipeline end to end: curate -> BPE-pack -> shards") {
    import graft.operators.Curation
    import graft.processes.TrainingPipeline
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far away "
    val docs = ((1L to 40L).map(i =>
      (i, base * 3 + s"unique tail $i with words alpha$i beta$i", "en", "s1")) ++
      Seq(
        (41L, base * 3 + "unique tail 1 with words alpha1 beta1", "en", "s1"),
        (42L, "too short", "en", "s1"),
        (43L, base * 3 + "wrong language tail here now", "de", "s1")))
      .toDF("doc_id", "text", "lang", "source")
    val out = tmpDir() + "/train"
    val (res, _, uncached) = countingJobs(TrainingPipeline.run(docs,
      "doc_id", "text", "lang",
      Curation.Config(minTokens = 30, maxStopRatio = 1.0,
        langs = Seq("en"), testFraction = 0.2),
      numMerges = 50, budget = 256, nShards = 2, outPath = out))
    // the packed bins (and the join materializeBins persists) are released
    assert(uncached)
    // 41 is an exact dup of 1 (higher id loses); 42/43 quality-gated;
    // survivors split train/test
    assert(res.trainDocs + res.testDocs === 40)
    assert(res.trainBins > 0)
    // shards exist and hold exactly the packed sequences
    val back = spark.read.parquet(out)
    assert(back.count() === res.trainBins)
    assert(back.columns.toSet === Set("bin_id", "text", "n_docs", "shard"))
    // every packed sequence carries >= 1 doc and non-empty text
    assert(back.filter(col("n_docs") < 1 ||
      length(col("text")) === 0).count() === 0)
  }

  test("shard writer: one file per shard, deterministic assignment and order") {
    import graft.sinks.ShardWriter
    import spark.implicits._
    val docs = (1L to 500L).map(i => (i, s"text$i")).toDF("doc_id", "text")
    val out = tmpDir() + "/shards"
    val assign = ShardWriter.writeShards(docs, "doc_id", 4, out)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one parquet file per shard dir, all 4 dirs present
    val dirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(dirs.map(_.getName).toSeq ===
      Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1,
        d.getName)
    }
    // round trip: nothing lost, shard column matches the returned audit
    val back = spark.read.parquet(out)
      .select(col("doc_id"), col("shard").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(back === assign && back.size === 500)
    // determinism: a second write from a differently-partitioned input
    // produces byte-identical per-shard id sequences
    val out2 = tmpDir() + "/shards2"
    ShardWriter.writeShards(docs.repartition(13), "doc_id", 4, out2)
    for (s <- 0 to 3) {
      val a = spark.read.parquet(s"$out/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      val b = spark.read.parquet(s"$out2/shard=$s")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      assert(a === b && a.nonEmpty, s"shard $s")
      // within-shard order is the md5 draw, not id order (a real shuffle)
      assert(a !== a.sorted, s"shard $s looks id-ordered")
    }
  }

  test("sitemap partitionCount fixes the reference's integer-division bug") {
    // reference: ceil(idCount / maxRows) on Longs ⇒ floor; 0 below 50k (crash)
    assert(Sitemap.partitionCount(0) === 1)
    assert(Sitemap.partitionCount(1) === 1)
    assert(Sitemap.partitionCount(49999) === 1)
    assert(Sitemap.partitionCount(50000) === 1)
    assert(Sitemap.partitionCount(50001) === 2)
    assert(Sitemap.partitionCount(150000) === 3)
    assert(Sitemap.partitionCount(150001) === 4)
  }

  test("sitemap subfile + index render valid XML with escaped content") {
    val body = Sitemap.buildSubfile("https://dp.la/item/",
      Iterator("abc", "x&y"), "2026-08-12")
    assert(body.startsWith("""<?xml version="1.0" encoding="UTF-8"?>"""))
    assert(body.contains("<loc>https://dp.la/item/abc</loc>"))
    assert(body.contains("x&amp;y")) // escaping
    // reference render parity: every <url> carries the fixed changefreq
    // element (ref Sitemap.scala:70)
    assert(body.contains(
      "<lastmod>2026-08-12</lastmod><changefreq>monthly</changefreq></url>"))
    assert(body.endsWith("</urlset>"))
    val idx = Sitemap.buildIndex(Seq("https://dp.la/sitemap00000.xml.gz"), "2026-08-12")
    assert(idx.contains("<sitemap><loc>https://dp.la/sitemap00000.xml.gz</loc>"))
    assert(idx.endsWith("</sitemapindex>"))
  }

  test("sitemap end-to-end writes gzipped subfiles + index + manifest") {
    import spark.implicits._
    val out = tmpDir()
    val ids = (1 to 100).map(i => s"id$i%04d").toDS()
    val (subfiles, jobs, uncached) = countingJobs(Sitemap.write(spark, ids,
      out, "https://dp.la/item/", "https://dp.la/", "2026-08-12"))
    assert(subfiles.nonEmpty)
    // a two-job count, then the round-robin shuffle and the subfile tasks;
    // nothing left cached
    assert(jobs <= 4, jobs)
    assert(uncached)
    val files = new java.io.File(out).list().toSeq
    assert(files.contains("sitemapindex.xml.gz"))
    assert(subfiles.forall(files.contains))
    assert(Manifest.read(spark.sparkContext.hadoopConfiguration, out)
      .contains("Count: 100"))
  }

  test("manifest renders sorted keys then timestamp") {
    val m = Manifest.render(Map("b" -> "2", "a" -> "1"), "2026-08-12T00:00:00Z")
    assert(m === "a: 1\nb: 2\nGenerated: 2026-08-12T00:00:00Z")
  }

  test("jsonl dump: per-provider + all dump with count invariant") {
    import spark.implicits._
    val src = tmpDir()
    Seq("""{"a":1}""", """{"a":2}""").toDS().write.text(s"$src/p1")
    Seq("""{"b":1}""").toDS().write.text(s"$src/p2")
    val out = tmpDir()
    val res = JsonlDump.dump(spark,
      Map("p1" -> s"$src/p1", "p2" -> s"$src/p2"), out, "2026-08-12")
    assert(res.providerCounts === Map("p1" -> 2L, "p2" -> 1L))
    assert(res.totalCount === 3L)
    val all = spark.read.text(s"$out/all.jsonl").count()
    assert(all === 3L)
    assert(Manifest.read(spark.sparkContext.hadoopConfiguration, out)
      .contains("Count.all: 3"))
  }

  test("jsonl dump counts each provider on its own write: 3 providers run 4 jobs") {
    import spark.implicits._
    val src = tmpDir()
    val lines = Map("p1" -> 3, "p2" -> 1, "p3" -> 5)
    for ((p, n) <- lines)
      (1 to n).map(i => s"""{"$p":$i}""").toDS().coalesce(1).write.text(s"$src/$p")
    val out = tmpDir()
    val sc = spark.sparkContext
    val (res, jobs, uncached) = countingJobs(JsonlDump.dump(spark,
      lines.map { case (p, _) => p -> s"$src/$p" }, out, "2026-10-18"))
    // one write per provider (its count an observed metric) + the all-dump
    assert(jobs === 4)
    assert(uncached) // the DISK_ONLY provider caches are released
    val manifest = Manifest.read(sc.hadoopConfiguration, out).linesIterator.toSet
    for ((p, n) <- lines) {
      val written = spark.read.text(s"$out/$p.jsonl").count()
      assert(written === n.toLong)
      assert(res.providerCounts(p) === written)
      assert(manifest.contains(s"Count.$p: $written"))
    }
    assert(manifest.contains("Count.all: 9"))
  }

  test("jsonl dump refuses a provider named 'all' (combined-dump collision)") {
    // <outRoot>/all.jsonl is the combined dump's path and Count.all its
    // manifest key — a provider directory literally named "all" would be
    // silently overwritten by the union write (review finding)
    val src = tmpDir()
    val out = tmpDir()
    val e = intercept[IllegalArgumentException](
      JsonlDump.dump(spark, Map("all" -> s"$src/all"), out, "2026-08-14"))
    assert(e.getMessage.contains("all"))
  }

  test("jsonl dump of zero providers yields an empty result, not a crash") {
    val out = tmpDir()
    val res = JsonlDump.dump(spark, Map.empty, out, "2026-08-12")
    assert(res.totalCount === 0L)
    assert(Manifest.read(spark.sparkContext.hadoopConfiguration, out)
      .contains("Count.all: 0"))
  }

  test("csv report writes one file with header and refuses huge frames") {
    import spark.implicits._
    val out = tmpDir()
    val df = Seq(("p1", 0.5), ("p2", 0.7)).toDF("provider", "score")
    val rows = df.collect().toSeq
    val n = CsvReport.write(rows, df.schema, out, Map("Report" -> "test"),
      "2026-08-12")
    assert(n === 2)
    val csvs = new java.io.File(out).list().filter(_.endsWith(".csv"))
    assert(csvs.length === 1)
    val lines = spark.read.option("header", "true").csv(out).collect()
    assert(lines.length === 2)
    val e = intercept[IllegalArgumentException] {
      CsvReport.write(rows, df.schema, out, Map.empty, "2026-08-12",
        maxRows = 1)
    }
    assert(e.getMessage.contains(
      "CsvReport is a single-file sink; got 2 rows > 1."))
  }

  test("schema ddl dump detects the divergent provider") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "v")
    val b = Seq((1, "x")).toDF("id", "v")
    val c = Seq((1L, "x")).toDF("id", "v") // id is LONG here
    val out = tmpDir()
    val divergent = graft.processes.Processes.schemaTest(
      spark, Map("pa" -> a, "pb" -> b, "pc" -> c), out)
    assert(divergent === Seq("pc"))
    assert(new java.io.File(s"$out/pa/schema.sql").exists())
  }

  test("thumbnail key fan-out + purge deletes existing keys in batches") {
    import spark.implicits._
    val root = tmpDir()
    val ids = Seq("abcd1", "efgh2", "xy") // "xy" too short → skipped
    ids.filter(_.length >= 4).foreach { id =>
      val f = new java.io.File(
        s"$root/${id(0)}/${id(1)}/${id(2)}/${id(3)}/$id.jpg")
      f.getParentFile.mkdirs()
      f.createNewFile()
    }
    val deleted = graft.processes.Processes.thumbnailPurge(
      ids.toDS().withColumnRenamed("value", "value").as[String], root)
    assert(deleted === 2L)
    assert(KeyPurge.thumbnailKey("abcd1") === Some("a/b/c/d/abcd1.jpg"))
    assert(KeyPurge.thumbnailKey("xy") === None)
  }

  test("sitemap rerun into the same dir deletes subfiles the new index no longer references") {
    import spark.implicits._
    import graft.sinks.Sitemap
    val out = tmpDir() + "/sm"
    // 100001 ids -> 3 subfiles (ceil over the 50k protocol limit)
    val big = spark.range(100001).map(i => s"id$i")
    val first = Sitemap.write(spark, big, out, "https://x/", "https://p/", "2026-08")
    assert(first.size === 3)
    assert(new java.io.File(s"$out/sitemap00002.xml.gz").exists())
    // corpus shrinks: one subfile; the two surplus files must be deleted
    // (a crawler holding the old index would otherwise fetch stale URLs)
    val small = spark.range(5).map(i => s"id$i")
    val second = Sitemap.write(spark, small, out, "https://x/", "https://p/", "2026-09")
    assert(second === Seq("sitemap00000.xml.gz"))
    assert(!new java.io.File(s"$out/sitemap00001.xml.gz").exists() &&
      !new java.io.File(s"$out/sitemap00002.xml.gz").exists(),
      "stale subfiles from the larger first run must be removed")
    assert(new java.io.File(s"$out/sitemap00000.xml.gz").exists() &&
      new java.io.File(s"$out/sitemapindex.xml.gz").exists())
  }

  test("jsonl re-dump into the same root removes dumps of vanished providers") {
    import graft.sinks.JsonlDump
    val src = tmpDir()
    for (p <- Seq("pa", "pb")) {
      val d = new java.io.File(s"$src/$p"); d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "part.jsonl").toPath,
        s"""{"p":"$p"}""".getBytes("UTF-8"))
    }
    val out = tmpDir() + "/dump"
    JsonlDump.dump(spark,
      Map("pa" -> s"$src/pa", "pb" -> s"$src/pb"), out, "2026-08")
    assert(new java.io.File(s"$out/pb.jsonl").isDirectory)
    // provider pb disappears; a rerun must not leave its old dump behind
    // (unlisted by the manifest but ingested by any *.jsonl glob)
    JsonlDump.dump(spark, Map("pa" -> s"$src/pa"), out, "2026-09")
    assert(new java.io.File(s"$out/pa.jsonl").isDirectory)
    assert(!new java.io.File(s"$out/pb.jsonl").exists(),
      "vanished provider's dump must be deleted on re-dump")
    assert(new java.io.File(s"$out/all.jsonl").isDirectory)
  }

  test("schema divergence tie-break is deterministic on an even split") {
    import graft.sinks.SchemaDdl
    // 2-2 split: the majority must not depend on Map iteration order —
    // the lexicographically smallest schema wins ties, so the "X" holders
    // are flagged regardless of insertion order
    val a = Map("p1" -> "X", "p2" -> "X", "p3" -> "A", "p4" -> "A")
    val b = Map("p4" -> "A", "p3" -> "A", "p2" -> "X", "p1" -> "X")
    assert(SchemaDdl.divergent(a) === Seq("p1", "p2"))
    assert(SchemaDdl.divergent(b) === Seq("p1", "p2"))
  }

  test("purge count is retry-stable: re-purging already-gone keys still reports them gone") {
    import spark.implicits._
    import graft.sinks.KeyPurge
    val root = tmpDir()
    val f = new java.io.File(s"$root/k1.jpg")
    f.createNewFile()
    val keys = Seq("k1.jpg").toDS()
    assert(KeyPurge.purge(keys, root) === 1L)
    // the file is gone; a retry (or a re-run after a task failure whose
    // accumulator updates were discarded) must still account for it —
    // "absent after the pass" is the auditable number, not "deleted by
    // this exact attempt"
    assert(KeyPurge.purge(keys, root) === 1L)
  }

  test("date-partitioned layout (H9): partitionBy write + partition pruning read") {
    import spark.implicits._
    val out = tmpDir() + "/dated"
    Seq((2026, 7, "a"), (2026, 8, "b"), (2026, 8, "c"))
      .toDF("y", "m", "v")
      .write.partitionBy("y", "m").parquet(out)
    assert(new java.io.File(s"$out/y=2026/m=8").isDirectory)
    val pruned = spark.read.parquet(out).filter(col("m") === 8)
    assert(pruned.count() === 2)
    // pruning: only the m=8 partition's files are read
    assert(pruned.select(input_file_name()).distinct().collect()
      .forall(_.getString(0).contains("m=8")))
  }

  test("monthly batch main chains parquet -> jsonl -> mq -> sitemap on local paths") {
    import graft.processes.{Mains, MonthlyBatchMain, SchemaRepairMain, SchemaTestMain}
    import graft.sources.AvroDirect
    // master-dataset layout: root/<provider>/{enrichment,jsonl}/<snapshot>/
    val master = tmpDir()
    val canonical = graft.schema.SchemaAlign.alignToSchema(
      spark.createDataFrame(
        spark.sparkContext.parallelize((1 to 20).map(i =>
          Row(s"http://dp.la/api/items/i$i"))),
        StructType(Seq(StructField("dplaUri", StringType)))),
      graft.schema.DplaMap.record)
    for (p <- Seq("p1", "p2")) {
      AvroDirect.write(canonical, s"$master/$p/enrichment/20260801_000000")
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(s"""{"id":"$p-1"}"""))),
        StructType(Seq(StructField("value", StringType))))
        .write.text(s"$master/$p/jsonl/20260801_000000")
    }
    val out = tmpDir()
    // pin the month ONCE before the run: recomputing datePath at assert
    // time would point at next month's paths if UTC rolls over mid-test
    val month = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC)
    MonthlyBatchMain.main(Array(master, out, "https://sitemaps.example/"))
    // session survives (the frame must not stop a pre-existing session)
    assert(!spark.sparkContext.isStopped)
    val parquetOut = Mains.datePath(s"$out/parquet", "all.parquet", month)
    assert(spark.read.parquet(parquetOut).count() === 40) // 2 providers
    val jsonlDir = new java.io.File(
      Mains.datePath(s"$out/jsonl", "jsonl", month))
    assert(jsonlDir.isDirectory &&
      jsonlDir.listFiles.exists(_.getName.endsWith(".jsonl")))
    val provCsv = new java.io.File(
      Mains.datePath(s"$out/mq", "provider", month))
    assert(provCsv.isDirectory &&
      provCsv.listFiles.exists(_.getName.endsWith(".csv")))
    assert(new java.io.File(s"$out/sitemap/sitemapindex.xml.gz").exists)

    // schema repair + schema test mains over the same fixtures
    val repaired = tmpDir() + "/repaired"
    SchemaRepairMain.main(
      Array(s"$master/p1/enrichment/20260801_000000", repaired))
    assert(AvroDirect.read(spark, Seq(repaired)).count() === 20)
    SchemaTestMain.main(Array(master, tmpDir()))
  }

  test("DeltaCurateMain: delta-curates two parquet snapshots end to end") {
    import graft.processes.DeltaCurateMain
    import spark.implicits._
    dropTable("dcm_fp")
    dropTable("dcm_sig")
    def doc(i: Int) = (1 to 35).map(k => s"m${i}v$k").mkString(" ")
    val prevDir = tmpDir() + "/prev"; val newDir = tmpDir() + "/next"
    val outDir = tmpDir() + "/delta"
    (1 to 4).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
      .write.parquet(prevDir)
    // next: doc 2 rewritten, doc 5 added, doc 6 an exact copy of doc 1
    (Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en"), (5L, doc(5), "en"), (6L, doc(1), "en")))
      .toDF("doc_id", "text", "lang").write.parquet(newDir)
    // bootstrap the indexes from the previous snapshot first
    graft.processes.DeltaCurate.run(
      spark.read.parquet(prevDir).limit(0), spark.read.parquet(prevDir),
      "doc_id", "text", "lang",
      fpIndexTable = "dcm_fp", sigIndexTable = "dcm_sig")
    DeltaCurateMain.main(Array(prevDir, newDir, outDir, "dcm_fp", "dcm_sig"))
    assert(!spark.sparkContext.isStopped)
    val ids = spark.read.parquet(outDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 2 (material rewrite) and 5 (fresh) survive; 6 hits the exact index
    assert(ids === Set(2L, 5L))
    // chained maintenance leg: a second increment (no changes) with
    // --compact against the current corpus drops doc 2's superseded v0
    // fingerprint from the index in the SAME invocation
    val fpBefore = spark.table("dcm_fp").count()
    val corpusDir = tmpDir() + "/corpus"
    val out2 = tmpDir() + "/delta2"
    // current curated corpus: latest surviving version per id
    (Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en"), (5L, doc(5), "en")))
      .toDF("doc_id", "text", "lang").write.parquet(corpusDir)
    DeltaCurateMain.main(Array(newDir, newDir, out2, "dcm_fp", "dcm_sig",
      s"--compact=$corpusDir"))
    assert(!spark.sparkContext.isStopped)
    assert(spark.table("dcm_fp").count() < fpBefore,
      "compaction leg must drop the superseded fingerprint")
    dropTable("dcm_fp")
    dropTable("dcm_sig")
  }

  test("CompactIndexesMain: compacts both dedup indexes against a corpus parquet") {
    import graft.processes.CompactIndexesMain
    import spark.implicits._
    dropTable("cim_fp")
    dropTable("cim_sig")
    def doc(i: Int) = (1 to 35).map(k => s"c${i}w$k").mkString(" ")
    val m0 = (1 to 4).map(i => (i.toLong, doc(i), "en"))
      .toDF("doc_id", "text", "lang")
    // month 1 rewrites doc 2 → its v0 fp/sig rows become superseded
    val m1 = Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en")).toDF("doc_id", "text", "lang")
    graft.processes.DeltaCurate.run(m0.limit(0), m0, "doc_id", "text",
      "lang", fpIndexTable = "cim_fp", sigIndexTable = "cim_sig",
      buckets = 4)
    graft.processes.DeltaCurate.run(m0, m1, "doc_id", "text", "lang",
      fpIndexTable = "cim_fp", sigIndexTable = "cim_sig", buckets = 4)
    val fpBefore = spark.table("cim_fp").count()
    val corpusDir = tmpDir() + "/corpus"
    m1.write.parquet(corpusDir)
    CompactIndexesMain.main(Array(corpusDir, "cim_fp", "cim_sig", "4"))
    assert(!spark.sparkContext.isStopped)
    assert(spark.table("cim_fp").count() < fpBefore)
    // bucket layout survives the swap: another increment still runs
    val m2 = m1.unionAll(Seq((9L, doc(9), "en")).toDF("doc_id", "text", "lang"))
    val r = graft.processes.DeltaCurate.run(m1, m2, "doc_id", "text",
      "lang", fpIndexTable = "cim_fp", sigIndexTable = "cim_sig",
      buckets = 4)
    assert(r.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(9L))
    dropTable("cim_fp")
    dropTable("cim_sig")
  }

  test("avro adapter falls back to the direct path when the module is absent (A1/H2)") {
    import graft.sources.AvroSource
    // this container ships no spark-avro jar; the adapter must route to
    // AvroDirect transparently, so a user of read/write never sees the gap
    assume(!AvroSource.available(spark))
    import spark.implicits._
    val out = tmpDir() + "/avro_out"
    AvroSource.write(Seq((1L, "x"), (2L, "y")).toDF("a", "b"), out)
    val back = AvroSource.read(spark, Seq(out))
    assert(back.orderBy("a").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x"), (2L, "y")))
  }

  test("latest-snapshot choice is stable across listing page boundaries") {
    // S3 lists 1000 keys per page; a listing larger than one page must
    // still pick the global max even when the winner is created first
    // and sits early in creation order (the bug class the reference's
    // MAX_ROWS paging constant exists for, S3FileHelper.scala:16,20-31)
    val root = tmpDir()
    val base = new java.io.File(s"$root/p1/enrichment")
    new java.io.File(base, "20260731_235959").mkdirs() // winner, created first
    (1 to 1200).foreach(i =>
      new java.io.File(base, f"2026${i % 6 + 1}%02d01_$i%06d").mkdirs())
    // a stray FILE (not dir) sorting last must not win
    new java.io.File(base, "29999999_999999").createNewFile()
    val got = Catalog.latestSnapshot(
      spark.sparkContext.hadoopConfiguration, root, "p1", "enrichment")
    assert(got === Some(s"$root/p1/enrichment/20260731_235959"))
  }

  test("catalog picks the lexicographically latest snapshot per provider") {
    val root = tmpDir()
    Seq("p1/enrichment/20260101_000000", "p1/enrichment/20260201_000000",
      "p2/enrichment/20251212_101010", "p3/other/20260101_000000")
      .foreach(d => new java.io.File(s"$root/$d").mkdirs())
    val snaps = Catalog.latestSnapshots(
      spark.sparkContext.hadoopConfiguration, root, "enrichment")
    assert(snaps === Map(
      "p1" -> s"$root/p1/enrichment/20260201_000000",
      "p2" -> s"$root/p2/enrichment/20251212_101010"))
    assert(Catalog.datePath("out", 2026, 8, "all.parquet")
      === "out/2026/08/all.parquet")
  }

  test("parquetDump flatten + write round trip on a canonical record") {
    import graft.schema.{DplaMap, SchemaAlign}
    val rec = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("http://dp.la/api/items/zzz9"))),
      StructType(Seq(StructField("dplaUri", StringType))))
    val canonical = SchemaAlign.alignToSchema(rec, DplaMap.record)
    val out = tmpDir() + "/dump.parquet"
    val (n, jobs, uncached) = countingJobs(
      graft.processes.Processes.parquetDump(canonical, out))
    assert(n === 1)
    // the count is an observed metric on the write: one job, nothing cached
    assert(jobs === 1)
    assert(uncached)
    val back = spark.read.parquet(out)
    assert(back.select("id").head().getString(0) === "zzz9")
    assert(back.select("uri").head().getString(0) === "http://dp.la/api/items/zzz9")
    assert(back.columns.contains("sourceResource"))
  }

  test("monthly batch chain: parquet dump feeds mq + sitemap (the EMR step dataflow)") {
    // the reference chains parquet → mq → sitemap as EMR steps, with steps
    // 3-4 reading step 1's parquet OUTPUT (monthly_batch_emr.sh:41-111);
    // this drives that dataflow end-to-end on canonical records.
    import graft.operators.MqDpla
    import graft.processes.Processes
    import spark.implicits._
    val raw = Seq(
      ("http://dp.la/api/items/aaa1", "hubA", Seq("title one")),
      ("http://dp.la/api/items/aaa2", "hubA", Seq.empty[String]),
      ("http://dp.la/api/items/bbb1", "hubB", Seq("title two")))
      .toDF("dplaUri", "pname", "titles")
      .select(col("dplaUri"),
        struct(col("pname").as("name")).as("provider"),
        struct(col("titles").as("title")).as("sourceResource"))
    val canonical = Processes.schemaRepair(raw)

    // step 1: parquet dump
    val root = tmpDir()
    val dumpDir = Catalog.datePath(root, 2026, 8, "all.parquet")
    assert(Processes.parquetDump(canonical, dumpDir) === 3)

    // step 3 (mq): flags + provider scores over the dump
    val items = spark.read.parquet(dumpDir)
    val scores = MqDpla.providerScores(MqDpla.itemdata(items))
    val outP = tmpDir()
    assert(CsvReport.write(scores.collect().toSeq, scores.schema, outP,
      Map("Report" -> "provider"), "2026-08-12") === 2) // hubA, hubB
    val byProvider = spark.read.option("header", "true").csv(outP)
      .collect().map(r => r.getString(0) -> r.getAs[String]("title")).toMap
    assert(byProvider("hubA") === "0.5") // one of hubA's two docs has a title
    assert(byProvider("hubB") === "1.0")

    // step 4 (sitemap): ids from the same dump
    val smDir = tmpDir()
    val subfiles = Sitemap.write(spark, items.select("id").as[String], smDir,
      "https://dp.la/item/", "https://dp.la/", "2026-08-12")
    assert(subfiles.size === 1) // 3 ids, well under the 50k bound
    assert(Manifest.read(spark.sparkContext.hadoopConfiguration, smDir)
      .contains("Count: 3"))
  }

  private def titleFlagged(rows: Seq[(String, String, String)]) = {
    import graft.operators.Completeness
    import graft.operators.Completeness.Flag
    import spark.implicits._
    Completeness.flagged(rows.toDF("provider", "dataProvider", "title"),
      Seq(col("provider"), col("dataProvider")),
      Seq(Flag("has_title", when(length(col("title")) > 0, 1).otherwise(0))))
  }

  /** The text of the one CSV part file a report directory holds. */
  private def csvText(dir: String): String = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length === 1, dir)
    new String(Files.readAllBytes(parts.head.toPath), "UTF-8")
  }

  test("mqReports writes both reports from one rollup fetch: 4 jobs, nothing cached") {
    val flagged = titleFlagged(Seq(
      ("hubA", "contrib1", "title here"),
      ("hubA", "contrib2", ""),
      ("hubB", "contrib3", "another title")))
    val (outP, outC) = (tmpDir(), tmpDir())
    val ((np, nc), jobs, uncached) = countingJobs(
      graft.processes.Processes.mqReports(
        flagged, Seq("has_title"), outP, outC, "2026-08-12"))
    assert(np === 2) // hubA, hubB
    assert(nc === 3)
    // the rollup fetch (its shuffle stage, then the limited collect), then
    // one write per report
    assert(jobs === 4)
    assert(uncached)
    val prov = spark.read.option("header", "true").csv(outP)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(prov("hubA") === "0.5")
  }

  test("mqReports CSVs are byte-identical across runs over reordered input") {
    val rows = (1 to 40).map(i =>
      (s"hub${i % 7}", s"c${i % 11}", if (i % 3 == 0) "" else s"t$i"))
    val runs = Seq(titleFlagged(rows), titleFlagged(rows.reverse).repartition(3))
      .map { flagged =>
        val (outP, outC) = (tmpDir(), tmpDir())
        graft.processes.Processes.mqReports(
          flagged, Seq("has_title"), outP, outC, "2026-08-12")
        (csvText(outP), csvText(outC))
      }
    assert(runs(0) === runs(1))
    // rows come out sorted by their key columns
    val keys = runs(0)._2.linesIterator.drop(1).map(_.split(",").take(2).toSeq).toSeq
    assert(keys === keys.sortBy(k => (k(0), k(1))))
  }

  test("sitemap fails a task before writing a subfile over 50k URLs when the ids grow after the count") {
    import spark.implicits._
    val out = tmpDir()
    GrowingIds.evaluations.set(0)
    // 10 ids when counted (one subfile planned), 50,001 when written
    val ids = spark.range(0, 1, 1, 1).flatMap { _ =>
      val n = if (GrowingIds.evaluations.incrementAndGet() == 1) 10
        else Sitemap.MaxUrlsPerFile + 1
      (0 until n).map(i => s"g$i")
    }
    val e = intercept[Exception](Sitemap.write(spark, ids, out,
      "https://dp.la/item/", "https://dp.la/", "2026-08-12"))
    assert(e.getMessage.contains(
      s"sitemap subfile sitemap00000.xml.gz would exceed ${Sitemap.MaxUrlsPerFile} URLs"),
      e.getMessage)
    assert(GrowingIds.evaluations.get === 2)
    assert(Option(new java.io.File(out).list()).forall(_.isEmpty),
      "no subfile, index or manifest may be written")
  }

  test("sitemap subfile render is byte-equal to the scala.xml tree render") {
    // reference: one scala.xml tree rendered per id
    def treeUrlXml(baseUrl: String, id: String, lastmod: String): String =
      scala.xml.Utility.trim(
        <url>
          <loc>{s"$baseUrl$id"}</loc>
          <lastmod>{lastmod}</lastmod>
          <changefreq>monthly</changefreq>
        </url>).buildString(stripComments = true)
    val ids = Seq("plain", "a&b", "<x>y</x>", "q\"uote", "it's", "tab\there",
      " padded ", "line\nbreak", "non-ascii \u00fc\u00df \u65e5\u672c \ud83d\ude00",
      "ctl\u0001char", "")
    val base = "https://dp.la/item/?a=1&b="
    val lastmod = "2026-08-12T00:00:00Z"
    val want = """<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
      """<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">""" +
      ids.map(treeUrlXml(base, _, lastmod)).mkString + "</urlset>"
    assert(Sitemap.buildSubfile(base, ids.iterator, lastmod) === want)
  }
}

/** A driver-side counter the sitemap guard test's source reads: local-mode
  * tasks run in this JVM, so each evaluation of the source sees the last.
  */
object GrowingIds {
  val evaluations = new java.util.concurrent.atomic.AtomicInteger()
}

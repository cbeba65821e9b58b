package graft

import org.apache.spark.sql.functions._

import graft.processes.DeltaCurate
import graft.operators.Curation

/** Delta curation e2e: two monthly increments against persisted indexes —
  * only the delta is processed, history-duplicate documents drop, and the
  * second month's delta deduplicates against the first month's survivors.
  */
class DeltaCurateSpec extends SparkSpec {

  import spark.implicits._

  private def doc(i: Int, salt: String = "") =
    ((1 to 35).map(k => s"w${i}t$k") :+ salt).mkString(" ").trim

  private val cfg = Curation.Config(minTokens = 30, maxStopRatio = 1.0,
    langs = Seq("en"))

  private def cleanTables(): Unit = {
    dropTable("dc_fp")
    dropTable("dc_sig")
  }

  test("two increments: delta-only processing, cross-month index dedup") {
    cleanTables()
    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    // month 1: doc 2 materially rewritten, doc 5 cosmetically tweaked,
    // doc 6 removed; added: 7 (fresh), 8 (EXACT copy of doc 1's text),
    // 9 (too short -> gated out)
    val m1 = Seq(
      (1L, doc(1), "en"),
      (2L, doc(20), "en"),
      (3L, doc(3), "en"), (4L, doc(4), "en"),
      (5L, doc(5) + " tweak", "en"),
      (7L, doc(7), "en"),
      (8L, doc(1), "en"),
      (9L, "too short", "en")).toDF("doc_id", "text", "lang")

    val r0 = DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    // bootstrap month: everything is "added", everything survives
    assert(r0.added === 6L && r0.changed === 0L && r0.removed === 0L)
    assert(r0.survivors.count() === 6L)

    val r1 = DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(r1.added === 3L && r1.changed === 2L && r1.removed === 1L)
    // gate drops doc 9; delta = {2, 5 (changed), 7, 8} after gating
    assert(r1.gated === 4L)
    // doc 8 duplicates month-0 doc 1 via the PERSISTED exact index; doc
    // 5's cosmetic tweak is a near-dup of ITS OWN previous version in
    // the signature index (suppressed: the corpus keeps the prior
    // version); doc 2's material rewrite and fresh doc 7 survive
    val ids = r1.survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(2L, 7L))
    cleanTables()
  }

  test("deltaSurvivors dry-run is decision-identical to run() over persisted tables") {
    cleanTables()
    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    val m1 = Seq(
      (1L, doc(1), "en"),
      (2L, doc(20), "en"),
      (3L, doc(3), "en"), (4L, doc(4), "en"),
      (5L, doc(5) + " tweak", "en"),
      (7L, doc(7), "en"),
      (8L, doc(1), "en"),
      (9L, "too short", "en")).toDF("doc_id", "text", "lang")
    // the persisted-table process (the produce path)
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    val tableIds = DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
        "dc_fp", "dc_sig", buckets = 4)
      .survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    // the dry-run query over in-memory index frames
    val (fpIdx, sigIdx) = DeltaCurate.indexFrames(
      m0, "doc_id", "text", "lang", cfg)
    val dryIds = DeltaCurate.deltaSurvivors(m0, m1,
        "doc_id", "text", "lang", cfg, Some(fpIdx), Some(sigIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dryIds === tableIds)
    // the dry-run surface keeps the input columns (helper cols dropped)
    val cols = DeltaCurate.deltaSurvivors(m0, m1,
      "doc_id", "text", "lang", cfg, Some(fpIdx), Some(sigIdx)).columns.toSet
    assert(cols === Set("doc_id", "text", "lang"))
    // bootstrap semantics without index frames: in-increment dedup only
    val bootIds = DeltaCurate.deltaSurvivors(m0.limit(0), m0,
        "doc_id", "text", "lang", cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(bootIds === Set(1L, 2L, 3L, 4L, 5L, 6L))
    cleanTables()
  }

  test("deltaSurvivors parity holds under the text-rewrite config (dedupLines + c4)") {
    // the r9 bug class: run() once ignored cfg.dedupLinesSep/cfg.c4 and
    // the three curation surfaces diverged on fingerprints — pin that
    // the dry-run applies the SAME rewrite order as run()
    cleanTables()
    // pages must PASS the c4 page gate (>=3 sentences after the line
    // dedup and line filter) or the whole increment gates out — which
    // is its own pinned edge case below, not this test's subject
    def page(i: Int) = Seq(
      doc(i) + " alpha.",        // three DISTINCT sentence lines
      doc(i) + " beta.",
      doc(i) + " gamma.",
      doc(i) + " gamma.",        // duplicate -> dedupLines drops it
      "javascript required").mkString("\n") // c4 line filter drops it
    val m0 = (1 to 5).map(i => (i.toLong, page(i), "en"))
      .toDF("doc_id", "text", "lang")
    val m1 = Seq(
      (1L, page(1), "en"),           // unchanged
      (2L, page(20), "en"),          // rewrite
      (6L, page(1), "en"),           // exact copy of doc 1 -> index drop
      (7L, page(7), "en")).toDF("doc_id", "text", "lang")
    val c4cfg = cfg.copy(c4 = true, dedupLinesSep = Some("\n"))
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", c4cfg,
      "dc_fp", "dc_sig", buckets = 4)
    val tableIds = DeltaCurate.run(m0, m1, "doc_id", "text", "lang", c4cfg,
        "dc_fp", "dc_sig", buckets = 4)
      .survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    val (fpIdx, sigIdx) = DeltaCurate.indexFrames(
      m0, "doc_id", "text", "lang", c4cfg)
    val dryIds = DeltaCurate.deltaSurvivors(m0, m1,
        "doc_id", "text", "lang", c4cfg, Some(fpIdx), Some(sigIdx))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dryIds === tableIds)
    // the exact-copy doc must actually be exercising the rewritten-text
    // fingerprint path (doc 6 drops against doc 1's indexed fingerprint)
    assert(!dryIds.contains(6L))
    cleanTables()
  }

  test("compaction: month 3 behaves identically, index shrinks, dead versions are forgotten") {
    val tablesA = ("dcc_fp_a", "dcc_sig_a") // never compacted
    val tablesB = ("dcc_fp_b", "dcc_sig_b") // compacted after month 1
    for (tb <- Seq(tablesA, tablesB); t <- Seq(tb._1, tb._2))
      dropTable(t)

    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en"))
      .toDF("doc_id", "text", "lang")
    // month 1: doc 2 materially rewritten (v0 superseded), doc 6 removed
    val m1 = Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en"), (5L, doc(5), "en")).toDF("doc_id", "text", "lang")
    for ((fp, sig) <- Seq(tablesA, tablesB)) {
      DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
        fp, sig, buckets = 4)
      DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
        fp, sig, buckets = 4)
    }
    val fpBefore = spark.table(tablesA._1).count()
    val sigBefore = spark.table(tablesA._2).count()
    // compact branch B against the current corpus (= m1: every doc's
    // latest surviving version); doc 2 v0 and doc 6 rows must go
    val (fpAfter, sigAfter) = DeltaCurate.compact(m1, "doc_id", "text",
      tablesB._1, tablesB._2, buckets = 4)
    assert(fpAfter < fpBefore, s"fp index must shrink: $fpAfter vs $fpBefore")
    assert(sigAfter < sigBefore,
      s"sig index must shrink: $sigAfter vs $sigBefore")

    // month 2 exercises every suppression path against CURRENT content:
    // 10 fresh (survives), 11 near-dup of current doc 3 (suppressed),
    // 12 exact copy of current doc 2 v1 (suppressed)
    val m2 = m1.unionAll(Seq(
      (10L, doc(10), "en"),
      (11L, doc(3) + " tiny tail", "en"),
      (12L, doc(20), "en")).toDF("doc_id", "text", "lang"))
    val month2 = Seq(tablesA, tablesB).map { case (fp, sig) =>
      val r = DeltaCurate.run(m1, m2, "doc_id", "text", "lang", cfg,
        fp, sig, buckets = 4)
      (r.survivors.select("doc_id").collect().map(_.getLong(0)).toSet,
        (r.added, r.changed, r.removed, r.gated))
    }
    assert(month2.head._1 === Set(10L), s"uncompacted month-2: ${month2.head}")
    assert(month2(1) === month2.head, "month 2 must behave identically " +
      "(survivors and diff counts) with and without compaction")

    // month 3 re-adds doc 2's DEAD v0 text: the uncompacted index still
    // suppresses it, the compacted one has (by design) forgotten it
    val m3 = m2.unionAll(Seq((13L, doc(2), "en")).toDF("doc_id", "text", "lang"))
    val ids3 = Seq(tablesA, tablesB).map { case (fp, sig) =>
      DeltaCurate.run(m2, m3, "doc_id", "text", "lang", cfg,
        fp, sig, buckets = 4)
        .survivors.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(ids3.head === Set.empty[Long])
    assert(ids3(1) === Set(13L))
    for (tb <- Seq(tablesA, tablesB); t <- Seq(tb._1, tb._2))
      dropTable(t)
  }

  test("compactFrames keeps exactly the rows the persisted compact() " +
    "keeps (shared decision, catalog-free surface)") {
    for (t <- Seq("dcf_fp", "dcf_sig")) dropTable(t)
    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en"))
      .toDF("doc_id", "text", "lang")
    val m1 = Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en"), (5L, doc(5), "en")).toDF("doc_id", "text", "lang")
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dcf_fp", "dcf_sig", buckets = 4)
    DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
      "dcf_fp", "dcf_sig", buckets = 4)
    // the frame decision over narrow selects of the PRE-compaction tables
    val (fpKeep, sigKeep) = DeltaCurate.compactFrames(m1, "doc_id", "text",
      spark.table("dcf_fp"), spark.table("dcf_sig"))
    val fpFrame = fpKeep.collect().map(_.getString(0)).toSet
    val sigFrame = sigKeep.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
    // the persisted rewrite
    DeltaCurate.compact(m1, "doc_id", "text", "dcf_fp", "dcf_sig",
      buckets = 4)
    assert(spark.table("dcf_fp").collect().map(_.getString(0)).toSet
      === fpFrame)
    assert(spark.table("dcf_sig").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
      === sigFrame)
    for (t <- Seq("dcf_fp", "dcf_sig")) dropTable(t)
  }

  test("bootstrapFrames + compactFramesOverLive ≡ the three-pass form " +
    "(indexFrames / bootstrap dry-run / compactFrames), and the " +
    "statically-empty dry-run fast path ≡ the runtime-empty diff path") {
    // r16 optimization parity pins (guide §1.2): q_delta_compact's fused
    // single-pass bootstrap must be decision-identical to the old form.
    // doc 8 duplicates doc 1 so the keeper set is a strict subset.
    val m0 = ((1 to 6).map(i => (i.toLong, doc(i), "en")) :+
      (8L, doc(1), "en")).toDF("doc_id", "text", "lang")
    // OLD three-pass form
    val (fpIdx, sigIdx) = DeltaCurate.indexFrames(
      m0, "doc_id", "text", "lang", cfg)
    val corpus = DeltaCurate.deltaSurvivors(
        m0.limit(0), m0, "doc_id", "text", "lang", cfg)
      .filter(col("doc_id") =!= 2L)
    val (fpA, sigA) = DeltaCurate.compactFrames(
      corpus, "doc_id", "text", fpIdx, sigIdx)
    // NEW fused form
    val (fp2, sig2, keepers) = DeltaCurate.bootstrapFrames(
      m0, "doc_id", "text", "lang", cfg)
    val (fpB, sigB) = DeltaCurate.compactFramesOverLive(
      keepers.filter(col("doc_id") =!= 2L), "doc_id", fp2, sig2)
    def fpSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSet
    def sigSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2))).toSet
    assert(fpSet(fp2) === fpSet(fpIdx) && sigSet(sig2) === sigSet(sigIdx))
    assert(fpSet(fpB) === fpSet(fpA) && sigSet(sigB) === sigSet(sigA))
    // keeper frame = the bootstrap survivors' sketch rows (ids match; doc
    // 8's fingerprint collapses onto doc 1's keeper row)
    assert(keepers.select("doc_id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L, 4L, 5L, 6L))
    // fast-path parity: a statically-empty prev (LocalRelation) skips the
    // diff; a runtime-empty prev (filter(lit(false)) over a scan) cannot
    // be proven empty and still takes it — both must keep the same rows
    val fastIds = DeltaCurate.deltaSurvivors(m0.limit(0), m0,
      "doc_id", "text", "lang", cfg).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val slowIds = DeltaCurate.deltaSurvivors(m0.filter(lit(false)), m0,
      "doc_id", "text", "lang", cfg).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(fastIds === slowIds)
    assert(fastIds === Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("one increment runs exactly four actions (fusion gate)") {
    cleanTables()
    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    val m1 = Seq((1L, doc(1), "en"), (2L, doc(20), "en"), (3L, doc(3), "en"),
      (4L, doc(4), "en"), (5L, doc(5) + " tweak", "en"), (7L, doc(7), "en"))
      .toDF("doc_id", "text", "lang")
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actions.add(funcName + "::" + qe.logical.getClass.getSimpleName)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
        "dc_fp", "dc_sig", buckets = 4)
      // listener events are async: wait for the list to settle (1s with
      // no new events) before asserting
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = -1
      var lastChange = System.nanoTime()
      while (System.nanoTime() < deadline &&
          (actions.size != last ||
            System.nanoTime() - lastChange < 1000L * 1000 * 1000)) {
        if (actions.size != last) {
          last = actions.size; lastChange = System.nanoTime()
        }
        Thread.sleep(50)
      }
      import scala.jdk.CollectionConverters._
      val evs = actions.asScala.toList
      // The fusion contract, as listener events: the increment
      // materializes via exactly TWO checkpoints (base pass with the
      // observe metrics riding it; dedup-flag frame) and writes exactly
      // TWO bucketed appends (each saveAsTable reports at three command
      // nesting layers — count the top-level SaveAsV1TableCommand). The
      // diff/gated counts must cost NO standalone action: any
      // count/collect/head event is the round-5 seven-action shape
      // regressing.
      assert(evs.count(_.startsWith("localCheckpoint::")) === 2, evs)
      assert(evs.count(_.endsWith("::SaveAsV1TableCommand")) === 2, evs)
      val standalone = evs.filter(e => Seq("count", "collect", "head",
        "take", "foreach").exists(p => e.startsWith(p + "::")))
      assert(standalone.isEmpty,
        s"counts must ride the observe metrics, found: $standalone")
    } finally {
      spark.listenerManager.unregister(listener)
      cleanTables()
    }
  }

  test("each append adds at most one file per bucket; compaction leaves one") {
    // The r8 one-file-per-bucket invariant (the repartition-on-the-bucket-
    // expression before each bucketed write), pinned in CI across a
    // MULTI-append sequence — the shape SCALE_REHEARSAL.md's delta leg
    // audited at 10x. Regressing it re-opens the accumulating
    // small-files tax on every later index scan.
    def bucketFiles(table: String): Map[Int, Int] = {
      val loc = spark.sql(s"DESC FORMATTED $table")
        .filter(col("col_name") === "Location").head.getString(1)
      val rx = "_(\\d{5})\\.".r
      Option(new java.io.File(new java.net.URI(loc)).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet"))
        .flatMap(f => rx.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .groupBy(identity).view.mapValues(_.length).toMap
    }
    cleanTables()
    val snaps = Seq(
      (1 to 6).map(i => (i.toLong, doc(i), "en")),
      (1 to 12).map(i => (i.toLong, doc(i), "en")),
      (1 to 18).map(i => (i.toLong, doc(i), "en"))
    ).map(_.toDF("doc_id", "text", "lang"))
    var prev = snaps.head.limit(0)
    var before = Map.empty[String, Map[Int, Int]]
    snaps.foreach { snap =>
      DeltaCurate.run(prev, snap, "doc_id", "text", "lang", cfg,
        "dc_fp", "dc_sig", buckets = 4)
      Seq("dc_fp", "dc_sig").foreach { t =>
        val now = bucketFiles(t)
        now.foreach { case (b, n) =>
          val grew = n - before.getOrElse(t, Map.empty).getOrElse(b, 0)
          assert(grew <= 1, s"$t bucket $b grew by $grew files in one append")
        }
        before += t -> now
      }
      prev = snap
    }
    // 18 docs over 4 buckets after 3 appends: at least one bucket must
    // actually hold >1 file, or the ≤1-per-append assertion above was
    // vacuous (everything landed in files the regex didn't see)
    assert(bucketFiles("dc_fp").values.sum >= 3,
      "expected at least one file per append in the fp index")
    DeltaCurate.compact(snaps.last, "doc_id", "text",
      "dc_fp", "dc_sig", buckets = 4)
    Seq("dc_fp", "dc_sig").foreach { t =>
      val files = bucketFiles(t)
      assert(files.nonEmpty, s"$t file audit saw nothing after compaction")
      files.foreach { case (b, n) =>
        assert(n <= 1, s"$t bucket $b has $n files after compaction")
      }
    }
    cleanTables()
  }

  test("a no-change increment reports zero counts instead of crashing " +
      "(AQE empty-relation pruning must not eat the observe metrics)") {
    cleanTables()
    val m0 = (1 to 4).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    // identical snapshot: the delta semi-join's right side is EMPTY at
    // runtime, which AQE would fold to an empty relation — pruning the
    // CollectMetrics nodes and fulfilling the Observations with an empty
    // map (observed: NoSuchElementException on a no-change month)
    val r = DeltaCurate.run(m0, m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(r.added === 0L && r.changed === 0L && r.removed === 0L)
    assert(r.gated === 0L)
    assert(r.survivors.count() === 0L)
    // a removal-only month: delta still empty, removed must NOT be zero
    val m1 = m0.filter(col("doc_id") =!= 4L)
    val r2 = DeltaCurate.run(m0, m1, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(r2.added === 0L && r2.changed === 0L && r2.removed === 1L)
    assert(r2.survivors.count() === 0L)
    cleanTables()
  }

  test("run restores the session AQE excludedRules conf (single-writer " +
      "contract: foreign concurrent actions would plan under the exclusion)") {
    // `run` mutates session-global spark.sql.adaptive.optimizer.excludedRules
    // around the base-checkpoint action; the documented contract (run's
    // scaladoc) is single writer per session, with the conf restored on
    // every exit. Pin the restore for both the unset and pre-set cases.
    cleanTables()
    val key = "spark.sql.adaptive.optimizer.excludedRules"
    val m0 = (1 to 4).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    spark.conf.unset(key)
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(spark.conf.getOption(key).isEmpty,
      "unset before run must be unset after run")
    cleanTables()
    val preset = "org.apache.spark.sql.execution.adaptive.AQEOptimizeOneRowPlan"
    spark.conf.set(key, preset)
    try {
      DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
        "dc_fp", "dc_sig", buckets = 4)
      assert(spark.conf.get(key) === preset,
        "a caller's own exclusion list must survive run unchanged")
    } finally spark.conf.unset(key)
    cleanTables()
  }

  test("near-dup delta against the signature index drops tail-edited rewrites") {
    cleanTables()
    val base = (1 to 4).map(i => (i.toLong, doc(i), "en")).toDF("doc_id", "text", "lang")
    DeltaCurate.run(base.limit(0), base, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    // month 1 adds a tail-extended near-dup of doc 3 (not byte-identical,
    // so the exact index passes it; the signature index must not)
    val m1 = base.unionAll(
      Seq((40L, doc(3) + " tiny tail", "en")).toDF("doc_id", "text", "lang"))
    val r1 = DeltaCurate.run(base, m1, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(r1.added === 1L)
    assert(r1.survivors.count() === 0L)
    cleanTables()
  }

  test("a dotted column name passes through the exact keeper " +
      "(incrementalExact, bootstrapFrames, run)") {
    cleanTables()
    dropTable("dc_dot_fp")
    // docs 1 and 2 share a text: the keeper is doc 1, with ITS meta.src
    val m0 = Seq((1L, doc(1), "en", "a"), (2L, doc(1), "en", "b"),
        (3L, doc(3), "en", "c"))
      .toDF("doc_id", "text", "lang", "meta.src")
    def idSrc(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("`meta.src`")).as[(Long, String)]
        .collect().toSet
    val exact = graft.operators.Dedup.incrementalExact(m0, "text", "doc_id",
      "dc_dot_fp", buckets = 4)
    assert(exact.columns.toSeq === m0.columns.toSeq)
    assert(idSrc(exact) === Set((1L, "a"), (3L, "c")))
    val (fp, _, live) = DeltaCurate.bootstrapFrames(m0, "doc_id", "text",
      "lang", cfg)
    assert(fp.count() === 2L)
    assert(live.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
    val r0 = DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    assert(idSrc(r0.survivors) === Set((1L, "a"), (3L, "c")))
    dropTable("dc_dot_fp")
    cleanTables()
  }

  test("compact recovers from a crash between the swap renames (no index loss)") {
    cleanTables()
    val m0 = (1 to 6).map(i => (i.toLong, doc(i), "en"))
      .toDF("doc_id", "text", "lang")
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    val corpus = m0
    val (fp0, sig0) = DeltaCurate.compact(corpus, "doc_id", "text",
      "dc_fp", "dc_sig", buckets = 4)
    // simulate the worst crash window of a LATER compact: the live name
    // is gone, the only copies sit under __old (complete) and __compact
    // (possibly half-written — here stale garbage). Pre-fix, rerunning
    // compact dropped BOTH and then failed on the missing live table.
    spark.sql("ALTER TABLE dc_fp RENAME TO dc_fp__old")
    Seq((999L, "junk")).toDF("fp", "x").write
      .bucketBy(4, "fp").saveAsTable("dc_fp__compact")
    val (fp1, sig1) = DeltaCurate.compact(corpus, "doc_id", "text",
      "dc_fp", "dc_sig", buckets = 4)
    // the recovered rewrite reproduces the exact pre-crash result
    assert(fp1 === fp0 && sig1 === sig0)
    assert(spark.table("dc_fp").count() === fp0)
    assert(!spark.catalog.tableExists("dc_fp__old"))
    assert(!spark.catalog.tableExists("dc_fp__compact"))
    // and with NEITHER copy present the failure is actionable, not a drop
    spark.sql("DROP TABLE dc_fp")
    val e = intercept[IllegalArgumentException] {
      DeltaCurate.compact(corpus, "doc_id", "text", "dc_fp", "dc_sig",
        buckets = 4)
    }
    assert(e.getMessage.contains("recover"))
    dropTable("dc_fp__old"); dropTable("dc_fp__compact")
    cleanTables()
  }

  test("a reader racing compaction sees the old or the new index, never torn state") {
    cleanTables()
    val m0 = (1 to 12).map(i => (i.toLong, doc(i), "en"))
      .toDF("doc_id", "text", "lang")
    DeltaCurate.run(m0.limit(0), m0, "doc_id", "text", "lang", cfg,
      "dc_fp", "dc_sig", buckets = 4)
    def fpSet(): Set[String] = spark.table("dc_fp").select(col("fp"))
      .collect().map(_.get(0).toString).toSet
    val s0 = fpSet()
    // compaction keeps only half the corpus live, so post-compaction
    // content differs from s0 — the reader must observe one or the
    // other, never a mixture or a half-written __compact sibling
    val corpus = m0.filter(col("doc_id") <= 6)
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val transientMisses = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) {
        // a reader CAN transiently fail to resolve the live name between
        // the two swap renames (the scaladoc's guarantee is that a
        // recoverable copy always exists, not that the live name is
        // never briefly absent) — such reads are retried; the contract
        // pinned here is that every SUCCESSFUL read is s0 or s1
        try observed.add(fpSet())
        catch { case scala.util.control.NonFatal(_) =>
          transientMisses.incrementAndGet() }
      }
    })
    reader.setDaemon(true)
    reader.start()
    try {
      DeltaCurate.compact(corpus, "doc_id", "text", "dc_fp", "dc_sig",
        buckets = 4)
      // a second compaction over the same corpus is content-idempotent,
      // giving the racing reader another full swap window to catch
      DeltaCurate.compact(corpus, "doc_id", "text", "dc_fp", "dc_sig",
        buckets = 4)
    } finally {
      done = true
      reader.join(30000)
    }
    val s1 = fpSet()
    assert(s1 != s0 && s1.subsetOf(s0), "compaction must shrink the index")
    import scala.jdk.CollectionConverters._
    val reads = observed.asScala.toSeq
    assert(reads.nonEmpty, "reader never completed a read")
    val torn = reads.filterNot(s => s == s0 || s == s1)
    assert(torn.isEmpty,
      s"reader observed ${torn.size} torn states, e.g. " +
        s"${torn.headOption.map(_.take(3))} (valid: old=${s0.size} rows, " +
        s"new=${s1.size} rows; ${transientMisses.get()} transient misses)")
    cleanTables()
  }
}

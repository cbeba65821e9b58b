package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, IncrementalAnn, Similarity}

/** Incremental ANN index: the sequential-composition parity contract
  * (bootstrap + append + query ≡ batch annIvf under the bootstrap
  * centroids), the frozen-quantizer rule, the sidecar crash ordering, the
  * one-file-per-bucket append layout, and the one-sided query plan.
  */
class IncrementalAnnSpec extends SparkSpec {

  import spark.implicits._

  private def freshIndex(name: String): Unit = {
    dropTable(name)
    dropTable(IncrementalAnn.centroidsTableName(name))
    dropTable(IncrementalAnn.tombstonesTableName(name))
  }

  /** Deterministic non-degenerate 8-dim float vectors. */
  private def vecs(ids: Seq[Int]): DataFrame =
    ids.map { i =>
      (i.toLong,
        (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f))
    }.toDF("vec_id", "embedding")

  private val allIds = 0 until 40
  private def bootIds = allIds.filterNot(_ % 4 == 0)
  private def incrIds = allIds.filter(_ % 4 == 0)

  private def rows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.select(col("q_id"), col("n_id"), col("sim4"), col("rn"))
      .as[(Long, Long, Double, Long)].collect().toSet

  test("bootstrap + append + query equals batch annIvf under the " +
    "bootstrap centroids (sequential-composition parity)") {
    freshIndex("ia_par")
    val boot = vecs(bootIds)
    val incr = vecs(incrIds)
    val all = vecs(allIds)
    val c1 = IncrementalAnn.append(boot, "vec_id", "embedding", "ia_par",
      nCells = 4)
    val c2 = IncrementalAnn.append(incr, "vec_id", "embedding", "ia_par",
      nCells = 4)
    // nothing dropped, nothing written twice
    assert(spark.table("ia_par").count() === allIds.length.toLong)
    // the quantizer is FROZEN at bootstrap: the second append loads the
    // sidecar, never refits (a refit on the increment would silently
    // desynchronize the index's earlier assignments)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    val fittedBoot = Clustering.kmeansFit(boot, "vec_id", "embedding", 4, 2)
    assert(c1.map(_.toSeq).toSeq === fittedBoot.map(_.toSeq).toSeq,
      "bootstrap centroids must equal a plain kmeansFit on the bootstrap batch")
    val viaIndex = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_par", k = 3, nProbe = 2))
    val viaBatch = rows(Similarity.annIvf(all, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 2, fitted = Some(fittedBoot)))
    assert(viaIndex === viaBatch)
    assert(viaIndex.nonEmpty)
    // the fitted chaining shortcut (skip the sidecar read) is
    // path-equivalent to the sidecar-read path
    val viaFitted = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_par", k = 3, nProbe = 2, fitted = Some(c2)))
    assert(viaFitted === viaIndex)
  }

  test("a fitted-chained append assigns identically to a sidecar-read append") {
    freshIndex("ia_chain")
    freshIndex("ia_chain2")
    val boot = vecs(bootIds)
    val incr = vecs(incrIds)
    val cents = IncrementalAnn.append(boot, "vec_id", "embedding",
      "ia_chain", nCells = 4)
    IncrementalAnn.append(incr, "vec_id", "embedding", "ia_chain")
    IncrementalAnn.append(boot, "vec_id", "embedding", "ia_chain2",
      nCells = 4)
    IncrementalAnn.append(incr, "vec_id", "embedding", "ia_chain2",
      fitted = Some(cents))
    val a = spark.table("ia_chain").orderBy("id")
      .select("cell", "id").as[(Long, Long)].collect().toSeq
    val b = spark.table("ia_chain2").orderBy("id")
      .select("cell", "id").as[(Long, Long)].collect().toSeq
    assert(a === b)
  }

  test("sidecar crash ordering: index-without-sidecar fails actionably; " +
    "sidecar-without-index re-bootstraps under the SAME centroids") {
    freshIndex("ia_crash")
    val boot = vecs(bootIds)
    val cents = IncrementalAnn.append(boot, "vec_id", "embedding",
      "ia_crash", nCells = 4)
    // half-state A: quantizer lost — unrecoverable, must fail with the
    // rebuild instruction rather than silently refit on the increment
    dropTable(IncrementalAnn.centroidsTableName("ia_crash"))
    val ex = intercept[IllegalStateException] {
      IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding",
        "ia_crash", nCells = 4)
    }
    assert(ex.getMessage.contains("centroid sidecar"))
    // half-state B: sidecar survived, data table lost (the crash window
    // between the bootstrap's two writes) — the next append re-bootstraps
    // the DATA under the persisted centroids, no refit
    freshIndex("ia_crash2")
    val c0 = IncrementalAnn.append(boot, "vec_id", "embedding",
      "ia_crash2", nCells = 4)
    dropTable("ia_crash2")
    val c1 = IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding",
      "ia_crash2", nCells = 4)
    assert(c0.map(_.toSeq).toSeq === c1.map(_.toSeq).toSeq)
    // index now holds ONLY the re-bootstrapped batch
    assert(spark.table("ia_crash2").count() === incrIds.length.toLong)
    assert(cents.map(_.toSeq).toSeq === c0.map(_.toSeq).toSeq)
  }

  test("query contracts: missing sidecar, nProbe bound, excludeSelf") {
    freshIndex("ia_q")
    intercept[IllegalStateException] {
      IncrementalAnn.query(vecs(allIds), "vec_id", "embedding", "ia_q",
        k = 1)
    }
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_q",
      nCells = 4)
    intercept[IllegalArgumentException] {
      IncrementalAnn.query(vecs(allIds), "vec_id", "embedding", "ia_q",
        k = 1, nProbe = 5)
    }
    // a corpus member querying with excludeSelf = false elects ITSELF at
    // rank 1 with sim4 = 1.0 (the self-cosine)
    val self = IncrementalAnn.query(vecs(Seq(bootIds.head)), "vec_id",
      "embedding", "ia_q", k = 1, excludeSelf = false)
      .as[(Long, Long, Double, Long)].collect()
    assert(self.toSeq === Seq(
      (bootIds.head.toLong, bootIds.head.toLong, 1.0, 1L)))
  }

  test("each append adds at most one file per bucket (inverted-list layout)") {
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
    freshIndex("ia_files")
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_files",
      nCells = 4)
    val after1 = bucketFiles("ia_files")
    after1.foreach { case (b, n) =>
      assert(n <= 1, s"bucket $b has $n files after bootstrap")
    }
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_files",
      nCells = 4)
    bucketFiles("ia_files").foreach { case (b, n) =>
      val grew = n - after1.getOrElse(b, 0)
      assert(grew <= 1, s"bucket $b grew by $grew files in one append")
    }
    assert(bucketFiles("ia_files").values.sum >= 2,
      "expected the appends to land visible bucket files")
  }

  test("rebuild retrains the quantizer: result equals batch annIvf " +
    "under the NEW full-corpus fit; sidecar and row count follow") {
    freshIndex("ia_rb")
    Seq("ia_rb__rebuild", "ia_rb__old", "ia_rb_centroids__rebuild",
      "ia_rb_centroids__old").foreach(dropTable)
    val all = vecs(allIds)
    val old = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_rb", nCells = 4)
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_rb")
    val newCents = IncrementalAnn.rebuild(all, "vec_id", "embedding",
      "ia_rb", nCells = 4)
    val refFit = Clustering.kmeansFit(all, "vec_id", "embedding", 4, 2)
    assert(newCents.map(_.toSeq).toSeq === refFit.map(_.toSeq).toSeq)
    assert(newCents.map(_.toSeq).toSeq !== old.map(_.toSeq).toSeq,
      "fixture too symmetric: the full-corpus fit should differ from the " +
        "bootstrap-slice fit")
    assert(spark.table("ia_rb").count() === allIds.length.toLong)
    // the sidecar now carries the new generation
    val sidecar = spark.table(
        IncrementalAnn.centroidsTableName("ia_rb"))
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).toSeq).toSeq
    assert(sidecar === newCents.map(_.toSeq).toSeq)
    val viaIndex = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_rb", k = 3, nProbe = 2))
    val viaBatch = rows(Similarity.annIvf(all, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 2, fitted = Some(newCents)))
    assert(viaIndex === viaBatch)
    // no swap debris
    Seq("ia_rb__rebuild", "ia_rb__old", "ia_rb_centroids__rebuild",
      "ia_rb_centroids__old").foreach(t =>
      assert(!spark.catalog.tableExists(t), s"$t left behind"))
  }

  test("recover: pre-commit crash rolls BACK; post-commit crash rolls " +
    "the sidecar swap FORWARD; idempotent on a healthy index") {
    import spark.implicits._
    freshIndex("ia_rc")
    Seq("ia_rc__rebuild", "ia_rc__old", "ia_rc_centroids__rebuild",
      "ia_rc_centroids__old").foreach(dropTable)
    val boot = vecs(bootIds)
    val all = vecs(allIds)
    IncrementalAnn.append(boot, "vec_id", "embedding", "ia_rc", nCells = 4)
    val before = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_rc", k = 3))
    // window A — crash before the commit point (both __rebuild siblings
    // written, live pair untouched): recover drops the siblings, the
    // live generation is unchanged
    spark.table("ia_rc").write.saveAsTable("ia_rc__rebuild")
    spark.table("ia_rc_centroids").write
      .saveAsTable("ia_rc_centroids__rebuild")
    IncrementalAnn.recover(spark, "ia_rc")
    assert(!spark.catalog.tableExists("ia_rc__rebuild"))
    assert(!spark.catalog.tableExists("ia_rc_centroids__rebuild"))
    assert(rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_rc", k = 3)) === before)
    // window B — crash BETWEEN the index swap's two renames (live name
    // missing, __old holding the only live copy, siblings present):
    // still pre-commit, recover restores __old and drops the siblings
    spark.table("ia_rc").write.saveAsTable("ia_rc__rebuild")
    spark.table("ia_rc_centroids").write
      .saveAsTable("ia_rc_centroids__rebuild")
    spark.sql("ALTER TABLE ia_rc RENAME TO ia_rc__old")
    IncrementalAnn.recover(spark, "ia_rc")
    assert(spark.catalog.tableExists("ia_rc"))
    assert(!spark.catalog.tableExists("ia_rc__old"))
    assert(!spark.catalog.tableExists("ia_rc__rebuild"))
    assert(rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_rc", k = 3)) === before)
    // window C — crash AFTER the commit point (index sibling consumed,
    // sidecar sibling still waiting): recover completes the sidecar swap
    val newCents = Clustering.kmeansFit(all, "vec_id", "embedding", 4, 2)
    dropTable("ia_rc_centroids__rebuild")
    newCents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid").write
      .saveAsTable("ia_rc_centroids__rebuild")
    IncrementalAnn.recover(spark, "ia_rc")
    assert(!spark.catalog.tableExists("ia_rc_centroids__rebuild"))
    assert(!spark.catalog.tableExists("ia_rc_centroids__old"))
    val sidecar = spark.table("ia_rc_centroids").orderBy("cell")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(sidecar === newCents.map(_.toSeq).toSeq,
      "the forward-rolled sidecar must carry the rebuild generation")
    // idempotent on the now-healthy index
    IncrementalAnn.recover(spark, "ia_rc")
    assert(spark.catalog.tableExists("ia_rc") &&
      spark.catalog.tableExists("ia_rc_centroids"))
  }

  test("crashed-rebuild residue: a writer self-heals at append; a reader " +
    "fails actionably instead of pairing new index with old sidecar") {
    import spark.implicits._
    freshIndex("ia_heal")
    Seq("ia_heal__rebuild", "ia_heal__old", "ia_heal_centroids__rebuild",
      "ia_heal_centroids__old").foreach(dropTable)
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_heal",
      nCells = 4)
    // manufacture the post-commit crash window: the sidecar's __rebuild
    // sibling is waiting, the live pair is inconsistent
    val newCents = Clustering.kmeansFit(vecs(allIds), "vec_id",
      "embedding", 4, 2)
    newCents.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("cell", "centroid").write
      .saveAsTable("ia_heal_centroids__rebuild")
    val ex = intercept[IllegalStateException] {
      IncrementalAnn.query(vecs(allIds), "vec_id", "embedding", "ia_heal",
        k = 1)
    }
    assert(ex.getMessage.contains("crashed mid-swap"))
    // the writer heals: recover-at-start forward-rolls the sidecar, the
    // batch then assigns under the NEW quantizer read from it
    val cents = IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding",
      "ia_heal")
    assert(cents.map(_.toSeq).toSeq === newCents.map(_.toSeq).toSeq)
    assert(!spark.catalog.tableExists("ia_heal_centroids__rebuild"))
    // and the reader works again
    assert(IncrementalAnn.query(vecs(allIds), "vec_id", "embedding",
      "ia_heal", k = 1).count() > 0L)
  }

  test("quantizerDrift: table and frames surfaces agree; an off-" +
    "distribution batch scores a larger PSI than an in-distribution one") {
    import spark.implicits._
    freshIndex("ia_drift")
    val boot = vecs(bootIds)
    val cents = IncrementalAnn.append(boot, "vec_id", "embedding",
      "ia_drift", nCells = 4)
    val inDist = vecs(incrIds)
    def drift(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "n_index", "n_batch", "psi6")
        .as[(Long, Long, Long, Double)].collect().toSet
    val viaTable = drift(IncrementalAnn.quantizerDrift(
      inDist, "vec_id", "embedding", "ia_drift"))
    val viaFrames = drift(IncrementalAnn.cellDrift(
      IncrementalAnn.assign(boot, "vec_id", "embedding", cents)
        .select(col("cell")),
      inDist, "vec_id", "embedding", cents))
    assert(viaTable === viaFrames,
      "the persisted index IS the assignment — both surfaces must agree")
    val psiIn = viaTable.toSeq.map(_._4).sum
    // a constant-direction batch collapses into one cell: the staleness
    // signal the report exists to raise
    val shifted = (1000 until 1040).map(i =>
      (i.toLong, (0 until 8).map(d => (d + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val psiShift = drift(IncrementalAnn.quantizerDrift(
      shifted, "vec_id", "embedding", "ia_drift")).toSeq.map(_._4).sum
    assert(psiShift > psiIn + 0.1,
      f"shifted-batch PSI $psiShift%.4f should exceed in-distribution " +
        f"PSI $psiIn%.4f decisively")
  }

  test("streaming ingest: micro-batches append under the frozen quantizer; " +
    "a re-delivered batchId is skipped via the commit log (at-least-once " +
    "rows — the crash window duplicates, never drops)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingAnnIngest
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    freshIndex("ia_stream")
    dropTable(StreamingAnnIngest.ingestLogTableName("ia_stream"))
    // an unbootstrapped index fails at START, not first batch
    val memEarly = MemoryStream[(Long, Seq[Float])]
    intercept[IllegalStateException] {
      StreamingAnnIngest.start(
        memEarly.toDF().toDF("vec_id", "embedding"),
        "vec_id", "embedding", "ia_stream",
        java.nio.file.Files.createTempDirectory("ia-stream").toString)
    }
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_stream", nCells = 4)
    val mem = MemoryStream[(Long, Seq[Float])]
    def tup(ids: Seq[Int]) = vecs(ids).as[(Long, Seq[Float])].collect()
    val q = StreamingAnnIngest.start(
      mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", "ia_stream",
      java.nio.file.Files.createTempDirectory("ia-stream").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      mem.addData(tup(incrIds.take(5)).toIndexedSeq)
      q.processAllAvailable()
      mem.addData(tup(incrIds.drop(5)).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ia_stream")
      .select("cell", "id").as[(Long, Long)].collect().toSet
    // reference: plain batch appends of the same slices
    freshIndex("ia_stream_ref")
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_stream_ref", nCells = 4)
    IncrementalAnn.append(vecs(incrIds.take(5)), "vec_id", "embedding",
      "ia_stream_ref", fitted = Some(cents))
    IncrementalAnn.append(vecs(incrIds.drop(5)), "vec_id", "embedding",
      "ia_stream_ref", fitted = Some(cents))
    val ref = spark.table("ia_stream_ref")
      .select("cell", "id").as[(Long, Long)].collect().toSet
    assert(streamed === ref)
    // foreachBatch retry: the SAME batchId must not double-append
    val nBefore = spark.table("ia_stream").count()
    StreamingAnnIngest.ingestBatch(vecs(incrIds.take(5)), 0L,
      "vec_id", "embedding", "ia_stream", cents)
    assert(spark.table("ia_stream").count() === nBefore,
      "a re-delivered batchId re-appended — the commit log must skip it")
    // a NEW batchId appends normally
    StreamingAnnIngest.ingestBatch(vecs(Seq(999)), 99L,
      "vec_id", "embedding", "ia_stream", cents)
    assert(spark.table("ia_stream").count() === nBefore + 1)
  }

  test("probe-size gate (verdict r13): a probe set past the broadcast " +
    "threshold joins cell-keyed — the index STILL never shuffles, the " +
    "large side never broadcasts, and results match the broadcast " +
    "regime exactly") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
    freshIndex("ia_gate")
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_gate",
      nCells = 4)
    val all = vecs(allIds)
    val viaBroadcast = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_gate", k = 3))
    // force the shuffle regime (threshold 0 — the miniature fixture's
    // stats would otherwise stay under any realistic byte threshold) and
    // disable AUTO-broadcast so the planner can't re-broadcast the tiny
    // probe side on its own: in production the regime only engages when
    // the probe stats genuinely exceed the threshold, which also exceeds
    // autoBroadcastJoinThreshold. The explicit okCells hint still
    // applies — hints override the conf — exactly as at scale.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = IncrementalAnn.query(all, "vec_id", "embedding", "ia_gate",
        k = 3, probeBroadcastBytes = 0L)
      val plan = df.queryExecution.executedPlan
      def isIndexScan(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec =>
          f.tableIdentifier.exists(_.table.equalsIgnoreCase("ia_gate"))
        case _ => false
      }
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty, s"expected a cell-keyed probe shuffle:\n$plan")
      // "the index never shuffles" = no exchange sits between the index
      // scan and the join. The walk STOPS at aggregate boundaries: rows
      // past a partial agg are bounded topk buffers, not index rows — the
      // q_id exchange above partial graft_topk is the contract's O(q × k)
      // exchange, not an index movement.
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      def belowNoAgg(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BaseAggregateExec => Seq.empty
        case other => other +: other.children.flatMap(belowNoAgg)
      }
      shuffles.foreach { e =>
        assert(e.children.flatMap(belowNoAgg)
            .collect { case p if isIndexScan(p) => p }.isEmpty,
          s"the bucketed index scan moved through an exchange:\n$plan")
      }
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, s"expected the okCells broadcast:\n$plan")
      bcasts.foreach { b =>
        assert(b.collect { case g: GenerateExec => g }.isEmpty,
          s"the probe (large) side was broadcast:\n$plan")
      }
      // regime parity: the join strategy cannot change the neighbors
      assert(rows(df) === viaBroadcast)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("maintenancePolicy: a cap trip and a drifted batch each demand a " +
    "rebuild with the pow2 recommendation; a healthy index is left alone") {
    import spark.implicits._
    freshIndex("ia_pol")
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_pol", nCells = 4)
    val boot = vecs(bootIds)
    val bootCells = IncrementalAnn.assign(boot, "vec_id", "embedding", cents)
      .select(col("cell"))
    def pol(d: org.apache.spark.sql.DataFrame, cap: Long) =
      IncrementalAnn.maintenancePolicy(d, nCells = 4, maxCellSize = cap)
        .collect().head
    // healthy: the index against its own rows — per-cell counts equal,
    // so every PSI contribution is exactly 0 and no list is near the cap
    val selfDrift = IncrementalAnn.cellDrift(bootCells, boot,
      "vec_id", "embedding", cents)
    val healthy = pol(selfDrift, 10000L)
    assert(healthy.getAs[Long]("psi_micro") === 0L)
    assert(healthy.getAs[Long]("rebuild") === 0L)
    assert(healthy.getAs[Long]("recommended_cells") === 4L)
    // cap trip: 30 bootstrap rows over 4 cells pigeonhole a list ≥ 8 > 7;
    // target = 7/2 = 3, total = 30+30 rows → needed = ceil(60/3) = 20 →
    // smallest pow2 ≥ max(20, 4) = 32
    val tripped = pol(selfDrift, 7L)
    assert(tripped.getAs[Long]("over_cap") === 1L)
    assert(tripped.getAs[Long]("rebuild") === 1L)
    assert(tripped.getAs[Long]("recommended_cells") === 32L)
    // drift trip: a constant-direction batch collapses into one cell —
    // the PSI signal alone demands the rebuild; the tiny corpus would
    // need 1 cell, but the recommendation never shrinks below current
    val shifted = (1000 until 1040).map(i =>
      (i.toLong, (0 until 8).map(d => (d + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val driftShift = IncrementalAnn.cellDrift(bootCells, shifted,
      "vec_id", "embedding", cents)
    val drifted = pol(driftShift, 10000L)
    assert(drifted.getAs[Long]("over_cap") === 0L)
    assert(drifted.getAs[Long]("drifted") === 1L)
    assert(drifted.getAs[Long]("rebuild") === 1L)
    assert(drifted.getAs[Long]("recommended_cells") === 4L)
    // saturation (review finding r14): when even the largest allowed
    // power of two cannot reach the target list size, recommend the
    // writers' limit itself — never a cell count rebuild() would
    // reject, never NULL. cap 3 → target 1 → needed 60 → pow2 64 > 16
    val sat = IncrementalAnn.maintenancePolicy(selfDrift, nCells = 4,
      maxCellSize = 3L, maxRecommendedCells = 16).collect().head
    assert(sat.getAs[Long]("rebuild") === 1L)
    assert(sat.getAs[Long]("recommended_cells") === 16L)
  }

  test("rebuildFromIndex reconciles crash-window duplicates exactly; " +
    "queries are duplicate-immune even BEFORE the rebuild") {
    freshIndex("ia_dup")
    freshIndex("ia_dup_ref")
    Seq("ia_dup__rebuild", "ia_dup__old", "ia_dup_centroids__rebuild",
      "ia_dup_centroids__old").foreach(dropTable)
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_dup", nCells = 4)
    // the streaming append-before-log crash window: the same micro-batch
    // lands twice
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_dup",
      fitted = Some(cents))
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_dup",
      fitted = Some(cents))
    assert(spark.table("ia_dup").count() ===
      (bootIds.length + 2 * incrIds.length).toLong)
    // duplicate-immunity (ADVICE r13): graft_topk holds one entry per
    // distinct id, so the duplicated batch cannot displace real
    // neighbors — results equal a clean index's
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_dup_ref", nCells = 4)
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding",
      "ia_dup_ref", fitted = Some(cents))
    val all = vecs(allIds)
    assert(rows(IncrementalAnn.query(all, "vec_id", "embedding", "ia_dup",
      k = 3)) ===
      rows(IncrementalAnn.query(all, "vec_id", "embedding", "ia_dup_ref",
        k = 3)))
    // the rebuild — which rewrites every row anyway — drops the
    // duplicates exactly and refits on the DEDUPED corpus
    val c2 = IncrementalAnn.rebuildFromIndex(spark, "ia_dup", nCells = 4)
    assert(spark.table("ia_dup").count() === allIds.length.toLong)
    assert(spark.table("ia_dup").select("id").distinct().count() ===
      allIds.length.toLong)
    val refFit = Clustering.kmeansFit(all, "vec_id", "embedding", 4, 2)
    assert(c2.map(_.toSeq).toSeq === refFit.map(_.toSeq).toSeq,
      "the refit must see each id once — duplicates would shift the fit")
    // self-heal (review finding r14): the reconciliation op must recover
    // a crashed swap itself — here the worst window (live name missing,
    // __old holding the only copy, __rebuild residue present) — not die
    // on TABLE_NOT_FOUND during its eager corpus read
    spark.table("ia_dup").write.saveAsTable("ia_dup__rebuild")
    spark.table("ia_dup_centroids").write
      .saveAsTable("ia_dup_centroids__rebuild")
    spark.sql("ALTER TABLE ia_dup RENAME TO ia_dup__old")
    val c3 = IncrementalAnn.rebuildFromIndex(spark, "ia_dup", nCells = 4)
    assert(c3.map(_.toSeq).toSeq === refFit.map(_.toSeq).toSeq)
    assert(spark.table("ia_dup").count() === allIds.length.toLong)
  }

  test("cell-cap gate counts DISTINCT ids (ADVICE r14): crash-window " +
    "duplicates cannot push a near-cap cell over the gate and silently " +
    "exclude its neighbors") {
    freshIndex("ia_cap")
    freshIndex("ia_cap_ref")
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_cap", nCells = 4)
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_cap",
      fitted = Some(cents))
    // the streaming append-before-log crash window: the batch lands twice
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_cap",
      fitted = Some(cents))
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_cap_ref", nCells = 4)
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding",
      "ia_cap_ref", fitted = Some(cents))
    // cap = the duplicated index's largest DISTINCT list: every cell
    // passes a distinct-count gate on both indexes, while the duplicated
    // index's RAW row count exceeds the cap for every cell holding a
    // duplicated member — a raw-count gate would exclude those cells
    val perCell = spark.table("ia_cap")
      .groupBy(col("cell"))
      .agg(countDistinct(col("id")).as("d"), count(lit(1)).as("r"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cap = perCell.map(_._2).max
    assert(perCell.exists { case (_, d, r) => d <= cap && r > cap },
      s"fixture vacuous: no cell's raw count exceeds the distinct cap " +
        s"($perCell)")
    val all = vecs(allIds)
    val dup = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_cap", k = 3, maxCellSize = cap.toInt))
    val ref = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_cap_ref", k = 3, maxCellSize = cap.toInt))
    assert(dup === ref)
    assert(dup.nonEmpty)
    // non-vacuity of the equality: the ref results actually USE a cell a
    // raw-count gate would have dropped (its exclusion would be visible)
    val overRawCells = perCell.collect { case (c, _, r) if r > cap => c }
      .toSet
    val cellOf = spark.table("ia_cap_ref").select(col("id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ref.exists(p => overRawCells.contains(cellOf(p._2))),
      "no elected neighbor lives in an over-raw cell — the gate " +
        "difference would be invisible")
  }

  test("streaming ingest surfaces the maintenance decision on the policy " +
    "cadence (verdict r14 #6): an in-distribution batch reads quiet, a " +
    "drifted batch trips rebuild=1, off-cadence/re-delivered/empty " +
    "batches stay silent; e2e through a drifted MemoryStream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingAnnIngest
    val sq = spark
    import sq.implicits._
    implicit val ctx = sq.sqlContext
    freshIndex("ia_cad")
    dropTable(StreamingAnnIngest.ingestLogTableName("ia_cad"))
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_cad", nCells = 4)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]()
    def ing(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      StreamingAnnIngest.ingestBatch(df, id, "vec_id", "embedding",
        "ia_cad", cents, policyEvery = 2, onPolicy = r => { seen.add(r); () })
    // cadence hit, self-distributed batch: decision surfaces and is quiet
    // (batch = the index's own bootstrap rows -> per-cell counts equal ->
    // PSI exactly 0; lists far under the 10000 default cap)
    ing(vecs(bootIds), 0L)
    assert(seen.size === 1)
    assert(seen.peek.getAs[Long]("rebuild") === 0L)
    assert(seen.peek.getAs[Long]("psi_micro") === 0L)
    // off-cadence batch: appended, no decision
    ing(vecs(Seq(500)), 1L)
    assert(seen.size === 1)
    // cadence hit, drifted batch (constant direction collapses into one
    // cell): the PSI signal trips the rebuild demand — surfaced, NOT
    // acted on (rebuild stays offline/single-writer by contract)
    val shifted = (1000 until 1040).map(i =>
      (i.toLong, (0 until 8).map(d => (d + 1).toFloat)))
      .toDF("vec_id", "embedding")
    ing(shifted, 2L)
    assert(seen.size === 2)
    val last = seen.toArray(Array.empty[org.apache.spark.sql.Row]).last
    assert(last.getAs[Long]("drifted") === 1L)
    assert(last.getAs[Long]("rebuild") === 1L)
    // a re-delivered batchId is skipped by the commit log BEFORE the
    // cadence check — a foreachBatch retry cannot double-fire the signal
    ing(shifted, 2L)
    assert(seen.size === 2)
    // an empty cadence batch is skipped (its all-zero histogram would
    // read as pure drift)
    ing(vecs(Seq.empty), 4L)
    assert(seen.size === 2)
    // e2e: the same signal through a real stream — policyEvery = 1 so the
    // drifted micro-batch trips the sink from inside foreachBatch. A
    // FRESH index: ia_cad's commit log already holds batch id 0 from the
    // unit calls above, and a new stream's ids restart at 0 (the skip
    // would silently no-op the whole leg).
    freshIndex("ia_cad2")
    dropTable(StreamingAnnIngest.ingestLogTableName("ia_cad2"))
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_cad2",
      nCells = 4)
    val e2e = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.Row]()
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = StreamingAnnIngest.start(
      mem.toDF().toDF("vec_id", "embedding"),
      "vec_id", "embedding", "ia_cad2",
      java.nio.file.Files.createTempDirectory("ia-cad").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
      policyEvery = 1,
      onPolicy = Some(r => { e2e.add(r); () }))
    try {
      mem.addData(shifted.as[(Long, Seq[Float])].collect().toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    assert(!e2e.isEmpty, "the stream never surfaced a policy decision")
    assert(e2e.peek.getAs[Long]("rebuild") === 1L,
      s"drifted stream batch read ${e2e.peek} — expected a rebuild demand")
  }

  test("query plan is one-sided: the bucketed index never shuffles " +
    "(broadcast probes, bounded top-k exchange only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    freshIndex("ia_plan")
    IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding", "ia_plan",
      nCells = 4)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = IncrementalAnn.query(vecs(allIds), "vec_id", "embedding",
        "ia_plan", k = 3).queryExecution.executedPlan
      val p = plan.toString
      assert(!p.contains("SortMergeJoin"), p)
      // allowed exchanges: the probe side's round-robin spread and the
      // graft_topk aggregation on q_id (O(queries × k) after partial
      // agg). Anything hash-partitioned on the index's columns means the
      // inverted lists moved — the regression this gate exists to catch.
      val hashEx = plan.collect { case e: ShuffleExchangeExec => e }
        .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
      assert(hashEx.forall(_.outputPartitioning.toString.contains("q_id")),
        p)
      assert(hashEx.size <= 1, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("deleteIds + compact: tombstone query ≡ compacted query ≡ the " +
    "index built from survivors; re-delete and absent ids are no-ops; " +
    "compact dedups at-least-once duplicates, clears the sidecar, and " +
    "is idempotent") {
    Seq("ia_del", "ia_del_ref").foreach(freshIndex)
    val all = vecs(allIds)
    val surv = (i: Int) => i % 10 != 3
    val cents = IncrementalAnn.append(vecs(bootIds), "vec_id", "embedding",
      "ia_del", nCells = 4)
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_del",
      fitted = Some(cents))
    // reference: the survivors appended under the SAME quantizer
    IncrementalAnn.append(vecs(bootIds.filter(surv)), "vec_id", "embedding",
      "ia_del_ref", fitted = Some(cents))
    IncrementalAnn.append(vecs(incrIds.filter(surv)), "vec_id", "embedding",
      "ia_del_ref", fitted = Some(cents))
    // delete 3/13/23/33 plus an id the index never held (declarative:
    // deleting the absent is a no-op, not an error)
    IncrementalAnn.deleteIds(Seq(3L, 13L, 23L, 33L, 999L).toDF("vec_id"),
      "vec_id", "ia_del")
    def q(t: String) = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      t, k = 3, fitted = Some(cents)))
    val viaRef = q("ia_del_ref")
    assert(q("ia_del") === viaRef,
      "tombstone-filtered query must equal the survivor-built index's")
    // re-delete: idempotent (anti-join semantics)
    IncrementalAnn.deleteIds(Seq(3L, 13L).toDF("vec_id"), "vec_id", "ia_del")
    assert(q("ia_del") === viaRef)
    // an at-least-once crash window duplicates a batch; compact must GC
    // tombstoned rows AND collapse the duplicates in one rewrite
    IncrementalAnn.append(vecs(incrIds), "vec_id", "embedding", "ia_del",
      fitted = Some(cents))
    val n = IncrementalAnn.compact(spark, "ia_del")
    assert(n === allIds.count(surv).toLong)
    assert(!spark.catalog.tableExists(
      IncrementalAnn.tombstonesTableName("ia_del")),
      "compact must clear the tombstone sidecar")
    def content(t: String): Set[(Long, Long)] =
      spark.table(t).select(col("cell"), col("id"))
        .as[(Long, Long)].collect().toSet
    assert(content("ia_del") === content("ia_del_ref"),
      "compacted (cell, id) content must equal the survivor build's")
    assert(q("ia_del") === viaRef, "compaction changed query results")
    // idempotent: a second compact rewrites the same survivors
    assert(IncrementalAnn.compact(spark, "ia_del") === n)
    assert(q("ia_del") === viaRef)
    // tombstone set past the broadcast gate fails closed at query time
    // with the repair instruction
    IncrementalAnn.deleteIds(Seq(1L, 2L).toDF("vec_id"), "vec_id", "ia_del")
    val err = intercept[IllegalArgumentException] {
      IncrementalAnn.query(all, "vec_id", "embedding", "ia_del", k = 3,
        fitted = Some(cents), maxTombstones = 1L)
    }
    assert(err.getMessage.contains("compact()"))
    // deleting from a nonexistent index is an actionable error
    val err2 = intercept[IllegalStateException] {
      IncrementalAnn.deleteIds(Seq(1L).toDF("vec_id"), "vec_id",
        "ia_del_absent")
    }
    assert(err2.getMessage.contains("nothing to delete"))
    Seq("ia_del", "ia_del_ref").foreach(freshIndex)
  }

  test("the cap gate counts SURVIVORS: a cell over the cap only because " +
    "of tombstoned rows probes again after the delete") {
    Seq("ia_cap", "ia_cap_ref").foreach(freshIndex)
    val all = vecs(allIds)
    val cents = IncrementalAnn.append(all, "vec_id", "embedding", "ia_cap",
      nCells = 4)
    // the fattest cell and one of its members
    val (bigCell, bigN) = spark.table("ia_cap").groupBy(col("cell"))
      .agg(countDistinct(col("id")).as("n"))
      .orderBy(col("n").desc, col("cell")).as[(Long, Long)].head()
    val victim = spark.table("ia_cap").filter(col("cell") === bigCell)
      .agg(max(col("id"))).head().getLong(0)
    val cap = (bigN - 1).toInt
    // pre-delete: the fat cell is over the cap and excluded entirely
    val before = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_cap", k = 3, maxCellSize = cap, fitted = Some(cents)))
    IncrementalAnn.deleteIds(Seq(victim).toDF("vec_id"), "vec_id", "ia_cap")
    val after = rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_cap", k = 3, maxCellSize = cap, fitted = Some(cents)))
    // parity: the reference index holds the survivors, same cap
    IncrementalAnn.append(all.filter(col("vec_id") =!= victim), "vec_id",
      "embedding", "ia_cap_ref", fitted = Some(cents))
    assert(after === rows(IncrementalAnn.query(all, "vec_id", "embedding",
      "ia_cap_ref", k = 3, maxCellSize = cap, fitted = Some(cents))),
      "post-delete gate decisions must match the survivor index's")
    assert(after !== before,
      "fixture vacuous: the delete was supposed to bring the fat cell " +
        "back under the cap and change results")
    Seq("ia_cap", "ia_cap_ref").foreach(freshIndex)
  }

  test("rebuild and rebuildFromIndex honor pending tombstones and clear " +
    "the sidecar (no resurrection through the index's own rows)") {
    freshIndex("ia_rbt")
    IncrementalAnn.append(vecs(allIds), "vec_id", "embedding", "ia_rbt",
      nCells = 4)
    IncrementalAnn.deleteIds(Seq(3L, 13L).toDF("vec_id"), "vec_id",
      "ia_rbt")
    IncrementalAnn.rebuildFromIndex(spark, "ia_rbt", nCells = 4)
    val ids = spark.table("ia_rbt").select(col("id"))
      .as[Long].collect().toSet
    assert(!ids.contains(3L) && !ids.contains(13L),
      "tombstoned ids survived a rebuildFromIndex")
    assert(ids === allIds.map(_.toLong).toSet -- Set(3L, 13L))
    assert(!spark.catalog.tableExists(
      IncrementalAnn.tombstonesTableName("ia_rbt")),
      "rebuild must consume the tombstones")
    freshIndex("ia_rbt")
  }
}

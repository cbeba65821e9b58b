package graft

import org.apache.spark.sql.functions._

import graft.operators.{Clustering, IvfPq, Pq, Similarity}

/** IVF+PQ compound: residual-kernel parity with the expression form,
  * index/encode single-definition parity, residual centering, ADC recall
  * above chance with determinism, the query-side size gate, and the
  * one-sided plan shape (probe side broadcasts, code-table side never
  * hash-shuffles).
  */
class IvfPqSpec extends SparkSpec {

  private lazy val e =
    graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  private lazy val coarse =
    Clustering.kmeansFit(e, "vec_id", "embedding", k = 8, iters = 2)

  private lazy val cents =
    IvfPq.fit(e, "vec_id", "embedding", coarse, m = 4, k = 8, iters = 2)

  test("graft_residual kernel equals the zip_with expression form and " +
    "fails fast on a cell outside the table") {
    graft.plans.GraftFunctions.register(spark)
    val centStr = coarse.map(_.mkString(",")).mkString(";")
    val coarseLit = typedLit(coarse.map(_.toSeq).toSeq)
    val base = e.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cell",
        element_at(call_function("graft_ivf_cells", col("v"), lit(centStr)),
          1).getField("c"))
    val mism = base
      .withColumn("k",
        call_function("graft_residual", col("v"), lit(centStr), col("cell")))
      .withColumn("x", zip_with(col("v"),
        element_at(coarseLit, col("cell").cast("int") + 1), (a, b) => a - b))
      // bit-exact, not approximate: both forms are plain double subtraction
      .filter(not(col("k") === col("x")))
      .count()
    assert(mism === 0L)
    val err = intercept[Exception] {
      base.withColumn("bad",
        call_function("graft_residual", col("v"), lit(centStr), lit(99L)))
        .collect()
    }
    assert(err.getMessage.contains("outside centroid table") ||
      Option(err.getCause).exists(_.getMessage.contains("outside centroid table")))
  }

  test("index carries (cell, codes); encode is its exploded view; shapes " +
    "and ranges hold") {
    val n = e.count()
    val idx = IvfPq.index(e, "vec_id", "embedding", coarse, cents)
    assert(idx.count() === n)
    assert(idx.filter(col("cell") < 0 || col("cell") >= 8).count() === 0)
    val enc = IvfPq.encode(e, "vec_id", "embedding", coarse, cents)
    assert(enc.count() === n * 4)
    assert(enc.filter(col("code") < 0 || col("code") >= 8).count() === 0)
    val compact = idx.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val exploded = enc.collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> (rows.head.getLong(1),
          rows.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq)
      }
    assert(compact === exploded)
  }

  test("residuals are centered: the per-cell subtraction shrinks the " +
    "vectors the codebooks must cover") {
    graft.plans.GraftFunctions.register(spark)
    val centStr = coarse.map(_.mkString(",")).mkString(";")
    val norms = e.filter(col("embedding").isNotNull)
      .select(col("embedding").cast("array<double>").as("v"))
      .withColumn("cell",
        element_at(call_function("graft_ivf_cells", col("v"), lit(centStr)),
          1).getField("c"))
      .withColumn("rv",
        call_function("graft_residual", col("v"), lit(centStr), col("cell")))
      .select(
        sqrt(call_function("graft_dot", col("v"), col("v"))).as("nv"),
        sqrt(call_function("graft_dot", col("rv"), col("rv"))).as("nr"))
      .agg(avg(col("nv")).as("nv"), avg(col("nr")).as("nr"))
      .collect().head
    assert(norms.getDouble(1) < norms.getDouble(0),
      s"residual norm ${norms.getDouble(1)} !< raw norm ${norms.getDouble(0)}")
  }

  test("ADC top-3 over probed cells beats chance and reruns identically") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(e, e, "vec_id", "embedding", 3))
    val got = pairs(IvfPq.annIvfPq(e, e, "vec_id", "embedding", coarse,
      cents, k = 3, nProbe = 2))
    val recall = got.intersect(exact).size.toDouble / exact.size
    // two pruning sources stack: the 4x8 residual codebook's
    // reconstruction error (the PqSpec bound) AND the 2-of-8 cell probe
    // discarding true neighbors outside the probed cells; random top-3
    // would recall ~0.6%
    assert(recall > 0.05, s"IVF+PQ recall@3 $recall")
    val again = pairs(IvfPq.annIvfPq(e, e, "vec_id", "embedding", coarse,
      cents, k = 3, nProbe = 2))
    assert(got === again)
    // twice the code bytes (m = 8 subspaces) holds the same floor
    val got8 = pairs(IvfPq.annIvfPq(e, e, "vec_id", "embedding", coarse,
      IvfPq.fit(e, "vec_id", "embedding", coarse, m = 8, k = 8, iters = 2),
      k = 3, nProbe = 2))
    val recall8 = got8.intersect(exact).size.toDouble / exact.size
    assert(recall8 > 0.05, s"IVF+PQ m=8 recall@3 $recall8")
  }

  test("query side fails fast past the broadcast gate") {
    val err = intercept[IllegalArgumentException] {
      IvfPq.annIvfPq(e, e, "vec_id", "embedding", coarse, cents, k = 3,
        nProbe = 2, maxQueryRows = 10)
    }
    assert(err.getMessage.contains("batched query slices"))
  }

  test("persisted index: queryPersisted reproduces annIvfPq exactly " +
    "through the sidecar round-trip; the scan is PRUNED to the probed " +
    "buckets; a missing sidecar fails with the repair instruction") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    dropTable("ivfpq_spec_idx")
    dropTable(IvfPq.modelsTableName("ivfpq_spec_idx"))
    IvfPq.persistIndex(e, "vec_id", "embedding", coarse, cents,
      "ivfpq_spec_idx")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val queries = e.filter(col("vec_id") % 40 === 0)
    val viaMem = rows(IvfPq.annIvfPq(queries, e, "vec_id", "embedding",
      coarse, cents, k = 3, nProbe = 2))
    val viaDisk = rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_spec_idx", k = 3, nProbe = 2))
    assert(viaDisk === viaMem)
    // bucket pruning: ONE query probes exactly nProbe cells — the index
    // scan's bucket set must shrink to those, not read all 8 buckets
    val one = e.filter(col("vec_id") === 0L)
    val pruned = IvfPq.queryPersisted(one, "vec_id", "embedding",
      "ivfpq_spec_idx", k = 3, nProbe = 2)
    assert(pruned.collect().nonEmpty, "single-query probe returned no rows")
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allNodes(q.plan)
      case other => other.children.flatMap(allNodes)
    })
    val scans = allNodes(pruned.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.tableIdentifier.exists(
            _.table.equalsIgnoreCase("ivfpq_spec_idx")) => f
    }
    assert(scans.nonEmpty, pruned.queryExecution.executedPlan.toString)
    scans.foreach { f =>
      val sel = f.optionalBucketSet.map(_.cardinality())
      assert(sel.exists(_ <= 2),
        s"index scan read ${sel.getOrElse("ALL")} of 8 buckets:\n$f")
    }
    // commit-point contract: an index whose sidecar is missing refuses
    // with the repair instruction instead of silently refitting
    dropTable(IvfPq.modelsTableName("ivfpq_spec_idx"))
    val err = intercept[IllegalStateException] {
      IvfPq.queryPersisted(queries, "vec_id", "embedding",
        "ivfpq_spec_idx", k = 3, nProbe = 2)
    }
    assert(err.getMessage.contains("rerun persistIndex"))
    dropTable("ivfpq_spec_idx")
  }

  test("persistIndex self-heals the entry-less leftover-dir crash window " +
    "and never deletes an EXTERNAL table's data") {
    import java.nio.file.{Files, Paths}
    // (a) crashed prior overwrite: index dir exists, no catalog entry —
    // rerun must repair, not die on LOCATION_ALREADY_EXISTS
    dropTable("ivfpq_heal_idx")
    dropTable(IvfPq.modelsTableName("ivfpq_heal_idx"))
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    val leftover = Paths.get(warehouse, "ivfpq_heal_idx")
    Files.createDirectories(leftover)
    Files.write(leftover.resolve("junk"), Array[Byte](1, 2, 3))
    IvfPq.persistIndex(e, "vec_id", "embedding", coarse, cents,
      "ivfpq_heal_idx")
    assert(IvfPq.queryPersisted(e.filter(col("vec_id") === 0L), "vec_id",
      "embedding", "ivfpq_heal_idx", k = 3, nProbe = 2).count() === 3)
    dropTable("ivfpq_heal_idx")
    dropTable(IvfPq.modelsTableName("ivfpq_heal_idx"))
    // (b) an EXTERNAL table occupying a name handed to dropPersisted:
    // the catalog entry goes, the DATA must survive (it is not ours)
    val extDir = Files.createTempDirectory("ivfpq_ext").toFile
    spark.range(5).toDF("x").write.mode("overwrite")
      .parquet(extDir.getAbsolutePath)
    spark.sql("DROP TABLE IF EXISTS ivfpq_ext_t")
    spark.sql(s"CREATE TABLE ivfpq_ext_t USING parquet " +
      s"LOCATION '${extDir.getAbsolutePath}'")
    IvfPq.dropPersisted(spark, "ivfpq_ext_t")
    assert(!spark.catalog.tableExists("ivfpq_ext_t"))
    assert(spark.read.parquet(extDir.getAbsolutePath).count() === 5,
      "dropPersisted deleted an external table's data")
  }

  test("appendPersisted: bootstrap-persist + append + query equals batch " +
    "persistIndex over the union (sequential-composition parity, verdict " +
    "r14 #1); the sidecar-read path matches the fitted path; duplicates " +
    "are query-invisible (at-least-once); both halves fail closed") {
    val boot = e.filter(col("vec_id") % 4 =!= 0)
    val incr = e.filter(col("vec_id") % 4 === 0)
    val queries = e.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def content(table: String): Set[(Long, Long, Seq[Long])] =
      spark.table(table).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    Seq("ivfpq_inc_idx", "ivfpq_inc_ref").foreach { t =>
      dropTable(t); dropTable(IvfPq.modelsTableName(t))
    }
    IvfPq.persistIndex(boot, "vec_id", "embedding", coarse, cents,
      "ivfpq_inc_idx")
    val chained = IvfPq.appendPersisted(incr, "vec_id", "embedding",
      "ivfpq_inc_idx", fitted = Some((coarse, cents)))
    assert(chained._1.map(_.toSeq).toSeq === coarse.map(_.toSeq).toSeq)
    // reference: one batch persistIndex over the union, SAME models
    IvfPq.persistIndex(e, "vec_id", "embedding", coarse, cents,
      "ivfpq_inc_ref")
    assert(content("ivfpq_inc_idx") === content("ivfpq_inc_ref"),
      "appended (id, cell, codes) content must equal the batch build's")
    val viaIncr = rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_inc_idx", k = 3, nProbe = 2))
    val viaBatch = rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_inc_ref", k = 3, nProbe = 2))
    assert(viaIncr === viaBatch)
    assert(viaIncr.nonEmpty)
    // at-least-once: a crash-window re-append duplicates the batch; the
    // graft_topk distinct-id election keeps query results IDENTICAL —
    // this second call also exercises the sidecar-read path (no fitted),
    // which must encode exactly like the fitted-chained call
    val nBefore = spark.table("ivfpq_inc_idx").count()
    IvfPq.appendPersisted(incr, "vec_id", "embedding", "ivfpq_inc_idx")
    assert(spark.table("ivfpq_inc_idx").count() ===
      nBefore + incr.count())
    val dupCodes = spark.table("ivfpq_inc_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .toSet
    assert(dupCodes === content("ivfpq_inc_ref"),
      "the sidecar-read re-append must assign identically (duplicates " +
        "collapse under the set compare)")
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_inc_idx", k = 3, nProbe = 2)) === viaIncr,
      "duplicated rows changed query results")
    // fail closed, half A: sidecar gone (persist never completed) — the
    // models are unknowable, refuse with the repair instruction
    dropTable(IvfPq.modelsTableName("ivfpq_inc_idx"))
    val errA = intercept[IllegalStateException] {
      IvfPq.appendPersisted(incr, "vec_id", "embedding", "ivfpq_inc_idx")
    }
    assert(errA.getMessage.contains("rerun persistIndex"))
    // fail closed, half B: index table gone while the sidecar stands — an
    // append-mode write would silently CREATE a batch-only index
    IvfPq.persistIndex(boot, "vec_id", "embedding", coarse, cents,
      "ivfpq_inc_idx")
    dropTable("ivfpq_inc_idx")
    val errB = intercept[IllegalStateException] {
      IvfPq.appendPersisted(incr, "vec_id", "embedding", "ivfpq_inc_idx")
    }
    assert(errB.getMessage.contains("inconsistent"))
    Seq("ivfpq_inc_idx", "ivfpq_inc_ref").foreach { t =>
      dropTable(t); dropTable(IvfPq.modelsTableName(t))
    }
  }

  test("refineExact: the exact rerank of ADC top-C — recall at least the " +
    "plain ADC chain's, C=k degenerates to a re-scoring of the same ids, " +
    "persisted path matches in-memory bit for bit, reruns identically") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(e, e, "vec_id", "embedding", 3))
    val plain = pairs(IvfPq.annIvfPq(e, e, "vec_id", "embedding", coarse,
      cents, k = 3, nProbe = 2))
    val refined = IvfPq.annIvfPqRefined(e, e, "vec_id", "embedding",
      coarse, cents, k = 3, c = 10, nProbe = 2)
    val refinedPairs = pairs(refined)
    val rPlain = plain.intersect(exact).size.toDouble / exact.size
    val rRef = refinedPairs.intersect(exact).size.toDouble / exact.size
    assert(rRef >= rPlain,
      f"refined recall $rRef%.4f < plain ADC recall $rPlain%.4f — the " +
        "exact rerank of a superset candidate list lost ground")
    assert(rRef > rPlain,
      "fixture vacuous: refinement changed nothing — widen c or the " +
        "assertion proves only equality")
    // C = k: the SAME ids, re-scored (the rerank cannot invent or drop
    // candidates when the width equals the output)
    val sameIds = pairs(IvfPq.annIvfPqRefined(e, e, "vec_id", "embedding",
      coarse, cents, k = 3, c = 3, nProbe = 2))
    assert(sameIds === plain)
    // determinism
    assert(pairs(IvfPq.annIvfPqRefined(e, e, "vec_id", "embedding",
      coarse, cents, k = 3, c = 10, nProbe = 2)) === refinedPairs)
    // persisted ≡ in-memory through the sidecar round-trip and the
    // pruned scan, scores included
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    dropTable("ivfpq_ref_idx")
    dropTable(IvfPq.modelsTableName("ivfpq_ref_idx"))
    IvfPq.persistIndex(e, "vec_id", "embedding", coarse, cents,
      "ivfpq_ref_idx")
    val queries = e.filter(col("vec_id") % 40 === 0)
    assert(rows(IvfPq.queryPersistedRefined(queries, e, "vec_id",
        "embedding", "ivfpq_ref_idx", k = 3, c = 10, nProbe = 2)) ===
      rows(IvfPq.annIvfPqRefined(queries, e, "vec_id", "embedding",
        coarse, cents, k = 3, c = 10, nProbe = 2)))
    // c < k is a caller error
    intercept[IllegalArgumentException] {
      IvfPq.annIvfPqRefined(e, e, "vec_id", "embedding", coarse, cents,
        k = 3, c = 2, nProbe = 2)
    }
    // plan economics of the rerank stage: the VECTOR side streams — no
    // shuffle exchange may have the embeddings scan below it without
    // crossing an aggregate boundary (the one-sided family rule; the
    // candidate pairs and the query vectors ride broadcasts)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = IvfPq.queryPersistedRefined(queries, e, "vec_id",
      "embedding", "ivfpq_ref_idx", k = 3, c = 10, nProbe = 2)
    df.collect()
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other.children.flatMap(allNodes)
    })
    def belowNoAgg(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: BaseAggregateExec => Seq.empty
      case a: AdaptiveSparkPlanExec => p +: belowNoAgg(a.executedPlan)
      case q: QueryStageExec => p +: belowNoAgg(q.plan)
      case other => other +: other.children.flatMap(belowNoAgg)
    }
    allNodes(df.queryExecution.executedPlan)
      .collect { case ex: ShuffleExchangeExec => ex }
      .foreach { ex =>
        assert(ex.children.flatMap(belowNoAgg).collect {
          case f: FileSourceScanExec
              if f.relation.location.rootPaths.exists(
                _.toString.contains("embeddings")) => f
        }.isEmpty,
          s"the vector scan moved through an exchange in the rerank:\n$ex")
      }
    dropTable("ivfpq_ref_idx")
    dropTable(IvfPq.modelsTableName("ivfpq_ref_idx"))
  }

  test("deletePersisted + compactPersisted: tombstone-filtered query ≡ " +
    "compacted query ≡ batch build over survivors; re-delete idempotent; " +
    "tombstones cleared; crash residue recovered; gates fail closed") {
    def fresh(t: String): Unit = {
      dropTable(t); dropTable(IvfPq.modelsTableName(t))
      dropTable(IvfPq.tombstonesTableName(t))
    }
    Seq("ivfpq_del_idx", "ivfpq_del_ref").foreach(fresh)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    def content(table: String): Set[(Long, Long, Seq[Long])] =
      spark.table(table).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val queries = e.filter(col("vec_id") % 40 === 0)
    val delIds = e.filter(col("vec_id") % 10 === 3).select(col("vec_id"))
    // lifecycle index: bootstrap + append, then delete
    IvfPq.persistIndex(e.filter(col("vec_id") % 4 =!= 0), "vec_id",
      "embedding", coarse, cents, "ivfpq_del_idx")
    IvfPq.appendPersisted(e.filter(col("vec_id") % 4 === 0), "vec_id",
      "embedding", "ivfpq_del_idx", fitted = Some((coarse, cents)))
    IvfPq.deletePersisted(delIds, "vec_id", "ivfpq_del_idx")
    // reference: one batch build over the survivors, SAME models
    IvfPq.persistIndex(e.filter(col("vec_id") % 10 =!= 3), "vec_id",
      "embedding", coarse, cents, "ivfpq_del_ref")
    val viaRef = rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_del_ref", k = 3, nProbe = 2))
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_del_idx", k = 3, nProbe = 2)) === viaRef,
      "tombstone-filtered query must equal the survivor build's")
    // re-delete: idempotent
    IvfPq.deletePersisted(delIds, "vec_id", "ivfpq_del_idx")
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_del_idx", k = 3, nProbe = 2)) === viaRef)
    // compact: physical GC under the untouched models, sidecar cleared
    val n = IvfPq.compactPersisted(spark, "ivfpq_del_idx")
    assert(n === e.filter(col("vec_id") % 10 =!= 3
      && col("embedding").isNotNull).count())
    assert(!spark.catalog.tableExists(
      IvfPq.tombstonesTableName("ivfpq_del_idx")),
      "compactPersisted must clear the tombstone sidecar")
    assert(content("ivfpq_del_idx") === content("ivfpq_del_ref"),
      "compacted (id, cell, codes) content must equal the survivor build's")
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_del_idx", k = 3, nProbe = 2)) === viaRef,
      "compaction changed query results")
    // crash residue: a dead __rebuild sibling from a crashed compact is
    // rolled back by the next writer entry and the rewrite still lands
    spark.range(3).toDF("x").write.mode("overwrite")
      .saveAsTable("ivfpq_del_idx__rebuild")
    assert(IvfPq.compactPersisted(spark, "ivfpq_del_idx") === n)
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_del_idx", k = 3, nProbe = 2)) === viaRef)
    // tombstone set past the broadcast gate fails closed with the repair
    // instruction
    IvfPq.deletePersisted(e.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id")), "vec_id", "ivfpq_del_idx")
    val gateErr = intercept[IllegalArgumentException] {
      IvfPq.queryPersisted(queries, "vec_id", "embedding",
        "ivfpq_del_idx", k = 3, nProbe = 2, maxTombstones = 1L)
    }
    assert(gateErr.getMessage.contains("compactPersisted"))
    // deleting from a nonexistent index is an actionable error
    val delErr = intercept[IllegalStateException] {
      IvfPq.deletePersisted(delIds, "vec_id", "ivfpq_del_absent")
    }
    assert(delErr.getMessage.contains("nothing to delete"))
    Seq("ivfpq_del_idx", "ivfpq_del_ref").foreach(fresh)
  }

  test("queryPersisted/compactPersisted fitted chaining ≡ the sidecar " +
    "read path (optimization r16 — the r13 chaining contract applied " +
    "to the compressed family)") {
    def fresh(t: String): Unit = {
      dropTable(t); dropTable(IvfPq.modelsTableName(t))
      dropTable(IvfPq.tombstonesTableName(t))
    }
    fresh("ivfpq_fit_idx")
    IvfPq.persistIndex(e, "vec_id", "embedding", coarse, cents,
      "ivfpq_fit_idx")
    val queries = e.filter(col("vec_id") % 40 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val viaSidecar = rows(IvfPq.queryPersisted(queries, "vec_id",
      "embedding", "ivfpq_fit_idx", k = 3, nProbe = 2))
    val viaFitted = rows(IvfPq.queryPersisted(queries, "vec_id",
      "embedding", "ivfpq_fit_idx", k = 3, nProbe = 2,
      fitted = Some((coarse, cents))))
    assert(viaFitted === viaSidecar,
      "fitted-chained query must reproduce the sidecar-read query")
    // fitted compact rewrites under the same bucket spec and returns the
    // same audit count as the sidecar-read compact
    val n1 = IvfPq.compactPersisted(spark, "ivfpq_fit_idx",
      fitted = Some((coarse, cents)))
    assert(n1 === e.filter(col("embedding").isNotNull).count())
    assert(rows(IvfPq.queryPersisted(queries, "vec_id", "embedding",
      "ivfpq_fit_idx", k = 3, nProbe = 2)) === viaSidecar)
    fresh("ivfpq_fit_idx")
  }

  test("refineExact fails closed on an unbounded direct call (ADVICE " +
    "r15): candidate pairs and the query side are both gated") {
    val cand = e.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"))
    val candErr = intercept[IllegalArgumentException] {
      IvfPq.refineExact(cand, e.limit(3), e, "vec_id", "embedding", k = 1,
        maxCandidateRows = 5L)
    }
    assert(candErr.getMessage.contains("ADC top-C"))
    val qErr = intercept[IllegalArgumentException] {
      IvfPq.refineExact(cand.limit(2), e, e, "vec_id", "embedding", k = 1,
        maxQueryRows = 5L)
    }
    assert(qErr.getMessage.contains("batched query slices"))
  }

  test("codeDrift + stalenessPolicy: a self-distributed batch reads " +
    "exactly zero PSI and stays fresh; a collapsed batch trips stale " +
    "on the worst subspace") {
    val idxCodes = IvfPq.index(e, "vec_id", "embedding", coarse, cents)
      .select(col("codes"))
    val n = e.filter(col("embedding").isNotNull).count()
    // self-distribution: batch = the corpus itself -> per-(subspace,
    // code) counts equal -> every round-6 PSI contribution is exactly 0
    val fresh = IvfPq.stalenessPolicy(IvfPq.codeDriftFrames(
      idxCodes, e, "vec_id", "embedding", coarse, cents)).collect().head
    assert(fresh.getAs[Long]("m_subspaces") === 4L)
    assert(fresh.getAs[Long]("n_index_rows") === n)
    assert(fresh.getAs[Long]("n_batch_rows") === n)
    assert(fresh.getAs[Long]("max_psi_micro") === 0L)
    assert(fresh.getAs[Long]("stale") === 0L)
    // collapsed batch: one constant vector repeated concentrates ALL of
    // the batch's mass into one code per subspace — the quantization-
    // staleness signal the policy exists to raise
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    val constVec = (0 until dim).map(d => ((d % 7) - 3).toFloat / 3f)
    import spark.implicits._
    val collapsed = (5000 until 5040)
      .map(i => (i.toLong, constVec)).toDF("vec_id", "embedding")
    val stale = IvfPq.stalenessPolicy(IvfPq.codeDriftFrames(
      idxCodes, collapsed, "vec_id", "embedding", coarse, cents))
      .collect().head
    assert(stale.getAs[Long]("n_batch_rows") === 40L)
    assert(stale.getAs[Long]("max_psi_micro") > 250000L,
      s"collapsed-batch PSI ${stale.getAs[Long]("max_psi_micro")} micro " +
        "should exceed the 0.25 threshold decisively")
    assert(stale.getAs[Long]("stale") === 1L)
  }

  test("plan shape: the probe side (with its explode) broadcasts; the " +
    "code-table side reaches the join without a hash exchange") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = IvfPq.annIvfPq(e.filter(col("vec_id") % 40 === 0), e,
        "vec_id", "embedding", coarse, cents, k = 3, nProbe = 2)
      val plan = df.queryExecution.executedPlan
      val bcasts = plan.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.nonEmpty, s"expected the probe-side broadcast:\n$plan")
      assert(bcasts.exists(_.collect { case g: GenerateExec => g }.nonEmpty),
        s"no broadcast carries the probe explode:\n$plan")
      // the only hash exchange is the bounded q_id topk exchange, which
      // sits above the partial aggregate — so no hash exchange may have a
      // scan below it without crossing an aggregate boundary (the
      // IncrementalAnnSpec gate's rule); RoundRobin spreads are the
      // narrow-input spreadIfNarrow, not data movement semantics
      def belowNoAgg(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: BaseAggregateExec => Seq.empty
        case other => other +: other.children.flatMap(belowNoAgg)
      }
      plan.collect {
        case ex: ShuffleExchangeExec
            if ex.outputPartitioning.isInstanceOf[HashPartitioning] => ex
      }.foreach { ex =>
        assert(ex.children.flatMap(belowNoAgg)
            .collect { case f: FileSourceScanExec => f }.isEmpty,
          s"the code-table side moved through a hash exchange:\n$ex")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}

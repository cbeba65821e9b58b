package graft

/** Plan-shape regression tests: the scale-critical physical-plan properties
  * (broadcasts placed, filters pushed, columns pruned, no accidental
  * cartesian/sort-merge joins, bounded exchange counts) asserted against
  * the actual optimized plans, so a refactor that silently degrades a plan
  * fails CI rather than only showing up in a benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("no expensive expression rides a projection directly above a generator") {
    // The analyzer's ExtractGenerator moves every non-generator expression
    // of a select into the Project ABOVE the Generate node, where it
    // re-evaluates once per EMITTED row. size(tokens) beside
    // explode(tokens) re-ran the full regex tokenize per token (26 s CPU
    // at sf0.1 in q_bm25_topk); the LR gradient fold was O(tokens²) per
    // doc. The fix is a lower select materializing the expensive value —
    // this gate pins the shape for the generator-bearing registry
    // queries: no regex/split/higher-order/custom-kernel expression in a
    // ProjectExec whose child is a GenerateExec.
    import org.apache.spark.sql.execution.{ProjectExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.catalyst.expressions._
    def expensive(e: Expression): Boolean = e.exists {
      case _: StringSplit | _: RegExpReplace | _: RegExpExtractBase => true
      case _: HigherOrderFunction => true
      case x if x.getClass.getName.startsWith("graft.plans.") => true
      case _ => false
    }
    // A Project above a Generate evaluates per emitted row even with
    // row-preserving nodes (Filter) in between — Project→Filter→Generate
    // is exactly how a .select(expensive, explode(...)).where(...) plans,
    // so the walk carries pending expensive projections down through
    // per-row nodes until it meets the generator (or a
    // cardinality-changing boundary, which resets them).
    def offenders(p: SparkPlan): Seq[String] = {
      val bad = Seq.newBuilder[String]
      def walk(node: SparkPlan, pending: Seq[String]): Unit = node match {
        case proj: ProjectExec =>
          walk(proj.child,
            pending ++ proj.projectList.filter(expensive).map(_.sql))
        case f: org.apache.spark.sql.execution.FilterExec =>
          walk(f.child, pending)
        case g: GenerateExec =>
          bad ++= pending
          g.children.foreach(walk(_, Nil))
        case other => other.children.foreach(walk(_, Nil))
      }
      walk(p, Nil)
      bad.result()
    }
    // canary: the detector must actually flag the broken shape, or the
    // green assertions below are vacuous
    import org.apache.spark.sql.functions.{col, size, explode}
    val docs = graft.sources.Tables.table(spark, sf, "documents")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val broken = docs.select(size(toks).as("n"), explode(toks).as("t"))
    assert(offenders(broken.queryExecution.sparkPlan).nonEmpty,
      "detector failed to flag size(tokens) above explode(tokens)")
    // second canary: a filter AFTER the explode interposes a FilterExec
    // between the Project and the Generate (the QualityClassifier
    // gradRows shape) — the detector must see through it
    val brokenFiltered = docs
      .select(size(toks).as("n"), explode(toks).as("t"))
      .where(col("t") =!= "zzz")
    assert(offenders(brokenFiltered.queryExecution.sparkPlan).nonEmpty,
      "detector failed to see through Project->Filter->Generate")
    val generatorQueries = Seq(
      "q_bm25_topk", "q_chunk_tokens", "q_heavy_tokens", "q_vocab_topk",
      "q_tfidf_top_term", "q_shared_spans", "q_span_contamination",
      "q_minhash_md5", "q_unigram_nll", "q_bigram_nll", "q_dsir_weights",
      "q_ngram_jaccard", "q_shingle_stats", "q_lr_quality", "q_nb_lang",
      "q_char_entropy")
    generatorQueries.foreach { n =>
      val p = SparkEntry.queries(n)(spark, sf).queryExecution.sparkPlan
      val bad = offenders(p)
      assert(bad.isEmpty,
        s"$n evaluates per-generated-row: ${bad.mkString("; ").take(400)}")
    }
  }

  test("q_join_region_revenue: all four dims broadcast, fact never shuffles pre-agg") {
    val p = plan("q_join_region_revenue")
    assert(countOf(p, "BroadcastHashJoin") === 4)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    // exactly one shuffle: the final groupBy(n_name) exchange
    assert(countOf(p, "Exchange hashpartitioning") === 1)
  }

  test("q_filter_sum: predicates reach the parquet scan, columns pruned") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q_filter_sum")(spark, sf)
    // read the scan's untruncated metadata (the plan string elides long
    // PushedFilters lists with "..."); sparkPlan, not executedPlan — AQE
    // wraps the latter and hides the scan from collectLeaves
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate") &&
      pushed.contains("LessThan(l_quantity"))
    // projection needs only 4 columns; the scan must not read more
    val read = scan.metadata("ReadSchema")
    assert(Seq("l_shipdate", "l_discount", "l_quantity", "l_extendedprice")
      .forall(read.contains))
    assert(!read.contains("l_orderkey") && !read.contains("l_comment"))
  }

  test("q_knn_brute: corpus broadcast, one exchange total (the bounded top-k agg)") {
    val p = plan("q_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin")) // the intended cross join
    assert(countOf(p, "Exchange hashpartitioning") === 1)
    assert(p.contains("ObjectHashAggregate")) // graft_topk partial+final
  }

  test("q_random_projection: no hash exchange — literal signs off the scan") {
    val p = plan("q_random_projection")
    // the only exchange is spreadIfNarrow's round-robin spread of the
    // single-file scan; the projection itself never shuffles or joins
    assert(!p.contains("Exchange hashpartitioning"))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"))
    assert(p.contains("graft_dot")) // the codegen kernel, not a HOF fold
  }

  test("q_bitext_margin: target broadcast, ONE pair-frame exchange") {
    val p = plan("q_bitext_margin")
    assert(p.contains("BroadcastNestedLoopJoin")) // the gated cross join
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // round-9 shape: the tgt-side neighborhood sums are a
    // partial-aggregable graft_topk broadcast back (one tiny tgt_id
    // exchange of ≤ k entries per target per task), so the O(pairs)
    // frame is exchanged exactly ONCE — by src_id, shared by the top-k
    // rank, the group sum, and the best-by-margin election windows.
    // The old 3-window shape exchanged-and-sorted the pair frame three
    // times.
    assert(p.contains("graft_topk"), p)
    assert(countOf(p, "Exchange hashpartitioning") === 2)
  }

  test("q_ann_lsh_md5: checkpointed buckets, broadcast cap table, no re-sketch") {
    val p = plan("q_ann_lsh_md5")
    // the md5 sketch frame is a checkpoint leaf: neither join side nor
    // the cap count recomputes the nBits x dim interpreted md5 folds
    // (projection collapse would otherwise inline them per candidate row)
    assert(p.contains("Scan ExistingRDD"), p.take(600))
    assert(!p.contains("md5")) // sketch math never appears in-plan
    // degenerate-bucket cap joins as a broadcast, pairing stays equi-join
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("lshCandidatePairs plan: one bounded-collect agg, no bucket self-join") {
    // gated on the operator directly (the registry consumers run the pair
    // stage inside eager CC/checkpoint actions, so their RETURNED plan
    // doesn't show it). Round-12 shape: bounded collect + streaming
    // graft_pair_gen generator — the old count→cap-join→self-join chain
    // (two persists, three passes over the bucket stream) must not return
    val docs = graft.sources.Tables.table(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val p = graft.operators.Dedup
      .lshCandidatePairs(
        graft.operators.Dedup.minhashed(docs, "text", "doc_id",
          graft.operators.SketchHash.XxHash64), "doc_id")
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_collect_capped"), p.take(800))
    assert(p.contains("graft_pair_gen"), p.take(800))
    assert(!p.contains("InMemoryTableScan"), "pair stage must not persist")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "pair stage must not join")
  }

  test("q_ann_ivf_md5: fused cell kernel, broadcast cap, equi-join probing") {
    val p = plan("q_ann_ivf_md5")
    // round 12: the sorted (negS, cell) array is ONE graft_ivf_cells
    // kernel call per consumer (centroid table rides as a single string
    // literal) — the array_sort(array(struct(...))) expression form
    // evaluated the sort INTERPRETED (array_sort is a HOF) and inlined
    // nCells centroid arrays three times into the plan; neither may
    // return. The cell column is materialized at projection/exchange
    // boundaries, so the kernel must never appear in a JOIN condition
    // (per-candidate-pair re-evaluation would be the
    // generator-projection failure class).
    assert(p.contains("graft_ivf_cells"), p.take(800))
    assert(!p.contains("array_sort"), "interpreted HOF sort returned")
    // the VERIFY cosine (q_vec, n_vec) stays; the per-centroid cell
    // scoring form over __v must not
    assert(!p.contains("graft_cosine(__v"),
      "per-centroid expression form returned")
    assert({
      val joinCond = p.linesIterator.filter(_.contains("Join")).mkString
      !joinCond.contains("graft_ivf_cells")
    }, p.take(800))
    // cell cap joins as a broadcast; candidate pairing stays equi-join
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_canonical_keeper: keeper argmax is one agg exchange, no window") {
    val p = plan("q_canonical_keeper")
    // the CC loop contributes its own bounded exchanges; the keeper stage
    // itself must aggregate (struct max), never window-sort the members
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "))
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"))
  }

  test("mq_source_scores: single exchange between partial and final agg") {
    val p = plan("mq_source_scores")
    assert(countOf(p, "Exchange hashpartitioning") === 1)
    assert(!p.contains("SortAggregate"))
  }

  test("nested-schema pruning: reading provider.name scans only that subfield") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.col
    // write a nested export (the flattenRecord shape), then project one
    // nested field — the parquet scan must request the pruned struct, not
    // whole sourceResource/provider trees (Catalyst nestedSchemaPruning)
    val rec = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("http://dp.la/api/items/abc1"))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dplaUri",
          org.apache.spark.sql.types.StringType))))
    val canonical = graft.schema.SchemaAlign.alignToSchema(
      rec, graft.schema.DplaMap.record)
    val out = java.nio.file.Files.createTempDirectory("graft-prune").toString
    graft.processes.Processes.parquetDump(canonical, out)
    val q = spark.read.parquet(out).select(col("id"), col("provider.name"))
    val scan = q.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    val read = scan.metadata("ReadSchema")
    assert(read.contains("provider:struct<name:string>"))
    assert(!read.contains("sourceResource"))
    assert(!read.contains("exactMatch")) // provider's sibling fields pruned
  }

  test("curation core: the cheap lang gate reaches the scan, regex gate stays codegen'd") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = SparkEntry.queries("q_curation_core")(spark, sf)
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    // equality predicates push to parquet; the tokenizer regex cannot and
    // must not block the pushable part of the conjunction
    assert(scan.metadata("PushedFilters").contains("EqualTo(lang,en)"))
  }

  test("q_flatten_export: the whole repair+flatten chain is one narrow stage") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q_flatten_export")(spark, sf)
        .queryExecution.executedPlan
      // align + sourceResource rebuild + leaf extraction collapse into
      // Projects over the scan — zero shuffles at any corpus size
      assert(plan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
        plan.toString)
      assert(!plan.toString.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_mq_dpla: full MQ chain = narrow flag Project + one agg exchange") {
    // synthesize → align → flatten → itemdata all collapse into Projects
    // over the scan; the only shuffle is the partial/final score aggregation
    // on the grouping key — shuffle volume O(#providers), not O(#records)
    val p = plan("q_mq_dpla")
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
    assert(!p.contains("Join") && !p.contains("Generate"), p)
  }

  test("q_unigram_nll: scoring is shuffle-free (one row per doc off the scan)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the FIT (vocab collect + total) runs eagerly at construction and
      // may shuffle; the returned SCORING plan must carry no HASH
      // exchange — the literal vocab map makes per-doc NLL a narrow
      // fold, no explode, no join. The one allowed exchange is the
      // deliberate round-robin spread of the single-file scan (the
      // interpreted-fold parallelism fix); a hashpartitioning exchange
      // appearing here is the regression this test exists to catch.
      val plan = SparkEntry.queries("q_unigram_nll")(spark, sf)
        .queryExecution.executedPlan
      val hashEx = plan.collect { case e: ShuffleExchangeExec => e }
        .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
      assert(hashEx.isEmpty, plan.toString)
      assert(!plan.toString.contains("Join"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_boilerplate: cleaning is shuffle-free (literal line set, one pass per doc)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // discovery (CMS fit + candidate doc-frequency count) runs eagerly
      // and may shuffle; the returned CLEANING plan must carry no hash
      // exchange — the fitted set is a plan literal probed by the
      // graft_strip_lines kernel, no explode, no join. Round-robin
      // spread of the narrow scan is the one allowed exchange.
      val plan = SparkEntry.queries("q_boilerplate")(spark, sf)
        .queryExecution.executedPlan
      val hashEx = plan.collect { case e: ShuffleExchangeExec => e }
        .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
      assert(hashEx.isEmpty, plan.toString)
      assert(!plan.toString.contains("Join"), plan.toString)
      assert(plan.toString.contains("graft_strip_lines"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_decontaminate: train side never shuffles before the final count") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
        .queryExecution.executedPlan
      val p = plan.toString
      // eval shingles broadcast to the candidates; no sort-merge join
      assert(p.contains("BroadcastHashJoin"))
      assert(!p.contains("SortMergeJoin"))
      // at most two HASH shuffles: the final per-doc count, plus the
      // eval-shingle distinct when its persisted frame isn't already
      // hiding it inside an InMemoryRelation — the train scan itself
      // stays narrow through explode, bloom filter, and broadcast join.
      // (Round-robin spreads of the single-file local fixture don't
      // count: on a real multi-file layout spreadIfNarrow is the
      // identity.)
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      val hashShuffles = plan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashShuffles.size >= 1 && hashShuffles.size <= 2, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_dedup_exact: digests shuffle, not document bodies") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // inspect the exchange NODE, not a plan-string window: the md5(text)
    // projection legitimately mentions text just below the exchange, but
    // the shuffled row schema itself must carry only the digest + agg state
    // sparkPlan predates EnsureRequirements (no exchanges yet) and AQE
    // wraps executedPlan in an adaptive leaf — turn AQE off to inspect a
    // concrete post-preparation plan
    // executedPlan materializes lazily — keep AQE off until it's built
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val exchanges =
      try {
        SparkEntry.queries("q_dedup_exact")(spark, sf)
          .queryExecution.executedPlan.collect {
            case e: ShuffleExchangeExec => e
          }
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val shuffled = e.child.output.map(_.name)
      assert(shuffled.exists(_.contains("fp")), shuffled.mkString(","))
      assert(!shuffled.exists(_.contains("text")), shuffled.mkString(","))
    }
  }

  test("q_pii_redact / q_url_parts: pure narrow maps, zero exchanges") {
    for (q <- Seq("q_pii_redact", "q_url_parts")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q:\n$p")
      // "*(n)" prefixes mark whole-stage-codegen stages in treeString
      assert(p.contains("*(1) Project"), s"$q:\n$p")
    }
  }

  test("conversation QA: scan-side flags/render/truncate/spans, zero exchanges") {
    // the whole SFT-QA family is per-row array expressions — any exchange
    // here means a join or window crept into what must stay a narrow pass
    for (q <- Seq("q_conv_stats", "q_conv_render", "q_conv_truncate",
        "q_conv_spans")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q:\n$p")
    }
  }

  test("preference-pair QA: per-pair flags stay a narrow pass; reports one agg") {
    // q_pref_stats is per-row array/set math — an exchange means a join
    // or window crept in; the two report queries are single hash aggs
    // (one exchange between partial and final), dedup groups likewise
    val p = plan("q_pref_stats")
    assert(!p.contains("Exchange"), p)
    for (q <- Seq("q_pref_bias", "q_pref_dedup")) {
      val pq = plan(q)
      assert(countOf(pq, "Exchange hashpartitioning") === 1, s"$q:\n$pq")
      assert(!pq.contains("SortMergeJoin") && !pq.contains("CartesianProduct"),
        s"$q:\n$pq")
    }
  }

  test("q_bm25_topk: corpus tokenized once, query side broadcast, no SMJ") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("q_bm25_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    assert(countOf(p, "BroadcastHashJoin") >= 2, p) // qterms + dfreq
    val leaves = df.queryExecution.sparkPlan.collectLeaves()
    // the pruned matched frame is cached and feeds BOTH df and scoring, so
    // the only parquet leaf is the corpus-stats pass; a second corpus
    // tokenize/aggregate subtree reappearing here is the 2×-scan regression
    assert(leaves.count(_.isInstanceOf[FileSourceScanExec]) === 1,
      leaves.mkString("\n"))
    assert(leaves.count(_.isInstanceOf[InMemoryTableScanExec]) >= 2,
      leaves.mkString("\n"))
  }

  test("q_bm25_topk: token stream pruned to query terms BEFORE any hash exchange") {
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_bm25_topk")(spark, sf)
      // the pruned tf frame is persisted; its plan (scan → explode →
      // broadcast LEFT SEMI vs query tokens → tf group-by) hides inside the
      // InMemoryRelation — audit the cached plan, not the outer tree
      val cached = df.queryExecution.executedPlan.collect {
        case s: InMemoryTableScanExec => s.relation.cachedPlan
      }.map {
        // the cache is planned with AQE even when the outer query isn't;
        // AdaptiveSparkPlanExec hides its subtree from collect — unwrap
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      assert(cached.nonEmpty, df.queryExecution.executedPlan.toString)
      val semis = cached.flatMap(_.collect {
        case j: BroadcastHashJoinExec if j.joinType.toString == "LeftSemi" => j
      })
      assert(semis.nonEmpty, cached.map(_.toString).mkString("\n"))
      // below the semi-join the CORPUS side must be narrow: the only
      // corpus exchange is the tf group-by ABOVE the prune, so shuffled
      // rows are query-matching pairs, never the full token stream. The
      // broadcast build side (query tokens) may contain its own tiny
      // distinct exchange — bounded by contract, so audit the probe side.
      semis.foreach { j =>
        import org.apache.spark.sql.catalyst.optimizer.BuildRight
        val probe = if (j.buildSide == BuildRight) j.left else j.right
        val hashEx = probe.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(hashEx.isEmpty, j.toString)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("fitted-model scoring plans carry no hash exchange (bigram, NB, mixture)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // like q_unigram_nll: the fit collects eagerly at construction; the
      // RETURNED plan must be a narrow literal-map apply — only the
      // deliberate round-robin spread may appear, never a hash exchange
      for (q <- Seq("q_bigram_nll", "q_nb_lang", "q_temp_mixture",
          "q_kmeans")) {
        val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan
        val hashEx = plan.collect { case e: ShuffleExchangeExec => e }
          .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
        assert(hashEx.isEmpty, s"$q:\n$plan")
        assert(!plan.toString.contains("SortMergeJoin"), s"$q:\n$plan")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_data_card: two aggs + a window on the aggregated frame, nothing wider") {
    val p = plan("q_data_card")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // per-source stats agg, per-(source,lang) agg, window + final join —
    // all keyed on source-sized frames; cap the exchange count so a
    // refactor that windows the RAW documents (corpus-wide sort) fails
    assert(countOf(p, "Exchange hashpartitioning") <= 5, p)
  }

  test("q_fuzzy_join: keys pair, ids only fan out — no cache, no id-level dedup") {
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the quadratic machinery runs over the distinct-key frame; nothing
    // is persisted (the old plan cached the exploded id-level variants
    // twice and paid three wide passes before forming a pair)
    assert(!p.contains("InMemoryTableScan"), p)
    // exchange budget: key-group count agg, variant-cap agg, key-pair
    // distinct, and the key-pair equi-joins' partitionings — all sized by
    // distinct keys. The corpus-side fan-out joins must broadcast, so a
    // refactor that shuffles or dedups the id-level frame busts this.
    assert(countOf(p, "Exchange hashpartitioning") <= 6, p)
    assert(countOf(p, "BroadcastHashJoin") >= 2, p)
  }

  test("q_contamination_report: train side narrow until the broadcast eval join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries("q_contamination_report")(spark, sf)
        .queryExecution.executedPlan
      val p = plan.toString
      assert(!p.contains("SortMergeJoin"), p)
      // the eval shingles are the broadcast build side; the train-side
      // probe (scan → tokenize → explode) must carry no hash exchange —
      // non-matching shingles die in-task, so everything that shuffles
      // afterwards is already eval-matched
      val joins = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(joins.nonEmpty, p)
      joins.foreach { j =>
        import org.apache.spark.sql.catalyst.optimizer.BuildRight
        val probe = if (j.buildSide == BuildRight) j.left else j.right
        val hashEx = probe.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(hashEx.isEmpty, j.toString)
      }
      // the two count_distincts over __eid plan as expand + bounded
      // re-aggregations — all keyed on eval-sized frames
      assert(countOf(p, "Exchange hashpartitioning") <= 3, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_semdedup_kmeans: within-cluster verify is a cluster-keyed equi-join, never all-pairs") {
    val p = plan("q_semdedup_kmeans")
    // the fit collects eagerly; the returned plan's pair generation must
    // key on the fitted cluster id — a refactor that loses the equi-key
    // degenerates to an all-pairs nested-loop over the corpus
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // both join sides read the persisted assignment frame
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("q_host_quota: rank filter compiles to WindowGroupLimit (skew pre-prune)") {
    val p = plan("q_host_quota")
    // Partial limit before the exchange caps what a skewed host ships
    assert(p.contains("WindowGroupLimit"), p)
    assert(countOf(p, "WindowGroupLimit") >= 2, p) // Partial + Final
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one exchange: the per-host window partitioning
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q_lang_top_terms: rank filter compiles to WindowGroupLimit over the aggregated frame") {
    val p = plan("q_lang_top_terms")
    assert(p.contains("WindowGroupLimit"), p)
    assert(countOf(p, "WindowGroupLimit") >= 2, p) // Partial + Final
    // the window runs over (lang, tok) COUNTS, never the token stream:
    // two hash exchanges total (the count agg + the per-lang window)
    assert(countOf(p, "Exchange hashpartitioning") === 2, p)
  }

  test("q_dsir_weights: scoring is shuffle-free after the two fits") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // both model fits (source vocab/total, target counts) run eagerly
      // at construction; the returned plan scores every doc through the
      // literal log-ratio map plus the narrow Gumbel expression — no
      // hash exchange, no join (the q_unigram_nll contract)
      val plan = SparkEntry.queries("q_dsir_weights")(spark, sf)
        .queryExecution.executedPlan
      val hashEx = plan.collect { case e: ShuffleExchangeExec => e }
        .filterNot(_.outputPartitioning.toString.contains("RoundRobin"))
      assert(hashEx.isEmpty, plan.toString)
      assert(!plan.toString.contains("Join"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_ann_pq: queries broadcast over the streamed code table, one hash exchange") {
    val p = plan("q_ann_pq")
    // per-query LUTs ride the broadcast; the corpus side carries only
    // its m codes per row into the scoring join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
    // graft_topk partial+final is the only hash exchange; the outer
    // per-query aggregate reuses its q_id partitioning
    assert(countOf(p, "Exchange hashpartitioning") === 1, p)
  }

  test("q_shared_spans: checkpointed seeds, broadcast df-cap, equi-join pairing") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_shared_spans")(spark, sf)
      val p = df.queryExecution.executedPlan
      val ps = p.toString
      // never all-pairs: pairing is an EQUI-join on the seed gram (SMJ /
      // shuffled-hash are both fine — the shape requirement is no
      // unconditional fan-out)
      assert(!ps.contains("CartesianProduct") &&
        !ps.contains("BroadcastNestedLoopJoin"), ps)
      // the seed base is localCheckpoint'ed (LogicalRDD leaves), so the
      // expensive tokenize+shingle map ran exactly once, upstream, and
      // both pair-join sides read blocks
      assert(ps.contains("ExistingRDD"), ps)
      // the df-cap keys reach the seeds as a BROADCAST semi-side, never
      // a shuffle of the full seed stream against the tiny cap set
      val bhj = p.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, ps)
      // every shuffle is a hash exchange on real keys (gram pairing, run
      // window, final rollups) — no round-robin respread of the
      // already-spread checkpoint, and none below the checkpoint leaves
      val shuffles = p.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.nonEmpty &&
        shuffles.forall(_.outputPartitioning.toString.contains("hashpartitioning")),
        ps)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_span_decontaminate: train seeds prune against a broadcast eval side, no SMJ") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("q_span_decontaminate")(spark, sf)
      val p = df.queryExecution.executedPlan
      val ps = p.toString
      assert(!ps.contains("SortMergeJoin") && !ps.contains("CartesianProduct"), ps)
      val bhj = p.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, ps)
      // below the broadcast join the TRAIN side is a pure map: every
      // hash exchange in the plan sits ABOVE the prune (the run window
      // and the final rollup), so shuffled rows are eval-matching hits
      bhj.foreach { j =>
        import org.apache.spark.sql.catalyst.optimizer.BuildRight
        val probe = if (j.buildSide == BuildRight) j.left else j.right
        val hashEx = probe.collect {
          case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }
        assert(hashEx.isEmpty, j.toString)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("BPE apply is one codegen'd narrow stage (no shuffle, no fallback project)") {
    // fixed merge table — the audited plan is the APPLY path, not the fit
    val df = graft.operators.Bpe.tokenize(
      graft.sources.Tables.table(spark, sf, "documents"), "text",
      Seq(("a", "b"), ("ab", "c")))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
    assert(p.contains("*(1) Project"), p)
    assert(p.toLowerCase.contains("graft_bpe"), p)
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextAnalysis => TA}
import graft.operators.SketchHash.{Md5, XxHash64}
import graft.sources.Tables

/** Text-analysis + dedup queries over the `documents` fixture ([EXT]).
  *
  * Oracle notes: DuckDB's `len`/`year`/`row_number` return BIGINT, so every
  * Spark-side `size()`/count-ish output is cast to long to keep schemas
  * aligned. Regex patterns are written twice (Java regex for Spark, RE2 for
  * DuckDB) with identical semantics.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.table(s, dir, n)

  private val toks = TA.tokens(col("text"))

  /** The simulated month-1 snapshot both delta-curation legs share
    * (q_delta_curate decisions + q_delta_index_write produce path must
    * see identical inputs): %10==3 removed, %10==5 cosmetic append,
    * %10==9 vowel rotation, +500000 exact history copies, +700000
    * substring-of-history docs.
    */
  private def deltaNextSnapshot(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 5,
          concat(col("text"), lit(" revised")))
          .when(col("doc_id") % 10 === 9,
            translate(col("text"), "aeiou", "uoiea"))
          .otherwise(col("text")).as("text"),
        col("lang"))
      .unionAll(docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
          col("lang")))
      .unionAll(docs.filter(col("doc_id") % 10 === 4)
        .select((col("doc_id") + 700000L).as("doc_id"),
          substring(col("text"), 50, 260).as("text"), col("lang")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Quality scoring: token counts, uniqueness, avg token length,
    // stopword ratio — one narrow codegen'd projection.
    "q_text_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_uniq"),
        round(TA.avgTokenLen(col("text")), 4).as("avg_len"),
        round(TA.stopwordRatio(toks), 4).as("stop_ratio"))
    }),

    // Gopher rule suite, ORACLED: the seven Rae-et-al document gates as
    // integer cross-multiplied comparisons (no float thresholds). Line
    // structure is synthesized in-query (the fixture is single-line): a
    // bullet header on every 5th doc, an ellipsis footer on every 3rd,
    // and a stopword-bearing closer on every 2nd (the fixture vocabulary
    // carries only "the"/"a" from the stopword set, one hit), so every
    // line/stopword gate actually discriminates.
    "q_gopher_rules" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, lit("• promo bullet\n"))
            .otherwise(lit("")),
          coalesce(col("text"), lit("")),
          when(col("doc_id") % 2 === 0, lit(" and that is of note"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("\nread more..."))
            .otherwise(lit(""))).as("text"))
      TA.gopherRules(src, "text", "doc_id")
    }),

    // HTML extraction, ORACLED byte-wise: the fixture text is wrapped in
    // a synthesized page whose traps exercise the replacement order —
    // a script body containing bare < and > (must vanish with the block,
    // not leave fragments), a comment, and a double-encoded &amp;amp;
    // (must decode to the literal text "&amp;", not to "&").
    "q_html_strip" -> ((s, dir) => {
      val page = concat(
        lit("<!DOCTYPE html><html><head><style>body{color:red}</style>"),
        lit("<script type=\"text/javascript\">var x = 1 < 2 && 3 > 2;"
          + "</script></head>"),
        lit("<body><!-- nav -->\n<h1 class=\"t\">"),
        substring(col("text"), 1, 40),
        lit("</h1><p>"), substring(col("text"), 41, 80),
        lit(" &amp;amp; x &lt;tag&gt; &quot;q&#39;s&quot; &nbsp;done"
          + "</p></body></html>"))
      t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), TA.stripHtml(page).as("clean"))
    }),

    // Language ID heuristic vs the labeled lang column.
    "q_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TA.langIdHeuristic(col("text")).as("pred_lang"))
        .withColumn("hit",
          when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
    }),

    // ORACLED label-noise confusion matrix ([EXT]): declared lang vs
    // the lang-ID heuristic, per (lang, pred) cell with the within-lang
    // share — the audit that names WHICH labels are noisy before a
    // labeled corpus trains a classifier. One hash agg; the per-lang
    // totals come from a window over the tiny (≤ labels²) cell frame.
    "q_lang_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cells = t(s, dir, "documents")
        .select(col("lang"), TA.langIdHeuristic(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      cells.withColumn("share_micro",
        floor(col("n").cast("long") * 1000000L
          / sum(col("n")).over(Window.partitionBy(col("lang"))))
          .cast("long"))
    }),

    // Deterministic fingerprints: md5 of normalized text + ES
    // canonicalsort-style key (necropolis.json:5-23 chain).
    "q_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TA.fingerprint(col("text")).as("fp"),
        substring(TA.canonicalize(col("text")), 1, 40).as("canon40"))
    }),

    // Exact dedup: group by fingerprint, keep min id (SURVEY §7.2 step 6).
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")),

    // Incremental exact dedup against the bucketed fingerprint index,
    // ORACLED: bootstrap the index from doc_id < 250, then run the full
    // table as the next increment — survivors are min-id keepers of
    // fingerprints the first half never saw. The bucketed-layout
    // one-sided-shuffle property is plan-gated in ScaleLayoutSpec; this
    // row proves the cross-increment semantics. (Table state is
    // per-invocation: dropped and rebuilt each call.)
    "q_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      s.sql("DROP TABLE IF EXISTS inc_fp_idx")
      // the in-memory catalog forgets tables across JVMs but the managed
      // LOCATION survives in the warehouse dir and blocks re-creation —
      // remove it physically too
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "inc_fp_idx")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.operators.Dedup.incrementalExact(
        docs.filter(col("doc_id") < 250), "text", "doc_id",
        "inc_fp_idx", buckets = 8)
      graft.operators.Dedup.incrementalExact(
        docs, "text", "doc_id", "inc_fp_idx", buckets = 8)
        .select(col("doc_id"), col("lang"))
    }),

    // 3-word shingles (ES shingle filter analogue, necropolis.json:26-31).
    "q_shingle_stats" -> ((s, dir) => {
      val sh = TA.shingles(toks)
      t(s, dir, "documents").select(
        col("doc_id"),
        size(sh).cast("long").as("n_shingles"),
        size(array_distinct(sh)).cast("long").as("n_uniq_shingles"))
    }),

    // ORACLED encoding/mojibake audit ([EXT]): per-doc counts of the
    // three ingestion-corruption signatures - U+FFFD replacement chars
    // (lossy transcode), C0/C1 control chars (binary bleed, tab/newline
    // excluded), zero-width chars (laundered text) - plus the clean
    // verdict. Corruptions are planted deterministically (doc_id%6 ->
    // two FFFDs, %7 -> a BEL control, %11 -> ZWSP+ZWJ) so every counter
    // discriminates; pure narrow regex counts, zero shuffles.
    "q_encoding_audit" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat(
        coalesce(col("text"), lit("")),
        when(id % 6 === 0, lit("\ufffd\ufffd")).otherwise(lit("")),
        when(id % 7 === 0, lit("\u0007")).otherwise(lit("")),
        when(id % 11 === 0, lit("\u200b\u200d")).otherwise(lit("")))
      def cnt(re: String) =
        size(regexp_extract_all(col("__t"), lit(re), lit(0))).cast("long")
      t(s, dir, "documents")
        .select(id, synth.as("__t"))
        .select(id,
          cnt("\ufffd").as("n_replacement"),
          cnt("[\u0001-\u0008\u000b\u000c\u000e-\u001f\u007f-\u009f]")
            .as("n_control"),
          cnt("[\u200b-\u200d\u2060\ufeff]").as("n_zero_width"))
        .withColumn("clean",
          (col("n_replacement") === 0L && col("n_control") === 0L &&
            col("n_zero_width") === 0L).cast("long"))
    }),

    // ORACLED Heaps-law exponent ([EXT]): the Zipf companion — β from
    // the log-log regression of per-DOC (tokens → distinct tokens);
    // natural text sits β ≈ 0.4-0.6, a closed tiny vocabulary near 0,
    // near-unique token soup near 1. Doc granularity on purpose: the
    // token counts spread the regressor (per-source totals on the
    // uniform fixture would put the denominator near zero). Pure
    // narrow per-doc sizes + one global agg — zero shuffles before it.
    "q_heaps_law" -> ((s, dir) => {
      val g = t(s, dir, "documents")
        .select(size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq"))
        .filter(col("n_tokens") > 0L && col("n_uniq") > 0L)
      val x = log(col("n_tokens").cast("double"))
      val y = log(col("n_uniq").cast("double"))
      g.agg(count(lit(1)).as("n_docs"), sum(x).as("sx"),
          sum(y).as("sy"), sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("n_docs"),
          round((col("n_docs") * col("sxy") - col("sx") * col("sy"))
            / (col("n_docs") * col("sxx") - col("sx") * col("sx")), 4)
            .as("heaps_beta"))
    }),

    // ORACLED Zipf slope ([EXT]): the log-log least-squares slope over
    // the top-100 term frequencies — the corpus-statistics sanity probe
    // (natural language sits near −1; token soup and boilerplate drift
    // off). The global window runs on 100 rows POST-limit (not the
    // corpus); sums are ~1e2-magnitude doubles, round-4 absorbs the
    // cross-engine summation-order ulps (the q_char_entropy precedent).
    "q_zipf_slope" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy(col("c").desc, col("t"))
      val top = graft.operators.UnigramLm
        .vocabulary(t(s, dir, "documents"), "text", 100)
        .withColumn("r", row_number().over(w).cast("double"))
      val x = log(col("r"))
      val y = log(col("c").cast("double"))
      top.agg(count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            / (col("n") * col("sxx") - col("sx") * col("sx")), 4)
            .as("zipf_slope"))
    }),

    // ORACLED distinct-n ([EXT]): per-source distinct-1/2/3-gram ratios
    // (Li et al. 2016 "distinct-n") — THE generation-diversity report; a
    // mode-collapsed source shows low distinct-2/3. Three exploded
    // gram aggs, each map-side combined (the exchange carries per-source
    // DISTINCT grams); integer micro ratios.
    "q_distinct_n" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def leg(n: Int) = graft.operators.Similarity.spreadIfNarrow(docs)
        .select(col("source"), TA.shingles(toks, n).as("__sh"))
        .select(col("source"), explode(col("__sh")).as("g"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as(s"n_grams_$n"),
          countDistinct(col("g")).as(s"n_uniq_$n"))
        .select(col("source"), col(s"n_grams_$n"), col(s"n_uniq_$n"),
          floor(col(s"n_uniq_$n").cast("long") * 1000000L
            / col(s"n_grams_$n")).cast("long").as(s"distinct_${n}_micro"))
      leg(1).join(leg(2), "source").join(leg(3), "source")
    }),

    // ORACLED n-gram novelty ([EXT]): for each EVAL doc (doc_id%10=0,
    // the q_decontaminate split), the fraction of its 3-gram shingles
    // never seen in the train side — the generation-eval memorization
    // metric (high novelty = the eval text is not a training regurgitation
    // candidate). Same shingle-keyed join shape as decontamination (one
    // exchange per side on the gram; the train side collapses to
    // DISTINCT grams before the anti-join); the 100 TB path adds the
    // decontaminate Bloom prefilter in front of the anti-join.
    "q_ngram_novelty" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = TA.shingles(toks)
      val testSh = graft.operators.Similarity.spreadIfNarrow(
          docs.filter(col("doc_id") % 10 === 0))
        .select(col("doc_id"), sh.as("__sh"))
        .select(col("doc_id"), explode(col("__sh")).as("g"))
      val trainG = graft.operators.Similarity.spreadIfNarrow(
          docs.filter(col("doc_id") % 10 =!= 0))
        .select(sh.as("__sh"))
        .select(explode(col("__sh")).as("g")).distinct()
      val tot = testSh.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"))
      val unseen = testSh.join(trainG, Seq("g"), "left_anti")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_unseen"))
      tot.join(unseen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
          floor(coalesce(col("n_unseen"), lit(0L)).cast("long") * 1000000L
            / col("n_grams")).cast("long").as("novelty_micro"))
    }),

    // BPE-ish subword tokenization.
    "q_token_bpeish" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(TA.tokensBpeish(col("text"))).cast("long").as("n_subtokens"))
    }),

    // True n-gram Jaccard on a bounded deterministic pair set (adjacent
    // doc ids) — the verify stage of near-dup dedup, oracle-checked.
    "q_ngram_jaccard" -> ((s, dir) => {
      val sh = TA.shingles(toks)
      val docs = t(s, dir, "documents").select(col("doc_id"), sh.as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          round(Dedup.jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
    }),

    // Set-overlap F1 on the adjacent-doc pairing plus an asymmetric pair
    // (doc vs its own first-half substring) so F1 visibly sits between
    // the two containment directions, ORACLED: exact integer counts, one
    // rounded division.
    "q_ngram_f1" -> ((s, dir) => {
      val sh = TA.shingles(toks)
      val base = t(s, dir, "documents")
      val docs = base.select(col("doc_id"), sh.as("sh")).unionAll(
        base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 300000L).as("doc_id"),
            TA.shingles(TA.tokens(substring(col("text"), 1, 90))).as("sh")))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select(
        when(col("doc_id") >= 300000L, col("doc_id") - 300000L)
          .otherwise(col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "id_a")
        .select(col("id_a"), col("id_b"),
          Dedup.ngramF1(col("sh_a"), col("sh_b")).as("f1"),
          round(Dedup.containment(col("sh_a"), col("sh_b")), 4).as("cont_ab"),
          round(Dedup.containment(col("sh_b"), col("sh_a")), 4).as("cont_ba"))
    }),

    // ES analysis-chain normalizer: asciifold + canonicalsort key.
    // (Fixture text is pure ASCII, so fold is identity here; accented
    // inputs are covered by the TextAnalysisSpec golden tests.)
    "q_asciifold" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        substring(TA.asciiFold(col("text")), 1, 30).as("folded30"),
        length(TA.asciiFold(col("text"))).cast("long").as("n_chars_folded"))
    }),

    // Rows-only (no SQL oracle): MinHash signatures + LSH band keys, the
    // shuffle-free stage of near-dup detection.
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashed(t(s, dir, "documents"), "text", "doc_id", XxHash64)
        .select(col("doc_id"),
          element_at(col("minhash_sig"), 1).as("sig0"),
          element_at(col("band_keys"), 1).as("band0"),
          size(col("minhash_sig")).cast("long").as("k"))),

    // Curation-pipeline core, oracled end to end: quality gate (token
    // count + stopword ratio) → language gate → exact dedup (min-id per
    // fingerprint) → per-source survivor stats. The full pipeline adds
    // MinHash near-dup removal + the hash split (Curation.curate,
    // covered by OperatorSpec — LSH candidates aren't SQL-expressible).
    "q_curation_core" -> ((s, dir) => {
      import graft.operators.Curation
      val kept = Curation.dropExactDups(
        Curation.qualityFilter(t(s, dir, "documents"), "text", "lang",
          Curation.Config(minTokens = 30, maxStopRatio = 0.6,
            langs = Seq("en"))),
        "text", "doc_id")
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(size(toks)), 4).as("avg_tokens"))
    }),

    // The COMPOSED curation pipeline, oracled end to end: quality gate →
    // eval-set decontamination (eval = every 17th document, so the oracle
    // predicts the contaminated set from the same shared-shingle
    // semantics) → exact dedup → LSH near-dup removal → split. Train and
    // test are re-unioned for the oracle (the split is disjoint and
    // exhaustive, proven in OperatorSpec; its xxhash64 isn't
    // cross-engine). DuckDB verifies the near-dup stage by brute-force
    // jaccard over the survivors — candidate generation differs (LSH vs
    // all-pairs), the kept set must not.
    "q_curate_full" -> ((s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      val eval = docs.filter(col("doc_id") % 17 === 0).select(col("text"))
      // curateFlagged, not curate + unionByName: the union of the two
      // filtered halves carries TWO copies of the survivor join in the
      // final plan; train ∪ test = all survivors, so aggregating the
      // flagged frame directly is row-identical with one copy
      Curation.curateFlagged(docs, "doc_id", "text", "lang",
        Curation.Config(minTokens = 30, maxStopRatio = 0.6, langs = Seq("en")),
        evalSet = Some(eval))
        .drop("__is_test")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(size(toks)), 4).as("avg_tokens"))
    }),

    // ORACLED MinHash: Dedup.minhashSignature under md5 (bit-identical
    // across engines, so the signature itself hash-compares — the
    // xxhash64 family in q_minhash_lsh is the fast path; this one proves
    // the min-over-permuted-shingles semantics end to end).
    "q_minhash_md5" -> ((s, dir) => {
      // compute-heavy narrow map (shingling + 4 md5 per shingle): spread
      // the single-file scan across cores BEFORE any of it runs. No
      // shingle-count filter: a pre-sig filter gets predicate-pushed below
      // the exchange and recomputes the whole shingle expression on the
      // unspread side (observed 30x slower); shingle-less docs simply
      // yield NULL sigs — the md5 empty component and DuckDB list_min([])
      // agree.
      graft.operators.Similarity.spreadIfNarrow(t(s, dir, "documents"))
        .select(col("doc_id"),
          Dedup.minhashSignature(TA.shingles(toks), 4, Md5).as("s"))
        .select(col("doc_id") +:
          (0 until 4).map(i => element_at(col("s"), i + 1).as(s"sig$i")): _*)
    }),

    // ORACLED token-budget mixture: the mixture a training run actually
    // specifies (N tokens per source, not N docs) — per language, docs
    // in md5 draw order until the token budget is crossed (exceeded by
    // at most one doc), es/de dropped (no budget). One per-stratum
    // running-sum window; DuckDB replays the draw order and the exact
    // integer cumsum.
    "q_token_mixture" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(toks).cast("long").as("n_toks"))
      graft.operators.Sampling.tokenBudgetMixture(
        docs, "lang", "doc_id", "n_toks",
        Map("en" -> 20000L, "zh" -> 5000L, "fr" -> 3000L))
    }),

    // ORACLED temperature-flattened mixture (T = 0.5, the sqrt knob):
    // a skewed synthetic stratum (50/25/15/7/3% of docs) is flattened
    // into sqrt-proportional quotas — the small strata visibly
    // up-sample vs raw proportions — and the kept rows are the first
    // `quota` per stratum in md5 draw order. DuckDB replays the counts,
    // the 6-decimal-rounded sqrt sum, the floor quotas, and the draw.
    "q_quota_mixture" -> ((s, dir) => {
      val m = col("doc_id") % 100
      val stratum = when(m < 50, "b0").when(m < 75, "b1")
        .when(m < 90, "b2").when(m < 97, "b3").otherwise("b4")
      graft.operators.Sampling.quotaMixture(
        t(s, dir, "documents").select(col("doc_id"), stratum.as("stratum")),
        "stratum", "doc_id", totalDocs = 200L)
    }),

    // ORACLED mixture sampling: fractional epoch weights per language —
    // en up-sampled 2.5× (every doc twice, an md5-chosen half a third
    // time), de down-sampled to 0.5, zh dropped (absent) — DuckDB
    // reproduces the copy counts bit-identically from the same md5 hash.
    "q_mixture" -> ((s, dir) => {
      graft.operators.Sampling.mixture(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id",
        Map("en" -> 2.5, "de" -> 0.5, "es" -> 1.0, "fr" -> 1.0))
        // DuckDB's generate_series yields BIGINT
        .select(col("doc_id"), col("lang"), col("copy").cast("long").as("copy"))
    }),

    // Z-order key, ORACLED: the Morton interleave of quantized
    // (doc_id, n_chars) — pure shift/mask algebra, so the multi-column
    // layout decision itself hash-compares cross-engine.
    "q_zorder" -> ((s, dir) => {
      import graft.operators.ZOrder
      t(s, dir, "documents").select(
        col("doc_id"),
        ZOrder.zValue(col("doc_id"), 0.0, 10000.0,
          col("n_chars"), 0.0, 2000.0).as("z"))
    }),

    // Fuzzy key join, ORACLED: synthesized keys with deliberate edit-1
    // collisions (shared bases, some with a trailing char) run through
    // the deletion-neighborhood candidate join + Levenshtein verify;
    // DuckDB replays the identical neighborhood and verify.
    "q_fuzzy_join" -> ((s, dir) => {
      val key = concat(lit("key"), (col("doc_id") % 40).cast("string"),
        when(col("doc_id") % 7 === 0, lit("x")).otherwise(lit("")))
      graft.operators.FuzzyJoin.pairsWithin1(
        t(s, dir, "documents").withColumn("k", key), "k", "doc_id")
    }),

    // Corpus data card, ORACLED: per-source volume/token/dup/lang-mode
    // rollup — the publishable dataset summary.
    "q_data_card" -> ((s, dir) =>
      graft.operators.CorpusReport.dataCard(
        t(s, dir, "documents"), "source", "text", "lang")),

    // Temperature-scaled mixture, ORACLED: weights are fitted from the
    // per-lang counts with alpha = 0.5 (sqrt — IEEE-correctly-rounded in
    // every engine, unlike pow), normalizer and weights rounded to 6
    // decimals, then applied through the same md5 epoch draw as
    // q_mixture. DuckDB refits the weights and replays the draw.
    "q_temp_mixture" -> ((s, dir) => {
      graft.operators.Sampling.temperatureMixture(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", alpha = 0.5, targetTotal = 1000L)
        .select(col("doc_id"), col("lang"), col("copy").cast("long").as("copy"))
    }),

    // ORACLED context-window chunking: 40-token windows advancing by 32
    // (8-token overlap), exploded to one row per chunk — DuckDB mirrors
    // the chunk-count formula and list_slice clamping exactly.
    "q_chunk_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TA.chunkTokens(toks, window = 40, overlap = 8))
            .as(Seq("ci", "chunk")))
        .select(col("doc_id"),
          (col("ci") + 1).cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_chunk_tokens"),
          element_at(col("chunk"), 1).as("head_tok"))
    }),

    // Rows-only: greedy sequence packing (per-partition first-fit is
    // inherently sequential — not SQL-expressible; invariants are
    // spec-tested: exhaustive, budget-bounded, deterministic).
    // ORACLED since round 7: the portable md5 bucket draw makes the
    // mapPartitions greedy pass a pure function of (ids, counts, budget,
    // n) — DuckDB replays each bucket's sequential fill with a recursive
    // CTE and hash-compares every bin row (the xxhash64 default draw
    // stays the hot-path option; OperatorSpec covers it).
    "q_pack_bins" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packGreedy(
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048, nPartitions = 8,
        portableDraw = true)
        .toDF()
        .select(col("bin_id"), col("n_docs").cast("long").as("n_docs"),
          col("total_tokens"))
    }),

    // ORACLED packing: the md5-bucketed next-fit variant is a pure
    // function of (ids, token counts, budget, buckets), so DuckDB can
    // replay the sequential pass with a recursive CTE and hash-compare
    // every doc's (bucket, bin) slot — cross-engine proof of the
    // sequential packing semantics that q_pack_bins can only rows-check.
    "q_pack_nextfit_md5" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packNextFit(
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, nBuckets = 8)
    }),

    // Packing efficiency report, ORACLED: per-bin doc/token/waste/
    // oversize rollup of the md5-bucketed next-fit assignment — all
    // integer columns, aggregated in-task from the pack pass (no join
    // back to the corpus). DuckDB reuses the q_pack_nextfit_md5
    // recursive replay and GROUPs it.
    "q_pack_stats" -> ((s, dir) => {
      import graft.operators.Packing
      Packing.packStats(
        t(s, dir, "documents")
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 512, nBuckets = 8)
    }),

    // Packing driven by REAL learned-BPE token counts (the composition the
    // BPE operator exists for: budget = actual subword tokens, not regex
    // words). Rows-only like q_pack_bins; the BPE counts themselves are
    // pinned by BpeSpec + the q_bpe_lossless oracle.
    // ORACLED since round 7 (via the fitted-merge dynamic oracle): BPE
    // token counts from the fitted merges feed the portable greedy pass,
    // so DuckDB re-derives the segmentation AND replays the packing.
    "q_pack_bpe" -> ((s, dir) => {
      import graft.operators.{Bpe, Packing}
      val counted = Bpe
        .tokenize(t(s, dir, "documents"), "text", fittedMerges(s, dir))
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_tokens"))
      Packing.packGreedy(counted, "doc_id", "n_tokens",
        budget = 4096, nPartitions = 8, portableDraw = true)
        .toDF()
        .select(col("bin_id"), col("n_docs").cast("long").as("n_docs"),
          col("total_tokens"))
    }),

    // ORACLED unigram-LM scoring: corpus-fit top-1000 vocabulary becomes a
    // literal map, scoring is a narrow per-doc fold (no join/shuffle —
    // see UnigramLm scaladoc); DuckDB refits the same model relationally.
    // CCNet-style perplexity bucketing, ORACLED through the whole chain:
    // unigram fit -> narrow scoring -> threshold fit on the first 200
    // docs in md5(id) order (exact order statistics, integer ceil
    // ranks) -> literal-comparison bucket labels.
    "q_ppl_buckets" -> ((s, dir) =>
      graft.operators.UnigramLm.perplexityBucketsWith(
        t(s, dir, "documents"), "text", "doc_id",
        uniLm(s, dir), sampleSize = 200, headPct = 30, midPct = 30)),

    "q_unigram_nll" -> ((s, dir) => {
      graft.operators.UnigramLm.scoresWith(
        t(s, dir, "documents"), "text", "doc_id", uniLm(s, dir))
    }),

    // ORACLED decontamination: documents split into train (doc_id%10≠0)
    // and eval (doc_id%10=0); contaminated train docs = those sharing any
    // 3-gram shingle with eval. The Bloom prefilter stage is invisible to
    // the result (exact verify follows), so DuckDB reproduces it with a
    // plain shingle join.
    "q_decontaminate" -> ((s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      Curation.decontaminate(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0),
        "text", "doc_id")
    }),

    // ORACLED eval-side leakage report: the per-eval-row view of
    // q_decontaminate (same split, grouped by the eval doc instead of
    // the train doc).
    "q_contamination_report" -> ((s, dir) => {
      import graft.operators.Curation
      val docs = t(s, dir, "documents")
      Curation.contaminationReport(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "text", "doc_id", "eval_id")
    }),

    // ORACLED asymmetric containment |A∩B|/|A| on the adjacent-id pair
    // set: the quote/wrapper signal symmetric Jaccard misses.
    "q_containment" -> ((s, dir) => {
      val sh = TA.shingles(toks)
      val docs = t(s, dir, "documents").select(col("doc_id"), sh.as("sh"))
      val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = docs.select((col("doc_id") - 1).as("id_a"),
        col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, "id_a").select(col("id_a"), col("id_b"),
        round(Dedup.containment(col("sh_a"), col("sh_b")), 4).as("cont_ab"),
        round(Dedup.containment(col("sh_b"), col("sh_a")), 4).as("cont_ba"))
    }),

    // ORACLED SimHash: md5-hex-digit bits (cross-engine identical) packed
    // into a 16-bit signature — proves the vote-and-threshold fold end to
    // end; the same fold under 64-bit xxhash64 is the streaming fast
    // path. Compute-heavy narrow map ⇒ spread the single-file scan first.
    "q_simhash_md5" -> ((s, dir) => {
      graft.operators.Similarity.spreadIfNarrow(t(s, dir, "documents"))
        .select(col("doc_id"), Dedup.simhash(toks, 16, Md5).as("simhash16"))
    }),

    // ORACLED document-fingerprint frame: BOTH order-sensitive signatures
    // (SimHash + rolling hash) computed in one narrow pass under md5, so
    // the frame hash-compares cross-engine (the 64-bit xxhash64 SimHash
    // is covered by OperatorSpec/StreamingSpec). Compute-heavy narrow
    // map ⇒ spread the single-file scan first.
    "q_text_signatures" -> ((s, dir) => {
      graft.operators.Similarity.spreadIfNarrow(t(s, dir, "documents"))
        .select(
          col("doc_id"),
          Dedup.simhash(toks, 16, Md5).as("simhash16"),
          TA.rollingHash(toks).as("rolling_md5"))
    }),

    // ORACLED rolling hash: md5-prefix token hashes (cross-engine
    // identical) through the same base-31 mod-1e9+7 left fold, so the
    // order-sensitive fold in q_text_signatures has an independently
    // verified sibling (DuckDB folds with list_reduce). Narrow
    // compute-heavy map ⇒ spread the single-file scan first.
    "q_rolling_md5" -> ((s, dir) => {
      graft.operators.Similarity.spreadIfNarrow(t(s, dir, "documents"))
        .select(col("doc_id"), TA.rollingHash(toks).as("rolling_md5"))
    }),

    // All-match extraction: digit runs and vowel runs per doc (the
    // pattern-mining flavor of quality scoring).
    "q_regexp_extract_all" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
          .cast("long").as("n_nums"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiou]+"), lit(0)))
          .cast("long").as("n_vowel_runs"))
    }),

    // Edit distance over a bounded deterministic pair set (fuzzy-dedup
    // verify stage; systematic doc_id % 20 sample keeps it O((n/20)²) and
    // broadcastable — at corpus scale candidates come from LSH, never
    // all-pairs). Size-gated: the sample still grows linearly with the
    // corpus, so past the broadcast bound this fails fast instead of
    // OOMing the driver.
    "q_levenshtein" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 20 === 0)
        .select(col("doc_id"), substring(col("text"), 1, 30).as("head30"))
      graft.operators.Similarity.requireBroadcastable(docs, 1000000L,
        "q_levenshtein %20 sample", "Dedup.nearDupPairs (LSH candidates)")
      val a = docs.select(col("doc_id").as("id_a"), col("head30").as("t_a"))
      val b = docs.select(col("doc_id").as("id_b"), col("head30").as("t_b"))
      a.crossJoin(broadcast(b))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          levenshtein(col("t_a"), col("t_b")).cast("long").as("dist"))
    }),

    // collect_set + deterministic ordering: per-source language inventory
    // (sorted before join so the set's arrival order can't leak into the
    // result).
    "q_collect_sorted" -> ((s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(concat_ws(",", array_sort(collect_set(col("lang"))))
          .as("langs"))
    }),

    // posexplode with ordinality: token stream with positions (the
    // generator/fan-out shape — SURVEY §2.J table-generating note).
    "q_tokens_ordinal" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos0", "tok")))
        .select(col("doc_id"), col("tok"),
          (col("pos0") + 1).cast("long").as("pos"))
    }),

    // Vocabulary build: corpus-wide token frequencies, top 50 with
    // deterministic tiebreak. explode → partial+final hash agg →
    // TakeOrderedAndProject (per-partition heap, O(k) to the driver) — the
    // tokenizer-vocab shape at any corpus size.
    "q_vocab_topk" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(toks).as("tok"))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
    }),

    // TF-IDF: each doc's highest-scoring term. Three aggregations over the
    // exploded token stream (tf per doc-term, df per term, corpus N); the
    // df table is a broadcast (vocabulary-sized — fits as long as the
    // vocab does, the standard assumption), and the per-doc argmax is a
    // min_by/max aggregate over the ROUNDED score, so the exchange after
    // scoring carries ONE row per doc — a row_number window here would
    // shuffle and sort the entire doc-term stream. Tiebreak (score desc,
    // tok asc) via min_by on (-tfidf, tok).
    "q_tfidf_top_term" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.select(col("doc_id"), explode(toks).as("tok"))
      val tf = pairs.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(n))
        .withColumn("tfidf",
          round(col("tf") * log((col("n_docs") + 1).cast("double") /
            (col("df") + 1).cast("double")), 4))
      scored.groupBy(col("doc_id"))
        .agg(min_by(col("tok"), struct(-col("tfidf"), col("tok")))
          .as("top_tok"),
          max(col("tfidf")).as("tfidf"))
        .select(col("doc_id"), col("top_tok"), col("tfidf"))
    }),

    // PII redaction, ORACLED: the fixture text carries no PII, so both
    // engines append an identical synthesized email/IP/phone tail derived
    // from doc_id (the q_flatten_export in-query-synthesis trick), then
    // redact with the same pattern set in the same email→IP→phone order.
    // The md5 of the redacted text hash-compares byte-wise cross-engine.
    // ORACLED code-detection flags ([EXT]): the prose-vs-code corpus
    // splitter — brace/semicolon density, assignment/camelCase hits,
    // indent-start lines, and the verdict (≥2 signals). Code fragments
    // are planted for doc_id%8=0 (a braces+semicolon line) and %13=0
    // (an indented camelCase assignment) so every signal discriminates;
    // pure narrow regex counts, zero shuffles.
    "q_code_detect" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat_ws("\n",
        coalesce(col("text"), lit("")),
        when(id % 8 === 0,
          lit("int f(int x) { return x * 2; }")).otherwise(lit("")),
        when(id % 13 === 0,
          lit("    someValue = otherValue + computeTotal(x);"))
          .otherwise(lit("")))
      def cnt(re: String) =
        size(regexp_extract_all(col("__t"), lit(re), lit(0))).cast("long")
      t(s, dir, "documents")
        .select(id, synth.as("__t"))
        .select(id,
          cnt("[{}]").as("n_braces"),
          cnt(";").as("n_semicolons"),
          cnt("[a-z][a-zA-Z0-9]*[A-Z][a-zA-Z0-9]*").as("n_camel"),
          cnt("(?m)^[ \\t]{4,}\\S").as("n_indent_lines"))
        .withColumn("code_like",
          ((col("n_braces") > 0L).cast("int")
            + (col("n_semicolons") > 0L).cast("int")
            + (col("n_camel") > 0L).cast("int")
            + (col("n_indent_lines") > 0L).cast("int") >= 2)
            .cast("long"))
    }),

    // ORACLED per-source PII risk rollup ([EXT]): the report a release
    // gate reads — per source, the share of documents carrying any PII
    // and the per-kind totals. PII is planted sparsely (email for
    // doc_id%4=0, ip for %9=0) so the rates discriminate; one
    // map-side-combined agg over the narrow per-doc counts.
    "q_pii_by_source" -> ((s, dir) => {
      val id = col("doc_id")
      val synth = concat(col("text"),
        when(id % 4 === 0, concat(lit(" reach user"),
          (id % 50).cast("string"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(id % 9 === 0, concat(lit(" from 10.1."),
          (id % 256).cast("string"), lit(".7"))).otherwise(lit("")))
      val (ne, ni, np) = graft.operators.Redaction.piiCounts(synth)
      t(s, dir, "documents")
        .select(col("source"), ne.as("ne"), ni.as("ni"), np.as("np"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("ne") + col("ni") + col("np") > 0L).cast("long"))
            .as("n_docs_with_pii"),
          sum(col("ne")).as("n_emails"), sum(col("ni")).as("n_ips"),
          sum(col("np")).as("n_phones"))
        .select(col("source"), col("n_docs"), col("n_docs_with_pii"),
          floor(col("n_docs_with_pii").cast("long") * 1000000L
            / col("n_docs")).cast("long").as("pii_rate_micro"),
          col("n_emails"), col("n_ips"), col("n_phones"))
    }),

    "q_pii_redact" -> ((s, dir) => {
      val synth = concat(col("text"),
        lit(" contact user"), (col("doc_id") % 100).cast("string"),
        lit("@mail"), (col("doc_id") % 10).cast("string"),
        lit(".example.com or call +1 (555) 123-"),
        (lit(4000) + col("doc_id") % 1000).cast("string"),
        lit(" or ping 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"))
      val (ne, ni, np) = graft.operators.Redaction.piiCounts(synth)
      t(s, dir, "documents").select(
        col("doc_id"),
        md5(graft.operators.Redaction.redactPii(synth)).as("red_md5"),
        ne.as("n_emails"), ni.as("n_ips"), np.as("n_phones"))
    }),

    // URL canonicalization, ORACLED: synthesized well-formed URLs (mixed-
    // case host, trailing-slash path, query) through parse_url vs DuckDB
    // regexes — host lowering, www-strip, trailing-slash trim, and query
    // extraction all hash-compared.
    "q_url_parts" -> ((s, dir) => {
      val R = graft.operators.Redaction
      val url = concat(
        lit("https://www.sub"), (col("doc_id") % 7).cast("string"),
        lit(".Example.com/p/"), col("doc_id").cast("string"),
        lit("/?q="), col("lang"))
      t(s, dir, "documents").select(
        col("doc_id"),
        R.urlHost(url).as("host"),
        R.urlPath(url).as("path"),
        R.urlQuery(url).as("query"),
        R.canonicalUrl(url).as("canon"))
    }),

    // Connected components (transitive dedup clustering), ORACLED: a
    // deterministic SQL-expressible edge set — consecutive doc_ids with
    // the same lang — runs through the distributed large-star/small-star
    // loop, and DuckDB independently computes the same components with a
    // recursive CTE. The edge set forms long chains (path graphs), the
    // adversarial diameter case for CC. Isolated docs coalesce to
    // themselves.
    "q_dedup_clusters" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val a = d.select(col("doc_id").as("src"), col("lang").as("l1"))
      val b = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = a.join(b, "src").filter(col("l1") === col("l2"))
        .select(col("src"), col("dst"))
      val comp = graft.operators.ConnectedComponents.run(edges, "src", "dst")
      d.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
    }),

    // Quality-aware canonical selection, ORACLED: same SQL-expressible
    // chain components as q_dedup_clusters, but each cluster elects the
    // argmax-n_chars member (id tie-break) as its keeper — the
    // keep-the-cleanest-copy policy. One join + one struct-max agg; the
    // DuckDB replay is a row_number window over the recursive components.
    "q_canonical_keeper" -> ((s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val a = d.select(col("doc_id").as("src"), col("lang").as("l1"))
      val b = d.select((col("doc_id") - 1).as("src"),
        col("doc_id").as("dst"), col("lang").as("l2"))
      val edges = a.join(b, "src").filter(col("l1") === col("l2"))
        .select(col("src"), col("dst"))
      val comp = graft.operators.ConnectedComponents.run(edges, "src", "dst")
      val clusters = d.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id").as("id"),
          coalesce(col("component"), col("doc_id")).as("component"))
      Dedup.canonicalPerCluster(clusters, t(s, dir, "documents"),
        "doc_id", "n_chars")
    }),

    // Transitive near-dup clusters over the FULL LSH chain, ORACLED since
    // round 7 via md5 permutations (the q_incr_neardup trick): md5
    // signatures (k=8) → baked-band keys (4 bands) → capped candidate
    // self-join → true-Jaccard verify at 0.8 → connected components.
    // DuckDB replays signature, banding, cap, verify, AND the component
    // closure (recursive CTE), so the whole pair-graph → CC → cluster
    // path hash-checks cross-engine. The xxhash64 fast path keeps its
    // coverage through q_minhash_lsh and the curation pipeline.
    "q_neardup_clusters" -> ((s, dir) => neardupClusters(s, dir)),

    // Cluster-disjoint split, ORACLED end to end: the full md5 LSH ->
    // verify -> component chain above feeds
    // Sampling.clusterDisjointSplit, so whole near-dup clusters land on
    // one side of the 0.3 draw (the leakage-safe eval split); DuckDB
    // replays the cluster closure AND the component-keyed md5 draw.
    "q_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text"))
      // the cluster frame feeds the side-label join AND the split's own
      // group join; checkpoint so the LSH+CC chain runs once
      val clusters = neardupClusters(s, dir).localCheckpoint()
      val (tr, te) = graft.operators.Sampling.clusterDisjointSplit(
        docs, "doc_id", clusters, 0.3)
      val sides = tr.select(col("doc_id"), lit("train").as("side"))
        .unionAll(te.select(col("doc_id"), lit("test").as("side")))
      clusters.join(sides, Seq("doc_id"))
        .select(col("doc_id"), col("component"), col("side"))
    }),

    // Learned-BPE tokenization (VERDICT r3 item 5): fit a 200-merge table
    // on the corpus (distributed word counts, bounded driver loop), apply
    // it via the codegen'd graft_bpe expression. The merge loop is not
    // SQL-expressible, so this row is rows-only; segmentation itself is
    // pinned by BpeSpec goldens and the lossless invariant is oracled
    // separately (q_bpe_lossless).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Bpe
        .tokenize(docs, "text", fittedMerges(s, dir))
        .select(col("doc_id"),
          size(col("bpe_tokens")).cast("long").as("n_bpe"),
          element_at(col("bpe_tokens"), 1).as("first_tok"))
    }),

    // Tokenizer fertility report, ORACLED under the fitted merges: per
    // language, BPE tokens per pre-tokenization unit and characters per
    // BPE token — the metric that decides whether a tokenizer is
    // acceptable for a language mix before committing a vocab. One
    // narrow scoring pass + one small agg; DuckDB re-derives the same
    // segmentation from the embedded merge list.
    "q_bpe_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val units = regexp_extract_all(lower(col("text")),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
      graft.operators.Bpe
        .tokenize(docs, "text", fittedMerges(s, dir))
        .filter(col("text").isNotNull)
        .select(col("lang"),
          size(col("bpe_tokens")).cast("long").as("nb"),
          size(units).cast("long").as("nu"),
          length(concat_ws("", units)).cast("long").as("nc"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("n_bpe"),
          sum(col("nu")).as("n_units"),
          when(sum(col("nu")) === 0L, lit(0.0))
            .otherwise(round(sum(col("nb")).cast("double")
              / sum(col("nu")).cast("double"), 6)).as("fertility"),
          when(sum(col("nb")) === 0L, lit(0.0))
            .otherwise(round(sum(col("nc")).cast("double")
              / sum(col("nb")).cast("double"), 6)).as("chars_per_tok"))
    }),

    // ORACLED BPE invariant: merges only ever concatenate adjacent pieces
    // inside a word, so joining the BPE tokens reconstructs the joined
    // word pieces exactly — which DuckDB can compute independently from
    // the raw text (same pre-tokenization regex). Verifies the whole
    // distributed apply path (regex parity + merge application) byte-wise
    // without needing the merge loop in SQL.
    "q_bpe_lossless" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Bpe
        .tokenize(docs, "text", fittedMerges(s, dir))
        .select(col("doc_id"),
          when(col("text").isNull, lit(null).cast("string"))
            .otherwise(md5(concat_ws("", col("bpe_tokens"))))
            .as("joined_md5"))
    }),

    // Intra-doc line dedup (repetition removal), ORACLED: the fixture text
    // is single-line, so both engines synthesize the same repetitive
    // multi-line page (boilerplate repeated verbatim between content
    // slices — the q_pii_redact synthesis trick), then keep each line's
    // first occurrence in order. The md5 of the deduped page plus the
    // line counts hash-compare byte-wise.
    "q_line_dedup" -> ((s, dir) => {
      val synth = concat_ws("\n",
        substring(col("text"), 1, 30),
        lit("subscribe now"),
        substring(col("text"), 1, 30),
        lit("subscribe now"),
        substring(col("text"), 31, 30))
      val lines = split(synth, "\\n")
      t(s, dir, "documents").select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(array_distinct(lines)).cast("long").as("n_uniq_lines"),
        md5(TA.dedupLines(synth)).as("dedup_md5"))
    }),

    // Naive-Bayes lang classifier, ORACLED: fit on the labeled corpus
    // (top-500 vocab, Laplace smoothing), predict every doc; DuckDB
    // refits the same model relationally and replays the rounded-score
    // argmax with the same larger-label tie-break.
    "q_nb_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.NaiveBayes.predict(docs, "text", "doc_id",
        graft.operators.NaiveBayes.fit(docs, "text", "lang"))
    }),

    // Interpolated bigram-LM scoring, ORACLED: DuckDB refits the same
    // top-1000 unigram + top-2000 bigram tables and replays the
    // λ·P(w2|w1) + (1−λ)·P(w2) interpolation per adjacent pair.
    "q_bigram_nll" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.UnigramLm.bigramScoresWith(docs, "text", "doc_id",
        graft.operators.UnigramLm.fitBigram(docs, "text"))
    }),

    // Group-disjoint split, ORACLED: every row of a source lands on the
    // same side (the leakage-safe split — near-dups cluster within
    // sources, and a per-doc draw would let a doc sit in train with its
    // sibling in test). The md5 group draw replays verbatim in DuckDB;
    // NULL sources go to train.
    "q_group_split" -> ((s, dir) => {
      val (train, test) = graft.operators.Sampling.groupDisjointSplit(
        t(s, dir, "documents"), "source", testFraction = 0.3)
      train.select(col("doc_id"), col("source"), lit("train").as("side"))
        .unionAll(test.select(col("doc_id"), col("source"),
          lit("test").as("side")))
    }),

    // Per-host quota, ORACLED: the q_url_parts synthesized URLs give 7
    // hosts; capPerKey keeps 5 docs per host by md5(id) order, which
    // DuckDB replays verbatim. Composes the URL canonicalization and the
    // quota operators end-to-end.
    "q_host_quota" -> ((s, dir) => {
      val R = graft.operators.Redaction
      val url = concat(
        lit("https://www.sub"), (col("doc_id") % 7).cast("string"),
        lit(".Example.com/p/"), col("doc_id").cast("string"),
        lit("/?q="), col("lang"))
      val docs = t(s, dir, "documents").withColumn("host", R.urlHost(url))
      graft.operators.Sampling.capPerKey(docs, "host", "doc_id", 5)
        .select(col("doc_id"), col("host"))
    }),

    // BM25 retrieval, ORACLED: a literal 3-query set scored against the
    // corpus, top-10 per query. Scores are rounded to 4 decimals before
    // ranking and tie-broken by doc_id so the rank is engine-stable;
    // avgdl is rounded to 6 decimals on both sides so the one corpus
    // scalar is bit-identical before it feeds every contribution.
    "q_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qdf = Seq(
        (1L, "spark query engine"),
        (2L, "data scan filter"),
        (3L, "the partition of documents")).toDF("query_id", "qtext")
      graft.operators.Bm25.topK(
        t(s, dir, "documents"), "doc_id", "text",
        qdf, "query_id", "qtext", k = 10)
    }),

    // DSIR-style importance weighting, ORACLED: the English slice of the
    // corpus plays the high-quality target; every document is scored by
    // the mean per-token log likelihood ratio between a target-fitted
    // and a source-fitted Laplace-smoothed unigram model (source top-1000
    // vocab + OOV bucket), then the Gumbel-perturbed keep decision
    // replays the deterministic md5 draw. DuckDB refits both models and
    // replays the draw; smoothing uses the FITTED vocab size on both
    // sides.
    "q_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val D = graft.operators.Dsir
      D.importanceScores(docs, docs.filter(col("lang") === "en"),
          "text", "doc_id", vocabSize = 1000)
        .withColumn("kept",
          D.gumbelKeep(col("logratio"), col("doc_id"), threshold = 0.5))
    }),

    // Incremental NEAR-dup against the banded signature index, ORACLED:
    // increment 1 bootstraps the index with the corpus; increment 2 is a
    // synthesized batch — exact copies (must drop), tail-extended
    // near-dups (drop iff a band collides AND est-Jaccard clears 0.7),
    // and vowel-rotated texts (shingles differ, kept; short texts have
    // no shingles and pass through unexamined). DuckDB replays both
    // increments: md5 signatures, baked-band keys, the candidate join,
    // and the component-match estimate. (Index table state is
    // per-invocation: dropped and rebuilt each call.)
    "q_incr_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      s.sql("DROP TABLE IF EXISTS inc_nd_idx")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "inc_nd_idx")
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      graft.operators.Dedup.incrementalNearDupMd5(
        docs, "text", "doc_id", "inc_nd_idx", buckets = 8)
      val batch = docs.select(
        (col("doc_id") + 100000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, col("text"))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" qq7x ww8y ee9z")))
          .otherwise(translate(col("text"), "aeiou", "uoiea"))
          .as("text"))
      graft.operators.Dedup.incrementalNearDupMd5(
        batch, "text", "doc_id", "inc_nd_idx", buckets = 8)
        .select(col("doc_id"))
    }),

    // Exact shared-span detection, ORACLED: longest verbatim token run
    // per document pair via positioned 5-gram seeds, a df-capped
    // cross-doc equi-join, and diagonal island-merging — the
    // exact-substring dedup shape a suffix-array pipeline computes,
    // expressed relationally. The corpus is augmented with character
    // substrings of the first 50 docs so partial-overlap pairs exist
    // beyond the fixture's exact duplicates. All-integer arithmetic.
    "q_shared_spans" -> ((s, dir) => {
      graft.operators.SpanDedup.sharedSpans(
        spanFixture(s, dir), "text", "doc_id",
        l = 5, minSpan = 8, maxDf = 50)
    }),

    // Per-document contamination rollup of the same spans: longest span
    // shared with any partner + partner count — the strip-or-drop gate.
    "q_span_contamination" -> ((s, dir) => {
      graft.operators.SpanDedup.spanContamination(
        spanFixture(s, dir), "text", "doc_id",
        l = 5, minSpan = 8, maxDf = 50)
    }),

    // Span decontamination vs a broadcast eval set, ORACLED: eval rows
    // are character substrings of 40 corpus docs, so some train docs
    // verbatim-quote an "eval answer". Train seeds prune in-task against
    // the broadcast eval grams; only match rows ever shuffle.
    "q_span_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ev = docs.filter(col("doc_id") % 12 === 7)
        .select((col("doc_id") + 900000L).as("eval_id"),
          substring(col("text"), 21, 200).as("text"))
      graft.operators.SpanDedup.spanContaminationVs(
        docs, ev, "text", "doc_id", "eval_id", l = 5, minSpan = 8)
    }),

    // Gopher-style repetition fractions, ORACLED: characters covered by
    // the most frequent word 2-gram and by duplicated 5-grams, plus the
    // 3-shingle repeat ratio — the character-weighted repetition gates a
    // quality pipeline applies before perplexity scoring. Numerators are
    // exact integer character sums, so the only float op is one final
    // division per column.
    "q_repetition" -> ((s, dir) =>
      TA.repetitionStats(t(s, dir, "documents"), "text", "doc_id")),

    // Exact heavy hitters, ORACLED: tokens occurring >= 40 times, found
    // via a Count-Min prefilter + exact count on the candidates. The
    // sketch bounds partial-agg state (tasks x candidates, not tasks x
    // vocabulary); CMS never undercounts, so the result is exactly the
    // plain GROUP BY/HAVING the oracle runs.
    "q_heavy_tokens" -> ((s, dir) =>
      graft.operators.HeavyHitters.heavyTokens(
        t(s, dir, "documents"), "text", minCount = 40L)),

    // Boilerplate line removal, ORACLED: any line appearing
    // (space-trimmed) in >= 20 distinct documents is stripped from every
    // document, order preserved. Line structure is synthesized in-query
    // (the fixture is single-line): one of 7 shared promo headers, the
    // original text, then a shared newsletter footer on every third doc
    // or a unique tail otherwise — so discovery must find exactly the
    // headers + the footer and cleaning must keep the rest intact.
    "q_boilerplate" -> ((s, dir) => {
      val src = t(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat_ws("\n",
            concat(lit("promo header "), (col("doc_id") % 7).cast("string")),
            col("text"),
            when(col("doc_id") % 3 === 0,
              lit("subscribe to our newsletter"))
              .otherwise(concat(lit("unique tail "),
                col("doc_id").cast("string")))).as("text"))
      graft.operators.Boilerplate.stripBoilerplate(
        src, "doc_id", "text", minDocs = 20L)
    }),

    // Snapshot content diff, ORACLED: the corpus vs a simulated next
    // snapshot (doc_id % 10 == 3 dropped, % 10 == 5 edited, fresh ids
    // appended). Both sides reduce to (id, md5 fingerprint) before the
    // full-outer join, so the exchange carries digests, not bodies.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val next = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 5,
            concat(col("text"), lit(" revised")))
            .otherwise(col("text")).as("text"))
        .unionAll(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
      graft.operators.SnapshotDiff.diff(docs, next, "doc_id", "text")
    }),

    // Delta curation SURVIVOR QUERY, ORACLED: month 0's index state
    // (gate -> within-increment exact keeper -> fp + banded-signature
    // frames) built in memory, month 1's snapshot delta curated against
    // it via the dry-run API — decision-identical to the persisted-table
    // process the oracle replays stage by stage, with the index-table
    // WRITES measured separately (q_delta_index_write below: the oracle
    // never materializes those tables, so timing them here conflated
    // produce with consume — the monthly-chain precedent is splitting
    // the two). The simulated next snapshot exercises every path:
    // %10==5 cosmetic append (near-dup of its own previous version ->
    // suppressed), %10==9 vowel rotation (material rewrite -> survives),
    // +500000 exact copies of history (exact-index drop when the source
    // was indexed), +700000 substring docs (fresh-ish, low Jaccard ->
    // survive).
    "q_delta_curate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val next = deltaNextSnapshot(docs)
      val cfg = graft.operators.Curation.Config(
        minTokens = 30, maxStopRatio = 1.0, langs = Seq("en"))
      val (fpIdx, sigIdx) = graft.processes.DeltaCurate.indexFrames(
        docs, "doc_id", "text", "lang", cfg)
      graft.processes.DeltaCurate.deltaSurvivors(docs, next,
        "doc_id", "text", "lang", cfg, Some(fpIdx), Some(sigIdx))
        .select(col("doc_id"))
    }),

    // Delta curation INDEX PRODUCE path (rows-only: the bucketed
    // fingerprint/signature index tables it writes are the deliverable,
    // which no SQL oracle materializes; the survivor DECISIONS are
    // hash-oracled by q_delta_curate above over the same inputs). Month
    // 0 bootstraps both bucketed indexes, month 1 appends the delta's
    // rows — one file per bucket, crash-windowed catalog ops, the two
    // appends on concurrent action threads. Index state is dropped and
    // rebuilt per invocation.
    "q_delta_index_write" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      for (tb <- Seq("diw_fp", "diw_sig")) {
        s.sql(s"DROP TABLE IF EXISTS $tb")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), tb)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      val next = deltaNextSnapshot(docs)
      val cfg = graft.operators.Curation.Config(
        minTokens = 30, maxStopRatio = 1.0, langs = Seq("en"))
      graft.processes.DeltaCurate.run(docs.limit(0), docs,
        "doc_id", "text", "lang", cfg, "diw_fp", "diw_sig", buckets = 8)
      graft.processes.DeltaCurate.run(docs, next,
        "doc_id", "text", "lang", cfg, "diw_fp", "diw_sig", buckets = 8)
        .survivors.select(col("doc_id"))
    }),

    // Index-compaction DECISION row, ORACLED end to end (verdict r15 #1's
    // text-index leg): month 0 builds the fp/sig index frames; the
    // current corpus then LOSES its doc_id % 10 ∈ {3, 4} documents (last
    // month's removals plus a takedown batch — % 10 == 4 deliberately
    // includes doc 14, gate-passing English at every fixture SF, so the
    // row discriminates); compactFrames keeps only index rows derivable
    // from that corpus (dead-fingerprint GC — same semi-joins as the
    // persisted compact(), shared builders); month 1's delta is then
    // curated against the COMPACTED frames. The +500000 exact copy of
    // REMOVED doc 14 now survives — suppression of content no longer in
    // the corpus is forgotten, exactly the documented post-compaction
    // guarantee — while copies and cosmetic edits of LIVE docs stay
    // suppressed (spec-asserted both ways). DuckDB replays the whole
    // thing: the compacted index is the month-0 keeper set minus the
    // removed ids (a keeper's fp/sig rows survive iff the keeper itself
    // is live — fps are distinct per keeper).
    "q_delta_compact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val next = deltaNextSnapshot(docs)
      val cfg = graft.operators.Curation.Config(
        minTokens = 30, maxStopRatio = 1.0, langs = Seq("en"))
      // ONE shared bootstrap pass (optimization r16, guide §1.2): the
      // month-0 index frames AND the keeper rows come from the same
      // checkpointed gate → fingerprint → sketch pipeline. The previous
      // form recomputed that pipeline three times — indexFrames, then a
      // bootstrap deltaSurvivors dry-run (whose md5 snapshot-diff against
      // a limit(0) side was pure overhead), then compactFrames' liveRows
      // re-fingerprinting the survivors it had just computed. The
      // caller-maintained curated corpus is the same set: bootstrap
      // survivors ARE the keepers (no index ⇒ no drops; DeltaCurateSpec
      // pins it), so the post-removal live rows are the keeper sketch
      // rows filtered by id — decision-identical, hash-oracled unchanged.
      val (fpIdx, sigIdx, keepers) = graft.processes.DeltaCurate
        .bootstrapFrames(docs, "doc_id", "text", "lang", cfg)
      val live = keepers
        .filter(col("doc_id") % 10 =!= 3 && col("doc_id") % 10 =!= 4)
      val (fpC, sigC) = graft.processes.DeltaCurate.compactFramesOverLive(
        live, "doc_id", fpIdx, sigIdx)
      graft.processes.DeltaCurate.deltaSurvivors(docs, next,
        "doc_id", "text", "lang", cfg, Some(fpC), Some(sigC))
        .select(col("doc_id"))
    }),

    // BOOTSTRAP half of the index-produce path, as its own bench row
    // (verdict r12 item 4 — the combined row's 38 jobs span TWO full
    // run() invocations and no committed number isolated either): same
    // drop-then-build preamble, month-0 run only. The increment's
    // marginal cost is q_delta_index_write − this row, read from the
    // same sweep. Rows-only by the same contract (the deliverable is
    // the two freshly-bootstrapped bucketed tables; the decision side
    // is hash-oracled by q_delta_curate).
    "q_delta_index_bootstrap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      for (tb <- Seq("dib_fp", "dib_sig")) {
        s.sql(s"DROP TABLE IF EXISTS $tb")
        val loc = new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir"), tb)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      val cfg = graft.operators.Curation.Config(
        minTokens = 30, maxStopRatio = 1.0, langs = Seq("en"))
      graft.processes.DeltaCurate.run(docs.limit(0), docs,
        "doc_id", "text", "lang", cfg, "dib_fp", "dib_sig", buckets = 8)
        .survivors.select(col("doc_id"))
    }),

    // Token-blocklist screen, ORACLED: per-doc blocklist hit count /
    // fraction / drop decision via the codegen literal-map kernel — a
    // pure narrow map stage (no join, no shuffle). Blocklist words are
    // drawn from the fixture's real vocabulary so hits actually occur.
    "q_blocklist" -> ((s, dir) =>
      graft.operators.Redaction.blocklistScreen(
        t(s, dir, "documents"), "text", "doc_id",
        Seq("slow", "merge", "hash"), maxFrac = 0.05)),

    // Trained quality classifier, ORACLED end to end: logistic regression
    // over the fitted top-32 vocabulary, two full-batch GD epochs with
    // integer micro-unit weights (every gradient sum is an exact integer
    // sum — associative, so cross-engine bit-identity doesn't depend on
    // accumulation order). DuckDB unrolls the IDENTICAL fit as CTEs (the
    // q_kmeans trick), so the hash gate covers the whole training loop.
    "q_lr_quality" -> ((s, dir) =>
      graft.operators.QualityClassifier.scoreLabeled(
        t(s, dir, "documents"), "text", "doc_id",
        col("lang") === "en", lrModel(s, dir))),

    // ORACLED quality-ensemble vote — the keep/drop audit a curation
    // pipeline actually gates on, with per-rule attribution: gopher
    // rules on the q_gopher_rules corruption page (the raw synthetic
    // fixture text contains no English stopwords, so raw-text gopher is
    // constant-false — the corruption makes the leg discriminate), the
    // C4 page gate on a replayable 3-slice page (the q_line_dedup
    // substring trick — raw fixture text has no terminal punctuation),
    // and the LR classifier's 0.5-threshold prediction;
    // keep = majority (2 of 3). Each leg is a narrow scan-side pass;
    // the joins exchange (id, flag) rows only. DuckDB replays all three
    // legs (the gopher metric block, the C4 line gate, the unrolled LR
    // fit) and the vote arithmetic.
    "q_quality_vote" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val txt = coalesce(col("text"), lit(""))
      val page = concat_ws("\n",
        concat(substring(txt, 1, 60), lit(".")),
        concat(substring(txt, 61, 60), lit(".")),
        concat(substring(txt, 121, 60), lit(".")))
      val gopherSrc = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 5 === 0, lit("• promo bullet\n"))
            .otherwise(lit("")),
          txt,
          when(col("doc_id") % 2 === 0, lit(" and that is of note"))
            .otherwise(lit("")),
          when(col("doc_id") % 3 === 0, lit("\nread more..."))
            .otherwise(lit(""))).as("text"))
      val g = TA.gopherRules(gopherSrc, "text", "doc_id")
        .select(col("doc_id"), col("pass").as("v_gopher"))
      val c = TA.c4Filters(
          docs.select(col("doc_id"), page.as("text")), "text", "doc_id")
        .select(col("doc_id"), col("pass").as("v_c4"))
      val l = graft.operators.QualityClassifier.score(
          docs, "text", "doc_id", lrModel(s, dir))
        .select(col("doc_id"), col("pred").as("v_lr"))
      g.join(c, "doc_id").join(l, "doc_id")
        .select(col("doc_id"), col("v_gopher"), col("v_c4"), col("v_lr"),
          (col("v_gopher") + col("v_c4") + col("v_lr")).as("votes"))
        .withColumn("keep", (col("votes") >= 2).cast("long"))
    }),

    // Classifier evaluation, ORACLED end to end through the SAME
    // unrolled fit: exact-integer midrank AUC (doubled ranks keep tie
    // midpoints integral) plus the 0.5-threshold confusion metrics —
    // the report a pipeline reads before trusting a quality gate.
    "q_lr_auc" -> ((s, dir) =>
      graft.operators.QualityClassifier.evaluate(
        graft.operators.QualityClassifier.scoreLabeled(
          t(s, dir, "documents"), "text", "doc_id",
          col("lang") === "en", lrModel(s, dir)))),

    // Calibration curve under the same fit, ORACLED: per score decile
    // the doc count, exact-integer mean score, and empirical positive
    // rate — the probabilities-or-not read on a quality gate.
    "q_lr_calibration" -> ((s, dir) =>
      graft.operators.QualityClassifier.evaluateCalibration(
        graft.operators.QualityClassifier.scoreLabeled(
          t(s, dir, "documents"), "text", "doc_id",
          col("lang") === "en", lrModel(s, dir)))),

    // C4 cleaning rules (Raffel et al. 2020), ORACLED byte-wise: the
    // fixture is single-line and punctuation-free, so the line structure
    // is synthesized to make every gate discriminate — a kept main
    // sentence, a too-short line, a javascript line, a policy line on
    // even ids (an honest kept sentence otherwise), a punctuation-less
    // line on non-multiples of 3 (a kept third sentence otherwise),
    // lorem ipsum on %7 (page gate), and a curly-brace code line on %11
    // (page gate; its '}' ending also fails the line gate).
    "q_c4_filters" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), concat_ws("\n",
        concat(coalesce(col("text"), lit("")), lit(".")),
        lit("click here"),
        lit("please enable javascript to view the comments on this page."),
        when(col("doc_id") % 2 === 0,
          lit("this website uses cookies and our privacy policy explains why."))
          .otherwise(lit("a second honest sentence appears here with enough words to stay.")),
        when(col("doc_id") % 3 === 0,
          lit("we finish with a third real sentence that carries sufficient words."))
          .otherwise(lit("no terminal punctuation on this line so it goes away")),
        when(col("doc_id") % 7 === 0,
          lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do."))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("function f() { return 1; }"))
          .otherwise(lit(""))).as("text"))
      TA.c4Filters(src, "text", "doc_id")
    }),

    // Character-bigram entropy, ORACLED: DuckDB replays the normalize
    // chain, the bigram explode, and the log2 identity; both engines
    // round the per-doc entropy to 4 decimals.
    "q_char_entropy" -> ((s, dir) =>
      TA.charBigramEntropy(t(s, dir, "documents"), "text", "doc_id")),

    // Unicode-script profile, ORACLED: script runs are synthesized onto a
    // 20-char Latin prefix with modular lengths so dominance actually
    // flips between scripts (CJK up to 39 chars vs ~17 Latin); counts are
    // exact integers and the dominant pick is the same fixed-priority
    // CASE on both engines.
    "q_script_mix" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), concat(
        substring(coalesce(col("text"), lit("")), 1, 20),
        expr("repeat('漢', cast(doc_id * 3 % 40 as int))"),
        expr("repeat('ж', cast(doc_id * 5 % 30 as int))"),
        expr("repeat('α', cast(doc_id % 10 as int))"),
        expr("repeat('م', cast(doc_id % 8 as int))")).as("text"))
      TA.scriptProfile(src, "text", "doc_id")
    }),

    // Winnowing fingerprints, ORACLED: the full sorted-distinct selection
    // per document is pinned by count + an md5 signature over the
    // comma-joined values (byte-exact cross-engine), the same
    // whole-array trick as q_text_signatures.
    "q_winnow_fp" -> ((s, dir) => {
      val fps = Dedup.winnowFingerprints(toks)
      t(s, dir, "documents")
        .select(col("doc_id"), fps.as("__f"))
        .select(col("doc_id"),
          size(col("__f")).cast("long").as("n_fps"),
          md5(concat_ws(",",
            transform(col("__f"), x => x.cast("string")))).as("fp_sig"))
    }),

    // Winnowing overlap screening, ORACLED: over the span fixture
    // (corpus + character substrings of the first 50 docs), every
    // substring partner must surface as a pair — the winnowing guarantee
    // in action; DuckDB replays selection, df cap, and pair counts.
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(spanFixture(s, dir), "text", "doc_id")),

    // Cross-source overlap matrix, ORACLED: distinct winnowing
    // fingerprints per source, pairwise shared counts + set Jaccard —
    // the corpus-audit view of winnowing (which sources syndicate each
    // other's content). Join volume is bounded by sources-per-
    // fingerprint, never doc pairs.
    "q_source_overlap" -> ((s, dir) => {
      // localCheckpoint, not persist (optimization r16, guide §3.1 + the
      // round-8 lesson): a PERSISTED frame as a join input never gets
      // AQE's runtime broadcast conversion (InMemoryRelation is not a
      // query stage), so the fp self-join below ran as a sort-merge with
      // both sides exchanged and sorted (profiled: two ~6 core-s
      // stages over a ~100k-row frame). Checkpoint blocks carry exact
      // size stats, the winnow pass still runs exactly once, and the
      // self-join's build side broadcasts.
      val fps = graft.operators.Similarity.spreadIfNarrow(
        t(s, dir, "documents"))
        .select(col("source"), explode(Dedup.winnowFingerprints(toks))
          .as("fp"))
        .distinct()
        .localCheckpoint()
      val totals = fps.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      fps.select(col("source").as("source_a"), col("fp"))
        .join(fps.select(col("source").as("source_b"), col("fp")), Seq("fp"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(totals.select(col("source").as("source_a"),
          col("__n").as("__na")), "source_a")
        .join(totals.select(col("source").as("source_b"),
          col("__n").as("__nb")), "source_b")
        .select(col("source_a"), col("source_b"), col("n_shared"),
          round(col("n_shared").cast("double") /
            (col("__na") + col("__nb") - col("n_shared")), 6).as("jacc6"))
    }),

    // Link extraction + host rollup, ORACLED: pages are synthesized with
    // mixed-case HREFs, per-doc varying targets, and a single-quoted
    // trap that must NOT extract; hosts come from the shared regex (no
    // parse_url — the oracle engine lacks it).
    "q_link_hosts" -> ((s, dir) => {
      val page = concat(
        lit("<html><body><a href=\"https://www.example.com/page"),
        (col("doc_id") % 10).cast("string"), lit("\">x</a>"),
        when(col("doc_id") % 2 === 0, concat(
          lit("<a href=\"http://cdn"), (col("doc_id") % 5).cast("string"),
          lit(".assets.net/img.png\">i</a>"))).otherwise(lit("")),
        lit("<A HREF=\"https://docs.example.org/help#a\">h</A>"),
        when(col("doc_id") % 3 === 0,
          lit("<a href='https://single.quote.org/skip'>s</a>"))
          .otherwise(lit("")),
        lit("<a href=\"/relative/path\">r</a></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), explode(TA.extractLinks(page)).as("url"))
        .select(col("doc_id"), col("url"), TA.linkHost(col("url")).as("host"))
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_links"),
          count_distinct(col("doc_id")).as("n_docs"),
          min(col("url")).as("sample_url"))
    }),

    // Equi-depth binning (histogram equalization): ntile over the total
    // (n_chars, doc_id) order — the bin layout a curriculum/mixture
    // planner wants when the value distribution is skewed (q_value_
    // histogram is the equi-WIDTH complement). ORACLED: ntile is SQL
    // standard, identical in both engines under a total order.
    // Scale note: the unpartitioned window is a GLOBAL sort — exact and
    // right for the report/audit scale this query represents, NOT for
    // bucketing a 100 TB column; q_equidepth_approx below IS that scale
    // path (Sampling.equiDepthApprox: sampled literal thresholds, zero
    // global sort).
    "q_equidepth_bins" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_chars"), col("doc_id"))
      t(s, dir, "documents")
        .withColumn("bin", ntile(10).over(w).cast("long"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    }),

    // Equi-depth binning at corpus scale, ORACLED: exact order statistics
    // of the md5-ordered 200-doc sample become literal decile thresholds
    // (the q_ppl_buckets pattern), every doc bins by literal comparison —
    // no global sort anywhere; DuckDB refits the same thresholds and
    // replays the same 1 + #{cuts < v} rule.
    "q_equidepth_approx" -> ((s, dir) =>
      graft.operators.Sampling.equiDepthApprox(
        t(s, dir, "documents"), "n_chars", "doc_id",
        bins = 10, sampleSize = 200)),

    // Per-language top terms (the per-group vocabulary view; group-local
    // stoplist mining). The rank filter compiles to WindowGroupLimit, so
    // skewed languages pre-prune map-side. ORACLED with the same
    // (count desc, token asc) tie-break.
    "q_lang_top_terms" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("cnt").desc, col("tok"))
      t(s, dir, "documents")
        .select(col("lang"), explode(toks).as("tok"))
        .groupBy(col("lang"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 5)
    }),

    // Reciprocal Rank Fusion, ORACLED: hybrid retrieval — the oracled
    // BM25 lexical top-10 fused with the oracled exact-KNN top-10 over
    // the shared id space (query_id 1..3 ↔ probe vec_id 1..3); DuckDB
    // replays both retrievers and the 1/(60+rank) fusion. Each
    // contribution is one IEEE division and at most two are summed
    // (commutative ⇒ bit-exact), rounded to 6 before the fused rank.
    "q_rrf_fusion" -> ((s, dir) => {
      import s.implicits._
      val qdf = Seq(
        (1L, "spark query engine"),
        (2L, "data scan filter"),
        (3L, "the partition of documents")).toDF("query_id", "qtext")
      val lex = graft.operators.Bm25.topK(
        t(s, dir, "documents"), "doc_id", "text",
        qdf, "query_id", "qtext", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val e = t(s, dir, "embeddings")
      val sem = graft.operators.Similarity.knnBruteForce(
        e.filter(col("vec_id").isin(1L, 2L, 3L)), e, "vec_id", "embedding",
        k = 10)
        .select(col("q_id").as("query_id"), col("n_id").as("doc_id"),
          col("rn").as("rank"))
      graft.operators.Rrf.fuse(Seq(lex, sem), "query_id", "doc_id", "rank",
        topK = 10)
    }),
  )

  /** The LR fit the four classifier queries score with (vocab 32, two
    * full-batch epochs, `lang = 'en'` labels). Each query fits once; the
    * oracle replays the same fit as CTEs.
    */
  private def lrModel(s: SparkSession, dir: String)
      : graft.operators.QualityClassifier.Model =
    graft.operators.QualityClassifier.fit(
      t(s, dir, "documents"), "text", "doc_id",
      col("lang") === "en", vocabSize = 32, iters = 2, lr = 0.5)

  /** The unigram LM fit (top-1000 vocab) that q_unigram_nll and
    * q_ppl_buckets each score with.
    */
  private def uniLm(s: SparkSession, dir: String)
      : Option[graft.operators.UnigramLm.UniModel] =
    graft.operators.UnigramLm.fitUnigram(
      t(s, dir, "documents"), "text", vocabSize = 1000)

  /** The oracled md5 near-dup clusters, shared by q_neardup_clusters and
    * q_cluster_split: the production chain [[Dedup.nearDupClusters]]
    * under md5 (signatures k=8, 4 baked bands, capped candidates, 0.8
    * set-Jaccard verify, component closure). Returns one
    * (doc_id, component) row per non-null-text doc, singletons coalesced
    * to their own id.
    */
  private def neardupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val comp = Dedup.nearDupClusters(docs, "text", "doc_id", 0.8, Md5,
      k = 8, bands = 4)
    docs.select(col("doc_id"))
      .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Shared fixture for the span queries: the corpus plus character
    * substrings of the first 50 docs (partial-overlap partners).
    */
  private def spanFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000L).as("doc_id"),
          substring(col("text"), 41, 160).as("text")))
  }

  /** One fit per (session, sf dir): q_bpe_encode and q_bpe_lossless share
    * the learned table, and Verify runs both — refitting would double the
    * (cheap but not free) word-count job. The fit is deterministic, so
    * caching cannot change results.
    */
  private val mergeCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  private def fittedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    mergeCache.getOrElseUpdate(dir,
      graft.operators.Bpe.fitMerges(t(s, dir, "documents"), "text",
        numMerges = 200, vocabWords = 20000))

  /** The static oracles plus the fitted-model BPE replay (available once
    * the fit has run — Verify executes every query BEFORE dumping oracle
    * SQL, so the merge table is in [[mergeCache]] by then; evaluated cold
    * the entry is simply absent and q_bpe_encode stays rows-only).
    */
  def oracles: Map[String, String] = staticOracles ++ bpeFittedOracles

  /** DuckDB replay of the BPE APPLY under the fitted merge table: the
    * learned merges ship embedded as a list literal (rank = position);
    * each distinct word starts as characters and a recursive CTE merges
    * the leftmost lowest-rank adjacent pair, one merge per iteration.
    * That is equivalent to BpeEncode's "merge ALL non-overlapping
    * occurrences of the best pair" step: a pair containing a merged
    * symbol must have been learned after it, so its rank is strictly
    * higher and the best pair stays best until its occurrences are
    * exhausted — leftmost-first yields the identical final segmentation.
    */
  private def bpeFittedOracles: Map[String, String] =
    // exactly-one guard: with multiple fitted dirs in one JVM there is no
    // way to know which one the dump is for — omit rather than guess
    if (mergeCache.size != 1) Map.empty
    else {
      val merges = mergeCache.values.head
      if (merges.isEmpty) Map.empty
      else {
        def sq(s: String): String = s"'${s.replace("'", "''")}'"
        val mergeList = merges.map { case (a, b) => sq(s"$a $b") }
          .mkString("[", ", ", "]")
        // shared recursive chain: merge-list literal, distinct words,
        // leftmost-lowest-rank merge loop, final segmentation per word
        val fitCtes =
          s"""WITH RECURSIVE
             ml AS (SELECT $mergeList AS l),
             words AS (
               SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
               FROM documents WHERE text IS NOT NULL),
             enc AS (
               SELECT w, list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)) AS ps, 0 AS step
               FROM words
               UNION ALL
               SELECT w,
                 list_concat(list_concat(list_slice(ps, 1, pos - 1), [ps[pos] || ps[pos + 1]]), list_slice(ps, pos + 2, len(ps))) AS ps,
                 step + 1
               FROM (
                 SELECT w, ps, step,
                   list_aggregate(lr, 'min') AS bestrank,
                   list_position(lr, list_aggregate(lr, 'min')) AS pos
                 FROM (
                   SELECT e.w AS w, e.ps AS ps, e.step AS step,
                     list_transform(list_transform(range(1, len(e.ps)), j -> e.ps[j] || ' ' || e.ps[j + 1]), p -> list_position(ml.l, p)) AS lr
                   FROM enc e, ml) t1) t2
               WHERE bestrank IS NOT NULL),
             fin AS (
               SELECT w, ps FROM (
                 SELECT w, ps, row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn
                 FROM enc) WHERE rn = 1)"""
        Map(
          "q_bpe_encode" ->
            s"""$fitCtes,
             occ AS (
               SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w,
                 generate_subscripts(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'), 1) AS wpos
               FROM documents WHERE text IS NOT NULL),
             agg AS (
               SELECT o.doc_id AS doc_id,
                 CAST(sum(len(f.ps)) AS BIGINT) AS n_bpe,
                 max(CASE WHEN o.wpos = 1 THEN f.ps[1] END) AS first_tok
               FROM occ o JOIN fin f ON o.w = f.w
               GROUP BY o.doc_id)
             SELECT d.doc_id,
               CASE WHEN d.text IS NULL THEN NULL
                 ELSE coalesce(a.n_bpe, 0) END AS n_bpe,
               a.first_tok
             FROM documents d LEFT JOIN agg a USING (doc_id)""",
          "q_bpe_fertility" ->
            s"""$fitCtes,
             occ AS (
               SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
               FROM documents WHERE text IS NOT NULL),
             perdoc AS (
               SELECT o.doc_id AS doc_id,
                 CAST(sum(len(f.ps)) AS BIGINT) AS n_bpe,
                 count(*) AS n_units,
                 CAST(sum(len(o.w)) AS BIGINT) AS n_chars
               FROM occ o JOIN fin f ON o.w = f.w
               GROUP BY o.doc_id),
             j AS (
               SELECT d.lang,
                 coalesce(p.n_bpe, 0) AS n_bpe,
                 coalesce(p.n_units, 0) AS n_units,
                 coalesce(p.n_chars, 0) AS n_chars
               FROM documents d LEFT JOIN perdoc p USING (doc_id)
               WHERE d.text IS NOT NULL)
             SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_bpe) AS BIGINT) AS n_bpe,
               CAST(sum(n_units) AS BIGINT) AS n_units,
               CASE WHEN sum(n_units) = 0 THEN CAST(0 AS DOUBLE)
                 ELSE round(CAST(sum(n_bpe) AS DOUBLE)
                   / CAST(sum(n_units) AS DOUBLE), 6) END AS fertility,
               CASE WHEN sum(n_bpe) = 0 THEN CAST(0 AS DOUBLE)
                 ELSE round(CAST(sum(n_chars) AS DOUBLE)
                   / CAST(sum(n_bpe) AS DOUBLE), 6) END AS chars_per_tok
             FROM j GROUP BY lang""",
          // BPE-counted greedy packing: the fitted segmentation supplies
          // per-doc token counts (null text → 0, matching the operator's
          // coalesce), then the same portable-draw recursive replay as
          // the static q_pack_bins oracle at budget 4096.
          "q_pack_bpe" ->
            s"""$fitCtes,
             poc AS (
               SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS w
               FROM documents WHERE text IS NOT NULL),
             pnb AS (
               SELECT o.doc_id AS doc_id,
                 CAST(sum(len(f.ps)) AS BIGINT) AS n_bpe
               FROM poc o JOIN fin f ON o.w = f.w
               GROUP BY o.doc_id),
             pd AS (
               SELECT d.doc_id,
                 CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % 8 AS bucket,
                 coalesce(p.n_bpe, 0) AS nt
               FROM documents d LEFT JOIN pnb p USING (doc_id)),
             po AS (
               SELECT doc_id, bucket, nt,
                 row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
                   AS rn
               FROM pd),
             pacc AS (
               SELECT bucket, rn, doc_id, nt,
                 CAST(0 AS BIGINT) AS bin, nt AS cur
               FROM po WHERE rn = 1
               UNION ALL
               SELECT po.bucket, po.rn, po.doc_id, po.nt,
                 CASE WHEN a.cur + po.nt > 4096 THEN a.bin + 1
                   ELSE a.bin END,
                 CASE WHEN a.cur + po.nt > 4096 THEN po.nt
                   ELSE a.cur + po.nt END
               FROM pacc a
               JOIN po ON po.bucket = a.bucket AND po.rn = a.rn + 1)
             SELECT bucket * 4294967296 + bin AS bin_id,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS total_tokens
             FROM pacc GROUP BY 1""")
      }
    }

  /** Shared CTE chain for the span oracles: the augmented fixture,
    * positioned md5 5-gram seeds (generate_subscripts = 1-based
    * position, matching Spark's posexplode + 1), the df ≤ 50 cap, the
    * cross-doc hit join, and diagonal island runs.
    */
  private val spanCtes: String =
    """WITH aug AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 200000 AS doc_id, substr(text, 41, 160) AS text
         FROM documents WHERE doc_id < 50),
       tk AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         FROM aug WHERE text IS NOT NULL),
       sd AS (
         SELECT doc_id, unnest(gl) AS g,
           CAST(generate_subscripts(gl, 1) AS BIGINT) AS p
         FROM (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS gl
           FROM tk)),
       okg AS (
         SELECT g FROM (
           SELECT g, count(DISTINCT doc_id) AS df FROM sd GROUP BY g)
         WHERE df <= 50),
       bs AS (SELECT sd.* FROM sd JOIN okg USING (g)),
       hits AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa,
           a.p - b.p AS d
         FROM bs a JOIN bs b USING (g)
         WHERE a.doc_id < b.doc_id),
       runs AS (
         SELECT id_a, id_b, d, isl, count(*) + 4 AS span FROM (
           SELECT id_a, id_b, d, pa,
             pa - row_number() OVER (PARTITION BY id_a, id_b, d
               ORDER BY pa) AS isl
           FROM hits)
         GROUP BY id_a, id_b, d, isl)"""

  /** One LR-fit round for the q_lr_quality replay: consumes (w{r-1},
    * b{r-1}), emits (z{r}, g{r}, w{r}, b{r}). Weights are integer
    * micro-units, so every sum here is exact — the only doubles are the
    * sigmoid (identical IEEE expression both engines) and the two
    * half-up roundings, written as floor(x + 0.5) to match Scala's
    * convention rather than either engine's native round().
    */
  private def lrRoundCte(r: Int): String = {
    val (pw, pb) = (s"w${r - 1}", s"b${r - 1}")
    s"""z$r AS (
           SELECT d.doc_id, d.y,
             (SELECT b FROM $pb) + coalesce(sum($pw.w), 0) AS z
           FROM d LEFT JOIN vt ON vt.doc_id = d.doc_id
                  LEFT JOIN $pw ON $pw.tk = vt.tk
           GROUP BY d.doc_id, d.y),
         g$r AS (
           SELECT doc_id,
             CAST(floor((1.0/(1.0 + exp(-(z/1000000.0))) - y)*1000000.0
               + 0.5) AS BIGINT) AS g
           FROM z$r),
         w$r AS (
           SELECT $pw.tk,
             $pw.w - CAST(floor(0.5 * coalesce(sg.sg, 0)
                 / (SELECT CAST(n AS DOUBLE) FROM n) + 0.5) AS BIGINT) AS w
           FROM $pw LEFT JOIN (
             SELECT vt.tk, sum(g$r.g) AS sg
             FROM vt JOIN g$r USING (doc_id) GROUP BY vt.tk) sg
           ON sg.tk = $pw.tk),
         b$r AS (
           SELECT (SELECT b FROM $pb)
             - CAST(floor(0.5 * (SELECT sum(g) FROM g$r)
                 / (SELECT CAST(n AS DOUBLE) FROM n) + 0.5) AS BIGINT) AS b)"""
  }

  /** Shared CTE chain for the LR oracles: the full 2-epoch fit
    * unrolled, ending at `zf(doc_id, y, z)` — the final logit per doc.
    * Base CTEs mirror QualityClassifier.prep/fit exactly: all documents
    * (null text → empty token list → bias-only logit), top-32
    * vocabulary by (count DESC, token ASC), zero init.
    */
  private val lrFitCtes: String =
    s"""WITH d AS (
           SELECT doc_id,
             CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y
           FROM documents),
         tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(coalesce(text, '')),
               '[a-z0-9]+')) AS tk
           FROM documents),
         vocab AS (
           SELECT tk, count(*) AS c FROM tok GROUP BY tk
           ORDER BY c DESC, tk LIMIT 32),
         n AS (SELECT count(*) AS n FROM documents),
         vt AS (SELECT doc_id, tok.tk FROM tok JOIN vocab USING (tk)),
         w0 AS (SELECT tk, CAST(0 AS BIGINT) AS w FROM vocab),
         b0 AS (SELECT CAST(0 AS BIGINT) AS b),
         ${lrRoundCte(1)},
         ${lrRoundCte(2)},
         zf AS (
           SELECT d.doc_id, d.y,
             (SELECT b FROM b2) + coalesce(sum(w2.w), 0) AS z
           FROM d LEFT JOIN vt ON vt.doc_id = d.doc_id
                  LEFT JOIN w2 ON w2.tk = vt.tk
           GROUP BY d.doc_id, d.y)"""

  /** q_quality_vote: the three rule legs (gopher on raw text, C4 on the
    * 3-slice page, the LR pred under the unrolled fit) joined on doc_id
    * with the majority arithmetic. Plain-quoted (regex backslashes);
    * composed onto lrFitCtes at the map site.
    */
  private val qualityVoteCtes: String =
    """,
       lr AS (
         SELECT doc_id,
           CAST(CASE WHEN round(1.0/(1.0 + exp(-(z/1000000.0))), 4) >= 0.5
             THEN 1 ELSE 0 END AS BIGINT) AS v_lr
         FROM zf),
       gsrc AS (
         SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN '• promo bullet' || chr(10)
                ELSE '' END ||
           coalesce(text, '') ||
           CASE WHEN doc_id % 2 = 0 THEN ' and that is of note'
                ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'read more...'
                ELSE '' END AS t
         FROM documents),
       gm AS (
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_words,
           CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT)
             AS n_chars,
           CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
           CAST(length(t) - length(replace(t, '#', ''))
             + length(t) - length(replace(t, '…', ''))
             + (length(t) - length(replace(t, '...', ''))) // 3
             AS BIGINT) AS symbol_cnt,
           CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT)
             AS bullet_lines,
           CAST(len(regexp_extract_all(t, '(?m)(\.\.\.|…)[ \t]*$'))
             AS BIGINT) AS ell_lines,
           CAST(len(regexp_extract_all(t, '\S*[A-Za-z]\S*')) AS BIGINT)
             AS alpha_words,
           (CASE WHEN regexp_matches(lower(t), '(^|\s)the(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)be(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)to(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)of(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)and(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)that(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)have(\s|$)') THEN 1 ELSE 0 END
            + CASE WHEN regexp_matches(lower(t), '(^|\s)with(\s|$)') THEN 1 ELSE 0 END)
             AS stop_hits
         FROM gsrc),
       g AS (
         SELECT doc_id,
           CAST(n_words >= 50 AND n_words <= 100000
             AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
             AND symbol_cnt * 10 <= n_words
             AND bullet_lines * 10 <= n_lines * 9
             AND ell_lines * 10 <= n_lines * 3
             AND alpha_words * 5 >= n_words * 4
             AND stop_hits >= 2 AS BIGINT) AS v_gopher
         FROM gm),
       csrc AS (
         SELECT doc_id,
           substr(coalesce(text, ''), 1, 60) || '.' || chr(10) ||
           substr(coalesce(text, ''), 61, 60) || '.' || chr(10) ||
           substr(coalesce(text, ''), 121, 60) || '.' AS t
         FROM documents),
       cf AS (
         SELECT doc_id, t,
           list_filter(string_split(t, chr(10)), l ->
             regexp_matches(trim(l), '[.!?"]$')
             AND len(regexp_extract_all(trim(l), '\S+')) >= 5
             AND NOT contains(lower(l), 'javascript')
             AND NOT contains(lower(l), 'terms of use')
             AND NOT contains(lower(l), 'privacy policy')
             AND NOT contains(lower(l), 'cookie policy')
             AND NOT contains(lower(l), 'uses cookies')) AS kept
         FROM csrc),
       c4 AS (
         SELECT doc_id,
           CAST(NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{')
             AND len(regexp_extract_all(array_to_string(kept, chr(10)),
               '[.!?]+')) >= 3 AS BIGINT) AS v_c4
         FROM cf)
     SELECT g.doc_id, v_gopher, v_c4, v_lr,
       v_gopher + v_c4 + v_lr AS votes,
       CAST(v_gopher + v_c4 + v_lr >= 2 AS BIGINT) AS keep
     FROM g JOIN c4 USING (doc_id) JOIN lr USING (doc_id)"""

  /** q_lr_quality: the scoring pass under (w2, b2). */
  private val lrQualityOracle: String =
    s"""$lrFitCtes
         SELECT doc_id,
           round(1.0/(1.0 + exp(-(z/1000000.0))), 4) AS score,
           CAST(CASE WHEN round(1.0/(1.0 + exp(-(z/1000000.0))), 4) >= 0.5
             THEN 1 ELSE 0 END AS BIGINT) AS pred,
           y
         FROM zf"""

  /** q_lr_auc: midrank AUC + confusion metrics under the same fit —
    * doubled ranks (2·below + t + 1) keep every pre-division quantity
    * an exact integer, so a 6-decimal round hash-compares.
    */
  private val lrAucOracle: String =
    s"""$lrFitCtes,
         sc AS (
           SELECT doc_id, y,
             round(1.0/(1.0 + exp(-(z/1000000.0))), 4) AS score,
             CAST(CASE WHEN round(1.0/(1.0 + exp(-(z/1000000.0))), 4) >= 0.5
               THEN 1 ELSE 0 END AS BIGINT) AS pred
           FROM zf),
         ps AS (
           SELECT score, CAST(sum(y) AS BIGINT) AS p, count(*) AS t
           FROM sc GROUP BY score),
         rk AS (
           SELECT p, t,
             2 * coalesce(sum(t) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS rank2
           FROM ps),
         ag AS (
           SELECT CAST(sum(p) AS BIGINT) AS np,
             CAST(sum(t - p) AS BIGINT) AS nn,
             CAST(sum(p * rank2) AS BIGINT) AS sr2
           FROM rk),
         cm AS (
           SELECT CAST(sum(y * pred) AS BIGINT) AS tp,
             CAST(sum((1 - y) * pred) AS BIGINT) AS fp,
             CAST(sum(y * (1 - pred)) AS BIGINT) AS fn,
             CAST(sum((1 - y) * (1 - pred)) AS BIGINT) AS tn
           FROM sc)
         SELECT np AS n_pos, nn AS n_neg,
           CASE WHEN np = 0 OR nn = 0 THEN NULL
             ELSE round(CAST(sr2 - np * (np + 1) AS DOUBLE)
               / CAST(2 * np * nn AS DOUBLE), 6) END AS auc,
           round(CAST(tp + tn AS DOUBLE)
             / CAST(tp + tn + fp + fn AS DOUBLE), 6) AS accuracy,
           CASE WHEN tp + fp = 0 THEN NULL
             ELSE round(CAST(tp AS DOUBLE)
               / CAST(tp + fp AS DOUBLE), 6) END AS prec,
           CASE WHEN tp + fn = 0 THEN NULL
             ELSE round(CAST(tp AS DOUBLE)
               / CAST(tp + fn AS DOUBLE), 6) END AS rec,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
             ELSE round(CAST(2 * tp AS DOUBLE)
               / CAST(2 * tp + fp + fn AS DOUBLE), 6) END AS f1
         FROM ag, cm"""

  /** q_lr_calibration: decile buckets under the same fit; the mean
    * score sums exact `floor(score·10⁴ + 0.5)` integer units (a double
    * sum would be order-dependent), divisions are identical IEEE.
    */
  private val lrCalibrationOracle: String =
    s"""$lrFitCtes,
         sc AS (
           SELECT doc_id, y,
             round(1.0/(1.0 + exp(-(z/1000000.0))), 4) AS score
           FROM zf)
         SELECT CAST(least(floor(score * 10), 9.0) AS BIGINT) AS bin,
           count(*) AS n,
           round(CAST(sum(CAST(floor(score * 10000 + 0.5) AS BIGINT))
               AS DOUBLE) / 10000.0 / CAST(count(*) AS DOUBLE), 6)
             AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS pos_rate
         FROM sc GROUP BY 1"""

  /** The BM25 replay, shared verbatim by q_bm25_topk and (as a CTE)
    * q_rrf_fusion: DuckDB recomputes tf/df/dl/avgdl with the same
    * tokenizer regex and k1=1.2 / b=0.75; avgdl rounds to 6 decimals,
    * scores to 4 before the rank, ties break by doc_id.
    */
  private val bm25TopkOracle: String =
    """WITH q(query_id, qtext) AS (VALUES
           (CAST(1 AS BIGINT), 'spark query engine'),
           (CAST(2 AS BIGINT), 'data scan filter'),
           (CAST(3 AS BIGINT), 'the partition of documents')),
         qterms AS (
           SELECT DISTINCT query_id, tok FROM (
             SELECT query_id,
               unnest(regexp_extract_all(lower(qtext), '[a-z0-9]+')) AS tok
             FROM q)),
         pairs AS (
           SELECT doc_id,
             len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS dl,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf, min(dl) AS dl
           FROM pairs GROUP BY doc_id, tok),
         stats AS (
           SELECT count(*) AS n,
             round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 6)
               AS avgdl
           FROM documents WHERE text IS NOT NULL),
         matched AS (
           SELECT qt.query_id, tf.doc_id, tf.tok, tf.tf, tf.dl
           FROM tf JOIN qterms qt USING (tok)),
         dfreq AS (
           SELECT tok, count(DISTINCT doc_id) AS df
           FROM matched GROUP BY tok),
         contrib AS (
           SELECT m.query_id, m.doc_id,
             ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) *
               (m.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE))) /
               (m.tf + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) +
                  CAST(0.75 AS DOUBLE) * m.dl / s.avgdl)) AS c
           FROM matched m JOIN dfreq d USING (tok) CROSS JOIN stats s),
         scored AS (
           SELECT query_id, doc_id, round(sum(c), 4) AS bm25
           FROM contrib GROUP BY query_id, doc_id)
         SELECT query_id, doc_id, bm25, rank FROM (
           SELECT query_id, doc_id, bm25,
             row_number() OVER (PARTITION BY query_id
               ORDER BY bm25 DESC, doc_id) AS rank
           FROM scored)
         WHERE rank <= 10"""

  /** The near-dup cluster replay (signatures, baked bands, cap,
    * set-Jaccard verify, recursive component closure), shared
    * verbatim by q_neardup_clusters and (as a CTE) q_cluster_split.
    */
  private val neardupClustersOracle: String =
    """WITH RECURSIVE d AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         shg AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM d),
         sg AS (
           SELECT doc_id, s,
             list_transform(range(8), i -> list_min(list_transform(s, x -> md5(i || ' ' || x)))) AS sig,
             len(s) AS ns
           FROM shg),
         bk AS (
           SELECT doc_id,
             unnest(list_transform(range(4), bb -> md5(bb || '|' || concat_ws(',', list_slice(sig, bb * 2 + 1, bb * 2 + 2))))) AS key
           FROM sg WHERE ns > 0),
         okk AS (
           SELECT key FROM bk GROUP BY key
           HAVING count(*) BETWEEN 2 AND 1000),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM (SELECT doc_id, key FROM bk JOIN okk USING (key)) a
           JOIN (SELECT doc_id, key FROM bk JOIN okk USING (key)) b
             USING (key)
           WHERE a.doc_id < b.doc_id),
         ver AS (
           SELECT id_a, id_b
           FROM cand
           JOIN (SELECT doc_id AS id_a, s AS sa FROM sg) USING (id_a)
           JOIN (SELECT doc_id AS id_b, s AS sb FROM sg) USING (id_b)
           WHERE CASE WHEN len(list_distinct(sa || sb)) = 0
               THEN CAST(0 AS DOUBLE)
             ELSE CAST(len(list_distinct(list_intersect(sa, sb))) AS DOUBLE)
               / CAST(len(list_distinct(sa || sb)) AS DOUBLE) END
             >= CAST(0.8 AS DOUBLE)),
         sym AS (
           SELECT id_a AS src, id_b AS dst FROM ver
           UNION
           SELECT id_b AS src, id_a AS dst FROM ver),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM d
           UNION
           SELECT s2.dst AS id, reach.r
           FROM reach JOIN sym s2 ON s2.src = reach.id)
         SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id"""

  private val staticOracles: Map[String, String] = Map(
    "q_lr_quality" -> lrQualityOracle,
    "q_quality_vote" -> (lrFitCtes + qualityVoteCtes),
    "q_lr_auc" -> lrAucOracle,
    "q_lr_calibration" -> lrCalibrationOracle,
    "q_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 0
             ELSE CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE)
                  / len(list_distinct(a.s || b.s)) END, 4) AS jaccard
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",

    // n-gram F1: the adjacent + substring pairing, distinct-set counts,
    // integer numerators, one double division per metric.
    "q_ngram_f1" ->
      """WITH sh0 AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents),
         shh AS (
           SELECT doc_id + 300000 AS doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(substr(text, 1, 90)), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(substr(text, 1, 90)), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(substr(text, 1, 90)), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(substr(text, 1, 90)), '[a-z0-9]+')[i+2])) AS s
           FROM documents WHERE doc_id < 50),
         sh AS (SELECT * FROM sh0 UNION ALL SELECT * FROM shh),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_distinct(list_intersect(a.s, b.s))) AS i,
             len(list_distinct(a.s)) AS da, len(list_distinct(b.s)) AS db
           FROM sh a JOIN sh b
             ON a.doc_id = CASE WHEN b.doc_id >= 300000
               THEN b.doc_id - 300000 ELSE b.doc_id - 1 END)
         SELECT id_a, id_b,
           round(CASE WHEN da + db = 0 THEN 0
             ELSE CAST(2 * i AS DOUBLE) / (da + db) END, 4) AS f1,
           round(CASE WHEN da = 0 THEN 0
             ELSE CAST(i AS DOUBLE) / da END, 4) AS cont_ab,
           round(CASE WHEN db = 0 THEN 0
             ELSE CAST(i AS DOUBLE) / db END, 4) AS cont_ba
         FROM p""",

    "q_asciifold" ->
      """SELECT doc_id, substr(strip_accents(text), 1, 30) AS folded30,
           length(strip_accents(text)) AS n_chars_folded
         FROM documents""",
    // HTML strip: identical replacement chain (comments → script → style
    // → tags → entities with &amp; last → whitespace collapse).
    "q_html_strip" ->
      """WITH page AS (
           SELECT doc_id,
             '<!DOCTYPE html><html><head><style>body{color:red}</style>' ||
             '<script type="text/javascript">var x = 1 < 2 && 3 > 2;</script></head>' ||
             '<body><!-- nav -->' || chr(10) || '<h1 class="t">' ||
             substr(text, 1, 40) || '</h1><p>' || substr(text, 41, 80) ||
             ' &amp;amp; x &lt;tag&gt; &quot;q&#39;s&quot; &nbsp;done</p></body></html>'
               AS h
           FROM documents WHERE text IS NOT NULL),
         s1 AS (SELECT doc_id,
           regexp_replace(h, '(?s)<!--.*?-->', ' ', 'g') AS h FROM page),
         s2 AS (SELECT doc_id,
           regexp_replace(h, '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS h FROM s1),
         s3 AS (SELECT doc_id,
           regexp_replace(h, '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS h FROM s2),
         s4 AS (SELECT doc_id,
           regexp_replace(h, '(?s)<[^>]*>', ' ', 'g') AS h FROM s3),
         s5 AS (SELECT doc_id,
           replace(replace(replace(replace(replace(replace(h,
             '&nbsp;', ' '), '&quot;', '"'), '&#39;', ''''),
             '&lt;', '<'), '&gt;', '>'), '&amp;', '&') AS h FROM s4)
         SELECT doc_id,
           trim(regexp_replace(h, '\s+', ' ', 'g')) AS clean
         FROM s5""",

    // Gopher rules: replay the synthesized line structure, the regex
    // counts, and the integer cross-multiplied gates. replace() is plain
    // string replace (the Spark side escapes its regex literals to the
    // same literal semantics); // is DuckDB floor division.
    "q_gopher_rules" ->
      """WITH src AS (
           SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN '• promo bullet' || chr(10)
                  ELSE '' END ||
             coalesce(text, '') ||
             CASE WHEN doc_id % 2 = 0 THEN ' and that is of note'
                  ELSE '' END ||
             CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'read more...'
                  ELSE '' END AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(t, '\S+')) AS BIGINT) AS n_words,
             CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT)
               AS n_chars,
             CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
             CAST(length(t) - length(replace(t, '#', ''))
               + length(t) - length(replace(t, '…', ''))
               + (length(t) - length(replace(t, '...', ''))) // 3
               AS BIGINT) AS symbol_cnt,
             CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT)
               AS bullet_lines,
             CAST(len(regexp_extract_all(t, '(?m)(\.\.\.|…)[ \t]*$'))
               AS BIGINT) AS ell_lines,
             CAST(len(regexp_extract_all(t, '\S*[A-Za-z]\S*')) AS BIGINT)
               AS alpha_words,
             (CASE WHEN regexp_matches(lower(t), '(^|\s)the(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)be(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)to(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)of(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)and(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)that(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)have(\s|$)') THEN 1 ELSE 0 END
              + CASE WHEN regexp_matches(lower(t), '(^|\s)with(\s|$)') THEN 1 ELSE 0 END)
               AS stop_hits
           FROM src)
         SELECT doc_id, n_words, n_lines,
           CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_words,
           CAST(3 * n_words <= n_chars AND n_chars <= 10 * n_words
             AS BIGINT) AS r_mean_len,
           CAST(symbol_cnt * 10 <= n_words AS BIGINT) AS r_symbol,
           CAST(bullet_lines * 10 <= n_lines * 9 AS BIGINT) AS r_bullet,
           CAST(ell_lines * 10 <= n_lines * 3 AS BIGINT) AS r_ellipsis,
           CAST(alpha_words * 5 >= n_words * 4 AS BIGINT) AS r_alpha,
           CAST(stop_hits >= 2 AS BIGINT) AS r_stop,
           CAST(n_words >= 50 AND n_words <= 100000
             AND 3 * n_words <= n_chars AND n_chars <= 10 * n_words
             AND symbol_cnt * 10 <= n_words
             AND bullet_lines * 10 <= n_lines * 9
             AND ell_lines * 10 <= n_lines * 3
             AND alpha_words * 5 >= n_words * 4
             AND stop_hits >= 2 AS BIGINT) AS pass
         FROM m""",

    "q_text_quality" ->
      """SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
           len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS n_uniq,
           round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0
             ELSE CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE)
                  / len(regexp_extract_all(lower(text), '[a-z0-9]+')) END, 4) AS avg_len,
           round(CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) = 0 THEN 0
             ELSE CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    tk -> list_contains(['the','of','and','a','an','in','to'], tk))) AS DOUBLE)
                  / len(regexp_extract_all(lower(text), '[a-z0-9]+')) END, 4) AS stop_ratio
         FROM documents""",

    // same heuristic CASE, cells + within-lang share via a window
    "q_lang_confusion" ->
      """WITH p AS (
           SELECT lang,
             CASE
               WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
               WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                      ['the','and','with','this'])) > 0 THEN 'en'
               WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                      ['el','los','una','por'])) > 0 THEN 'es'
               WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                      ['le','les','une','avec'])) > 0 THEN 'fr'
               WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                      ['der','die','und','mit'])) > 0 THEN 'de'
               ELSE 'und' END AS pred_lang
           FROM documents),
         c AS (
           SELECT lang, pred_lang, count(*) AS n
           FROM p GROUP BY lang, pred_lang)
       SELECT lang, pred_lang, n,
         CAST(floor(n * 1000000.0
           / sum(n) OVER (PARTITION BY lang)) AS BIGINT) AS share_micro
       FROM c""",

    "q_lang_id" ->
      """SELECT doc_id, lang,
           CASE
             WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['the','and','with','this'])) > 0 THEN 'en'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['el','los','una','por'])) > 0 THEN 'es'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['le','les','une','avec'])) > 0 THEN 'fr'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['der','die','und','mit'])) > 0 THEN 'de'
             ELSE 'und' END AS pred_lang,
           CASE WHEN lang = (CASE
             WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['the','and','with','this'])) > 0 THEN 'en'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['el','los','una','por'])) > 0 THEN 'es'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['le','les','une','avec'])) > 0 THEN 'fr'
             WHEN len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'),
                    ['der','die','und','mit'])) > 0 THEN 'de'
             ELSE 'und' END) THEN 1 ELSE 0 END AS hit
         FROM documents""",

    "q_fingerprint" ->
      """SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           substr(regexp_replace(lower(text),
             '\b(the|of|and|a|an)\b|[^a-z0-9]+', '', 'g'), 1, 40) AS canon40
         FROM documents""",

    "q_dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keeper_id, count(*) AS n_dups
         FROM documents GROUP BY 1""",

    // Incremental dedup: same fingerprint chain; survivors of the second
    // increment = min-id keepers whose fp the first half never indexed.
    "q_incremental_dedup" ->
      """WITH f AS (
           SELECT doc_id, lang,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
           FROM documents WHERE text IS NOT NULL),
         hist AS (SELECT DISTINCT fp FROM f WHERE doc_id < 250),
         firsts AS (SELECT fp, min(doc_id) AS keep FROM f GROUP BY fp)
         SELECT f.doc_id, f.lang
         FROM f JOIN firsts ON f.fp = firsts.fp AND f.doc_id = firsts.keep
         WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.fp = f.fp)""",

    // same per-doc token sizes, same ln regression, round-4 beta
    "q_heaps_law" ->
      """WITH d AS (
           SELECT
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
               AS BIGINT) AS n_uniq
           FROM documents),
         f AS (SELECT * FROM d WHERE n_tokens > 0 AND n_uniq > 0),
         sagg AS (
           SELECT count(*) AS n,
             sum(ln(CAST(n_tokens AS DOUBLE))) AS sx,
             sum(ln(CAST(n_uniq AS DOUBLE))) AS sy,
             sum(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_uniq AS DOUBLE)))
               AS sxy,
             sum(ln(CAST(n_tokens AS DOUBLE)) * ln(CAST(n_tokens AS DOUBLE)))
               AS sxx
           FROM f)
       SELECT CAST(n AS BIGINT) AS n_docs,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS heaps_beta
       FROM sagg""",

    // same chr() plants, same RE2 classes (\x{} escapes)
    "q_encoding_audit" ->
      """WITH src AS (
           SELECT doc_id,
             coalesce(text, '') ||
             CASE WHEN doc_id % 6 = 0 THEN chr(65533) || chr(65533)
               ELSE '' END ||
             CASE WHEN doc_id % 7 = 0 THEN chr(7) ELSE '' END ||
             CASE WHEN doc_id % 11 = 0 THEN chr(8203) || chr(8205)
               ELSE '' END AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(t, '\x{FFFD}')) AS BIGINT)
               AS n_replacement,
             CAST(len(regexp_extract_all(t,
               '[\x{0001}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{007F}-\x{009F}]'))
               AS BIGINT) AS n_control,
             CAST(len(regexp_extract_all(t,
               '[\x{200B}-\x{200D}\x{2060}\x{FEFF}]')) AS BIGINT)
               AS n_zero_width
           FROM src)
       SELECT doc_id, n_replacement, n_control, n_zero_width,
         CAST(n_replacement = 0 AND n_control = 0 AND n_zero_width = 0
           AS BIGINT) AS clean
       FROM m""",

    // same top-100 vocab, same ln regression, round-4 slope
    "q_zipf_slope" ->
      """WITH c AS (
           SELECT t, count(*) AS c FROM (
             SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS t
             FROM documents)
           GROUP BY t ORDER BY c DESC, t LIMIT 100),
         r AS (
           SELECT *, CAST(row_number() OVER (ORDER BY c DESC, t)
             AS DOUBLE) AS r
           FROM c),
         sagg AS (
           SELECT count(*) AS n, sum(ln(r)) AS sx,
             sum(ln(CAST(c AS DOUBLE))) AS sy,
             sum(ln(r) * ln(CAST(c AS DOUBLE))) AS sxy,
             sum(ln(r) * ln(r)) AS sxx
           FROM r)
       SELECT CAST(n AS BIGINT) AS n,
         round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4)
           AS zipf_slope
       FROM sagg""",

    // per-source gram aggs for n=1,2,3 over the same token/shingle
    // replays, joined on source
    "q_distinct_n" ->
      """WITH tk AS (
           SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         g1 AS (SELECT source, unnest(t) AS g FROM tk),
         g2 AS (
           SELECT source, unnest(list_transform(
             generate_series(1, greatest(len(t) - 1, 0)),
             i -> concat_ws(' ', t[i], t[i+1]))) AS g
           FROM tk),
         g3 AS (
           SELECT source, unnest(list_transform(
             generate_series(1, greatest(len(t) - 2, 0)),
             i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
           FROM tk),
         a1 AS (
           SELECT source, count(*) AS n_grams_1,
             count(DISTINCT g) AS n_uniq_1,
             CAST(floor(count(DISTINCT g) * 1000000.0 / count(*))
               AS BIGINT) AS distinct_1_micro
           FROM g1 GROUP BY source),
         a2 AS (
           SELECT source, count(*) AS n_grams_2,
             count(DISTINCT g) AS n_uniq_2,
             CAST(floor(count(DISTINCT g) * 1000000.0 / count(*))
               AS BIGINT) AS distinct_2_micro
           FROM g2 GROUP BY source),
         a3 AS (
           SELECT source, count(*) AS n_grams_3,
             count(DISTINCT g) AS n_uniq_3,
             CAST(floor(count(DISTINCT g) * 1000000.0 / count(*))
               AS BIGINT) AS distinct_3_micro
           FROM g3 GROUP BY source)
       SELECT a1.source, n_grams_1, n_uniq_1, distinct_1_micro,
         n_grams_2, n_uniq_2, distinct_2_micro,
         n_grams_3, n_uniq_3, distinct_3_micro
       FROM a1 JOIN a2 ON a2.source = a1.source
       JOIN a3 ON a3.source = a1.source""",

    // same shingle replay, split by the decontaminate rule, anti-join
    // on the gram (NB: inner lambda stays on one line — DuckDB parser)
    "q_ngram_novelty" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ', regexp_extract_all(lower(text), '[a-z0-9]+')[i], regexp_extract_all(lower(text), '[a-z0-9]+')[i+1], regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS sh
           FROM documents),
         tg AS (
           SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 = 0),
         trg AS (
           SELECT DISTINCT g FROM (
             SELECT unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 0)),
         tot AS (SELECT doc_id, count(*) AS n_grams FROM tg GROUP BY doc_id),
         uns AS (
           SELECT t.doc_id, count(*) AS n_unseen
           FROM tg t LEFT JOIN trg ON trg.g = t.g
           WHERE trg.g IS NULL GROUP BY t.doc_id)
       SELECT tot.doc_id, tot.n_grams,
         coalesce(uns.n_unseen, 0) AS n_unseen,
         CAST(floor(coalesce(uns.n_unseen, 0) * 1000000.0 / tot.n_grams)
           AS BIGINT) AS novelty_micro
       FROM tot LEFT JOIN uns USING (doc_id)""",

    "q_shingle_stats" ->
      """SELECT doc_id,
           len(sh) AS n_shingles, len(list_distinct(sh)) AS n_uniq_shingles
         FROM (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS sh
           FROM documents)""",

    "q_token_bpeish" ->
      """SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subtokens
         FROM documents""",

    "q_curation_core" ->
      """WITH toks AS (
           SELECT *, regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
           FROM documents),
         q AS (
           SELECT * FROM toks
           WHERE lang = 'en' AND len(tk) >= 30 AND
             (CASE WHEN len(tk) = 0 THEN 0
               ELSE CAST(len(list_filter(tk, t ->
                 list_contains(['the','of','and','a','an','in','to'], t)))
                 AS DOUBLE) / len(tk) END) <= 0.6),
         d AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM q)
         SELECT source, count(*) AS n_docs, round(avg(len(tk)), 4) AS avg_tokens
         FROM d WHERE rn = 1 GROUP BY source""",

    "q_curate_full" ->
      """WITH tk AS (
           SELECT doc_id, source, lang, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk
           FROM documents),
         sh AS (
           SELECT *, list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 2, 0)),
             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s
           FROM tk),
         q AS (
           SELECT * FROM sh
           WHERE lang = 'en' AND len(tk) >= 30 AND
             (CASE WHEN len(tk) = 0 THEN 0
               ELSE CAST(len(list_filter(tk, t ->
                 list_contains(['the','of','and','a','an','in','to'], t)))
                 AS DOUBLE) / len(tk) END) <= 0.6),
         evs AS (
           SELECT DISTINCT unnest(s) AS esh FROM sh WHERE doc_id % 17 = 0),
         contam AS (
           SELECT DISTINCT u.doc_id
           FROM (SELECT doc_id, unnest(s) AS sh2 FROM q) u
           JOIN evs ON u.sh2 = evs.esh),
         decon AS (
           SELECT * FROM q
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         d AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn
           FROM decon),
         dd AS (SELECT * FROM d WHERE rn = 1),
         losers AS (
           SELECT DISTINCT b.doc_id
           FROM dd a JOIN dd b ON a.doc_id < b.doc_id
           WHERE (CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 0
             ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(a.s || b.s)) END) >= 0.8)
         SELECT source, count(*) AS n_docs, round(avg(len(tk)), 4) AS avg_tokens
         FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         GROUP BY source""",

    "q_minhash_md5" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents)
         SELECT doc_id,
           list_min(list_transform(s, x -> md5(concat('0 ', x)))) AS sig0,
           list_min(list_transform(s, x -> md5(concat('1 ', x)))) AS sig1,
           list_min(list_transform(s, x -> md5(concat('2 ', x)))) AS sig2,
           list_min(list_transform(s, x -> md5(concat('3 ', x)))) AS sig3
         FROM sh""",

    // same md5 draw order per language, same exact integer running sum
    // (ROWS ... 1 PRECEDING), same take-until-crossing rule
    "q_token_mixture" ->
      """WITH d AS (
           SELECT doc_id, lang,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
               AS BIGINT) AS n_toks,
             CASE lang WHEN 'en' THEN 20000 WHEN 'zh' THEN 5000
               WHEN 'fr' THEN 3000 ELSE -1 END AS b
           FROM documents),
         w AS (
           SELECT doc_id, lang, n_toks, b,
             coalesce(sum(n_toks) OVER (PARTITION BY lang
               ORDER BY md5('tokmix ' || CAST(doc_id AS VARCHAR))
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS tokens_before
           FROM d WHERE b >= 0)
         SELECT doc_id, lang, n_toks,
           CAST(tokens_before AS BIGINT) AS tokens_before
         FROM w WHERE tokens_before < b""",

    // same stratum CASE, same rounded sqrt sum, same floor quotas, same
    // md5 draw order (doc_id tiebreak)
    "q_quota_mixture" ->
      """WITH d AS (
           SELECT doc_id,
             CASE WHEN doc_id % 100 < 50 THEN 'b0'
                  WHEN doc_id % 100 < 75 THEN 'b1'
                  WHEN doc_id % 100 < 90 THEN 'b2'
                  WHEN doc_id % 100 < 97 THEN 'b3'
                  ELSE 'b4' END AS stratum
           FROM documents),
         c AS (SELECT stratum, count(*) AS n FROM d GROUP BY stratum),
         t AS (SELECT round(sum(sqrt(n)), 6) AS ts FROM c),
         q AS (SELECT stratum,
                 least(n, CAST(floor(CAST(200 AS DOUBLE) * sqrt(n) / ts)
                   AS BIGINT)) AS quota
               FROM c, t),
         r AS (SELECT doc_id, stratum,
                 CAST(row_number() OVER (PARTITION BY stratum
                   ORDER BY md5('tmix ' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS BIGINT) AS rk
               FROM d)
       SELECT r.doc_id, r.stratum, r.rk, q.quota
       FROM r JOIN q ON q.stratum = r.stratum WHERE r.rk <= q.quota""",

    "q_mixture" ->
      """WITH w AS (
           SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 0.5
               WHEN 'es' THEN 1.0 WHEN 'fr' THEN 1.0 ELSE 0.0 END AS ww,
             CAST(('0x' || substr(md5('mix ' || doc_id), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
           FROM documents),
         c AS (
           SELECT doc_id, lang,
             CAST(floor(ww) + CASE WHEN u < ww - floor(ww) THEN 1 ELSE 0 END
               AS INTEGER) AS copies
           FROM w)
         SELECT doc_id, lang, unnest(generate_series(1, copies)) AS copy
         FROM c WHERE copies >= 1""",

    // Z-order: same quantization (floor of the scaled unit, clamped to
    // [0, 65535]) and the same 32-term interleave sum.
    "q_zorder" ->
      """WITH q AS (
           SELECT doc_id,
             greatest(CAST(0 AS BIGINT), least(CAST(65535 AS BIGINT),
               CAST(floor((CAST(doc_id AS DOUBLE) - 0.0) / 10000.0 * 65536.0) AS BIGINT))) AS qx,
             CASE WHEN n_chars IS NULL THEN NULL ELSE
               greatest(CAST(0 AS BIGINT), least(CAST(65535 AS BIGINT),
                 CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 2000.0 * 65536.0) AS BIGINT)))
             END AS qy
           FROM documents)
         SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 16), i -> ((qx >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)) + ((qy >> i) & 1) * (CAST(1 AS BIGINT) << (2*i + 1)))) AS BIGINT) AS z
         FROM q""",

    // Fuzzy join: delete-1 neighborhood (key + each single-char deletion)
    // via list_transform, pair dedup, then the same levenshtein verify.
    // The DISTINCT in v mirrors Spark's array_union per-key dedup, and g
    // mirrors pairsWithin1's variant-bucket cap (count BETWEEN 2 AND
    // maxBucket=10000) so cross-engine parity holds even if a bucket ever
    // exceeds the cap at a larger scale factor.
    "q_fuzzy_join" ->
      """WITH k AS (
           SELECT doc_id AS id,
             'key' || (doc_id % 40) ||
             CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END AS key
           FROM documents),
         v AS (
           SELECT DISTINCT id, key, var FROM (
             SELECT id, key,
               unnest(list_append(
                 list_transform(range(1, len(key) + 1), i -> substr(key, 1, i - 1) || substr(key, i + 1, len(key) - i)),
                 key)) AS var
             FROM k) u),
         g AS (
           SELECT var FROM v GROUP BY var
           HAVING count(*) BETWEEN 2 AND 10000),
         p AS (
           SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.key AS key_a, b.key AS key_b
           FROM v a JOIN g USING (var)
                    JOIN v b ON a.var = b.var AND a.id < b.id)
         SELECT id_a, id_b,
           CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
         FROM p WHERE levenshtein(key_a, key_b) <= 1""",

    // Data card: same fingerprint chain (md5 of whitespace-collapsed
    // lowercased text) and the same smaller-lang tie-break on the mode.
    "q_data_card" ->
      """WITH base AS (
           SELECT source,
             count(*) AS n_docs,
             CAST(coalesce(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 0) AS BIGINT) AS n_tokens,
             round(avg(len(regexp_extract_all(lower(text), '[a-z0-9]+'))), 4) AS avg_tokens,
             round(1.0 - CAST(count(DISTINCT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS DOUBLE) / count(*), 4) AS dup_ratio
           FROM documents WHERE source IS NOT NULL GROUP BY source),
         lc AS (
           SELECT source, lang, count(*) AS lc FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY source, lang),
         top AS (
           SELECT source, lang AS top_lang, lc FROM (
             SELECT source, lang, lc,
               row_number() OVER (PARTITION BY source
                 ORDER BY lc DESC, lang) AS rn
             FROM lc)
           WHERE rn = 1)
         SELECT b.source, b.n_docs, b.n_tokens, b.avg_tokens, b.dup_ratio,
           t.top_lang,
           round(CAST(t.lc AS DOUBLE) / b.n_docs, 4) AS top_lang_share
         FROM base b LEFT JOIN top t USING (source)""",

    "q_temp_mixture" ->
      """WITH c AS (
           SELECT lang AS s, count(*) AS n FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
         z AS (SELECT round(sum(sqrt(n)), 6) AS z FROM c),
         w AS (
           SELECT s,
             least(CAST(100 AS DOUBLE),
               round(sqrt(n) / z.z * 1000 / n, 6)) AS ww
           FROM c, z),
         m AS (
           SELECT d.doc_id, d.lang, w.ww,
             CAST(('0x' || substr(md5('mix ' || d.doc_id), 1, 8)) AS BIGINT)
               / 4294967296.0 AS u
           FROM documents d JOIN w ON w.s = d.lang),
         cc AS (
           SELECT doc_id, lang,
             CAST(floor(ww) + CASE WHEN u < ww - floor(ww) THEN 1 ELSE 0 END
               AS INTEGER) AS copies
           FROM m)
         SELECT doc_id, lang, unnest(generate_series(1, copies)) AS copy
         FROM cc WHERE copies >= 1""",

    "q_chunk_tokens" ->
      """WITH tk AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         c AS (
           SELECT doc_id, t,
             unnest(generate_series(0,
               CASE WHEN len(t) <= 0 THEN -1
                 ELSE greatest(CAST(ceil((len(t) - 40) / 32.0) AS INTEGER), 0)
               END)) AS ci
           FROM tk)
         SELECT doc_id,
           CAST(ci + 1 AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, ci*32 + 1, ci*32 + 40)) AS BIGINT)
             AS n_chunk_tokens,
           list_slice(t, ci*32 + 1, ci*32 + 40)[1] AS head_tok
         FROM c""",

    // Perplexity buckets: refit the unigram model (same CTEs as
    // q_unigram_nll), replay the md5-ordered 200-doc sample, pick the
    // 30th/60th percentile thresholds by integer ceil rank, label.
    "q_ppl_buckets" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
           FROM documents),
         cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 1000),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt),
         scored AS (
           SELECT doc_id,
             round(avg(-ln(coalesce(v.c, 1) / tot.total)), 4) AS avg_nll
           FROM tok LEFT JOIN vocab v USING (t), tot
           GROUP BY doc_id),
         samp AS (
           SELECT avg_nll FROM scored
           ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 200),
         ord AS (
           SELECT avg_nll, row_number() OVER (ORDER BY avg_nll) AS rn,
             count(*) OVER () AS n
           FROM samp),
         th AS (SELECT
           max(CASE WHEN rn = (n * 30 + 99) // 100 THEN avg_nll END)
             AS t_head,
           max(CASE WHEN rn = (n * 60 + 99) // 100 THEN avg_nll END)
             AS t_mid
           FROM ord)
         SELECT doc_id, avg_nll,
           CASE WHEN avg_nll <= t_head THEN 'head'
                WHEN avg_nll <= t_mid THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM scored, th""",

    "q_unigram_nll" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
           FROM documents),
         cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 1000),
         tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM cnt)
         SELECT doc_id,
           round(avg(-ln(coalesce(v.c, 1) / tot.total)), 4) AS avg_nll,
           CAST(count(*) AS BIGINT) AS n_tokens
         FROM tok LEFT JOIN vocab v USING (t), tot
         GROUP BY doc_id""",

    "q_decontaminate" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents),
         esh AS (
           SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
         tsh AS (
           SELECT doc_id, unnest(list_distinct(s)) AS g
           FROM sh WHERE doc_id % 10 <> 0)
         SELECT t.doc_id, count(*) AS n_shared
         FROM tsh t JOIN esh e USING (g)
         GROUP BY t.doc_id""",

    "q_contamination_report" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents),
         esh AS (
           SELECT doc_id AS eval_id, unnest(list_distinct(s)) AS g
           FROM sh WHERE doc_id % 10 = 0),
         tsh AS (
           SELECT doc_id AS tid, unnest(list_distinct(s)) AS g
           FROM sh WHERE doc_id % 10 <> 0)
         SELECT e.eval_id,
           count(DISTINCT t.tid) AS n_train_docs,
           count(DISTINCT g) AS n_shared_shingles
         FROM tsh t JOIN esh e USING (g)
         GROUP BY e.eval_id""",

    // Containment via the same union-cardinality trick as Jaccard:
    // |A∩B| = |A|+|B|−|A∪B| over the distinct shingle sets.
    "q_containment" ->
      """WITH sh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(a.s)) = 0 THEN 0
             ELSE (len(list_distinct(a.s)) + len(list_distinct(b.s)) - len(list_distinct(a.s || b.s))) / CAST(len(list_distinct(a.s)) AS DOUBLE) END, 4) AS cont_ab,
           round(CASE WHEN len(list_distinct(b.s)) = 0 THEN 0
             ELSE (len(list_distinct(a.s)) + len(list_distinct(b.s)) - len(list_distinct(a.s || b.s))) / CAST(len(list_distinct(b.s)) AS DOUBLE) END, 4) AS cont_ba
         FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",

    "q_text_signatures" ->
      """WITH hs AS (
           SELECT doc_id, text,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> md5(t)) AS h
           FROM documents)
         SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
             CAST(list_sum(list_transform(generate_series(0, 15), i ->
               CASE WHEN list_sum(list_transform(h, x ->
                   CASE WHEN ((strpos('0123456789abcdef',
                                      substr(x, (i // 4) + 1, 1)) - 1)
                              >> (3 - (i % 4))) & 1 = 1
                     THEN 1 ELSE -1 END)) > 0
                 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
             AS BIGINT)
           END AS simhash16,
           CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'), x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 1000000007)),
               (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS rolling_md5
         FROM hs""",

    "q_simhash_md5" ->
      """WITH hs AS (
           SELECT doc_id, text,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> md5(t)) AS h
           FROM documents)
         SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
             CAST(list_sum(list_transform(generate_series(0, 15), i ->
               CASE WHEN list_sum(list_transform(h, x ->
                   CASE WHEN ((strpos('0123456789abcdef',
                                      substr(x, (i // 4) + 1, 1)) - 1)
                              >> (3 - (i % 4))) & 1 = 1
                     THEN 1 ELSE -1 END)) > 0
                 THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
             AS BIGINT)
           END AS simhash16
         FROM hs""",

    "q_rolling_md5" ->
      """SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'), x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT) % 1000000007)),
               (acc, x) -> (acc * 31 + x) % 1000000007)
           END AS rolling_md5
         FROM documents""",

    "q_regexp_extract_all" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_nums,
           CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
             AS n_vowel_runs
         FROM documents""",

    "q_levenshtein" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30))
             AS BIGINT) AS dist
         FROM documents a, documents b
         WHERE a.doc_id % 20 = 0 AND b.doc_id % 20 = 0
           AND a.doc_id < b.doc_id""",

    "q_collect_sorted" ->
      """SELECT source,
           array_to_string(list_sort(list(DISTINCT lang)), ',') AS langs
         FROM documents GROUP BY source""",

    "q_tokens_ordinal" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
             AS pos
         FROM documents WHERE doc_id < 100""",

    "q_vocab_topk" ->
      """SELECT tok, count(*) AS n
         FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                 AS tok FROM documents)
         GROUP BY tok ORDER BY n DESC, tok LIMIT 50""",

    "q_tfidf_top_term" ->
      """WITH pairs AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         tf AS (
           SELECT doc_id, tok, count(*) AS tf FROM pairs GROUP BY doc_id, tok),
         dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.tok,
             round(tf.tf * ln((CAST(n.n_docs AS DOUBLE) + 1) /
               CAST(dfreq.df + 1 AS DOUBLE)), 4) AS tfidf
           FROM tf JOIN dfreq ON tf.tok = dfreq.tok CROSS JOIN n)
         SELECT doc_id, tok AS top_tok, tfidf FROM (
           SELECT doc_id, tok, tfidf,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY tfidf DESC, tok) AS rn
           FROM scored)
         WHERE rn = 1""",

    // same plants, same RE2 patterns, same >=2-signal verdict
    "q_code_detect" ->
      """WITH src AS (
           SELECT doc_id,
             coalesce(text, '') || chr(10) ||
             CASE WHEN doc_id % 8 = 0
               THEN 'int f(int x) { return x * 2; }' ELSE '' END ||
             chr(10) ||
             CASE WHEN doc_id % 13 = 0
               THEN '    someValue = otherValue + computeTotal(x);'
               ELSE '' END AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[{}]')) AS BIGINT)
               AS n_braces,
             CAST(len(regexp_extract_all(t, ';')) AS BIGINT)
               AS n_semicolons,
             CAST(len(regexp_extract_all(t,
               '[a-z][a-zA-Z0-9]*[A-Z][a-zA-Z0-9]*')) AS BIGINT)
               AS n_camel,
             CAST(len(regexp_extract_all(t, '(?m)^[ \t]{4,}\S'))
               AS BIGINT) AS n_indent_lines
           FROM src)
       SELECT doc_id, n_braces, n_semicolons, n_camel, n_indent_lines,
         CAST((CASE WHEN n_braces > 0 THEN 1 ELSE 0 END
           + CASE WHEN n_semicolons > 0 THEN 1 ELSE 0 END
           + CASE WHEN n_camel > 0 THEN 1 ELSE 0 END
           + CASE WHEN n_indent_lines > 0 THEN 1 ELSE 0 END) >= 2
           AS BIGINT) AS code_like
       FROM m""",

    // same sparse plants, same patterns, HUGEINT sums cast to BIGINT
    "q_pii_by_source" ->
      """WITH synth AS (
           SELECT doc_id, source,
             text ||
             CASE WHEN doc_id % 4 = 0 THEN ' reach user' ||
               (doc_id % 50) || '@mail.example.com' ELSE '' END ||
             CASE WHEN doc_id % 9 = 0 THEN ' from 10.1.' ||
               (doc_id % 256) || '.7' ELSE '' END AS s
           FROM documents),
         m AS (
           SELECT source,
             len(regexp_extract_all(s,
               '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS ne,
             len(regexp_extract_all(s,
               '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS ni,
             len(regexp_extract_all(s,
               '\+?[0-9][0-9()\s.-]{6,}[0-9]')) AS np
           FROM synth)
       SELECT source, count(*) AS n_docs,
         CAST(count(*) FILTER (ne + ni + np > 0) AS BIGINT)
           AS n_docs_with_pii,
         CAST(floor(count(*) FILTER (ne + ni + np > 0) * 1000000.0
           / count(*)) AS BIGINT) AS pii_rate_micro,
         CAST(sum(ne) AS BIGINT) AS n_emails,
         CAST(sum(ni) AS BIGINT) AS n_ips,
         CAST(sum(np) AS BIGINT) AS n_phones
       FROM m GROUP BY source""",

    // Same synthesized PII tail, same patterns, same replace order;
    // DuckDB regexp_replace needs the explicit 'g' flag to match Spark's
    // replace-all semantics.
    "q_pii_redact" ->
      """WITH synth AS (
           SELECT doc_id,
             text || ' contact user' || (doc_id % 100) || '@mail' ||
             (doc_id % 10) || '.example.com or call +1 (555) 123-' ||
             (4000 + doc_id % 1000) || ' or ping 10.0.' ||
             (doc_id % 256) || '.' || ((doc_id * 7) % 256) AS s
           FROM documents)
         SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(s,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9()\s.-]{6,}[0-9]', '<PHONE>', 'g')) AS red_md5,
           len(regexp_extract_all(s,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
           len(regexp_extract_all(s,
             '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ips,
           len(regexp_extract_all(s,
             '\+?[0-9][0-9()\s.-]{6,}[0-9]')) AS n_phones
         FROM synth""",

    "q_url_parts" ->
      """WITH u AS (
           SELECT doc_id,
             'https://www.sub' || (doc_id % 7) || '.Example.com/p/' ||
             doc_id || '/?q=' || lang AS url
           FROM documents)
         SELECT doc_id,
           lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '\?([^#]*)', 1) AS "query",
           regexp_replace(
             lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
             '^www\.', '') ||
           regexp_replace(
             regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
             '/$', '') AS canon
         FROM u""",

    // Components via transitive closure over the symmetrized edge set —
    // min reachable id per node; UNION (not UNION ALL) is the fixpoint.
    "q_dedup_clusters" ->
      """WITH RECURSIVE e AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
         sym AS (
           SELECT src, dst FROM e
           UNION
           SELECT dst AS src, src AS dst FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.dst AS id, reach.r
           FROM reach JOIN sym s ON s.src = reach.id)
         SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id""",

    // Canonical keeper: recursive components + a quality-DESC/id-ASC
    // window; null quality coalesces to -infinity (matching Spark's
    // explicit coalesce, not engine-default null ordering).
    "q_canonical_keeper" ->
      """WITH RECURSIVE e AS (
           SELECT a.doc_id AS src, b.doc_id AS dst
           FROM documents a JOIN documents b
             ON b.doc_id = a.doc_id + 1 AND a.lang = b.lang),
         sym AS (
           SELECT src, dst FROM e
           UNION
           SELECT dst AS src, src AS dst FROM e),
         reach(id, r) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.dst AS id, reach.r
           FROM reach JOIN sym s ON s.src = reach.id),
         comp AS (
           SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         j AS (
           SELECT c.component, d.doc_id,
             coalesce(CAST(d.n_chars AS DOUBLE),
               CAST('-infinity' AS DOUBLE)) AS q
           FROM comp c JOIN documents d USING (doc_id)),
         r AS (
           SELECT component, doc_id, q,
             row_number() OVER (PARTITION BY component
               ORDER BY q DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component) AS nm
           FROM j)
         SELECT component, doc_id AS keeper_id, q AS keeper_quality,
           CAST(nm AS BIGINT) AS n_members
         FROM r WHERE rn = 1""",

    // Near-dup clusters: full md5 LSH chain replay — signatures, baked
    // band keys, the 2..1000 bucket cap, candidate self-join, set-Jaccard
    // verify at 0.8 (list_distinct matches Spark's set-semantics
    // array_intersect/union), then the same recursive component closure
    // as q_dedup_clusters over the VERIFIED pair graph.
    "q_neardup_clusters" -> neardupClustersOracle,

    // Cluster-disjoint split: the cluster replay as a CTE + the
    // component-keyed md5 split draw (same wire contract as
    // q_group_split).
    "q_cluster_split" ->
      (s"WITH cl AS ($neardupClustersOracle) " +
        """SELECT doc_id, component,
           CASE WHEN
             CAST(('0x' || substr(md5('split ' ||
               CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
               / 4294967296.0 < CAST(0.3 AS DOUBLE)
           THEN 'test' ELSE 'train' END AS side
         FROM cl"""),

    // BPE lossless invariant: joined BPE tokens == joined word pieces of
    // the same pre-tokenization regex, computed here straight from the raw
    // text (DuckDB never sees the merge table — that's the point).
    "q_bpe_lossless" ->
      """SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
             ELSE md5(array_to_string(
               regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'),
               ''))
           END AS joined_md5
         FROM documents""",

    // Next-fit packing: DuckDB replays the per-bucket sequential pass with
    // a recursive CTE (rn joins rn+1 within bucket, carrying the running
    // bin + fill); the bucket is the same md5-prefix hash both engines
    // compute, and the next-fit rule (open a new bin when the running fill
    // would exceed 512; an oversized doc keeps its own bin) matches the
    // operator's inner loop exactly.
    "q_pack_nextfit_md5" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS bucket,
             coalesce(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)
               AS nt
           FROM documents),
         o AS (
           SELECT doc_id, bucket, nt,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
           FROM d),
         acc AS (
           SELECT bucket, rn, doc_id, nt,
             CAST(0 AS BIGINT) AS bin, nt AS cur
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.bucket, o.rn, o.doc_id, o.nt,
             CASE WHEN a.cur + o.nt > 512 THEN a.bin + 1 ELSE a.bin END,
             CASE WHEN a.cur + o.nt > 512 THEN o.nt ELSE a.cur + o.nt END
           FROM acc a JOIN o ON o.bucket = a.bucket AND o.rn = a.rn + 1)
         SELECT doc_id, bucket, bin FROM acc""",

    // Greedy packing under the portable draw: identical recursive replay
    // shape as q_pack_nextfit_md5 at budget 2048, rolled up per bin with
    // the (bucket << 32) | bin id the operator assigns.
    "q_pack_bins" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS bucket,
             coalesce(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)
               AS nt
           FROM documents),
         o AS (
           SELECT doc_id, bucket, nt,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
           FROM d),
         acc AS (
           SELECT bucket, rn, doc_id, nt,
             CAST(0 AS BIGINT) AS bin, nt AS cur
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.bucket, o.rn, o.doc_id, o.nt,
             CASE WHEN a.cur + o.nt > 2048 THEN a.bin + 1 ELSE a.bin END,
             CASE WHEN a.cur + o.nt > 2048 THEN o.nt ELSE a.cur + o.nt END
           FROM acc a JOIN o ON o.bucket = a.bucket AND o.rn = a.rn + 1)
         SELECT bucket * 4294967296 + bin AS bin_id,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens
         FROM acc GROUP BY 1""",

    // Packing stats: the same recursive next-fit replay, grouped per bin.
    // Sums CAST to BIGINT (DuckDB sum(BIGINT) is HUGEINT → pandas float).
    "q_pack_stats" ->
      """WITH RECURSIVE d AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) % 8 AS bucket,
             coalesce(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 0)
               AS nt
           FROM documents),
         o AS (
           SELECT doc_id, bucket, nt,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
           FROM d),
         acc AS (
           SELECT bucket, rn, doc_id, nt,
             CAST(0 AS BIGINT) AS bin, nt AS cur
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.bucket, o.rn, o.doc_id, o.nt,
             CASE WHEN a.cur + o.nt > 512 THEN a.bin + 1 ELSE a.bin END,
             CASE WHEN a.cur + o.nt > 512 THEN o.nt ELSE a.cur + o.nt END
           FROM acc a JOIN o ON o.bucket = a.bucket AND o.rn = a.rn + 1)
         SELECT bucket, bin,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS total_tokens,
           CAST(512 - sum(nt) AS BIGINT) AS waste,
           CAST(max(CASE WHEN nt > 512 THEN 1 ELSE 0 END) AS BIGINT)
             AS oversized
         FROM acc GROUP BY bucket, bin""",

    // Line dedup: same synthesized page; DuckDB's list_filter index lambda
    // is 1-based (Spark's filter index is 0-based), list_position is the
    // same first-occurrence probe on both sides.
    "q_line_dedup" ->
      """WITH synth AS (
           SELECT doc_id,
             concat_ws(chr(10),
               substr(text, 1, 30), 'subscribe now',
               substr(text, 1, 30), 'subscribe now',
               substr(text, 31, 30)) AS s
           FROM documents),
         l AS (SELECT doc_id, string_split(s, chr(10)) AS ls FROM synth)
         SELECT doc_id,
           len(ls) AS n_lines,
           len(list_distinct(ls)) AS n_uniq_lines,
           md5(array_to_string(
             list_filter(ls, (x, i) -> x = '' OR list_position(ls, x) = i),
             chr(10))) AS dedup_md5
         FROM l""",

    // Naive Bayes: integer/integer division is true division (DOUBLE) in
    // DuckDB, matching the Scala-side exact double conversions; the
    // smoothed log-prob is recomputed per occurrence from the same
    // counts, and rounding to 4 decimals before the argmax makes the
    // prediction engine-stable.
    "q_nb_lang" ->
      """WITH tok AS (
           SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
           FROM documents),
         vocab AS (
           SELECT t FROM (
             SELECT t, count(*) AS c FROM tok GROUP BY t
             ORDER BY c DESC, t LIMIT 500)),
         labels AS (
           SELECT lang AS l, count(*) AS dc FROM documents
           WHERE lang IS NOT NULL GROUP BY lang),
         nd AS (SELECT CAST(sum(dc) AS DOUBLE) AS n FROM labels),
         cnt AS (
           SELECT lang AS l, t, count(*) AS c
           FROM tok JOIN vocab USING (t)
           WHERE lang IS NOT NULL GROUP BY lang, t),
         vs AS (SELECT count(*) AS v FROM vocab),
         nl AS (
           SELECT labels.l, coalesce(s.n, 0) AS n
           FROM labels LEFT JOIN (
             SELECT l, sum(c) AS n FROM cnt GROUP BY l) s USING (l)),
         dt AS (SELECT doc_id, t FROM tok JOIN vocab USING (t)),
         contrib AS (
           SELECT dt.doc_id, lab.l,
             sum(ln((coalesce(c.c, 0) + 1) / (nl.n + vs.v))) AS s
           FROM dt CROSS JOIN labels lab CROSS JOIN vs
           JOIN nl ON nl.l = lab.l
           LEFT JOIN cnt c ON c.l = lab.l AND c.t = dt.t
           GROUP BY dt.doc_id, lab.l),
         scored AS (
           SELECT d.doc_id, lab.l,
             round(ln(lab.dc / nd.n) + coalesce(ct.s, 0), 4) AS score
           FROM documents d CROSS JOIN labels lab CROSS JOIN nd
           LEFT JOIN contrib ct ON ct.doc_id = d.doc_id AND ct.l = lab.l)
         SELECT doc_id, l AS pred, score FROM (
           SELECT doc_id, l, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, l DESC) AS rn
           FROM scored)
         WHERE rn = 1""",

    // Bigram LM: the λ weights are CAST to DOUBLE and 1−λ computed as an
    // IEEE double subtraction (DuckDB parses bare 0.7/0.3 as DECIMAL,
    // whose exact 0.3 differs from Scala's 1.0-0.7 by one ulp — enough to
    // flip a 4-decimal rounding). Bigram term backs off to 0 when either
    // the pair or its history misses the fitted tables; unigram term
    // floors OOV at 1, like q_unigram_nll.
    "q_bigram_nll" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ts
           FROM documents),
         flat AS (SELECT doc_id, unnest(ts) AS t FROM tok),
         cnt AS (SELECT t, count(*) AS c FROM flat GROUP BY t),
         vocab AS (SELECT t, c FROM cnt ORDER BY c DESC, t LIMIT 1000),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM flat),
         idx AS (
           SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM tok),
         pairs AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2 FROM idx),
         bcnt AS (
           SELECT w1 || ' ' || w2 AS b, count(*) AS c
           FROM pairs GROUP BY 1),
         bitab AS (SELECT b, c FROM bcnt ORDER BY c DESC, b LIMIT 2000),
         scored AS (
           SELECT p.doc_id,
             -ln(CAST(0.7 AS DOUBLE) *
                 (CASE WHEN u1.c IS NOT NULL AND bb.c IS NOT NULL
                   THEN CAST(bb.c AS DOUBLE) / u1.c ELSE 0 END) +
                 (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) *
                 (coalesce(u2.c, 1) / tot.total)) AS nll
           FROM pairs p
           LEFT JOIN vocab u1 ON u1.t = p.w1
           LEFT JOIN vocab u2 ON u2.t = p.w2
           LEFT JOIN bitab bb ON bb.b = p.w1 || ' ' || p.w2,
           tot)
         SELECT doc_id, round(avg(nll), 4) AS avg_nll2,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM scored GROUP BY doc_id""",

    // Group-disjoint split: the md5 group draw, first 8 hex chars over
    // 2^32, test iff draw < 0.3; NULL sources train.
    "q_group_split" ->
      """SELECT doc_id, source,
           CASE WHEN source IS NOT NULL AND
             CAST(('0x' || substr(md5('split ' || source), 1, 8)) AS BIGINT)
               / 4294967296.0 < CAST(0.3 AS DOUBLE)
           THEN 'test' ELSE 'train' END AS side
         FROM documents""",

    // Host quota: same URL synthesis as q_url_parts (host parity is
    // oracled there), same md5(id) draw order.
    "q_host_quota" ->
      """WITH d AS (
           SELECT doc_id,
             lower('www.sub' || (doc_id % 7) || '.example.com') AS host
           FROM documents)
         SELECT doc_id, host FROM (
           SELECT doc_id, host,
             row_number() OVER (PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM d)
         WHERE rn <= 5""",

    // BM25: DuckDB recomputes tf/df/dl/avgdl from scratch with the same
    // tokenizer regex and the same k1=1.2 / b=0.75 constants; avgdl is
    // rounded to 6 decimals to match the Spark side exactly, scores to 4
    // before the rank, ties broken by doc_id.
    "q_bm25_topk" -> bm25TopkOracle,

    // C4 rules: replay the synthesized line structure, the list_filter
    // line gates, and the page gates byte-wise.
    "q_c4_filters" ->
      """WITH src AS (
           SELECT doc_id,
             coalesce(text, '') || '.' || chr(10) ||
             'click here' || chr(10) ||
             'please enable javascript to view the comments on this page.' || chr(10) ||
             CASE WHEN doc_id % 2 = 0
               THEN 'this website uses cookies and our privacy policy explains why.'
               ELSE 'a second honest sentence appears here with enough words to stay.' END || chr(10) ||
             CASE WHEN doc_id % 3 = 0
               THEN 'we finish with a third real sentence that carries sufficient words.'
               ELSE 'no terminal punctuation on this line so it goes away' END || chr(10) ||
             CASE WHEN doc_id % 7 = 0
               THEN 'lorem ipsum dolor sit amet consectetur adipiscing elit sed do.'
               ELSE '' END || chr(10) ||
             CASE WHEN doc_id % 11 = 0
               THEN 'function f() { return 1; }' ELSE '' END AS t
           FROM documents),
         f AS (
           SELECT doc_id, t, string_split(t, chr(10)) AS ls,
             list_filter(string_split(t, chr(10)), l ->
               regexp_matches(trim(l), '[.!?"]$')
               AND len(regexp_extract_all(trim(l), '\S+')) >= 5
               AND NOT contains(lower(l), 'javascript')
               AND NOT contains(lower(l), 'terms of use')
               AND NOT contains(lower(l), 'privacy policy')
               AND NOT contains(lower(l), 'cookie policy')
               AND NOT contains(lower(l), 'uses cookies')) AS kept
           FROM src)
         SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_lines_kept,
           CAST(len(regexp_extract_all(array_to_string(kept, chr(10)),
             '[.!?]+')) AS BIGINT) AS n_sentences,
           CAST(contains(lower(t), 'lorem ipsum') AS BIGINT) AS has_lorem,
           CAST(contains(t, '{') AS BIGINT) AS has_brace,
           CAST(NOT contains(lower(t), 'lorem ipsum')
             AND NOT contains(t, '{')
             AND len(regexp_extract_all(array_to_string(kept, chr(10)),
               '[.!?]+')) >= 3 AS BIGINT) AS pass
         FROM f""",

    // Char-bigram entropy: H = log2(n) − (Σ c·log2 c)/n over the same
    // normalize chain; rounded to 4 on both engines.
    "q_char_entropy" ->
      """WITH nt AS (
           SELECT doc_id,
             regexp_replace(trim(lower(coalesce(text, ''))), '\s+', ' ', 'g')
               AS t
           FROM documents),
         g AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, length(t) - 1),
               i -> substr(t, i, 2))) AS g
           FROM nt WHERE length(t) >= 2),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
         e AS (
           SELECT doc_id, sum(c) AS n,
             sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS s
           FROM c GROUP BY 1)
         SELECT nt.doc_id,
           CAST(coalesce(e.n, 0) AS BIGINT) AS n_bigrams,
           coalesce(round(log2(CAST(e.n AS DOUBLE)) - e.s / e.n, 4), 0.0)
             AS entropy4
         FROM nt LEFT JOIN e USING (doc_id)""",

    // Unicode-script profile: the same explicit BMP ranges and the same
    // fixed-priority dominant CASE.
    "q_script_mix" ->
      """WITH src AS (
           SELECT doc_id,
             substr(coalesce(text, ''), 1, 20) ||
             repeat('漢', CAST(doc_id * 3 % 40 AS INT)) ||
             repeat('ж', CAST(doc_id * 5 % 30 AS INT)) ||
             repeat('α', CAST(doc_id % 10 AS INT)) ||
             repeat('م', CAST(doc_id % 8 AS INT)) AS t
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
               AS BIGINT) AS n_latin,
             CAST(length(t) - length(regexp_replace(t,
               '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS n_cjk,
             CAST(length(t) - length(regexp_replace(t,
               '[\x{0400}-\x{04ff}]', '', 'g')) AS BIGINT) AS n_cyrillic,
             CAST(length(t) - length(regexp_replace(t,
               '[\x{0370}-\x{03ff}]', '', 'g')) AS BIGINT) AS n_greek,
             CAST(length(t) - length(regexp_replace(t,
               '[\x{0600}-\x{06ff}]', '', 'g')) AS BIGINT) AS n_arabic
           FROM src)
         SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_greek, n_arabic,
           CASE
             WHEN greatest(n_latin, n_cjk, n_cyrillic, n_greek, n_arabic) = 0
               THEN 'none'
             WHEN n_latin = greatest(n_latin, n_cjk, n_cyrillic, n_greek,
               n_arabic) THEN 'latin'
             WHEN n_cjk = greatest(n_latin, n_cjk, n_cyrillic, n_greek,
               n_arabic) THEN 'cjk'
             WHEN n_cyrillic = greatest(n_latin, n_cjk, n_cyrillic, n_greek,
               n_arabic) THEN 'cyrillic'
             WHEN n_greek = greatest(n_latin, n_cjk, n_cyrillic, n_greek,
               n_arabic) THEN 'greek'
             ELSE 'arabic' END AS dominant
         FROM m""",

    "q_equidepth_bins" ->
      """SELECT bin, count(*) AS n, min(n_chars) AS lo, max(n_chars) AS hi
         FROM (
           SELECT doc_id, n_chars,
             CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
               AS bin
           FROM documents)
         GROUP BY bin""",

    // same ceil-rank order statistics over the md5-ordered 200-sample,
    // same 1 + #{cuts < v} bin rule — the thresholds are deterministic,
    // so the whole approximate path replays bit-identically
    "q_equidepth_approx" ->
      """WITH s AS (
           SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 200),
         o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
         nn AS (SELECT count(*) AS n FROM s),
         cuts AS (
           SELECT (SELECT v FROM o
                   WHERE rn = ((SELECT n FROM nn) * d * 10 + 99) // 100)
             AS t
           FROM generate_series(1, 9) AS g(d)),
         b AS (
           SELECT CAST(n_chars AS DOUBLE) AS v,
             1 + (SELECT count(*) FROM cuts WHERE t < CAST(n_chars AS DOUBLE))
               AS bin
           FROM documents)
         SELECT bin, count(*) AS n, min(v) AS lo, max(v) AS hi
         FROM b GROUP BY bin""",

    "q_lang_top_terms" ->
      """SELECT lang, tok, cnt, rk FROM (
           SELECT lang, tok, cnt,
             row_number() OVER (PARTITION BY lang
               ORDER BY cnt DESC, tok) AS rk
           FROM (
             SELECT lang, tok, count(*) AS cnt FROM (
               SELECT lang,
                 unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM documents)
             GROUP BY lang, tok))
         WHERE rk <= 5""",

    // Winnowing: replay gram md5-prefix hashes, the min-per-window
    // selection (whole-stream window under w hashes), sorted-distinct,
    // and the signature join.
    "q_winnow_fp" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - 4, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
               AS g
           FROM tok),
         h AS (
           SELECT doc_id,
             list_transform(g,
               x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
           FROM sh),
         win AS (
           SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(hs) <= 3 THEN [list_min(hs)]
                  ELSE list_transform(generate_series(1, len(hs) - 3),
                    i -> list_min(hs[i:i+3])) END AS sel
           FROM h),
         f AS (
           SELECT doc_id, list_sort(list_distinct(sel)) AS fps FROM win)
         SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
           md5(array_to_string(fps, ',')) AS fp_sig
         FROM f""",

    // Winnowing overlap: the q_winnow_fp chain over the span fixture,
    // then the df-capped fingerprint equi-join.
    "q_winnow_overlap" ->
      """WITH fx AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 200000, substr(text, 41, 160)
           FROM documents WHERE doc_id < 50),
         tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM fx),
         sh AS (
           SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - 4, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
               AS g
           FROM tok),
         h AS (
           SELECT doc_id,
             list_transform(g,
               x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
           FROM sh),
         win AS (
           SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(hs) <= 3 THEN [list_min(hs)]
                  ELSE list_transform(generate_series(1, len(hs) - 3),
                    i -> list_min(hs[i:i+3])) END AS sel
           FROM h),
         f AS (
           SELECT doc_id, unnest(list_distinct(sel)) AS fp FROM win),
         ok AS (
           SELECT fp FROM (SELECT fp, count(*) AS c FROM f GROUP BY fp)
           WHERE c BETWEEN 2 AND 20),
         fo AS (SELECT f.doc_id, f.fp FROM f JOIN ok USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
         FROM fo a JOIN fo b ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2""",

    // Source overlap: the winnow chain (corpus side, no span fixture),
    // distinct (source, fp), pairwise shared + Jaccard.
    "q_source_overlap" ->
      """WITH tok AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents),
         sh AS (
           SELECT doc_id,
             list_transform(generate_series(1, greatest(len(t) - 4, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
               AS g
           FROM tok),
         h AS (
           SELECT doc_id,
             list_transform(g,
               x -> CAST(('0x' || substr(md5(x), 1, 8)) AS BIGINT)) AS hs
           FROM sh),
         win AS (
           SELECT doc_id,
             CASE WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
                  WHEN len(hs) <= 3 THEN [list_min(hs)]
                  ELSE list_transform(generate_series(1, len(hs) - 3),
                    i -> list_min(hs[i:i+3])) END AS sel
           FROM h),
         sf AS (
           SELECT DISTINCT d.source AS source, x.fp FROM (
             SELECT doc_id, unnest(list_distinct(sel)) AS fp FROM win) x
           JOIN documents d USING (doc_id)),
         tot AS (SELECT source, count(*) AS n FROM sf GROUP BY source),
         p AS (
           SELECT a.source AS source_a, b.source AS source_b,
             count(*) AS n_shared
           FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b, CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared), 6)
             AS jacc6
         FROM p
         JOIN tot ta ON ta.source = p.source_a
         JOIN tot tb ON tb.source = p.source_b""",

    // Link extraction: same (?i) double-quote href regex and host regex.
    "q_link_hosts" ->
      """WITH src AS (
           SELECT doc_id,
             '<html><body><a href="https://www.example.com/page' ||
             CAST(doc_id % 10 AS VARCHAR) || '">x</a>' ||
             CASE WHEN doc_id % 2 = 0
               THEN '<a href="http://cdn' || CAST(doc_id % 5 AS VARCHAR) ||
                 '.assets.net/img.png">i</a>'
               ELSE '' END ||
             '<A HREF="https://docs.example.org/help#a">h</A>' ||
             CASE WHEN doc_id % 3 = 0
               THEN '<a href=''https://single.quote.org/skip''>s</a>'
               ELSE '' END ||
             '<a href="/relative/path">r</a></body></html>' AS t
           FROM documents),
         links AS (
           SELECT doc_id,
             unnest(regexp_extract_all(t, '(?i)href\s*=\s*"([^"]*)"', 1))
               AS url
           FROM src),
         hosts AS (
           SELECT doc_id, url,
             lower(regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS host
           FROM links)
         SELECT host, count(*) AS n_links,
           count(DISTINCT doc_id) AS n_docs,
           min(url) AS sample_url
         FROM hosts GROUP BY host""",

    // RRF: both retriever replays (the BM25 oracle verbatim as a CTE +
    // the probe-restricted exact KNN) fused by 1/(60+rank).
    "q_rrf_fusion" ->
      s"""WITH bm AS ($bm25TopkOracle),
         kn AS (
           SELECT vec_id AS query_id, nbr_id AS doc_id, rn AS rank FROM (
             SELECT a.vec_id, b.vec_id AS nbr_id,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(
                     CAST(a.embedding AS DOUBLE[]),
                     CAST(b.embedding AS DOUBLE[])), 4) DESC,
                   b.vec_id) AS rn
             FROM embeddings a, embeddings b
             WHERE a.vec_id IN (1, 2, 3) AND a.vec_id <> b.vec_id)
           WHERE rn <= 10),
         u AS (
           SELECT query_id, doc_id, rank FROM bm
           UNION ALL
           SELECT query_id, doc_id, rank FROM kn),
         f AS (
           SELECT query_id, doc_id,
             round(sum(CAST(1.0 AS DOUBLE) / (60 + rank)), 6) AS rrf,
             CAST(count(*) AS BIGINT) AS n_lists
           FROM u GROUP BY 1, 2)
         SELECT query_id, doc_id, rrf, n_lists, rank FROM (
           SELECT query_id, doc_id, rrf, n_lists,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf DESC, doc_id) AS rank
           FROM f)
         WHERE rank <= 10""",


    // DSIR: refit both smoothed unigram models (source top-1000 vocab +
    // OOV mass bucket, FITTED V in the smoothing denominators), score
    // every document by the mean log ratio, replay the Gumbel draw.
    // u = (hex8 + 0.5)/2^32 is exact in double on both engines (power-of-
    // two divide), and both the weight (4 dec) and the noise (6 dec) are
    // rounded before the threshold compare.
    "q_dsir_weights" ->
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
           FROM documents),
         scnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
         vocab AS (SELECT t, c AS sc FROM scnt ORDER BY c DESC, t LIMIT 1000),
         stot AS (SELECT sum(c) AS st FROM scnt),
         tcnt AS (
           SELECT t, count(*) AS c FROM (
             SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
             FROM documents WHERE lang = 'en')
           GROUP BY t),
         ttot AS (SELECT coalesce(sum(c), 0) AS tt FROM tcnt),
         fit AS (SELECT count(*) AS v, sum(sc) AS siv FROM vocab),
         tiv AS (
           SELECT coalesce(sum(tc.c), 0) AS tivc
           FROM vocab LEFT JOIN tcnt tc USING (t)),
         rat AS (
           SELECT vocab.t,
             ln(CAST(coalesce(tc.c, 0) + 1 AS DOUBLE) / (tt + v + 1)) -
             ln(CAST(sc + 1 AS DOUBLE) / (st + v + 1)) AS r
           FROM vocab LEFT JOIN tcnt tc USING (t), ttot, stot, fit),
         oov AS (
           SELECT ln(CAST(tt - tivc + 1 AS DOUBLE) / (tt + v + 1)) -
                  ln(CAST(st - siv + 1 AS DOUBLE) / (st + v + 1)) AS r
           FROM ttot, tiv, stot, fit)
         SELECT doc_id,
           round(avg(coalesce(rat.r, oov.r)), 4) + CAST(0 AS DOUBLE)
             AS logratio,
           CAST(count(*) AS BIGINT) AS n_tokens,
           (round(avg(coalesce(rat.r, oov.r)), 4) +
            round(-ln(-ln(
              (CAST(CAST(('0x' || substr(md5('dsir ' || doc_id), 1, 8))
                 AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
              / CAST(4294967296.0 AS DOUBLE))), 6))
             > CAST(0.5 AS DOUBLE) AS kept
         FROM tok LEFT JOIN rat USING (t), oov
         GROUP BY doc_id""",

    // Incremental near-dup: replay both increments — md5 signatures
    // (k=8), baked-band keys (4 bands x 2 rows), index-key cap, the
    // candidate join, and the matching-component estimate vs 0.7.
    "q_incr_neardup" ->
      """WITH f AS (
           SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         b AS (
           SELECT doc_id + 100000 AS doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  WHEN doc_id % 3 = 1 THEN text || ' qq7x ww8y ee9z'
                  ELSE translate(text, 'aeiou', 'uoiea') END AS text
           FROM f),
         fsh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM f),
         bsh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM b),
         fsig AS (
           SELECT doc_id,
             list_transform(range(8), i -> list_min(list_transform(s, x -> md5(i || ' ' || x)))) AS isg,
             len(s) AS ns
           FROM fsh),
         bsig AS (
           SELECT doc_id,
             list_transform(range(8), i -> list_min(list_transform(s, x -> md5(i || ' ' || x)))) AS bsg,
             len(s) AS ns
           FROM bsh),
         fb AS (
           SELECT doc_id AS iid, isg,
             unnest(list_transform(range(4), bb -> md5(bb || '|' || concat_ws(',', list_slice(isg, bb * 2 + 1, bb * 2 + 2))))) AS key
           FROM fsig WHERE ns > 0),
         okk AS (SELECT key FROM fb GROUP BY key HAVING count(*) <= 1000),
         bb2 AS (
           SELECT doc_id AS bid, bsg,
             unnest(list_transform(range(4), bb -> md5(bb || '|' || concat_ws(',', list_slice(bsg, bb * 2 + 1, bb * 2 + 2))))) AS key
           FROM bsig WHERE ns > 0),
         cand AS (
           SELECT DISTINCT bid
           FROM bb2
             JOIN (SELECT * FROM fb JOIN okk USING (key)) fi USING (key)
           WHERE CAST(len(list_filter(generate_series(1, 8), i -> bsg[i] = fi.isg[i])) AS DOUBLE)
               / CAST(8 AS DOUBLE) >= CAST(0.7 AS DOUBLE))
         SELECT doc_id FROM b
         WHERE doc_id NOT IN (SELECT bid FROM cand)""",

    // Shared spans: positioned md5 5-gram seeds, df cap, cross-doc
    // equi-join, diagonal islands (pa − row_number constant along a
    // consecutive run), span = run + 4.
    "q_shared_spans" -> (spanCtes +
      """
         SELECT id_a, id_b, max(span) AS max_span,
           CAST(count(*) AS BIGINT) AS n_spans
         FROM runs WHERE span >= 8 GROUP BY id_a, id_b"""),

    // Span decontamination: same seed/diagonal algebra as spanCtes but
    // across (train, eval); no df cap — the broadcast eval side bounds
    // fan-out in the engine, and the oracle joins the same finite sets.
    "q_span_decontaminate" ->
      """WITH ev AS (
           SELECT doc_id + 900000 AS eval_id, substr(text, 21, 200) AS text
           FROM documents WHERE doc_id % 12 = 7),
         ttk AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents WHERE text IS NOT NULL),
         etk AS (
           SELECT eval_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM ev WHERE text IS NOT NULL),
         ts AS (
           SELECT doc_id, unnest(gl) AS g,
             CAST(generate_subscripts(gl, 1) AS BIGINT) AS p
           FROM (
             SELECT doc_id,
               list_transform(
                 generate_series(1, greatest(len(t) - 4, 0)),
                 i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS gl
             FROM ttk)),
         es AS (
           SELECT eval_id, unnest(gl) AS g,
             CAST(generate_subscripts(gl, 1) AS BIGINT) AS ep
           FROM (
             SELECT eval_id,
               list_transform(
                 generate_series(1, greatest(len(t) - 4, 0)),
                 i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4])) AS gl
             FROM etk)),
         hits AS (
           SELECT ts.doc_id, es.eval_id, ts.p, ts.p - es.ep AS d
           FROM ts JOIN es USING (g)),
         runs AS (
           SELECT doc_id, eval_id, d, isl, count(*) + 4 AS span FROM (
             SELECT doc_id, eval_id, d, p,
               p - row_number() OVER (PARTITION BY doc_id, eval_id, d
                 ORDER BY p) AS isl
             FROM hits)
           GROUP BY doc_id, eval_id, d, isl)
         SELECT doc_id, max(span) AS max_span,
           CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
         FROM runs WHERE span >= 8 GROUP BY doc_id""",

    "q_span_contamination" -> (spanCtes +
      """,
         prs AS (
           SELECT id_a, id_b, max(span) AS max_span
           FROM runs WHERE span >= 8 GROUP BY id_a, id_b),
         sides AS (
           SELECT id_a AS doc_id, max_span, id_b AS partner FROM prs
           UNION ALL
           SELECT id_b AS doc_id, max_span, id_a AS partner FROM prs)
         SELECT doc_id, max(max_span) AS max_span,
           CAST(count(DISTINCT partner) AS BIGINT) AS n_partners
         FROM sides GROUP BY doc_id"""),

    // Delta curation: replays BOTH DeltaCurate increments — month-0 gate
    // + within-increment exact keeper builds the index state (near-dup
    // drops nothing against an empty index), then the month-1 delta
    // (diff by fingerprint) is gated, exact-checked against month-0 fps,
    // and near-dup-checked against month-0 survivors' banded md5
    // signatures (k=8, 4 bands, est >= 0.8, cap 1000). Same machinery as
    // the q_incr_neardup oracle.
    "q_delta_curate" -> deltaCurateOracle(""),

    // same replay with the month-0 index narrowed to the LIVE corpus
    // (doc_id % 10 <> 3 — the removed set's keeper rows are exactly what
    // compaction GCs; fps are distinct per keeper, so the kept index is
    // the keeper set minus the removed ids on both the fp and sig side)
    "q_delta_compact" -> deltaCurateOracle(" WHERE doc_id % 10 NOT IN (3, 4)"),
  ) ++ staticOraclesTail

  /** The delta-curation survivor replay, parameterized by the month-0
    * index filter (`""` = the uncompacted index, q_delta_curate; the
    * compaction row narrows BOTH index CTEs — the exact `NOT IN` and the
    * signature-shingle source — to the live keepers). One definition so
    * the two rows' oracles cannot drift.
    */
  private def deltaCurateOracle(idxFilter: String): String =
      """WITH d0 AS (SELECT doc_id, text, lang FROM documents),
         nx AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN text || ' revised'
                  WHEN doc_id % 10 = 9 THEN translate(text, 'aeiou', 'uoiea')
                  ELSE text END AS text,
             lang
           FROM d0 WHERE doc_id % 10 <> 3
           UNION ALL
           SELECT doc_id + 500000 AS doc_id, text, lang
           FROM d0 WHERE doc_id < 20
           UNION ALL
           SELECT doc_id + 700000 AS doc_id,
             substr(text, 50, 260) AS text, lang
           FROM d0 WHERE doc_id % 10 = 4),
         o AS (SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fpo,
             TRUE AS po FROM d0),
         n AS (SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fpn,
             TRUE AS pn FROM nx),
         delta_ids AS (
           SELECT doc_id FROM o FULL JOIN n USING (doc_id)
           WHERE (po IS NULL AND pn IS NOT NULL)
              OR (po IS NOT NULL AND pn IS NOT NULL
                  AND NOT (fpo IS NOT DISTINCT FROM fpn))),
         g0 AS (
           SELECT doc_id, text,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
           FROM d0
           WHERE lang = 'en' AND text IS NOT NULL
             AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 30),
         idx0 AS (
           SELECT doc_id, text, fp FROM (
             SELECT *, row_number() OVER (PARTITION BY fp
               ORDER BY doc_id) AS rn FROM g0)
           WHERE rn = 1),
         g1 AS (
           SELECT nx.doc_id, nx.text,
             md5(regexp_replace(trim(lower(nx.text)), '\s+', ' ', 'g')) AS fp
           FROM nx JOIN delta_ids USING (doc_id)
           WHERE lang = 'en' AND text IS NOT NULL
             AND len(regexp_extract_all(lower(text), '[a-z0-9]+')) >= 30),
         first1 AS (
           SELECT doc_id, text, fp FROM (
             SELECT *, row_number() OVER (PARTITION BY fp
               ORDER BY doc_id) AS rn FROM g1)
           WHERE rn = 1),
         ex1 AS (
           SELECT doc_id, text FROM first1
           WHERE fp NOT IN (SELECT fp FROM idx0)),
         fsh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM idx0),
         bsh AS (
           SELECT doc_id,
             list_transform(
               generate_series(1, greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')) - 2, 0)),
               i -> concat_ws(' ',
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+1],
                 regexp_extract_all(lower(text), '[a-z0-9]+')[i+2])) AS s
           FROM ex1),
         fsig AS (
           SELECT doc_id,
             list_transform(range(8), i -> list_min(list_transform(s, x -> md5(i || ' ' || x)))) AS isg,
             len(s) AS ns
           FROM fsh),
         bsig AS (
           SELECT doc_id,
             list_transform(range(8), i -> list_min(list_transform(s, x -> md5(i || ' ' || x)))) AS bsg,
             len(s) AS ns
           FROM bsh),
         fb AS (
           SELECT doc_id AS iid, isg,
             unnest(list_transform(range(4), bb -> md5(bb || '|' || concat_ws(',', list_slice(isg, bb * 2 + 1, bb * 2 + 2))))) AS key
           FROM fsig WHERE ns > 0),
         okk AS (SELECT key FROM fb GROUP BY key HAVING count(*) <= 1000),
         bb2 AS (
           SELECT doc_id AS bid, bsg,
             unnest(list_transform(range(4), bb -> md5(bb || '|' || concat_ws(',', list_slice(bsg, bb * 2 + 1, bb * 2 + 2))))) AS key
           FROM bsig WHERE ns > 0),
         cand AS (
           SELECT DISTINCT bid
           FROM bb2
             JOIN (SELECT * FROM fb JOIN okk USING (key)) fi USING (key)
           WHERE CAST(len(list_filter(generate_series(1, 8), i -> bsg[i] = fi.isg[i])) AS DOUBLE)
               / CAST(8 AS DOUBLE) >= CAST(0.8 AS DOUBLE))
         SELECT doc_id FROM ex1
         WHERE doc_id NOT IN (SELECT bid FROM cand)"""
      .replace("FROM idx0)", "FROM idx0" + idxFilter + ")")

  private lazy val staticOraclesTail: Map[String, String] = Map(
    // Snapshot diff: same fingerprint both sides; `||` (not concat —
    // DuckDB's concat swallows NULLs, Spark's propagates) keeps
    // null-text edits null; IS NOT DISTINCT FROM = Spark's <=>.
    "q_snapshot_diff" ->
      """WITH o AS (
           SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fpo,
             TRUE AS po
           FROM documents),
         nx AS (
           SELECT doc_id,
             CASE WHEN doc_id % 10 = 5 THEN text || ' revised'
                  ELSE text END AS text
           FROM documents WHERE doc_id % 10 <> 3
           UNION ALL
           SELECT doc_id + 500000 AS doc_id, text
           FROM documents WHERE doc_id < 20),
         n AS (
           SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fpn,
             TRUE AS pn
           FROM nx)
         SELECT doc_id,
           CASE WHEN pn IS NULL THEN 'removed'
                WHEN po IS NULL THEN 'added'
                WHEN fpo IS NOT DISTINCT FROM fpn THEN 'unchanged'
                ELSE 'changed' END AS status
         FROM o FULL JOIN n USING (doc_id)""",

    // Blocklist screen: integer hit counts; the fraction is one IEEE
    // division (bit-stable cross-engine); CASE-guarded for tokenless
    // docs on both sides.
    "q_blocklist" ->
      """WITH d AS (
           SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
           FROM documents WHERE text IS NOT NULL),
         c AS (
           SELECT doc_id,
             CAST(len(list_filter(t,
               x -> list_contains(['slow', 'merge', 'hash'], x))) AS BIGINT)
               AS n_flagged,
             CAST(len(t) AS BIGINT) AS n_tokens
           FROM d)
         SELECT doc_id, n_flagged, n_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE CAST(n_flagged AS DOUBLE) / n_tokens END AS flag_frac,
           CASE WHEN n_tokens = 0 THEN FALSE
                ELSE CAST(n_flagged AS DOUBLE) / n_tokens > 0.05 END
             AS blocked
         FROM c""",

    // Heavy hitters: the CMS prefilter only prunes candidates, so the
    // exact semantics are a plain GROUP BY/HAVING.
    "q_heavy_tokens" ->
      """SELECT token, CAST(count(*) AS BIGINT) AS cnt
         FROM (
           SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
           FROM documents WHERE text IS NOT NULL)
         GROUP BY token HAVING count(*) >= 40""",

    // Boilerplate removal: replay discovery (distinct-doc count per
    // trimmed line, blank + tab-bearing lines excluded) and cleaning
    // (list_filter keeps blank lines and non-heavy lines; DuckDB lambdas
    // stay on one line — the parser rejects newline-split lambda bodies).
    "q_boilerplate" ->
      """WITH src AS (
           SELECT doc_id,
             'promo header ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
             text || chr(10) ||
             CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter'
                  ELSE 'unique tail ' || CAST(doc_id AS VARCHAR) END AS text
           FROM documents WHERE text IS NOT NULL),
         heavy AS (
           SELECT k FROM (
             SELECT doc_id, trim(ln, ' ') AS k
             FROM src, UNNEST(string_split(text, chr(10))) AS t(ln))
           WHERE k <> '' AND NOT contains(k, chr(9))
           GROUP BY k HAVING count(DISTINCT doc_id) >= 20),
         hv AS (SELECT coalesce(list(k), []) AS h FROM heavy)
         SELECT doc_id,
           array_to_string(list_filter(string_split(text, chr(10)), x -> trim(x, ' ') = '' OR NOT list_contains(h, trim(x, ' '))), chr(10)) AS clean_text,
           CAST(len(string_split(text, chr(10))) - len(list_filter(string_split(text, chr(10)), x -> trim(x, ' ') = '' OR NOT list_contains(h, trim(x, ' ')))) AS BIGINT) AS n_dropped
         FROM src, hv""",

    // Repetition fractions: per-(doc, gram) counts, argmax by
    // (count desc, gram asc), integer character numerators, one final
    // double division per column.
    "q_repetition" ->
      """WITH d AS (
           SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t,
             CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
               AS BIGINT) AS tc
           FROM documents WHERE text IS NOT NULL),
         g2 AS (
           SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> concat_ws(' ', t[i], t[i+1]))) AS g
           FROM d),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
         t2 AS (
           SELECT doc_id, c * length(replace(g, ' ', '')) AS num FROM (
             SELECT doc_id, g, c,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY c DESC, g) AS rn
             FROM c2)
           WHERE rn = 1),
         g5 AS (
           SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(len(t) - 4, 0)),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS g
           FROM d),
         c5 AS (SELECT doc_id, g, count(*) AS c FROM g5 GROUP BY doc_id, g),
         d5 AS (
           SELECT doc_id, sum(c * length(replace(g, ' ', ''))) AS num
           FROM c5 WHERE c >= 2 GROUP BY doc_id),
         g3 AS (
           SELECT doc_id, len(sh) AS ns, len(list_distinct(sh)) AS nu FROM (
             SELECT doc_id,
               list_transform(
                 generate_series(1, greatest(len(t) - 2, 0)),
                 i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS sh
             FROM d))
         SELECT d.doc_id,
           CASE WHEN tc = 0 THEN CAST(0 AS DOUBLE)
             ELSE round(CAST(coalesce(t2.num, 0) AS DOUBLE) / tc, 4)
           END AS top2_frac,
           CASE WHEN tc = 0 THEN CAST(0 AS DOUBLE)
             ELSE round(CAST(coalesce(d5.num, 0) AS DOUBLE) / tc, 4)
           END AS dup5_frac,
           CASE WHEN ns = 0 THEN CAST(0 AS DOUBLE)
             ELSE round(CAST(1 AS DOUBLE) - CAST(nu AS DOUBLE) / ns, 4)
           END AS dup3_shingle_ratio
         FROM d
           LEFT JOIN t2 USING (doc_id)
           LEFT JOIN d5 USING (doc_id)
           JOIN g3 USING (doc_id)""",
  )
}

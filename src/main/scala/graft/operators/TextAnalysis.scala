package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis column combinators for large-scale training-data pipelines
  * ([EXT], SURVEY.md §2.G note): normalization, tokenization, shingling,
  * quality scoring, language ID, fingerprinting.
  *
  * Everything here is a pure `Column => Column` builder over Spark built-ins
  * (higher-order array functions + regexes), mirroring the reference's own
  * expression-first stance (zero UDFs in 903 lines —
  * /root/reference/.../ParquetDump.scala:54-113 is all Column combinators).
  * At 100 TB these are narrow, scan-fused map stages with no shuffle and no
  * UDF closure/serialization boundary. Precision note: Spark's higher-order
  * array functions are `CodegenFallback` — their lambdas evaluate
  * interpreted inside the codegen'd stage — which is fine for these simple
  * per-element bodies, but means (a) a custom codegen `Expression` is the
  * upgrade path when a fold dominates a profile (done for the vector math
  * in graft.plans), and (b) expensive probes like `might_contain` must
  * NEVER sit inside a HOF lambda (measured 30× slower in
  * Curation.decontaminate — restructure to explode + top-level filter).
  *
  * The `canonicalize` chain reproduces the reference's Elasticsearch
  * `canonicalsort` normalizer (lowercase → strip leading articles and
  * non-alphanumerics — index-settings-and-mappings-necropolis.json:5-23);
  * `shingles` mirrors its `shingle` filter (min 2 / max 4 —
  * ...json:26-31).
  */
object TextAnalysis {

  /** English stopword sample used for quality ratios / language scoring. */
  val StopwordsEn: Seq[String] = Seq("the", "of", "and", "a", "an", "in", "to")

  /** Word tokens: maximal [a-z0-9]+ runs of the lowercased text — the
    * codegen [[graft.plans.TokenizeAscii]] kernel (exact regex parity,
    * ScalaCheck-pinned); the regex form is the sessionless fallback.
    */
  def tokens(c: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.plans.GraftFunctions.register(s)
        call_function("graft_tokens", c)
      case None =>
        regexp_extract_all(lower(c), lit("[a-z0-9]+"), lit(0))
    }

  /** BPE-ish subword tokens: letter runs, digit runs, single symbols. */
  def tokensBpeish(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  /** Whitespace-collapsed, trimmed, lowercased text. */
  def normalize(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** ES canonicalsort-style key: lowercase, drop articles + non-alnum. */
  def canonicalize(c: Column): Column =
    regexp_replace(lower(c), "\\b(the|of|and|a|an)\\b|[^a-z0-9]+", "")

  /** ASCII folding for Latin-1/Latin-Extended accents via a translate table
    * (the ES `asciifolding` filter in the reference's analysis chain,
    * necropolis.json:10,21 — SURVEY.md §2.G note suggests exactly
    * `F.translate` for this). One codegen'd char-map pass, no UDF. Chars
    * outside the table (CJK etc.) pass through, matching asciifolding.
    */
  def asciiFold(c: Column): Column = translate(c,
    "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ",
    "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY")

  /** Deterministic document fingerprint (md5 of normalized text). */
  def fingerprint(c: Column): Column = md5(normalize(c))

  /** n-word shingles over a token array (default n=3). Docs with fewer than
    * n tokens yield an empty array.
    *
    * Dispatches to the codegen [[graft.plans.ShingleArray]] kernel (one
    * pass over the materialized token array, string-identical output).
    * The HOF form it replaces — `transform(sequence(1, size-n+1), i ->
    * concat_ws(' ', toks[i..i+n-1]))` — evaluates interpreted and
    * re-walks `element_at` (and, when `toks` is an inlined expression,
    * the whole tokenizer) per position: measured ~20× slower as a seed/
    * shingle producer on the sf0.1 corpus, and quadratic under explode.
    * Falls back to that HOF only when no Spark session is active to
    * register the function against (the guard there: Spark's
    * `sequence(1, 0)` is DESCENDING (1,0), not empty, which would index
    * element 0 of a 1-based array). Multi-session caveat: registration
    * targets the ACTIVE session; a column built while session A is
    * active but analyzed by session B resolves against B — call
    * `GraftFunctions.register(B)` (idempotent, as every graft operator
    * entry point does) before analyzing there.
    */
  def shingles(toks: Column, n: Int = 3): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.plans.GraftFunctions.register(s)
        call_function("graft_shingles", toks, lit(n))
      case None =>
        when(size(toks) < n, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(toks) - (n - 1)),
            i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
    }

  /** Fraction of shingles that are repeats of an earlier shingle in the
    * same document (0 when shingle-less) — the intra-document repetition
    * signal from the Gopher-style quality rules: boilerplate and
    * loop-generated text score high, natural prose low. Derivable from
    * the oracled q_shingle_stats counts (1 − uniq/total).
    */
  def dupShingleRatio(toks: Column, n: Int = 3): Column = {
    val sh = shingles(toks, n)
    when(size(sh) === 0, 0.0)
      .otherwise(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh))
  }

  /** Gopher-style intra-document repetition fractions ([EXT]) — the two
    * signals [[dupShingleRatio]] cannot see because they weight by
    * CHARACTERS, not shingle counts: `top2_frac` = fraction of the
    * document's alphanumeric characters covered by all occurrences of
    * its most frequent word 2-gram (tie to the lexicographically
    * smaller gram), and `dup5_frac` = fraction covered by 5-grams that
    * occur more than once. Loop-generated boilerplate scores near 1,
    * natural prose near 0. Returns (idCol, top2_frac, dup5_frac,
    * dup3_shingle_ratio) for every non-null-text document, 0.0 for
    * documents too short to form grams.
    *
    * Scale shape: two exploded (doc, gram) count aggregations (map-side
    * combined; the argmax is a min-of-struct aggregate, not a window, so
    * nothing sorts) joined back to the narrow base — numerators are
    * exact integer character sums, so cross-engine parity needs no
    * float-order care.
    */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = graft.operators.Similarity.spreadIfNarrow(
      df.filter(col(textCol).isNotNull))
      .select(col(idCol), tokens(col(textCol)).as("__t"),
        length(regexp_replace(lower(col(textCol)), "[^a-z0-9]", ""))
          .cast("long").as("__tc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def gramCounts(n: Int): DataFrame = base
      .select(col(idCol), explode(shingles(col("__t"), n)).as("__g"))
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
    // chars covered by a gram's occurrences: count x alnum length (the
    // separator spaces are not document characters)
    def covered(c: Column, g: Column): Column =
      c * length(translate(g, " ", "")).cast("long")
    // argmax by (count desc, gram asc) == min of struct(-count, gram)
    val top2 = gramCounts(2)
      .groupBy(col(idCol))
      .agg(min(struct((-col("__c")).as("nc"), col("__g").as("g"))).as("b"))
      .select(col(idCol),
        covered(-col("b.nc"), col("b.g")).as("__top2num"))
    val dup5 = gramCounts(5)
      .filter(col("__c") >= 2)
      .groupBy(col(idCol))
      .agg(sum(covered(col("__c"), col("__g"))).as("__dup5num"))
    def frac(num: Column): Column =
      when(col("__tc") === 0, 0.0)
        .otherwise(round(coalesce(num, lit(0L)).cast("double") /
          col("__tc"), 4))
    base
      .join(top2, Seq(idCol), "left")
      .join(dup5, Seq(idCol), "left")
      .select(col(idCol),
        frac(col("__top2num")).as("top2_frac"),
        frac(col("__dup5num")).as("dup5_frac"),
        round(dupShingleRatio(col("__t")), 4).as("dup3_shingle_ratio"))
  }

  /** Fraction of tokens that are known stopwords (0 when no tokens). */
  def stopwordRatio(toks: Column, stopwords: Seq[String] = StopwordsEn): Column = {
    val stops = array(stopwords.map(lit): _*)
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => array_contains(stops, t)))
        .cast("double") / size(toks))
  }

  /** Mean token length in characters (0 when no tokens). */
  def avgTokenLen(c: Column): Column = {
    val alnum = length(regexp_replace(lower(c), "[^a-z0-9]", ""))
    val n = size(tokens(c))
    when(n === 0, 0.0).otherwise(alnum.cast("double") / n)
  }

  /** Heuristic language ID from script + stopword evidence.
    * Order matters: script tests (CJK) before stopword tests.
    */
  def langIdHeuristic(c: Column): Column = {
    def hasAny(words: Seq[String]): Column = {
      val toks = tokens(c)
      words.map(w => array_contains(toks, w)).reduce(_ || _)
    }
    when(c.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(hasAny(Seq("the", "and", "with", "this")), "en")
      .when(hasAny(Seq("el", "los", "una", "por")), "es")
      .when(hasAny(Seq("le", "les", "une", "avec")), "fr")
      .when(hasAny(Seq("der", "die", "und", "mit")), "de")
      .otherwise("und")
  }

  /** Overlapping token-window chunks: split a token array into windows of
    * `window` tokens advancing by `window - overlap` — the context-window
    * chunking step for long documents (the complement of Packing: packing
    * merges short docs, chunking splits long ones). Pure array
    * expressions, so unlike packing this IS Catalyst-expressible: chunk i
    * is `slice(toks, i·step + 1, window)` and the chunk count is
    * `1 + ceil((n − window) / step)` (one chunk when n ≤ window; empty
    * for empty input). The final chunk may be shorter; both engines'
    * slice clamps at the end identically.
    */
  def chunkTokens(toks: Column, window: Int, overlap: Int = 0): Column = {
    require(window > 0, s"window must be positive, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap (window $window)")
    val step = window - overlap
    val n = size(toks)
    val nChunks = greatest(
      ceil((n - lit(window)).cast("double") / step).cast("int") + 1, lit(1))
    when(n <= 0, array().cast("array<array<string>>"))
      .otherwise(transform(
        sequence(lit(0), nChunks - 1),
        i => slice(toks, i * step + 1, lit(window))))
  }

  /** First-occurrence line dedup inside one document (the Gopher/CCNet
    * repetition-removal step: navbars, cookie banners, and boilerplate
    * repeat verbatim within a page; keep each line's first occurrence,
    * preserve order, drop the rest). EMPTY lines are exempt — they are
    * paragraph separators, not repeated content, and deduping them would
    * silently merge every multi-paragraph document into one block. A
    * pure narrow expression — each row is independent, so the operator
    * adds zero shuffles at any scale; the `array_position` probe makes
    * it O(lines²) per document, bounded by per-document line counts, not
    * corpus size (chunk pathological docs first if that bound is a
    * concern).
    */
  def dedupLines(c: Column, sep: String = "\n"): Column = {
    val lines = split(c, java.util.regex.Pattern.quote(sep))
    when(c.isNull, lit(null).cast("string"))
      .otherwise(array_join(
        filter(lines, (x, i) =>
          x === lit("") || array_position(lines, x) === i + 1), sep))
  }

  /** Rolling polynomial hash over the token stream: a base-31 left fold,
    * mod 1e9+7, of each token's hash — the first 8 hex digits of its md5
    * (engine-portable, so DuckDB replays the fold with list_reduce over
    * the same prefixes). Order-sensitive, unlike the md5 fingerprint, so
    * documents that permute the same tokens fingerprint differently. The
    * fold is per row, so it is deterministic on any cluster size, and
    * intermediates stay below 31·(1e9+7)+2^32 < 2^35, so ANSI mode (Spark
    * 4 default) never sees a long overflow.
    */
  def rollingHash(toks: Column): Column = {
    val p = lit(1000000007L)
    aggregate(toks, lit(0L),
      (acc, t) => pmod(acc * lit(31L) +
        pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), p), p))
  }

  /** HTML → text extraction ([EXT]): drop non-content blocks (script/
    * style), comments, and tags, decode the common entities, and collapse
    * whitespace — the minimal deterministic extraction step before any
    * text analysis of crawled pages. Chained codegen `regexp_replace`
    * (patterns in the Java∩RE2 subset, same contract as Redaction), so it
    * replays identically in the oracle engine. Replacement ORDER is load-
    * bearing: blocks before tags (a tag pass first would leave script
    * bodies behind), entities after tags (`&lt;b&gt;` must NOT become a
    * stripped tag), `&amp;` LAST (double-encoded `&amp;lt;` decodes to
    * the literal text `&lt;`, not to `<`).
    */
  def stripHtml(c: Column): Column = {
    val noComments = regexp_replace(c, "(?s)<!--.*?-->", " ")
    // two passes, not one with a </\1> backreference: RE2 (the oracle
    // engine's regex) has no backreferences
    val noScript = regexp_replace(noComments,
      "(?is)<script\\b[^>]*>.*?</script\\s*>", " ")
    val noBlocks = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style\\s*>", " ")
    val noTags = regexp_replace(noBlocks, "(?s)<[^>]*>", " ")
    // entity strings carry no regex metacharacters, so plain patterns
    val decoded = Seq(
      "&nbsp;" -> " ", "&quot;" -> "\"", "&#39;" -> "'",
      "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&")
      .foldLeft(noTags) { case (acc, (e, r)) => regexp_replace(acc, e, r) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** The C4 cleaning rules ([EXT]): the public line- and page-level filters
    * of Raffel et al. 2020 (§2.2) as one narrow pass. Line level — keep a
    * line only if it (trimmed) ends in a terminal punctuation mark
    * (`.`/`!`/`?`/closing quote), has at least `minWordsPerLine` words,
    * and contains neither the word "javascript" nor a boilerplate policy
    * phrase ("terms of use", "privacy policy", "cookie policy",
    * "uses cookies"). Page level — a document fails outright when it
    * mentions "lorem ipsum", contains a curly brace (code), or its CLEANED
    * text carries fewer than `minSentences` sentences (runs of terminal
    * punctuation). C4's remaining rule — the three-sentence-span dedup —
    * is a corpus-wide operator, not a per-page filter: that is
    * [[SpanDedup]]'s job.
    *
    * Emitted per document: the cleaned text, line/sentence accounting,
    * each page gate, and the conjunction `pass` — so a pipeline can gate
    * on `pass` and audit which rule fired, the same contract as
    * [[gopherRules]]. Everything is codegen'd string/array expressions
    * off the scan: zero shuffles, zero UDFs; the per-line predicates run
    * inside one `filter` HOF whose regex/contains probes are constant
    * patterns (compiled once per expression). Null text is treated as
    * empty (fails the sentence gate).
    */
  /** The C4 line gate as a pure per-line predicate (see [[c4Filters]]). */
  private def c4KeepLine(l: Column, minWordsPerLine: Int): Column =
    trim(l).rlike("[.!?\"]$") &&
      size(regexp_extract_all(trim(l), lit("\\S+"), lit(0))) >=
        minWordsPerLine &&
      !lower(l).contains("javascript") &&
      !lower(l).contains("terms of use") &&
      !lower(l).contains("privacy policy") &&
      !lower(l).contains("cookie policy") &&
      !lower(l).contains("uses cookies")

  /** The C4 line filter as a `Column => Column` rewrite: the kept lines of
    * the page, rejoined — the pure-expression form [[c4Filters]] and the
    * `Curation.Config.c4` pipeline/streaming gate share, so the batch
    * audit, the batch pipeline, and the ingest stream cannot drift. Null
    * text cleans to "".
    */
  def c4CleanLines(c: Column, minWordsPerLine: Int = 5): Column =
    array_join(filter(split(coalesce(c, lit("")), "\n"),
      l => c4KeepLine(l, minWordsPerLine)), "\n")

  /** The C4 page gate as a pure boolean Column over the ORIGINAL text
    * (lorem-ipsum / curly-brace probes see the raw page — a brace on a
    * line the line filter drops still fails the page, exactly as
    * [[c4Filters]] reports it) with the sentence count taken over the
    * retained lines.
    */
  def c4PagePass(c: Column, minWordsPerLine: Int = 5,
      minSentences: Int = 3): Column = {
    val t = coalesce(c, lit(""))
    !lower(t).contains("lorem ipsum") && !t.contains("{") &&
      size(regexp_extract_all(c4CleanLines(c, minWordsPerLine),
        lit("[.!?]+"), lit(0))) >= minSentences
  }

  def c4Filters(df: DataFrame, textCol: String, idCol: String,
      minWordsPerLine: Int = 5, minSentences: Int = 3): DataFrame = {
    require(minWordsPerLine >= 1 && minSentences >= 1,
      s"bad thresholds ($minWordsPerLine, $minSentences)")
    val t = coalesce(col(textCol), lit(""))
    val lines = split(t, "\n")
    // the line gate runs ONCE: `__kept` materializes the filtered array,
    // and clean_text/n_lines_kept both derive from it (array_join over
    // the same filtered array is exactly what c4CleanLines produces, so
    // the pure-Column form and this audit stay byte-identical at half
    // the regex cost)
    df.select(col(idCol), t.as("__t"),
        size(lines).cast("long").as("n_lines"),
        filter(lines, l => c4KeepLine(l, minWordsPerLine)).as("__kept"))
      .select(col(idCol), col("__t"), col("n_lines"),
        size(col("__kept")).cast("long").as("n_lines_kept"),
        array_join(col("__kept"), "\n").as("clean_text"))
      .select(col(idCol), col("clean_text"), col("n_lines"),
        col("n_lines_kept"),
        size(regexp_extract_all(col("clean_text"), lit("[.!?]+"), lit(0)))
          .cast("long").as("n_sentences"),
        lower(col("__t")).contains("lorem ipsum").cast("long")
          .as("has_lorem"),
        col("__t").contains("{").cast("long").as("has_brace"))
      .withColumn("pass",
        (col("has_lorem") === 0 && col("has_brace") === 0 &&
          col("n_sentences") >= minSentences).cast("long"))
  }

  /** Character-bigram Shannon entropy ([EXT]) — the compressibility /
    * gibberish signal: natural prose sits in a narrow entropy band,
    * while repeated boilerplate scores low and random/encoded garbage
    * scores high (the cheap stand-in for the gzip-ratio filter of
    * CCNet-style pipelines). Computed over [[normalize]]d text, via the
    * identity `H = log2(n) − (Σ c·log2 c)/n` so only per-gram counts
    * aggregate.
    *
    * Scale shape: the same one-exchange contract as [[repetitionStats]] —
    * explode (doc, bigram) pairs (bytes ≈ the corpus itself), hash-
    * aggregate counts (map-side combined; ≤ ~4k distinct bigrams per doc,
    * so the exchange carries per-doc gram COUNTS, not gram instances),
    * then one per-doc rollup. The bigram array materializes below the
    * explode (the generator-projection rule) so the normalize regex runs
    * once per document, never per emitted gram. Docs with fewer than two
    * normalized characters report n_bigrams = 0, entropy 0.
    */
  def charBigramEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = graft.operators.Similarity.spreadIfNarrow(df)
      .select(col(idCol), normalize(coalesce(col(textCol), lit("")))
        .as("__t"))
    val grams = base
      .filter(length(col("__t")) >= 2)
      .select(col(idCol),
        transform(sequence(lit(1), length(col("__t")) - 1),
          i => col("__t").substr(i, lit(2))).as("__gs"))
      .select(col(idCol), explode(col("__gs")).as("__g"))
    val ent = grams
      .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast("double") * log2(col("__c"))).as("__s"))
      .select(col(idCol), col("__n"),
        round(log2(col("__n")) - col("__s") / col("__n"), 4).as("__h"))
    base.select(col(idCol))
      .join(ent, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_bigrams"),
        coalesce(col("__h"), lit(0.0)).as("entropy4"))
  }

  /** Unicode-script profile ([EXT]): per-document character counts for the
    * five highest-volume writing systems plus the dominant script — the
    * language-coverage audit a multilingual corpus needs BEFORE trusting
    * any stopword-based language ID (which only sees Latin tokens).
    * Counts use explicit BMP code-point ranges (not `\p{script=...}`
    * classes) so the numbers are identical across engines and Unicode
    * table versions; `dominant` is the first script in a fixed priority
    * order (latin, cjk, cyrillic, greek, arabic) holding the maximum
    * count, `none` when the text has no scripted characters. One narrow
    * codegen'd projection: zero shuffles, zero HOFs.
    */
  def scriptProfile(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def cnt(range: String) =
      (length(t) - length(regexp_replace(t, s"[$range]", ""))).cast("long")
    val nLatin = cnt("A-Za-z")
    val nCjk = cnt("\\u4e00-\\u9fff")
    val nCyr = cnt("\\u0400-\\u04ff")
    val nGreek = cnt("\\u0370-\\u03ff")
    val nArabic = cnt("\\u0600-\\u06ff")
    df.select(col(idCol),
        nLatin.as("n_latin"), nCjk.as("n_cjk"), nCyr.as("n_cyrillic"),
        nGreek.as("n_greek"), nArabic.as("n_arabic"))
      .withColumn("dominant", {
        val m = greatest(col("n_latin"), col("n_cjk"), col("n_cyrillic"),
          col("n_greek"), col("n_arabic"))
        when(m === 0, "none")
          .when(col("n_latin") === m, "latin")
          .when(col("n_cjk") === m, "cjk")
          .when(col("n_cyrillic") === m, "cyrillic")
          .when(col("n_greek") === m, "greek")
          .otherwise("arabic")
      })
  }

  /** All double-quoted `href` values of an HTML page, in document order
    * ([EXT]) — the link-extraction step a crawl pipeline runs BEFORE
    * [[stripHtml]] discards the markup (outlinks feed the URL frontier,
    * the host-level link graph for [[PageRank]], and crawl-dedup
    * blocklists). One codegen regex pass in the Java∩RE2 subset;
    * `(?i)` covers `HREF=`/`Href=`. Single-quoted and unquoted
    * attribute values are deliberately out of scope (documented
    * contract: normalize markup first if a corpus carries them —
    * handling both quote styles needs backreferences, which RE2, and
    * therefore the oracle engine, lacks).
    */
  def extractLinks(c: Column): Column =
    regexp_extract_all(c, lit("(?i)href\\s*=\\s*\"([^\"]*)\""), lit(1))

  /** Lowercased host of an absolute URL ("" for relative/schemeless
    * links — the frontier treats those as same-host). Pure regex, not
    * `parse_url`: identical byte semantics in any engine.
    */
  def linkHost(u: Column): Column =
    lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1))

  /** The Gopher rule suite ([EXT]): the seven document-level quality gates
    * of Rae et al. 2021 (§A1.1) as one narrow pass — word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio, bullet-line and
    * ellipsis-line fractions, alphabetic-word fraction, and minimum
    * stopword presence — emitted as a per-rule breakdown plus the
    * conjunction, so a pipeline can both gate (`pass`) and audit which
    * rule fired (the per-rule columns feed the data-card rollup).
    *
    * Every threshold comparison is INTEGER cross-multiplied (e.g. "mean
    * word length in [3,10]" is `3·n_words <= n_chars <= 10·n_words`), so
    * there is no float division anywhere and the gate replays bit-exactly
    * in any engine. Words are maximal `\S+` runs; alphabetic words are
    * counted with a single global regex (`\S*[A-Za-z]\S*` — a leftmost-
    * greedy match consumes the whole run, so matches = runs containing a
    * letter) instead of a per-word interpreted HOF filter; stopword
    * presence is eight independent boundary-regex probes. All of it is
    * codegen expressions off the scan: zero shuffles, zero HOFs.
    *
    * Null text is treated as empty (fails the word-count gate). The
    * stopword probe requires whitespace adjacency ("the," does not
    * count) — identical on both engines, documented deviation from a
    * tokenizer-based count.
    */
  def gopherRules(df: DataFrame, textCol: String, idCol: String,
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"bad word-count bounds [$minWords, $maxWords]")
    val t = coalesce(col(textCol), lit(""))
    val nWords = size(regexp_extract_all(t, lit("\\S+"), lit(0))).cast("long")
    // sum of word lengths = all non-whitespace characters
    val nChars = length(regexp_replace(t, "\\s", "")).cast("long")
    val nLines = size(split(t, "\n")).cast("long")
    val hashCnt = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val uellCnt = (length(t) - length(regexp_replace(t, "…", ""))).cast("long")
    val dellCnt = floor((length(t) -
      length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3)).cast("long")
    val symbolCnt = hashCnt + uellCnt + dellCnt
    val bulletLines = size(regexp_extract_all(t,
      lit("(?m)^[ \\t]*[-*•]"), lit(0))).cast("long")
    val ellLines = size(regexp_extract_all(t,
      lit("(?m)(\\.\\.\\.|…)[ \\t]*$"), lit(0))).cast("long")
    val alphaWords = size(regexp_extract_all(t,
      lit("\\S*[A-Za-z]\\S*"), lit(0))).cast("long")
    val stopHits = Seq("the", "be", "to", "of", "and", "that", "have",
      "with").map { w =>
      when(lower(t).rlike("(^|\\s)" + w + "(\\s|$)"), 1L).otherwise(0L)
    }.reduce(_ + _)
    val rWords = nWords >= minWords && nWords <= maxWords
    val rMeanLen = lit(3L) * nWords <= nChars && nChars <= lit(10L) * nWords
    val rSymbol = symbolCnt * lit(10L) <= nWords
    val rBullet = bulletLines * lit(10L) <= nLines * lit(9L)
    val rEllipsis = ellLines * lit(10L) <= nLines * lit(3L)
    val rAlpha = alphaWords * lit(5L) >= nWords * lit(4L)
    val rStop = stopHits >= 2L
    val all = rWords && rMeanLen && rSymbol && rBullet && rEllipsis &&
      rAlpha && rStop
    df.select(col(idCol), nWords.as("n_words"), nLines.as("n_lines"),
      rWords.cast("long").as("r_words"),
      rMeanLen.cast("long").as("r_mean_len"),
      rSymbol.cast("long").as("r_symbol"),
      rBullet.cast("long").as("r_bullet"),
      rEllipsis.cast("long").as("r_ellipsis"),
      rAlpha.cast("long").as("r_alpha"),
      rStop.cast("long").as("r_stop"),
      all.cast("long").as("pass"))
  }

  /** Determiners/pronouns skipped when picking an instruction's object
    * token (see [[verbObject]]).
    */
  val ObjectStopwords: Seq[String] =
    Seq("the", "a", "an", "it", "this", "that", "my", "your", "of")

  /** Instruction verb-object extraction ([EXT]): the Self-Instruct
    * (Wang et al. 2022) diversity lens — an instruction's leading verb
    * and its first content object. Heuristic, parser-free: verb = first
    * token (the imperative position), object = first following token
    * not in `stop`; "" when none. A pure narrow expression over the
    * tokens kernel — the diversity histogram a groupBy builds from this
    * is the report SFT pipelines plot as the verb-noun sunburst.
    */
  def verbObject(text: Column,
                 stop: Seq[String] = ObjectStopwords): Column = {
    val toks = tokens(text)
    val verb = when(size(toks) > 0, element_at(toks, 1)).otherwise(lit(""))
    val rest = slice(toks, lit(2), greatest(size(toks) - 1, lit(0)))
    val objs = filter(rest, t => !t.isInCollection(stop))
    val obj = when(size(objs) > 0, element_at(objs, 1)).otherwise(lit(""))
    struct(verb.as("verb"), obj.as("obj"))
  }
}

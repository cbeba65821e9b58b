package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis => TA}

/** Golden tests for the text normalizers on inputs the ASCII-only fixture
  * corpus can't exercise (accents, CJK passthrough, article stripping).
  */
class TextAnalysisSpec extends SparkSpec {

  private def one(c: org.apache.spark.sql.Column, input: String): String = {
    import spark.implicits._
    Seq(input).toDF("s").select(c).head().getString(0)
  }

  test("asciiFold maps Latin accents, passes CJK and ASCII through") {
    assert(one(TA.asciiFold(col("s")), "café naïve À BIENTÔT") === "cafe naive A BIENTOT")
    assert(one(TA.asciiFold(col("s")), "北京 plain") === "北京 plain")
    assert(one(TA.asciiFold(col("s")), "unchanged 123") === "unchanged 123")
  }

  test("canonicalize: ES canonicalsort chain (lowercase, strip articles + non-alnum)") {
    assert(one(TA.canonicalize(col("s")), "The Catcher of the Rye!") === "catcherrye")
    assert(one(TA.canonicalize(col("s")), "An  Example, a Test") === "exampletest")
  }

  test("normalize collapses whitespace and case") {
    assert(one(TA.normalize(col("s")), "  A   B\t\nC ") === "a b c")
  }

  test("shingles produce n-grams in order; short docs yield none") {
    import spark.implicits._
    val got = Seq("a b c d").toDF("s")
      .select(TA.shingles(TA.tokens(col("s")), 3).as("sh"))
      .head().getSeq[String](0)
    assert(got === Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("s")
      .select(TA.shingles(TA.tokens(col("s")), 3).as("sh"))
      .head().getSeq[String](0)
    assert(short === Seq.empty)
  }

  test("shingle kernel matches the HOF form on edges (null array, null elements, boundaries)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // HOF reference, built exactly as shingles() did before the kernel
    def hof(toks: org.apache.spark.sql.Column, n: Int) =
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
    val rows = Seq(
      Some(Seq[String]("a", "b", "c", "d")), // normal
      Some(Seq[String]("a", "b", "c")),      // exactly n
      Some(Seq[String]("a", "b")),           // short
      Some(Seq.empty[String]),               // empty
      None)                                  // null array
    val df = rows.toDF("t")
    for (n <- Seq(1, 2, 3)) {
      val got = df.select(TA.shingles(col("t"), n).as("g")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      val exp = df.select(hof(col("t"), n).as("g")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
      assert(got.toSeq === exp.toSeq, s"n=$n")
    }
    // null ELEMENTS are skipped by concat_ws on both paths
    val withNulls = spark.sql("SELECT array('a', NULL, 'c', 'd') AS t")
    assert(withNulls.select(TA.shingles(col("t"), 3)).head().getSeq[String](0)
      === withNulls.select(hof(col("t"), 3)).head().getSeq[String](0))
  }

  test("chunkTokens: window math, clamped tail, overlap reconstruction") {
    import spark.implicits._
    def chunksOf(text: String, window: Int, overlap: Int): Seq[Seq[String]] =
      Seq(text).toDF("s")
        .select(TA.chunkTokens(TA.tokens(col("s")), window, overlap).as("c"))
        .head().getSeq[scala.collection.Seq[String]](0).map(_.toSeq)

    // n <= window: one chunk, whole doc
    assert(chunksOf("a b c", 5, 1) === Seq(Seq("a", "b", "c")))
    // empty doc: no chunks
    assert(chunksOf("", 5, 1) === Seq.empty)
    // exact coverage with overlap: 10 tokens, window 4, overlap 2 → step 2
    val toks = (1 to 10).map(i => s"t$i")
    val got = chunksOf(toks.mkString(" "), 4, 2)
    assert(got.length === 4) // 1 + ceil((10-4)/2) = 4
    assert(got.head === toks.slice(0, 4))
    assert(got(1) === toks.slice(2, 6))
    assert(got.last === toks.slice(6, 10))
    // every chunk overlaps its successor by exactly `overlap`
    got.sliding(2).foreach { case Seq(a, b) =>
      assert(a.takeRight(2) === b.take(2))
    }
    // dropping each chunk's leading overlap reconstructs the doc
    assert((got.head ++ got.tail.flatMap(_.drop(2))) === toks)
    // clamped tail: 9 tokens, window 4, step 4 → chunks of 4, 4, 1
    assert(chunksOf((1 to 9).map("x" + _).mkString(" "), 4, 0).map(_.size)
      === Seq(4, 4, 1))
  }

  test("dupShingleRatio: 0 for unique prose, high for loops, gates curation") {
    import spark.implicits._
    def ratio(s: String): Double =
      Seq(s).toDF("s").select(TA.dupShingleRatio(TA.tokens(col("s"))))
        .head().getDouble(0)
    assert(ratio("one two three four five six") === 0.0)
    assert(ratio("") === 0.0) // shingle-less
    val loop = Seq.fill(20)("buy now click here").mkString(" ")
    assert(ratio(loop) > 0.9) // 80 tokens, ~4 distinct shingles
    // and the optional curation gate drops exactly the loop doc
    import graft.operators.Curation
    val docs = Seq(
      (1L, (1 to 40).map("w" + _).mkString(" "), "en"),
      (2L, loop, "en")).toDF("doc_id", "text", "lang")
    val cfg = Curation.Config(minTokens = 10, maxStopRatio = 1.0,
      langs = Seq("en"), maxDupShingleRatio = 0.5)
    val kept = Curation.qualityFilter(docs, "text", "lang", cfg)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
    // default config (ratio gate off) keeps both
    val keptDefault = Curation.qualityFilter(docs, "text", "lang",
      Curation.Config(minTokens = 10, maxStopRatio = 1.0, langs = Seq("en")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDefault === Set(1L, 2L))
  }

  test("dedupLines keeps first occurrence in order, preserves non-dups") {
    assert(one(TA.dedupLines(col("s")), "a\nb\na\nc\nb\nd") === "a\nb\nc\nd")
    assert(one(TA.dedupLines(col("s")), "only") === "only")
    // empty lines are paragraph separators — NEVER deduped
    assert(one(TA.dedupLines(col("s")), "a\n\nb\n\na") === "a\n\nb\n")
    assert(one(TA.dedupLines(col("s")), "p1\n\np2\n\np3") === "p1\n\np2\n\np3")
    // custom separator is treated literally, not as a regex
    assert(one(TA.dedupLines(col("s"), "."), "x.y.x.z") === "x.y.z")
    // null passes through
    import spark.implicits._
    val r = Seq[Option[String]](None).toDF("s")
      .select(TA.dedupLines(col("s"))).head()
    assert(r.isNullAt(0))
  }

  test("langIdHeuristic: script wins over stopwords; und for no evidence") {
    assert(one(TA.langIdHeuristic(col("s")), "the 北京 record") === "zh")
    assert(one(TA.langIdHeuristic(col("s")), "the quick fox") === "en")
    assert(one(TA.langIdHeuristic(col("s")), "le chat avec rien") === "fr")
    assert(one(TA.langIdHeuristic(col("s")), "xyzzy qwerty") === "und")
  }

  test("repetitionStats: boilerplate near 1, distinct prose 0, short docs 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(20)("spam ham").mkString(" ")), // one 2-gram dominates
      (2L, (0 until 30).map(i => s"tok$i").mkString(" ")), // all distinct
      (3L, "only two"),  // 2-gram exists once, no 5-grams
      (4L, "")           // no characters at all
    ).toDF("doc_id", "text")
    val out = TA.repetitionStats(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // doc 1: "spam ham" occurs 20x and covers 140 of 140 alnum chars
    assert(out(1L)._1 === 1.0)
    // overlapping duplicated 5-grams can cover more than the doc once
    assert(out(1L)._2 > 1.0)
    assert(out(1L)._3 > 0.9)
    // the top 2-gram exists even in distinct prose (count 1, covering
    // just its own few characters); the DUPLICATION fractions are 0
    assert(out(2L)._1 < 0.1 && out(2L)._2 === 0.0 && out(2L)._3 === 0.0)
    // a single occurrence is never a duplicate, but it is the top gram
    assert(out(3L)._1 === 1.0 && out(3L)._2 === 0.0 && out(3L)._3 === 0.0)
    assert(out(4L) === ((0.0, 0.0, 0.0)))
  }

  test("stripHtml: blocks before tags, entities after tags, &amp; last") {
    val f = TA.stripHtml(col("s"))
    // script bodies with bare < > vanish with the block
    assert(one(f, "<p>a</p><script>if (1 < 2) { x > 3 }</script><p>b</p>")
      === "a b")
    assert(one(f, "keep <style media=\"all\">p { color: red }</style> text")
      === "keep text")
    // entities decode AFTER tag removal: &lt;b&gt; is text, not a tag
    assert(one(f, "<b>bold</b> &lt;b&gt;literal&lt;/b&gt;")
      === "bold <b>literal</b>")
    // double-encoded &amp;lt; decodes once, to the literal string "&lt;"
    assert(one(f, "x &amp;lt; y") === "x &lt; y")
    assert(one(f, "a&nbsp;b &quot;c&#39;d&quot;") === "a b \"c'd\"")
    // comments, attributes, multiline tags, whitespace collapse
    assert(one(f, "<!-- hidden -->\n<div\n class='x'>t</div>\n\n u")
      === "t u")
  }

  test("gopherRules: each gate fires on its own violation") {
    import spark.implicits._
    // A base doc that passes everything: 60 prose-like words with
    // stopwords, mean word length ~4.
    val good = (("the quick brown fox jumps over that lazy dog area " * 6)
      .trim)
    val docs = Seq(
      (0L, good),                                    // passes all
      (1L, "the of short"),                          // too few words
      (2L, ("a b c d e " * 12).trim + " the of"),    // mean len < 3
      (3L, good.split(" ").map(_ + "###").mkString(" ")), // symbols
      (4L, good.split(" ").map("• " + _).mkString("\n")), // bullets
      (5L, good.split(" ").map(_ + "...\n").mkString.trim), // ellipsis
      (6L, good + " " + (1 to 60).map(_.toString).mkString(" ")), // alpha
      (7L, ("zq1 wx2 yv3 uk4 " * 15).trim),          // no stopwords
      (8L, null.asInstanceOf[String])                // null → fails count
    ).toDF("doc_id", "text")
    val out = TA.gopherRules(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    def rules(id: Long): Seq[Long] =
      (3 to 9).map(i => out(id).getLong(i))
    assert(rules(0L) === Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L))
    assert(out(0L).getLong(10) === 1L) // pass
    // each violation flips exactly the targeted rule off
    assert(out(1L).getLong(3) === 0L)  // r_words
    assert(out(2L).getLong(4) === 0L)  // r_mean_len
    assert(out(3L).getLong(5) === 0L)  // r_symbol
    assert(out(4L).getLong(6) === 0L)  // r_bullet
    assert(out(5L).getLong(7) === 0L)  // r_ellipsis
    assert(out(6L).getLong(8) === 0L)  // r_alpha
    assert(out(7L).getLong(9) === 0L)  // r_stop
    assert(out(8L).getLong(3) === 0L && out(8L).getLong(1) === 0L)
    // none of the violating docs passes overall
    (1L to 8L).foreach(id => assert(out(id).getLong(10) === 0L))
  }

  test("c4Filters: each line gate and page gate fires exactly where aimed") {
    import spark.implicits._
    val keep1 = "this line has enough words to stay."
    val keep2 = "another fine sentence with plenty of words here."
    val keep3 = "a third keeper line rounds out the document nicely."
    val docs = Seq(
      (0L, Seq(keep1, keep2, keep3).mkString("\n")),      // passes all
      (1L, Seq(keep1, keep2, "no terminal punctuation on this line",
        keep3).mkString("\n")),                           // punct line drop
      (2L, Seq(keep1, keep2, "four words only here.", keep3)
        .mkString("\n")),                                 // short line drop
      (3L, Seq(keep1, "please enable JavaScript to see this content.",
        keep2, keep3).mkString("\n")),                    // javascript drop
      (4L, Seq(keep1, "read our Privacy Policy for the gory details.",
        keep2, keep3).mkString("\n")),                    // policy drop
      (5L, Seq(keep1, keep2, keep3,
        "Lorem Ipsum dolor sit amet consectetur.").mkString("\n")), // page
      (6L, Seq(keep1, keep2, keep3, "if (x) { return y; }")
        .mkString("\n")),                                 // brace page gate
      (7L, Seq(keep1, keep2).mkString("\n")),             // < 3 sentences
      (8L, null.asInstanceOf[String])                      // null → empty
    ).toDF("doc_id", "text")
    val out = TA.c4Filters(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    // (doc_id, clean_text, n_lines, n_lines_kept, n_sentences,
    //  has_lorem, has_brace, pass)
    assert(out(0L).getString(1) === Seq(keep1, keep2, keep3).mkString("\n"))
    assert(out(0L).getLong(3) === 3L && out(0L).getLong(4) === 3L)
    assert(out(0L).getLong(7) === 1L)
    // the targeted line vanishes, the rest stays, page still passes
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(out(id).getLong(2) === 4L, s"doc $id n_lines")
      assert(out(id).getLong(3) === 3L, s"doc $id n_lines_kept")
      assert(out(id).getString(1) === Seq(keep1, keep2, keep3)
        .mkString("\n"), s"doc $id clean_text")
      assert(out(id).getLong(7) === 1L, s"doc $id pass")
    }
    // lorem line is individually keepable but fails the PAGE
    assert(out(5L).getLong(3) === 4L && out(5L).getLong(5) === 1L)
    assert(out(5L).getLong(7) === 0L)
    // brace line also fails the line gate (ends in '}')
    assert(out(6L).getLong(3) === 3L && out(6L).getLong(6) === 1L)
    assert(out(6L).getLong(7) === 0L)
    assert(out(7L).getLong(4) === 2L && out(7L).getLong(7) === 0L)
    assert(out(8L).getLong(3) === 0L && out(8L).getLong(7) === 0L)
  }

  test("charBigramEntropy: hand-computed entropies, degenerate docs at 0") {
    import spark.implicits._
    val docs = Seq(
      (0L, "aaaa"),                  // one distinct bigram -> H = 0
      (1L, "AB  ab"),                // normalize -> "ab ab": H = 1.5
      (2L, "x"),                     // 1 char -> no bigrams
      (3L, ""),                      // empty
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .charBigramEntropy(docs, "text", "doc_id").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(out(0L) === ((3L, 0.0)))
    // "ab ab": bigrams ab, "b ", " a", ab -> n=4, counts {ab:2, b_:1, _a:1}
    // H = log2(4) - (2*log2 2)/4 = 2 - 0.5 = 1.5
    assert(out(1L) === ((4L, 1.5)))
    assert(out(2L) === ((0L, 0.0)))
    assert(out(3L) === ((0L, 0.0)))
    assert(out(4L) === ((0L, 0.0)))
  }

  test("scriptProfile: counts, priority tie-break, and none") {
    import spark.implicits._
    val docs = Seq(
      (0L, "plain latin text"),
      (1L, "ab \u5317\u4eac\u5317\u4eac"), // 2 latin, 4 CJK -> cjk
      (2L, "a\u03b1b\u03b2"),               // 2 latin, 2 greek -> latin
      (3L, "\u0436\u0436"),                 // cyrillic
      (4L, "\u0645\u0645\u03b1\u03b2"),   // 2 arabic, 2 greek -> greek
      (5L, "123 !?"),                         // none
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis
      .scriptProfile(docs, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getString(6) === "latin" && out(0L).getLong(1) === 14L)
    assert(out(1L).getString(6) === "cjk" && out(1L).getLong(2) === 4L)
    assert(out(2L).getString(6) === "latin")
    assert(out(3L).getString(6) === "cyrillic" && out(3L).getLong(3) === 2L)
    assert(out(4L).getString(6) === "greek" && out(4L).getLong(5) === 2L)
    assert(out(5L).getString(6) === "none")
    assert(out(6L).getString(6) === "none")
  }

  test("extractLinks + linkHost: quote styles, case, relative and odd URLs") {
    import spark.implicits._
    val page = """<a href="https://www.Example.COM/A?q=1#f">x</a>""" +
      """<A HREF="http://cdn7.assets.net/i.png">i</A>""" +
      """<a href='https://single.quote.org/skip'>s</a>""" +
      """<a href = "/relative/path">r</a>""" +
      """<a data-href="https://trap.example/x">t</a>"""
    val links = Seq(page).toDF("s")
      .select(TA.extractLinks(col("s")).as("l")).head().getSeq[String](0)
    // double-quoted only, in document order; spaces around '=' allowed;
    // data-href DOES match the (?i)href\s*=\s*" contract (suffix match)
    assert(links === Seq(
      "https://www.Example.COM/A?q=1#f",
      "http://cdn7.assets.net/i.png",
      "/relative/path",
      "https://trap.example/x"))
    def host(u: String): String = {
      Seq(u).toDF("u").select(TA.linkHost(col("u"))).head().getString(0)
    }
    assert(host("https://www.Example.COM/A?q=1#f") === "www.example.com")
    assert(host("http://h.io?q=1") === "h.io")   // query right after host
    assert(host("https://h.io#frag") === "h.io") // fragment right after host
    assert(host("/relative/path") === "")
    assert(host("mailto:a@b.c") === "")          // no ://
    assert(host("ftp://files.example.org/pub") === "files.example.org")
  }

  test("graft_tokens kernel is byte-identical to regexp_extract_all(lower, [a-z0-9]+)") {
    import spark.implicits._
    import org.scalacheck.Gen
    // directed adversarial cases: the two non-ASCII code points whose
    // ROOT lowercase contributes ASCII alnum (Kelvin sign joins a run,
    // dotted capital I breaks one), combining marks, supplementary
    // planes, Greek final-sigma context, digits/boundaries
    val directed = Seq(
      null, "", " ", "abc", "ABC def", "a1B2c3", "_a_b_", "Hello, World!",
      "aKb", "K", "xİy", "İ", "AİB", "i̇",
      "École", "straße", "ΣΑΣ σa",
      "北京 city", "emoji 😀 ok", "tab\tsep\nnl",
      "KKK", "0İK9", "café naïve",
      "ID-42_under mixed09Z", "KİK")
    // generated: strings over a code-point alphabet weighted toward the
    // tricky ranges
    val cp = Gen.frequency(
      6 -> Gen.choose(0x20, 0x7e), 2 -> Gen.choose(0x41, 0x5a),
      2 -> Gen.choose(0x30, 0x39), 2 -> Gen.choose(0xa0, 0x2ff),
      1 -> Gen.oneOf(0x130, 0x131, 0x212a, 0x212b, 0x307, 0x3a3, 0x3c2),
      1 -> Gen.choose(0x4e00, 0x4fff), 1 -> Gen.choose(0x1f300, 0x1f64f))
    val strGen = Gen.listOf(cp).map(_.flatMap(Character.toChars(_)).mkString)
    val generated = Gen.listOfN(600, strGen).sample.getOrElse(Nil)
    val rows = (directed ++ generated).toDF("s")
      .withColumn("kernel", TA.tokens(col("s")))
      .withColumn("regex",
        regexp_extract_all(lower(col("s")), lit("[a-z0-9]+"), lit(0)))
    val bad = rows.filter(
      (col("kernel").isNull =!= col("regex").isNull) ||
        coalesce(col("kernel") =!= col("regex"), lit(false)))
      .select(col("s"), col("kernel"), col("regex")).collect()
    assert(bad.isEmpty, s"kernel/regex divergence: ${bad.take(5).mkString(";")}")
    // and the plan stays codegen (the kernel's whole point) — checked on
    // a non-foldable source (a literal local relation constant-folds the
    // whole projection into LocalTableScan)
    val plan = spark.range(10)
      .select(TA.tokens(concat(lit("a b"), col("id").cast("string"))))
      .queryExecution.executedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.nonEmpty, plan.toString.take(400))
  }

  test("graft_tokens on malformed UTF-8 matches the decoder's FFFD-then-retry view") {
    // ADVICE r10: a bad lead byte must not swallow a following ASCII
    // alphanumeric. Parity target: tokenize the REPLACE-decoded string
    // (one-or-more U+FFFD per malformed subpart, each a separator) with
    // the regex path's [a-z0-9]+ over ROOT lowercase. All directed cases
    // are ASCII + raw bad bytes, so lowercase is trivial.
    import org.apache.spark.unsafe.types.UTF8String
    val expr = graft.plans.TokenizeAscii(
      org.apache.spark.sql.catalyst.expressions.Literal("x"))
    def kernel(bytes: Array[Byte]): Seq[String] = {
      val a = expr.tokenize(UTF8String.fromBytes(bytes))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    def decoded(bytes: Array[Byte]): Seq[String] = {
      val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .toLowerCase(java.util.Locale.ROOT)
      "[a-z0-9]+".r.findAllIn(s).toSeq
    }
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val cases: Seq[Array[Byte]] = Seq(
      b(0xC4, 'a'),                      // the reported case: bad lead + 'a'
      b('x', 0xC4, '9'),                 // mid-string: '9' must survive
      b(0xE2, 0x84, 'A'),                // 3-byte lead, bad third byte
      b('a', 'b', 0xF0),                 // truncated 4-byte lead at end
      b(0xF0, 0x9F, 'Z', 0x98),          // bad mid-continuation then 'Z'
      b(0x80, 'q'),                      // stray continuation byte
      b(0xF5, 0x80, 0x80, 0x80, 'k'),    // invalid lead 0xF5 (consumed run)
      b(0xC4, 0xB0, 'x'),                // VALID U+0130 still special-cased
      b(0xE2, 0x84, 0xAA, 'x'),          // VALID Kelvin sign still joins
      b(0xC0, 0xAF, 'z'),                // overlong 2-byte encoding
      b('h', 'i', 0xED, 0xA0, 0x80, 'y')) // surrogate-range 3-byte seq
    for (c <- cases)
      assert(kernel(c) === decoded(c),
        s"bytes ${c.map(x => f"${x & 0xff}%02x").mkString(" ")}")
  }

  test("graft_minhash / graft_lsh_bands kernels are bit-identical to the HOF forms") {
    import spark.implicits._
    import org.scalacheck.Gen
    val k = 32; val bands = 8
    // generated shingle arrays + directed edges: empty array, single
    // element, duplicate elements, empty strings, a null element (the
    // hash chain must skip it exactly as HashExpression does), unicode
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)), Gen.const("a b c"), Gen.const("")))
    val generated = Gen.listOfN(300, strGen).sample.getOrElse(Nil)
      .map(_.toArray)
    val directed: Seq[Array[String]] = Seq(
      Array.empty[String], Array("x"), Array("dup", "dup"),
      Array("", ""), Array("north star", null, "south star"),
      Array("北京 city", "emoji 😀"))
    val df = (directed ++ generated).toDF("sh")
    // HOF references (the fallback bodies, built inline so the kernel
    // path in Dedup cannot mask them)
    val hofSig = transform(
      sequence(lit(0), lit(k - 1)),
      i => coalesce(
        array_min(transform(col("sh"), s => xxhash64(s, i))),
        lit(Long.MaxValue)))
    val bad = df
      .withColumn("ksig", graft.operators.Dedup.minhashSignature(col("sh"), k,
        graft.operators.SketchHash.XxHash64))
      .withColumn("hsig", hofSig)
      .withColumn("kb",
        graft.operators.Dedup.lshBandKeys(col("ksig"), bands, k / bands,
          graft.operators.SketchHash.XxHash64))
      .withColumn("hb", transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          slice(col("hsig"), b * (k / bands) + 1, lit(k / bands))), b)))
      .filter(col("ksig") =!= col("hsig") || col("kb") =!= col("hb"))
      .collect()
    assert(bad.isEmpty, s"kernel/HOF divergence: ${bad.take(3).mkString(";")}")
    // null shingle array: kernel path must still yield the HOF's
    // all-MaxValue signature via the coalesce wrapper
    val nullSig = Seq((1L)).toDF("id")
      .select(graft.operators.Dedup.minhashSignature(
        lit(null).cast("array<string>"), 4,
        graft.operators.SketchHash.XxHash64).as("sig"))
      .head.getSeq[Long](0)
    assert(nullSig === Seq.fill(4)(Long.MaxValue))
  }

  test("graft_minhash_md5 / graft_lsh_bands_md5 kernels match the HOF forms") {
    import spark.implicits._
    import org.scalacheck.Gen
    val k = 8; val bands = 4
    val strGen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)), Gen.const("a b c"), Gen.const("")))
    val generated = Gen.listOfN(200, strGen).sample.getOrElse(Nil)
      .map(_.toArray)
    val directed: Seq[Array[String]] = Seq(
      Array.empty[String], Array("x"), Array("dup", "dup"),
      Array("", ""), Array("north star", null, "south star"),
      Array("北京 city", "emoji 😀"))
    val df = (directed ++ generated).toDF("sh")
    val hofSig = transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(col("sh"),
        s => md5(concat(i.cast("string"), lit(" "), s)))))
    val bad = df
      .withColumn("ksig",
        graft.operators.Dedup.minhashSignature(col("sh"), k,
          graft.operators.SketchHash.Md5))
      .withColumn("hsig", hofSig)
      .withColumn("kb",
        graft.operators.Dedup.lshBandKeys(col("ksig"), bands, k / bands,
          graft.operators.SketchHash.Md5))
      .withColumn("hb", transform(
        sequence(lit(0), lit(bands - 1)),
        b => md5(concat(b.cast("string"), lit("|"),
          concat_ws(",",
            slice(col("hsig"), b * (k / bands) + 1, lit(k / bands)))))))
      .filter(coalesce(col("ksig") =!= col("hsig"), lit(true)) ||
        coalesce(col("kb") =!= col("hb"), lit(true)))
      .collect()
    assert(bad.isEmpty, s"md5 kernel/HOF divergence: ${bad.take(3).mkString(";")}")
    // null array completes to k null components, as the HOF form does
    val nullSig = Seq((1L)).toDF("id")
      .select(graft.operators.Dedup.minhashSignature(
        lit(null).cast("array<string>"), 4,
        graft.operators.SketchHash.Md5).as("sig"))
      .head.getSeq[String](0)
    assert(nullSig === Seq(null, null, null, null))
  }

  test("kernel columns resolve on a bootstrap-registered session even when " +
      "built while another session was active (ADVICE r11)") {
    // a fresh newSession() has an ISOLATED function registry; every graft
    // session builder now registers at bootstrap, so analysis never
    // depends on which session was active when the Column was built
    val fresh = spark.newSession()
    graft.plans.GraftFunctions.register(fresh)
    // construct the kernel column with the ORIGINAL session active: the
    // kernel registration targets the active session, `spark`, NOT `fresh`
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val sig = graft.operators.Dedup.minhashSignature(col("sh"), 4,
      graft.operators.SketchHash.Md5)
    try {
      val out = fresh.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(Seq("a b c", "b c d"))),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("sh",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.StringType)))))
        .select(sig.as("sig"))
        .head.getSeq[String](0)
      assert(out.size === 4 && out.forall(_ != null))
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("verbObject: imperative verb + first content object") {
    import spark.implicits._
    val rows = Seq(
      "Write the poem now",     // -> (write, poem)
      "Summarize it",           // object-less -> (summarize, "")
      "Explain this, my friend",// stopwords skipped -> (explain, friend)
      "The a an",               // all-stop tail -> (the, "")
      "")                       // empty -> ("", "")
      .toDF("s")
      .select(TA.verbObject(col("s")).as("vo"))
      .select(col("vo.verb"), col("vo.obj"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) === (("write", "poem")))
    assert(rows(1) === (("summarize", "")))
    assert(rows(2) === (("explain", "friend")))
    assert(rows(3) === (("the", "")))
    assert(rows(4) === (("", "")))
  }
}

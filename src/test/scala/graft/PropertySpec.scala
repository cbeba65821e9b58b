package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.schema.{DplaMap, SchemaAlign}
import graft.sinks.{KeyPurge, Manifest, Sitemap}

/** Property-based coverage (SURVEY.md §5.3) via raw ScalaCheck (no
  * scalatest-plus bridge in the offline cache): pure functions get forAll
  * properties; Spark expression round-trips batch sampled inputs through ONE
  * DataFrame run instead of a job per sample.
  */
class PropertySpec extends SparkSpec {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("thumbnailKey: 4-level fan-out for ids >= 4 chars, None below") {
    check(Prop.forAll(Gen.asciiPrintableStr) { id =>
      KeyPurge.thumbnailKey(id) match {
        case Some(key) =>
          id.length >= 4 &&
            key == s"${id(0)}/${id(1)}/${id(2)}/${id(3)}/$id.jpg"
        case None => id == null || id.length < 4
      }
    })
  }

  test("sitemap partitionCount: true ceiling, never 0, never over-packed") {
    check(Prop.forAll(Gen.chooseNum(0L, 10000000L)) { n =>
      val p = Sitemap.partitionCount(n)
      p >= 1 &&
        p.toLong * Sitemap.MaxUrlsPerFile >= n &&
        (p == 1 || (p - 1).toLong * Sitemap.MaxUrlsPerFile < n)
    })
  }

  test("manifest render: keys always sorted, one line per key + timestamp") {
    val kvGen = Gen.mapOf(Gen.zip(
      Gen.alphaNumStr.suchThat(s => s.nonEmpty && !s.contains("\n")),
      Gen.alphaNumStr))
    check(Prop.forAll(kvGen) { kv =>
      val lines = Manifest.render(kv, "T").split("\n").toSeq
      val keyLines = lines.dropRight(1).map(_.takeWhile(_ != ':'))
      lines.last == "Generated: T" &&
        lines.length == kv.size + 1 &&
        keyLines == keyLines.sorted
    })
  }

  test("unwrap(wrap(x)) == x over arbitrary unicode strings (batched)") {
    import spark.implicits._
    val samples = Gen.listOfN(300, Gen.option(Gen.asciiPrintableStr))
      .sample.get ++ Seq(Some("héllo 北京"), Some(""), None)
    val df = samples.map(_.orNull).toDF("s")
    val back = df
      .select(SchemaAlign.unwrapValue(SchemaAlign.wrapValue(col("s"))).as("s"))
      .collect().map(r => Option(r.getString(0)))
    assert(back.toSeq === samples.map(_.filter(_ => true)))
  }

  test("alignToSchema is idempotent over random top-level projections") {
    val fields = DplaMap.record.fields
    val gen = Gen.someOf(fields.toIndexedSeq)
    (1 to 8).foreach { _ =>
      val subset = gen.sample.get
      val sub = StructType(subset.toArray)
      val df = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sub)
      val once = SchemaAlign.alignToSchema(df, DplaMap.record)
      val twice = SchemaAlign.alignToSchema(once, DplaMap.record)
      assert(once.schema === DplaMap.record)
      assert(twice.schema === DplaMap.record)
    }
  }

  test("imageDims round-trips synthesized PNG/JPEG headers for arbitrary dims") {
    import graft.operators.Multimodal
    def be(v: Long, bytes: Int): Array[Byte] =
      (bytes - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val pngDim = Gen.chooseNum(1L, 0x7fffffffL) // PNG dims are 31-bit
    check(Prop.forAll(pngDim, pngDim) { (w, h) =>
      val png = hx("89504E470D0A1A0A" + "0000000D49484452") ++
        be(w, 4) ++ be(h, 4) ++ hx("0802000000")
      Multimodal.imageDims(png) ==
        Some(Multimodal.ImageDims("png", w.toInt, h.toInt))
    })
    val jpgDim = Gen.chooseNum(1, 0xffff) // SOF dims are 16-bit
    check(Prop.forAll(jpgDim, jpgDim) { (w, h) =>
      val jpg = hx("FFD8" + "FFE00010" + "4A46494600010100000100010000" +
        "FFC00011" + "08") ++ be(h.toLong, 2) ++ be(w.toLong, 2) ++
        hx("03011100021101031101")
      Multimodal.imageDims(jpg) == Some(Multimodal.ImageDims("jpeg", w, h))
    })
  }

  test("simhashMd5: invariant under whole-document duplication (batched)") {
    // doubling every token doubles every bit vote, which cannot change any
    // sign — the defining robustness property of SimHash
    import graft.operators.{Dedup, SketchHash}
    import spark.implicits._
    val docs = Gen.listOfN(60,
      Gen.nonEmptyListOf(Gen.alphaNumStr.suchThat(_.nonEmpty))).sample.get
    val df = docs.map(_.mkString(" ")).toDF("text")
    val toks = graft.operators.TextAnalysis.tokens(col("text"))
    val both = df.select(
      Dedup.simhash(toks, 16, SketchHash.Md5).as("once"),
      Dedup.simhash(concat(toks, toks), 16, SketchHash.Md5)
        .as("doubled"))
    assert(both.filter(col("once") =!= col("doubled")).count() === 0L)
  }

  test("scoring kernels match a Scala reference fold on random tables (batched)") {
    import graft.plans.ScoreTable
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val tokGen = Gen.oneOf((1 to 30).map(i => s"w$i"))
    val entries = Gen.listOfN(20, Gen.zip(tokGen,
      Gen.chooseNum(-5.0, 5.0))).sample.get.toMap.toSeq
    val default = -7.25
    val table = ScoreTable.serialize(entries, default)
    val lookup = entries.toMap
    val docs = Gen.listOfN(80, Gen.listOfN(25, tokGen)).sample.get
    val df = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
      .toDF("id", "toks")
    val got = df.select(col("id"),
      call_function("graft_map_sum", col("toks"), lit(table)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    docs.zipWithIndex.foreach { case (ts, i) =>
      val expected = ts.foldLeft(0.0)((a, t) => a + lookup.getOrElse(t, default))
      assert(got(i.toLong) === expected, s"doc $i") // bit-exact, same fold order
    }
    // serialize/parse round-trips exact doubles (Double.toString contract)
    val weird = Seq("x" -> 1.0 / 3.0, "y" -> -0.0, "z" -> 4.9e-324)
    val t2 = ScoreTable.serialize(weird, Double.MaxValue)
    val one = Seq((1L, Seq("x", "y", "z", "oov"))).toDF("id", "toks")
      .select(call_function("graft_map_sum", col("toks"), lit(t2)))
      .head().getDouble(0)
    assert(one === 1.0 / 3.0 + -0.0 + 4.9e-324 + Double.MaxValue)
  }

  test("a 2x copy with shifted ids doubles sessions and funnel reach and " +
    "keeps every audit rate (batched)") {
    import graft.operators.{Constraints, Events}
    import graft.operators.Constraints._
    import spark.implicits._
    val steps = Seq("view", "click", "purchase")
    // 40 events of 6 users over 6 h: gaps past the 30 min cut split
    // sessions, and each user meets the steps in a random order
    val events = Gen.listOfN(40, Gen.zip(Gen.chooseNum(1L, 6L),
        Gen.chooseNum(0L, 6L * 3600L), Gen.oneOf(steps))).sample.get
      .zipWithIndex.map { case ((u, sec, t), i) => (i.toLong, u, sec, t) }
      .toDF("event_id", "user_id", "sec", "event_type")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("sec")).as("ts"), col("event_type"))
    val events2 = events.union(events.select(
      (col("event_id") + 1000L).as("event_id"),
      (col("user_id") + 100L).as("user_id"), col("ts"), col("event_type")))
    def sessionsAndReach(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      (Events.sessions(df, "user_id", "ts", "event_id").count(),
        Events.funnel(df, "user_id", "event_type", "ts", steps)
          .agg(sum(col("n_reached"))).head().getLong(0))
    val (s1, f1) = sessionsAndReach(events)
    assert(s1 > 0 && f1 > 0)
    assert(sessionsAndReach(events2) === ((2 * s1, 2 * f1)))
    // per-row audit rates over columns the copy keeps verbatim
    val docs = Gen.listOfN(30, Gen.zip(Gen.option(Gen.alphaStr),
        Gen.option(Gen.oneOf("en", "de", "xx")),
        Gen.oneOf("src1", "src22", "web"))).sample.get
      .zipWithIndex.map { case ((t, l, src), i) => (i.toLong, t, l, src) }
      .toDF("doc_id", "text", "lang", "source")
    val docs2 = docs.union(docs.withColumn("doc_id", col("doc_id") + 1000L))
    val checks = Seq(Completeness("text", 1000000L),
      InSet("lang", Seq("en", "de"), 1000000L),
      MatchesRegex("source", "^src[0-9]+$", 1000000L))
    def rates(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      Constraints.audit(df, checks).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates(docs2) === rates(docs))
  }

  test("union count additivity (E1 invariant): |A union B| == |A| + |B|") {
    import spark.implicits._
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(0, 1000)),
      Gen.listOf(Gen.chooseNum(0, 1000))) { (a, b) =>
      // driver-side surrogate of the JsonlDump manifest invariant — the
      // Spark plan is exercised once below, not per ScalaCheck sample
      (a ++ b).size == a.size + b.size
    })
    val a = (1 to 100).toDF("v")
    val b = (1 to 57).toDF("v")
    assert(a.union(b).count() === 157L)
  }
}

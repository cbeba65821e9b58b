package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{AsOfJoin, Dedup, Flatten, Sampling, Similarity,
  SketchHash, TextAnalysis => TA}
import graft.schema.{DplaMap, SchemaAlign}

/** Golden tests for operators whose semantics the DuckDB oracle can't
  * express directly (SURVEY.md §5.2): entity flattening, near-dup detection
  * on constructed duplicates, as-of joins, KNN on known geometry.
  */
class OperatorSpec extends SparkSpec {

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), schema)

  // ---------------- Flatten ----------------

  test("flattenAgent unwraps uri/scheme and match lists") {
    val agent = Row(Row("u"), "n", "pl", "note", Row("sch"),
      Seq(Row("e1"), Row("e2")), null)
    val d = df(
      StructType(Seq(StructField("provider", DplaMap.edmAgent))),
      Row(agent))
    val flat = d.select(Flatten.flattenAgent(col("provider")).as("p"))
      .select("p.uri", "p.name", "p.scheme", "p.exactMatch")
    val r = flat.head()
    assert(r.getString(0) === "u")
    assert(r.getString(1) === "n")
    assert(r.getString(2) === "sch")
    assert(r.getSeq[String](3) === Seq("e1", "e2"))
  }

  test("flattenAgent keeps null agents null") {
    val d = df(
      StructType(Seq(StructField("provider", DplaMap.edmAgent))),
      Row(null))
    assert(d.select(Flatten.flattenAgent(col("provider"))).head().get(0) === null)
  }

  test("flattenRecord preserves every populated leaf through the export") {
    // a densely-populated record: alignToSchema injects the value-wrappers,
    // flattenRecord must unwrap them all back without losing a leaf
    val raw = spark.range(1).select(
      lit("http://dp.la/api/items/full1").as("dplaUri"),
      lit("edm-rights").as("edmRights"),
      lit("orig-1").as("originalId"),
      lit("iiif-uri").as("iiifManifest"),
      struct(lit("hub").as("name"), lit("hub-uri").as("uri"),
        lit("hub-scheme").as("scheme"),
        array(lit("hub-match")).as("exactMatch")).as("provider"),
      array(struct(lit("wr-uri").as("uri"),
        array(lit("image/jpeg")).as("fileFormat"),
        array(lit("cc-by")).as("dcRights"),
        lit("wr-edm").as("edmRights"),
        lit("ref-by").as("isReferencedBy"))).as("hasView"),
      struct(
        array(struct(lit("creator-name").as("name"),
          lit("creator-uri").as("uri"))).as("creator"),
        array(struct(lit("english").as("providedLabel"),
          lit("iso639").as("scheme"))).as("language"),
        array(struct(lit("coll-title").as("title"),
          struct(lit("coll-shown").as("uri")).as("isShownAt"))).as("collection"),
        array(struct(lit("1901").as("originalSourceDate"),
          lit("1901-01-01").as("begin"), lit("1901-12-31").as("end"))).as("date"))
        .as("sourceResource"))
    val flat = graft.processes.Processes.flattenRecord(
      SchemaAlign.alignToSchema(raw, DplaMap.record))
    val r = flat.select(
      col("uri"), col("id"), col("rights"), col("originalId"),
      col("iiifManifest"),
      col("provider.name"), col("provider.uri"), col("provider.scheme"),
      element_at(col("provider.exactMatch"), 1),
      element_at(col("hasView"), 1).getField("uri"),
      element_at(col("hasView"), 1).getField("format"),
      element_at(col("hasView"), 1).getField("rights"),
      element_at(col("hasView"), 1).getField("edmRights"),
      element_at(col("hasView"), 1).getField("isReferencedBy"),
      element_at(col("sourceResource.creator"), 1).getField("name"),
      element_at(col("sourceResource.creator"), 1).getField("uri"),
      element_at(col("sourceResource.language"), 1).getField("providedLabel"),
      element_at(col("sourceResource.language"), 1).getField("scheme"),
      element_at(col("sourceResource.collection"), 1).getField("title"),
      element_at(col("sourceResource.collection"), 1)
        .getField("isShownAt").getField("uri"),
      element_at(col("sourceResource.date"), 1).getField("begin")).head()
    assert(r.toSeq === Seq(
      "http://dp.la/api/items/full1", "full1", "edm-rights", "orig-1",
      "iiif-uri",
      "hub", "hub-uri", "hub-scheme", "hub-match",
      "wr-uri", Seq("image/jpeg"), Seq("cc-by"), "wr-edm", "ref-by",
      "creator-name", "creator-uri", "english", "iso639",
      "coll-title", "coll-shown", "1901-01-01"))
  }

  test("itemId extracts the dp.la id (ParquetDump.scala:12-13 semantics)") {
    val d = df(
      StructType(Seq(StructField("dplaUri", DplaMap.valueWrapper))),
      Row(Row("http://dp.la/api/items/abcd1234")))
    assert(d.select(Flatten.itemId(col("dplaUri"))).head().getString(0)
      === "abcd1234")
  }

  // ---------------- Dedup on constructed duplicates ----------------

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  test("exactGroups finds exact duplicates modulo whitespace/case") {
    val d = df(docsSchema,
      Row(1L, "Alpha beta gamma"),
      Row(2L, "  alpha   BETA gamma "),
      Row(3L, "something else entirely"))
    val groups = Dedup.exactGroups(d, "text", "doc_id")
    assert(groups.count() === 2)
    val dupGroup = groups.filter(col("n_dups") === 2).head()
    assert(dupGroup.getAs[Long]("keeper_id") === 1L)
  }

  test("minhash signatures are identical for identical token streams") {
    val d = df(docsSchema,
      Row(1L, "one two three four five six seven eight"),
      Row(2L, "one two three four five six seven eight"),
      Row(3L, "totally different words in this document here now"))
    val sigs = Dedup.minhashed(d, "text", "doc_id", SketchHash.XxHash64)
      .select(col("doc_id"), col("minhash_sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(sigs(1L) !== sigs(3L))
  }

  test("nearDupPairs finds a constructed near-duplicate, skips distinct docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 40) "changed" else s"tok$i").mkString(" ")
    val other = (1 to 40).map(i => s"other$i").mkString(" ")
    val d = df(docsSchema, Row(1L, base), Row(2L, nearDup), Row(3L, other))
    val pairs = Dedup.nearDupPairs(d, "text", "doc_id", threshold = 0.8,
      hash = SketchHash.XxHash64)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("simhash: near-identical docs are close in Hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (1 to 60).map(i => s"zzz$i").mkString(" ")
    val d = df(docsSchema, Row(1L, base), Row(2L, nearDup), Row(3L, other))
    val sh = d.select(col("doc_id"), Dedup.simhash(TA.tokens(col("text")), 64,
      SketchHash.XxHash64).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(2L)) <= 8)
  }

  test("minhashed gives short docs null band keys (no degenerate bucket)") {
    val d = df(docsSchema,
      Row(1L, "ab"), Row(2L, "cd"), Row(3L, "xy"), // < 3 tokens each
      Row(4L, "one two three four"))
    val m = Dedup.minhashed(d, "text", "doc_id", SketchHash.XxHash64)
    val nullKeys = m.filter(col("band_keys").isNull).count()
    assert(nullKeys === 3)
    // and therefore no spurious candidate pairs among the short docs
    assert(Dedup.lshCandidatePairs(m, "doc_id").count() === 0)
  }

  test("lshCandidatePairs: capped buckets, cross-band dedup, exact in-bucket pairs") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("band_keys", ArrayType(LongType))))
    // band identity is (position, key): ids 1-3 share band-0 key 10
    // (pairs (1,2),(1,3),(2,3)); ids 2,3 ALSO share band-1 key 77 — the
    // duplicate (2,3) must collapse in the cross-band distinct; ids 4-9
    // share band-0 key 55, a 6-member bucket that exceeds cap 5 and must
    // contribute NOTHING (their band-1 keys are singletons)
    val rows = Seq(
      Row(1L, Seq(10L, 99L)), Row(2L, Seq(10L, 77L)), Row(3L, Seq(10L, 77L))) ++
      (4L to 9L).map(i => Row(i, Seq(55L, 100L + i)))
    val d = df(schema, rows: _*).repartition(3) // partial buffers must merge
    val pairs = Dedup.lshCandidatePairs(d, "id", maxBucketSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("graft_ivf_cells kernel is bit-identical to the sorted-struct expression form") {
    graft.plans.GraftFunctions.register(spark)
    // deterministic pseudo-random vectors incl. the degenerate shapes:
    // zero vector (cosine 0.0 by the denom guard), negatives, ties
    val dim = 7
    def vec(seed: Int): Seq[Double] =
      (0 until dim).map(i => ((seed * 31 + i * 17) % 19 - 9) / 7.0)
    val centroids: Array[Array[Double]] =
      Array(vec(3).toArray, vec(8).toArray, vec(15).toArray,
        Array.fill(dim)(0.0), vec(3).toArray) // duplicate → rounded tie
    val rows = (0 until 40).map(s => Row(s.toLong, vec(s))) :+
      Row(99L, Seq.fill(dim)(0.0))
    val d = df(StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)))), rows: _*)
    val exprForm = array_sort(array(centroids.zipWithIndex.map {
      case (c0, i) => struct(
        (-round(call_function("graft_cosine", col("v"),
          typedLit(c0.toSeq)), 6)).as("negS"),
        lit(i.toLong).as("c"))
    }: _*))
    val centStr = centroids.map(_.mkString(",")).mkString(";")
    val bad = d.select(col("id"),
        exprForm.as("e"),
        call_function("graft_ivf_cells", col("v"), lit(centStr)).as("k"))
      .filter(col("e") =!= col("k"))
      .collect()
    assert(bad.isEmpty, s"kernel/expression divergence: ${bad.take(2).mkString(";")}")
  }

  test("graft_collect_capped + graft_pair_gen expression semantics") {
    graft.plans.GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("g", LongType),
      StructField("id", LongType)))
    // group 1: 3 ids delivered unsorted across partitions → SORTED array;
    // group 2: 4 ids > cap 3 → NULL overflow marker
    val d = df(schema,
      Row(1L, 30L), Row(1L, 10L), Row(1L, 20L),
      Row(2L, 1L), Row(2L, 2L), Row(2L, 3L), Row(2L, 4L))
      .repartition(4)
    val got = d.groupBy(col("g"))
      .agg(expr("graft_collect_capped(id, 3)").as("ids"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got(1L) === Some(Seq(10L, 20L, 30L)))
    assert(got(2L) === None)
    // generator: i<j pairs of a sorted array; null and size<2 emit nothing
    val arrSchema = StructType(Seq(
      StructField("ids", ArrayType(LongType, containsNull = false))))
    val pairs = df(arrSchema, Row(Seq(1L, 2L, 3L)))
      .select(expr("graft_pair_gen(ids)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(df(arrSchema, Row(null), Row(Seq(7L)), Row(Seq.empty[Long]))
      .select(expr("graft_pair_gen(ids)")).count() === 0)
    // ADVICE r12: duplicate ids in a (sorted) bucket must not emit the
    // degenerate (x, x) self-pair the replaced self-join's id_a < id_b
    // filtered — nearDupPairs would score it at jaccard 1.0 and drop the
    // doc as a near-dup of itself. Adjacent duplicates collapse; the pair
    // set equals the pairs of DISTINCT members, with no (x, x) and no
    // duplicate (x, y).
    val dupPairs = df(arrSchema, Row(Seq(1L, 1L, 2L, 3L, 3L, 3L)))
      .select(expr("graft_pair_gen(ids)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(dupPairs === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // all-duplicates bucket: one distinct member → no pairs at all
    assert(df(arrSchema, Row(Seq(5L, 5L, 5L)))
      .select(expr("graft_pair_gen(ids)")).count() === 0)
  }

  test("graft_collect_pairs_capped: interleaved pairs, cross-partition " +
    "merge, NULL overflow, null-endpoint fail-fast") {
    graft.plans.GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("g", LongType),
      StructField("s", LongType), StructField("d", LongType)))
    // group 1: 3 pairs ≤ cap 3 → exhaustive interleaved array;
    // group 2: 4 pairs > cap 3 → NULL overflow marker
    val d = df(schema,
      Row(1L, 10L, 11L), Row(1L, 20L, 21L), Row(1L, 30L, 31L),
      Row(2L, 1L, 2L), Row(2L, 3L, 4L), Row(2L, 5L, 6L), Row(2L, 7L, 8L))
      .repartition(4)
    val got = d.groupBy(col("g"))
      .agg(expr("graft_collect_pairs_capped(s, d, 3)").as("e"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    // order is partition-dependent; pairs must stay adjacent (even index =
    // src, odd = its dst) and the set must be exhaustive
    val g1 = got(1L).get
    assert(g1.length === 6)
    val pairsOf = g1.grouped(2).map(p => (p(0), p(1))).toSet
    assert(pairsOf === Set((10L, 11L), (20L, 21L), (30L, 31L)))
    assert(got(2L) === None)
    val bad = df(schema, Row(1L, 10L, null))
    val e = intercept[Exception] {
      bad.groupBy(col("g"))
        .agg(expr("graft_collect_pairs_capped(s, d, 3)")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("graft_collect_pairs_capped: null edge")),
      s"unexpected failure: $e")
  }

  test("graft_collect_capped fails fast on a null id (ADVICE r12)") {
    graft.plans.GraftFunctions.register(spark)
    val schema = StructType(Seq(StructField("g", LongType),
      StructField("id", LongType)))
    // a null id silently skipped would let a cap+1 bucket containing a
    // null pass as cap-sized instead of overflowing — fail fast instead,
    // matching lshCandidatePairs' non-null bigint id contract
    val d = df(schema, Row(1L, 10L), Row(1L, null))
    val e = intercept[Exception] {
      d.groupBy(col("g"))
        .agg(expr("graft_collect_capped(id, 3)").as("ids")).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("graft_collect_capped: id is NULL")),
      s"unexpected failure: $e")
  }

  // ---------------- As-of join ----------------

  test("asOf picks latest right row at-or-before each left row") {
    val left = df(
      StructType(Seq(StructField("k", LongType), StructField("t", LongType),
        StructField("payload", StringType))),
      Row(1L, 10L, "a"), Row(1L, 20L, "b"), Row(2L, 5L, "c"))
    val right = df(
      StructType(Seq(StructField("k", LongType), StructField("rt", LongType),
        StructField("rv", StringType))),
      Row(1L, 10L, "r10"), Row(1L, 15L, "r15"), Row(2L, 7L, "r7"))
    val out = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("rv"))
      .orderBy("k", "t").collect()
    // t=10 sees the rt=10 row (>= semantics); t=20 sees rt=15; t=5 has none
    assert(out.map(_.getAs[String]("rv")).toSeq === Seq("r10", "r15", null))
  }

  test("asOf null semantics: null-ts/null-key right rows match nothing; null left rows pass through unmatched") {
    val left = df(
      StructType(Seq(StructField("k", LongType), StructField("t", LongType))),
      Row(1L, 10L),          // real prior exists (rt=5 "Y")
      Row(1L, 3L),           // no prior: the null-ts right row must NOT fill in
      Row(null, 10L),        // null key: must not meet the null-key right row
      Row(2L, null))         // null ts: incomparable, no match
    val right = df(
      StructType(Seq(StructField("k", LongType), StructField("rt", LongType),
        StructField("rv", StringType))),
      Row(1L, null, "X"),    // null ts: would sort FIRST and pollute as "prior"
      Row(1L, 5L, "Y"),
      Row(null, 1L, "Z"),    // null key: null never equals null in a join
      Row(2L, 1L, "W"))
    val got = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("rv"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got === Set(
      (Some(1L), Some(10L), Some("Y")),
      (Some(1L), Some(3L), None),
      (None, Some(10L), None),
      (Some(2L), None, None)))
  }

  test("asOf ties on (key, ts): greatest last-rightCols value wins, deterministically") {
    val left = df(
      StructType(Seq(StructField("k", LongType), StructField("t", LongType))),
      Row(1L, 10L))
    val right = df(
      StructType(Seq(StructField("k", LongType), StructField("rt", LongType),
        StructField("rid", LongType))),
      Row(1L, 10L, 7L), Row(1L, 10L, 9L), Row(1L, 10L, 8L))
    (1 to 3).foreach { _ =>
      val out = AsOfJoin.asOf(left, right, "k", "t", "rt", Seq("rid")).collect()
      assert(out.map(_.getAs[Long]("rid")).toSeq === Seq(9L))
    }
  }

  // ---------------- KNN on known geometry ----------------

  test("knnBruteForce ranks by cosine with id tiebreak") {
    val vecs = df(
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      Row(1L, Seq(1.0f, 0.0f)),
      Row(2L, Seq(0.9f, 0.1f)),
      Row(3L, Seq(0.0f, 1.0f)),
      Row(4L, Seq(-1.0f, 0.0f)))
    val knn = Similarity.knnBruteForce(vecs, vecs, "vec_id", "embedding", 2)
      .filter(col("q_id") === 1L).orderBy("rn").collect()
    assert(knn.map(_.getAs[Long]("n_id")).toSeq === Seq(2L, 3L))
  }

  test("VectorAvg merges ragged partial buffers without corrupting counts") {
    graft.plans.GraftFunctions.register(spark)
    val rows = Seq(
      Row(1L, Seq.empty[Double]),   // empty array → count-only buffer
      Row(2L, Seq(2.0, 4.0)),
      Row(3L, Seq(4.0, 8.0)))
    val d = df(
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType)))),
      rows: _*).repartition(3) // force one partial buffer per row
    val avg = d.agg(expr("graft_vector_avg(v)")).head().getSeq[Double](0)
    // 3 rows counted; empty array contributes no dims
    assert(avg === Seq(2.0, 4.0))
  }

  test("GraftExtensions injects every registered function with a working builder") {
    import org.apache.spark.sql.SparkSessionExtensions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.plans._
    // the extension installer and per-session register() share one list
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
    val builders = GraftFunctions.all.toMap
    assert(builders.keySet === Set("graft_cosine", "graft_dot",
      "graft_vector_avg", "graft_topk", "graft_lsh_bucket",
      "graft_bpe", "graft_bloom_agg", "graft_might_contain",
      "graft_map_sum", "graft_bigram_nll", "graft_shingles",
      "graft_cms_atleast", "graft_strip_lines", "graft_bloom_any",
      "graft_winnow", "graft_tokens",
      "graft_minhash", "graft_lsh_bands",
      "graft_minhash_md5", "graft_lsh_bands_md5",
      "graft_collect_capped", "graft_collect_pairs_capped",
      "graft_pair_gen", "graft_ivf_cells", "graft_residual",
      "graft_pq_codes", "graft_mmr"))
    assert(builders("graft_tokens")(Seq(Literal.create("A b,c9")))
      .isInstanceOf[TokenizeAscii])
    val shArr = Literal.create(Seq("a b c"), ArrayType(StringType))
    assert(builders("graft_minhash")(Seq(shArr, Literal(8)))
      .isInstanceOf[MinhashSig])
    assert(builders("graft_lsh_bands")(Seq(
      Literal.create(Seq(1L, 2L), ArrayType(LongType)), Literal(2),
      Literal(1))).isInstanceOf[LshBandKeys])
    assert(builders("graft_minhash_md5")(Seq(shArr, Literal(4)))
      .isInstanceOf[Md5MinhashSig])
    assert(builders("graft_lsh_bands_md5")(Seq(shArr, Literal(2),
      Literal(2))).isInstanceOf[Md5BandKeys])
    assert(builders("graft_winnow")(Seq(
      Literal.create(Seq("a b c d e"), ArrayType(StringType)),
      Literal(4))).isInstanceOf[WinnowSelect])
    assert(builders("graft_map_sum")(Seq(
      Literal.create(Seq("a"), ArrayType(StringType)),
      Literal.create("\t0.0\na\t1.5"))).isInstanceOf[MapSumScore])
    assert(builders("graft_bigram_nll")(Seq(
      Literal.create(Seq("a"), ArrayType(StringType)),
      Literal.create("\t0.0"), Literal.create("\t0.1")))
      .isInstanceOf[BigramNllSum])
    assert(builders("graft_bpe")(Seq(Literal.create("ab"),
      Literal.create("a b"))).isInstanceOf[BpeEncode])
    val arr = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType))
    assert(builders("graft_cosine")(Seq(arr, arr)).isInstanceOf[CosineSimilarity])
    assert(builders("graft_dot")(Seq(arr, arr)).isInstanceOf[DotProduct])
    assert(builders("graft_lsh_bucket")(Seq(arr, Literal(8)))
      .isInstanceOf[HyperplaneSketch])
    // aggregates come back wrapped as AggregateExpression over the typed impl
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    assert(builders("graft_vector_avg")(Seq(arr))
      .asInstanceOf[AggregateExpression].aggregateFunction.isInstanceOf[VectorAvg])
    assert(builders("graft_topk")(Seq(Literal(1L), Literal(0.5), Literal(3)))
      .asInstanceOf[AggregateExpression].aggregateFunction.isInstanceOf[TopKByScore])
  }

  test("graft_bloom_any: doc-level bloom prefilter agrees with per-element probes") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val bf = Seq("alpha beta", "gamma delta").toDF("sh")
      .agg(expr("graft_bloom_agg(xxhash64(sh), 100L, 8000L)"))
      .head().getAs[Array[Byte]](0)
    val docs = Seq(
      (1L, Seq("alpha beta", "zzz")), // shared shingle -> hit
      (2L, Seq("nope", "nada")), // no overlap (8000-bit filter: FP ~1e-7)
      (3L, Seq[String]("qq", null)), // null element skipped -> miss
      (4L, Seq.empty[String]), // empty -> false, not null
      (5L, null) // null array -> false, not null
    ).toDF("id", "arr")
    val got = docs
      .filter(call_function("graft_bloom_any", lit(bf), col("arr")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === Set(1L))
    // parity with the exploded per-element probe shape it replaces
    val perElem = docs.filter(col("arr").isNotNull)
      .select(col("id"), explode(col("arr")).as("sh"))
      .filter(call_function("graft_might_contain", lit(bf), xxhash64(col("sh"))))
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(perElem === got)
    // predicate is non-null even on null input rows (composability under &&)
    val nulls = docs.select(
      call_function("graft_bloom_any", lit(bf), col("arr")).as("p"))
      .collect().map(_.isNullAt(0))
    assert(nulls.forall(_ == false))
  }

  test("graft_topk rejects non-positive or non-literal k at analysis time") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    val d = Seq((1L, 0.5)).toDF("id", "score")
    intercept[Exception] {
      d.agg(expr("graft_topk(id, score, 0)")).collect()
    }
    intercept[Exception] {
      d.agg(expr("graft_topk(id, score, id)")).collect()
    }
  }

  test("graft_topk keeps one heap entry per distinct id (ADVICE r13): " +
    "duplicates cost no slots, a better copy upgrades, across merges") {
    graft.plans.GraftFunctions.register(spark)
    import spark.implicits._
    // duplicated candidate rows (the incremental-ANN crash-window shape):
    // id 10 appears three times with equal score, id 20 twice with
    // different scores. Correct distinct top-2: (20 @ 0.95), (10 @ 0.9) —
    // a slot-counting heap would instead return (10, 10) or (20, 20).
    val rows = Seq(
      (1L, 10L, 0.9), (1L, 10L, 0.9), (1L, 10L, 0.9),
      (1L, 20L, 0.6), (1L, 20L, 0.95),
      (1L, 30L, 0.5))
    // force many partitions so dedup must also hold across partial-
    // aggregate merges, not just within one update stream
    val scored = rows.toDF("q_id", "n_id", "sim4").repartition(6)
    val got = scored.groupBy(col("q_id"))
      .agg(expr("graft_topk(n_id, sim4, 2)").as("topk"))
      .select(posexplode(col("topk")))
      .select(col("col.id"), col("col.score"))
      .as[(Long, Double)].collect().toSeq.sortBy(-_._2)
    assert(got === Seq((20L, 0.95), (10L, 0.9)))
    // reference semantics: best score per id, then (score desc, id asc)
    // top-k — the window+dropDuplicates composition the heap replaces
    val ref = rows.map { case (_, id, s) => (id, s) }
      .groupBy(_._1).map { case (id, g) => (id, g.map(_._2).max) }
      .toSeq.sortBy { case (id, s) => (-s, id) }.take(2)
    assert(got === ref)
    // distinct-id inputs (every existing caller) are untouched: top-3 of
    // unique ids is the plain (score desc, id asc) prefix
    val uniq = Seq((1L, 1L, 0.3), (1L, 2L, 0.7), (1L, 3L, 0.5),
      (1L, 4L, 0.7)).toDF("q_id", "n_id", "sim4").repartition(3)
    val got3 = uniq.groupBy(col("q_id"))
      .agg(expr("graft_topk(n_id, sim4, 3)").as("topk"))
      .select(posexplode(col("topk")))
      .select(col("col.id")).as[Long].collect().toSet
    assert(got3 === Set(2L, 4L, 3L))
  }

  test("IVF cells: identical vectors share a cell; probe finds the twin") {
    val vecs = df(
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      Row(1L, Seq(1.0f, 0.1f, 0.0f)),
      Row(2L, Seq(1.0f, 0.1f, 0.0f)),
      Row(3L, Seq(-1.0f, 0.2f, 0.5f)),
      Row(4L, Seq(0.0f, 1.0f, -0.3f)))
    // one probe: a query's only candidates are its own cell's members,
    // so each twin finding the other proves they share a cell
    val ann = Similarity.annIvf(vecs, "vec_id", "embedding", k = 1,
        nCells = 2, nProbe = 1)
      .filter(col("q_id") <= 2L).collect()
      .map(r => r.getAs[Long]("q_id") -> r.getAs[Long]("n_id")).toMap
    assert(ann === Map(1L -> 2L, 2L -> 1L))
  }

  test("dropExactDups: a dotted column name passes through the exact keeper") {
    import graft.operators.Curation
    import spark.implicits._
    // docs 1 and 2 share a text: the keeper is doc 1, with ITS meta.src
    val docs = Seq((2L, "same text", "b", "en"), (1L, "same text", "a", "en"),
        (3L, "other text", "c", "en"))
      .toDF("doc_id", "text", "meta.src", "lang")
    // the standalone keeper, and curate's merged keeper pass
    val (train, test) = Curation.curate(docs, "doc_id", "text", "lang",
      Curation.Config(minTokens = 1, maxStopRatio = 1.0))
    for (kept <- Seq(Curation.dropExactDups(docs, "text", "doc_id"),
        train.union(test))) {
      assert(kept.columns.toSeq === docs.columns.toSeq)
      assert(kept.select(col("doc_id"), col("`meta.src`")).as[(Long, String)]
        .collect().toSet === Set((1L, "a"), (3L, "c")))
    }
  }

  test("curation pipeline: filters, dedups, and splits exactly as specified") {
    import graft.operators.Curation
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far away " * 4
    val docs = Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"),
      (2L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"), // exact dup of 1
      (3L, base + "alpha beta gamma delta epsilon zeta extra", "en", "s1"), // near dup of 1
      (4L, base + "totally different closing words here now then", "en", "s2"),
      (5L, base + "quality but wrong language entirely okay fine", "de", "s2"), // lang gate
      (6L, "too short", "en", "s2")) // quality gate
      .toDF("doc_id", "text", "lang", "source")
    val cfg = Curation.Config(minTokens = 30, maxStopRatio = 0.9,
      langs = Seq("en"), nearDupThreshold = 0.8, testFraction = 0.25)
    val (train, test) = Curation.curate(docs, "doc_id", "text", "lang", cfg)
    val survivors = (train.select("doc_id").collect() ++
      test.select("doc_id").collect()).map(_.getLong(0)).toSet
    // 2 (exact dup) and 3 (near dup) lose to 1; 5 and 6 gated out
    assert(survivors === Set(1L, 4L))
    // split is disjoint and exhaustive over survivors
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val testIds = test.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trainIds.intersect(testIds).isEmpty)
    assert(trainIds.union(testIds) === survivors)
    // near-copy keeper collapse: three salted copies of every doc with
    // shifted ids are near-dups of one another, so the transitive path
    // keeps ONE doc per family and the survivors stay those of 1x
    val copies = (0 until 3).map(c => docs.select(
        (col("doc_id") + 100L * c).as("doc_id"),
        concat(col("text"), lit(s" copysalt$c")).as("text"),
        col("lang"), col("source")))
      .reduce(_.union(_))
    val kept = Curation.curateFlagged(copies, "doc_id", "text", "lang",
      cfg.copy(transitiveNearDups = true))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 4L))
  }

  test("curateFlagged materializes exactly three frames (round-13 fusion " +
    "gate) and the Bloom rides the plan as a blob, not a Literal") {
    import graft.operators.Curation
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far away " * 4
    val docs = Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"),
      (2L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"),
      (3L, base + "alpha beta gamma delta epsilon zeta extra", "en", "s1"),
      (4L, base + "totally different closing words here now then", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    // eval shares shingles ONLY with doc 4's distinctive tail (the
    // shared `base` prefix would contaminate every doc)
    val eval = Seq("totally different closing words here now then")
      .toDF("text")
    val cfg = Curation.Config(minTokens = 30, maxStopRatio = 0.9,
      langs = Seq("en"), nearDupThreshold = 0.8, testFraction = 0.25)
    val actions = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val flagged =
      try {
        val f = Curation.curateFlagged(docs, "doc_id", "text", "lang", cfg,
          evalSet = Some(eval))
        // listener events are async: wait for the list to settle
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var last = -1
        var lastChange = System.nanoTime()
        while (System.nanoTime() < deadline &&
            (actions.size() != last ||
              System.nanoTime() - lastChange < 1000000000L)) {
          if (actions.size() != last) { last = actions.size(); lastChange = System.nanoTime() }
          Thread.sleep(50)
        }
        f
      } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val acts = actions.asScala.toList.filter(_ != "rdd")
    // the round-13 action floor on the (default) pair-greedy path: the
    // eval Bloom checkpoint (overlapped) and the merged gate+shingle+
    // exact-dedup keeper checkpoint — the LSH pair chain and the
    // survivor anti-joins stay fully LAZY (the r12 shape materialized
    // five frames). The RETURNED frame is lazy — the terminal action
    // belongs to the caller; `rdd` events are the spread probes. A
    // regression that adds a materialization fails this count.
    assert(acts.length === 2 && acts.forall(_ == "localCheckpoint"),
      s"expected exactly 2 localCheckpoint actions, got $acts")
    // the megabyte eval Bloom must ride the lazy survivor chain as the
    // opaque content-hashed blob — a lit() Literal here re-pays a
    // full-array hash on every AQE canonicalization (round-13 finding)
    val plan = flagged.queryExecution.sparkPlan.toString
    assert(plan.contains("graft_bloom_any(graft_binary_blob(len="), plan.take(2000))
    // decision parity with the two-frame API on the same input
    val survivors = flagged.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(survivors === Set(1L), s"survivors: $survivors")
    // transitive path: ONE more materialization (CC's edge checkpoint,
    // whose observe carries the count AND the fast-path edge list) and
    // NO separate signature/collect action after it
    val actions2 = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener2 = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions2.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener2)
    try {
      Curation.curateFlagged(docs, "doc_id", "text", "lang",
        cfg.copy(transitiveNearDups = true), evalSet = Some(eval))
      val deadline2 = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last2 = -1
      var lastChange2 = System.nanoTime()
      while (System.nanoTime() < deadline2 &&
          (actions2.size() != last2 ||
            System.nanoTime() - lastChange2 < 1000000000L)) {
        if (actions2.size() != last2) { last2 = actions2.size(); lastChange2 = System.nanoTime() }
        Thread.sleep(50)
      }
    } finally spark.listenerManager.unregister(listener2)
    val acts2 = actions2.asScala.toList.filter(_ != "rdd")
    assert(acts2.length === 3 && acts2.forall(_ == "localCheckpoint"),
      s"expected exactly 3 localCheckpoint actions on the transitive " +
        s"path (a 4th = the CC fast path lost its observed edge list), " +
        s"got $acts2")
  }

  test("curate with line dedup scores the cleaned page, not the boilerplate") {
    import graft.operators.Curation
    import spark.implicits._
    val content = "the quick brown fox jumps over a lazy dog and runs far " +
      "away alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau"
    // 30 repeated boilerplate lines push the dup-shingle ratio over any
    // gate; after line dedup the doc is clean content + one banner line
    val noisy = (Seq(content) ++ Seq.fill(30)("subscribe to our newsletter "
      + "today for more great content updates")).mkString("\n")
    val docs = Seq((1L, noisy, "en", "s1")).toDF("doc_id", "text", "lang", "source")
    val cfg = Curation.Config(minTokens = 20, maxStopRatio = 1.0,
      langs = Seq("en"), maxDupShingleRatio = 0.3, testFraction = 0.25)
    // without line dedup the repetition gate kills the doc
    val (tr0, te0) = Curation.curate(docs, "doc_id", "text", "lang", cfg)
    assert(tr0.count() + te0.count() === 0)
    // with it, the doc survives and its text is the deduped page
    val (tr1, te1) = Curation.curate(docs, "doc_id", "text", "lang",
      cfg.copy(dedupLinesSep = Some("\n")))
    val rows = tr1.select("text").collect() ++ te1.select("text").collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0).linesIterator.size === 2)
  }

  test("curate with an eval set drops contaminated docs before dedup") {
    import graft.operators.Curation
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far away " * 4
    val docs = Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"),
      (2L, base + "alpha beta gamma delta epsilon zeta", "en", "s1"), // exact dup of 1
      (4L, base + "totally different closing words here now then", "en", "s2"),
      (7L, base + "held out benchmark phrasing lives here", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    // eval shares a shingle run with doc 7 only (quality-passing docs)
    val eval = Seq((0L, "held out benchmark phrasing lives elsewhere"))
      .toDF("doc_id", "text")
    val cfg = Curation.Config(minTokens = 30, maxStopRatio = 0.9,
      langs = Seq("en"), nearDupThreshold = 0.8, testFraction = 0.25)
    val (train, test) = Curation.curate(docs, "doc_id", "text", "lang", cfg,
      evalSet = Some(eval))
    val survivors = (train.select("doc_id").collect() ++
      test.select("doc_id").collect()).map(_.getLong(0)).toSet
    // 7 contaminated, 2 exact-dups to 1; without the eval set 7 survives
    assert(survivors === Set(1L, 4L))
    val (tr2, te2) = Curation.curate(docs, "doc_id", "text", "lang", cfg)
    val all2 = (tr2.select("doc_id").collect() ++
      te2.select("doc_id").collect()).map(_.getLong(0)).toSet
    assert(all2 === Set(1L, 4L, 7L))
  }

  test("curateFlagged: a failing keeper pass surfaces only after the eval " +
    "job finished, so no job is left running") {
    import graft.operators.Curation
    import spark.implicits._
    val base = "the quick brown fox jumps over a lazy dog and runs far away " * 4
    // the repartition keeps the raising column out of the optimizer's
    // local-relation folding: it must fail inside the keeper job
    val docs = Seq(
      (1L, base + "alpha beta gamma delta epsilon zeta", "en"),
      (3L, base + "totally different closing words here now then", "en"))
      .toDF("doc_id", "text", "lang").repartition(2)
      .withColumn("tag", when(col("doc_id") === 3L,
        raise_error(lit("keeper pass failed"))).otherwise(lit("ok")))
    // the eval leg sleeps in its scan, so it is still running when the
    // keeper pass fails
    val slow = udf((t: String) => { Thread.sleep(2000); t })
    val eval = Seq("held out benchmark phrasing lives here").toDF("text")
      .repartition(1).select(slow(col("text")).as("text"))
    val cfg = Curation.Config(minTokens = 30, maxStopRatio = 0.9,
      langs = Seq("en"))
    val err = intercept[Exception](Curation.curateFlagged(
      docs, "doc_id", "text", "lang", cfg, evalSet = Some(eval)))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("keeper pass failed")),
      err.toString)
    // the status store catches up asynchronously with a finished job; a
    // detached eval job would run on for most of its 2 s sleep
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 500L * 1000 * 1000
    while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(tracker.getActiveJobIds.isEmpty,
      s"jobs still running: ${tracker.getActiveJobIds.toSeq}")
  }

  test("decontaminate fails fast on an oversized eval side") {
    import graft.operators.Curation
    import spark.implicits._
    val train = Seq((1L, "some training text")).toDF("doc_id", "text")
    val bigEval = spark.range(100).select(
      col("id").as("doc_id"), concat(lit("eval doc "), col("id")).as("text"))
    val e = intercept[IllegalArgumentException] {
      Curation.decontaminate(train, bigEval, "text", "doc_id",
        maxEvalRows = 10L)
    }
    assert(e.getMessage.contains("exceeds 10 rows"))
  }

  test("decontaminate flags exactly the train docs sharing eval shingles") {
    import graft.operators.Curation
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // shares "alpha beta gamma"
      (2L, "totally unrelated training document text"),
      (3L, "eta theta iota kappa lambda mu nu")) // shares 2 eval shingles
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "alpha beta gamma entirely different tail"),
      (101L, "eta theta iota kappa wholly other ending"))
      .toDF("doc_id", "text")
    val out = Curation.decontaminate(train, eval, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares exactly one 3-gram; doc 3 shares "eta theta iota" and
    // "theta iota kappa"; doc 2 is clean and must be absent
    assert(out === Map(1L -> 1L, 3L -> 2L))
    // empty eval set: nothing flagged, schema intact
    val none = Curation.decontaminate(train,
      eval.filter(col("doc_id") < 0), "text", "doc_id")
    assert(none.columns.toSeq === Seq("doc_id", "n_shared"))
    assert(none.count() === 0)
  }

  test("packGreedy: exhaustive, budget-bounded, deterministic packing") {
    import graft.operators.Packing
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, (i * 37) % 900 + 50))
      .toDF("doc_id", "n_tokens")
    val bins = Packing.packGreedy(docs, "doc_id", "n_tokens",
      budget = 2048, nPartitions = 4).collect()
    // every doc packed exactly once
    val packed = bins.flatMap(_.doc_ids)
    assert(packed.sorted.toSeq === (1L to 200L))
    // no bin over budget (no doc here exceeds it)
    assert(bins.forall(_.total_tokens <= 2048))
    // totals are consistent
    val tokensByDoc = (1L to 200L).map(i => i -> ((i * 37) % 900 + 50)).toMap
    bins.foreach { b =>
      assert(b.total_tokens === b.doc_ids.map(tokensByDoc).sum)
      assert(b.n_docs === b.doc_ids.size)
    }
    // bin ids unique; deterministic across reruns
    assert(bins.map(_.bin_id).distinct.length === bins.length)
    val again = Packing.packGreedy(docs, "doc_id", "n_tokens",
      budget = 2048, nPartitions = 4).collect()
    assert(again.map(b => b.bin_id -> b.doc_ids).toMap ===
      bins.map(b => b.bin_id -> b.doc_ids).toMap)
    // an oversized doc gets a bin of its own, never dropped
    val withHuge = docs.union(Seq((999L, 10000L)).toDF("doc_id", "n_tokens"))
    val hugeBins = Packing.packGreedy(withHuge, "doc_id", "n_tokens",
      budget = 2048, nPartitions = 4).collect()
    val hugeBin = hugeBins.find(_.doc_ids.contains(999L)).get
    assert(hugeBin.doc_ids === Seq(999L))
    assert(hugeBins.flatMap(_.doc_ids).length === 201)
  }

  test("groupDisjointSplit: groups never straddle the split, nulls go to train") {
    val sq = spark
    import sq.implicits._
    val docs = (1L to 300L).map(i => (i, if (i % 30 == 0) null
      else s"src${i % 20}")).toDF("doc_id", "source")
    val (train, test) = Sampling.groupDisjointSplit(docs, "source", 0.3)
    assert(train.count() + test.count() === 300) // exact partition
    val trainSrc = train.filter(col("source").isNotNull)
      .select("source").distinct().as[String].collect().toSet
    val testSrc = test.select("source").distinct().as[String].collect().toSet
    assert(trainSrc.intersect(testSrc).isEmpty, (trainSrc, testSrc).toString)
    assert(testSrc.nonEmpty && trainSrc.nonEmpty) // 20 sources, 0.3 draw
    assert(train.filter(col("source").isNull).count() === 10) // nulls→train
    assert(test.filter(col("source").isNull).count() === 0)
    // deterministic across layout
    val (t2, s2) = Sampling.groupDisjointSplit(docs.repartition(7),
      "source", 0.3)
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq ===
      test.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(t2.count() === train.count())
  }

  test("temperatureMixture flattens toward rare strata, hits the target size") {
    import graft.operators.Sampling
    import spark.implicits._
    // 900 'big' docs vs 100 'small' docs
    val df = ((1L to 900L).map(i => (i, "big")) ++
      (901L to 1000L).map(i => (i, "small"))).toDF("doc_id", "lang")
    val out = Sampling.temperatureMixture(df, "lang", "doc_id",
      alpha = 0.5, targetTotal = 1000L)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = byLang.values.sum
    assert(math.abs(total - 1000L) < 60, s"total $total")
    // alpha=0.5: shares ∝ sqrt(900):sqrt(100) = 3:1, vs natural 9:1
    val ratio = byLang("big").toDouble / byLang("small")
    assert(ratio > 2.0 && ratio < 4.0, s"ratio $ratio")
    // deterministic row-by-row
    val a = out.collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    val b = Sampling.temperatureMixture(df.repartition(7), "lang", "doc_id",
      alpha = 0.5, targetTotal = 1000L)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toSet
    assert(a === b)
    // a 1-doc stratum under a huge target saturates at the 100-epoch
    // ceiling instead of tripping mixture's require mid-job
    val skew = ((1L to 10000L).map(i => (i, "big")) :+ (10001L, "rare"))
      .toDF("doc_id", "lang")
    val rare = Sampling.temperatureMixture(skew, "lang", "doc_id",
      alpha = 0.5, targetTotal = 1000000L)
      .filter(col("lang") === "rare").count()
    assert(rare === 100L)
  }

  test("capPerKey: quota respected, deterministic, prefix-consistent as quota tightens") {
    import graft.operators.Sampling
    import spark.implicits._
    val df = (1L to 300L).map(i => (i, s"host${i % 3}"))
      .toDF("doc_id", "host")
    val at10 = Sampling.capPerKey(df, "host", "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val at10b = Sampling.capPerKey(df.repartition(7), "host", "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val at3 = Sampling.capPerKey(df, "host", "doc_id", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(at10.size === 30 && at3.size === 9)
    assert(at10 === at10b)       // partitioning-independent
    assert(at3.subsetOf(at10))   // tightening never rotates the sample
    // keys under quota keep everything
    val small = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "host")
    assert(Sampling.capPerKey(small, "host", "doc_id", 10).count() === 3)
  }

  test("packNextFit: exhaustive, budget-bounded, partitioning-invariant, matches a reference fold") {
    import graft.operators.Packing
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, (i * 37 % 90) + 1))
      .toDF("doc_id", "nt")
    val out = Packing.packNextFit(docs, "doc_id", "nt", budget = 100,
      nBuckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exhaustive: every id exactly once
    assert(out.map(_._1).sorted.toSeq === (1L to 200L))
    // reference: same bucket hash, id order, sequential next-fit in Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucketOf(id: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 4
    }
    val nts = (1L to 200L).map(i => i -> ((i * 37 % 90) + 1)).toMap
    val expected = (1L to 200L).groupBy(bucketOf).flatMap { case (b, ids) =>
      var bin = 0L; var cur = 0L; var first = true
      ids.sorted.map { id =>
        val nt = nts(id)
        if (first) { first = false; cur = nt }
        else if (cur + nt > 100) { bin += 1; cur = nt }
        else cur += nt
        (id, b, bin)
      }
    }.toSet
    assert(out.toSet === expected)
    // partitioning-invariant: a skewed repartition upstream changes nothing
    val out2 = Packing.packNextFit(docs.repartition(13), "doc_id", "nt",
      budget = 100, nBuckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSet === expected)
    // budget respected within every bin (no oversized docs in this set)
    val binTotals = out.groupBy(r => (r._2, r._3))
      .map { case (_, rs) => rs.map(r => nts(r._1)).sum }
    assert(binTotals.forall(_ <= 100))
  }

  test("bitextMine: margin demotes hub targets, raw cosine does not") {
    import graft.operators.Similarity
    import spark.implicits._
    // Orthogonal sources. Target 101 is a HUB: highest raw cosine to
    // source 2 (0.958) but it also picks up 0.20 against the other two
    // sources, inflating its top-2 neighborhood sum. Target 103 aligns
    // with source 2 only (cos 0.93, orthogonal to the rest), so its
    // denominator is smaller and its margin wins.
    def v(a: Double, b: Double, c: Double, d: Double) =
      Seq(a.toFloat, b.toFloat, c.toFloat, d.toFloat)
    val src = Seq(
      (0L, v(1, 0, 0, 0)),
      (2L, v(0, 1, 0, 0)),
      (4L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
    val tgt = Seq(
      (101L, v(0.2, 0.95, 0.2, 0)),   // hub
      (103L, v(0, 0.93, 0, 0.3676)),  // specific to source 2
      (105L, v(0, 0, 0, 1.0))).toDF("vec_id", "embedding")
    val out = Similarity.bitextMine(src, tgt, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    // raw cosine prefers the hub for source 2 (0.958 > 0.93), but the
    // hub's dense neighborhood drags its margin below the specific pair's
    assert(out(2L)._1 === 103L)
    // every source got exactly one mined target, margins are finite
    assert(out.size === 3 && out.values.forall(p => !p._2.isNaN))
    // determinism across reruns
    val again = Similarity.bitextMine(src, tgt, "vec_id", "embedding", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    assert(again === out)
  }

  test("randomProjectionMd5: md5-parity signs, one-hot recovery, determinism") {
    import graft.functions.{VectorFunctions => VF}
    import spark.implicits._
    // one-hot inputs recover single sign-matrix entries: out[j] of e_d
    // is sign(j, d) / sqrt(4) = ±0.5
    val oneHots = (1 to 64).map { d =>
      (d.toLong, Array.tabulate(64)(i => if (i == d - 1) 1.0f else 0.0f).toSeq)
    }.toDF("vec_id", "embedding")
    val out = oneHots.select(col("vec_id"),
        VF.randomProjectionMd5(col("embedding"), 64, 4).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Double = {
      val nib = (md.digest(s"rp $j $d".getBytes("UTF-8"))(0) >> 4) & 0xF
      if (nib % 2 == 0) 1.0 else -1.0
    }
    for (d <- 1 to 64; j <- 0 until 4)
      assert(out(d.toLong)(j) === sign(j, d) / 2.0)
    // signs are balanced enough to be a real Rademacher draw (not all +1)
    val plus = (for (d <- 1 to 64; j <- 0 until 4) yield sign(j, d))
      .count(_ > 0)
    assert(plus > 64 && plus < 192)
    // linearity: projection of a sum is the sum of projections
    val two = Seq((1L, Array.tabulate(64)(i =>
      if (i == 0 || i == 1) 1.0f else 0.0f).toSeq)).toDF("vec_id", "embedding")
    val p2 = two.select(VF.randomProjectionMd5(col("embedding"), 64, 4))
      .head().getSeq[Double](0)
    for (j <- 0 until 4)
      assert(math.abs(p2(j) - (out(1L)(j) + out(2L)(j))) < 1e-12)
  }

  test("canonicalPerCluster: argmax quality, id tie-break, null ranks last") {
    import graft.operators.{Curation, Dedup}
    import spark.implicits._
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // cluster 1
      (10L, 10L), (11L, 10L),          // cluster 10: quality tie
      (20L, 20L), (21L, 20L)           // cluster 20: null vs real
    ).toDF("id", "component")
    val docs = Seq[(Long, java.lang.Double)](
      (1L, 5.0), (2L, 9.0), (3L, 7.0),
      (10L, 4.0), (11L, 4.0),
      (20L, null), (21L, 1.0)
    ).toDF("doc_id", "quality")
    val out = Dedup.canonicalPerCluster(clusters, docs, "doc_id", "quality")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3)))
      .toMap
    assert(out(1L) === ((2L, 3L)))   // highest quality wins, not min id
    assert(out(10L) === ((10L, 2L))) // tie → lowest id
    assert(out(20L) === ((21L, 2L))) // null quality loses to any real score
    // the drop wrapper keeps exactly the keepers and all unclustered docs
    val corpus = Seq(
      (1L, "alpha beta gamma delta shared run one"),
      (2L, "alpha beta gamma delta shared run one two"),
      (3L, "totally unrelated text about other things")
    ).toDF("doc_id", "text").withColumn("q",
      when(col("doc_id") === 2L, 10.0).otherwise(1.0))
    val kept = Curation.dropNearDupClustersKeepBest(
      corpus, "text", "doc_id", 0.5, "q")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept === Array(2L, 3L)) // best copy of the dup pair + singleton
  }

  test("packStats agrees with the assignment it summarizes") {
    import graft.operators.Packing
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, (i * 37 % 90) + 1))
      .toDF("doc_id", "nt")
    val assign = Packing.packNextFit(docs, "doc_id", "nt", budget = 100,
      nBuckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nts = (1L to 200L).map(i => i -> ((i * 37 % 90) + 1)).toMap
    val stats = Packing.packStats(docs, "doc_id", "nt", budget = 100,
      nBuckets = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // one stats row per (bucket, bin) of the assignment, and the
    // aggregates match a reference rollup of the assignment itself
    val ref = assign.groupBy(r => (r._2, r._3)).map { case (k, rs) =>
      val tot = rs.map(r => nts(r._1)).sum
      k -> (rs.length.toLong, tot, 100L - tot,
        if (rs.exists(r => nts(r._1) > 100)) 1L else 0L)
    }
    assert(stats === ref)
    // no oversized docs in this fixture, so waste is non-negative
    assert(stats.values.forall(_._3 >= 0L))
    // an oversized doc gets its own bin and negative waste, flagged
    val over = Seq((1L, 50L), (2L, 250L), (3L, 60L)).toDF("doc_id", "nt")
    val os = Packing.packStats(over, "doc_id", "nt", budget = 100,
      nBuckets = 1).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val overBin = os.find(_._4 == 1L).get
    assert(overBin._1 === 1L && overBin._2 === 250L && overBin._3 === -150L)
  }

  test("materializeBins concatenates texts in pack order, rejects id drift") {
    import graft.operators.Packing
    import spark.implicits._
    // texts sort ANTI-alphabetically vs pack position so a regression to
    // text-order (or arrival-order) sorting fails the assertion
    val docs = Seq(
      (1L, "zeta", 100L), (2L, "alpha", 100L), (3L, "midway", 100L))
      .toDF("doc_id", "text", "n_tokens")
    val bins = Packing.packGreedy(docs, "doc_id", "n_tokens",
      budget = 250, nPartitions = 1)
    val out = Packing.materializeBins(bins, docs, "doc_id", "text", sep = " | ")
      .collect().map(r => r.getAs[String]("text")).sorted
    // partition 0, ascending ids: bin0 = docs 1+2 (pack order), bin1 = doc 3
    assert(out === Array("midway", "zeta | alpha"))
    // strict mode fails fast on a docs frame that lost a packed id
    val e = intercept[IllegalArgumentException] {
      Packing.materializeBins(bins, docs.filter(col("doc_id") =!= 2L),
        "doc_id", "text")
    }
    assert(e.getMessage.contains("missing/duplicated"))
    // on duplicated ids
    intercept[IllegalArgumentException] {
      Packing.materializeBins(bins, docs.union(docs), "doc_id", "text")
    }
    // on a duplicate that exactly compensates a missing id (row count
    // alone would pass; the distinct-id axis catches it)
    val compensated = docs.filter(col("doc_id") =!= 2L)
      .union(docs.filter(col("doc_id") === 1L))
    intercept[IllegalArgumentException] {
      Packing.materializeBins(bins, compensated, "doc_id", "text")
    }
    // and on a null text (concat_ws would drop it silently)
    val withNullText = docs.withColumn("text",
      when(col("doc_id") === 2L, lit(null)).otherwise(col("text")))
    intercept[IllegalArgumentException] {
      Packing.materializeBins(bins, withNullText, "doc_id", "text")
    }
  }

  test("unigram LM scores gibberish worse than fluent text") {
    import graft.operators.UnigramLm
    import spark.implicits._
    val fluent = "the cat sat on the mat and the dog ran to the park"
    val docs = Seq(
      (1L, fluent),
      (2L, fluent + " again and again with the same words"),
      (3L, "zxqv jkwp mfgh qqrtx lpzn wvvbk xjzqm pltr"), // all-OOV gibberish
      (4L, "")) // token-less: absent from output
      .toDF("doc_id", "text")
    val out = UnigramLm.scores(docs, "text", "doc_id", vocabSize = 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(3L) > out(1L)) // OOV-only doc is maximally surprising
    assert(out(3L) > out(2L))
    // vocabulary fit is deterministic (count desc, token asc)
    val v1 = UnigramLm.vocabulary(docs, "text", 5).collect().map(_.getString(0))
    val v2 = UnigramLm.vocabulary(docs, "text", 5).collect().map(_.getString(0))
    assert(v1.toSeq === v2.toSeq)
    assert(v1.head === "the") // most frequent token wins slot 0
  }

  test("perplexityBuckets: exact sample order statistics, monotone labels") {
    import graft.operators.UnigramLm
    import spark.implicits._
    // 20 docs: 10 fluent (shared vocab), 10 increasingly OOV-laden
    val docs = (0 until 20).map { i =>
      val text = if (i < 10) "the cat sat on the mat and the dog ran"
        else ("the cat " + (0 until i).map(j => s"zq${i}x$j").mkString(" "))
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val out = UnigramLm.perplexityBuckets(docs, "text", "doc_id",
        vocabSize = 50, sampleSize = 20, headPct = 30, midPct = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(out.length === 20)
    // bucket is monotone in avg_nll: every head score <= every middle
    // score <= every tail score
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket.keySet === Set("head", "middle", "tail"))
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
    // thresholds are the ceil-rank order stats of the full sample here
    // (sampleSize = corpus): rank ceil(20*.3)=6 → 6 head docs at most
    // (ties can add more); fluent docs all land in head
    assert((0 until 10).forall(i =>
      out.find(_._1 == i.toLong).get._3 == "head"))
    // deterministic across runs
    val again = UnigramLm.perplexityBuckets(docs, "text", "doc_id",
        vocabSize = 50, sampleSize = 20, headPct = 30, midPct = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
    // bounds enforced
    intercept[IllegalArgumentException] {
      UnigramLm.perplexityBuckets(docs, "text", "doc_id",
        headPct = 60, midPct = 50)
    }
  }

  test("semanticDedup keeps one representative per cell; identical vectors collapse") {
    import graft.operators.Similarity
    import spark.implicits._
    val v1 = Seq(1.0f, 0.5f, -0.25f)
    val v2 = Seq(-1.0f, 0.75f, 0.5f)
    val vecs = Seq((1L, v1), (2L, v1), (5L, v1), (3L, v2), (4L, v2))
      .toDF("vec_id", "embedding")
    val cells = Similarity.semanticDedupCells(vecs, "embedding", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // identical vectors share a cell; the min id is the keeper
    assert(cells.length === 2)
    assert(cells.map(_._2).toSet === Set(1L, 3L))
    assert(cells.map(_._3).sorted.toSeq === Seq(2L, 3L))
    val kept = Similarity.semanticDedup(vecs, "embedding", "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("naive bayes learns separable token distributions, predicts unlabeled rows") {
    import graft.operators.NaiveBayes
    import spark.implicits._
    val en = "the quick brown fox jumps over the lazy dog near the river"
    val fr = "le renard brun rapide saute par dessus le chien au bord"
    val docs = ((1L to 10L).map(i => (i, en + s" extra$i", "en")) ++
      (11L to 20L).map(i => (i, fr + s" extra$i", "fr")) ++
      Seq((21L, "the quick dog by the river", null),
        (22L, "le chien rapide au bord", null)))
      .toDF("doc_id", "text", "lang")
    val out = NaiveBayes.fitPredict(docs, "text", "doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.size === 22) // every row predicted, labeled or not
    assert((1L to 10L).forall(out(_) == "en"))
    assert((11L to 20L).forall(out(_) == "fr"))
    assert(out(21L) === "en" && out(22L) === "fr")
    // degenerate: no labels at all → empty result, not a crash
    val none = Seq((1L, "some text", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "lang")
    assert(NaiveBayes.fitPredict(none, "text", "doc_id", "lang").count() === 0)
  }

  test("containment flags embedded quotes that Jaccard misses") {
    import spark.implicits._
    val short = "the quick brown fox jumps over the lazy dog"
    val long = ("completely different opening words here then a quote " +
      short + " and a lot of different closing material after it " +
      "padding tokens one two three four five six seven eight nine ten")
    val df = Seq((short, long)).toDF("a", "b")
    val shA = TA.shingles(TA.tokens(col("a")))
    val shB = TA.shingles(TA.tokens(col("b")))
    val r = df.select(
      Dedup.containment(shA, shB).as("cont"),
      Dedup.jaccard(shA, shB).as("jac")).head()
    assert(r.getDouble(0) === 1.0)  // every shingle of the quote is in b
    assert(r.getDouble(1) < 0.3)    // symmetric similarity stays low
    // empty A → 0, not NaN/null
    val z = Seq(("", long)).toDF("a", "b")
      .select(Dedup.containment(TA.shingles(TA.tokens(col("a"))),
        TA.shingles(TA.tokens(col("b"))))).head()
    assert(z.getDouble(0) === 0.0)
  }

  test("fuzzy join finds exactly the edit-1 pairs, never crosses distance 2") {
    import graft.operators.FuzzyJoin
    import spark.implicits._
    val rows = Seq(
      (1L, "spark"), (2L, "spark"),   // ed 0
      (3L, "spark2"), (4L, "spork"),  // ed 1 to spark (insert / substitute)
      (5L, "park"),                   // ed 1 to spark (delete)
      (6L, "plonk"),                  // ed >= 2 from everything
      (7L, null.asInstanceOf[String]))
      .toDF("id", "k")
    val got = FuzzyJoin.pairsWithin1(rows, "k", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sparkIds = Set(1L, 2L)
    // all spark-adjacent pairs present
    assert(got.contains((1L, 2L, 0L)))
    for (v <- Seq(3L, 4L, 5L); s <- sparkIds)
      assert(got.contains((s, v, 1L)), s"missing ($s, $v)")
    // no pair involves plonk or the null key
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    // a NULL ID with a valid key must also vanish — least/greatest skip
    // nulls, so it would otherwise collapse a (null, x) pair into a
    // degenerate (x, x) self-pair feeding downstream clustering
    val withNullId = rows.unionByName(
      Seq((Option.empty[Long], Option("spark3")))
        .toDF("id", "k"))
    val got2 = FuzzyJoin.pairsWithin1(withNullId, "k", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(!got2.exists(p => p._1 == p._2),
      s"degenerate self-pair from a null id: ${got2.filter(p => p._1 == p._2)}")
    assert(got2 === got, "a null-id row must contribute no pairs at all")
    // exhaustive check vs brute force on this set
    val keys = rows.collect().map(r => r.getLong(0) ->
      Option(r.getString(1))).toMap
    def ed(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val brute = (for {
      (i, Some(a)) <- keys.toSeq; (j, Some(b)) <- keys.toSeq
      if i < j && ed(a, b) <= 1
    } yield (i, j, ed(a, b).toLong)).toSet
    assert(got === brute)
  }

  test("scoring kernels: O(1)-probe sums match hand computation, stay codegen") {
    import graft.plans.ScoreTable
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val table = ScoreTable.serialize(Seq("a" -> 1.5, "b" -> -0.25), 100.0)
    val df = Seq((1L, Seq("a", "b", "zz", "a"))).toDF("id", "toks")
    // build via call_function — no SQL-escaping of the table literal
    val got2 = df.select(
      call_function("graft_map_sum", col("toks"), lit(table))).head().getDouble(0)
    assert(got2 === 1.5 + -0.25 + 100.0 + 1.5)
    // null token array → null result
    val n = Seq((1L, null.asInstanceOf[Seq[String]])).toDF("id", "toks")
      .select(call_function("graft_map_sum", col("toks"), lit(table))).head()
    assert(n.isNullAt(0))
    // bigram kernel: pair hit + backoff miss, -ln per pair
    val bi = ScoreTable.serialize(Seq("a b" -> 0.5), 0.0)
    val uni = ScoreTable.serialize(Seq("b" -> 0.125, "c" -> 0.25), 0.0625)
    val s = Seq((1L, Seq("a", "b", "c", "d"))).toDF("id", "toks")
      .select(call_function("graft_bigram_nll", col("toks"),
        lit(bi), lit(uni))).head().getDouble(0)
    val expected = -math.log(0.5 + 0.125) + -math.log(0.0 + 0.25) +
      -math.log(0.0 + 0.0625)
    assert(math.abs(s - expected) < 1e-15)
    // single-token docs: no pairs, sum 0
    val z = Seq((1L, Seq("solo"))).toDF("id", "toks")
      .select(call_function("graft_bigram_nll", col("toks"),
        lit(bi), lit(uni))).head().getDouble(0)
    assert(z === 0.0)
    // the kernel stays inside WholeStageCodegen (no fallback project) —
    // range-backed input so ConvertToLocalRelation can't fold the plan
    val rdf = spark.range(2)
      .select(split(concat(lit("a b "), col("id")), " ").as("toks"))
    val p = rdf.select(call_function("graft_map_sum", col("toks"), lit(table)))
      .queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project") &&
      p.toLowerCase.contains("graft_map_sum"), p)
  }

  test("kernel edge contracts: null elements skipped, malformed tables " +
      "rejected, ragged vectors fail fast") {
    import graft.plans.ScoreTable
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    // null array ELEMENTS are legal array<string> values but are not
    // tokens: both scoring kernels skip them (review finding — they NPE'd)
    val table = ScoreTable.serialize(Seq("a" -> 1.5, "b" -> -0.25), 100.0)
    val withNull = Seq(1L).toDF("id")
      .select(array(lit("a"), lit(null).cast("string"), lit("b")).as("toks"))
    assert(withNull.select(
      call_function("graft_map_sum", col("toks"), lit(table)))
      .head().getDouble(0) === 1.5 + -0.25)
    val bi = ScoreTable.serialize(Seq("a b" -> 0.5), 0.0)
    val uni = ScoreTable.serialize(Seq("b" -> 0.125), 0.0625)
    // pair stream runs over the non-null subsequence: (a,b) only
    assert(math.abs(withNull.select(
      call_function("graft_bigram_nll", col("toks"), lit(bi), lit(uni)))
      .head().getDouble(0) - -math.log(0.5 + 0.125)) < 1e-15)
    // all-null elements → no tokens → 0.0 pairs/sum
    val allNull = Seq(1L).toDF("id")
      .select(array(lit(null).cast("string")).as("toks"))
    assert(allNull.select(
      call_function("graft_map_sum", col("toks"), lit(table)))
      .head().getDouble(0) === 0.0)
    assert(allNull.select(
      call_function("graft_bigram_nll", col("toks"), lit(bi), lit(uni)))
      .head().getDouble(0) === 0.0)
    // a tab-less line is reported as a malformed table (with the line),
    // not a bare substring(0,-1) StringIndexOutOfBounds deep in a task
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val mal = intercept[Exception](
      Seq(1L).toDF("id").select(array(lit("a")).as("toks"))
        .select(call_function("graft_map_sum", col("toks"), lit("the 1.5")))
        .head())
    assert(chain(mal).exists(_.contains("tab separator")),
      chain(mal).mkString(" | "))
    // ragged vector pairs fail fast with the lengths (review finding —
    // min-length truncation silently scored the shared prefix); both the
    // interpreted and codegen paths throw
    val ragged = Seq((Seq(1.0, 0.0), Seq(1.0, 0.0, 0.0))).toDF("x", "y")
    for (fn <- Seq("graft_cosine", "graft_dot")) {
      val e = intercept[Exception](
        ragged.select(call_function(fn, col("x"), col("y"))).head())
      def lens(t: Throwable): Boolean =
        t != null && (t.getMessage != null &&
          t.getMessage.contains("lengths differ") || lens(t.getCause))
      assert(lens(e), s"$fn: ${e.getMessage}")
    }
  }

  test("bigram LM is order-sensitive: scrambled word order scores worse") {
    import graft.operators.UnigramLm
    import spark.implicits._
    val fluent = "the cat sat on the mat and the cat sat on the rug"
    // same multiset of tokens, scrambled order → same unigram score but
    // the bigram term can't fire on unseen transitions
    val scrambled = "mat the on sat rug cat the and on the sat cat the"
    val corpus = (1L to 20L).map(i => (i, fluent)) :+ (21L, scrambled)
    val docs = corpus.toDF("doc_id", "text")
    val out = UnigramLm.bigramScores(docs, "text", "doc_id",
      vocabSize = 50, bigramSize = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(21L) > out(1L),
      s"scrambled=${out(21L)} should exceed fluent=${out(1L)}")
    // single-token docs have no pairs and drop out
    val one = Seq((1L, "solo")).toDF("doc_id", "text")
    assert(UnigramLm.bigramScores(one, "text", "doc_id").count() === 0)
  }

  test("percentile sketch lands within tolerance of the exact percentile") {
    val li = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
    val exact = li.agg(percentile(col("l_extendedprice"), lit(0.9)))
      .head().getDouble(0)
    val approx = li.agg(percentile_approx(col("l_extendedprice"),
      lit(0.9), lit(10000))).head().getDouble(0)
    assert(math.abs(approx - exact) / exact < 0.01) // within 1%
  }

  test("bloom prefilter: superset of the exact semi join, never loses a match") {
    import graft.operators.BloomPrefilter
    val li = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
    val urgent = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    val pre = BloomPrefilter.semiFilter(li, "l_orderkey", urgent, "o_orderkey",
      expectedItems = 10000L, numBits = 80000L)
    val exact = li.join(urgent, col("l_orderkey") === col("o_orderkey"),
      "left_semi")
    val preKeys = pre.select("l_orderkey").collect().map(_.getLong(0)).toSet
    val exactKeys = exact.select("l_orderkey").collect().map(_.getLong(0)).toSet
    assert(exactKeys.subsetOf(preKeys))  // no false negatives
    assert(pre.count() < li.count())     // and it actually prunes ROWS
  }

  test("deterministic sampling: reproducible, disjoint split, stratified rates") {
    import graft.operators.Sampling
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "documents")

    // reproducible: the exact same rows on a second evaluation
    val s1 = Sampling.uniform(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.uniform(docs, "doc_id", 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2)
    assert(s1.size > 100 && s1.size < 200) // ~150 of 500 (hash-uniform)

    // split: disjoint and exhaustive
    val (train, test) = Sampling.trainTestSplit(docs, "doc_id", 0.2)
    val trainIds = train.select("doc_id").collect().map(_.getLong(0)).toSet
    val testIds = test.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(trainIds.intersect(testIds).isEmpty)
    assert(trainIds.size + testIds.size === docs.count())

    // stratified: absent strata drop to zero, present ones keep ~rate
    val strat = Sampling.stratified(docs, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.0))
    val langs = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val enTotal = docs.filter(col("lang") === "en").count()
    assert(langs.getOrElse("en", 0L) === enTotal)
    assert(!langs.contains("de") && !langs.contains("fr"))
  }

  test("mixture: fractional epoch weights repeat, downsample, and drop strata") {
    import graft.operators.Sampling
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "documents")
      .select(col("doc_id"), col("lang"))
    val mixed = Sampling.mixture(docs, "lang", "doc_id",
      Map("en" -> 2.5, "de" -> 0.5, "zh" -> 0.0))
    val byLang = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = docs.filter(col("lang") === "en").count()
    val de = docs.filter(col("lang") === "de").count()
    // en ~2.5x (every doc twice + hash-half a third time)
    assert(byLang("en") >= 2 * en && byLang("en") <= 3 * en)
    assert(math.abs(byLang("en") - 2.5 * en) < 0.2 * en, byLang("en"))
    // de ~0.5x, zh and absent langs dropped entirely
    assert(math.abs(byLang("de") - 0.5 * de) < 0.25 * de, byLang("de"))
    assert(!byLang.contains("zh") && !byLang.contains("fr"))
    // copies are 1-based and dense per doc; rerun is identical
    val copies = mixed.filter(col("lang") === "en")
      .groupBy("doc_id").agg(max(col("copy")).as("mx"), count(lit(1)).as("n"))
    assert(copies.filter(col("mx") =!= col("n")).count() === 0)
    val again = Sampling.mixture(docs, "lang", "doc_id",
      Map("en" -> 2.5, "de" -> 0.5, "zh" -> 0.0))
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === byLang)
  }

  test("LSH buckets put identical vectors together") {
    val vecs = df(
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      Row(1L, Seq(1.0f, 2.0f, 3.0f)),
      Row(2L, Seq(1.0f, 2.0f, 3.0f)),
      Row(3L, Seq(-5.0f, 1.0f, -2.0f)))
    val b = Similarity.sketched(vecs, "vec_id", "embedding")
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) === b(2L))
  }

  test("ANN recall beats the random-candidate baseline (the sketches carry signal)") {
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(e, e, "vec_id", "embedding", 3))
    val lsh = pairs(Similarity.annLsh(e, "vec_id", "embedding", 3,
      SketchHash.XxHash64, nBits = 4))
    val ivf = pairs(Similarity.annIvf(e, "vec_id", "embedding", 3))
    def recall(ann: Set[(Long, Long)]) =
      ann.intersect(exact).size.toDouble / exact.size
    info(f"lsh recall@3 = ${recall(lsh)}%.4f, ivf recall@3 = ${recall(ivf)}%.4f")
    // 16 LSH buckets over 500 vectors ⇒ ~31 candidates per query; RANDOM
    // candidate sets would recall ~31/500 ≈ 6% of true top-3 neighbors
    // (IVF probes 2 of 8 k-means cells, ~125 candidates, chance ≈ 25%).
    // The fixture's embeddings are near-random (weak cluster structure), so
    // absolute recall is modest — the test asserts the sketches beat chance
    // by ≥2x, i.e. they genuinely group similar vectors. Deterministic:
    // fixed fixture, hash-seeded sketches.
    assert(recall(lsh) > 0.10, s"lsh recall ${recall(lsh)}")
    assert(recall(ivf) > 0.12, s"ivf recall ${recall(ivf)}")
  }

  test("all-pairs baselines fail fast past the broadcast size gate") {
    val vecs = df(
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))),
      Row(1L, Seq(1.0f, 0.0f)), Row(2L, Seq(0.9f, 0.1f)),
      Row(3L, Seq(0.0f, 1.0f)), Row(4L, Seq(-1.0f, 0.0f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.knnBruteForce(vecs, vecs, "vec_id", "embedding", 2,
        maxCorpusRows = 3)
    }
    assert(e.getMessage.contains("annLsh"))
    // and under the bound the gate is silent
    Similarity.knnBruteForce(vecs, vecs, "vec_id", "embedding", 2,
      maxCorpusRows = 4).count()
  }

  test("ANN recall@3 vs exact KNN stays above the pinned floor (sf0.01)") {
    // pinned params on the sf0.01 fixture (5000 vectors): regressions in
    // the sketch math or the candidate plumbing show up as recall drops.
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(e, e, "vec_id", "embedding", 3))
    val lsh = pairs(Similarity.annLsh(e, "vec_id", "embedding", 3,
      SketchHash.XxHash64, nBits = 4))
    val ivf = pairs(Similarity.annIvf(e, "vec_id", "embedding", 3))
    def recall(ann: Set[(Long, Long)]) =
      ann.intersect(exact).size.toDouble / exact.size
    info(f"lsh recall@3 = ${recall(lsh)}%.4f, ivf recall@3 = ${recall(ivf)}%.4f")
    // measured 0.156 / 0.497 on the pinned fixture+params (random-candidate
    // baseline ≈ 0.06 for lsh); floors sit under run-to-run noise but far
    // above chance, so a broken sketch cannot sneak through
    assert(recall(lsh) >= 0.12, s"lsh recall ${recall(lsh)}")
    assert(recall(ivf) >= 0.15, s"ivf recall ${recall(ivf)}")
  }

  test("ANN recall floors at BENCH scale (sf0.1, registry params): ivf/lsh/pq + banded near-dup") {
    // The rows-only ANN surfaces (q_ann_lsh/pq, q_embed_neardup_lsh) get
    // their quality signal from recall vs the exact baseline, and q_ann_ivf
    // is tracked beside them; the sf0.01 floor test above pins params, this one
    // pins the BENCH scale (sf0.1, 2000 vectors) with the registry's
    // exact parameters, so the number the bench times is the number whose
    // quality is tracked (round-8 verdict #4).
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.1", "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnBruteForce(e, e, "vec_id", "embedding", 3))
    // registry defaults: annLsh nBits=8, annIvf nCells=8 nProbe=2 (VectorQueries)
    val lsh = pairs(Similarity.annLsh(e, "vec_id", "embedding", 3,
      SketchHash.XxHash64))
    val ivf = pairs(Similarity.annIvf(e, "vec_id", "embedding", 3))
    // q_ann_pq's fit config: m=4, k=8, iters=2 (fittedPq)
    val pq = pairs(graft.operators.Pq.annPq(e, e, "vec_id", "embedding",
      graft.operators.Pq.fit(e, "vec_id", "embedding", m = 4, k = 8, iters = 2),
      k = 3))
    def recall(ann: Set[(Long, Long)]) =
      ann.intersect(exact).size.toDouble / exact.size
    info(f"sf0.1 recall@3: lsh=${recall(lsh)}%.4f ivf=${recall(ivf)}%.4f " +
      f"pq=${recall(pq)}%.4f (random-candidate chance ~ k/n = 0.0015)")
    // measured 0.0223 / 0.4918 / 0.0270 on the pinned fixture+params
    // (lsh's 256 buckets over 2000 near-random vectors yield ~8
    // candidates/query, so its absolute recall is small but still 15x
    // chance; ivf probes 2 of 8 k-means cells, ~500 candidates). Floors
    // sit under measurement — above them a broken sketch cannot hide,
    // below them fixture noise cannot flake.
    assert(recall(lsh) >= 0.015, s"lsh recall ${recall(lsh)}")
    assert(recall(ivf) >= 0.13, s"ivf recall ${recall(ivf)}")
    assert(recall(pq) >= 0.018, s"pq recall ${recall(pq)}")
    // q_embed_neardup_lsh's banded recall vs the exact threshold pairs
    // (same scoring as the operator: normalize + dot, rounded, >= 0.4)
    graft.plans.GraftFunctions.register(spark)
    import graft.functions.VectorFunctions._
    val v = e.select(col("vec_id"), normalize(col("embedding")).as("v"))
    val exactPairs = v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(broadcast(v.select(col("vec_id").as("id_b"), col("v").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("graft_dot(va, vb)"), 4).as("sim4"))
      .filter(col("sim4") >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding", 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded.subsetOf(exactPairs), "verify step must kill false positives")
    val bandedRecall = banded.size.toDouble / exactPairs.size
    info(f"sf0.1 banded near-dup recall = $bandedRecall%.4f " +
      s"(${banded.size}/${exactPairs.size})")
    // measured 0.9359 (861/920) with the registry's 15 tables; floor
    // well under, yet far above the ~0.16 single-table compounding base
    assert(bandedRecall >= 0.6, s"banded recall $bandedRecall")
  }

  test("embeddingNearDupPairs: subset of exact pairs, recall compounds with tables") {
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    import graft.functions.VectorFunctions._
    graft.plans.GraftFunctions.register(spark)
    // exact threshold pairs, scored the same way as the operator
    // (normalize + dot, rounded) so the subset assertion has no
    // rounding-boundary noise
    val v = e.select(col("vec_id"), normalize(col("embedding")).as("v"))
    val exact = v.select(col("vec_id").as("id_a"), col("v").as("va"))
      .crossJoin(broadcast(v.select(col("vec_id").as("id_b"), col("v").as("vb"))))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(expr("graft_dot(va, vb)"), 4).as("sim4"))
      .filter(col("sim4") >= 0.4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def approx(tables: Int): Set[(Long, Long)] =
      Similarity.embeddingNearDupPairs(e, "vec_id", "embedding", 0.4,
        nBits = 4, nTables = tables)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = approx(1)
    val fifteen = approx(15)
    // verify step guarantees no false positives...
    assert(fifteen.subsetOf(exact))
    // ...tables strictly add candidates (table 0 = the single-table sketch)
    assert(one.subsetOf(fifteen))
    // ...and recall compounds: theory gives ≈0.16/table at s=0.4, ≈0.92
    // for 15 tables; floor at 0.6 to absorb fixture noise
    info(s"exact=${exact.size} one=${one.size} fifteen=${fifteen.size}")
    assert(fifteen.size.toDouble / exact.size >= 0.6,
      s"recall ${fifteen.size.toDouble / exact.size}")
  }

  test("embeddingNearDupPairs nulls degenerate vectors out of every band") {
    // zero-norm vectors would otherwise all sketch to the all-ones bucket
    // (proj >= 0 holds for proj == 0) and, at threshold 0, their mutual
    // dot of 0.0 would SURVIVE the verify step — so this is observable in
    // the output, not just in candidate counts
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType))))
    val zeros = (1L to 3L).map(i => Row(i, Seq.fill(4)(0.0)))
    val empty = Row(4L, Seq.empty[Double])
    val nul = Row(5L, null)
    val near = Seq(Row(10L, Seq(1.0, 0.0, 0.0, 0.0)),
      Row(11L, Seq(0.99, 0.1, 0.0, 0.0)))
    val d = df(schema, (zeros ++ Seq(empty, nul) ++ near): _*)
    val got = Similarity
      .embeddingNearDupPairs(d, "vec_id", "embedding", 0.0,
        nBits = 2, nTables = 4, maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 11L)),
      s"degenerate vectors leaked into pairs: $got")
  }

  test("codegen HyperplaneSketch matches the HOF lshBucket reference bit-for-bit") {
    val e = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val both = Similarity.sketched(e, "vec_id", "embedding", nBits = 8)
      .withColumn("ref_bucket",
        graft.functions.VectorFunctions.lshBucket(col("embedding"), 8,
          SketchHash.XxHash64))
    assert(both.filter(col("bucket") =!= col("ref_bucket")).count() === 0L)
    // and at a different width, covering the bit-packing path
    val both17 = Similarity.sketched(e, "vec_id", "embedding", nBits = 17)
      .withColumn("ref_bucket",
        graft.functions.VectorFunctions.lshBucket(col("embedding"), 17,
          SketchHash.XxHash64))
    assert(both17.filter(col("bucket") =!= col("ref_bucket")).count() === 0L)
    // degenerate inputs: empty vectors and null elements zero every bit in
    // the HOF form (null-propagating fold) — codegen must match
    val weird = df(
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))),
      Row(1L, Seq.empty[java.lang.Double]),
      Row(2L, Seq[java.lang.Double](1.0, null, 3.0)),
      Row(3L, Seq[java.lang.Double](1.0, 2.0)))
    val wb = Similarity.sketched(weird, "vec_id", "embedding")
      .withColumn("ref_bucket",
        graft.functions.VectorFunctions.lshBucket(col("embedding"), 8,
          SketchHash.XxHash64))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(r.fieldIndex("bucket")),
          r.getLong(r.fieldIndex("ref_bucket")))).toMap
    assert(wb(1L)._1 === 0L && wb(2L)._1 === 0L)
    assert(wb.values.forall { case (b, ref) => b === ref })
  }

  test("winnowFingerprints: overlap guarantee, density, short-doc and empty edges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis => TA}
    val k = 5; val w = 4
    // a shared run of k + w - 1 = 8 tokens MUST yield a shared fingerprint
    val shared = (1 to 8).map(i => s"common$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon $shared zeta eta"),
      (2L, s"$shared completely different tail words here now"),
      (3L, "tiny doc"),                                   // < k tokens
      (4L, "exactly five tokens right here"),             // one gram, one window
      (5L, ""),                                           // empty
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"),
      Dedup.winnowFingerprints(TA.tokens(col("text")), k, w).as("fps"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    // guarantee: docs 1 and 2 share at least one fingerprint
    assert(fps(1L).toSet.intersect(fps(2L).toSet).nonEmpty)
    // sorted distinct
    assert(fps(1L) === fps(1L).distinct.sorted)
    // density: selected fingerprints are a strict subset of all grams
    val nGrams1 = fps(1L) // doc 1 has 15 tokens -> 11 grams, 8 windows
    assert(nGrams1.size <= 8 && nGrams1.nonEmpty)
    // short docs: one window over the whole stream = the min hash
    assert(fps(4L).size === 1)
    assert(fps(3L) === Seq.empty && fps(5L) === Seq.empty)
    assert(fps(6L) === Seq.empty)
    // partitioning invariance: same result from a repartitioned frame
    val fps2 = docs.repartition(3).select(col("doc_id"),
      Dedup.winnowFingerprints(TA.tokens(col("text")), k, w).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert((1L to 6L).forall(id => fps(id) === fps2(id)))
    // near-copies (doc 1 plus a per-copy salt token, shifted ids): the
    // overlap screen pairs every copy with every other
    val copies = (0 until 3).map(c => docs.filter(col("doc_id") === 1L)
      .select((col("doc_id") + 100L * c).as("doc_id"),
        concat(col("text"), lit(s" copysalt$c")).as("text")))
      .reduce(_.union(_))
    val pairs = Dedup.winnowOverlapPairs(copies, "text", "doc_id")
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 101L), (1L, 201L), (101L, 201L)))
  }

  test("ngramF1: harmonic balance of the containment directions, edge cases") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    def m(a: Seq[String], b: Seq[String]): (Double, Double, Double) = {
      val r = Seq((a, b)).toDF("a", "b").select(
        Dedup.ngramF1(col("a"), col("b")),
        round(Dedup.containment(col("a"), col("b")), 4),
        round(Dedup.containment(col("b"), col("a")), 4)).head()
      (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    }
    // identical sets: everything 1
    assert(m(Seq("x", "y"), Seq("y", "x")) === ((1.0, 1.0, 1.0)))
    // strict subset: F1 strictly between the two containments
    val (f1, cab, cba) = m(Seq("x", "y"), Seq("x", "y", "z", "w"))
    assert(cab === 1.0 && cba === 0.5)
    assert(f1 > cba && f1 < cab && f1 === 0.6667)
    // disjoint: 0; duplicates count once (set semantics)
    assert(m(Seq("x"), Seq("y"))._1 === 0.0)
    assert(m(Seq("x", "x", "y"), Seq("x"))._1 === 0.6667)
    // both empty: defined 0
    assert(m(Seq.empty, Seq.empty)._1 === 0.0)
  }

  test("winnow kernel matches the HOF reference on edges and fuzz rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.{Dedup, TextAnalysis => TA}
    val k = 5; val w = 4
    // HOF reference, built exactly as winnowFingerprints' no-session form
    def hof(toks: org.apache.spark.sql.Column) = {
      val h = transform(TA.shingles(toks, k),
        g => conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
      val nw = size(h) - (w - 1)
      val sel = when(coalesce(size(h), lit(0)) === 0,
          array().cast("array<bigint>"))
        .when(nw <= 0, array(array_min(h)))
        .otherwise(transform(sequence(lit(1), nw),
          i => array_min(slice(h, i, lit(w)))))
      array_sort(array_distinct(sel))
    }
    val docs = (Seq(
      "",                                        // no tokens
      "a b c d",                                 // < k tokens
      "a b c d e",                               // exactly one gram
      "a b c d e f g",                           // 3 grams < w
      "a b c d e f g h",                         // exactly w grams
      (1 to 40).map(i => s"t${i % 7}").mkString(" "), // repeats -> dup mins
      null.asInstanceOf[String]
    ) ++ (1 to 50).map(i =>
      (1 to 30).map(j => s"w${(i * 31 + j * 7) % 13}").mkString(" ")))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val got = docs.select(col("id"),
      Dedup.winnowFingerprints(TA.tokens(col("text")), k, w).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val exp = docs.select(col("id"), hof(TA.tokens(col("text"))).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got.keys.foreach(id => assert(got(id) === exp(id), s"doc $id"))
  }

  test("clusterDisjointSplit: whole clusters share a side, singletons split by id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Sampling
    val docs = (1L to 200L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // clusters: {1..5} -> 1, {10..12} -> 10; everything else singleton
    val clusters = ((1L to 5L).map(i => (i, 1L)) ++
      (10L to 12L).map(i => (i, 10L))).toDF("doc_id", "component")
    val (tr, te) = Sampling.clusterDisjointSplit(docs, "doc_id", clusters, 0.3)
    val side = tr.select(col("doc_id")).collect().map(_.getLong(0) -> "tr")
      .toMap ++ te.select(col("doc_id")).collect().map(_.getLong(0) -> "te")
    // complete and disjoint
    assert(side.size === 200)
    // every cluster member shares its cluster's side
    assert((1L to 5L).map(side).toSet.size === 1)
    assert((10L to 12L).map(side).toSet.size === 1)
    // both sides populated at 0.3 over 194 groups
    assert(side.values.toSet === Set("tr", "te"))
    // singleton assignment matches groupDisjointSplit on the id itself
    val lone = docs.filter(col("doc_id") > 12L)
      .withColumn("__g", col("doc_id").cast("string"))
    val (ltr, _) = Sampling.groupDisjointSplit(lone, "__g", 0.3)
    val loneTrain = ltr.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert((13L to 200L).forall(i => (side(i) == "tr") === loneTrain(i)))
    // deterministic: a second run reproduces the assignment exactly
    val (tr2, _) = Sampling.clusterDisjointSplit(docs, "doc_id", clusters, 0.3)
    assert(tr2.select(col("doc_id")).collect().map(_.getLong(0)).toSet ===
      tr.select(col("doc_id")).collect().map(_.getLong(0)).toSet)
  }

  test("semanticDedup: degenerate vectors join no cell and pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val vecs = Seq(
      (1L, Seq(0.9, 0.1)), (2L, Seq(0.9, 0.11)),   // near-parallel pair
      (3L, Seq(-0.5, -0.5)),
      (10L, Seq(0.0, 0.0)),                         // zero vector
      (11L, Seq(0.0, 0.0)),                         // another zero
      (12L, null.asInstanceOf[Seq[Double]]),        // null vector
      (13L, Seq.empty[Double])                      // empty vector
    ).toDF("vec_id", "embedding")
    val cells = Similarity.semanticDedupCells(vecs, "embedding", "vec_id",
      nBits = 4).collect()
    // no degenerate id ever appears as a keeper or a member
    val keepers = cells.map(_.getAs[Long]("keeper")).toSet
    assert(keepers.intersect(Set(10L, 11L, 12L, 13L)).isEmpty)
    assert(cells.map(_.getAs[Long]("n_members")).sum === 3L)
    // the drop form keeps every degenerate row AND the per-cell keepers
    val kept = Similarity.semanticDedup(vecs, "embedding", "vec_id",
      nBits = 4).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(Set(10L, 11L, 12L, 13L).subsetOf(kept))
    assert(keepers.subsetOf(kept))
    assert(kept.size === keepers.size + 4)
  }

  test("string ids fail fast in the transitive-cluster paths (no silent no-op)") {
    import spark.implicits._
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      graft.operators.ConnectedComponents.run(pairs, "id_a", "id_b")
    }
    assert(e.getMessage.contains("integral"))
    val docs = Seq(("a", 0.5)).toDF("doc_id", "q")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.Dedup.canonicalPerCluster(
        Seq((1L, 1L)).toDF("id", "component"), docs, "doc_id", "q")
    }
    assert(e2.getMessage.contains("integral"))
  }

  test("clusterDisjointSplit accepts the CC frame's literal 'id' column") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1L to 50L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // exactly what Dedup.nearDupClusters emits: columns ("id", "component")
    val ccShaped = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("id", "component")
    val (tr, te) = graft.operators.Sampling.clusterDisjointSplit(
      docs, "doc_id", ccShaped, 0.3)
    val side = tr.select(col("doc_id")).collect().map(_.getLong(0) -> "tr")
      .toMap ++ te.select(col("doc_id")).collect().map(_.getLong(0) -> "te")
    assert(side.size === 50)
    assert(Seq(1L, 2L, 3L).map(side).toSet.size === 1)
  }

  test("equiDepthApprox: ~uniform depths at bins=10, exact ranks at bins>100") {
    import spark.implicits._
    import graft.operators.Sampling
    val df = (1L to 1000L).map(i => (i, i * 3)).toDF("doc_id", "v")
    val out = Sampling.equiDepthApprox(df, "v", "doc_id",
      bins = 10, sampleSize = 200)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet.subsetOf((1L to 10L).toSet))
    // sampled thresholds: depths approximate n/bins (wobble bounded)
    assert(out.values.sum === 1000L)
    assert(out.values.forall(n => n > 30 && n < 250), out.toString)
    // bins > 100: the ceil-rank cuts stay distinct (an integer-percent
    // intermediate would collapse the first ~bins/100 boundaries to the
    // sample minimum and leave bin 1 empty of meaning)
    val fine = Sampling.equiDepthApprox(df, "v", "doc_id",
      bins = 200, sampleSize = 1000)
      .collect().map(r => r.getLong(0)).toSet
    assert(fine.size >= 190, s"only ${fine.size} of 200 fine bins populated")
  }

  test("tokenBudgetMixture: budget crossed by at most one doc, absent strata dropped") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = ((1L to 40L).map(i => (i, "a", 100L)) ++
      (41L to 60L).map(i => (i, "b", 100L)) ++
      (61L to 70L).map(i => (i, "c", 100L)))
      .toDF("doc_id", "stratum", "n_toks")
    val out = Sampling.tokenBudgetMixture(docs, "stratum", "doc_id",
      "n_toks", Map("a" -> 1000L, "b" -> 250L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val byStratum = out.groupBy(_._2)
    // a: 1000-token budget over 100-token docs -> exactly 10 kept
    assert(byStratum("a").length === 10)
    // b: 250 tokens -> 3 kept (the third CROSSES the budget: before=200)
    assert(byStratum("b").length === 3)
    assert(byStratum("b").map(_._3).sorted.toSeq === Seq(0L, 100L, 200L))
    // c has no budget: dropped entirely
    assert(!byStratum.contains("c"))
    // deterministic: same input, same selection
    val again = Sampling.tokenBudgetMixture(docs, "stratum", "doc_id",
      "n_toks", Map("a" -> 1000L, "b" -> 250L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }

  test("quotaMixture: sqrt flattening upweights small strata, " +
      "quotas capped and deterministic") {
    import spark.implicits._
    import graft.operators.Sampling
    // skewed strata: a=160, b=40, c=10, plus a null stratum (excluded)
    val docs = ((1L to 160L).map(i => (i, Some("a"))) ++
      (161L to 200L).map(i => (i, Some("b"))) ++
      (201L to 210L).map(i => (i, Some("c"))) ++
      Seq((211L, Option.empty[String])))
      .toDF("doc_id", "stratum")
    val out = Sampling.quotaMixture(docs, "stratum", "doc_id", 100L)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val byS = out.groupBy(_._2)
    // sum sqrt = 12.649111 + 6.324555 + 3.162278 = 22.135944 (rounded 6)
    // quotas: floor(100*12.649111/22.135944)=57, b=28, c=14 -> c capped 10
    assert(byS("a").length === 57 && byS("b").length === 28)
    assert(byS("c").length === 10, "small stratum capped at its count")
    // flattening: c's kept share (10%) > its raw share (10/210 = 4.8%);
    // a's kept share (57%) < its raw share (76%)
    assert(!byS.contains(null) && out.forall(_._2 != null))
    // every kept rank within its quota, ranks contiguous from 1
    for ((s0, rows) <- byS) {
      val rks = rows.map(_._3).sorted.toSeq
      assert(rks === (1L to rks.length).toSeq, s"ranks not contiguous in $s0")
      assert(rows.forall(r => r._3 <= r._4))
    }
    val again = Sampling
      .quotaMixture(docs, "stratum", "doc_id", 100L)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.sortBy(_._1).toSeq === out.sortBy(_._1).toSeq)
  }
}

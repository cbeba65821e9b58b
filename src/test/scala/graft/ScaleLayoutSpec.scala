package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewJoin

/** Physical-layout scale techniques: bucketed co-located joins (no
  * exchange) and salt-mitigated skew joins — verified against the actual
  * executed plans, not just results.
  */
class ScaleLayoutSpec extends SparkSpec {

  test("bucketed tables join without a shuffle exchange") {
    import spark.implicits._
    // (warehouse dir is a static conf, set in SparkSpec's builder)
    // disable broadcast so only bucketing can remove the exchange
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      (1L to 1000L).map(i => (i, s"c$i")).toDF("custkey", "name")
        .write.bucketBy(8, "custkey").sortBy("custkey")
        .mode("overwrite").saveAsTable("b_customer")
      (1L to 5000L).map(i => (i % 1000 + 1, i * 10.0)).toDF("custkey", "total")
        .write.bucketBy(8, "custkey").sortBy("custkey")
        .mode("overwrite").saveAsTable("b_orders")

      val joined = spark.table("b_customer").join(spark.table("b_orders"), "custkey")
      assert(joined.count() === 5000L)
      val physical = joined.queryExecution.executedPlan.toString()
      // co-located bucketed scan ⇒ sort-merge join with NO Exchange
      assert(!physical.contains("Exchange"),
        s"bucketed join still shuffles:\n$physical")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTable("b_customer")
      dropTable("b_orders")
    }
  }

  test("incremental dedup: history never reshuffles, increments dedupe against it") {
    import graft.operators.{Dedup, TextAnalysis}
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    dropTable("inc_fp_test")
    try {
      // batch 1: doc 3 normalizes to doc 1's fingerprint → keeper 1
      val b1 = Seq((1L, "alpha text"), (2L, "beta text"),
        (3L, " Alpha   TEXT ")).toDF("doc_id", "text")
      val out1 = Dedup.incrementalExact(b1, "text", "doc_id",
        "inc_fp_test", buckets = 4)
      assert(out1.select("doc_id").as[Long].collect().sorted.toSeq ===
        Seq(1L, 2L))
      // batch 2: beta is already indexed; gamma keeps its min id
      val b2 = Seq((10L, "beta text"), (11L, "gamma text"),
        (12L, "gamma text")).toDF("doc_id", "text")
      val out2 = Dedup.incrementalExact(b2, "text", "doc_id",
        "inc_fp_test", buckets = 4)
      assert(out2.select("doc_id").as[Long].collect().toSeq === Seq(11L))
      // batch 3 would see gamma too
      val b3 = Seq((20L, "gamma text"), (21L, "delta text"))
        .toDF("doc_id", "text")
      val out3 = Dedup.incrementalExact(b3, "text", "doc_id",
        "inc_fp_test", buckets = 4)
      assert(out3.select("doc_id").as[Long].collect().toSeq === Seq(21L))

      // LAYOUT: the anti-join against the bucketed index shuffles ONLY
      // the increment side — exactly one hash exchange in the plan, and
      // the index scan reports its buckets
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe =
        try {
          b2.withColumn("__fp", TextAnalysis.fingerprint(col("text")))
            .join(spark.table("inc_fp_test").select(col("fp").as("__fp")),
              Seq("__fp"), "left_anti")
            .queryExecution.executedPlan.toString
        } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(probe.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning") === 1, probe)
      assert(probe.contains("Bucketed: true"), probe)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTable("inc_fp_test")
    }
  }

  test("incremental near-dup: signature index never reshuffles for candidates") {
    import graft.operators.Dedup
    import spark.implicits._
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    dropTable("inc_nd_test")
    try {
      val doc = (s: Int) => (0 until 40).map(i => s"v${s}w$i").mkString(" ")
      val b1 = Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text")
      Dedup.incrementalNearDupMd5(b1, "text", "doc_id", "inc_nd_test",
        buckets = 4)
      // LAYOUT: the candidate join AND the per-key cap aggregation are
      // both satisfied by the key-bucketed index scan — the only hash
      // exchange in the probe plan moves the batch's band rows
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val probe =
        try {
          val idx = spark.table("inc_nd_test")
          val okKeys = idx.groupBy(col("key"))
            .agg(count(lit(1)).as("kn")).filter(col("kn") <= 1000)
            .select(col("key"))
          val batch = Seq((10L, doc(1) + " tail99")).toDF("doc_id", "text")
          val bands = batch
            .withColumn("__sh", graft.operators.TextAnalysis.shingles(
              graft.operators.TextAnalysis.tokens(col("text"))))
            .select(col("doc_id"),
              Dedup.minhashSignature(col("__sh"), 8,
                graft.operators.SketchHash.Md5).as("bsig"))
            .withColumn("key",
              explode(Dedup.lshBandKeys(col("bsig"), 4, 2,
                graft.operators.SketchHash.Md5)))
          bands.join(idx.join(okKeys, Seq("key")), Seq("key"))
            .queryExecution.executedPlan.toString
        } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
      assert(probe.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning") === 1, probe)
      assert(probe.contains("Bucketed: true"), probe)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      dropTable("inc_nd_test")
    }
  }

  test("z-order: interleave bit math, clamping, and 2-D locality") {
    import graft.operators.ZOrder
    import spark.implicits._
    def z(x: Long, y: Long): Long =
      Seq((x, y)).toDF("x", "y")
        .select(ZOrder.interleave(col("x"), col("y"))).head().getLong(0)
    // bit i of x → position 2i, bit i of y → 2i+1
    assert(z(0, 0) === 0L)
    assert(z(1, 0) === 1L && z(0, 1) === 2L && z(1, 1) === 3L)
    assert(z(3, 1) === 7L)         // x=0b11, y=0b01 → 0b0111
    assert(z(0xffffL, 0xffffL) === 0xffffffffL)
    // quantize clamps out-of-range instead of wrapping
    val q = Seq((-5.0, 3000.0)).toDF("a", "b").select(
      ZOrder.quantize(col("a"), 0.0, 2000.0),
      ZOrder.quantize(col("b"), 0.0, 2000.0)).head()
    assert(q.getLong(0) === 0L && q.getLong(1) === 65535L)
    // locality: points close in BOTH dims give closer z than points
    // close in one dim but far in the other
    val near = math.abs(z(100, 100) - z(101, 101))
    val far = math.abs(z(100, 100) - z(101, 60000))
    assert(near < far)
    // zOrderBy round-trips rows, sorts by the interleave within each
    // partition, and keeps partition ranges disjoint
    val df = (0L until 256L).map(i => (i, i * 7 % 256)).toDF("x", "y")
    val ordered = ZOrder.zOrderBy(df, "x", 0, 256, "y", 0, 256)
    val zCol = ZOrder.zValue(col("x"), 0, 256, col("y"), 0, 256)
    val parts = ordered.select(zCol.as("z"))
      .withColumn("p", org.apache.spark.sql.functions.spark_partition_id())
      .collect().map(r => (r.getInt(1), r.getLong(0)))
    assert(parts.length === 256)
    parts.groupBy(_._1).foreach { case (p, rows) =>
      val zs = rows.map(_._2)
      assert(zs.sameElements(zs.sorted), s"partition $p not z-sorted")
    }
    val ranges = parts.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => (rows.map(_._2).min, rows.map(_._2).max) }
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) => assert(hi <= lo, "overlapping ranges")
      case _ =>
    }
    // nulls propagate out of quantize instead of landing in the top cell
    val qn = Seq[Option[Double]](None).toDF("a")
      .select(ZOrder.quantize(col("a"), 0.0, 10.0)).head()
    assert(qn.isNullAt(0))
    // NaN routes like null: the non-ANSI NaN->long cast is 0, which would
    // silently pile every NaN row into the origin cell
    val qnan = Seq(Double.NaN).toDF("a")
      .select(ZOrder.quantize(col("a"), 0.0, 10.0)).head()
    assert(qnan.isNullAt(0))
  }

  test("repartitionByRange yields disjoint ordered ranges (sorted-layout writes)") {
    import spark.implicits._
    // range partitioning is the layout tool for sorted output files whose
    // min/max footers enable range-pruned reads downstream
    val df = (1L to 10000L).map(i => (i * 2654435761L % 100000L, i))
      .toDF("key", "payload")
    val ranged = df.repartitionByRange(8, col("key"))
    val bounds = ranged.mapPartitions { it =>
      val keys = it.map(_.getLong(0)).toSeq
      if (keys.isEmpty) Iterator.empty
      else Iterator((keys.min, keys.max, keys.size))
    }.collect().sortBy(_._1)
    assert(bounds.map(_._3).sum === 10000)
    // partitions cover disjoint, ascending key ranges
    bounds.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) => assert(hi1 <= lo2)
      case _ =>
    }
    // and sizes are roughly balanced (range sampling, not hash luck)
    assert(bounds.map(_._3).max < 3 * (10000 / bounds.length))
  }

  test("HLL approx distinct lands within 5% of the exact count") {
    val li = graft.sources.Tables.table(spark, "/root/testdata/sf0.01", "lineitem")
    val exact = li.select(countDistinct(col("l_orderkey"))).head().getLong(0)
    val approx = li.select(approx_count_distinct(col("l_orderkey")))
      .head().getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("salted join equals the plain join result under synthetic skew") {
    import spark.implicits._
    // 90% of fact rows share key 1
    val fact = ((1 to 900).map(_ => 1L) ++ (1 to 100).map(_.toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("key", "row_id")
    val dim = (1L to 100L).map(i => (i, s"d$i")).toDF("key", "label")

    val plain = fact.join(dim, "key")
      .select("row_id", "label").collect().toSet
    val salted = SkewJoin.saltedInnerJoin(fact, dim, "key", buckets = 8,
      saltCols = Seq(col("row_id")))
      .select("row_id", "label").collect().toSet
    assert(salted === plain)
    assert(salted.size === 1000)
    // the unsalted alternative: with broadcast off and the split
    // thresholds scaled to this fixture, AQE splits the hot key's
    // partition and the result is unchanged
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val split = fact.join(dim, "key").select("row_id", "label")
      assert(split.collect().toSet === plain)
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case q: QueryStageExec => nodes(q.plan)
        case other => other.children.flatMap(nodes)
      })
      val nSkewed = nodes(split.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numSkewedPartitions").map(_.value)).sum
      assert(nSkewed >= 1L, "AQE never split the skewed partition")
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}

package perfbench

import java.io.{ByteArrayOutputStream, File, OutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.HostLoad
import graft.operators.{Curation, Dedup}
import graft.processes.{DeltaCurate, DeltaCurateMain, MonthlyBatchMain}
import graft.sources.{AvroSource, Catalog, Tables}

/** The benchmark's JVM side. One process runs one mode:
  *
  *  - `setup`: set up (session + `GraftFunctions.register`), record the
  *    set-up time and stop: one more set-up sample for the run's median;
  *  - `gen-monthly`: write the monthly master dataset for one seed with
  *    `AvroDirect`, plus its expected outputs;
  *  - `run`: set up, run one workload closed-loop (each operation starts
  *    when the previous one returns), check its outputs, and write a JSON
  *    result file.
  *
  * Arguments are `--key value` pairs; see `perfbench/run.py`, which
  * launches every process and turns the result file into metrics.
  */
object Main {

  private def now(): Long = System.currentTimeMillis()

  final case class Op(name: String, startMs: Long, endMs: Long,
      var ok: Boolean, var detail: String = "") {
    def sec: Double = (endMs - startMs) / 1000.0
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchMs = a("launch-ms").toLong
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    graft.plans.GraftFunctions.register(spark)
    val setupS = (now() - launchMs) / 1000.0
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoint")
    val (result, traced) = a("mode") match {
      case "setup" => (Map[String, Any]("setup_s" -> setupS), None)
      case "gen-monthly" =>
        MonthlyGen.generate(spark, a)
        (Map[String, Any]("setup_s" -> setupS), None)
      case "run" => run(spark, a, setupS)
    }
    // stopping drains the listener bus, so the trace has every event
    spark.stop()
    // how much of setup_s passed before the JVM itself started: the
    // launcher's share, as opposed to class loading and session set-up
    val startLagS = (ManagementFactory.getRuntimeMXBean.getStartTime - launchMs) / 1000.0
    val finished = traced.fold(result) { case (t, spans) =>
      result + ("trace" -> t.metrics(spans)) } + ("start_lag_s" -> startLagS)
    Files.writeString(Paths.get(a("result")), Json.render(finished))
  }

  /** Lines the program prints, time-stamped as they are printed. The
    * monthly chain prints one line at the end of each step, which gives
    * the step boundaries without touching the program.
    */
  final class Lines(echo: PrintStream) extends OutputStream {
    val seen = mutable.ArrayBuffer.empty[(Long, String)]
    private val buf = new ByteArrayOutputStream()
    override def write(b: Int): Unit = synchronized {
      echo.write(b)
      if (b == '\n') { seen += now() -> buf.toString("UTF-8"); buf.reset() }
      else buf.write(b)
    }
  }

  private def capture[T](lines: Lines)(body: => T): T =
    Console.withOut(new PrintStream(lines, true))(body)

  private def run(spark: SparkSession, a: Map[String, String],
      setupS: Double): (Map[String, Any], Option[(Trace, Seq[Span])]) = {
    val traced = a("trace") == "1"
    val workload = a("workload")
    val trace = new Trace(if (workload == "monthly_batch") Some("/parquet/") else None)
    if (traced) trace.install(spark)
    // host evidence, taken outside the timed window: a single-thread speed
    // stamp catches a slow host phase that other processes' CPU use misses
    val speed = HostLoad.hostSpeedMops()
    val la0 = HostLoad.loadavg()
    val w = workload match {
      case "monthly_batch" => new Monthly(spark, a)
      case "delta_curate" => new Delta(spark, a)
      case "registry_sweep" => new Registry(spark, a)
    }
    // the whole workload, timed apart from its operations, so that the
    // operations' spans can be checked against it; the CPU this JVM used
    // in the same window (all its threads: tasks, driver, JIT, GC)
    val (jit0, gc0) = jitAndGcMs()
    val j0 = HostLoad.cpuJiffies()
    val t0 = now()
    val ops = w.timed()
    val wallS = (now() - t0) / 1000.0
    val j1 = HostLoad.cpuJiffies()
    val (jit1, gc1) = jitAndGcMs()
    val cpuS = (j1._2 - j0._2) / 100.0
    val ext = HostLoad.externalCores(j0, j1, wallS)
    val la1 = HostLoad.loadavg()
    val rssMb = peakRssMb()
    val written = w.outputs.map(p => dirBytes(new File(p))).sum
    val probes = if (traced) w.probes() else Nil
    a.get("corrupt").foreach(w.corrupt)
    w.check(ops)
    (Map(
      "setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS, "peak_rss_mb" -> rssMb,
      "jit_s" -> (jit1 - jit0) / 1000.0, "gc_s" -> (gc1 - gc0) / 1000.0,
      "written_bytes" -> written,
      "host" -> Map("ext_cores" -> ext, "load_before" -> la0, "load_after" -> la1,
        "speed_mops" -> speed),
      "ops" -> ops.map(o => Map("name" -> o.name, "sec" -> o.sec, "ok" -> o.ok,
        "detail" -> o.detail)),
    ) ++ w.extra, if (traced) Some(trace -> (w.spans(ops) ++ probes)) else None)
  }

  /** Milliseconds this JVM has spent compiling (JIT) and collecting (GC)
    * so far: two parts of `cpu_s` that no Spark task reports.
    */
  def jitAndGcMs(): (Long, Long) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  /** Move a rewritten copy into place (used by the corruption hooks). */
  def replaceDir(df: DataFrame, path: String): Unit = {
    val tmp = path.stripSuffix("/") + "_corrupt"
    df.write.mode("overwrite").parquet(tmp)
    deleteDir(new File(path))
    Files.move(Paths.get(tmp), Paths.get(path))
  }

  def deleteDir(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }

  /** Order-insensitive digest of a frame: row count plus the sum of a
    * 64-bit hash of each row's JSON rendering.
    */
  def digest(df: DataFrame): String = {
    val r = df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("j"))
      .agg(count(lit(1)), sum(xxhash64(col("j")).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def idSetDigest(df: DataFrame, id: String): String =
    digest(df.select(col(id).cast("long").as(id)))

  /** One workload: its timed operations, the spans a traced run reports,
    * the directories it writes, and its output checks.
    */
  trait Workload {
    def timed(): Seq[Op]
    def spans(ops: Seq[Op]): Seq[Span] = ops.map(o => Span(o.name, o.startMs, o.endMs))
    def probes(): Seq[Span] = Nil
    def outputs: Seq[String]
    def corrupt(kind: String): Unit
    def check(ops: Seq[Op]): Unit
    def extra: Map[String, Any] = Map.empty
  }

  def fail(op: Op, what: String): Unit = {
    op.ok = false
    op.detail = (op.detail + " " + what).trim
  }

  def expectEq(op: Op, what: String, got: Any, want: Any): Unit =
    if (got != want) fail(op, s"$what: got $got, want $want")

  // ---------------------------------------------------------------------

  /** `monthly_batch`: MonthlyBatchMain over the generated master dataset. */
  final class Monthly(spark: SparkSession, a: Map[String, String]) extends Workload {
    private val master = s"${a("inputs")}/master"
    private val out = s"${a("work")}/out"
    private val expect = Json.parse(new String(
      Files.readAllBytes(Paths.get(s"${a("inputs")}/expect_monthly.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    private val steps = Seq(
      "sinks.parquet_dump" -> "Parquet saved to",
      "sinks.jsonl_dump" -> "JSONL saved to",
      "processes.mq_reports" -> "MQ reports:",
      "sinks.sitemap" -> "Sitemap:")
    def outputs: Seq[String] = Seq(out, s"${a("work")}/warehouse")

    def timed(): Seq[Op] = {
      val lines = new Lines(System.out)
      val t0 = now()
      val error = try { capture(lines) {
        MonthlyBatchMain.main(Array(master, out, "https://sitemaps.example/"))
      }; None } catch { case e: Throwable => Some(e.toString) }
      val tEnd = now()
      // step i ends at the line it prints; a step that never printed failed
      var from = t0
      steps.map { case (name, marker) =>
        lines.seen.find(_._2.startsWith(marker)) match {
          case Some((t, _)) => val op = Op(name, from, t, ok = true); from = t; op
          case None =>
            val op = Op(name, from, tEnd, ok = false,
              error.getOrElse("step printed no completion line"))
            from = tEnd; op
        }
      }
    }

    /** Isolated layer probes, run after the chain: the snapshot listing and
      * a bare Avro decode of the master dataset into a `noop` sink.
      */
    override def probes(): Seq[Span] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val c0 = now()
      val paths = Catalog.latestSnapshots(conf, master, "enrichment").values.toSeq.sorted
      Catalog.latestSnapshots(conf, master, "jsonl")
      val c1 = now()
      AvroSource.read(spark, paths).write.format("noop").mode("overwrite").save()
      Seq(Span("sources.catalog", c0, c1), Span("sources.avro_read", c1, now()))
    }

    private def exportPath: String =
      Files.walk(Paths.get(out, "parquet")).iterator().asScala
        .find(_.getFileName.toString == "all.parquet").get.toString

    def corrupt(kind: String): Unit = if (kind == "export_row") {
      val df = spark.read.parquet(exportPath)
      replaceDir(df.limit(df.count().toInt - 1), exportPath)
    }

    def check(ops: Seq[Op]): Unit = {
      val byName = ops.map(o => o.name -> o).toMap
      def guarded(step: String)(body: Op => Unit): Unit = {
        val op = byName(step)
        if (op.ok) try body(op) catch { case e: Throwable => fail(op, e.toString) }
      }
      val n = Json.long(expect("records"))
      guarded("sinks.parquet_dump") { op =>
        expectEq(op, "export digest", digest(spark.read.parquet(exportPath)),
          expect("export_digest"))
      }
      guarded("sinks.jsonl_dump") { op =>
        val root = Files.walk(Paths.get(out, "jsonl")).iterator().asScala
          .find(p => p.getFileName.toString == "all.jsonl").get.getParent
        // lines per `<name>.jsonl` dump dir, all of them in one job
        val lines = spark.read.text(s"$root/*.jsonl")
          .groupBy(regexp_extract(input_file_name(), "([^/]+)\\.jsonl/[^/]+$", 1))
          .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val counts = expect("provider_counts").asInstanceOf[Map[String, Any]]
        counts.foreach { case (p, c) =>
          expectEq(op, s"$p.jsonl lines", lines.getOrElse(p, 0L), c)
        }
        expectEq(op, "all.jsonl lines", lines.getOrElse("all", 0L), n)
      }
      guarded("processes.mq_reports") { op =>
        def rows(kind: String): Long = {
          val dir = Files.walk(Paths.get(out, "mq")).iterator().asScala
            .find(p => p.getFileName.toString == kind && Files.isDirectory(p)).get
          spark.read.option("header", "true").csv(dir.toString).count()
        }
        expectEq(op, "provider rows", rows("provider"), expect("providers"))
        expectEq(op, "contributor rows", rows("contributor"), expect("contributors"))
      }
      guarded("sinks.sitemap") { op =>
        val locs = spark.read.text(s"$out/sitemap/*.xml.gz")
          .select(explode(regexp_extract_all(col("value"),
            lit("<loc>(https://dp\\.la/item/[^<]*)</loc>"), lit(1))).as("url"))
        val r = locs.agg(count(lit(1)), countDistinct(col("url"))).head()
        expectEq(op, "sitemap item urls", r.getLong(0), n)
        expectEq(op, "distinct sitemap item urls", r.getLong(1), n)
      }
    }
  }

  // ---------------------------------------------------------------------

  /** `delta_curate`: DeltaCurateMain three times against persisted dedup
    * indexes: bootstrap from an empty snapshot, one increment, then a
    * no-change increment with `--compact=` against the new snapshot.
    */
  final class Delta(spark: SparkSession, a: Map[String, String]) extends Workload {
    private val in = a("inputs")
    private val work = a("work")
    private val gen = Json.parse(new String(
      Files.readAllBytes(Paths.get(s"$in/delta_counts.json")), "UTF-8"))
      .asInstanceOf[Map[String, Any]]
    private val calls = Seq(
      ("processes.delta_bootstrap", s"$in/empty.parquet", s"$in/base.parquet", Nil),
      ("processes.delta_increment", s"$in/base.parquet", s"$in/next.parquet", Nil),
      ("processes.delta_compact", s"$in/next.parquet", s"$in/next.parquet",
        Seq(s"--compact=$in/next.parquet")))
    private val printed = mutable.Map.empty[String, Map[String, Any]]
    private def outOf(name: String) = s"$work/out/${name.stripPrefix("processes.")}"
    def outputs: Seq[String] = Seq(s"$work/out", s"$work/warehouse")

    def timed(): Seq[Op] = calls.map { case (name, prev, next, flags) =>
      val lines = new Lines(System.out)
      val t0 = now()
      val error = try { capture(lines) {
        DeltaCurateMain.main((Seq(prev, next, outOf(name), "bench_fp", "bench_sig")
          ++ flags).toArray)
      }; None } catch { case e: Throwable => Some(e.toString) }
      val op = Op(name, t0, now(), ok = error.isEmpty, error.getOrElse(""))
      lines.seen.map(_._2).filter(_.startsWith("{")).lastOption
        .foreach(l => printed(name) = Json.parse(l).asInstanceOf[Map[String, Any]])
      op
    }

    def corrupt(kind: String): Unit = if (kind == "delta_survivor") {
      val path = outOf("processes.delta_increment")
      val df = spark.read.parquet(path)
      val victim = df.agg(min(col("doc_id"))).head().getLong(0)
      replaceDir(df.filter(col("doc_id") =!= victim), path)
    }

    /** Expected outputs by an independent path: the sequential public
      * composition Dedup.incrementalExact -> Dedup.incrementalNearDupMd5
      * (the same maxBucket semantics) over a delta computed with a plain
      * join, into separate index tables. Cached per seed.
      */
    private def expected(): Map[String, Any] = {
      val file = Paths.get(s"$in/expect_delta.json")
      if (Files.exists(file))
        return Json.parse(Files.readString(file)).asInstanceOf[Map[String, Any]]
      val cfg = Curation.Config()
      val base = spark.read.parquet(s"$in/base.parquet")
      val next = spark.read.parquet(s"$in/next.parquet")
      def curate(delta: DataFrame): (Long, DataFrame) = {
        val gated = Curation.qualityFilter(delta, "text", "lang", cfg)
        val exact = Dedup.incrementalExact(gated, "text", "doc_id", "expect_fp", 64)
        val near = Dedup.incrementalNearDupMd5(exact, "text", "doc_id", "expect_sig",
          k = 8, bands = 4, threshold = cfg.nearDupThreshold, maxBucket = 1000,
          buckets = 64)
        (gated.count(), near)
      }
      val (g0, s0) = curate(base)
      val d0 = idSetDigest(s0, "doc_id")
      val prev = base.select(col("doc_id"), col("text").as("__prev"))
      val delta = next.join(prev, Seq("doc_id"), "left")
        .filter(col("__prev").isNull || col("__prev") =!= col("text"))
        .drop("__prev")
      val (g1, s1) = curate(delta)
      val d1 = idSetDigest(s1, "doc_id")
      val (fpKeep, sigKeep) = DeltaCurate.compactFrames(next, "doc_id", "text",
        spark.table("expect_fp"), spark.table("expect_sig"))
      val e = Map[String, Any](
        "bootstrap_gated" -> g0, "bootstrap_survivors" -> d0,
        "increment_gated" -> g1, "increment_survivors" -> d1,
        "compact_fp_rows" -> fpKeep.count(), "compact_sig_rows" -> sigKeep.count())
      Files.writeString(file, Json.render(e))
      e
    }

    def check(ops: Seq[Op]): Unit = {
      val e = expected()
      val Seq(boot, inc, comp) = ops
      def guarded(op: Op)(body: Map[String, Any] => Unit): Unit =
        if (op.ok) try printed.get(op.name) match {
          case Some(p) => body(p)
          case None => fail(op, "no result line printed")
        } catch { case ex: Throwable => fail(op, ex.toString) }
      def survivors(op: Op) =
        idSetDigest(spark.read.parquet(outOf(op.name)), "doc_id")
      guarded(boot) { p =>
        expectEq(boot, "added", p("added"), gen("base_rows"))
        expectEq(boot, "gated", p("gated"), e("bootstrap_gated"))
        expectEq(boot, "survivors", survivors(boot), e("bootstrap_survivors"))
      }
      guarded(inc) { p =>
        Seq("added", "changed", "removed").foreach(k => expectEq(inc, k, p(k), gen(k)))
        expectEq(inc, "gated", p("gated"), e("increment_gated"))
        expectEq(inc, "survivors", survivors(inc), e("increment_survivors"))
      }
      guarded(comp) { p =>
        Seq("added", "changed", "removed", "gated").foreach(k =>
          expectEq(comp, k, p(k), 0L))
        expectEq(comp, "fp_rows", p("fp_rows"), e("compact_fp_rows"))
        expectEq(comp, "sig_rows", p("sig_rows"), e("compact_sig_rows"))
      }
    }
  }

  // ---------------------------------------------------------------------

  /** `registry_sweep`: a fixed, family-stratified subset of
    * `SparkEntry.queries`, once each in name order, into a `noop` sink
    * (every row and column materialised). `--sink count` times `.count()`
    * instead, the sink of the older registry bench, for comparison only.
    */
  final class Registry(spark: SparkSession, a: Map[String, String]) extends Workload {
    private val dir = a("inputs")
    private val families: Map[String, Map[String, (SparkSession, String) => DataFrame]] = {
      import graft.queries._
      val fam = Map(
        "conv" -> ConvQueries.queries, "dq" -> (DqQueries.queries ++ DqQueries.refQueries),
        "media" -> MediaQueries.queries, "pref" -> PrefQueries.queries,
        "profiling" -> ProfilingQueries.queries, "relational" -> RelationalQueries.queries,
        "schema" -> SchemaQueries.queries, "text" -> TextQueries.queries,
        "vector" -> VectorQueries.queries)
      val all = graft.SparkEntry.queries
      fam + ("base" -> all.filter { case (n, _) => !fam.values.exists(_.contains(n)) })
    }
    /** Every `stride`-th query of each family in name order, first
      * included.
      */
    val selected: Seq[(String, String)] = {
      val stride = a("stride").toInt
      families.toSeq.flatMap { case (f, qs) =>
        qs.keys.toSeq.sorted.zipWithIndex.collect { case (n, i) if i % stride == 0 => n -> f }
      }.sortBy(_._1)
    }
    private val rows = mutable.Map.empty[String, Long]
    def outputs: Seq[String] = Seq(s"${a("work")}/warehouse", s"${a("work")}/tmp")

    def timed(): Seq[Op] = selected.map { case (name, fam) =>
      val t0 = now()
      val error = try {
        val df = graft.SparkEntry.queries(name)(spark, dir)
        rows(name) = if (a("sink") == "count") df.count() else {
          val obs = Observation(s"rows_$name")
          df.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
        }
        None
      } catch { case e: Throwable => Some(e.toString) }
      val op = Op(s"queries.$fam.$name", t0, now(), ok = error.isEmpty,
        error.getOrElse(""))
      spark.catalog.clearCache()
      op
    }

    def corrupt(kind: String): Unit = ()

    /** Row counts are compared against the DuckDB oracle by run.py; here
      * only the counts and the oracle SQL are exported.
      */
    def check(ops: Seq[Op]): Unit = ()

    override def extra: Map[String, Any] = {
      val oracle = graft.SparkEntry.oracleSql
      Map(
        "rows" -> rows.toMap,
        "oracle_sql" -> selected.flatMap { case (n, _) => oracle.get(n).map(n -> _) }.toMap)
    }
  }
}

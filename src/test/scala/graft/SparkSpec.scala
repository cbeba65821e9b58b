package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest specs (SURVEY.md §5.2-5.3 golden +
  * property tests over the non-SQL surface).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** DROP a managed table AND its warehouse dir. DROP alone only reaches
    * tables this JVM's in-memory catalog knows: a test that failed
    * mid-way in a PREVIOUS run leaves its warehouse dir behind, and the
    * next run's managed-table create dies with LOCATION_ALREADY_EXISTS.
    */
  def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    // the conf value may or may not carry a file: scheme depending on how
    // Spark normalized it — strip it textually rather than URI-parse
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file://").stripPrefix("file:")
    val dir = new java.io.File(new java.io.File(wh),
      name.toLowerCase(java.util.Locale.ROOT))
    if (dir.exists()) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir.toPath).sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(p => java.nio.file.Files.delete(p))
    }
  }

  /** Runs `body` on an emptied session cache and returns its result, the
    * number of Spark jobs it started (counted by job group) and whether it
    * left the cache empty. Other specs' cached frames are dropped first, so
    * both answers are about `body` alone. Listener events arrive in
    * posting order, so once a marker job in a second group is seen to
    * start, every job of `body` has been counted.
    */
  def countingJobs[T](body: => T): (T, Int, Boolean) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("graft-counted") => jobs.incrementAndGet()
          case Some("graft-drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-counted", "counted body")
      val res = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-drain", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (res, jobs.get, spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sharedState.cacheManager.isEmpty)
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    // keep the session alive across suites; sbt's forked JVM exits at the end
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config(graft.sources.Tables.nanosAsLongKey, "true")
    .config("spark.ui.enabled", "false")
    // Spark 4.1's checksummed checkpoint writer stalls concurrent state
    // commits in local mode (flatMapGroupsWithState tasks park forever in
    // ChecksumCancellableFSDataOutputStream.close); checksums add nothing
    // on a local FS, so disable for tests.
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    // static conf: saveAsTable targets (bucketing tests) land under target/
    // so repeated runs overwrite instead of accreting /tmp dirs
    .config("spark.sql.warehouse.dir",
      new java.io.File("target/test-warehouse").getAbsolutePath)
    .getOrCreate()
    // ADVICE r11: register graft functions at session bootstrap so a
    // Column built while another (or no) session was active still
    // resolves the graft_* kernels when analyzed against this session
    graft.plans.GraftFunctions.register(s)
    s
  }
}

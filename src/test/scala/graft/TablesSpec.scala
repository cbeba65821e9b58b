package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The per-session temp view behind [[Tables.table]]: a repeated read runs
  * no job, a new session starts without the view, and — the risk reuse
  * introduces — self-joins of two reads of the SAME view still analyze and
  * produce correct results (DeduplicateRelations must disambiguate the
  * reused plan).
  */
class TablesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("the first table() read runs a job, a repeated read runs none") {
    // a fresh session, so no earlier spec has registered the view yet
    val s = spark.newSession()
    val (_, first, _) = countingJobs(Tables.table(s, sf, "region"))
    assert(first >= 1) // footer inference
    val (_, second, _) = countingJobs(Tables.table(s, sf, "region"))
    assert(second === 0)
    // distinct paths stay distinct views
    val (_, other, _) = countingJobs(Tables.table(s, sf, "nation"))
    assert(other >= 1)
  }

  test("a new session gets its own view, not another session's") {
    val a = spark.newSession()
    Tables.table(a, sf, "region")
    val view = s"`$sf/region`"
    assert(a.catalog.tableExists(view))
    val b = spark.newSession()
    assert(!b.catalog.tableExists(view))
    val r = Tables.table(b, sf, "region")
    assert(b.catalog.tableExists(view))
    assert(r.count() === Tables.table(a, sf, "region").count())
  }

  test("self-join of the cached instance resolves and is correct") {
    val n = Tables.table(spark, sf, "nation")
    val m = Tables.table(spark, sf, "nation")
    // derive both sides from the SAME view, as two query authors sharing
    // a session would
    val a = n.select(col("n_nationkey").as("k"), col("n_regionkey"))
    val b = m.select(col("n_nationkey"), col("n_regionkey").as("r2"))
    val joined = a.join(b, a("k") === b("n_nationkey"))
    assert(joined.count() === n.count())
    // join on the shared region key: row count must match the exact
    // per-region self-pairing sum computed independently
    val byRegion = n.groupBy(col("n_regionkey")).count()
      .collect().map(_.getLong(1)).map(c => c * c).sum
    val pairs = n.select(col("n_regionkey"))
      .join(m.select(col("n_regionkey").as("rk")),
        col("n_regionkey") === col("rk"))
    assert(pairs.count() === byRegion)
  }

  test("cached events table keeps the normalized timestamp type") {
    val e1 = Tables.table(spark, sf, "events")
    val e2 = Tables.table(spark, sf, "events")
    assert(e1.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(e2.schema === e1.schema)
  }
}

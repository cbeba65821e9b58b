package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, SketchHash}

/** The near-dup chain is one operator chain under either hash: on a
  * planted fixture, [[Dedup.nearDupClusters]] recovers the same clusters
  * under xxhash64 and md5, and the single null-band guard keeps null-text
  * and shingle-less documents out of every LSH bucket under both.
  */
class SketchHashSpec extends SparkSpec {

  import spark.implicits._

  private val hashes = Seq(SketchHash.XxHash64, SketchHash.Md5)

  // five 60-token families; each planted cluster is the base, an exact
  // copy and a one-token tail edit (trigram Jaccard 57/59 ≈ 0.97), plus
  // five distinct singletons from disjoint token families
  private def words(f: Int) = (1 to 60).map(j => s"f${f}w$j")
  private val planted: Seq[(Long, String)] = (0 until 5).flatMap { f =>
    val base = words(f).mkString(" ")
    val edit = (words(f).init :+ s"f${f}edit").mkString(" ")
    Seq((100L * f + 1, base), (100L * f + 2, base), (100L * f + 3, edit))
  } ++ (5 until 10).map(f => (100L * f + 1, words(f).mkString(" ")))
  // no shingles: fewer than three tokens, or no tokens at all
  private val shingleLess = Seq((901L, "ab cd"), (902L, "ef gh"), (903L, ""))
  private val nullText = Seq(951L, 952L)

  private val docs = ((planted ++ shingleLess).map { case (i, t) =>
      (i, Option(t))
    } ++ nullText.map(i => (i, Option.empty[String])))
    .toDF("doc_id", "text")

  test("nearDupClusters gives the planted clusters under xxhash64 and md5") {
    val expected = (0 until 5).flatMap(f =>
      Seq(1L, 2L, 3L).map(m => (100L * f + m, 100L * f + 1))).toSet
    val byHash = hashes.map(h => h -> Dedup.nearDupClusters(docs, "text",
        "doc_id", 0.9, h)
      .select(col("id"), col("component")).as[(Long, Long)].collect().toSet)
    byHash.foreach { case (h, clusters) =>
      assert(clusters === expected, s"$h clusters")
    }
  }

  test("null-text and shingle-less docs enter no bucket under either hash") {
    val outside = (shingleLess.map(_._1) ++ nullText).toSet
    hashes.foreach { h =>
      val m = Dedup.minhashed(docs, "text", "doc_id", h).persist()
      val unbanded = m.filter(col("band_keys").isNull)
        .select("doc_id").as[Long].collect().toSet
      assert(unbanded === outside, s"$h: docs without band keys")
      val paired = Dedup.lshCandidatePairs(m, "doc_id")
        .select(explode(array(col("id_a"), col("id_b"))))
        .as[Long].collect().toSet
      assert((paired & outside).isEmpty, s"$h paired ${paired & outside}")
      m.unpersist()
    }
  }
}

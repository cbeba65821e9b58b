package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, SketchHash}

/** The vector ANN families are one chain each: on a planted fixture of
  * near-parallel twins plus a null vector, [[Similarity.annLsh]] finds
  * every twin as its top-1 under xxhash64 and md5 alike, [[Similarity.annIvf]]
  * finds the same twins, and the null vector is in no result row.
  */
class AnnHashSpec extends SparkSpec {

  import spark.implicits._

  private val nPairs = 6
  private val nullId = 999L

  // non-degenerate 8-dim bases in distinct directions; each twin is its
  // base doubled plus a 1e-3 nudge on one dimension (cosine ≈ 1 − 1e-7)
  private def base(i: Int): Seq[Float] =
    (0 until 8).map(d => ((i * 31 + d * 17) % 13 - 6).toFloat / 7f)
  private val vecs: DataFrame = ((0 until nPairs).flatMap { i =>
      val twin = base(i).zipWithIndex.map { case (x, d) =>
        2f * x + (if (d == i) 1e-3f else 0f)
      }
      Seq((10L * i + 1, Option(base(i))), (10L * i + 2, Option(twin)))
    } :+ ((nullId, Option.empty[Seq[Float]])))
    .toDF("vec_id", "embedding")

  private val twins: Map[Long, Long] = (0 until nPairs).flatMap { i =>
    Seq((10L * i + 1) -> (10L * i + 2), (10L * i + 2) -> (10L * i + 1))
  }.toMap

  private def top1(ann: DataFrame): Map[Long, Long] =
    ann.filter(col("rn") === 1L).select("q_id", "n_id").as[(Long, Long)]
      .collect().toMap

  private def ids(ann: DataFrame): Set[Long] =
    ann.select(explode(array(col("q_id"), col("n_id")))).as[Long]
      .collect().toSet

  test("annLsh: every planted twin is top-1 under xxhash64 and md5; " +
    "the null vector is in no row") {
    Seq(SketchHash.XxHash64, SketchHash.Md5).foreach { h =>
      val ann = Similarity.annLsh(vecs, "vec_id", "embedding", k = 3, h)
        .persist()
      assert(top1(ann) === twins, s"$h top-1")
      assert(!ids(ann).contains(nullId), s"$h: null vector in a row")
      ann.unpersist()
    }
  }

  test("annIvf returns the same planted twins; the null vector is in no row") {
    val ann = Similarity.annIvf(vecs, "vec_id", "embedding", k = 3).persist()
    assert(top1(ann) === twins)
    assert(!ids(ann).contains(nullId), "null vector in a row")
    ann.unpersist()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents

/** Connected components: goldens on known graphs, adversarial shapes (long
  * chains — where naive label propagation would need O(n) rounds), and a
  * randomized property test against a driver-side union-find oracle.
  */
class ConnectedComponentsSpec extends SparkSpec {

  import spark.implicits._

  /** Runs BOTH execution paths — the driver-side union-find fast path
    * (default threshold; every graph here is under it) and the
    * distributed star loop (`driverMaxEdges = 0` forces it) — and asserts
    * they agree before returning the result, so every golden/property
    * case in this spec pins both.
    */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val driver = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst",
      driverMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(driver === dist, "driver union-find vs distributed star loop")
    driver
  }

  /** Driver-side union-find, the oracle. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // normalize to min-id representative (union by min above + full
    // compression via a final find pass)
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("two triangles plus a bridge collapse into one component") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 12L),
      (12L, 10L), (3L, 10L))
    val got = cc(edges)
    assert(got.values.toSet === Set(1L))
    assert(got.keySet === Set(1L, 2L, 3L, 10L, 11L, 12L))
  }

  test("disjoint components keep distinct min-id representatives") {
    val got = cc(Seq((5L, 7L), (7L, 6L), (100L, 101L), (42L, 42L), (9L, 8L)))
    // self-loop (42,42) contributes no component; (9,8) normalizes
    assert(got === Map(5L -> 5L, 6L -> 5L, 7L -> 5L,
      100L -> 100L, 101L -> 100L, 8L -> 8L, 9L -> 8L))
  }

  test("a 2000-node chain converges (label propagation would need 2000 rounds)") {
    val edges = (0L until 1999L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size === 2000)
    assert(got.values.toSet === Set(0L))
  }

  test("empty and self-loop-only edge sets yield no components") {
    assert(cc(Seq.empty) === Map.empty)
    assert(cc(Seq((3L, 3L))) === Map.empty)
  }

  test("random graphs match a union-find oracle") {
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 5) {
      val n = 200 + trial * 100
      val edges = Seq.fill(n / 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      assert(cc(edges) === unionFind(edges), s"trial $trial")
    }
  }

  test("mid-tier graphs (past the observed-edge cap, under driverMaxEdges) " +
    "still union-find correctly via the block collect") {
    // 150k edges > ObservedEdgeCap (131072), so the observe collect
    // evaluates to NULL and the fast path must fall back to the one
    // block-collect job — pin that tier against the oracle. 1500 chains
    // of 100 nodes each keep the oracle cheap.
    val edges = (0 until 1500).flatMap { c =>
      val base = c * 1000L
      (0 until 100).map(i => (base + i, base + i + 1))
    }
    val got = ConnectedComponents.run(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unionFind(edges))
  }

  test("duplicate and reversed edges are tolerated") {
    val got = cc(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("dropNearDupClusters keeps exactly one doc per transitive cluster") {
    // docs 1,5,9 around base doc 9: doc 1 edits one token (j≈0.94), doc 5
    // edits two tokens at the far end (j≈0.88), doc 1 vs doc 5 differ by
    // all three edits (j≈0.83) — at threshold 0.85 the pair graph is a
    // path 1—9—5, NOT a clique, so pair-greedy keeps {1,5} while the
    // transitive drop keeps only the cluster min {1}
    val base = (0 until 100).map("tok" + _).toArray
    def doc(edits: (Int, String)*): String = {
      val t = base.clone()
      edits.foreach { case (i, w) => t(i) = w }
      t.mkString(" ")
    }
    val docs = Seq(
      (1L, doc(10 -> "edita"), "en"),
      (5L, doc(90 -> "editb", 95 -> "editc"), "en"),
      (9L, doc(), "en"),
      (50L, (100 until 200).map("other" + _).mkString(" "), "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = graft.operators.Dedup
      .nearDupPairs(docs, "text", "doc_id", 0.85,
        graft.operators.SketchHash.XxHash64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // precondition: exactly the path shape (also proves LSH recalled both)
    assert(pairs === Set((1L, 9L), (5L, 9L)), s"fixture pairs: $pairs")
    val greedy = graft.operators.Curation
      .dropNearDups(docs, "text", "doc_id", 0.85)
      .select("doc_id").as[Long].collect().toSet
    val transitive = graft.operators.Curation
      .dropNearDupClusters(docs, "text", "doc_id", 0.85)
      .select("doc_id").as[Long].collect().toSet
    assert(greedy === Set(1L, 5L, 50L))
    assert(transitive === Set(1L, 50L))
  }
}

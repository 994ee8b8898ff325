package graft

import graft.queries.Dedup

/** Connected-components kernel behind `d_neardup_clusters`: transitive
  * linking (a~b, b~c → one cluster even though a,c never pair), min-id
  * canonicalization, singleton preservation, and the non-convergence
  * guard. A 5-node chain forces multi-round label propagation (the
  * single-round answer would be wrong), which is exactly what the
  * DuckDB recursive-CTE oracle checks at gate scale.
  */
class DedupClusterSpec extends SparkSuite {

  test("connected components: chain links transitively, min id canonical") {
    import spark.implicits._
    val nodes = (1L to 9L).toDF("doc_id")
    // chain 1-2-3-4-5 (diameter 4 → ≥4 propagation rounds),
    // pair 6-7, singletons 8 and 9
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (6L, 7L))
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert((1L to 5L).forall(cc(_)._1 == 1L), "chain must be one cluster")
    assert(cc(6L)._1 == 6L && cc(7L)._1 == 6L)
    assert(cc(8L) == ((8L, true)) && cc(9L) == ((9L, true)),
      "singletons keep themselves")
    assert(cc(1L)._2 && !cc(2L)._2 && !cc(5L)._2,
      "exactly the min id is canonical")
  }

  test("connected components: hash-to-min converges a 64-node chain in O(log n) rounds") {
    import spark.implicits._
    // Worst case for plain min-propagation: a 64-link chain with the
    // min at one end needs 64 rounds (one hop per round). The label-
    // pointer edges must collapse it in <= 8 — geometric, not linear.
    val nodes = (1L to 64L).toDF("doc_id")
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(nodes, pairs, maxRounds = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 64L).forall(cc(_) == 1L), "whole chain is one cluster rooted at 1")
  }

  test("connected components: maxRounds guard throws instead of returning unconverged labels") {
    import spark.implicits._
    val nodes = (1L to 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, pairs, maxRounds = 1)
    }
  }

  test("d_cluster_keep_best: one keeper per cluster, longest member wins") {
    val d = "/root/testdata/sf0.001"
    val clusters = SparkEntry.queries("d_neardup_clusters")(spark, d)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val nChars = Tables.documents(spark, d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val members = clusters.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val kept = SparkEntry.queries("d_cluster_keep_best")(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(kept.map(_._2).toSet == members.keySet, "exactly one keeper per cluster")
    kept.foreach { case (id, cid, nc, size) =>
      val mem = members(cid)
      assert(mem.contains(id), s"keeper $id belongs to cluster $cid")
      assert(size == mem.size, s"cluster $cid size")
      assert(nc == nChars(id), s"keeper $id n_chars")
      val best = mem.toSeq.map(m => (-nChars(m), m)).min._2
      assert(id == best, s"cluster $cid keeper is the longest member (min id on ties)")
    }
  }
}

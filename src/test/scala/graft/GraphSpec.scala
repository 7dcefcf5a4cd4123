package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Graph

/** PageRank/degree semantics on hand-computed graphs: exact one-step
  * values, fixpoint stability, dangling contract, and block hygiene
  * across iterations. */
class GraphSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("pageRank one iteration matches hand computation on the 3-node star") {
    // A(1)->B(2), A->C(3), B->A, C->A; N=3, d=0.85
    // A' = 0.05 + 0.85*(1/3 + 1/3) = 0.616666666667 -> 0.616667
    // B' = C' = 0.05 + 0.85*(1/6) = 0.191666666667 -> 0.191667
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 1).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("score")).toMap
    assert(out(1L) == 0.616667)
    assert(out(2L) == 0.191667 && out(3L) == 0.191667)
  }

  test("labelPropagation: isolated pair converges via self-vote (no 2-cycle)") {
    // undirected pair 7-9: without the self-vote, synchronous LPA
    // swaps labels forever; with it, iteration 1 ties 1:1 and the
    // min label 7 wins on both sides — stable at every later count
    val edges = Seq((7L, 9L), (9L, 7L)).toDF("src", "dst")
    for (it <- Seq(1, 2, 5)) {
      val out = Graph.labelPropagation(edges, iters = it).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(7L -> 7L, 9L -> 7L), s"iters=$it got $out")
    }
  }

  test("labelPropagation splits a barbell into its two dense communities") {
    // two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10
    def undirected(ps: Seq[(Long, Long)]) =
      (ps ++ ps.map(p => (p._2, p._1))).toDF("src", "dst")
    val edges = undirected(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L), (11L, 12L),
      (3L, 10L)))
    val out = Graph.labelPropagation(edges, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(1L, 2L, 3L).map(out) == Set(1L), s"left triangle: $out")
    assert(Set(10L, 11L, 12L).map(out) == Set(10L), s"right triangle: $out")
  }

  test("labelPropagation treats duplicate edges as one vote (simple graph)") {
    // 5 duplicate edges 2->1 must not outvote {3,4}->1 + self
    val edges = (Seq.fill(5)((2L, 1L)) ++ Seq((3L, 1L), (4L, 1L)))
      .toDF("src", "dst")
    val out = Graph.labelPropagation(edges, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1 sees labels {2,3,4,self=1} each once -> min label 1 wins
    assert(out(1L) == 1L, s"got $out")
  }

  test("uniform score is the fixpoint of a symmetric cycle at any iteration count") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 20).collect()
    out.foreach(r => assert(r.getAs[Double]("score") == 0.333333,
      s"cycle node drifted: ${r}"))
  }

  test("dangling nodes keep only the base share (mass is not redistributed)") {
    // 1->2 and 2 has no out-edges: after enough iterations node 1's
    // inbound is empty -> base only; node 2 receives decayed mass
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, iters = 10).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Double]("score")).toMap
    assert(out(1L) == 0.075, "base share (1-d)/2 only")
    // 2's score: 0.075 + 0.85*score(1) from the PREVIOUS iteration
    assert(out(2L) == 0.13875)
  }

  test("degreeProfile: out/in degrees and dangling flag, custom columns") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b")
    val out = Graph.degreeProfile(edges, srcCol = "a", dstCol = "b").collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("in_deg"),
          r.getAs[Boolean]("dangling")))).toMap
    assert(out(1L) == ((2L, 0L, false)))
    assert(out(2L) == ((1L, 1L, false)))
    assert(out(3L) == ((0L, 2L, true)))
  }

  test("connectedComponents: chain + pair resolve to min ids; direction ignored") {
    // chain 5-4-3-2-1 given in MIXED directions, plus a separate pair;
    // component = min reachable id regardless of edge orientation
    val edges = Seq((5L, 4L), (3L, 4L), (3L, 2L), (1L, 2L), (9L, 7L))
      .toDF("src", "dst")
    val cc = Graph.connectedComponents(edges)
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      7L -> 7L, 9L -> 7L))
    graft.api.Dedup.releaseMaterialized(cc)
  }

  test("iteration loop releases superseded checkpoint blocks") {
    val edges = (1L to 100L).map(i => (i, i % 100 + 1)).toDF("src", "dst")
    // ids, not counts: the context cleaner may unpin earlier tests'
    // garbage meanwhile
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Graph.pageRank(edges, iters = 8).collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // only the final ranks stay: neither the 7 superseded iterates nor
    // the loop-invariant edges, nodes and out-degrees
    assert(added.size == 1, s"leaked checkpoints: ${added.size - 1}")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("labelPropagation leaves only its result pinned") {
    val edges = (1L to 100L).map(i => (i, i % 100 + 1)).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = Graph.labelPropagation(edges, iters = 6)
    labels.collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"leaked checkpoints: ${added.size - 1}")
    graft.api.Dedup.releaseMaterialized(labels)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }
}

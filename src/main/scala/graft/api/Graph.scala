package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over edge lists — the curation companion to
  * [[Dedup.keepOne]]'s connected components: once near-dup pairs (or
  * citation/link edges) define a graph, CENTRALITY ranks the
  * representatives worth keeping ([[Dedup.keepBest]] with a PageRank
  * score keeps the most-linked member of each cluster, not just the
  * lowest id).
  *
  * Determinism contract (oracle-replayable like everything in
  * `graft.api`): fixed iteration count (no float-convergence test),
  * every per-node inbound sum routed through DECIMAL(28,12) so
  * partial-aggregation order cannot move a score, each iteration's
  * scores rounded to 12 decimals — bit-identical across engines,
  * cluster layouts, and reruns.
  */
object Graph {

  /** Fixed-iteration PageRank. Scale shape: per iteration, ONE keyed
    * equi-join (edges ⋈ ranks on src — rank and degree frames are
    * node-keyed, never corpus-crossed) and ONE keyed aggregation
    * (inbound sums on dst); each iteration `localCheckpoint`s so
    * lineage stays bounded at any iteration count (the [[Dedup.keepOne]]
    * hygiene), releasing the superseded iteration's blocks.
    *
    * Contract: nodes = endpoints of `edges`; initial score
    * `round(1/N, 12)`; per iteration
    * `score' = (1−d)/N + d·Σ_in round(score/out_deg, 12)`, rounded to
    * 12 decimals. Dangling nodes (no out-edges) contribute nothing
    * (their mass is NOT redistributed — the simple variant, stated so
    * the oracle replays it exactly). Directed: pass both directions
    * for an undirected similarity graph. Output: (node, score). */
  def pageRank(edges: DataFrame, srcCol: String = "src", dstCol: String = "dst",
               damping: Double = 0.85, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    require(damping > 0.0 && damping < 1.0, s"damping must be in (0,1), got $damping")
    val spark = edges.sparkSession
    // Co-partition the loop-invariant frames on one explicit partition
    // count (r17): edges hash-partitioned on src (the per-iteration
    // join key), nodes on node, outDeg on src — with the layout
    // DECLARED past the checkpoint (checkpointHash: localCheckpoint
    // records UnknownPartitioning under AQE, so without the
    // declaration every iteration re-shuffled the full edge set). The
    // edge rows now shuffle ONCE for the whole run; an iteration moves
    // only node-sized frames.
    val np = spark.sessionState.conf.numShufflePartitions
    PlanAudit.scope { s =>
      val e = s.checkpointHash(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
          .repartition(np, col("src")), np, Seq("src"))
      // repartition BEFORE distinct: HashPartitioning(node) satisfies the
      // distinct's ClusteredDistribution, so the dedup aggregate runs on
      // the pinned layout with no second exchange
      val nodes = s.checkpointHash(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .repartition(np, col("node")).distinct(), np, Seq("node"))
      val n = nodes.count()
      // exchange-free on top of e's declared (src, np) layout, which the
      // aggregation preserves — declared again past its own checkpoint
      val outDeg = s.checkpointHash(
        e.groupBy(col("src")).agg(count(lit(1)).as("out_deg")), np, Seq("src"))
      // (1 − d) via exact decimals: 1 − 0.85 in DOUBLE is
      // 0.15000000000000002, while every SQL engine's literal 0.15 is
      // the nearest double to decimal 0.15 — BigDecimal.valueOf keeps
      // the decimal form so both sides evaluate the SAME base constant
      val oneMinusD = (java.math.BigDecimal.ONE
        .subtract(java.math.BigDecimal.valueOf(damping))).doubleValue()
      var ranks = nodes.select(col("node"),
        round(lit(1.0) / lit(n.toDouble), 12).as("score"))
      (1 to iters).foreach { _ =>
        val contribs = e.join(ranks, e("src") === ranks("node"))
          .join(outDeg, "src")
          .select(col("dst").as("node"),
            round(col("score") / col("out_deg"), 12)
              .cast("decimal(28,12)").as("c"))
        // the ONE edge-sized exchange an iteration fundamentally needs
        // (mass moves from src-partitioning to dst-keying), partially
        // aggregated map-side; the planner exchanges it straight to
        // nodes' declared (node, np) layout, so the left join below adds
        // no further shuffle
        val sums = contribs.groupBy(col("node")).agg(sum(col("c")).as("in_sum"))
        // eager checkpoint: `next` is materialized HERE, so the
        // superseded iterate is safe to release (the initial frame is no pin)
        val next = s.checkpoint(nodes.join(sums, Seq("node"), "left")
          .select(col("node"),
            round(lit(oneMinusD / n.toDouble) + lit(damping) *
              coalesce(col("in_sum").cast("double"), lit(0.0)), 12).as("score")))
        s.release(ranks)
        ranks = next
      }
      // Final scores project at 6 decimals (the package rule): engines
      // agree on a double's shortest representation but can disagree on
      // ROUNDING it at digit 12 (half-up over the decimal string vs
      // scaled float math) — the 12-digit intermediate keeps per-
      // iteration error ~1e-12, far below the 6-digit output grain, so
      // the output is bit-stable cross-engine while iteration dynamics
      // stay fine-grained. The loop-invariant pins are released on exit.
      s.keep(ranks).select(col("node"), round(col("score"), 6).as("score"))
    }
  }

  /** Fixed-iteration SYNCHRONOUS label propagation — community
    * detection over a link/similarity graph (the coarse-grained
    * companion to [[Dedup.keepOne]]'s exact components: LPA groups by
    * link DENSITY, so one giant weakly-connected blob still splits
    * into communities a curation pass can cap or sample per
    * [[graft.api.Curation]] domain rules).
    *
    * Contract (integer-only — bit-exact cross-engine, no float
    * grain): labels start as the node's own id; each iteration every
    * node adopts the most frequent label among its IN-neighbors plus
    * ITS OWN current label (the self-vote — an implicit self-loop;
    * count desc, then SMALLEST label — a total order, so ties cannot
    * flap with partitioning). Without the self-vote, synchronous LPA
    * 2-cycles on every isolated pair (a↔b swap labels forever); with
    * it, the tie resolves to min(a,b) and converges. Synchronous:
    * iteration k+1 reads only iteration k's labels. Pass both edge
    * directions for an undirected graph. Fixed `iters`, no
    * convergence test — the oracle replays the exact dynamics.
    *
    * The edge set is treated as a SIMPLE graph (duplicate input edges
    * collapse to one vote — encode multiplicity upstream if it should
    * weight the vote).
    *
    * Scale shape: per iteration ONE keyed equi-join (edges ⋈ labels on
    * src — the edge side co-located on its declared checkpoint layout,
    * never re-shuffled) + ONE (node, label) count aggregation + ONE
    * node-keyed partially-aggregating argmax (min over
    * struct(-cnt, label) — no window sort); each iteration
    * `localCheckpoint`s and releases its predecessor, the [[pageRank]]
    * lineage hygiene. Output: (node, label). */
  def labelPropagation(edges: DataFrame, srcCol: String = "src",
                       dstCol: String = "dst", iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 100, s"iters must be in [1,100], got $iters")
    val spark = edges.sparkSession
    // Co-partitioned loop-invariant frames (the pageRank discipline,
    // r17): edges pinned on src (the per-iteration vote-join key),
    // nodes on node, with the layout DECLARED past the checkpoint
    // (checkpointHash — localCheckpoint records UnknownPartitioning
    // under AQE). The edge rows shuffle ONCE for the whole run instead
    // of once per iteration.
    val np = spark.sessionState.conf.numShufflePartitions
    PlanAudit.scope { s =>
      val e0 = s.checkpoint(
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
      // repartition BEFORE distinct: HashPartitioning(node) satisfies the
      // distinct's ClusteredDistribution, so the dedup aggregate runs on
      // the pinned layout with no second exchange (same for `e` on src)
      val nodes = s.checkpointHash(e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node")))
        .repartition(np, col("node")).distinct(), np, Seq("node"))
      // the self-vote: one implicit self-loop per node (deduped against
      // any explicit ones so a self-edge never double-counts)
      val e = s.checkpointHash(e0.union(nodes.select(col("node").as("src"),
        col("node").as("dst")))
        .repartition(np, col("src")).distinct(), np, Seq("src"))
      var labels = nodes.select(col("node"), col("node").as("label"))
      (1 to iters).foreach { _ =>
        val cand = e.join(labels, e("src") === labels("node"))
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        // argmax by (cnt desc, label asc) as ONE partially-aggregating
        // min(struct(-cnt, label)) — selects exactly the row the previous
        // row_number window picked (count desc, then SMALLEST label; the
        // struct order is total, so no tie can flap), without the
        // window's node-keyed sort and with map-side partial aggregation
        // ahead of the exchange.
        val best = cand
          .groupBy(col("node"))
          .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l"))).as("b"))
          .select(col("node"), col("b.l").as("new_label"))
        val next = s.checkpoint(labels.join(best, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("new_label"), col("label")).as("label")))
        s.release(labels)
        labels = next
      }
      s.keep(labels)
    }
  }

  /** Per-node degree profile: out/in degrees and the dangling flag —
    * the pre-flight check for [[pageRank]] (how much mass the simple
    * dangling contract will leak) and a curation signal by itself
    * (hub/authority shape of a similarity graph). One keyed agg per
    * direction, one node-keyed outer join. */
  def degreeProfile(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val out = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("node")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("dangling", col("out_deg") === 0L)
  }

  /** Connected components of an UNDIRECTED graph: (node, component)
    * with component = the smallest node id reachable from `node` —
    * iterative min-label propagation with pointer doubling
    * (O(log diameter) rounds), the exact kernel the dedup family's
    * group resolution runs ([[graft.api.Dedup.keepOne]]); exposed here
    * because component resolution is a graph primitive in its own
    * right (edge = near-dup pair, shared host, citation). Edges are
    * symmetrized internally — pass either direction; only nodes
    * appearing in an edge are labeled (an isolated node is its own
    * trivial component — union it in upstream if it must appear).
    * Converges exactly (no fixed iteration count to replay): at the
    * fixpoint every label equals its component minimum, so the output
    * is a pure function of the edge SET. Returns a MATERIALIZED frame
    * — consume, then [[graft.api.Dedup.releaseMaterialized]]. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIter: Int = 50): DataFrame =
    graft.api.Dedup.keepOne(
      edges.select(col(srcCol).as("doc_a"), col(dstCol).as("doc_b")), maxIter)
      .select(col("doc_id").as("node"), col("canonical_id").as("component"))
}

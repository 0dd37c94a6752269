package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped iterative propagation centrality (PageRank) over a directed
  * weighted edge list — the corpus-quality weighting step of web-scale
  * training-data pipelines (link-graph centrality as a document prior),
  * and the canonical "iterative joins" workload the engine must run
  * without lineage blowup.
  *
  * All arithmetic is EXACT integer micro-rank (the t15 micro-nats trick):
  * ranks start at `microInit` (1e6 = rank 1.0), every edge contributes
  * `(r · w) div W_out` (integer floor division on exact longs), and the
  * damped update is `base + (dampingPct · Σ_in) div 100`. Long sums are
  * exact and summation-order independent, so results are bit-identical
  * under ANY partitioning / task order — which is what lets an iterative
  * fixpoint be oracle-verified cross-engine at all (double-arithmetic
  * PageRank diverges in the last ulp per iteration and amplifies).
  * Truncation loss per node per iteration is < out-degree micro-units —
  * bounded and deterministic, the documented price of exactness.
  *
  * Scale: each iteration is one edges ⋈ ranks join (broadcast of the
  * node-sized rank table under [[Guards.fits]], so the edge list
  * crosses no exchange; src-keyed and AQE-skew-splittable above the
  * guard) plus one dst-keyed partially-aggregated sum; the
  * edge list (with precomputed out-weights) is checkpointed once and
  * reused every round, and ranks are localCheckpoint'd per round so plan
  * depth stays O(1) instead of O(iterations) (the classic Spark iteration
  * trap: without the cut, round k replans and re-shuffles all k−1
  * predecessors). Dangling mass (nodes with no out-edges) is dropped, the
  * standard simplification — documented, deterministic.
  */
object PageRank {

  /** @param edges three columns `src`, `dst`, `w` (numeric; w > 0 —
    *              a null/non-positive weight raises loudly: a silently
    *              dropped edge would skew every downstream rank).
    *              CALLER CONTRACT: the frame is consumed twice below
    *              (out-weight join + its groupBy) before the one
    *              materialization, so an expensive upstream pipeline
    *              should be checkpointed BY THE CALLER first (gr1
    *              checkpoints its fact-join edge build). The op
    *              deliberately does NOT checkpoint the raw edge frame
    *              itself: that materializes the pipeline's biggest
    *              frame unconditionally — measured 2× the whole op's
    *              cost at a 6M-edge corpus (10.5 s → 20.0 s) — to save
    *              re-deriving what is usually a cheap projection.
    * @return (node, r) — micro-rank per node after `iterations` rounds;
    *         nodes with no in-edges hold the damping base. */
  def run(edges: DataFrame, iterations: Int, dampingPct: Int = 85,
      microInit: Long = 1000000L): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1: $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be 0..100: $dampingPct")
    val e = edges.select(
      col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
      // the guard must bind the POST-cast value too: a fractional weight
      // in (0,1) passes `w <= 0` but truncates to 0 under cast("long"),
      // silently zeroing the edge (and, if a node's whole out-weight
      // truncates to 0, turning the div into a misleading ANSI
      // divide-by-zero) — exactly the skew the loud raise exists for
      when(col("w").isNull || col("w") <= 0 ||
          col("w") =!= col("w").cast("long"),
        raise_error(concat(
          lit("PageRank: null/non-positive/non-integral edge weight w="),
          col("w").cast("string"))))
        .otherwise(col("w").cast("long")).as("w"))
    // The out-weight table is one (src, ow) row per source node — node-
    // sized, not edge-sized. Materialize it once and, when it fits, ship
    // it map-side so the edge list is NEVER shuffled by src to attach its
    // out-weights; above the guard the original keyed join stands
    // (AQE-skew-splittable).
    val ow = e.groupBy("src").agg(sum(col("w")).as("ow"))
      .localCheckpoint(true)
    // this guard covers ONLY the ew build join: ow is the frame being
    // broadcast there, and it is SOURCE-node-sized
    val owFits = Guards.fits(ow.count())
    val ew = (if (owFits) e.join(broadcast(ow), "src")
              else e.join(ow, "src"))
      .localCheckpoint(true) // reused every iteration — one materialization
    // derive nodes from the CHECKPOINTED frame (ew preserves every e row),
    // not from e: e's upstream would otherwise re-run a second time just
    // to list the node universe (the ReusedExchange-across-actions trap)
    val nodes = ew.select(col("src").as("node"))
      .union(ew.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    // The per-round broadcasts (ranks, contrib) are sized by the FULL node
    // universe (src ∪ dst), not by source nodes: a sink-heavy graph (few
    // sources, many dst-only nodes) passes the ow guard with an
    // arbitrarily larger rank table — so they get their own guard on the
    // universe count (one count over the already-checkpointed nodes frame;
    // r16, the round-15 advisory).
    val nodeSidedFits = Guards.fits(nodes.count())
    val base = (100L - dampingPct) * microInit / 100L
    var ranks = nodes.select(col("node"), lit(microInit).as("r"))
    for (i <- 1 to iterations) {
      // ranks is node-sized (two longs per node): under the guard each
      // round's edge⋈ranks is a broadcast hash join, so the EDGE table —
      // the frame that actually scales — crosses no exchange at all; the
      // round's one shuffle is the partially-aggregated dst sum, and the
      // rank update joins two node-sized frames broadcast-side. Above
      // the guard every join falls back to the original keyed shuffle.
      val contrib = (if (nodeSidedFits)
          ew.join(broadcast(ranks), ew("src") === ranks("node"))
        else ew.join(ranks, ew("src") === ranks("node")))
        .select(ew("dst").as("node"), expr("(r * w) div ow").as("c"))
        .groupBy("node").agg(sum(col("c")).as("m"))
      val next = (if (nodeSidedFits) nodes.join(broadcast(contrib), Seq("node"), "left")
               else nodes.join(contrib, Seq("node"), "left"))
        .select(col("node"),
          (lit(base) + coalesce(expr(s"($dampingPct * m) div 100"), lit(0L)))
            .as("r"))
      // Lineage policy (r16, the Triangles one-job lesson: sequential
      // checkpoint barriers, not compute, dominated the broadcast regime
      // at bench scale). Each round's rank table is consumed exactly ONCE
      // (the next round's broadcast), so the chain is linear — nothing
      // recomputes without a checkpoint; the cut exists only to bound
      // plan depth. Broadcast regime: cut every [[CheckpointEveryRounds]]
      // rounds, so a short run (gr1's 3 iterations) is ONE job instead of
      // a materialization barrier per round. Shuffle regime (above the
      // guard): per-round cut, unchanged — there each round is
      // exchange-bound anyway and the barrier is noise.
      ranks =
        if (!nodeSidedFits || i % CheckpointEveryRounds == 0)
          next.localCheckpoint(true)
        else next
    }
    ranks
  }

  /** Broadcast-regime lineage cut cadence: plan depth stays bounded for
    * deep runs while short runs pay zero mid-run materializations. */
  private val CheckpointEveryRounds = 8
}

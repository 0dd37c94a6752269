package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle enumeration over an undirected edge list — the
  * cohesion primitive of graph-shaped corpus curation (community
  * density, link-farm detection, co-citation strength) and the classic
  * "does your join strategy survive skew" benchmark.
  *
  * Algorithm: degree-ordered orientation (Chiba–Nishizeki / the
  * MapReduce formulation of Suri & Vassilvitskii, WWW'11). Every
  * undirected edge is directed from its lower endpoint to its higher
  * endpoint under the total order (degree, id); a triangle {u,v,w} then
  * has EXACTLY ONE vertex whose two triangle edges are both out-edges
  * (its minimum under the order), so emitting each out-wedge (x,y) of an
  * apex and intersecting with the edge set counts every triangle once —
  * no post-hoc dedup, and counts are exact integers (bit-stable under
  * any partitioning).
  *
  * Scale: orientation is WHY this survives skew — a degree-d hub
  * generates C(d,2) wedges under naive id-ordering but only
  * C(d_out,2) here, and max out-degree is O(√m) on any graph (an
  * arboricity bound), so intersection work is O(m^1.5) worst-case
  * instead of Σ d². The closing step is the EDGE-ITERATOR formulation:
  * per-node oriented out-neighborhoods are collected once (≤ O(√m)
  * longs per node), joined to both endpoints of each oriented edge, and
  * the triangle set per edge is a local sorted-array intersection — the
  * O(m^1.5) wedge volume stays INSIDE codegen'd array kernels instead of
  * materializing as shuffled rows (the explicit wedge self-join shape
  * measured 6× slower at 1.2M edges / 41M wedges: 41M rows through an
  * exchange vs 41M in-memory comparisons). Explode volume is exactly the
  * triangle count. Both edge⋈adjacency joins are plain shuffle hash
  * joins on node keys: AQE-skew-splittable (broadcastable when the
  * adjacency frame is small), no driver state. The adjacency frame feeds
  * both joins with different key projections, which blocks
  * ReusedExchange — checkpointed once (the repo-documented d4/e5
  * lesson), as are the oriented edges and the raw edge list.
  */
object Triangles {

  /** Per-node triangle participation counts.
    *
    * @param edges undirected edges as columns (a, b) with a < b,
    *              distinct — one row per edge.
    * @return (node, tri_cnt) for every node in ≥1 triangle.
    */
  def participation(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).localCheckpoint(true)
    // ONE guard for both the degree and adjacency broadcasts, read off
    // the already-materialized edge list (free — no extra aggregation
    // job): adjacency payload is exactly one long per oriented edge and
    // deg rows are bounded by 2·|E|, so the budgeted side is 2·|E| rows
    // (r16: the round-15 advisory — guarding |E| itself let deg reach
    // twice the row budget). Above the cap, node-keyed shuffle joins
    // that AQE skew-splits, exactly the pre-r15 plan. (A checkpointed
    // LogicalRDD has no size stats, so Catalyst alone would default
    // everything below to sort-merge and ship each edge row's two
    // ~√m-long neighbor arrays through BOTH shuffles — measured 2× the
    // whole op's cost at 1.2M edges.)
    val fits = Guards.fits(2 * e.count())
    val degRaw = e.select(col("a").as("node"))
      .unionByName(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // (deg, id) total order; a < b already, so the tie case keeps a
    val aFirst = col("da") < col("db") || (col("da") === col("db"))
    def orientedVia(deg: DataFrame): DataFrame = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"))
    def adjOf(oriented: DataFrame): DataFrame = oriented.groupBy(col("src"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    // triangle {u,v,w} (u<v<w under the order) is found exactly once: at
    // its base edge u→v, as w ∈ N+(u) ∩ N+(v). An endpoint missing from
    // adj has no out-edges — the inner join drops the edge, which is
    // exact (its intersection would be empty).
    val common = (if (fits) {
      // Broadcast regime (r15, guide §2.4/§3.1): the degree table ships
      // map-side into both orientation joins and the adjacency into both
      // probe sides — and because each pair of joins consumes the SAME
      // un-renamed broadcast subtree (disambiguated by alias, not by a
      // projection inside the broadcast), ReuseExchange builds each
      // broadcast once. That makes the intermediate checkpoints
      // redundant: re-deriving `oriented` for the probe side is two
      // map-side hash joins over the checkpointed edge list, far cheaper
      // than materializing it — the whole operator is ONE job instead of
      // the shuffle regime's checkpoint-per-stage ladder (measured: the
      // barrier jobs, not the compute, dominated gr2 at bench scale).
      val degB = broadcast(degRaw)
      val oriented = e.as("e0")
        .join(degB.as("dga"), col("e0.a") === col("dga.node"))
        .join(degB.as("dgb"), col("e0.b") === col("dgb.node"))
        .select(col("e0.a").as("a"), col("e0.b").as("b"),
          col("dga.deg").as("da"), col("dgb.deg").as("db"))
        .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
          when(aFirst, col("b")).otherwise(col("a")).as("dst"))
      val adjB = broadcast(adjOf(oriented))
      // sorted_intersect, not array_intersect: both adjacency lists are
      // sort_array outputs, so the two-pointer native merge replaces a
      // per-edge boxed hash-set build — this is the operator's hottest
      // loop (r16, guide: expressions/codegen)
      oriented.as("o")
        .join(adjB.as("na"), col("o.src") === col("na.src"))
        .join(adjB.as("nb"), col("o.dst") === col("nb.src"))
        .select(col("o.src").as("src"), col("o.dst").as("dst"),
          call_function("sorted_intersect",
            col("na.nbrs"), col("nb.nbrs")).as("tw"))
    } else {
      // Shuffle regime (unchanged pre-r15 plan): checkpoint each frame
      // that feeds two differently-projected keyed joins (the d4/e5
      // ReusedExchange lesson), AQE splits skewed node keys.
      val deg = degRaw.localCheckpoint(true)
      val oriented = orientedVia(deg)
        .localCheckpoint(true) // feeds the adjacency build AND the probe
      val adj = adjOf(oriented).localCheckpoint(true)
      oriented
        .join(adj.select(col("src"), col("nbrs").as("sn")), "src")
        .join(adj.select(col("src").as("dst"), col("nbrs").as("dn")), "dst")
        .select(col("src"), col("dst"),
          call_function("sorted_intersect", col("sn"), col("dn")).as("tw"))
    }).filter(size(col("tw")) > 0)
    // All three per-triangle contributions (both base endpoints at the
    // edge's triangle count, each third vertex at 1) emitted in ONE
    // row-local explode — the previous two-branch union consumed
    // `common` twice, which forced a checkpoint barrier between the
    // intersection pass and the count agg; fused, the wedge intersection
    // streams straight into the count's map-side partial (r15, guide
    // §2.4: one pass, one exchange, no materialization).
    common
      .select(explode(concat(
        array(
          struct(col("src").as("node"), size(col("tw")).cast("long").as("c")),
          struct(col("dst").as("node"), size(col("tw")).cast("long").as("c"))),
        transform(col("tw"), w => struct(w.as("node"), lit(1L).as("c"))))).as("nc"))
      .groupBy(col("nc.node").as("node")).agg(sum(col("nc.c")).as("tri_cnt"))
  }
}

package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Guards, PageRank, Triangles}

/** Graph analytics over the star schema (driver north-star; no reference
  * counterpart — designed Spark-first): iterative centrality as a
  * first-class distributed operator. Web-corpus pipelines weight
  * documents by link-graph centrality before sampling; here the same
  * operator ranks suppliers by their position in the customer↔supplier
  * purchase graph.
  */
object Graph extends QueryGroup {

  /** Per-order basket cap: only the [[BasketCap]] smallest part keys of
    * an order enter the pair-forming self-joins (gr2/gr3/gr4), bounding
    * any single order's pair fan-out at C(BasketCap, 2) whatever the
    * corpus — an adversarial mega-basket (one order touching thousands
    * of SKUs; ScaleGen.writeSkewed plants exactly one) would otherwise
    * put C(k, 2) pairs on one reducer. Deterministic (the smallest keys,
    * never a sample) and mirrored in every consumer's oracle via
    * [[sqlPoCte]] — the WedgeCap pattern applied one stage earlier.
    * Shipped testdata maxes at 17 distinct parts/order, so every SF's
    * result is the exact uncapped baskets. */
  private[graft] val BasketCap = 64

  /** DuckDB twin of [[basketScan]]'s capped basket projection — the `po`
    * CTE every gr-family oracle shares. */
  private[graft] val sqlPoCte: String = s"""po AS (
          SELECT ok, p FROM (
            SELECT ok, p, row_number() OVER (PARTITION BY ok ORDER BY p) AS rn
            FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem))
          WHERE rn <= $BasketCap)"""

  /** Distinct (order, part) basket membership under [[BasketCap]] — the
    * shared projection gr2's triangle edges, gr3's co-occurrence pairs,
    * and gr4's wedges all start from. One groupBy(order) shuffle does
    * the dedup AND the cap via [[graft.functions.BoundedMinSet]] (the
    * smallest BasketCap distinct parts, O(BasketCap) group state — a
    * collect_set would materialize the mega-basket's FULL distinct set
    * in one buffer before any slice could cap it), replacing the
    * previous distinct-only shuffle at the same cost.
    * Checkpointed (below) because every consumer feeds it to a self-join
    * with differing projections — the d4/e5 ReusedExchange lesson.
    */
  /** The un-checkpointed basket projection — split out so PushdownSpec
    * can assert the pruned ReadSchema on a plan that still CONTAINS the
    * parquet scan (the checkpointed frame below plans as ExistingRDD,
    * which would make any scan assertion vacuously pass). */
  private[graft] def basketScan(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .groupBy(col("ok"))
      .agg(graft.functions.BoundedMinSet.minK(BasketCap)(col("p")).as("ps"))
      .select(col("ok"), explode(col("ps")).as("p"))

  private def basketItems(s: org.apache.spark.sql.SparkSession, d: String) =
    basketScan(s, d).localCheckpoint(true)

  /** gr4 wedge centers above this degree are excluded (and the cap is
    * interpolated into the DuckDB oracle, so both engines share ONE
    * value): bounds any hub's wedge fan-out at C(cap, 2) — principled
    * for Resource Allocation, which weights a center by 1/deg. */
  private[graft] val WedgeCap = 512

  /** gr4's wedge-center degree bound for the benched gr4r scout variant
    * (declared BEFORE `defs`: the oracle strings interpolate it eagerly
    * at map construction — a later declaration reads 0). */
  private[graft] val ScoutCap = 64

  /** gr5's edge-support floor: co-purchased in ≥ this many distinct
    * orders — at 2 it already deletes the one-off co-occurrence tail
    * that dominates basket data (before `defs`, like every
    * oracle-interpolated constant). */
  private[graft] val MinSupport = 2

  val defs: Map[String, QueryDef] = Map(

    // GR1: supplier purchase-graph centrality — PageRank (3 damped
    // iterations, exact integer micro-ranks) over the bipartite
    // customer↔supplier graph induced by lineitem⋈orders, edge weight =
    // lineitem count. Node ids are disjoint by parity (cust = 2k,
    // supp = 2k+1) so the two key spaces can share one node column. A
    // supplier's rank rises when many high-activity customers route
    // weight to it — the "authority" read a flat order count misses.
    //
    // Scale: the edge build is one fact-keyed join + map-side-combinable
    // count; each PageRank round is one src-keyed join + dst-keyed long
    // sum (exact, order-independent — that's what makes an ITERATIVE
    // fixpoint hash-verifiable cross-engine); the edge list and per-round
    // ranks are checkpointed so plan depth stays O(1) (ops/PageRank).
    // The final supplier join moves only (node, rank) rows.
    "gr1_supplier_centrality" -> QueryDef(
      build = (s, d) => {
        val cs = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy((col("o_custkey") * 2).as("src"),
            (col("l_suppkey") * 2 + 1).as("dst"))
          .agg(count(lit(1)).as("w"))
          // the symmetric union consumes this frame twice — checkpoint
          // once or the fact join + pair count runs per union branch
          .localCheckpoint(true)
        val edges = cs.unionByName(
          cs.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        PageRank.run(edges, iterations = 3)
          .filter(pmod(col("node"), lit(2L)) === 1L)
          .select(expr("(node - 1) div 2").as("s_suppkey"),
            col("r").as("rank_micro"))
          .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
            "s_suppkey")
          .select(col("s_suppkey"), col("s_name"), col("rank_micro"))
      },
      bench = true,
      oracle = Some("""
        WITH e AS (
          SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
                 count(*) AS w
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS (
          SELECT src, dst, w FROM e
          UNION ALL SELECT dst AS src, src AS dst, w FROM e),
        ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
        n AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst AS node FROM edges),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
        c1 AS (SELECT ed.dst AS node, sum((r0.r * ed.w) // ow.ow) AS m
               FROM edges ed JOIN ow ON ed.src = ow.src
               JOIN r0 ON r0.node = ed.src GROUP BY 1),
        r1 AS (SELECT n.node,
                      CAST(150000 + coalesce((85 * c1.m) // 100, 0) AS BIGINT) AS r
               FROM n LEFT JOIN c1 USING (node)),
        c2 AS (SELECT ed.dst AS node, sum((r1.r * ed.w) // ow.ow) AS m
               FROM edges ed JOIN ow ON ed.src = ow.src
               JOIN r1 ON r1.node = ed.src GROUP BY 1),
        r2 AS (SELECT n.node,
                      CAST(150000 + coalesce((85 * c2.m) // 100, 0) AS BIGINT) AS r
               FROM n LEFT JOIN c2 USING (node)),
        c3 AS (SELECT ed.dst AS node, sum((r2.r * ed.w) // ow.ow) AS m
               FROM edges ed JOIN ow ON ed.src = ow.src
               JOIN r2 ON r2.node = ed.src GROUP BY 1),
        r3 AS (SELECT n.node,
                      CAST(150000 + coalesce((85 * c3.m) // 100, 0) AS BIGINT) AS r
               FROM n LEFT JOIN c3 USING (node))
        SELECT s_suppkey, s_name, r3.r AS rank_micro
        FROM r3 JOIN supplier ON r3.node = s_suppkey * 2 + 1""")),

    // GR2: co-purchase triangle participation — how densely a part's
    // co-purchase neighborhood closes on itself. Edges = distinct part
    // pairs sharing an order (per-order fan-out hard-bounded at
    // C(BasketCap, 2) by the basketScan cap — row-local fan-out, not a
    // join blowup, even under mega-basket skew); triangles via
    // degree-ordered orientation
    // (ops/Triangles — each triangle found exactly once, exact integer
    // counts, skew-bounded wedge volume O(m^1.5)). The final name join
    // moves only (node, tri_cnt) rows against the broadcastable part dim.
    "gr2_copurchase_triangles" -> QueryDef(
      build = (s, d) => {
        val po = basketItems(s, d)
        // alias self-join: both ok-keyed exchanges canonicalize equal →
        // ReuseExchange writes the basket shuffle once (guide §2.4)
        val edges = po.as("pa")
          .join(po.as("pb"), col("pa.ok") === col("pb.ok"))
          .filter(col("pa.p") < col("pb.p"))
          .select(col("pa.p").as("a"), col("pb.p").as("b"))
          .distinct()
        Triangles.participation(edges)
          .join(Tables.part(s, d).select(col("p_partkey"), col("p_name")),
            col("node") === col("p_partkey"))
          .select(col("p_partkey"), col("p_name"), col("tri_cnt"))
      },
      bench = true,
      oracle = Some(s"""
        WITH $sqlPoCte,
        e AS (
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM po x JOIN po y ON x.ok = y.ok AND x.p < y.p),
        tri AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM e e1 JOIN e e2 ON e2.a = e1.b
          JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        nodes AS (
          SELECT x AS node FROM tri
          UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri),
        cnt AS (SELECT node, count(*) AS tri_cnt FROM nodes GROUP BY 1)
        SELECT p_partkey, p_name, tri_cnt
        FROM cnt JOIN part ON node = p_partkey""")),

    // GR3: item-to-item co-purchase recommendations — for every part, the
    // top-3 most-similar parts by basket cosine co / sqrt(n_a * n_b),
    // where co = #orders containing both and n_p = #orders containing p
    // (the classic "customers who bought X also bought" operator; support
    // floor co >= 2 drops one-off coincidences).
    //
    // Scale: the pair build is a self-equi-join on the order key — pair
    // expansion is bounded by distinct-parts-per-order squared (≤ 17 in
    // this testdata, hard-capped at BasketCap by basketScan for
    // adversarial mega-baskets — the d12 hot-fingerprint cap pattern,
    // NOT corpus size), so it grows linearly with orders. Item
    // frequencies are a map-side-combinable count; the
    // per-item top-3 is one part-keyed window that the optimizer runs as
    // WindowGroupLimit (top-k per group, never a full sort of all pairs).
    // Ranking ties resolve (cosine DESC, co DESC, rec ASC) — total, so
    // the rec list is deterministic and hash-verifiable.
    "gr3_item_recs" -> QueryDef(
      build = (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val op = basketItems(s, d)
        val freq = op.groupBy(col("p")).agg(count(lit(1)).as("np"))
        // alias self-join — one shared ok-keyed exchange (guide §2.4)
        val co = op.as("oa")
          .join(op.as("ob"), col("oa.ok") === col("ob.ok"))
          .filter(col("oa.p") < col("ob.p"))
          .groupBy(col("oa.p").as("p1"), col("ob.p").as("p2"))
          .agg(count(lit(1)).as("co"))
          .filter(col("co") >= 2)
        // one-pass two-orientation emission (the linkPrediction sym
        // rationale: the union form re-ran the un-checkpointed co
        // pipeline per branch)
        val sym = co
          .select(explode(array(
              struct(col("p1").as("part"), col("p2").as("rec")),
              struct(col("p2").as("part"), col("p1").as("rec")))).as("pr"),
            col("co"))
          .select(col("pr.part"), col("pr.rec"), col("co"))
        val scored = sym
          .join(freq.select(col("p").as("part"), col("np").as("na")), "part")
          .join(freq.select(col("p").as("rec"), col("np").as("nb")), "rec")
          .withColumn("cs",
            col("co") / sqrt(col("na").cast("double") * col("nb")))
        val w = Window.partitionBy("part")
          .orderBy(col("cs").desc, col("co").desc, col("rec"))
        scored
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("part"), col("rec"), col("co"),
            (floor(col("cs") * 1000000) / 1000000.0).as("cosine"),
            col("rn").cast("long").as("rn"))
      },
      oracle = Some(s"""
        WITH $sqlPoCte,
        pc AS (SELECT p, count(*) AS np FROM po GROUP BY 1),
        co AS (
          SELECT a.p AS p1, b.p AS p2, count(*) AS co
          FROM po a JOIN po b ON a.ok = b.ok AND a.p < b.p
          GROUP BY 1, 2 HAVING count(*) >= 2),
        sym AS (
          SELECT p1 AS part, p2 AS rec, co FROM co
          UNION ALL SELECT p2, p1, co FROM co),
        scored AS (
          SELECT part, rec, co,
                 co / sqrt(CAST(a.np AS DOUBLE) * b.np) AS cs,
                 row_number() OVER (PARTITION BY part
                   ORDER BY co / sqrt(CAST(a.np AS DOUBLE) * b.np) DESC,
                            co DESC, rec) AS rn
          FROM sym JOIN pc a ON part = a.p JOIN pc b ON rec = b.p)
        SELECT part, rec, co,
               floor(cs * 1000000) / 1000000.0 AS cosine,
               CAST(rn AS BIGINT) AS rn
        FROM scored WHERE rn <= 3""")),

    // GR4: link prediction on the co-purchase graph — for every part, the
    // top-3 NOT-yet-co-purchased parts ranked by the Resource-Allocation
    // index (Zhou/Lü/Zhang 2009): RA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/deg(z),
    // the Adamic-Adar family member whose per-center contribution
    // (1000000 div deg — integer micro-units) is EXACT integer
    // arithmetic, so the wedge sum is order-independent and
    // hash-verifiable cross-engine (the t15/gr1 micro-unit pattern; an
    // FP 1/ln(deg) sum would hash-drift under Spark's partition-order
    // reduction).
    //
    // Scale: wedge volume through a center z is C(deg z, 2) — the Σd²
    // skew problem — so centers above [[WedgeCap]] (512) are excluded,
    // bounding any hub's fan-out at C(512,2) ≈ 131k pairs (the d12
    // hot-fingerprint df-cap pattern, and principled here: RA weights a
    // center by 1/deg, so the dropped hubs are exactly the centers that
    // contribute least per wedge). Cap mirrored in the oracle; max
    // degree in this data is 206, so the testdata result is the exact
    // uncapped index. The wedge self-join and the edge anti-join are
    // plain keyed shuffles (AQE-skew-splittable); the per-part top-3 is
    // one window the optimizer runs as WindowGroupLimit.
    "gr4_link_prediction" -> QueryDef(
      build = (s, d) => linkPrediction(s, d, WedgeCap),
      oracle = Some(sqlLinkPrediction(WedgeCap))),

    // GR4R: gr4 restricted to the deg ≤ [[ScoutCap]] subgraph — the
    // BENCHED regression tripwire for the wedge/anti-join/window
    // machinery gr4 itself is too expensive to bench (gr4's 43.8 s at
    // sf0.1 IS its output class — RA scores every distance-2 pair of a
    // deg≈120 near-regular graph). The scout keeps only low-degree wedge
    // centers (148 of 20k nodes at sf0.1), cutting wedge volume ~580×
    // (148M → 252k) while running the identical operator pipeline —
    // basket cap, undirected expansion, capped-degree contributions,
    // wedge self-join, edge anti-join, two-mode WindowGroupLimit — so a
    // regression in any of those stages (ops/Triangles-style wedge-path
    // or checkpoint-placement changes) moves a driver-benched number
    // instead of hiding in an unbenched query.
    "gr4r_link_scout" -> QueryDef(
      build = (s, d) => linkPrediction(s, d, ScoutCap),
      bench = true,
      oracle = Some(sqlLinkPrediction(ScoutCap))),

    // GR5: gr4's PRODUCTION variant — the support-thresholded edge set
    // (SCALE.md's documented posture for the full-graph regime, now
    // code): an edge exists only when two parts were co-purchased in at
    // least [[MinSupport]] DISTINCT orders, which deletes the one-off
    // co-occurrence noise a recommender shouldn't chase AND thins
    // degree before any wedge forms — measured 1.2M → 3.6k edges at
    // sf0.1 (≈335×), collapsing the Σ C(deg,2) wedge volume that makes
    // the unthresholded gr4 un-benchable (43.8 s). Same RA pipeline
    // downstream (full WedgeCap — the threshold IS the degree control
    // here), threshold mirrored in the oracle's HAVING, and benched as
    // the full-pipeline tripwire gr4r approximates by degree capping.
    "gr5_link_prediction_supported" -> QueryDef(
      build = (s, d) => linkPrediction(s, d, WedgeCap, MinSupport),
      bench = true,
      oracle = Some(sqlLinkPrediction(WedgeCap, MinSupport)))
  )

  /** The gr4 Resource-Allocation link-prediction pipeline with the wedge
    * cap and the edge-support floor as parameters — ONE definition for
    * gr4 (cap = [[WedgeCap]]), the benched gr4r scout (cap =
    * [[ScoutCap]]), and gr5 (support ≥ [[MinSupport]]). At support 1
    * the edge set stays the DISTINCT pair form (gr4/gr4r's original
    * plan, byte-identical oracles); above 1 the pair former counts
    * distinct co-purchasing orders and keeps only edges at the floor. */
  private[graft] def linkPrediction(s: org.apache.spark.sql.SparkSession,
      d: String, cap: Int,
      minSupport: Int = 1): org.apache.spark.sql.DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val po = basketItems(s, d)
        // alias self-join — one shared ok-keyed exchange (guide §2.4)
        val pairs = po.as("pa")
          .join(po.as("pb"), col("pa.ok") === col("pb.ok"))
          .filter(col("pa.p") < col("pb.p"))
        val e = (if (minSupport <= 1)
            pairs.select(col("pa.p").as("a"), col("pb.p").as("b")).distinct()
          else
            pairs.groupBy(col("pa.p").as("a"), col("pb.p").as("b"))
              .agg(count(lit(1)).as("co"))
              .filter(col("co") >= minSupport)
              .select(col("a"), col("b")))
          // consumed by the undirected expansion AND the closing
          // anti-join — checkpoint once (the d4/e5 ReusedExchange lesson)
          .localCheckpoint(true)
        val und = e.select(col("a").as("z"), col("b").as("n"))
          .unionByName(e.select(col("b").as("z"), col("a").as("n")))
          .localCheckpoint(true) // degrees + both wedge self-join sides
        // The wedge self-join only SHUFFLES the |2m| und rows (z-keyed,
        // twice); its Σ C(deg,2) output streams straight into the score
        // agg's map-side partial without touching an exchange — so the
        // one wedge-volume exchange is the (x,y) score agg itself, which
        // IS the operator's output class (RA scores every distance-2
        // pair; at sf0.1's near-regular deg≈120 graph that is 148M
        // wedges → 43.8 s at local[32], dominated by the pair hash agg).
        // A row-local explode-from-adjacency variant was measured 2.6×
        // WORSE (112 s): per-pair slice() allocation beats the shuffle
        // it saves. Hub skew is what the wedge cap bounds; AQE splits
        // the rest.
        val deg = und.groupBy(col("z")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") <= cap)
          .withColumn("contrib", expr("1000000 div deg"))
        // The eligible-center table is bounded by the node count and
        // usually far smaller (the cap excludes hubs; gr4r's scout cap
        // keeps 148 of 20k nodes at sf0.1) — broadcast it under the
        // guard and join it to und ONCE, so both wedge self-join sides
        // are the center-PRUNED rows: und rows whose z
        // the cap excluded previously rode the full exchange just to be
        // dropped by the join (r15, guide §3.2 — prune the big side
        // before it shuffles). The count is one agg job over the
        // checkpointed und. Above the cap the original z-keyed shuffle
        // plan stands.
        val wi = (if (Guards.fits(deg.count()))
            und.join(broadcast(deg.select(col("z"), col("contrib"))), "z")
          else und.join(deg.select(col("z"), col("contrib")), "z"))
        // self-join via ALIASES of the identical un-projected subtree, so
        // both z-keyed exchanges canonicalize equal and ReuseExchange
        // writes the shuffle once (the former rename-projection sides
        // defeated that and paid the wi exchange twice — r15, guide
        // §2.4). The coalesce is load-bearing: contrib is the CENTER's
        // value (identical on both sides, never null on inner-join
        // rows), and referencing both sides keeps column pruning from
        // projecting the two exchange inputs differently — one asymmetric
        // column is enough to break canonical equality and bring the
        // second exchange back.
        val wedges = wi.as("w1")
          .join(wi.as("w2"), col("w1.z") === col("w2.z"))
          .filter(col("w1.n") < col("w2.n"))
          .select(col("w1.n").as("n"), col("w2.n").as("n2"),
            coalesce(col("w1.contrib"), col("w2.contrib")).as("contrib"))
        // the closing anti-join: `scored` already sits on the score
        // agg's (x, y) partitioning, so broadcasting the edge set pays
        // only when it is tiny — Guards.AntiJoinRows, an order of
        // magnitude tighter than deg's (whose broadcast removes full
        // exchanges of the wedge volume, a different trade).
        val eXY = e.select(col("a").as("x"), col("b").as("y"))
        val scored = wedges
          .groupBy(col("n").as("x"), col("n2").as("y"))
          .agg(sum(col("contrib")).as("ra_micro"),
            count(lit(1)).as("common_nbrs"))
          .join(if (Guards.fits(e.count(), Guards.AntiJoinRows)) broadcast(eXY)
            else eXY,
            Seq("x", "y"), "left_anti")
        // Both orientations emitted ROW-LOCALLY from one pass: the
        // previous two-branch union rebuilt the entire un-checkpointed
        // wedge pipeline (self-join, score agg, anti-join) once per
        // branch — AQE reuses the identical exchanges, but every
        // post-shuffle operator (the final HashAggregates, both
        // SortMergeJoin merges) still ran twice (r15 plan audit:
        // plans/r15/gr4r_link_scout_before.txt shows the duplicated
        // subtree). explode of a 2-struct array is the union's exact
        // row multiset at zero extra passes.
        val sym = scored
          .select(explode(array(
              struct(col("x").as("part"), col("y").as("rec")),
              struct(col("y").as("part"), col("x").as("rec")))).as("pr"),
            col("ra_micro"), col("common_nbrs"))
          .select(col("pr.part"), col("pr.rec"),
            col("ra_micro"), col("common_nbrs"))
        val w = Window.partitionBy("part")
          .orderBy(col("ra_micro").desc, col("common_nbrs").desc, col("rec"))
        sym.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("part"), col("rec"), col("ra_micro"),
            col("common_nbrs"), col("rn").cast("long").as("rn"))
  }

  /** DuckDB twin of [[linkPrediction]], cap and support floor
    * interpolated — the one oracle text gr4, gr4r, and gr5 share (at
    * support 1 the edge CTE keeps gr4's original DISTINCT text). */
  private def sqlLinkPrediction(cap: Int, minSupport: Int = 1): String = s"""
        WITH $sqlPoCte,
        e AS (${
    if (minSupport <= 1) """
          SELECT DISTINCT x.p AS a, y.p AS b
          FROM po x JOIN po y ON x.ok = y.ok AND x.p < y.p"""
    else s"""
          SELECT x.p AS a, y.p AS b
          FROM po x JOIN po y ON x.ok = y.ok AND x.p < y.p
          GROUP BY 1, 2 HAVING count(*) >= $minSupport"""}),
        und AS (
          SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e),
        deg AS (
          SELECT z, 1000000 // count(*) AS contrib
          FROM und GROUP BY 1 HAVING count(*) <= $cap),
        scored AS (
          SELECT u1.n AS x, u2.n AS y,
                 CAST(sum(deg.contrib) AS BIGINT) AS ra_micro,
                 count(*) AS common_nbrs
          FROM und u1 JOIN deg ON u1.z = deg.z
          JOIN und u2 ON u2.z = u1.z AND u1.n < u2.n
          GROUP BY 1, 2),
        cand AS (
          SELECT x, y, ra_micro, common_nbrs FROM scored
          WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = scored.x AND e.b = scored.y)),
        sym AS (
          SELECT x AS part, y AS rec, ra_micro, common_nbrs FROM cand
          UNION ALL SELECT y, x, ra_micro, common_nbrs FROM cand),
        ranked AS (
          SELECT part, rec, ra_micro, common_nbrs,
                 row_number() OVER (PARTITION BY part
                   ORDER BY ra_micro DESC, common_nbrs DESC, rec) AS rn
          FROM sym)
        SELECT part, rec, ra_micro, common_nbrs, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= 3"""
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.maint.VersionedTable
import graft.ops.IvfIndex

/** Persisted-IVF-index contract (e14): a probe of the stored index must
  * reproduce the live-computed IVF result exactly; incremental appends
  * against the PINNED centroid set must equal a from-scratch assignment of
  * the full corpus against those same centroids (FAISS `IndexIVF.add`
  * semantics — an index never re-trains on add); the build must be
  * cached-by-fingerprint and never rebuilt for an unchanged corpus.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Long): Seq[Float] =
    Seq.tabulate(Embedded.Dim) { i =>
      // deterministic non-degenerate components in [-1, 1), never all-zero
      (((seed * 2654435761L + i * 40503L) % 1000L).toFloat / 501f) + 0.001f
    }

  private object Embedded { val Dim = 64 }

  private def writeCorpus(ids: Seq[Long]): String = {
    val dir = Files.createTempDirectory("graft_ivf_corpus_").toString
    ids.map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def assignmentsOf(cells: DataFrame): Set[(Long, Long)] =
    cells.select($"cid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def codesOf(df: DataFrame): Map[Long, Seq[Int]] =
    df.select($"vec_id", $"codes").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toMap

  test("probe of the persisted index equals the live ivfCandidates result") {
    val dir = writeCorpus(1L to 300L)
    val root = IvfIndex.ensure(spark, dir)

    val vn = IvfIndex.normalized(
      graft.core.Tables.embeddings(spark, dir).transform(graft.core.Tables.spread))
    val q = vn.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne"))

    val live = graft.queries.Embeddings.ivfCandidates(vn, q)
      .select($"q_id", $"vec_id", $"cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val persisted = IvfIndex.probeCandidates(spark, root,
        IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
          .select($"vec_id".as("q_id"), $"ne".as("q_ne")))
      .select($"q_id", $"vec_id", $"cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(persisted == live,
      "persisted-index probe must be bit-identical to the live IVF path")
  }

  test("persisted PQ codebook and codes equal a residual encode from the shared definitions") {
    // the IVFPQ build side's contract (by_residual): the stored codebook
    // is codebookOf over the RESIDUAL slices r = ne − ce(assigned cid) of
    // the 'pq:'-gated sample (NOT the 'cent:' sample — those vectors ARE
    // the centroids, so their residuals are identically zero; the v5
    // seed split exists precisely to avoid that), and every stored code
    // vector is the residual encodeCodes result — recomputed here
    // independently from the shared definitions
    val dir = writeCorpus(1L to 300L)
    val root = IvfIndex.ensure(spark, dir)
    val vn = IvfIndex.normalized(
      graft.core.Tables.embeddings(spark, dir).transform(graft.core.Tables.spread))
    val cents = IvfIndex.centroids(spark, root)
    val res = IvfIndex.residualsOf(vn, IvfIndex.assignCells(vn, cents), cents)
    val cb = IvfIndex.codebookOf(IvfIndex.subspacesOf(res), vn, seed = "pq:")
    def cbMap(df: DataFrame): Map[(Int, Int), Seq[Double]] =
      df.select($"s", $"rnk", $"cv").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    assert(cbMap(IvfIndex.codebook(spark, root)) == cbMap(cb),
      "persisted codebook must equal codebookOf over residual slices")
    assert(codesOf(IvfIndex.cellCodes(spark, root))
        == codesOf(IvfIndex.encodeCodes(res, cb)),
      "persisted codes must equal the residual encode")
  }

  test("e16 IVFPQ recall vs the exact-rescore e14 probe stays high") {
    // ADC scores codes, not vectors — the shortlist may miss true
    // neighbors the exact rescore keeps. Measured on the shipped sf0.001
    // corpus: mean top-5 overlap 0.856; gate at 0.70 to absorb
    // regenerated-testdata drift.
    val d = "/root/testdata/sf0.001"
    def top5(name: String): Map[Long, Seq[Long]] =
      SparkEntry.queries(name)(spark, d)
        .select($"q_id", $"vec_id", $"rn").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          (q, rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq)
        }
    val exact = top5("e14_ann_ivf_persisted")
    val pq = top5("e16_ann_ivfpq_persisted")
    assert(exact.keySet == pq.keySet, "query sets must match")
    val overlaps = exact.keys.toSeq.map { q =>
      (exact(q).toSet intersect pq(q).toSet).size.toDouble / exact(q).size
    }
    val mean = overlaps.sum / overlaps.size
    info(f"mean top-5 overlap e16 vs e14: $mean%.3f over ${overlaps.size} queries")
    assert(mean >= 0.70, f"PQ shortlist lost too much recall: $mean%.3f")
  }

  test("residual ADC shortlist recall@10 beats or matches raw-code recall at the same depth") {
    // the by_residual claim, MEASURED: at a fixed 16×k_cent code budget,
    // quantizing x − centroid(cid) must shortlist true neighbors at
    // least as well as quantizing raw subvectors — residuals carry less
    // per-cell variance, so the same codes resolve finer. Ground truth =
    // the exact top-10 over the probed cells (shared by both encodings:
    // probe selection is identical); the residual shortlist is what the
    // persisted index serves (probeCandidatesPq's pre-rerank survivors),
    // the raw shortlist is recomputed live from the same shared
    // definitions over raw slices.
    val d = "/root/testdata/sf0.001"
    val root = IvfIndex.ensure(spark, d)
    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    def toSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select($"q_id", $"vec_id").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val exact10 = toSets(IvfIndex.probeCandidates(spark, root, q)
      .groupBy($"q_id")
      .agg(graft.functions.BoundedTopK.topK(10)($"cos", $"vec_id").as("top"))
      .select($"q_id", explode($"top.id").as("vec_id")))
    def recall(short: Map[Long, Set[Long]]): Double = {
      val per = exact10.toSeq.map { case (qid, want) =>
        (short.getOrElse(qid, Set.empty) & want).size.toDouble / want.size
      }
      per.sum / per.size
    }
    // raw-code shortlist at the same depth, recomputed live (what the
    // index stored before v5)
    val vn = IvfIndex.normalized(
      graft.core.Tables.embeddings(spark, d).transform(graft.core.Tables.spread))
      .localCheckpoint(true)
    val cents = IvfIndex.centroids(spark, root)
    val assign = IvfIndex.assignCells(vn, cents)
    val rawCb = IvfIndex.codebookOf(IvfIndex.subspacesOf(vn), vn)
      .localCheckpoint(true)
    val lut = IvfIndex.queryLut(
      q.select($"q_id", $"q_ne".as("qe")), rawCb)
    def shortlist(depth: Int): (Map[Long, Set[Long]], Map[Long, Set[Long]]) = {
      val raw = toSets(IvfIndex.probeSelect(q, cents, IvfIndex.NProbe)
        .join(assign, "cid")
        .filter($"vec_id" =!= $"q_id")
        .join(IvfIndex.encodeCodes(vn, rawCb), "vec_id")
        .join(broadcast(lut), "q_id")
        .select($"q_id", $"vec_id",
          IvfIndex.adcScore($"lut", $"codes").as("adc"))
        .groupBy($"q_id")
        .agg(graft.functions.BoundedTopK.topK(depth)($"adc", $"vec_id").as("top"))
        .select($"q_id", explode($"top.id").as("vec_id")))
      val res = toSets(
        IvfIndex.probeCandidatesPq(spark, root, q, shortlist = depth))
      (raw, res)
    }
    val (raw50, res50) = shortlist(IvfIndex.PqShortlist)
    val (raw25, res25) = shortlist(IvfIndex.PqShortlist / 2)
    info(f"recall@10 at depth ${IvfIndex.PqShortlist}: raw ${recall(raw50)}%.3f residual ${recall(res50)}%.3f")
    info(f"recall@10 at depth ${IvfIndex.PqShortlist / 2}: raw ${recall(raw25)}%.3f residual ${recall(res25)}%.3f")
    assert(recall(res50) >= recall(raw50) - 0.02,
      f"residual codes must not lose shortlist recall vs raw: ${recall(res50)}%.3f vs ${recall(raw50)}%.3f")
    assert(recall(res25) >= recall(raw25) - 0.02,
      f"residual codes must not lose half-depth recall vs raw: ${recall(res25)}%.3f vs ${recall(raw25)}%.3f")
  }

  test("hot-cell salting: dormant on uniform lists; _salt widens the forced-shuffle probe join on a hot cell; result-identical") {
    // the shuffled-list regime: with broadcast off, the probes⋈cells join
    // shuffles on cid and a hot inverted list would pin one reducer —
    // joinProbesCells must salt DETECTED-hot cells only (the d3 adaptive
    // contract): plain equi-join on uniform occupancy, _salt in the join
    // key under real skew, identical rows both ways
    def resultSet(df: DataFrame): Set[(Long, Long, Double)] =
      df.select($"q_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def qOf(root: String): DataFrame =
      IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
        .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)

    val uRoot = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    // hot corpus: ids 1..300 share ONE identical vector — every clone's
    // centroid argmax ties, and ties resolve to the lowest cid, so one
    // inverted list holds 3/4 of the corpus; 301..400 stay diverse
    val hotDir = {
      val dir = Files.createTempDirectory("graft_ivf_hot_").toString
      val base = vec(7L)
      ((1L to 300L).map(i => (i, base, (i % 3).toInt)) ++
        (301L to 400L).map(i => (i, vec(i), (i % 3).toInt)))
        .toDF("vec_id", "embedding", "label").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val hotRoot = IvfIndex.ensure(spark, hotDir)
    val hq = qOf(hotRoot)
    val broadcastRegime = resultSet(IvfIndex.probeCandidates(spark, hotRoot, hq))

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val uniform = IvfIndex.probeCandidates(spark, uRoot, qOf(uRoot))
      assert(!uniform.queryExecution.executedPlan.toString.contains("_salt"),
        "salting must be dormant on uniform cell occupancy")
      val hot = IvfIndex.probeCandidates(spark, hotRoot, hq)
      val hotPlan = hot.queryExecution.executedPlan.toString
      assert(hotPlan.contains("_salt"),
        s"a hot cell must widen the probe join key with _salt:\n$hotPlan")
      for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
        assert(!hotPlan.contains(bad), s"$bad in salted probe plan:\n$hotPlan")
      assert(resultSet(hot) == broadcastRegime,
        "salted shuffle-regime probe must be result-identical to the broadcast regime")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("probe tail is hash-identical across the IN-prune and left-semi prune regimes") {
    // the two prune routes must be pure plan choices: same probes, same
    // rows, same scores — only the mechanics of keeping non-probed
    // cells out of the join differ
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.select($"q_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inExact = IvfIndex.probeCandidates(spark, root, q)
    assert(inExact.queryExecution.executedPlan.toString.contains("In(cid"),
      "a metadata-sized probe set must push an IN prune into the scan")
    val wantExact = rows(inExact)
    val wantPq = rows(IvfIndex.probeCandidatesPq(spark, root, q))
    val prev = IvfIndex.InPruneMaxCells
    IvfIndex.InPruneMaxCells = 2 // force the many-cell route on the same probe
    try {
      val semi = IvfIndex.probeCandidates(spark, root, q)
      val p = semi.queryExecution.executedPlan.toString
      assert(p.contains("LeftSemi"),
        s"past the IN bound the prune must become a left-semi join:\n$p")
      assert(!p.contains("In(cid"),
        s"the many-cell regime must not collect a driver-side IN list:\n$p")
      assert(rows(semi) == wantExact,
        "exact probe must be result-identical across prune regimes")
      assert(rows(IvfIndex.probeCandidatesPq(spark, root, q)) == wantPq,
        "IVFPQ serve must be result-identical across prune regimes")
    } finally IvfIndex.InPruneMaxCells = prev
  }

  test("a hand-built 4096-cell index serves through the left-semi regime; two-level selection pays at many cells") {
    // the regime MaxCentroids defers: a built index caps at ~256 cells,
    // so construct the many-cell shape directly from the index's own
    // table layout (any stored assignment is a valid index — the probe
    // contract is over what is STORED). 200 queries × 8 probes exceeds
    // the IN bound naturally; correctness is pinned against an
    // independently-composed unpruned join, and the e15-style two-level
    // selection is timed against the flat centroid scan (numbers
    // recorded in SCALE.md).
    val k = 4096L
    val n = 3 * k
    val emb = (1L to n).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val vn = IvfIndex.normalized(emb).localCheckpoint(true)
    val cents = vn.filter($"vec_id" <= k)
      .select($"vec_id".as("cid"), $"ne".as("ce")).localCheckpoint(true)
    val cellRows = vn.select(
        (($"vec_id" - 1) % k + 1).as("cid"), $"vec_id",
        lit(null).cast("int").as("label"), $"ne",
        array((1 to 16).map(_ => lit(1)): _*).as("codes"), lit(0L).as("gen"))
    val root = Files.createTempDirectory("graft_ivf_many_").toString
    new VersionedTable(spark, s"$root/centroids")
      .write(cents.withColumn("gen", lit(0L)), "spec-build")
    new VersionedTable(spark, s"$root/cells").write(cellRows, "spec-build")
    new VersionedTable(spark, s"$root/groups")
      .write(IvfIndex.assignGroups(cents, IvfIndex.coarseOf(cents)),
        "spec-build")

    // enough queries that the distinct probed-cell set exceeds the IN
    // bound NATURALLY (measured ~4.5 fresh cells per query here)
    val q = vn.filter($"vec_id" % 23 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    val served = IvfIndex.probeCandidates(spark, root, q)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("LeftSemi"),
      s"a many-cell probe set must route to the left-semi prune without any knob:\n$p")

    // independent expectation: probe selection joined UNPRUNED against
    // the stored lists — no cid prune at all, just the raw semantics
    val expected = IvfIndex.probeSelect(q, cents, IvfIndex.NProbe)
      .join(cellRows.select($"cid", $"vec_id", $"ne"), "cid")
      .filter($"vec_id" =!= $"q_id")
      .join(q, "q_id")
      .select($"q_id", $"vec_id",
        call_function("vec_dot", $"q_ne", $"ne").as("cos"))
      .filter($"cos".isNotNull && !isnan($"cos"))
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.select($"q_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows(served) == rows(expected),
      "left-semi-pruned serve must equal the unpruned join semantics")

    // two-level vs flat selection cost at 4096 cells (min of 2 runs)
    def time(body: => Unit): Double = Seq.fill(2) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
    val flat = time(IvfIndex.probeCandidates(spark, root, q).count())
    val two = time(IvfIndex.probeCandidatesTwoLevel(spark, root, q).count())
    info(f"4096-cell probe: flat $flat%.2f s, two-level $two%.2f s")

    // DECAY MODE, then repair: force the group level into 3 giant
    // uniformly-loaded groups — the end state of unbounded "assign new
    // centroids to existing groups" concentration, where two-level
    // selection pays nearly flat cost. maintainGroups must restore the
    // √k structure (4096 cells → 64-member target, band ≤128), keep
    // every centroid reachable through exactly one group, and the
    // two-level probe must STILL win over flat selection afterwards.
    val ge3 = cents.filter($"cid" <= 3).select($"cid".as("g3"), $"ce".as("ge"))
    val skewed = cents
      .select($"cid", (pmod($"cid", lit(3L)) + 1L).as("gid"))
      .join(broadcast(ge3), $"gid" === $"g3")
      .select($"cid", $"gid", $"ge")
    new VersionedTable(spark, s"$root/groups").write(skewed, "spec-skew")
    // stage-2 scoring volume — the deterministic cost driver the group
    // level exists to bound (wall-clock at this corpus size is JVM-noise
    // bound; the candidate-centroid count is not): how many (query,
    // member-centroid) dots the two-level selection pays after routing
    def stage2Pairs(): Long = {
      val snap = new VersionedTable(spark, s"$root/groups").read()
      val qg = q.crossJoin(broadcast(snap.select($"gid", $"ge").distinct()))
        .select($"q_id",
          call_function("vec_dot", $"q_ne", $"ge").as("cos"), $"gid")
        .filter($"cos".isNotNull && !isnan($"cos"))
        .groupBy($"q_id")
        .agg(graft.functions.BoundedTopK.topK(IvfIndex.NCoarseProbe)(
          $"cos", $"gid").as("top"))
        .select($"q_id", explode($"top.id").as("gid"))
      qg.join(snap.select($"cid", $"gid"), "gid").count()
    }
    val pairsDecayed = stage2Pairs()
    val splits = IvfIndex.maintainGroups(spark, root)
    assert(splits > 0, "3 giant groups at 4096 cells must trigger splits")
    val g = new VersionedTable(spark, s"$root/groups").read()
      .select($"cid", $"gid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.map(_._1).toSet.size == 4096 && g.length == 4096,
      "every centroid must stay reachable through exactly one group")
    val occ = g.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(occ.values.max <= 128L, // 2 × (4096 / min(√4096, MaxCoarse))
      s"post-repair occupancy must be within the structural band: max ${occ.values.max}")
    val pairsRepaired = stage2Pairs()
    val twoM = time(IvfIndex.probeCandidatesTwoLevel(spark, root, q).count())
    info(f"post-repair 4096-cell probe: flat $flat%.2f s, two-level $twoM%.2f s, "
      + s"${occ.size} groups, stage-2 dots $pairsDecayed -> $pairsRepaired")
    assert(pairsRepaired * 4 < pairsDecayed,
      s"group repair must collapse the two-level scoring volume: "
        + s"$pairsRepaired vs decayed $pairsDecayed")

    // SHRINK MODE, then repair — the MERGE direction (round 15): heavy
    // retirement / cell-merges drop k 16× (two compounded 4× epochs —
    // a single uniform 4× lands groups exactly ON the ½× band edge,
    // which the band deliberately tolerates, symmetric with a 2×-over
    // group not splitting) while the group set stays sized for the old
    // k: stage-1 probe cost (|groups| dots per query) drifts above the
    // √k structural optimum. Simulated by merge()'s own retirement
    // protocol: survivors keep their rows, retired cids leave
    // centroids, groups, and cells.
    val kept = 256L
    new VersionedTable(spark, s"$root/centroids")
      .write(cents.filter($"cid" <= kept).withColumn("gen", lit(0L)),
        "spec-shrink")
    val groupsT = new VersionedTable(spark, s"$root/groups")
    groupsT.deleteWhere(s"cid > $kept")
    // members re-home across the surviving cells (what the cell merges
    // that retired those centroids would have done)
    new VersionedTable(spark, s"$root/cells").write(
      cellRows.select((($"vec_id" - 1) % kept + 1).as("cid"), $"vec_id",
        $"label", $"ne", $"codes", $"gen"),
      "spec-shrink",
      // same logical schema; the fresh array(lit(1),...) literal differs
      // from the parquet head only in containsNull, which strict
      // enforcement treats as a retype
      overwriteSchema = true)
    val groupsBefore = new VersionedTable(spark, s"$root/groups").read()
      .select($"gid").distinct().count()
    val targetG2 = math.min(math.ceil(math.sqrt(kept.toDouble)).toLong,
      IvfIndex.MaxCoarse) // 16
    val target2 = (kept + targetG2 - 1) / targetG2 // 16
    assert(groupsBefore * 1 > targetG2 * IvfIndex.GroupHiNum,
      s"the shrunken level must start ABOVE the structural count band: "
        + s"$groupsBefore groups over $kept centroids (band ${2 * targetG2})")
    val merges = IvfIndex.maintainGroups(spark, root)
    assert(merges > 0, s"$groupsBefore groups over $kept centroids must merge")
    val g2 = new VersionedTable(spark, s"$root/groups").read()
      .select($"cid", $"gid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g2.map(_._1).toSet == (1L to kept).toSet && g2.length == kept,
      "every surviving centroid must stay reachable through exactly one group")
    val occ2 = g2.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(occ2.values.min * IvfIndex.GroupLoDen >= target2 * IvfIndex.GroupLoNum,
      s"post-merge occupancies must clear the lo band: min ${occ2.values.min}"
        + s" vs target $target2")
    assert(occ2.values.max * IvfIndex.GroupHiDen <= target2 * IvfIndex.GroupHiNum,
      s"post-merge occupancies must stay under the hi band: max ${occ2.values.max}")
    // stage-1 volume — |groups| dots per query, THE cost the merge
    // direction exists to bound — collapses back inside the √k band
    assert(occ2.size <= 2 * targetG2 && occ2.size < groupsBefore,
      s"group count must return to the √k regime: $groupsBefore -> ${occ2.size}"
        + s" (band ${2 * targetG2})")
    assert(IvfIndex.maintainGroups(spark, root) == 0,
      "a merged-in-band level must make the next group sweep a strict no-op")
    // serve still healthy through the merged level: every query answered,
    // and the two-level selection stays cheaper than the flat scan
    val servedShrunk = IvfIndex.probeCandidatesTwoLevel(spark, root, q)
      .groupBy($"q_id").count()
    assert(servedShrunk.count() == q.count(),
      "the two-level probe must answer every query through the merged level")
    val flatS = time(IvfIndex.probeCandidates(spark, root, q).count())
    val twoS = time(IvfIndex.probeCandidatesTwoLevel(spark, root, q).count())
    info(f"post-shrink $kept-cell probe: flat $flatS%.2f s, two-level $twoS%.2f s, "
      + s"$groupsBefore -> ${occ2.size} groups")
  }

  test("a stuck split must not starve the merge direction; a degenerate rename burns no commit") {
    // the starvation corner: one over-band group CANNOT split (identical
    // centroid vectors — the duplicate-vector rename case the stall
    // guard exists for) while under-band groups need dissolving. The
    // split pass must SKIP (without committing a pure-rename rewrite)
    // and hand the round to the merge pass, not exit the sweep — else
    // stage-1 cost stays drifted forever on exactly the indexes that
    // need repair most.
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivf_starve_").toString
    // the index stores vectors as array<double> (vec_dot's input type)
    val u = vec(1).map(_.toDouble)
    val w = vec(100).map(_.toDouble)
    def nearW(seed: Long): Seq[Double] =
      w.zip(vec(seed)).map { case (a, b) => a + 0.05 * b }
    // k=23 -> targetG=5, target=5, hi band >10, lo band <2.5:
    // gid 1 over-band (13 members, ALL ce identical -> split is a pure
    // rename), gid 20 in-band (8), gids 30/31 under-band singletons
    // whose vectors sit near w, so their keeper argmax is decidable
    val cents =
      (1L to 13L).map(c => (c, u, 0L)) ++
        (20L to 27L).map(c => (c, nearW(c), 0L)) ++
        Seq((30L, nearW(30L), 0L), (31L, nearW(31L), 0L))
    new VersionedTable(spark, s"$root/centroids")
      .write(cents.toDF("cid", "ce", "gen"), "spec-starve")
    val groups =
      (1L to 13L).map(c => (c, 1L, u)) ++
        (20L to 27L).map(c => (c, 20L, w)) ++
        Seq((30L, 30L, nearW(30L)), (31L, 31L, nearW(31L)))
    val groupsT = new VersionedTable(spark, s"$root/groups")
    groupsT.write(groups.toDF("cid", "gid", "ge"), "spec-starve")
    val v0 = groupsT.versions.max

    val acted = IvfIndex.maintainGroups(spark, root)
    assert(acted == 2, s"both under-band singletons must dissolve, got $acted")
    val g = new VersionedTable(spark, s"$root/groups").read()
      .select($"cid", $"gid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(g.length == 23 && g.map(_._1).toSet.size == 23,
      "every centroid must stay reachable through exactly one group")
    val occ = g.groupBy(_._2).view.mapValues(_.size).toMap
    assert(occ == Map(1L -> 13, 20L -> 10),
      s"singletons must merge into the near keeper while the stuck group " +
        s"is left intact, got $occ")
    // the rename round must NOT have committed: exactly ONE new version
    // (the merge write) on the whole sweep
    assert(new VersionedTable(spark, s"$root/groups").versions.max == v0 + 1,
      "a degenerate rename split must skip its table rewrite")
    assert(IvfIndex.maintainGroups(spark, root) == 0,
      "with the merges done and the split still stuck, the sweep is a no-op")
  }

  test("a steady-state covering break throws the invariant diagnosis; it is not masked by the storm degrade") {
    // the broken-vs-storm discriminator: every steady and crash-debris
    // state is covering by construction, so a centroid with no groups
    // row under version numbers that stayed STABLE across the whole
    // retry ladder is CORRUPTION — the probe must throw naming it, not
    // silently serve the flat plan the tripwire forbids. The ladder IS
    // the discriminating window (a live sweep's two table commits can
    // straddle any single backoff step), so the diagnosis must arrive
    // only after the full ~6 s of backoff has given a slow writer its
    // chance.
    import spark.implicits._
    val dir = writeCorpus(1L to 137L)
    val root = IvfIndex.ensure(spark, dir)
    val centsT = new VersionedTable(spark, s"$root/centroids")
    val head = centsT.read()
    val phantomCid = head.agg(max($"cid")).collect()(0).getLong(0) + 1000L
    val phantom = head.limit(1)
      .select(lit(phantomCid).as("cid"), $"ce",
        $"gen") // steady-state shape: same schema, no matching groups row
    centsT.write(head.unionByName(phantom), "spec-corrupt")
    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    val t0 = System.nanoTime()
    val err = intercept[RuntimeException](
      IvfIndex.probeCandidatesTwoLevel(spark, root, q).count())
    val sec = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage.contains("covering invariant is broken"),
      s"the stable-pair failure must carry the corruption diagnosis: ${err.getMessage}")
    assert(err.getMessage.contains("STABLE"),
      s"the diagnosis must name the stable version pair: ${err.getMessage}")
    // the full ladder must have run first: throwing earlier would race
    // a live writer whose two commits straddle a backoff step
    assert(sec >= 6.0,
      f"the diagnosis must wait out the full retry ladder, took $sec%.1f s")
  }

  test("ensure() caches by corpus fingerprint — no rebuild on second call") {
    val dir = writeCorpus(1L to 120L)
    val root1 = IvfIndex.ensure(spark, dir)
    val v1 = new VersionedTable(spark, s"$root1/cells").versions
    val root2 = IvfIndex.ensure(spark, dir)
    assert(root1 == root2, "same corpus must resolve to the same index")
    assert(new VersionedTable(spark, s"$root2/cells").versions == v1,
      "second ensure() must not write new versions")
    // a CHANGED corpus gets a different root (stale-index guard)
    Files.delete(java.nio.file.Paths.get(dir, "embeddings.parquet")
      .toFile.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath)
    (1L to 121L).map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(IvfIndex.indexRoot(dir) != root1,
      "regenerated corpus must fingerprint to a fresh index root")
  }

  test("two-level probe recall vs the single-level probe stays high") {
    // the coarse level restricts which centroids a query may probe —
    // the recall cost of that routing must stay bounded (the t30-vs-t20
    // gate pattern). Measured on the shipped sf0.001 corpus: mean top-5
    // overlap 0.87; gate at 0.70 to absorb regenerated-testdata drift.
    val d = "/root/testdata/sf0.001"
    def top5(name: String): Map[Long, Seq[Long]] =
      SparkEntry.queries(name)(spark, d)
        .select($"q_id", $"vec_id", $"rn").collect()
        .groupBy(_.getLong(0))
        .map { case (q, rs) =>
          (q, rs.sortBy(_.getLong(2)).map(_.getLong(1)).toSeq)
        }
    val one = top5("e14_ann_ivf_persisted")
    val two = top5("e15_ann_ivf_two_level")
    assert(one.keySet == two.keySet, "query sets must match")
    val overlaps = one.keys.toSeq.map { q =>
      (one(q).toSet intersect two(q).toSet).size.toDouble / one(q).size
    }
    val mean = overlaps.sum / overlaps.size
    info(f"mean top-5 overlap e15 vs e14: $mean%.3f over ${overlaps.size} queries")
    assert(mean >= 0.70, f"two-level routing lost too much recall: $mean%.3f")
  }

  test("GDPR erasure reaches the index: probes never return erased ids and equal a reduced-corpus assignment; compact hard-deletes") {
    val dir = writeCorpus(1L to 300L)
    val erased = "vec_id % 7 = 3"
    val root = IvfIndex.ensureErased(spark, dir, erased)

    // 1. the erased rows are gone from the head (logical delete applies
    //    at read), and a probe can never return one
    val remaining = IvfIndex.cells(spark, root)
    assert(remaining.filter(expr(erased)).count() == 0,
      "erased vectors must not survive in the inverted lists")
    val q = remaining.filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    val probed = IvfIndex.probeCandidates(spark, root, q)
    assert(probed.filter(expr(erased)).count() == 0,
      "a probe of the erased index must never return an erased id")

    // 2. parity: the erased head equals assigning the REDUCED corpus
    //    from scratch against the same pinned centroids (per-vector
    //    assignment is independent, so erasure ≡ reduced-corpus build
    //    under a frozen quantizer)
    val reduced = IvfIndex.normalized(
      (1L to 300L).filterNot(_ % 7 == 3).map(i => (i, vec(i))).toDF("vec_id", "embedding"))
    val want = IvfIndex.assignCells(reduced, IvfIndex.centroids(spark, root))
    assert(assignmentsOf(remaining) == assignmentsOf(want),
      "erased index must equal a reduced-corpus assignment against pinned centroids")

    // 3. the base index is untouched (e14/e15/e16 share it)
    val baseRoot = IvfIndex.ensure(spark, dir)
    assert(IvfIndex.cells(spark, baseRoot).filter(expr(erased)).count() > 0,
      "erasure must act on the cached erased twin, never the shared base index")

    // 4. the audit trail: pre-erasure versions still time-travel, and
    //    compact() materializes the deletion physically (the VACUUM-style
    //    hard-delete step a retention deadline forces)
    val ct = new VersionedTable(spark, s"$root/cells")
    val pre = ct.versions.max - 1
    assert(ct.read(Some(pre)).filter(expr(erased)).count() > 0,
      "time travel must still audit the pre-erasure version")
    ct.compact()
    val physical = spark.read.parquet(ct.versionDir(ct.versions.max).toString)
    assert(physical.filter(expr(erased)).count() == 0,
      "compact must materialize the erasure — no erased bytes in the head data files")
  }

  test("incremental append through the change feed equals from-scratch assignment") {
    // corpus lives as a versioned table with CDF — the d14/st14 admission
    // shape applied to the index: new rows arrive as change-feed inserts
    val baseIds = 1L to 200L
    val newIds = 501L to 560L
    val dir = writeCorpus(baseIds)
    val root = IvfIndex.ensure(spark, dir)
    val v0 = new VersionedTable(spark, s"$root/cells").versions.max

    // cast to the parquet read-back shape (nullable elements): the CDF
    // staging re-cast can't narrow containsNull on the round-trip
    def corpusDf(ids: Seq[Long]) = ids.map(i => (i, vec(i)))
      .toDF("vec_id", "embedding")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
    val corpusVt = new VersionedTable(spark,
      Files.createTempDirectory("graft_ivf_cdc_").toString + "/corpus")
    corpusVt.writeWithChangeFeed(corpusDf(baseIds), Seq("vec_id"))
    val v1 = corpusVt.appendWithChangeFeed(corpusDf(newIds))

    val inserts = corpusVt.changeFeed(fromVersion = v1)
      .filter(col(graft.ops.ChangeFeed.ChangeTypeCol) === "insert")
      .select($"vec_id", $"embedding")
    IvfIndex.append(spark, root, inserts)

    // parity: incremental result == assigning the WHOLE corpus at once
    // against the same pinned centroids
    val cents = IvfIndex.centroids(spark, root)
    val full = IvfIndex.normalized(
      (baseIds ++ newIds).map(i => (i, vec(i))).toDF("vec_id", "embedding"))
    val want = IvfIndex.assignCells(full, cents).select($"cid", $"vec_id")
    assert(assignmentsOf(IvfIndex.cells(spark, root)) == assignmentsOf(want),
      "append must equal from-scratch assignment against pinned centroids")

    // PQ parity: appended vectors' RESIDUALS encode against the FROZEN
    // codebook (FAISS IndexIVFPQ.add never re-trains) — the stored codes
    // must equal encoding the whole corpus at once against that codebook
    val wantCodes = IvfIndex.encodeCodes(
      IvfIndex.residualsOf(full, IvfIndex.assignCells(full, cents), cents),
      IvfIndex.codebook(spark, root))
    assert(codesOf(IvfIndex.cellCodes(spark, root)) == codesOf(wantCodes),
      "append codes must equal a whole-corpus residual encode against the frozen codebook")

    // the index itself is versioned: the append advanced the cells table,
    // and time travel still reads the pre-append inverted lists
    val ct = new VersionedTable(spark, s"$root/cells")
    assert(ct.versions.max > v0, "append must commit a new index version")
    assert(ct.read(Some(v0)).count() == baseIds.size,
      "time-travel must read the pre-append index")
    assert(ct.read(None).count() == baseIds.size + newIds.size)
  }

  test("appendIdempotent: a replayed batch id commits once") {
    // the foreachBatch retry contract: the engine may re-invoke a batch
    // id after a failure — the keyed append must make the replay a
    // strict no-op (no new version, no new rows), while a FRESH id
    // appends normally
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 200L))
    def batchOf(ids: Seq[Long]) = ids.map(i => (i, vec(i), (i % 3).toInt))
      .toDF("vec_id", "embedding", "label")
    val v1 = IvfIndex.appendIdempotent(spark, root, batchOf(501L to 520L), "b7")
    val n1 = IvfIndex.cells(spark, root).count()
    assert(IvfIndex.appendIdempotent(spark, root, batchOf(501L to 520L), "b7") == v1,
      "a replayed batch key must return the existing commit, not re-append")
    assert(IvfIndex.cells(spark, root).count() == n1,
      "a replayed batch must not change the index")
    val v2 = IvfIndex.appendIdempotent(spark, root, batchOf(521L to 530L), "b8")
    assert(v2 > v1 && IvfIndex.cells(spark, root).count() == n1 + 10,
      "a fresh batch key must append normally")
  }

  test("filtered probe: label rides the index; the predicate pre-filters, never displaces matching neighbors") {
    val dir = writeCorpus(1L to 300L)
    val root = IvfIndex.ensure(spark, dir)

    // the stored metadata column equals the corpus labels, row for row
    val stored = IvfIndex.cells(spark, root).select($"vec_id", $"label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored.size == 300 && stored.forall { case (id, l) => l == (id % 3).toInt },
      "index must persist each vector's label verbatim")

    // pre-filter semantics: a filtered probe equals the unfiltered probe
    // restricted to matching candidates — same probed cells, same scores,
    // nothing displaced and nothing leaked (the e12 contract served)
    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne"))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select($"q_id", $"vec_id", $"cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val unfiltered = rows(IvfIndex.probeCandidates(spark, root, q))
    val filtered = rows(IvfIndex.probeCandidates(spark, root, q,
      candWhere = Some("label = 1")))
    assert(filtered == unfiltered.filter(_._2 % 3 == 1),
      "filtered probe must equal the unfiltered probe restricted to matching candidates")
    assert(filtered.nonEmpty && filtered.size < unfiltered.size,
      "the filter must engage without emptying the result")
  }

  test("streamed maintenance equals the built-at-once index: multi-batch appends, identical member set and codes") {
    // st18's parity gate: erase a slice, stream it back in THREE
    // rate-limited micro-batches (one file per trigger), and the twin
    // must equal the base index bit-for-bit — assignment, label, AND
    // PQ codes (batch-split invariance of IndexIVF.add, proven across
    // real micro-batch boundaries, not the single-batch degenerate)
    val ids = 1L to 300L
    val dir = writeCorpus(ids)
    val fullRoot = IvfIndex.ensure(spark, dir)
    val streamed = IvfIndex.deriveTwin(spark, dir, "spec-streamed") { tmp =>
      IvfIndex.delete(spark, tmp, "vec_id % 6 = 1")
      new VersionedTable(spark, s"$tmp/cells").compact()
      val feed = Files.createTempDirectory("graft_ivf_feed_").toString
      ids.filter(_ % 6 == 1).map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label")
        .repartition(3).write.mode("overwrite").parquet(feed)
      val schema = spark.read.parquet(feed).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(feed)
      graft.streaming.Streams.runBatchwise(stream) { batch =>
        IvfIndex.append(spark, tmp, batch)
        batch.select($"vec_id")
      }
    }
    // the stream really arrived in several commits, not one degenerate batch
    val appends = new VersionedTable(spark, s"$streamed/cells").history()
      .filter($"operation" === "ivf-append").count()
    assert(appends == 3, s"expected 3 micro-batch appends, saw $appends")
    def members(root: String): Set[(Long, Long, Int)] =
      IvfIndex.cells(spark, root).select($"cid", $"vec_id", $"label")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(members(streamed) == members(fullRoot),
      "streamed twin must equal the built-at-once index member-for-member")
    assert(codesOf(IvfIndex.cellCodes(spark, streamed))
        == codesOf(IvfIndex.cellCodes(spark, fullRoot)),
      "streamed twin's PQ codes must equal the built-at-once encode")
  }

  test("cell split: members preserved, nearest-seed reassignment, fragments shrink, history audits the parent") {
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    val before = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val heavy = before.groupBy(_._1).view.mapValues(_.length).toSeq
      .sortBy { case (c, n) => (-n, c) }.head._1
    val parentMembers = before.collect { case (c, v) if c == heavy => v }.toSet
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val v0 = cellsT.versions.max

    val (s1, s2) = IvfIndex.split(spark, root, heavy)

    // the parent cid is retired everywhere; its members land in exactly
    // the two fragments, both strictly smaller — nothing else moves
    val after = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!after.exists(_._1 == heavy), "parent cell must be retired")
    val frag1 = after.collect { case (c, v) if c == s1 => v }.toSet
    val frag2 = after.collect { case (c, v) if c == s2 => v }.toSet
    assert((frag1 ++ frag2) == parentMembers && (frag1 & frag2).isEmpty,
      "fragments must partition the parent's members exactly")
    assert(frag1.nonEmpty && frag2.nonEmpty
        && frag1.size < parentMembers.size && frag2.size < parentMembers.size,
      "both fragments must be non-empty and strictly smaller than the parent")
    assert(after.filterNot(t => t._1 == s1 || t._1 == s2).toSet
        == before.filterNot(_._1 == heavy).toSet,
      "vectors outside the split cell must not move")

    // each member sits at its NEAREST seed (the shared argmax, ties to
    // the lowest id) — recomputed independently from the stored vectors
    val members = cellsT.read(Some(v0)).filter($"cid" === heavy)
      .select($"vec_id", $"ne")
    val want = IvfIndex.assignCells(members,
        IvfIndex.centroids(spark, root).filter($"cid".isin(s1, s2)))
      .select($"cid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.filter(t => t._1 == s1 || t._1 == s2).toSet == want,
      "reassignment must equal the nearest-seed argmax")

    // moved members' codes were RE-ENCODED against their new centroid
    // (by_residual: the residual changed with the cell) — recomputed
    // independently from the shared definitions and the frozen codebook
    val movedAssign = IvfIndex.cells(spark, root)
      .filter($"cid".isin(s1, s2)).select($"vec_id", $"cid")
    val wantMovedCodes = IvfIndex.encodeCodes(
      IvfIndex.residualsOf(
        members, movedAssign, IvfIndex.centroids(spark, root)),
      IvfIndex.codebook(spark, root))
    assert(codesOf(IvfIndex.cellCodes(spark, root)
        .filter($"vec_id".isin(parentMembers.toSeq: _*)))
        == codesOf(wantMovedCodes),
      "split must re-encode moved members' residual codes against the frozen codebook")

    // centroids/groups follow: fresh ids present, parent gone — so the
    // one-level AND two-level probe selection both see the split
    val cents = IvfIndex.centroids(spark, root).select($"cid")
      .collect().map(_.getLong(0)).toSet
    assert(cents.contains(s1) && cents.contains(s2) && !cents.contains(heavy))
    val gids = IvfIndex.groups(spark, root).select($"cid")
      .collect().map(_.getLong(0)).toSet
    assert(gids.contains(s1) && gids.contains(s2) && !gids.contains(heavy))

    // the split is three versioned commits, and time travel still reads
    // the pre-split inverted lists
    assert(cellsT.read(Some(v0)).filter($"cid" === heavy).count()
        == parentMembers.size,
      "time travel must audit the pre-split index")
  }

  test("maintain converges on a separable hot cell and is idempotent once in band") {
    // planted hot cell: 300 of 400 vectors cluster tightly around one
    // base direction with per-id perturbations — SEPARABLE, unlike the
    // exact duplicates no quantizer can spread (maintain's doc note;
    // dedup is d1's job). Sampled ('cent:') ids keep their diverse
    // vectors so the cluster lands on whichever existing centroids are
    // nearest instead of minting near-parallel ones (the ScaleGen
    // hot-twin rule).
    val ids = 1L to 400L
    import spark.implicits._
    val emb0 = ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val sampled = graft.queries.Embeddings.sqrtSample(emb0, emb0)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val base = vec(7L)
    val dir = Files.createTempDirectory("graft_ivf_maint_").toString
    ids.map { i =>
      val v =
        if (i <= 300 && !sampled(i))
          base.zip(vec(i)).map { case (b, p) => b + 0.02f * p }
        else vec(i)
      (i, v, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root = IvfIndex.ensure(spark, dir)

    def sizes(): Map[Long, Long] = IvfIndex.cells(spark, root)
      .groupBy($"cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def kCents(): Long = IvfIndex.centroids(spark, root).count()
    def band(): Long = {
      val t = (400L + kCents() - 1) / kCents()
      t * IvfIndex.MaintainHiNum / IvfIndex.MaintainHiDen
    }
    val before = IvfIndex.cells(spark, root).select($"vec_id", $"label")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(sizes().values.max > band(),
      s"the planted cluster must produce an out-of-band cell: ${sizes().values.max} vs ${band()}")

    // loop sweeps to convergence (merges disabled, loNum = 0: the
    // convergence claim is the hi band; the lo side is exercised by
    // e21's oracle and the cellstats lifecycle spec)
    var rounds = 0
    var acted = true
    while (acted && rounds < 10) {
      val (s, m) = IvfIndex.maintain(spark, root,
        IvfIndex.MaintainHiNum, IvfIndex.MaintainHiDen, 0, 1)
      acted = s + m > 0
      if (acted) rounds += 1
    }
    val fin = sizes()
    assert(fin.values.max <= band(),
      s"maintain must converge to no cell above band: max ${fin.values.max} vs ${band()} after $rounds sweeps")
    info(s"converged in $rounds sweeps: max cell ${fin.values.max}, band ${band()}, k ${kCents()}")

    // membership preserved, no duplicates, labels intact
    val afterRows = IvfIndex.cells(spark, root).select($"vec_id", $"label")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(afterRows.distinct.size == afterRows.size,
      "maintain must never duplicate a member")
    assert(afterRows.toSet == before, "maintain must preserve the member set")

    // idempotence: a converged index makes the sweep a strict no-op
    val cellsV = new VersionedTable(spark, s"$root/cells").versions.max
    val groupsV = new VersionedTable(spark, s"$root/groups").versions.max
    assert(IvfIndex.maintain(spark, root,
      IvfIndex.MaintainHiNum, IvfIndex.MaintainHiDen, 0, 1) == (0, 0),
      "re-running maintain on a converged index must report zero actions")
    assert(new VersionedTable(spark, s"$root/cells").versions.max == cellsV,
      "a zero-action sweep must commit nothing")
    assert(new VersionedTable(spark, s"$root/groups").versions.max == groupsV,
      "a zero-action sweep must leave the group level uncommitted too")

    // the GROUP level after heavy cell maintenance: every live centroid
    // sits in exactly one group, all rows of a gid carry the identical
    // group vector, and no group is above the occupancy band (maintain
    // runs maintainGroups to convergence at every sweep's tail)
    val gRows = new VersionedTable(spark, s"$root/groups").read()
      .select($"cid", $"gid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val liveCids = IvfIndex.centroids(spark, root).select($"cid")
      .collect().map(_.getLong(0)).toSet
    assert(gRows.map(_._1).toSet == liveCids && gRows.length == liveCids.size,
      "every live centroid must appear in exactly one group after maintenance")
    val occ = gRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val kG = occ.values.sum
    val tG = math.min(math.ceil(math.sqrt(kG.toDouble)).toLong, IvfIndex.MaxCoarse)
    val targetOcc = (kG + tG - 1) / tG
    assert(occ.values.max * IvfIndex.GroupHiDen <= targetOcc * IvfIndex.GroupHiNum,
      s"no group may stay above the structural occupancy band: occ=$occ target=$targetOcc")
    assert(IvfIndex.coarseLevel(spark, root).count() == occ.size.toLong,
      "coarseLevel must serve exactly the live distinct groups")
  }

  test("maintainGroups splits an over-occupied coarse group atomically and converges") {
    // hand-built two-level state (the many-cell spec's trick): 64
    // centroids, 5 groups, one hoarding 44 members — the exact shape
    // cell maintenance produces when a hot region keeps minting
    // centroids into its parents' groups. maintainGroups must bring the
    // max group under the band in one call, preserve the centroid
    // membership exactly, keep each gid's group vector consistent, and
    // commit ONE atomic groups-table version per internal round — a
    // live two-level probe never observes a half-split level.
    import spark.implicits._
    val root = Files.createTempDirectory("graft_ivf_groups_").toString
    // UNIT-NORM vectors, like every real ce (the normalized gate):
    // self-dot = 1 = max, so a seed always captures itself — raw vectors
    // would let a bigger neighbor outscore a seed's own vector and
    // degenerate the split
    def unit(seed: Long): Seq[Double] = {
      val raw = vec(seed).map(_.toDouble)
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val cents = (1L to 64L).map(i => (i, unit(i)))
      .toDF("cid", "ce").localCheckpoint(true)
    new VersionedTable(spark, s"$root/centroids")
      .write(cents.withColumn("gen", lit(0L)), "spec-build")
    val geOf = (1L to 5L).map(g => g -> unit(g)).toMap
    val memb = (1L to 64L).map { i =>
      val gid = if (i <= 44) 1L else 2L + (i % 4L)
      (i, gid, geOf(gid))
    }.toDF("cid", "gid", "ge")
    new VersionedTable(spark, s"$root/groups").write(memb, "spec-build")

    val v0 = new VersionedTable(spark, s"$root/groups").versions.max
    val splits = IvfIndex.maintainGroups(spark, root)
    assert(splits >= 1, "the 44-member group must be detected and split")
    val v1 = new VersionedTable(spark, s"$root/groups").versions.max
    // one atomic commit per internal round — never a partial delete +
    // append pair (each round rewrites the COMPLETE state in one write)
    assert(v1 - v0 >= 1,
      "group maintenance must commit at least one version")

    val after = new VersionedTable(spark, s"$root/groups").read()
      .select($"cid", $"gid", $"ge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
    assert(after.map(_._1).toSet == (1L to 64L).toSet
        && after.length == 64,
      "membership must be preserved exactly — every centroid once")
    // per-gid vector consistency
    after.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).distinct.size == 1,
        s"group $g must carry ONE group vector on all its rows")
    }
    // structural target at k=64: √64 = 8 groups of 8 — band is >16
    val occ = after.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(occ.values.max <= 16L,
      s"post-maintenance occupancy must be within the structural band: $occ")
    assert(occ.size > 5, "a split must have grown the group count")
    // seed-derived gids never collide with surviving original gids: the
    // dissolved parent (1) is gone, originals 2..5 survive untouched,
    // and every minted gid is a member cid OUTSIDE the original gid set
    assert(!occ.keySet.contains(1L), "the split parent group must dissolve")
    assert(Set(2L, 3L, 4L, 5L).subsetOf(occ.keySet),
      "untouched groups must survive the rebalance")
    assert((occ.keySet -- Set(2L, 3L, 4L, 5L)).forall(_ >= 6L),
      s"minted gids must come from seed-eligible member cids: ${occ.keySet}")

    // idempotence: a balanced level re-runs as a strict no-op
    val vStable = new VersionedTable(spark, s"$root/groups").versions.max
    assert(IvfIndex.maintainGroups(spark, root) == 0,
      "a balanced group level must report zero splits")
    assert(new VersionedTable(spark, s"$root/groups").versions.max == vStable,
      "a zero-split call must commit nothing")
  }

  test("maintain invariants hold after EVERY sweep on varied corpora: membership, no duplicates, reachability, stats parity") {
    // property-style: three corpus shapes (uniform, half-clustered,
    // two-cluster) — after every single sweep, not just at convergence,
    // the index must serve exactly the original member set (no loss, no
    // duplicate), every stored row must sit in a probeable cell, and
    // the stats artifact must match a recount. Convergence + strict
    // idempotence are asserted at the end of each loop.
    import spark.implicits._
    val shapes: Seq[(String, Long => Seq[Float])] = Seq(
      ("uniform", i => vec(i)),
      ("half-clustered", i =>
        if (i % 2 == 0) vec(7L).zip(vec(i)).map { case (b, p) => b + 0.05f * p }
        else vec(i)),
      ("two-cluster", i =>
        if (i % 3 == 0) vec(11L).zip(vec(i)).map { case (b, p) => b + 0.03f * p }
        else if (i % 3 == 1) vec(13L).zip(vec(i)).map { case (b, p) => b + 0.03f * p }
        else vec(i)))
    for ((tag, gen) <- shapes) {
      val ids = 1L to 360L
      val dir = Files.createTempDirectory(s"graft_ivf_prop_").toString
      ids.map(i => (i, gen(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val root = IvfIndex.ensure(spark, dir)
      val want = ids.map(i => (i, (i % 3).toInt)).toSet
      def invariants(sweep: Int): Unit = {
        val rows = IvfIndex.cells(spark, root).select($"cid", $"vec_id", $"label")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
        assert(rows.map(_._2).distinct.size == rows.size,
          s"$tag sweep $sweep: duplicate member served")
        assert(rows.map(t => (t._2, t._3)).toSet == want,
          s"$tag sweep $sweep: member set changed")
        val cents = IvfIndex.centroids(spark, root).select($"cid")
          .collect().map(_.getLong(0)).toSet
        assert(rows.forall(t => cents(t._1)),
          s"$tag sweep $sweep: a stored row sits in an unprobeable cell")
        val stats = new VersionedTable(spark, s"$root/cellstats").read()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val counted = rows.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val keys = stats.keySet ++ counted.keySet
        assert(keys.forall(c => stats.getOrElse(c, 0L) == counted.getOrElse(c, 0L)),
          s"$tag sweep $sweep: stats artifact diverged from a recount")
      }
      invariants(0)
      var sweeps = 0
      var acted = true
      while (acted && sweeps < 12) {
        val (s, m) = IvfIndex.maintain(spark, root)
        acted = s + m > 0
        if (acted) { sweeps += 1; invariants(sweeps) }
      }
      assert(!acted, s"$tag: maintain must converge within 12 sweeps")
      val v = new VersionedTable(spark, s"$root/cells").versions.max
      assert(IvfIndex.maintain(spark, root) == (0, 0)
          && new VersionedTable(spark, s"$root/cells").versions.max == v,
        s"$tag: a converged index must make the sweep a strict no-op")
      info(s"$tag: converged in $sweeps sweeps")
    }
  }

  test("st19: streamed appends interleave with maintain sweeps across micro-batch boundaries") {
    // Production runs BOTH loops at once: a foreachBatch ingest
    // appending micro-batches while the maintenance policy sweeps
    // between them — the composition the gen-epoch flip and the
    // entry-guard compacts exist for (st18 proves appends alone, e21
    // proves maintenance alone; this drives them together). 4 stream
    // files → 4 micro-batches; a TIGHT-band maintain (e21's 5/4, 3/5)
    // runs after every batch's idempotent append, and each batch's
    // body observes the post-sweep head. Contract: no member ever
    // served twice in any batch window, the already-ingested set never
    // loses a member, the final member set is exactly initial ∪
    // streamed, maintenance really acted mid-stream (the flip count
    // advanced), and the stats artifact still matches a recount.
    val initIds = 1L to 240L
    val dir = writeCorpus(initIds)
    val root = IvfIndex.ensure(spark, dir)
    val centsV0 = new VersionedTable(spark, s"$root/centroids").versions.max
    // arrivals form a hot cluster (the maintain-convergence corpus
    // rule) so the interleaved sweeps actually split cells mid-stream
    val base = vec(7L)
    val newIds = 241L to 440L
    val srcDir = Files.createTempDirectory("graft_st19_src_").toString
    newIds.map { i =>
      (i, base.zip(vec(i)).map { case (b, p) => b + 0.02f * p }, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val observed = graft.streaming.Streams.runBatchwiseWithId(stream) {
      (batch, key) =>
        IvfIndex.appendIdempotent(spark, root, batch, key)
        IvfIndex.maintain(spark, root, 5, 4, 3, 5)
        IvfIndex.cells(spark, root)
          .groupBy(col("vec_id")).count()
          .select(col("vec_id"), col("count").as("n"), lit(key).as("bkey"))
    }
    val rows = observed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val windows = rows.groupBy(_._3)
    assert(windows.size == 4, s"expected 4 micro-batch windows, got ${windows.keySet}")
    windows.foreach { case (k, ws) =>
      assert(ws.forall(_._2 == 1L),
        s"batch $k: a member was served twice mid-composition")
      val members = ws.map(_._1).toSet
      assert(initIds.toSet.subsetOf(members),
        s"batch $k: an already-ingested member disappeared")
      assert(members.subsetOf(initIds.toSet ++ newIds),
        s"batch $k: a phantom member appeared")
    }
    // the union of window sizes must strictly grow to the exact final set
    val sizes = windows.values.map(_.length).toSeq.sorted
    assert(sizes.distinct.size == 4 && sizes.max == 440,
      s"batch windows must strictly accumulate to the full corpus: $sizes")
    val finalSet = assignmentsOf(IvfIndex.cells(spark, root)).map(_._2)
    assert(finalSet == (initIds.toSet ++ newIds),
      "final member set must be exactly initial ∪ streamed")
    assert(new VersionedTable(spark, s"$root/centroids").versions.max > centsV0,
      "maintenance must have flipped at least one sweep mid-stream")
    // stats artifact parity after the full composition
    val stats = new VersionedTable(spark, s"$root/cellstats").read()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = IvfIndex.cells(spark, root).groupBy($"cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keys = stats.keySet ++ counted.keySet
    assert(keys.forall(c => stats.getOrElse(c, 0L) == counted.getOrElse(c, 0L)),
      "stats artifact diverged from a recount after the composition")
  }

  test("st20: erasure refuses a mid-flight restructuring window and composes cleanly between sweeps") {
    // The erase×maintain production pair (e17's GDPR erasure racing the
    // always-on sweep loop st19 proves for appends): inside a staged
    // sequence the moved members' gen+1 copies are RE-KEYED (fresh cid),
    // so an erase predicate landing mid-window can miss them entirely —
    // resurrection at the flip — and even a matching predicate leaves
    // the sequence's trailing stats commit counting erased rows. The
    // contract is an enforced writer lock on the restructuring WAL
    // marker: LOUD refusal mid-window (nothing committed), clean
    // composition between sweeps (erased members absent from the serve
    // before the next flip AND after it, member set otherwise exactly
    // preserved, stats matching a recount).
    import spark.implicits._
    val ids = 1L to 400L
    val base = vec(7L)
    val sampled = graft.queries.Embeddings.sqrtSample(
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val dir = Files.createTempDirectory("graft_ivf_st20_").toString
    ids.map { i =>
      val v = if (i <= 300 && !sampled(i))
        base.zip(vec(i)).map { case (b, p) => b + 0.02f * p } else vec(i)
      (i, v, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root = IvfIndex.ensure(spark, dir)
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val statsT = new VersionedTable(spark, s"$root/cellstats")

    // (1) the LOCK: a staged sequence is in flight — delete must refuse
    // loudly BEFORE committing anything (cells and stats versions pinned)
    val vCells = cellsT.versions.max
    val vStats = statsT.versions.max
    IvfIndex.beginRestructure(root)
    val err = intercept[IllegalArgumentException](
      IvfIndex.delete(spark, root, "vec_id % 7 = 3"))
    assert(err.getMessage.contains("restructuring sequence is in flight"),
      s"the refusal must name the in-flight window, got: ${err.getMessage}")
    assert(cellsT.versions.max == vCells && statsT.versions.max == vStats,
      "a refused erase must not have committed to any index table")
    IvfIndex.endRestructure(root)

    // (2) the COMPOSITION: erase between sweeps, then let maintenance
    // flip — erased members absent from both serves, nothing else lost
    // or duplicated, stats honest after the whole pair
    val erased = IvfIndex.delete(spark, root, "vec_id % 7 = 3")
    assert(erased > 0, "the erase predicate must match members")
    val isErased = (id: Long) => id % 7 == 3
    val liveAfterErase = assignmentsOf(IvfIndex.cells(spark, root)).map(_._2)
    assert(liveAfterErase == ids.filterNot(isErased).toSet,
      "erase must remove exactly the matching members")
    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    def servedIds(): Set[Long] =
      IvfIndex.probeCandidates(spark, root, q).select($"vec_id")
        .collect().map(_.getLong(0)).toSet
    assert(!servedIds().exists(isErased),
      "pre-sweep serve must never return an erased member")
    val centsT = new VersionedTable(spark, s"$root/centroids")
    val vCent = centsT.versions.max
    var acted = true
    var sweeps = 0
    while (acted && sweeps < 10) {
      val (s, m) = IvfIndex.maintain(spark, root,
        IvfIndex.MaintainHiNum, IvfIndex.MaintainHiDen, 0, 1)
      acted = s + m > 0; if (acted) sweeps += 1
    }
    assert(sweeps >= 1 && centsT.versions.max > vCent,
      "the planted cluster must force at least one post-erase flip")
    assert(assignmentsOf(IvfIndex.cells(spark, root)).map(_._2) == liveAfterErase,
      "the flip must neither resurrect an erased member nor lose a live one")
    assert(!servedIds().exists(isErased),
      "post-flip serve must never return an erased member")
    val stats = statsT.read()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = IvfIndex.cells(spark, root).groupBy($"cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keys = stats.keySet ++ counted.keySet
    assert(keys.forall(c => stats.getOrElse(c, 0L) == counted.getOrElse(c, 0L)),
      "stats artifact must match a recount after the erase×maintain pair")
  }

  test("vacuumIndex bounds the maintenance history; time travel works inside the window, serve is unchanged") {
    // maintenance churns versions on every index table — the retention
    // policy must bound that history WITHOUT touching the head: probes
    // identical before/after, audit-by-time-travel intact for kept
    // versions, and a dropped version fails loudly instead of serving
    // stale files.
    import spark.implicits._
    val ids = 1L to 400L
    val base = vec(7L)
    val sampled = graft.queries.Embeddings.sqrtSample(
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      ids.map(i => (i, vec(i))).toDF("vec_id", "embedding"))
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    val dir = Files.createTempDirectory("graft_ivf_vac_").toString
    ids.map { i =>
      val v = if (i <= 300 && !sampled(i))
        base.zip(vec(i)).map { case (b, p) => b + 0.02f * p } else vec(i)
      (i, v, (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val root = IvfIndex.ensure(spark, dir)
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val vPre = cellsT.versions.max
    val preSnap = assignmentsOf(IvfIndex.cells(spark, root))
    var acted = true
    var sweeps = 0
    while (acted && sweeps < 10) {
      val (s, m) = IvfIndex.maintain(spark, root,
        IvfIndex.MaintainHiNum, IvfIndex.MaintainHiDen, 0, 1)
      acted = s + m > 0; if (acted) sweeps += 1
    }
    assert(sweeps >= 1, "the planted cluster must force at least one sweep")
    assert(cellsT.versions.max > vPre, "sweeps must have committed versions")

    val q = IvfIndex.cells(spark, root).filter($"vec_id" % 10 === 0)
      .select($"vec_id".as("q_id"), $"ne".as("q_ne")).localCheckpoint(true)
    def serve(): Set[(Long, Long)] =
      IvfIndex.probeCandidates(spark, root, q).select($"q_id", $"vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = serve()

    // retention wide enough to keep vPre: time travel must still audit
    // the pre-maintenance assignment bit-for-bit
    val keepAll = (cellsT.versions.max - vPre + 1).toInt + 1
    IvfIndex.vacuumIndex(spark, root, keepLast = keepAll)
    assert(assignmentsOf(cellsT.read(versionAsOf = Some(vPre))
        .filter($"gen" <= 0L).select($"cid", $"vec_id", $"ne")) == preSnap,
      "time travel inside the retention window must audit the pre-maintenance index")

    // tight retention, in the SELF-APPLYING form: retention rides every
    // sweep (even this no-op (0,0) one), so an always-on sweep loop IS
    // the retention scheduler — history physically dropped, serve
    // unchanged, a dropped version fails loudly
    IvfIndex.maintain(spark, root, IvfIndex.MaintainHiNum,
      IvfIndex.MaintainHiDen, 0, 1, retainVersions = Some(1))
    assert(serve() == before, "retention must never change what the head serves")
    val err = intercept[Exception](cellsT.read(versionAsOf = Some(vPre)).count())
    assert(err.getMessage.toLowerCase.contains("vacuum"),
      s"a dropped version must fail loudly, got: ${err.getMessage}")
    // NOTE deliberately NOT asserted: vacuum's removed-list is "outside
    // the window", not "newly deleted" — a second pass re-reports the
    // same versions (idempotent dir deletion). The riding pass's effect
    // is proven by the failing vPre read + unchanged serve above.
  }

  test("cellstats artifact matches a recount after every lifecycle transition") {
    // the persisted per-cell load stats: every lifecycle commit maintains
    // them as an O(change) delta, stamped with the cells head version —
    // hot detection and the maintain policy read THIS instead of
    // re-scanning the lists per version. Contract: after each transition
    // the artifact equals an independent recount of the LIVE rows.
    val dir = writeCorpus(1L to 300L)
    val root = IvfIndex.ensure(spark, dir)
    def recount(): Map[Long, Long] =
      IvfIndex.cells(spark, root).groupBy($"cid").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def check(tag: String): Unit = {
      val rows = new VersionedTable(spark, s"$root/cellstats").read().collect()
      val head = new VersionedTable(spark, s"$root/cells").versions.max
      assert(rows.forall(_.getLong(2) == head),
        s"$tag: stats must be stamped with the cells head version")
      val a = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val r = recount()
      val keys = a.keySet ++ r.keySet
      assert(keys.forall(c => a.getOrElse(c, 0L) == r.getOrElse(c, 0L)),
        s"$tag: stats must match a recount\n  artifact: $a\n  recount:  $r")
    }
    check("build")
    IvfIndex.append(spark, root,
      (501L to 530L).map(i => (i, vec(i), (i % 3).toInt))
        .toDF("vec_id", "embedding", "label"))
    check("append")
    IvfIndex.delete(spark, root, "vec_id % 11 = 5")
    check("delete")
    new VersionedTable(spark, s"$root/cells").compact()
    val heavy = recount().toSeq.sortBy { case (c, n) => (-n, c) }.head._1
    IvfIndex.split(spark, root, heavy)
    check("split")
    new VersionedTable(spark, s"$root/cells").compact()
    val small = recount().toSeq.sortBy { case (c, n) => (n, c) }.head._1
    IvfIndex.merge(spark, root, small)
    check("merge")
  }

  test("merge is loss- AND duplicate-free in every intermediate window state") {
    // the round-12 asymmetry, deleted: re-homed rows used to land LIVE
    // before the parent retired, so a prober in the window could see a
    // candidate twice. Now they stage at gen+1 and ONE centroid commit
    // (parent out, gen+1 published) flips — replay every (cells version,
    // centroids version) combination a prober could observe and assert
    // each serves exactly the pre- or post-merge member set, never a
    // duplicate, never a loss.
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val centsT = new VersionedTable(spark, s"$root/centroids")
    val small = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.length).toSeq
      .sortBy { case (c, n) => (n, c) }.head._1
    val v0 = cellsT.versions.max
    val c0 = centsT.versions.max

    IvfIndex.merge(spark, root, small)
    assert(cellsT.versions.max == v0 + 2 && centsT.versions.max == c0 + 1,
      "merge must be exactly stage + flip + cleanup on a debris-free index")

    // what a prober at (cells vX, centroids cY) serves: head rows at or
    // below cY's published gen, restricted to cY's probeable cids —
    // exactly the gate cells()/probeSelect compose
    def visible(vx: Long, cy: Long): Seq[Long] = {
      val cents = centsT.read(Some(cy))
      val g = cents.agg(max($"gen")).head().getLong(0)
      val probeable = cents.select($"cid").collect().map(_.getLong(0)).toSet
      cellsT.read(Some(vx)).filter($"gen" <= g)
        .select($"cid", $"vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(t => probeable(t._1)).map(_._2).toSeq
    }
    val pre = visible(v0, c0)
    val post = visible(v0 + 2, c0 + 1)
    assert(pre.toSet == post.toSet, "merge must preserve the member set")
    // commit order: cells advances before the flip, cleanup after — the
    // windows a prober can land in
    for ((vx, cy, want, tag) <- Seq(
        (v0, c0, pre, "pre"),
        (v0 + 1, c0, pre, "staged-not-flipped"),
        (v0 + 1, c0 + 1, post, "flipped-not-cleaned"),
        (v0 + 2, c0 + 1, post, "cleaned"))) {
      val vis = visible(vx, cy)
      assert(vis.distinct.size == vis.size,
        s"$tag window must never serve a candidate twice")
      assert(vis.toSet == want.toSet,
        s"$tag window must serve exactly the ${if (want eq pre) "pre" else "post"}-merge member set")
    }
  }

  test("a flip never publishes another sequence's crash debris") {
    // simulate a crash mid-sequence exactly as a real one happens: the
    // in-flight marker is set (the WAL 'begin') and staged rows of
    // EVERY debris class are on the heads — a gen+1 copy of a live row
    // (merge/maintain staging), a fresh-cid copy (split/maintain seed
    // staging, the class a deterministic same-seed retry would
    // duplicate), and an orphan groups row. The next restructuring's
    // entry guard must retire all three before its flip.
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val groupsT = new VersionedTable(spark, s"$root/groups")
    val g = IvfIndex.publishedGen(spark, root)
    IvfIndex.beginRestructure(root)
    val phantomCid = 999999L
    cellsT.append(cellsT.read().limit(1)
      .withColumn("gen", lit(g + 1)), "ivf-merge")
    cellsT.append(cellsT.read().limit(1)
      .withColumn("cid", lit(phantomCid)), "ivf-split")
    groupsT.append(groupsT.read().limit(1)
      .withColumn("cid", lit(phantomCid)), "ivf-split")
    assert(cellsT.read().filter($"gen" > g || $"cid" === phantomCid).count() == 2,
      "debris must be staged invisible")

    // merge a REAL small cell (excluding the planted phantom, which the
    // guard is about to retire — picking IT would merge nothing)
    val small = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 != phantomCid)
      .groupBy(_._1).view.mapValues(_.length).toSeq
      .sortBy { case (c, n) => (n, c) }.head._1
    IvfIndex.merge(spark, root, small)

    // post-flip: the published epoch advanced, but no planted duplicate
    // rode it live, the phantom cell is gone everywhere, and the marker
    // was consumed
    val vis = IvfIndex.cells(spark, root).select($"vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(vis.distinct.size == vis.size,
      "the entry guard must retire crash debris before the flip publishes gen+1")
    assert(cellsT.read().filter($"cid" === phantomCid).count() == 0,
      "fresh-cid cells debris must be physically retired")
    assert(groupsT.read().filter($"cid" === phantomCid).count() == 0,
      "orphan groups debris must be physically retired")
    assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "cells", "_restructure_inflight")),
      "a completed sequence must consume the in-flight marker")
  }

  test("cell merge: members re-assign to nearest remaining centroids, parent retired, history audits it") {
    val root = IvfIndex.ensure(spark, writeCorpus(1L to 300L))
    val before = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val small = before.groupBy(_._1).view.mapValues(_.length).toSeq
      .sortBy { case (c, n) => (n, c) }.head._1
    val parentMembers = before.collect { case (c, v) if c == small => v }.toSet
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val v0 = cellsT.versions.max

    val moved = IvfIndex.merge(spark, root, small)
    assert(moved == parentMembers.size)

    // every member re-homed, nothing lost, nothing else moved, and the
    // landing cell is each member's NEAREST remaining centroid
    val after = IvfIndex.cells(spark, root).select($"cid", $"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!after.exists(_._1 == small), "merged cell must be retired")
    assert(after.map(_._2).toSet == before.map(_._2).toSet,
      "merge must preserve the member set")
    val members = cellsT.read(Some(v0)).filter($"cid" === small)
      .select($"vec_id", $"ne")
    val want = IvfIndex.assignCells(members,
        IvfIndex.centroids(spark, root))
      .select($"cid", $"vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(after.filter(t => parentMembers.contains(t._2)).toSet == want,
      "re-homing must equal the nearest-remaining-centroid argmax")

    // re-homed members' codes were RE-ENCODED against their landing
    // centroid (split's by_residual rule)
    val movedAssign = IvfIndex.cells(spark, root)
      .filter($"vec_id".isin(parentMembers.toSeq: _*)).select($"vec_id", $"cid")
    val wantMovedCodes = IvfIndex.encodeCodes(
      IvfIndex.residualsOf(
        members, movedAssign, IvfIndex.centroids(spark, root)),
      IvfIndex.codebook(spark, root))
    assert(codesOf(IvfIndex.cellCodes(spark, root)
        .filter($"vec_id".isin(parentMembers.toSeq: _*)))
        == codesOf(wantMovedCodes),
      "merge must re-encode re-homed members' residual codes against the frozen codebook")
    assert(after.filterNot(t => parentMembers.contains(t._2)).toSet
        == before.filterNot(t => parentMembers.contains(t._2)).toSet,
      "vectors outside the merged cell must not move")

    // centroid and group rows retired; time travel still audits
    assert(!IvfIndex.centroids(spark, root).select($"cid")
      .collect().map(_.getLong(0)).contains(small))
    assert(!IvfIndex.groups(spark, root).select($"cid")
      .collect().map(_.getLong(0)).contains(small))
    assert(cellsT.read(Some(v0)).filter($"cid" === small).count()
        == parentMembers.size,
      "time travel must audit the pre-merge index")
  }
}

package graft

import org.apache.spark.sql.functions._

/** Skew measurement harness (round 9: "measure skew, not just size" —
  * every prior ScaleGen sweep preserved the original distributions by
  * construction; real 100 TB corpora are Zipf-skewed).
  *
  * `graft.SkewBench <uniformDir> <skewedDir> <q1,q2,...>` times each
  * named SparkEntry query min-of-3 on BOTH corpora inside one session
  * (same JVM, same warmup — the uniform/skewed RATIO is the metric, so
  * shared-JVM inflation cancels) and prints one JSON line.
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val (uni, skw) = (args(0), args(1))
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val warmDir = "/root/testdata/sf0.001"
    def time(n: String, dir: String): Double = {
      System.gc()
      Seq.fill(3) {
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val rows = withRegime(spark) {
      names.foreach { n =>
        // swallow only non-fatal warmup failures (a query that can't run at
        // sf0.001 still gets timed on the real corpora); a fatal error (OOM,
        // linkage) must abort — a poisoned JVM would produce bogus timings
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
      names.map(n => (n, time(n, uni), time(n, skw)))
    }
    val js = rows.map { case (n, tu, ts) =>
      f""""$n":{"uniform":$tu%.3f,"skewed":$ts%.3f,"ratio":${ts / tu}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"skewbench":$js,"uniform_dir":"$uni","skewed_dir":"$skw"}""")
    spark.stop()
  }

  /** SPARK_GRAFT_NO_BROADCAST=1 runs `body` in the SHUFFLED join regime:
    * the posture a 100 TB cluster is in once build sides outgrow
    * broadcast range — used to measure whether the salted skew paths
    * ENGAGE and what they buy, since at bench SF the small sides
    * broadcast and the salts stay dormant. Both kinds of broadcast are
    * off: Catalyst's (autoBroadcastJoinThreshold=-1) and the ops'
    * explicit hints, which ignore that threshold (every
    * [[graft.ops.Guards]] site takes its keyed branch). */
  private[graft] def withRegime[A](spark: org.apache.spark.sql.SparkSession)(
      body: => A): A =
    if (sys.env.get("SPARK_GRAFT_NO_BROADCAST").contains("1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.ops.Guards.keyed(body)
    } else body
}

/** `graft.SkewProbe <uniformDir> <skewedDir>` — the maintenance
  * measurements SCALE.md cites (round 13): per corpus, time (min-of-3,
  * one session — the uniform/skewed RATIO is the metric) the e14-style
  * exact probe and the e18-style filtered probe against (a) the base
  * persisted index and (b) a post-maintain twin (DEFAULT bands, sweeps
  * looped to convergence), and report the maintained index's cell
  * spread — the evidence for "maintain() repairs the hot-cell probe
  * penalty" and for whether e18's residual filtered-probe penalty
  * survives the split remedy. */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    import graft.ops.IvfIndex
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // one untimed pass over BOTH corpora first: builds/derives the
    // indexes and pays JIT warmup, so the first-timed corpus isn't
    // penalized (the ratio is the metric — order effects would fake it).
    // Sweep counts are recorded when the twin body actually RUNS (the
    // warm pass) and survive into the timed report, which hits the cache.
    val sweepsByDir = scala.collection.mutable.Map.empty[String, Int]
    def measure(dir: String, timed: Boolean): String = {
      val base = IvfIndex.ensure(spark, dir)
      val maint = IvfIndex.deriveTwin(spark, dir,
        s"maintained-${IvfIndex.MaintainHiNum}-${IvfIndex.MaintainHiDen}-" +
          s"${IvfIndex.MaintainLoNum}-${IvfIndex.MaintainLoDen}") { tmp =>
        var acted = true
        var sweeps = 0
        while (acted && sweeps < 10) {
          val (s, m) = IvfIndex.maintain(spark, tmp)
          acted = s + m > 0
          if (acted) sweeps += 1
        }
        sweepsByDir(dir) = sweeps
      }
      val sweeps = sweepsByDir.getOrElse(dir, -1) // -1: cached twin, body never ran this session
      def q(root: String, filtered: Boolean) = {
        val all = IvfIndex.cells(spark, root).filter(col("vec_id") % 10 === 0)
        (if (filtered) all.filter(col("label") === 0) else all)
          .select(col("vec_id").as("q_id"), col("ne").as("q_ne"))
          .localCheckpoint(true)
      }
      // e14's served tail (per-query top-5), not a raw candidate count —
      // what a probe actually returns, and far less dominated by result
      // materialization noise
      def serve(root: String, filtered: Boolean): Long =
        IvfIndex.probeCandidates(spark, root, q(root, filtered),
            candWhere = if (filtered) Some("label = 1") else None)
          .groupBy(col("q_id"))
          .agg(graft.functions.BoundedTopK.topK(5)(col("cos"), col("vec_id")).as("top"))
          .count()
      def spread(root: String): (Int, Long, Double) = {
        val sizes = IvfIndex.cells(spark, root).groupBy(col("cid")).count()
          .select(col("count")).collect().map(_.getLong(0))
        val mean = sizes.sum.toDouble / sizes.length
        (sizes.length, sizes.max, sizes.max / mean)
      }
      // INTERLEAVED min-of-3: each round times all four targets in turn,
      // so a within-session ramp hits every target equally instead of
      // inflating whichever ran last
      val targets = Seq(
        "probe_base" -> (() => serve(base, filtered = false)),
        "probe_maint" -> (() => serve(maint, filtered = false)),
        "filtered_base" -> (() => serve(base, filtered = true)),
        "filtered_maint" -> (() => serve(maint, filtered = true)))
      val best = scala.collection.mutable.Map.empty[String, Double]
      for (_ <- 1 to (if (timed) 3 else 1); (name, thunk) <- targets) {
        System.gc()
        val t0 = System.nanoTime(); thunk(); val dt = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
      }
      val (probeBase, probeMaint) = (best("probe_base"), best("probe_maint"))
      val (filtBase, filtMaint) = (best("filtered_base"), best("filtered_maint"))
      val (kB, maxB, mB) = spread(base)
      val (kM, maxM, mM) = spread(maint)
      // GROUP-level occupancy (round 14): maintain() now rebalances the
      // coarse level too — report the maintained index's group count and
      // worst occupancy so the √k-structure claim is measured on the
      // twin, not just the hand-built spec corpus
      def groupSpread(root: String): (Int, Long) = {
        val occ = IvfIndex.groups(spark, root).groupBy(col("gid")).count()
          .select(col("count")).collect().map(_.getLong(0))
        (occ.length, if (occ.isEmpty) 0L else occ.max)
      }
      val (ngB, mgB) = groupSpread(base)
      val (ngM, mgM) = groupSpread(maint)
      f""""$dir":{"sweeps":$sweeps,"cells_base":$kB,"max_base":$maxB,"max_over_mean_base":$mB%.1f,""" +
        f""""cells_maint":$kM,"max_maint":$maxM,"max_over_mean_maint":$mM%.1f,""" +
        f""""groups_base":$ngB,"max_group_base":$mgB,""" +
        f""""groups_maint":$ngM,"max_group_maint":$mgM,""" +
        f""""probe_base":$probeBase%.3f,"probe_maint":$probeMaint%.3f,""" +
        f""""filtered_base":$filtBase%.3f,"filtered_maint":$filtMaint%.3f}"""
    }
    // same forced-shuffle switch as SkewBench: the reducer-skew regime
    // the maintenance remedies exist for
    val out = SkewBench.withRegime(spark) {
      args.toSeq.foreach(measure(_, timed = false)) // warm pass
      args.toSeq.map(measure(_, timed = true))
    }
    println(out.mkString("{\"skewprobe\":{", ",", "}}"))
    spark.stop()
  }
}

/** `graft.SkewReport <dir>` — reports whether a corpus actually crosses
  * the engine's own skew thresholds: the evidence that the salted/capped
  * paths ENGAGE on it rather than stay dormant (PushdownSpec pins them
  * dormant on the shipped uniform testdata; DedupSpec proves
  * result-equality under a planted hot bucket — this tool closes the
  * loop on generated corpora).
  */
object SkewReport {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import graft.core.Tables

    // --- d3 band buckets vs the HotBucketRows salting threshold
    val banded = graft.queries.Dedup.bandedSignatures(
      Tables.documents(spark, dir).select(col("doc_id"), col("text")), Nil)
    val buckets = banded.groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("k"))
      .select(col("k")).collect().map(_.getLong(0)).sorted.reverse
    val hotRows = graft.queries.Dedup.HotBucketRows
    val salt = graft.queries.Dedup.HotBucketSalt
    val hot = buckets.filter(_ > hotRows)
    println(s"[skew] d3 buckets: total=${buckets.length} " +
      s"hot(>$hotRows)=${hot.length} top5=${buckets.take(5).mkString(",")}")
    hot.take(5).foreach { k =>
      // the bound the salt buys: a k-doc bucket puts k*k probe pairs on
      // ONE reducer unsalted, k*ceil(k/salt) on the largest salted task
      println(s"[skew] d3 hot bucket k=$k: per-task pairs " +
        s"unsalted=${k * k} salted(x$salt)=${k * ((k + salt - 1) / salt)}")
    }

    // --- winnow fingerprint df vs the cap and the salting band
    val df = graft.queries.Dedup.winnowIndex(spark, dir).df
    val maxDf = graft.queries.Dedup.WinnowMaxDf
    val st = df.agg(
      max(col("df")).as("max_df"),
      sum(when(col("df") > maxDf, 1L).otherwise(0L)).as("capped"),
      sum(when(col("df") > hotRows && col("df") <= maxDf, 1L).otherwise(0L))
        .as("salted"),
      count(lit(1)).as("n")).head()
    println(s"[skew] winnow df: fingerprints=${st.getAs[Long]("n")} " +
      s"capped(>$maxDf)=${st.getAs[Long]("capped")} " +
      s"salt-band($hotRows,$maxDf]=${st.getAs[Long]("salted")} " +
      s"max_df=${st.getAs[Long]("max_df")}")

    // --- relational hot keys and the basket cap
    val li = Tables.lineitem(spark, dir)
    val nLi = li.count()
    val topPart = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc).head().getAs[Long]("c")
    val ords = Tables.orders(spark, dir)
    val nOrd = ords.count()
    val topCust = ords.groupBy(col("o_custkey")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc).head().getAs[Long]("c")
    val topBasket = li.select(col("l_orderkey"), col("l_partkey")).distinct()
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc).head().getAs[Long]("c")
    println(f"[skew] relational: top part $topPart/$nLi lines " +
      f"(${100.0 * topPart / nLi}%.2f%%); top customer $topCust/$nOrd orders " +
      f"(${100.0 * topCust / nOrd}%.2f%%); max basket $topBasket distinct " +
      s"parts vs BasketCap=${graft.queries.Graph.BasketCap}")

    // --- IVF cell occupancy (e4/e12/t30/e14 probe-cost assumption):
    // uniform cells hold ~N/k_cent vectors; a hot cell breaks the
    // "probe cost follows the probed cells" model — report the top
    // cells as multiples of the uniform expectation
    val vn = graft.ops.IvfIndex.normalized(
      Tables.embeddings(spark, dir).transform(Tables.spread))
      .localCheckpoint(true)
    val cellSizes = graft.ops.IvfIndex
      .assignCells(vn, graft.ops.IvfIndex.centroidsOf(vn))
      .groupBy(col("cid")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc)
      .select(col("c")).collect().map(_.getLong(0))
    val nVec = cellSizes.sum
    val uniformCell = nVec.toDouble / cellSizes.length
    println(f"[skew] ivf cells: k=${cellSizes.length} n_vecs=$nVec " +
      f"top cell ${cellSizes.head} (${100.0 * cellSizes.head / nVec}%.2f%% " +
      f"of corpus, ${cellSizes.head / uniformCell}%.1fx the uniform " +
      f"N/k=${uniformCell}%.0f) top5=${cellSizes.take(5).mkString(",")}")

    // --- streaming-state hot key (st9/w1/w3 partition on user_id)
    val ev = Tables.events(spark, dir)
    val nEv = ev.count()
    val topUser = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc).head().getAs[Long]("c")
    println(f"[skew] events: top user $topUser/$nEv events " +
      f"(${100.0 * topUser / nEv}%.2f%%)")
    spark.stop()
  }
}

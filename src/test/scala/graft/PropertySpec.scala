package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.queries.Exact
import graft.streaming.MergeOps

/** Property-style invariant tests over seeded random inputs (SURVEY.md §5):
  * sessionization structure, merge idempotence/latest-wins, and exact
  * decimal-sum equivalence with BigDecimal arithmetic.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val GapUs = 30L * 60 * 1000000

  test("sessionization: gaps within a session < 30min; session count = long gaps + users") {
    val rnd = new Random(42)
    val events = (1 to 2000).map { i =>
      val user = rnd.nextInt(20).toLong
      val ts = math.abs(rnd.nextLong() % (30L * 24 * 3600 * 1000000))
      (i.toLong, user, ts)
    }
    val df = events.toDF("event_id", "user_id", "ts_us")

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val sessions = df
      .withColumn("gap", $"ts_us" - lag($"ts_us", 1).over(w))
      .withColumn("is_new", when($"gap".isNull || $"gap" > GapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"is_new").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))

    // invariant 1: within a session, every gap ≤ 30 min
    val badGaps = sessions.filter($"is_new" === 0 && $"gap" > GapUs).count()
    assert(badGaps == 0)

    // invariant 2: #sessions == #users + #gaps > 30min
    val nSessions = sessions.select("user_id", "sid").distinct().count()
    val nUsers = df.select("user_id").distinct().count()
    val nLongGaps = sessions.filter($"gap" > GapUs).count()
    assert(nSessions == nUsers + nLongGaps)

    // invariant 3: session row counts partition the input
    assert(sessions.count() == events.size)
  }

  test("merge latest-wins: result keys = union of keys; winning version = max") {
    val rnd = new Random(7)
    for (_ <- 1 to 5) {
      val target = (1 to 50).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(100).toLong, "t"))
        .toDF("k", "ver", "src")
        .groupBy("k").agg(max("ver").as("ver"), first("src").as("src"))
      val source = (1 to 30).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(100).toLong, "s"))
        .toDF("k", "ver", "src")
        .groupBy("k").agg(max("ver").as("ver"), first("src").as("src"))
      val merged = MergeOps.upsertLatestWins(target, source, Seq("k"), "ver")

      val expectKeys = (target.select("k").collect().map(_.getLong(0)) ++
        source.select("k").collect().map(_.getLong(0))).toSet
      assert(merged.select("k").collect().map(_.getLong(0)).toSet == expectKeys)
      assert(merged.groupBy("k").count().filter($"count" > 1).count() == 0)

      val tv = target.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val sv = source.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      merged.collect().foreach { r =>
        val (k, ver) = (r.getLong(0), r.getLong(1))
        assert(ver == math.max(tv.getOrElse(k, Long.MinValue), sv.getOrElse(k, Long.MinValue)))
      }
    }
  }

  test("Exact.moneySum equals BigDecimal ground truth for random cents") {
    val rnd = new Random(13)
    val vals = (1 to 5000).map(_ => math.round(rnd.nextDouble() * 1e7 - 5e6) / 100.0)
    val expected = vals.map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .sum.toDouble
    val got = vals.toDF("x").repartition(13)
      .agg(Exact.moneySum("x").as("s")).collect()(0).getDouble(0)
    assert(got == expected, s"decimal sum $got != BigDecimal $expected")
  }

  test("ChangeFeed.diff + CdcApply roundtrip reconstructs any random snapshot pair") {
    val rnd = new Random(7)
    def snap(n: Int) = (1 to n).flatMap { _ =>
      val k = rnd.nextInt(300).toLong
      if (rnd.nextBoolean()) Some((k, rnd.nextInt(10).toString)) else None
    }.distinctBy(_._1)
    val v0 = snap(200).toDF("k", "v")
    val v1 = snap(200).toDF("k", "v")
    val feed = graft.ops.ChangeFeed.allInserts(v0).withColumn("_commit_version", lit(0L))
      .unionByName(graft.ops.ChangeFeed.diff(v0, v1, Seq("k"))
        .withColumn("_commit_version", lit(1L)))
    val rebuilt = graft.ops.CdcApply.latestState(
      feed.filter($"_change_type" =!= "update_preimage")
        .withColumn("op", when($"_change_type" === "update_postimage", "update")
          .otherwise($"_change_type")),
      "k", "op", Seq("_commit_version"))
      .select("k", "v")
    assert(rebuilt.exceptAll(v1).isEmpty && v1.exceptAll(rebuilt).isEmpty,
      "feed replay must reconstruct the target snapshot exactly")
    // feed emits nothing for unchanged keys
    val unchanged = v0.as("a").join(v1.as("b"), "k")
      .filter($"a.v" === $"b.v").select("k")
    val touched = graft.ops.ChangeFeed.diff(v0, v1, Seq("k")).select("k").distinct()
    assert(touched.join(unchanged, Seq("k"), "left_semi").count() == 0)
  }

  test("BoundedTopK ranks NaN scores first, matching Spark's desc double order") {
    val df = Seq((1L, Double.NaN, 10L), (1L, 5.0, 11L), (1L, Double.NaN, 9L),
      (1L, 7.0, 12L), (1L, 1.0, 13L))
      .toDF("g", "score", "id").repartition(3)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedTopK.topK(3)($"score", $"id").as("top"))
      .select(explode($"top.id").as("id"))
      .collect().map(_.getLong(0)).toSeq
    // NaN > everything in Spark's total order; ties break by id asc
    assert(got == Seq(9L, 10L, 12L), s"got $got")
  }

  test("BoundedTopK equals global sort-take for random scores with ties") {
    val rnd = new Random(21)
    val rows = (1 to 4000).map(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(50) / 10.0, i.toLong)) // few groups, many ties
    val df = rows.toDF("g", "score", "id").repartition(16)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedTopK.topK(5)($"score", $"id").as("top"))
      .select($"g", explode($"top").as("sv"))
      .select($"g", $"sv.score", $"sv.id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    val want = rows.groupBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy { case (_, s, id) => (-s, id) }.take(5)
        .map { case (_, s, id) => (g, s, id) }
    }.toSet
    assert(got == want, "bounded top-k must equal exact sort-take under ties")
  }

  test("BoundedMinSet equals sorted-distinct-take across partitionings and duplicates") {
    val rnd = new Random(57)
    // heavy duplication + one mega group, shuffled across 16 partitions so
    // partial buffers merge in arbitrary order
    val rows = (1 to 6000).map { i =>
      val g = if (i % 3 == 0) 0L else rnd.nextInt(5).toLong + 1
      (g, rnd.nextInt(200).toLong, i)
    }
    val df = rows.map { case (g, v, _) => (g, v) }.toDF("g", "v").repartition(16)
    val got = df.groupBy($"g")
      .agg(graft.functions.BoundedMinSet.minK(8)($"v").as("ps"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.map(_._2).distinct.sorted.take(8).toList)
    }
    assert(got == want, s"bounded min-set diverged: $got vs $want")
    // groups with fewer than k distinct values return them all
    val small = Seq((9L, 3L), (9L, 3L), (9L, 1L)).toDF("g", "v")
      .groupBy($"g").agg(graft.functions.BoundedMinSet.minK(8)($"v").as("ps"))
      .collect().head.getSeq[Long](1).toList
    assert(small == List(1L, 3L), s"got $small")
  }

  test("d15 argmax-by-struct equals per-group sort under quality ties") {
    // d15's canonical selection is max(struct(quality, -doc_id)) — one
    // map-side-combinable agg. It must pick exactly the row a window
    // row_number() OVER (ORDER BY quality DESC, doc_id ASC) = 1 would,
    // for any grouping and any tie pattern.
    val rnd = new Random(33)
    val rows = (1 to 3000).map(i =>
      (rnd.nextInt(40).toLong, rnd.nextInt(8).toLong, i.toLong)) // heavy ties
    val df = rows.toDF("cluster", "quality", "doc_id").repartition(16)
    val got = df.groupBy($"cluster")
      .agg(max(struct($"quality", (-$"doc_id").as("negid"))).as("best"),
        count(lit(1)).as("n"))
      .select($"cluster", (-$"best.negid").as("keep"), $"best.quality", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = rows.groupBy(_._1).map { case (c, rs) =>
      val best = rs.minBy { case (_, q, id) => (-q, id) }
      (c, best._3, best._2, rs.size.toLong)
    }.toSet
    assert(got == want, "argmax-by-struct must equal exact per-group ordering")
  }

  test("a12 HLL estimates stay within 5% of exact distinct counts") {
    // a12 emits exact counts plus in-plan within_5pct booleans (Spark's
    // default rsd is 0.05), so the accuracy claim is both hash-checked by
    // the driver's oracle (which expects literal TRUE) and asserted here
    val sf = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("a12_approx_distinct")(spark, sf).collect()
    val exact = graft.core.Tables.lineitem(spark, sf).groupBy("l_returnflag")
      .agg(countDistinct($"l_partkey").as("p"), countDistinct($"l_suppkey").as("s"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.map(_.getString(0)).toSet == exact.keySet)
    rows.foreach { r =>
      val flag = r.getString(0)
      assert((r.getLong(1), r.getLong(2)) == exact(flag), s"$flag exact counts must match")
      assert(r.getBoolean(3), s"$flag parts estimate outside 5% of exact")
      assert(r.getBoolean(4), s"$flag suppliers estimate outside 5% of exact")
    }
  }

  test("quality split partitions the input exactly") {
    import graft.quality.Quality
    val rnd = new Random(99)
    val df = (1 to 500).map(_ => (rnd.nextInt(1000).toLong, rnd.nextDouble() * 200 - 50))
      .toDF("id", "price")
    val rules = Seq(
      Quality.Rule("price_positive", "price > 0", Quality.Quarantine),
      Quality.Rule("price_small", "price < 100", Quality.Drop))
    val res = Quality.apply(df, rules)
    val dropped = df.filter(!expr("price < 100")).filter(expr("price > 0")).count()
    assert(res.clean.count() + res.quarantined.count() + dropped == 500)
  }

  test("bloom auto-sizer holds measured FPP <= 2x target as versions cross resize boundaries") {
    // The auto-sizer re-solves m = -n·ln(fpp)/ln(2)², k = (m/n)·ln 2 from
    // each version's own max per-file distinct count. A fixed m would
    // saturate as n grows (every probe hits, nothing prunes) — so write
    // versions whose distinct counts jump an order of magnitude each time
    // (seeded-random within each band) and measure the realized
    // false-positive rate per version with keys guaranteed absent.
    val rnd = new Random(4242)
    val fpp = 0.01
    val root = java.nio.file.Files
      .createTempDirectory("graft_bloom_prop_").toString + "/t"
    val t = new graft.maint.VersionedTable(spark, root)
    t.buildBloomIndex("k", fpp = fpp)
    val bands = Seq((50, 200), (1000, 4000), (10000, 40000))
    bands.zipWithIndex.foreach { case ((lo, hi), v) =>
      val n = lo + rnd.nextInt(hi - lo)
      // keys are even; probes (odd) can never be present in any version
      t.write(spark.range(n).select((col("id") * 2).as("k"))
        .repartition(4), s"band_$v")
      val sets = t.bloomSets(v, "k").get
      val idx = sets.files.toSeq.toDF("file", "positions")
      val (m, h) = (sets.bits, sets.hashes)
      // the sizing itself must track n: m within a factor of 2 of the
      // textbook solution for the version's max per-file distinct count
      val nFile = spark.read.parquet(t.versionDir(v).toString)
        .groupBy(input_file_name()).agg(countDistinct(col("k")).as("d"))
        .agg(max("d")).collect()(0).getLong(0)
      val mIdeal = -nFile * math.log(fpp) / (math.log(2) * math.log(2))
      assert(m >= mIdeal * 0.5 && m <= math.max(64, mIdeal * 2) + 64,
        s"v$v: bits=$m far from ideal $mIdeal for n=$nFile")
      // measured FPP: 2000 absent keys probed against every file's
      // position set with the engine's own hash kernel
      val nProbes = 2000
      val probes = spark.range(nProbes)
        .select((col("id") * 2 + 1).as("k"))
      val pos = array((0 until h).map(i =>
        pmod(xxhash64(col("k"), lit(i)), lit(m)).cast("int")): _*)
      val hits = probes.withColumn("pos", pos)
        .crossJoin(broadcast(idx.select("file", "positions")))
        .filter(forall(col("pos"), p => array_contains(col("positions"), p)))
        .count()
      val nFiles = idx.count()
      val measured = hits.toDouble / (nProbes * nFiles)
      assert(measured <= 2 * fpp,
        s"v$v (n=$nFile, m=$m, k=$h): measured FPP $measured > ${2 * fpp}")
    }
  }

  /** Sequential double fold — bit-identical to the engine's vec_dot. */
  private def refDot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  test("t16 BM25 equals an independent in-memory reference on random corpora") {
    val rnd = new Random(7)
    val vocab = Seq("aa", "bb", "cc", "dd", // short: never query terms
      "alphatok", "betatoken", "gammatok", "deltatok", "epsilontok")
    val docs = (1L to 40L).map { id =>
      id -> Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_").toString
    docs.toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // reference: plain Scala, same operation order as the query
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").toSeq }.toMap
    val dl = toks.map { case (id, ts) => id -> ts.size }
    val nd = dl.size.toDouble
    val avgdl = dl.values.sum.toDouble / nd
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val q = dfm.filter(_._1.length >= 6).toSeq
      .sortBy { case (t, df) => (-df, t) }.take(3)
    assert(q.size == 3, s"fixture must yield 3 query terms: $q")
    val expected = toks.toSeq.flatMap { case (id, ts) =>
      q.flatMap { case (term, df) =>
        val tf = ts.count(_ == term).toDouble
        if (tf == 0) None else Some {
          val idf = math.log(1.0 + ((nd - df.toDouble) + 0.5) / (df.toDouble + 0.5))
          val part = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl(id) / avgdl)))
          id -> math.floor((idf * part) * 1000000.0).toLong
        }
      } match {
        case ms if ms.isEmpty => None
        case ms => Some(id -> ((ms.size.toLong, ms.map(_._2).sum)))
      }
    }.sortBy { case (id, (_, s)) => (-s, id) }.take(20)

    val got = SparkEntry.queries("t16_bm25_retrieval")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toSeq
    assert(got == expected, s"BM25 mismatch:\n got $got\n exp $expected")
  }

  test("e6 k-means step equals an independent in-memory reference on random vectors") {
    val rnd = new Random(11)
    val dim = 6
    val vecs = (0L until 60L).map { id =>
      id -> Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_km2_").toString
    vecs.map { case (id, e) => (id, e, 0) }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val seeds = vecs.take(8)
    val assigned = vecs.map { case (id, v) =>
      val vv = refDot(v, v)
      val best = seeds.map { case (cid, c) =>
        (vv - 2.0 * refDot(v, c) + refDot(c, c), cid)
      }.minBy { case (dist, cid) => (dist, cid) }
      (best._2, v)
    }
    val expected = assigned.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (x, d) =>
        (cid, d.toLong) -> math.floor(x.toDouble * 1000000.0).toLong
      }
    }.groupBy(_._1).map { case (k, xs) =>
      val n = xs.size.toLong
      val s = xs.map(_._2).sum
      k -> ((n, s, s.toDouble / (n.toDouble * 1000000.0)))
    }

    val got = SparkEntry.queries("e6_kmeans_step")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == expected,
      s"k-means mismatch: ${got.toSeq.diff(expected.toSeq).take(3)} vs ${expected.toSeq.diff(got.toSeq).take(3)}")
  }

  test("a18 PSI equals an independent in-memory reference on random events") {
    val rnd = new Random(11)
    val types = Seq("alpha", "beta")
    // beta's epoch-1 values are drawn wider — a planted, type-local drift
    case class Ev(id: Long, epoch: Int, tpe: String, value: Double)
    val evs = (1 to 4000).map { i =>
      val t = types(rnd.nextInt(2))
      val epoch = rnd.nextInt(2)
      val hi = if (epoch == 1 && t == "beta") 400.0 else 250.0
      Ev(i.toLong, epoch, t, math.rint(rnd.nextDouble() * hi * 100) / 100)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_psi_ref_").toString
    evs.map { e =>
      val ts = java.sql.Timestamp.valueOf(
        if (e.epoch == 0) "2024-01-10 00:00:00" else "2024-01-20 00:00:00")
      (e.id, ts, 0L, e.tpe, e.value, "")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    // the reference replays the query's EXACT float ops: integer counts,
    // (c+1).toDouble / total.toDouble, ((p-q) * ln(p/q)) * 1e6, floor
    def bin(v: Double) = if (v < 1) 0 else if (v < 5) 1 else if (v < 20) 2
      else if (v < 50) 3 else if (v < 100) 4 else if (v < 200) 5 else 6
    val expected = evs.groupBy(_.tpe).map { case (t, rs) =>
      val cells = rs.groupBy(e => bin(e.value)).view.mapValues(brs =>
        (brs.count(_.epoch == 0).toLong, brs.count(_.epoch == 1).toLong)).toMap
      val t0 = cells.values.map(_._1 + 1L).sum
      val t1 = cells.values.map(_._2 + 1L).sum
      val psi = cells.values.map { case (c0, c1) =>
        val p = (c0 + 1L).toDouble / t0.toDouble
        val q = (c1 + 1L).toDouble / t1.toDouble
        math.floor((p - q) * math.log(p / q) * 1000000.0).toLong
      }.sum
      t -> ((cells.size.toLong, rs.count(_.epoch == 0).toLong,
        rs.count(_.epoch == 1).toLong, psi))
    }
    val got = SparkEntry.queries("a18_psi_drift")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected, s"PSI mismatch: $got vs $expected")
    // and the planted beta drift is visibly larger than alpha's noise
    assert(got("beta")._4 > got("alpha")._4, s"beta must out-drift alpha: $got")
  }

  test("t23 vocab boundary ties resolve by token order — the K-th slot is deterministic") {
    // en counts: tok01..tok14 x3, tok15..tok18 x2 (the VocabK=16 boundary
    // cuts INSIDE this tie group), tok19/tok20 x1. The lexical tiebreak
    // must admit tok15+tok16 and reject tok17+tok18 — on every engine and
    // every partitioning, or the driver corpus (31 tokens, random counts)
    // could hash-mismatch on a boundary tie.
    val en = ((1 to 14).flatMap(i => Seq.fill(3)(f"tok$i%02d")) ++
      (15 to 18).flatMap(i => Seq.fill(2)(f"tok$i%02d")) ++
      Seq("tok19", "tok20")).mkString(" ")
    val fr = "tok15 tok16 tok17 tok17 tok18" // 3 OOV of 5 under that vocab
    val dir = java.nio.file.Files.createTempDirectory("graft_vocab_tie_").toString
    Seq((1L, en, "en"), (2L, fr, "fr"))
      .toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"), col("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val run1 = SparkEntry.queries("t23_vocab_coverage")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // en: 52 tokens, OOV = tok17 x2 + tok18 x2 + tok19 + tok20 = 6
    assert(run1("en") == ((52L, 6L, 115384L)), s"en: $run1")
    assert(run1("fr") == ((5L, 3L, 600000L)), s"fr: $run1")
    val run2 = SparkEntry.queries("t23_vocab_coverage")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(run2 == run1, s"tie resolution must be stable across runs: $run2 vs $run1")
  }

  test("a18 PSI drift: zero on identical epochs, strictly increasing with shifted mass") {
    // one representative value per fixed bin (<1, <5, <20, <50, <100, <200, rest)
    val reps = Seq(0.5, 2.0, 10.0, 30.0, 75.0, 150.0, 300.0)
    def rows(tpe: String, epoch: Int, perBin: Seq[Int]) = {
      val t = java.sql.Timestamp.valueOf(
        if (epoch == 0) "2024-01-10 00:00:00" else "2024-01-20 00:00:00")
      perBin.zip(reps).flatMap { case (n, v) =>
        Seq.fill(n)((0L, t, 0L, tpe, v, ""))
      }
    }
    val even = Seq(10, 10, 10, 10, 10, 10, 10)
    val data =
      rows("stable", 0, even) ++ rows("stable", 1, even) ++
      rows("mild", 0, even) ++ rows("mild", 1, Seq(8, 10, 10, 10, 10, 10, 12)) ++
      rows("wild", 0, even) ++ rows("wild", 1, Seq(2, 10, 10, 10, 10, 10, 18))
    val dir = java.nio.file.Files.createTempDirectory("graft_psi_").toString
    data.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val out = SparkEntry.queries("a18_psi_drift")(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // identical epochs: p == q in every bin, so every floor'd term is
    // exactly 0 — no "small but nonzero" tolerance needed
    assert(out("stable") == ((7L, 70L, 70L, 0L)), s"stable: ${out("stable")}")
    // planted drift is detected, and 4x the shifted mass scores strictly higher
    assert(out("mild")._4 > 0L, s"mild must drift: $out")
    assert(out("wild")._4 > out("mild")._4, s"wild must out-drift mild: $out")
    assert(out.values.forall(v => v._1 == 7L && v._2 == 70L && v._3 == 70L),
      s"bins and epoch totals must partition the input: $out")
  }

  test("j14 nearest-view equals the naive |Δ| argmin; crafted ties resolve backward") {
    def ts(us: Long) = new java.sql.Timestamp(us / 1000) // μs grid, ms-aligned
    // crafted edges: equidistant tie → the EARLIER view; purchase before
    // any view → forward; after all views → backward; no views → NULL;
    // view at the exact purchase ts → Δ=0 via the backward frame
    val crafted = Seq(
      (101L, ts(10000000L), 1L, "view"), (102L, ts(20000000L), 1L, "purchase"),
      (103L, ts(30000000L), 1L, "view"), // tie: |Δ|=10s both sides
      (201L, ts(50000000L), 2L, "purchase"), (202L, ts(90000000L), 2L, "view"),
      (301L, ts(10000000L), 3L, "view"), (302L, ts(80000000L), 3L, "purchase"),
      (401L, ts(10000000L), 4L, "purchase"),
      (501L, ts(40000000L), 5L, "view"), (502L, ts(40000000L), 5L, "purchase"))
    val rnd = new Random(31)
    val random = (1000 to 1400).map { i =>
      (i.toLong, ts(rnd.nextInt(500000).toLong * 1000L), (6 + rnd.nextInt(8)).toLong,
        if (rnd.nextInt(3) == 0) "purchase" else "view")
    }
    val all = crafted ++ random
    val dir = java.nio.file.Files.createTempDirectory("graft_j14_").toString
    all.map { case (id, t, u, tp) => (id, t, u, tp, 0.0, "") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("j14_nearest_view_join")(spark, dir).collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    // naive reference: per purchase, argmin |view-p| over the user's
    // views; equidistant pair → the earlier (backward) one
    val views = all.filter(_._4 == "view").groupBy(_._3)
      .view.mapValues(_.map(_._2.getTime * 1000L)).toMap
    val expected = all.filter(_._4 == "purchase").map { case (id, t, u, _) =>
      val p = t.getTime * 1000L
      id -> views.getOrElse(u, Seq.empty).sortBy(v => (math.abs(v - p), v))
        .headOption.map(_ - p)
    }.toMap
    assert(got == expected,
      s"mismatches: ${(got.toSet diff expected.toSet).take(5)}")
    assert(got(102L).contains(-10000000L), s"tie must resolve backward: ${got(102L)}")
    assert(got(201L).contains(40000000L) && got(302L).contains(-70000000L))
    assert(got(401L).isEmpty, "view-less purchase must yield NULL delta")
    assert(got(502L).contains(0L), "same-ts view must win at Δ=0")
  }

  test("gr3 item recs equal the naive basket-cosine top-3 on seeded baskets") {
    // crafted head: co(A,B)=3 across baskets 1-3; (B,D) co=1 falls below
    // the support floor; plus seeded random baskets for the general case
    val crafted = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L),
      (4L, 11L), (4L, 13L))
    val rnd = new Random(17)
    val random = (100 to 400).flatMap { o =>
      Seq.fill(2 + rnd.nextInt(4))((o.toLong, (20 + rnd.nextInt(15)).toLong))
    }
    val all = (crafted ++ random).distinct
    val dir = java.nio.file.Files.createTempDirectory("graft_gr3_").toString
    all.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("gr3_item_recs")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap

    // naive reference: all pairs from basket sets, support >= 2, cosine
    // co/sqrt(na*nb), per-part top-3 by (cos desc, co desc, rec asc)
    val baskets = all.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val np = all.groupBy(_._2).view.mapValues(_.map(_._1).toSet.size).toMap
    val co = baskets.values.toSeq
      .flatMap(ps => ps.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size).filter(_._2 >= 2).toMap
    val expected = co.toSeq
      .flatMap { case ((a, b), c) => Seq((a, b, c), (b, a, c)) }
      .groupBy(_._1).toSeq.flatMap { case (part, rs) =>
        rs.map { case (_, rec, c) =>
          (part, rec, c.toLong, c / math.sqrt(np(part).toDouble * np(rec)))
        }.sortBy { case (_, rec, c, cs) => (-cs, -c, rec) }
          .take(3).zipWithIndex.map { case ((p, rec, c, cs), i) =>
            (p, i + 1L) -> (rec, c, math.floor(cs * 1000000) / 1000000.0)
          }
      }.toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet).take(5)} vs ${(expected.toSet diff got.toSet).take(5)}")
    // the crafted head: A(10)'s top rec is B(11) with co=3
    assert(got((10L, 1L))._1 == 11L && got((10L, 1L))._2 == 3L)
    assert(!got.exists { case ((p, _), (r, _, _)) => p == 13L || r == 13L },
      "one-off co-occurrence (support 1) must fall below the floor")
  }

  test("a20 recovers an exactly-linear slope; flat series slopes 0") {
    // segment S1: daily revenue 10+2x dollars on days x=0..9 → slope 2.0
    // exactly (integer closed form, single closing division);
    // segment S2: constant 5 dollars → slope 0.0
    val days = 0 to 9
    val custs = Seq((1L, "S1"), (2L, "S2"), (3L, "S3"))
    val orders = days.flatMap { x =>
      Seq((100L + x, 1L, java.sql.Timestamp.valueOf(f"1995-01-${x + 1}%02d 00:00:00")),
        (200L + x, 2L, java.sql.Timestamp.valueOf(f"1995-01-${x + 1}%02d 00:00:00")))
    } :+ ((300L, 3L, java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))
    val lines = days.flatMap { x =>
      Seq((100L + x, BigDecimal(10 + 2 * x).setScale(2), BigDecimal(0).setScale(2)),
        (200L + x, BigDecimal(5).setScale(2), BigDecimal(0).setScale(2)))
    } :+ ((300L, BigDecimal(7).setScale(2), BigDecimal(0).setScale(2)))
    val dir = java.nio.file.Files.createTempDirectory("graft_a20_").toString
    custs.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    orders.toDF("o_orderkey", "o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lines.toDF("l_orderkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("a20_trend_slope")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("S1") == ((10L, 2.0)), s"exact linear slope: ${got("S1")}")
    assert(got("S2") == ((10L, 0.0)), s"flat series: ${got("S2")}")
    // a single-day segment has a 0 denominator exactly — it must be
    // DROPPED (not crash Spark ANSI, not emit DuckDB inf/NaN)
    assert(!got.contains("S3"), s"single-day segment must be dropped: $got")
  }

  private def gr4On(baskets: Seq[(Long, Long)]): Map[(Long, Long), (Long, Long, Long)] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gr4_").toString
    baskets.toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    SparkEntry.queries("gr4_link_prediction")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(4)) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
  }

  test("gr4 link prediction: closed-form RA on square and star graphs") {
    // square 1-2-3-4-1 (each edge = one 2-item basket): the two diagonals
    // are the only distance-2 pairs; each closes through TWO degree-2
    // centers, so ra = 2 * (1000000 div 2) and common_nbrs = 2
    val square = gr4On(Seq((1L, 1L), (1L, 2L), (2L, 2L), (2L, 3L),
      (3L, 3L), (3L, 4L), (4L, 1L), (4L, 4L)))
    assert(square == Map(
      (1L, 1L) -> (3L, 1000000L, 2L), (3L, 1L) -> (1L, 1000000L, 2L),
      (2L, 1L) -> (4L, 1000000L, 2L), (4L, 1L) -> (2L, 1000000L, 2L)),
      s"square diagonals: $square")

    // 3-leaf star (hub 1): every leaf pair closes through the one
    // degree-3 hub — ra = 1000000 div 3 = 333333 exactly (integer
    // micro-units, no FP), and hub itself gets NO predictions (all its
    // distance-2 endpoints are... none: leaves have degree 1)
    val star = gr4On(Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 3L),
      (12L, 1L), (12L, 4L)))
    val leaves = Seq(2L, 3L, 4L)
    leaves.foreach { l =>
      val recs = star.collect { case ((p, rn), v) if p == l => rn -> v }.toMap
      assert(recs.size == 2 && recs.values.forall(v => v._2 == 333333L && v._3 == 1L),
        s"leaf $l: $recs")
    }
    assert(!star.keys.exists(_._1 == 1L), s"hub must have no predictions: $star")
  }

  test("gr4 hub cap: centers above WedgeCap degree contribute no wedges") {
    // a (WedgeCap+1)-leaf star: the hub's degree exceeds the cap, so it
    // is excluded as a center — and leaves (degree 1) center nothing,
    // so the prediction set is EMPTY (the d12 df-cap pattern: bounded
    // per-hub fan-out, principled for RA because 1/deg contributions
    // from such hubs are the smallest). Leaf count tracks the shared
    // constant so retuning the cap cannot silently un-pin the boundary.
    val nLeaves = graft.queries.Graph.WedgeCap + 1
    val baskets = (2L to (1L + nLeaves))
      .flatMap(leaf => Seq((leaf * 100, 1L), (leaf * 100, leaf)))
    assert(gr4On(baskets).isEmpty, "capped hub must yield no predictions")
  }

  test("t28 zipf slope equals an independent micro-floor OLS; single-token langs drop") {
    // lang G: exact geometric frequencies — token tk appears 2^(9-k)
    // times (k = 1..8), so rank k has freq 2^(9-k) and the OLS of
    // ln(freq) on ln(rank) is computable independently below. lang R:
    // seeded random multinomial. lang S: ONE distinct token — 0 moment
    // denominator, must be dropped (the a20 contract).
    val g = (1 to 8).flatMap(k => Seq.fill(1 << (9 - k))(s"tk$k"))
    val rnd = new Random(31)
    val r = Seq.fill(3000)(s"w${(math.pow(rnd.nextDouble(), 3) * 40).toInt}")
    def docs(lang: String, toks: Seq[String], per: Int) =
      toks.grouped(per).zipWithIndex.map { case (ts, i) =>
        (lang.hashCode.toLong * 1000 + i, ts.mkString(" "), lang, "s", 1L)
      }.toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_t28_").toString
    (docs("G", g, 37) ++ docs("R", r, 41) ++ docs("S", Seq.fill(9)("only"), 3))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t28_zipf_audit")(spark, dir).collect()
      .map(row => row.getString(0) -> (row.getLong(1), row.getDouble(2))).toMap

    def ref(toks: Seq[String]): (Long, Double) = {
      val top = toks.groupBy(identity).map { case (t, xs) => (t, xs.size.toLong) }
        .toSeq.sortBy { case (t, f) => (-f, t) }.take(200)
      val pts = top.zipWithIndex.map { case ((_, f), i) =>
        (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
          math.floor(math.log(f.toDouble) * 1e6).toLong)
      }
      val n = pts.size.toLong
      val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val raw = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
      (n, BigDecimal(raw).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got("G") == ref(g), s"geometric lang: ${got("G")} vs ${ref(g)}")
    assert(got("R") == ref(r), s"random lang: ${got("R")} vs ${ref(r)}")
    assert(!got.contains("S"), s"single-token lang must drop: $got")
    // the geometric series is EXACT Zipf-with-base-2 — its slope must be
    // steeply negative (ln2-geometric ≈ -2.9), the random one flatter
    assert(got("G")._2 < -2.0 && got("R")._2 > got("G")._2, got.toString)
  }

  test("t29 weighted sample equals an independent E-S reference; heavy weights dominate") {
    // 2000 docs: ids 0-999 weigh 900 chars, ids 1000-1999 weigh 100.
    // E-S with k=100 out of 2000 must admit the heavy group far above
    // its 50% population share (its 90% weight share pulls inclusion
    // toward ~90%; assert a noise-safe > 70%).
    val docs = (0L until 2000L).map { id =>
      (id, "x", "en", "s", if (id < 1000) 900L else 100L)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_t29_").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t29_weighted_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))

    // independent reference: same portable hash, same micro-floored
    // -ln(u), same positive integer division, same (key, id) order
    val expected = docs.map { case (id, _, _, _, w) =>
      val h = graft.functions.TextFunctions.portableHash60(s"ws:$id")
      val u = (h % 1000000L + 1).toDouble / 1000000.0
      val m = math.floor(-math.log(u) * 1000000.0).toLong
      (id, w, m * 1000000L / w)
    }.sortBy { case (id, _, key) => (key, id) }.take(100)
    assert(got.toSeq == expected.toSeq,
      s"diff: ${(got.toSet diff expected.toSet).take(3)} vs ${(expected.toSet diff got.toSet).take(3)}")
    val heavy = got.count(_._2 == 900L)
    assert(heavy > 70, s"heavy-weight group must dominate the sample: $heavy/100")
    // asserted on the OUTPUT directly (a got==expected corollary would
    // be vacuous): some light docs must be admitted — E-S keeps every
    // positive weight in play, unlike a deterministic weight cutoff
    assert(got.exists(_._2 == 100L),
      s"light-weight docs stay in play (E-S, not a cutoff): ${got.count(_._2 == 100L)}/100")
  }

  test("e13 MMR equals an independent greedy reference and actually diversifies") {
    // crafted: candidates 10/11 are near-duplicates of EACH OTHER along
    // a direction oblique to the query (mutual sim ≈ 0.9999 while rel ≈
    // 0.79-0.80 — diversification only bites when duplicates are far
    // more similar to each other than to the query); 12 is slightly
    // less relevant but far from 10. Pure relevance ranks (10, 11, 12);
    // MMR must pick 10, then JUMP to 12 (11's 30·sim penalty ≈ -30M
    // dwarfs its relevance edge), then come back to 11. Randoms keep
    // rel < -0.1 so their mmr (≤ 70·rel + 30·1e6 < 23M) can never beat
    // 11's 25.4M round-3 score.
    val crafted = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),
      (10L, Seq(0.8f, 0.6f, 0f, 0f), 1),
      (11L, Seq(0.79f, 0.61f, 0f, 0f), 1),
      (12L, Seq(0.75f, -0.5f, 0.43f, 0f), 1))
    val rnd = new Random(47)
    val random = (100L to 140L).map { id =>
      val v = Seq((-(0.1 + 0.9 * rnd.nextDouble())).toFloat,
        (rnd.nextDouble() * 2 - 1).toFloat,
        (rnd.nextDouble() * 2 - 1).toFloat,
        (rnd.nextDouble() * 2 - 1).toFloat)
      (id, v, if (id % 20 == 0) 0 else 1)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_e13_").toString
    (crafted ++ random).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("e13_mmr_rerank")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getLong(3))).toMap

    // independent greedy reference with the IDENTICAL integer contract:
    // micro-floored rel/sims, mmr = 70*rel - 30*maxSim, ties by vec_id
    val all = (crafted ++ random).map { case (id, v, l) =>
      val d = v.map(_.toDouble)
      val nrm = math.sqrt(d.map(x => x * x).sum)
      (id, d.map(_ / nrm), l)
    }
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val expected = all.filter(_._3 == 0).flatMap { case (qid, qv, _) =>
      // the shortlist is cut on the RAW cos (BoundedTopK ranks doubles;
      // flooring happens after) — a floored-rel sort here would diverge
      // whenever a micro-bin tie straddles the rank-20 boundary
      val cands = all.filter(_._1 != qid)
        .map { case (id, v, _) => (id, dot(qv, v), v) }
        .sortBy { case (id, raw, _) => (-raw, id) }.take(20)
        .map { case (id, raw, v) => (id, math.floor(raw * 1e6).toLong, v) }
      var picked = List.empty[(Long, Seq[Double], Long)]
      (1 to 5).foreach { t =>
        val rem = cands.filter(c => !picked.exists(_._1 == c._1))
        if (rem.nonEmpty) {
          val best = rem.map { case (id, rel, v) =>
            val msim = if (picked.isEmpty) 0L
              else picked.map(p => math.floor(dot(v, p._2) * 1e6).toLong).max
            (id, v, 70L * rel - 30L * msim)
          }.minBy { case (id, _, mmr) => (-mmr, id) }
          picked = picked :+ best
        }
      }
      picked.zipWithIndex.map { case ((id, _, mmr), i) =>
        (qid, i + 1L) -> (id, mmr)
      }
    }.toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet).take(5)} vs ${(expected.toSet diff got.toSet).take(5)}")
    assert(got((0L, 1L))._1 == 10L && got((0L, 2L))._1 == 12L && got((0L, 3L))._1 == 11L,
      s"MMR must jump to the orthogonal candidate at pick 2: " +
        s"${(1 to 3).map(k => got((0L, k.toLong))._1)}")
  }

  test("e12 filtered ANN pre-filters: a globally-nearer non-matching doc never appears") {
    val dir = java.nio.file.Files.createTempDirectory("graft_e12_").toString
    // doc 0 = the query (en, long enough). doc 2 is EXACTLY parallel to
    // the query (global cosine 1.0) but French; doc 3 is parallel but too
    // short — both must be excluded BEFORE scoring (pre-filter), never
    // ranked-then-dropped. Survivors: doc 1 (near-parallel) then doc 4
    // (orthogonal).
    Seq((0L, "q", "en", "s", 400L), (1L, "a", "en", "s", 400L),
      (2L, "b", "fr", "s", 400L), (3L, "c", "en", "s", 100L),
      (4L, "d", "en", "s", 400L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((0L, Seq(1f, 0f, 0f, 0f), 0),
      (1L, Seq(0.9f, 0.1f, 0f, 0f), 1),
      (2L, Seq(2f, 0f, 0f, 0f), 1),
      (3L, Seq(1f, 0f, 0f, 0f), 1),
      (4L, Seq(0f, 1f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("e12_filtered_ann")(spark, dir).collect()
      .map(r => r.getLong(3) -> (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got.size == 2, s"exactly the two predicate survivors rank: $got")
    assert(got(1L)._2 == 1L && got(1L)._3 > 0.99, s"rank 1 must be doc 1: $got")
    assert(got(2L)._2 == 4L && math.abs(got(2L)._3) < 1e-9,
      s"rank 2 must be the orthogonal doc 4: $got")
  }

  test("maintainGroups invariants hold over seeded random decayed group states") {
    // the group sweep's CONTRACT, independent of any particular decay
    // shape: whatever state it starts from — over-band hoarders,
    // under-band shards, duplicate-vector (unsplittable) groups, any
    // mix — after a sweep (and after the sweep that follows it) the
    // unified groups table must still (1) partition the centroid set
    // exactly (no member lost, duplicated, or resurrected), (2) carry
    // ONE group vector per gid (a torn ge would split a group's
    // identity across rows), (3) use only live centroid cids as gids
    // (a phantom gid would weld probe stage 1 to a vector with no
    // centroid), and (4) reach a fixpoint: once a sweep reports
    // no-action, the next sweep must also be a no-op on the unchanged
    // state. Catches lost-member merges, half-committed renames, and
    // cross-call livelock — the failure classes a single crafted
    // scenario can miss.
    import graft.ops.IvfIndex
    import graft.maint.VersionedTable
    val dim = 16
    def vecD(seed: Long): Seq[Double] =
      Seq.tabulate(dim)(i =>
        (((seed * 2654435761L + i * 40503L) % 1000L).toDouble / 501d) + 0.001)
    for (seed <- Seq(3, 17, 29)) {
      val rnd = new Random(seed)
      val k = 20L + rnd.nextInt(80)
      val dupVec = vecD(9999L + seed)
      val dupShare = rnd.nextDouble() * 0.5
      val ce = (1L to k).map(c =>
        c -> (if (rnd.nextDouble() < dupShare) dupVec else vecD(c * 31 + seed))).toMap
      val leaders = rnd.shuffle((1L to k).toList)
        .take(1 + rnd.nextInt(math.max(1, (k / 2).toInt)))
      val rows = (1L to k).map { c =>
        val g = if (leaders.contains(c)) c else leaders(rnd.nextInt(leaders.size))
        (c, g, ce(g))
      }
      val root = java.nio.file.Files.createTempDirectory(s"graft_prop_grp_$seed").toString
      new VersionedTable(spark, s"$root/centroids")
        .write(ce.toSeq.map { case (c, v) => (c, v, 0L) }.toDF("cid", "ce", "gen"),
          "prop-seed")
      new VersionedTable(spark, s"$root/groups")
        .write(rows.toDF("cid", "gid", "ge"), "prop-seed")

      def state(): Seq[(Long, Long, Seq[Double])] =
        new VersionedTable(spark, s"$root/groups").read()
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).toSeq
      def checkInvariants(label: String): Unit = {
        val st = state()
        assert(st.map(_._1).sorted == (1L to k),
          s"[$seed/$label] groups rows must partition the centroid set exactly")
        val gesPerGid = st.groupBy(_._2).view.mapValues(_.map(_._3).distinct.size)
        assert(gesPerGid.values.forall(_ == 1),
          s"[$seed/$label] every gid must carry exactly one group vector")
        assert(st.map(_._2).toSet.subsetOf(st.map(_._1).toSet),
          s"[$seed/$label] every gid must be a live centroid cid")
      }
      checkInvariants("initial-sanity")
      IvfIndex.maintainGroups(spark, root)
      checkInvariants("after-sweep-1")
      val acted2 = IvfIndex.maintainGroups(spark, root)
      checkInvariants("after-sweep-2")
      if (acted2 == 0)
        assert(IvfIndex.maintainGroups(spark, root) == 0,
          s"[$seed] a no-op sweep must stay a no-op on the unchanged state")
    }
  }

  test("feed retention never serves a holed change feed: every resume point either throws or is contiguous") {
    // the retention × consumer contract as a property over random
    // version counts, retention windows, and resume points: after ANY
    // vacuum, changeFeed(from) either fails loudly (resume at or below
    // the tombstone) or returns EXACTLY the contiguous versions
    // from..head — never a feed with a silent gap, never a spurious
    // refusal above the tombstone.
    import graft.maint.VersionedTable
    for (seed <- Seq(11, 23)) {
      val rnd = new Random(seed)
      val root = java.nio.file.Files.createTempDirectory(s"graft_prop_feed_$seed").toString + "/t"
      val t = new VersionedTable(spark, root)
      val n = 3 + rnd.nextInt(3) // versions 0..n-1, one feed row each
      t.writeWithChangeFeed(Seq((0L, "v0")).toDF("id", "v"), Seq("id"),
        commitTs = "2001-09-01 00:00:00")
      (1 until n).foreach(i =>
        t.appendWithChangeFeed(Seq((i.toLong, s"v$i")).toDF("id", "v"),
          commitTs = f"2001-09-${i + 1}%02d 00:00:00"))
      t.vacuum(keepLast = 1 + rnd.nextInt(n))
      val dropped = VersionedTable.feedVacuumedThrough(root)
      for (from <- 0L until n) {
        try {
          val vs = t.changeFeed(from).select("_commit_version")
            .distinct().collect().map(_.getLong(0)).toSet
          assert(from > dropped,
            s"[$seed] changeFeed($from) served inside the dropped range <= $dropped")
          assert(vs == (from until n).map(_.toLong).toSet,
            s"[$seed] changeFeed($from) must be contiguous to head: got $vs")
        } catch {
          case e: IllegalArgumentException =>
            assert(from <= dropped,
              s"[$seed] spurious refusal above the tombstone: from=$from " +
                s"dropped=$dropped: ${e.getMessage}")
            assert(e.getMessage.contains("dropped by vacuum"),
              s"[$seed] refusal must name the cause: ${e.getMessage}")
        }
      }
    }
  }
}

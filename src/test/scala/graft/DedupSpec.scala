package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Semantics tests for the engine-native-hash dedup operators (d2/d3/d5),
  * which have no DuckDB oracle: planted duplicates must be found, unrelated
  * documents must not collide.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val nearDup = base.replace("kappa", "kappa2") // 1-token change
  private val unrelated = "one two three four five six seven eight nine ten " +
    "eleven twelve thirteen fourteen fifteen sixteen"

  /** Engine-native winnowing fingerprints (xxhash64 shingle hash) — the
    * 100 TB pairing for [[winnowFingerprints]]: winnowing's detection
    * guarantee is hash-agnostic, so the kernel flip changes which
    * shingles are selected but not whether shared runs are caught. */
  private def winnowFingerprintsNative(text: org.apache.spark.sql.Column, k: Int = 3,
      w: Int = 4) = call_function("xx_winnow_fps", shingles(text, k), lit(w))

  private def docs = Seq(
    (0L, base), (1L, base), (2L, nearDup), (3L, unrelated))
    .toDF("doc_id", "text")

  test("minhash signatures: identical texts agree, unrelated disagree") {
    val sigs = docs
      .select(col("doc_id"), minhashSignature(shingles(col("text"), 2), 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) == sigs(1L), "identical docs must have identical signatures")
    val estNear = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b } / 16.0
    val estFar = sigs(0L).zip(sigs(3L)).count { case (a, b) => a == b } / 16.0
    assert(estNear > estFar, s"near-dup est $estNear must exceed unrelated est $estFar")
    assert(estFar < 0.3, s"unrelated docs should share few minhashes, got $estFar")
  }

  test("minhashSimilarity matches manual signature agreement") {
    val row = docs.filter(col("doc_id").isin(0L, 2L))
      .agg(collect_list(struct(col("doc_id"), minhashSignature(shingles(col("text"), 2), 16).as("sig"))))
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    val bySig = row.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val manual = bySig(0L).zip(bySig(2L)).count { case (a, b) => a == b } / 16.0
    val viaFn = docs.filter(col("doc_id") === 0L)
      .crossJoin(docs.filter(col("doc_id") === 2L).select(col("text").as("text_b")))
      .select(minhashSimilarity(
        minhashSignature(shingles(col("text"), 2), 16),
        minhashSignature(shingles(col("text_b"), 2), 16)).as("est"))
      .collect()(0).getDouble(0)
    assert(math.abs(viaFn - manual) < 1e-9)
  }

  test("simhash: identical → hamming 0; near-dup closer than unrelated") {
    val sh = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), simhash64("toks").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)),
      s"near-dup hamming ${ham(sh(0L), sh(2L))} !< unrelated ${ham(sh(0L), sh(3L))}")
  }

  test("d3 LSH candidates find the planted near-dup pair on testdata shapes") {
    val df = docs.withColumn("source", lit("s"))
    df.createOrReplaceTempView("planted")
    // run the d3 pipeline inline on the planted frame
    val sigs = df.select(col("doc_id"), shingles(col("text"), 2).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), minhashSignature(col("sh"), 16).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        xxhash64(slice(col("sig"), b * 4 + 1, 4), lit(b))): _*)).as(Seq("bi", "bh")))
    val a = banded.select(col("bi"), col("bh"), col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = banded.select(col("bi"), col("bh"), col("doc_id").as("b_id"), col("sig").as("b_sig"))
    val pairs = a.join(b, Seq("bi", "bh")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair must be an LSH candidate")
    assert(!pairs.contains((0L, 3L)), "unrelated pair should not collide in any band")
  }

  test("shingles on sub-n-token docs yield empty arrays, not runtime errors") {
    val short = Seq((0L, ""), (1L, "solo"), (2L, "two words"), (3L, "   "))
      .toDF("doc_id", "text")
    val got = short.select(col("doc_id"), shingles(col("text"), 2).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(0L).isEmpty && got(1L).isEmpty && got(3L).isEmpty)
    assert(got(2L) == Seq("two words"))
    // and the downstream minhash path must survive empty shingle sets
    val sigs = short.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(sigs.count() == 0)
  }

  test("d5 banded SimHash pairs == all-pairs Hamming filter on a seeded corpus") {
    // Pigeonhole losslessness check: 7 blocks over 60 bits guarantee a
    // Hamming<=6 pair shares at least one block verbatim, so the banded
    // equi-join must reproduce the all-pairs result EXACTLY — including
    // pairs whose 6 differing bits all land in distinct blocks.
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc(n: Int) = Seq.fill(40)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 30).map(i => (i.toLong, doc(40)))
    // mutations of existing docs: 1-3 token swaps → small Hamming distances
    val muts = (0 until 30).map { i =>
      val (_, t) = bases(rnd.nextInt(bases.size))
      val toks = t.split(" ")
      val k = 1 + rnd.nextInt(3)
      val mutated = (0 until k).foldLeft(toks) { (acc, _) =>
        acc.updated(rnd.nextInt(acc.length), vocab(rnd.nextInt(vocab.size)))
      }
      (100L + i, mutated.mkString(" "))
    }
    val sigs = (bases ++ muts).toDF("doc_id", "text")
      .withColumn("source", (col("doc_id") % 2).cast("string"))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"), simhashPortable60("toks").as("sh"))
    def toPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val banded = toPairs(graft.queries.Dedup.simhashBandedPairs(sigs))
    val allPairs = toPairs {
      val a = sigs.select(col("source"), col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = sigs.select(col("source"), col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.join(b, "source").filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), hamming64(col("a_sh"), col("b_sh")).as("hamming"))
        .filter(col("hamming") <= 6)
    }
    assert(banded == allPairs,
      s"banded missed ${allPairs -- banded}, invented ${banded -- allPairs}")
    assert(allPairs.nonEmpty, "seeded corpus must contain Hamming<=6 pairs")
    // the seed must actually exercise non-zero distances
    assert(allPairs.exists(_._3 > 0), "need pairs with 0 < hamming <= 6")
  }

  test("d5 multi-block keys (budget 3) == all-pairs Hamming<=3 on a seeded corpus") {
    // The tighter-budget generalization: C(7,3) = 35 combo keys of
    // >= 33 bits each must reproduce the all-pairs Hamming<=3 result
    // exactly — including pairs whose 3 differing bits land in 3
    // distinct blocks (where no single-block scheme with B = 4 would
    // need pigeonhole, but our 7-block combos must still cover it).
    val rnd = new scala.util.Random(1337)
    val vocab = (0 until 400).map(i => s"w$i")
    def doc() = Seq.fill(60)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val bases = (0 until 30).map(i => (i.toLong, doc()))
    // single-token swaps on long docs → very small Hamming distances
    val muts = (0 until 40).map { i =>
      val (_, t) = bases(rnd.nextInt(bases.size))
      val toks = t.split(" ")
      (100L + i,
        toks.updated(rnd.nextInt(toks.length), vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
    }
    val sigs = (bases ++ muts).toDF("doc_id", "text")
      .withColumn("source", (col("doc_id") % 2).cast("string"))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("source"), simhashPortable60("toks").as("sh"))
    def toPairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val multi = toPairs(graft.queries.Dedup.simhashMultiBlockPairs(sigs, budget = 3))
    val allPairs = toPairs {
      val a = sigs.select(col("source"), col("doc_id").as("a_id"), col("sh").as("a_sh"))
      val b = sigs.select(col("source"), col("doc_id").as("b_id"), col("sh").as("b_sh"))
      a.join(b, "source").filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), hamming64(col("a_sh"), col("b_sh")).as("hamming"))
        .filter(col("hamming") <= 3)
    }
    assert(multi == allPairs,
      s"multi-block missed ${allPairs -- multi}, invented ${multi -- allPairs}")
    assert(allPairs.nonEmpty, "seeded corpus must contain Hamming<=3 pairs")
    assert(allPairs.exists(_._3 > 0), "need pairs with 0 < hamming <= 3")
  }

  test("d1 exact dedup keeps lowest doc_id per normalized text") {
    val messy = Seq((10L, "Hello  World"), (11L, "hello world"), (12L, "bye"))
      .toDF("doc_id", "text")
    val survivors = messy
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(survivors == Set(10L, 12L))
  }

  test("d10 holdout: duplicates never straddle splits; assignment matches the scalar kernel") {
    // 40 unique docs + 3 duplicate groups (one member case/space-mangled).
    // The split decision must equal the scalar twin of the portable hash
    // applied to each keeper fingerprint, and every duplicate group must
    // resolve to ONE (source, split) contribution — dedup-first makes
    // cross-split leakage structurally impossible.
    val base = (1L to 40L).map(i => (i, s"src${i % 3}", s"unique text number $i"))
    val dups = Seq(
      (101L, "src0", "unique text number 7"),
      (102L, "src1", "  Unique   TEXT number 8 "),
      (103L, "src2", "unique text number 9"))
    val dir = java.nio.file.Files.createTempDirectory("graft_d10_").toString
    (base ++ dups).toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("d10_eval_holdout")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // expected from first principles with the JVM-side scalar kernel
    def normFp(t: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.trim.toLowerCase.replaceAll("\\s+", " ")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    val expected = base.map { case (_, src, t) => (src, t) } // dups collapse to keepers
      .map { case (src, t) =>
        val split =
          if (graft.functions.TextFunctions.portableHash60(s"split:${normFp(t)}") % 100 < 10) "eval"
          else "train"
        ((src, split), t.split("\\s+").length.toLong)
      }
      .groupBy(_._1)
      .map { case (k, vs) => k -> ((vs.size.toLong, vs.map(_._2).sum)) }
    assert(got == expected, s"got $got\nexpected $expected")
    // total docs across splits = 40 keepers, never 43
    assert(got.values.map(_._1).sum == 40L)
  }

  test("d11: contamination matrix counts cross- and within-source near-dup pairs") {
    // srcA: two identical docs (1 within-pair); srcB: one copy of the
    // same text (2 cross pairs to srcA) + one unrelated doc (no pairs)
    val dir = java.nio.file.Files.createTempDirectory("graft_d11_").toString
    Seq((1L, base, "srcA"), (2L, base, "srcA"),
      (3L, base, "srcB"), (4L, unrelated, "srcB"))
      .toDF("doc_id", "text", "source")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        col("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("d11_source_overlap")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("srcA", "srcA") -> 1L, ("srcA", "srcB") -> 2L),
      s"matrix: $got")
  }

  test("winnow_fps kernel == naive window-min reference on a seeded corpus") {
    // plain-Scala reference: hash every 3-shingle, slide a 4-window,
    // collect the distinct window minima — the definition, executed
    // naively, vs the kernel's amortized-O(1) carry-forward loop
    def naive(text: String, k: Int = 3, w: Int = 4): Set[Long] = {
      val toks = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      val sh = toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toArray
      if (sh.length < w) Set.empty
      else {
        val hs = sh.map(s => graft.functions.TextFunctions.portableHash60("win:" + s))
        (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toSet
      }
    }
    val rnd = new scala.util.Random(7)
    val vocab = Vector("ax", "by", "cz", "dw", "ev", "fu", "gt", "hs", "ir", "jq")
    val corpus = (0L until 60L).map { id =>
      val n = rnd.nextInt(20) // includes < w+k-1 and empty docs
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val got = corpus.toDF("doc_id", "text")
      .select(col("doc_id"), winnowFingerprints(col("text")).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    corpus.foreach { case (id, text) =>
      assert(got(id) == naive(text), s"doc $id: kernel ${got(id)} != naive ${naive(text)}")
    }
  }

  test("d12: a copied passage in an otherwise-unrelated document is caught") {
    // the case whole-document MinHash misses: doc 2 embeds a 12-token
    // run of doc 1 inside unrelated text — global similarity is low,
    // but the run spans full winnow windows (>= w + k - 1 = 6 tokens),
    // so the pair MUST share fingerprints
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val host = "one two three four five " + passage + " six seven eight nine ten"
    val dir = java.nio.file.Files.createTempDirectory("graft_d12_").toString
    Seq((1L, base + " " + passage), (2L, host), (3L, unrelated))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("s").as("source"), length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d12_winnow_overlap")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.contains((1L, 2L)), s"embedded passage pair missing: $rows")
    assert(!rows.keySet.exists { case (a, b) => a == 3L || b == 3L },
      s"unrelated doc must not pair: $rows")

    // winnowing's guarantee is hash-agnostic: the engine-native xxhash64
    // kernel (the 100 TB configuration) must catch the same embedded
    // passage and keep the unrelated doc unpaired, even though it selects
    // different shingles
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val fpx = docs.select(col("doc_id"),
      explode(winnowFingerprintsNative(col("text"))).as("h"))
    val pairsX = fpx.select(col("h"), col("doc_id").as("a_id"))
      .join(fpx.select(col("h"), col("doc_id").as("b_id")), Seq("h"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsX.contains((1L, 2L)), s"native kernel missed the passage: $pairsX")
    assert(!pairsX.exists { case (a, b) => a == 3L || b == 3L },
      s"native kernel paired the unrelated doc: $pairsX")

    // d13 resolves the pair into one overlap group: keeper = min id,
    // two members, the unrelated doc in no group at all
    val groups = SparkEntry.queries("d13_overlap_keep_list")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups == Map(1L -> 2L),
      s"expected one group kept by doc 1 with 2 members: $groups")
  }

  test("d14 sequential admission: an intra-run duplicate is rejected by the extended index") {
    // the case the static-index gate (st15) structurally cannot catch:
    // doc 0 (epoch 0) brings fresh text and is admitted; doc 5
    // (epoch 1) is an exact copy — absent from the ORIGINAL corpus, so
    // a static gate would admit it, but d14's index was extended with
    // doc 0's fingerprints at the epoch boundary, so the twin is
    // rejected. doc 10 (epoch 2) is genuinely fresh and still passes.
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textB = "one red two blue three green four yellow five orange six purple seven"
    val corpusDoc = "solar lunar stellar nebula quasar pulsar comet meteor asteroid orbit axis tilt"
    val dir = java.nio.file.Files.createTempDirectory("graft_d14_").toString
    Seq((0L, textA), (5L, textA), (10L, textB), (1L, corpusDoc))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("d14_sequential_admission")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 10L -> 2L),
      s"expected doc 0 (epoch 0) and doc 10 (epoch 2) admitted, doc 5 rejected: $got")
  }

  test("d15 canonical selection keeps the quality-max member, not the min id") {
    // three identical docs in one source → one duplicate cluster
    // (labelled by min id 0). Token-derived quality terms are equal, but
    // doc 2 sits in the 200–400 n_chars band (+20 bonus), so d15 must
    // keep doc 2 where d7 keeps doc 0. Quality ties (docs 0 vs 1) must
    // not matter — only the argmax row survives.
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val other = "one red two blue three green four yellow five orange six purple"
    val dir = java.nio.file.Files.createTempDirectory("graft_d15_").toString
    Seq(
      (0L, text, "en", "srcA", 150L),
      (1L, text, "en", "srcA", 150L),
      (2L, text, "en", "srcA", 300L),
      (3L, other, "en", "srcA", 150L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("d15_quality_keep_list")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (keepId, keepQ, nMembers) = rows(0L)
    assert(keepId == 2L, s"cluster 0 must keep the +20-band doc 2, got $keepId")
    assert(nMembers == 3L, s"cluster 0 has 3 members, got $nMembers")
    // the bonus is the only quality difference: keeper out-scores doc 0 by 20
    val d7Keep = SparkEntry.queries("d7_dedup_keep_list")(spark, dir)
      .filter(col("keep_doc_id") === 0L).count()
    assert(d7Keep == 1L, "d7 keeps min-id doc 0 for the same cluster")
    assert(rows.contains(3L), s"singleton cluster for the unrelated doc must appear: $rows")
    val (sId, _, sN) = rows(3L)
    assert(sId == 3L && sN == 1L, s"unrelated doc stays its own canonical: ${rows(3L)}")
    assert(keepQ > 0L)
  }

  test("d12 hot-fingerprint cap bounds a boilerplate bucket") {
    // every doc opens with the same license-header boilerplate; two docs
    // (1, 2) additionally share a genuine 12-token passage. Ungated, the
    // boilerplate fingerprints alone pair ALL docs (~n²/2 pairs from hot
    // buckets); with the df gate those fingerprints are dropped before
    // the self-join and only the genuine overlap survives.
    val boiler = "this software is provided as is without warranty of any " +
      "kind express or implied including the implied warranties of " +
      "merchantability and fitness for a particular purpose"
    val passage = "quantum chromodynamics binds quarks into hadrons via " +
      "gluon exchange across color charge"
    val n = 24
    val docs = (0 until n).map { i =>
      val unique = (0 until 12).map(j => s"tok${i}x$j").mkString(" ")
      val body = if (i == 1 || i == 2) s"$unique $passage" else unique
      (i.toLong, s"$boiler $body")
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_d12cap_").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // ungated (maxDf >= n): the boilerplate flood — every doc pairs
    val flood = graft.queries.Dedup.winnowOverlapPairs(spark, dir, maxDf = n)
      .count()
    assert(flood >= n.toLong * (n - 1) / 2,
      s"expected the ungated boilerplate to pair all docs, got $flood pairs")

    // gated below the boilerplate df (= n): ONLY the genuine pair forms;
    // candidate volume is bounded by the surviving (df <= maxDf) buckets
    val gated = graft.queries.Dedup.winnowOverlapPairs(spark, dir, maxDf = n - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == Set((1L, 2L)),
      s"gated pairs must be exactly the genuine overlap, got $gated")
  }

  test("hot-bucket salting: a planted hot bucket spreads across salts; pair output unchanged") {
    import graft.ops.SaltedJoin
    // unit level: 400-row hot key vs 10-row cold key, threshold 256 (the
    // HotBucketRows default). Salting must (a) keep the joined multiset
    // identical to the plain join and (b) spread the hot key's probe rows
    // across salts so no reducer holds the whole k² bucket.
    val rows = (0 until 400).map(i => ("H", i.toLong)) ++
      (0 until 10).map(i => ("C", 1000L + i))
    val df = rows.toDF("k", "id")
    val a = df.select(col("k"), col("id").as("a_id"))
    val b = df.select(col("k"), col("id").as("b_id"))
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1), r.getLong(2))
    val plain = a.join(b, Seq("k")).select("k", "a_id", "b_id")
      .collect().map(key).sorted
    val salted = SaltedJoin.hotOnly(a, b, Seq("k"), 8, 256)
      .select("k", "a_id", "b_id").collect().map(key).sorted
    assert(salted.length == 400 * 400 + 10 * 10, s"pair count: ${salted.length}")
    assert(salted.sameElements(plain), "salted join must equal the plain join")
    // salt spread bounds per-(key, salt) probe rows at ~k/saltFactor
    val aH = a.filter(col("k") === "H")
    val perSalt = aH.groupBy(SaltedJoin.rowSalt(aH, 8).as("s")).count()
      .collect().map(r => r.getLong(1))
    assert(perSalt.length >= 6, s"400 rows should reach most of 8 salts: ${perSalt.length}")
    assert(perSalt.max <= 400 / 2,
      s"per-salt bucket share must be a fraction of the hot bucket: ${perSalt.max}")

    // pipeline level: 300 identical docs put 300 rows in every d3 band
    // bucket (> HotBucketRows = 256), so lshPairs' hotOnly engages; all
    // C(300,2) pairs must still form exactly once, at est_sim 1.0
    val n = 300
    val text = "the quick brown fox jumps over the lazy dog tonight again"
    val docs = (0 until n).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = graft.queries.Dedup.lshPairs(docs)
    assert(pairs.count() == n.toLong * (n - 1) / 2,
      "every identical-doc pair must form exactly once under salting")
    val minSim = pairs.agg(min(col("est_sim"))).collect()(0).getDouble(0)
    assert(minSim == 1.0, s"identical docs must estimate sim 1.0, got $minSim")
  }

  test("persistent admission: a VersionedTable-backed winnow index survives runs") {
    // d14's epoch loop productionized across PROCESS lifetimes: the
    // winnow fingerprint index lives in a versioned table; each batch
    // opens fresh handles (nothing in-memory survives between runs),
    // probes the persisted index with one keyed join, and extends it via
    // append — only the batch's genuinely NEW fingerprints are written
    // (left_anti against the index), so per-run cost is ∝ batch while
    // the index accretes like st15/d14's in-memory generations.
    val scratch = java.nio.file.Files.createTempDirectory("graft_pa_").toString
    def admitBatch(docs: org.apache.spark.sql.DataFrame): Set[Long] = {
      val idxT = new graft.maint.VersionedTable(spark, s"$scratch/winnow_index")
      val fps = graft.queries.Dedup.winnowFps(docs).localCheckpoint(true)
      val nf = fps.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
      val index =
        if (idxT.latestVersion.isEmpty) Seq.empty[Long].toDF("h")
        else idxT.read()
      val rejected = fps.join(index, Seq("h"))
        .groupBy("doc_id").agg(count(lit(1)).as("shared"))
        .join(nf, Seq("doc_id"))
        .filter(col("shared") * 2 >= col("n_fp"))
        .select("doc_id")
      val admitted = docs.join(rejected, Seq("doc_id"), "left_anti")
        .select("doc_id").localCheckpoint(true)
      val newFps = fps.join(admitted, Seq("doc_id"), "left_semi")
        .select("h").distinct()
        .join(index, Seq("h"), "left_anti")
      if (idxT.latestVersion.isEmpty) idxT.write(newFps)
      else idxT.append(newFps)
      admitted.collect().map(_.getLong(0)).toSet
    }
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val textB = "one red two blue three green four yellow five orange six purple seven"
    val textC = "solar lunar stellar nebula quasar pulsar comet meteor asteroid orbit axis tilt"
    val run1 = admitBatch(Seq((0L, textA), (1L, textB)).toDF("doc_id", "text"))
    assert(run1 == Set(0L, 1L), s"empty index must admit both: $run1")
    // run 2: a near-copy of run 1's admission must be rejected by the
    // PERSISTED index; fresh text still passes
    val run2 = admitBatch(Seq((5L, textA), (10L, textC)).toDF("doc_id", "text"))
    assert(run2 == Set(10L), s"persisted index must reject the twin: $run2")
    // the index grew by exactly one append of run 2's new fingerprints
    val idxT = new graft.maint.VersionedTable(spark, s"$scratch/winnow_index")
    assert(idxT.versions == Seq(0L, 1L))
    assert(idxT.read().select("h").distinct().count() == idxT.read().count(),
      "index must stay a set — append wrote an already-known fingerprint")
  }
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.TextFunctions._

/** Deduplication operators for LLM training pipelines over `documents`
  * (driver north-star): exact hash dedup, MinHash+LSH candidate
  * generation, exact n-gram Jaccard verification, and SimHash near-dup
  * pairs.
  *
  * Scale notes (the whole point of these designs):
  *  - d1 exact dedup is one hash-partition shuffle on the fingerprint —
  *    the only scalable exact dedup; never a global sort.
  *  - d2/d3 MinHash+LSH replaces the O(n²) all-pairs comparison with
  *    band-bucket joins: each doc lands in `bands` buckets, candidate
  *    pairs only form inside a bucket. At 100 TB the bucket join is a
  *    shuffle on (band_idx, band_hash) — skew-safe because a band hash
  *    that collects k docs only produces k²/2 candidates locally, and
  *    genuinely hot buckets can be salted or capped.
  *  - d4 verifies candidates exactly but only same-source pairs (bounded
  *    blocks), never all-pairs.
  *  - d5 SimHash gives a single compact signature per doc; near-dup =
  *    small Hamming distance, found via pigeonhole bit-block banding
  *    (see [[simhashBandedPairs]]) — never an all-pairs comparison.
  * d2/d3/d5 run on the PORTABLE md5 hash kernel
  * (TextFunctions.portableHash), which DuckDB reproduces bit-for-bit — so
  * every signature, band bucket, and Hamming pair below is fully
  * oracle-checked, not just rows-counted. The kernel is one argument: at
  * 100 TB you'd flip it back to engine-native xxhash64 (~20× faster per
  * hash, same operator shapes), with DedupSpec's planted-duplicate tests
  * still covering that path.
  */
object Dedup extends QueryGroup {

  private val sqlTokenSet =
    "list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))"

  /** DuckDB twins of TextFunctions' portable hashing pipeline. */
  private val sqlToks =
    """list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '')"""
  private val sqlShingles2 =
    "list_transform(range(1, greatest(len(toks),1)), i -> concat(toks[i], ' ', toks[i+1]))"
  private def sqlPortableHash(arg: String, prefix: String) =
    s"CAST(concat('0x', substr(md5(concat('$prefix', $arg)),1,15)) AS BIGINT)"
  private def sqlMinhash(i: Int) =
    s"CAST(list_min(list_transform(shingles, s -> ${sqlPortableHash("s", s"$i:")})) AS BIGINT) AS h$i"

  /** DuckDB twin of the winnowing fingerprint pipeline (d12 / st15):
    * 3-gram shingles → portable 60-bit hash (prefix "win:") → distinct
    * sliding-4-window minima. Produces CTE `f(doc_id, h)`. */
  private[queries] val sqlWinnowCtes: String = s"""
        t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        g AS (SELECT doc_id, list_transform(range(1, greatest(len(toks) - 1, 1)),
                i -> concat(toks[i], ' ', toks[i + 1], ' ', toks[i + 2])) AS sh
              FROM t),
        hs AS (SELECT doc_id, list_transform(sh, s ->
                 ${sqlPortableHash("s", "win:")}) AS h FROM g),
        f AS (SELECT doc_id, unnest(list_distinct(
                list_transform(range(1, greatest(len(h) - 2, 1)),
                  i -> list_min(list_slice(h, i, i + 3))))) AS h FROM hs)"""

  /** DuckDB twin of TextFunctions.fingerprint (md5 of normalized text). */
  private val sqlFingerprint =
    """md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"""

  /** Shared d3/d9 banded-MinHash pipeline: 16-hash signature over
    * 2-shingles, 4 bands x 4 rows; band hash = kernel hash of the
    * band's canonical "v,v,v,v" string. Defaults to the portable md5
    * kernel (reproducible in any engine — the oracle-checked
    * configuration); pass [[graft.functions.TextFunctions.xxhashKernel]]/
    * [[graft.functions.TextFunctions.xxhashBandKernel]] for the
    * engine-native 100 TB configuration (same operator shape, ~20× less
    * hash CPU — KernelParitySpec pins that both produce the same pairs).
    * Input needs (doc_id, text [, carry...]); output carries doc_id,
    * `carry`, sig, band_idx, band_hash. */
  private[graft] def bandedSignatures(docs: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Nil,
      kernel: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = portableKernel,
      bandKernel: (org.apache.spark.sql.Column, String) => org.apache.spark.sql.Column = portableHash)
      : org.apache.spark.sql.DataFrame = {
    // 16 hash passes per shingle is the CPU hot loop of the whole dedup
    // family — never let a one-split test scan serialize it (no-op on a
    // real multi-split corpus)
    val sigs = docs.transform(Tables.spread)
      .withColumn("sh", shingles(col("text"), 2))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", minhashSignature(col("sh"), 16, kernel))
    // four element_at's, not transform(slice(..)): same comma-joined
    // value, but pure builtins keep the banding projection inside
    // whole-stage codegen (transform is interpreted higher-order eval)
    def bandHash(b: Int) = bandKernel(
      concat_ws(",", (1 to 4).map(j =>
        element_at(col("sig"), b * 4 + j).cast("string")): _*), s"b$b:")
    sigs.select(
      (col("doc_id") +: carry.map(col)) ++ Seq(col("sig"),
        posexplode(array((0 until 4).map(bandHash): _*))
          .as(Seq("band_idx", "band_hash"))): _*)
  }

  /** The d3 LSH pair pipeline with a pluggable hash kernel — the exact
    * operator shape d3 runs, callable with the engine-native kernel. */
  private[graft] def lshPairs(docs: org.apache.spark.sql.DataFrame,
      kernel: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = portableKernel,
      bandKernel: (org.apache.spark.sql.Column, String) => org.apache.spark.sql.Column = portableHash)
      : org.apache.spark.sql.DataFrame = {
    // materialized once: the self-join consumes it as both sides with
    // differing projections, which blocks ReusedExchange (the d4
    // prefix-table lesson) — without this the sign pipeline runs twice
    val banded = bandedSignatures(docs, Nil, kernel, bandKernel)
      .localCheckpoint(true)
    val a = banded.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("a_id"), col("sig").as("a_sig"))
    val b = banded.select(col("band_idx"), col("band_hash"),
      col("doc_id").as("b_id"), col("sig").as("b_sig"))
    // detected-hot-bucket salting (SaltedJoin.hotOnly): a band bucket
    // with > HotBucketRows docs — boilerplate-heavy shards produce them
    // — would put all k² candidate pairs on one reducer; salting spreads
    // the bucket across HotBucketSalt tasks (k/8 probe rows each) while
    // cold buckets keep salt 0 and identical shuffle volume. Plan-only:
    // every pair still forms exactly once, so results and oracles are
    // unchanged (DedupSpec pins both the equality and the salt spread).
    // The detection count scans the checkpointed `banded` once, and the
    // decision is ADAPTIVE: no hot buckets (the shipped-testdata case)
    // → the plain equi-join below, zero plan overhead.
    graft.ops.SaltedJoin
      .hotOnly(a, b, Seq("band_idx", "band_hash"), HotBucketSalt, HotBucketRows)
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        minhashSimilarity(col("a_sig"), col("b_sig")).as("est_sim"))
      .distinct()
      .filter(col("est_sim") >= 0.5)
  }

  /** The Manku block layout over the 60-bit signature, shared by the
    * single-block ([[simhashBandedPairs]]) and multi-block
    * ([[simhashMultiBlockPairs]]) schemes — one definition so a retune
    * cannot silently de-synchronize them. */
  private val SimhashBlockDefs: Seq[(Int, Int)] =
    Seq((0, 9), (9, 9), (18, 9), (27, 9), (36, 8), (44, 8), (52, 8))

  /** D5's banded SimHash pair pipeline (the bit-block scheme of Manku et
    * al., "Detecting Near-Duplicates for Web Crawling", WWW'07): the
    * 60-bit signature splits into 7 contiguous blocks (9,9,9,9,8,8,8
    * bits). Hamming(a,b) ≤ 6 can flip bits in at most 6 blocks, so by
    * pigeonhole every qualifying pair agrees VERBATIM on at least one
    * block — candidates form only inside (source, block_idx, block_bits)
    * equi-join buckets (d3's LSH bucket shape) and survivors are
    * Hamming-verified exactly. Lossless vs the all-pairs comparison
    * (DedupSpec pins the parity on a seeded corpus) with the quadratic
    * join gone: the corpus-side cost is 7 exploded rows per doc and a
    * bucket join whose per-bucket work is k², k = docs sharing a 8–9-bit
    * block within a source — near-dup-heavy buckets are exactly the pairs
    * we want. At tighter Hamming budgets or extreme scale the same table
    * generalizes to Manku's multi-block keys (join on combinations of
    * B−k blocks) without changing the operator shape.
    * Input needs (doc_id, source, sh); output (a_id, b_id, hamming ≤ 6).
    */
  private[graft] def simhashBandedPairs(sigs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val blockDefs = SimhashBlockDefs
    // the signature subtree feeds both join sides with differing
    // projections, which blocks ReusedExchange (the d3/d9 lesson) —
    // materialize once so tokenize+simhash runs a single time
    val pinned = sigs.localCheckpoint(true)
    val exploded = pinned.select(col("source"), col("doc_id"), col("sh"),
      posexplode(array(blockDefs.map { case (off, sz) =>
        shiftrightunsigned(col("sh"), off).bitwiseAND(lit((1L << sz) - 1))
      }: _*)).as(Seq("block_idx", "block_bits")))
    val a = exploded.select(col("source"), col("block_idx"), col("block_bits"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = exploded.select(col("source"), col("block_idx"), col("block_bits"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("source", "block_idx", "block_bits"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming64(col("a_sh"), col("b_sh")).as("hamming"))
      .filter(col("hamming") <= 6)
      .distinct() // a pair may share several blocks; emit it once
  }

  /** Manku's multi-block key generalization of [[simhashBandedPairs]]
    * for TIGHTER Hamming budgets (WWW'07 §4.1 "exploring the design
    * space"): with B = 7 blocks and budget k, Hamming(a, b) <= k flips
    * bits in at most k blocks, so the pair agrees VERBATIM on at least
    * B − k blocks — and therefore on at least one specific
    * (B − k)-subset. Join keys are the C(B, k) block combinations, each
    * packing its blocks' bits into one long: a budget-3 key carries
    * >= 33 signature bits, vastly more selective than the single
    * 8–9-bit block of the k = 6 scheme, so buckets stay near-singleton
    * even at a corpus size where every 9-bit block value collects
    * n / 512 docs. Cost: C(B, k) exploded rows per doc (35 at k = 3)
    * instead of 7 — Manku's standard space-for-selectivity trade.
    * Lossless for hamming <= budget by pigeonhole (DedupSpec pins
    * parity against the all-pairs comparison on a seeded corpus).
    * Input needs (doc_id, source, sh); output (a_id, b_id, hamming).
    */
  private[graft] def simhashMultiBlockPairs(
      sigs: org.apache.spark.sql.DataFrame, budget: Int)
      : org.apache.spark.sql.DataFrame = {
    val blockDefs = SimhashBlockDefs
    val nBlocks = blockDefs.size
    require(budget >= 1 && budget < nBlocks,
      s"Hamming budget must be in [1, ${nBlocks - 1}], got $budget")
    val combos = blockDefs.indices.combinations(nBlocks - budget).toSeq
    // key for one combo: its blocks' bits concatenated into a single
    // long (<= 60 bits total) — pure builtins, stays in codegen
    def comboKey(c: Seq[Int]): org.apache.spark.sql.Column =
      c.foldLeft(lit(0L)) { (acc, i) =>
        val (off, sz) = blockDefs(i)
        shiftleft(acc, sz).bitwiseOR(
          shiftrightunsigned(col("sh"), off).bitwiseAND(lit((1L << sz) - 1)))
      }
    val pinned = sigs.localCheckpoint(true)
    val exploded = pinned.select(col("source"), col("doc_id"), col("sh"),
      posexplode(array(combos.map(comboKey): _*))
        .as(Seq("combo_idx", "key_bits")))
    val a = exploded.select(col("source"), col("combo_idx"), col("key_bits"),
      col("doc_id").as("a_id"), col("sh").as("a_sh"))
    val b = exploded.select(col("source"), col("combo_idx"), col("key_bits"),
      col("doc_id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, Seq("source", "combo_idx", "key_bits"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hamming64(col("a_sh"), col("b_sh")).as("hamming"))
      .filter(col("hamming") <= budget)
      .distinct() // a pair may agree on several combos; emit it once
  }

  /** DuckDB twin of the band hashes (columns b0..b3 over h0..h15). */
  private val sqlBandExprs: String = (0 until 4).map { b =>
    val vals = (0 until 4).map(i => s"h${b * 4 + i}").mkString(", ',', ")
    s"${sqlPortableHash(s"concat($vals)", s"b$b:")} AS b$b"
  }.mkString(",\n               ")

  /** D9's incremental-admission pipeline with a pluggable banded-hash
    * kernel (portable md5 = the oracle configuration; xxhash64 = the
    * 100 TB configuration, KernelParitySpec pins decision parity).
    * Input needs (doc_id, text); doc_id % 5 == 0 plays the incoming
    * batch, the rest the existing corpus. */
  private[graft] def incrementalDedup(docs: org.apache.spark.sql.DataFrame,
      kernel: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = portableKernel,
      bandKernel: (org.apache.spark.sql.Column, String) => org.apache.spark.sql.Column = portableHash)
      : org.apache.spark.sql.DataFrame = {
    val base = docs
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 5 === 0).as("is_new"),
        fingerprint(col("text")).as("fp")) // d1's exact-dedup kernel
    // materialized once: new and corpus sides are differing filters of
    // the same subtree, which blocks ReusedExchange — without this the
    // sign pipeline runs once per join side
    val banded = bandedSignatures(base, carry = Seq("is_new"), kernel, bandKernel)
      .select("doc_id", "is_new", "band_hash")
      .localCheckpoint(true)
    val near = banded.filter(col("is_new"))
      .join(banded.filter(!col("is_new"))
        .select(col("doc_id").as("c_id"), col("band_hash")), "band_hash")
      .groupBy("doc_id")
      .agg(countDistinct(col("c_id")).as("n_near_candidates"))
    val corpusFp = base.filter(!col("is_new")).select("fp").distinct()
      .withColumn("dup", lit(true))
    base.filter(col("is_new"))
      .join(corpusFp, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("dup"), lit(false)).as("exact_dup"))
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("n_near_candidates"), lit(0L)).as("n_near_candidates"),
        (!col("exact_dup")).as("admit"))
  }

  /** D11's contamination matrix with a pluggable banded-hash kernel —
    * same kernel contract as [[incrementalDedup]]. Input needs
    * (doc_id, text, source). */
  private[graft] def sourceOverlap(docs: org.apache.spark.sql.DataFrame,
      kernel: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = portableKernel,
      bandKernel: (org.apache.spark.sql.Column, String) => org.apache.spark.sql.Column = portableHash)
      : org.apache.spark.sql.DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    lshPairs(docs.select(col("doc_id"), col("text")), kernel, bandKernel)
      .select("a_id", "b_id")
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
      .groupBy(
        least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** D4's exact-Jaccard pair computation, shared with d6's clustering.
    *
    * Prefix-filtered (the PPJoin family, Xiao et al. WWW'08): a naive
    * token join generates Σ_tok k_tok² candidate rows — ubiquitous tokens
    * make that quadratic in corpus size. For J(A,B) ≥ t, A and B must
    * share a token within their first |A| − ceil(t·|A|) + 1 tokens under
    * ANY fixed global token order (rarest-first maximizes selectivity),
    * so candidates are generated only from those short prefixes of rare
    * tokens, then verified exactly. Same output, same oracle; the
    * candidate join shrinks from stopword-quadratic to near-linear.
    */
  private def jaccardPairs(s: org.apache.spark.sql.SparkSession, d: String) = {
    // the reusable PPJoin operator (ops/SimilarityJoin) at t = 4/5; output
    // floor-scaled for cross-engine hashing (exact J ≥ 0.8 ⟺ floored
    // J ≥ 0.8, so the op's integer threshold equals the oracle's filter)
    graft.ops.SimilarityJoin
      .jaccardSelfJoin(
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"), tokenSet(col("text")).as("toks")),
        "source", "doc_id", "toks", p = 4, q = 5)
      .select(col("source"), col("a_id"), col("b_id"),
        (floor(col("jaccard") * 10000) / 10000.0).as("jaccard"))
  }

  /** The d4 pair predicate as a DuckDB CTE body (edge set for d6). */
  private val sqlJaccardPairs = s"""
    SELECT a.doc_id AS a_id, b.doc_id AS b_id
    FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE floor(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                / len(list_distinct(list_concat(a.t, b.t))) * 10000) / 10000.0 >= 0.8"""

  /** THE one oracle-side connected-components closure over a
    * `pairs(a_id, b_id)` CTE (d6/d7/d15 share it verbatim — a fix to
    * the termination guard or the min-label expression lands once):
    * undirected edges, transitive reach, min-reachable-id labels. */
  private val sqlClusterCtes = s"""
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM pairs
          UNION SELECT b_id, a_id FROM pairs),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src WHERE e.dst <> r.a),
        clusters AS (
          SELECT d.doc_id,
                 CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT) AS cluster_id
          FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
          GROUP BY d.doc_id)"""

  /** The matching Spark build — d4's verified pair edges resolved by
    * min-label connected components over ALL documents (singletons
    * label themselves): columns (doc_id, cluster). d6 exposes it,
    * d7/d15 aggregate it. */
  private def dupClusters(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.ops.ConnectedComponents.minLabel(
      jaccardPairs(s, d).select(col("a_id"), col("b_id")), "a_id", "b_id",
      Tables.documents(s, d).select(col("doc_id")), "doc_id")

  def defs: Map[String, QueryDef] = Map(
    // D1: exact dedup — md5 of normalized text, lowest doc_id survives.
    "d1_exact_dedup" -> QueryDef(
      build = (s, d) => {
        val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("fp"))
      },
      oracle = Some("""
        SELECT min(doc_id) AS doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        FROM documents
        GROUP BY fp""")),

    // D2: MinHash signatures (16 hashes over token 2-gram shingles),
    // portable kernel → every signature value is oracle-checked.
    "d2_minhash_signature" -> QueryDef(
      build = (s, d) =>
        Tables.documents(s, d)
          .transform(Tables.spread)
          .select(col("doc_id"), shingles(col("text"), 2).as("sh"))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"),
            minhashSignature(col("sh"), 16, portableKernel).as("sig"))
          .select(col("doc_id") +:
            (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        sh AS (SELECT doc_id, $sqlShingles2 AS shingles FROM t)
        SELECT doc_id,
               ${(0 until 16).map(sqlMinhash).mkString(",\n               ")}
        FROM sh WHERE len(shingles) > 0""")),

    // D3: LSH candidate pairs — 16 minhashes banded 4×4; docs sharing any
    // band bucket become candidates; estimated similarity = matching
    // signature fraction, thresholded.
    "d3_lsh_candidate_pairs" -> QueryDef(
      build = (s, d) => lshPairs(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      // The oracle forms candidates by band equality directly (the bucket
      // join and "equal band hash" coincide because the hash is portable
      // and collision-free at this scale).
      oracle = Some {
        val simExpr = (0 until 16)
          .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        shg AS (SELECT doc_id, $sqlShingles2 AS shingles FROM t),
        sigs AS (
          SELECT doc_id,
               ${(0 until 16).map(sqlMinhash).mkString(",\n               ")}
          FROM shg WHERE len(shingles) > 0),
        withb AS (
          SELECT *,
               $sqlBandExprs
          FROM sigs)
        SELECT * FROM (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 ($simExpr) / 16.0 AS est_sim
          FROM withb a JOIN withb b
            ON a.doc_id < b.doc_id
           AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
        WHERE est_sim >= 0.5"""
      },
      bench = true),

    // D4: exact n-gram Jaccard verification over bounded blocks (same
    // source), floor-scaled — the oracle-checked ground truth for d2/d3.
    // PPJoin-style (see jaccardPairs above): candidates from a rarest-
    // first prefix-token join with length + positional filters, then
    // exact in-row array-intersect verification per surviving candidate —
    // the prune makes the per-pair intersect cheap because there are few
    // pairs left, where intersecting ALL pairs (or token-joining all
    // tokens) grows quadratically with corpus size.
    "d4_jaccard_pairs" -> QueryDef(
      build = (s, d) => jaccardPairs(s, d),
      oracle = Some(s"""
        WITH toks AS (SELECT doc_id, source, $sqlTokenSet AS t FROM documents)
        SELECT a.source AS source, a.doc_id AS a_id, b.doc_id AS b_id,
               floor(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.t, b.t))) * 10000) / 10000.0 AS jaccard
        FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE floor(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.t, b.t))) * 10000) / 10000.0 >= 0.8"""),
      bench = true),

    // D5: SimHash near-dup pairs — 60-bit portable signature, Hamming ≤ 6
    // within same-source blocks; signatures and distances oracle-checked.
    // Pairs come from pigeonhole bit-block banding (simhashBandedPairs) —
    // an equi-join on exact signature blocks, never an all-pairs compare.
    "d5_simhash_pairs" -> QueryDef(
      build = (s, d) => simhashBandedPairs(
        Tables.documents(s, d)
          .transform(Tables.spread)
          .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
          .filter(size(col("toks")) > 0)
          .select(col("doc_id"), col("source"), simhashPortable60("toks").as("sh"))),
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, source, $sqlToks AS toks FROM documents),
        s AS (
          SELECT doc_id, source,
                 CAST(list_sum(list_transform(range(60), i ->
                   CASE WHEN list_sum(list_transform(toks, tk ->
                     CASE WHEN (${sqlPortableHash("tk", "t:")} >> i) & 1 = 1
                          THEN 1 ELSE -1 END)) > 0
                        THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sh
          FROM t WHERE len(toks) > 0)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
        FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh, b.sh)) <= 6"""),
      bench = true),

    // D6: duplicate-cluster resolution — near-dup PAIRS (d4's oracle-
    // checked exact-Jaccard edges) collapsed into duplicate CLUSTERS via
    // min-label connected components; the smallest doc_id per cluster is
    // the canonical survivor. This is the step that turns pair detection
    // into an actual dedup decision for a training corpus.
    "d6_dup_clusters" -> QueryDef(
      build = (s, d) =>
        dupClusters(s, d)
          .select(col("doc_id"), col("cluster").as("cluster_id"),
            (col("doc_id") === col("cluster")).as("is_canonical")),
      oracle = Some(s"""
        WITH RECURSIVE toks AS (SELECT doc_id, source, $sqlTokenSet AS t FROM documents),
        pairs AS ($sqlJaccardPairs),
        $sqlClusterCtes
        SELECT doc_id, cluster_id, cluster_id = doc_id AS is_canonical
        FROM clusters""")),

    // D7 (end-to-end artifact): the deduplicated-corpus KEEP LIST — what a
    // training pipeline actually ships after candidates (d3/d4) and
    // cluster resolution (d6): one row per surviving cluster with its
    // canonical doc (min id), member/drop counts, and provenance. Shape:
    // the d6 component labels + one map-side-combinable groupBy on the
    // cluster id + a join back to documents for the keeper's metadata —
    // nothing here adds a scale hazard beyond d6 itself.
    "d7_dedup_keep_list" -> QueryDef(
      build = (s, d) => {
        val docs = Tables.documents(s, d)
        dupClusters(s, d).groupBy(col("cluster").as("keep_doc_id"))
          .agg(count(lit(1)).as("n_members"),
            (count(lit(1)) - 1L).as("n_dropped"),
            max(col("doc_id")).as("max_member"))
          .join(docs.select(col("doc_id").as("keep_doc_id"), col("source"), col("n_chars")),
            "keep_doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE toks AS (SELECT doc_id, source, $sqlTokenSet AS t FROM documents),
        pairs AS ($sqlJaccardPairs),
        $sqlClusterCtes
        SELECT cluster_id AS keep_doc_id,
               count(*) AS n_members,
               count(*) - 1 AS n_dropped,
               max(c.doc_id) AS max_member,
               d.source, d.n_chars
        FROM clusters c JOIN documents d ON d.doc_id = c.cluster_id
        GROUP BY cluster_id, d.source, d.n_chars""")),

    // D8: semantic dedup (SemDeDup, Abbas et al. 2023) — embedding-space
    // near-duplicate removal, the step text-level dedup (d1–d5) can't do:
    // paraphrases hash differently but embed nearby. Pipeline: L2-normalize
    // once; assign every vector to its nearest deterministic centroid
    // (e4's IVF assignment — broadcast centroids, argmax by (cos, -cid));
    // compare ONLY within a cluster (never all-pairs); a vector is a
    // duplicate when a LOWER-id clustermate sits at cosine ≥ 0.35
    // (first-wins keeps exactly one representative per tight neighborhood
    // and is deterministic under any partitioning). The threshold test is
    // on floor(cos·1e6) — an integer — so boundary pairs can't flip
    // between engines. At 100 TB: centroid count grows ~√N keeping
    // cluster sizes bounded, so the self-join is sum-of-squares over
    // bounded blocks (the SemDeDup paper's k=11k clusters over 233M docs
    // — same shape); hot clusters split like any skewed key.
    "d8_semdedup" -> QueryDef(
      build = (s, d) => {
        val vn = Tables.embeddings(s, d)
          .transform(Tables.spread)
          .withColumn("nrm", sqrt(call_function("vec_dot",
            col("embedding").cast("array<double>"), col("embedding").cast("array<double>"))))
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))
        val cents = Embeddings.sqrtSample(vn, vn)
          .select(col("vec_id").as("cid"), col("ne").as("ce"))
        val assign = vn.crossJoin(broadcast(cents))
          .select(col("vec_id"), col("ne"),
            struct(
              call_function("vec_dot", col("ne"), col("ce")).as("cos"),
              (-col("cid")).as("negcid")).as("sc"))
          .groupBy("vec_id").agg(max(col("sc")).as("best"), first(col("ne")).as("ne"))
          .select(col("vec_id"), (-col("best.negcid")).as("cid"), col("ne"))
          // three consumers (both self-join sides + the final cid
          // projection) with differing downstream keys — the d4/e5
          // ReusedExchange lesson: without the cut the centroid-sample
          // broadcast and the N·k_cent scoring pass rebuild per consumer
          // (r15 plan audit counted 18 scans / 6 broadcast builds)
          .localCheckpoint(true)
        val a = assign.select(col("cid"), col("vec_id").as("a_id"), col("ne").as("a_ne"))
        val b = assign.select(col("cid"), col("vec_id").as("b_id"), col("ne").as("b_ne"))
        val near = a.join(b, "cid")
          .filter(col("a_id") < col("b_id"))
          .filter(floor(call_function("vec_dot", col("a_ne"), col("b_ne")) * 1000000) >= 350000)
          .groupBy(col("b_id").as("vec_id"))
          .agg(count(lit(1)).as("n_near_lower"), min(col("a_id")).as("rep_id"))
        assign.select(col("vec_id"), col("cid"))
          .join(near, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cid"),
            coalesce(col("n_near_lower"), lit(0L)).as("n_near_lower"),
            col("rep_id"),
            col("rep_id").isNotNull.as("is_dup"))
      },
      oracle = Some(s"""
        WITH n AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(x AS DOUBLE) / sqrt(list_sum(list_transform(range(1, len(embedding)+1),
                        i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))) AS ne
          FROM embeddings),
        c AS (SELECT vec_id AS cid, ne AS ce FROM n, ${Embeddings.sqlCentStats}
              WHERE ${Embeddings.sqlCentGate}),
        avb AS (
          SELECT n.vec_id, c.cid,
                 list_sum(list_transform(range(1, len(ne)+1), i -> ne[i] * ce[i])) AS cos
          FROM n CROSS JOIN c),
        assign AS (
          SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rnk
            FROM avb) WHERE rnk = 1),
        near AS (
          SELECT b.vec_id AS vec_id,
                 count(*) AS n_near_lower,
                 min(a.vec_id) AS rep_id
          FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
          JOIN n na ON na.vec_id = a.vec_id
          JOIN n nb ON nb.vec_id = b.vec_id
          WHERE floor(list_sum(list_transform(range(1, len(na.ne)+1),
                  i -> na.ne[i] * nb.ne[i])) * 1000000) >= 350000
          GROUP BY b.vec_id)
        SELECT s.vec_id, s.cid,
               coalesce(near.n_near_lower, 0) AS n_near_lower,
               near.rep_id,
               near.rep_id IS NOT NULL AS is_dup
        FROM assign s LEFT JOIN near ON near.vec_id = s.vec_id"""),
      bench = true),

    // D9: INCREMENTAL corpus dedup — the production ingest shape: an
    // incoming batch (doc_id % 5 = 0 plays the new crawl) is admitted
    // against the EXISTING corpus, never against itself. Exact dups via a
    // fingerprint anti-probe (only 16-byte hashes shuffle); near-dup
    // candidates via the same banded-MinHash buckets as d3, but the
    // bucket join is new x corpus only — at 100 TB the corpus side is a
    // static pre-built index keyed by band hash, and each incoming batch
    // probes it without re-signing the corpus.
    "d9_incremental_dedup" -> QueryDef(
      build = (s, d) => incrementalDedup(
        Tables.documents(s, d).select(col("doc_id"), col("text"))),
      oracle = Some {
        s"""
        WITH base AS (
          SELECT doc_id, text, doc_id % 5 = 0 AS is_new, $sqlFingerprint AS fp
          FROM documents),
        t AS (SELECT doc_id, is_new, $sqlToks AS toks FROM base),
        shg AS (SELECT doc_id, is_new, $sqlShingles2 AS shingles FROM t),
        sigs AS (
          SELECT doc_id, is_new,
               ${(0 until 16).map(sqlMinhash).mkString(",\n               ")}
          FROM shg WHERE len(shingles) > 0),
        withb AS (
          SELECT *,
               $sqlBandExprs
          FROM sigs),
        bands AS (
          SELECT doc_id, is_new, b0 AS bh FROM withb
          UNION ALL SELECT doc_id, is_new, b1 FROM withb
          UNION ALL SELECT doc_id, is_new, b2 FROM withb
          UNION ALL SELECT doc_id, is_new, b3 FROM withb),
        near AS (
          SELECT n.doc_id, count(DISTINCT c.doc_id) AS n_near
          FROM bands n JOIN bands c ON n.bh = c.bh
          WHERE n.is_new AND NOT c.is_new
          GROUP BY 1)
        SELECT b.doc_id,
               coalesce(b.fp IN (SELECT fp FROM base WHERE NOT is_new), FALSE) AS exact_dup,
               coalesce(near.n_near, 0) AS n_near_candidates,
               NOT coalesce(b.fp IN (SELECT fp FROM base WHERE NOT is_new), FALSE) AS admit
        FROM base b LEFT JOIN near ON b.doc_id = near.doc_id
        WHERE b.is_new"""
      }),

    // D10: contamination-safe train/eval holdout — the split every
    // training run needs, made leak-proof by construction: dedup FIRST on
    // the content fingerprint (min-doc_id keeper, d1's kernel), THEN
    // assign each surviving document to a split by a deterministic hash
    // of the fingerprint itself. Duplicate text therefore CANNOT straddle
    // splits (it has one fingerprint, one keeper, one split), and the
    // assignment is reproducible across engines, runs, and cluster sizes
    // — no RNG, no sampling operator. ~10% eval via hash mod 100 < 10.
    // At 100 TB: one fingerprint shuffle for the dedup, a row-local split
    // assignment, and one map-side-combinable group-by. Output: per
    // (source, split) document and token budgets.
    "d10_eval_holdout" -> QueryDef(
      build = (s, d) => {
        val fp = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("text"),
            fingerprint(col("text")).as("fp"))
        val keeper = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
        fp.join(keeper, Seq("fp", "doc_id"), "left_semi")
          .withColumn("split",
            when(pmod(portableHash(col("fp"), "split:"), lit(100L)) < 10, "eval")
              .otherwise("train"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum(nTokens(col("text"))).as("n_tokens"))
      },
      oracle = Some(s"""
        WITH fps AS (
          SELECT doc_id, source, text, $sqlFingerprint AS fp FROM documents),
        keep AS (SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY 1),
        uniq AS (SELECT f.* FROM fps f
                 JOIN keep k ON f.fp = k.fp AND f.doc_id = k.doc_id),
        assigned AS (
          SELECT *, CASE WHEN ${sqlPortableHash("fp", "split:")} % 100 < 10
                         THEN 'eval' ELSE 'train' END AS split
          FROM uniq)
        SELECT source, split, count(*) AS n_docs,
               CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens
        FROM assigned GROUP BY 1, 2""")),

    // D11: cross-source contamination matrix — for every (unordered)
    // source pair, how many near-dup candidate pairs (d3's LSH band
    // semantics, est_sim ≥ 0.5) link them. The governance report that
    // tells you WHICH feeds copy each other before you spend a full
    // dedup pass: off-diagonal mass = cross-feed contamination,
    // diagonal = within-feed duplication.
    //
    // Scale: d3's banded pipeline (signatures row-local, band-bucket
    // join moves only (band, hash, id)); the source lookup joins the
    // tiny pair list against an (id, source) projection — text and
    // signatures never move again; least/greatest canonicalizes the
    // pair so the matrix is order-independent. Output is #sources², a
    // constant, whatever the corpus size.
    "d11_source_overlap" -> QueryDef(
      build = (s, d) => sourceOverlap(
        Tables.documents(s, d).select(col("doc_id"), col("text"), col("source"))),
      oracle = Some {
        val simExpr = (0 until 16)
          .map(i => s"CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""
        WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
        shg AS (SELECT doc_id, $sqlShingles2 AS shingles FROM t),
        sigs AS (
          SELECT doc_id,
               ${(0 until 16).map(sqlMinhash).mkString(",\n               ")}
          FROM shg WHERE len(shingles) > 0),
        withb AS (
          SELECT *,
               $sqlBandExprs
          FROM sigs),
        cand AS (
          SELECT * FROM (
            SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                   ($simExpr) / 16.0 AS est_sim
            FROM withb a JOIN withb b
              ON a.doc_id < b.doc_id
             AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3))
          WHERE est_sim >= 0.5)
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
        FROM cand c
        JOIN documents da ON c.a_id = da.doc_id
        JOIN documents db ON c.b_id = db.doc_id
        GROUP BY 1, 2"""
      },
      bench = true),

    // D12: winnowing partial-overlap pairs (Schleimer et al., SIGMOD'03
    // — the MOSS fingerprinting algorithm). Whole-document MinHash
    // (d2/d3) estimates GLOBAL similarity, so a short passage copied
    // into an otherwise-unrelated document scores near zero; winnowing
    // fingerprints LOCAL regions: every full w-window of 3-gram hashes
    // contributes its minimum, so any shared run of >= w + 2 tokens
    // guarantees a common fingerprint whatever surrounds it. Pairs
    // sharing >= 2 fingerprints are reported with a containment score
    // (shared / smaller fingerprint set, floor-scaled ppm — exact
    // integer math, engine-independent).
    //
    // Scale: fingerprint selection is row-local (one codegen kernel
    // pass, winnow_fps); only (doc_id, 8-byte fp) rows shuffle. Pairs
    // form inside per-fingerprint buckets — d3's bucket-join shape,
    // never all-pairs — and the hot-fingerprint df gate ([[WinnowMaxDf]])
    // bounds every bucket: a fingerprint hot enough to bucket thousands
    // of docs is boilerplate and is dropped BEFORE the self-join (the
    // same judgment t9 makes for boilerplate n-grams), so no bucket ever
    // exceeds WinnowMaxDf² local pairs whatever the corpus size. The
    // per-doc size table joins the tiny pair list on its keys; text
    // never moves.
    "d12_winnow_overlap" -> QueryDef(
      build = (s, d) => winnowOverlapPairs(s, d),
      oracle = Some(s"""
        WITH $sqlWinnowPairCtes
        SELECT a_id, b_id, shared, containment_ppm FROM wp"""),
      bench = true),

    // D13 (end-to-end artifact, the d7 analogue for the OVERLAP family):
    // resolve d12's containment pairs into overlap GROUPS and ship one
    // row per multi-member group — the review/collapse work-list a
    // pipeline acts on (which documents quote, embed, or extend each
    // other), with the canonical keeper (min id), member/edge counts and
    // the group's strongest containment. Edges gate at 50% containment —
    // the same threshold as st15's admission rule, over slightly
    // different denominators: d12's containment divides by the SMALLER
    // of the two docs' surviving fingerprint sets, st15 by the incoming
    // candidate's own count, so the two can diverge when the candidate
    // is the larger doc of a pair.
    //
    // Scale: edges are the d12 pair table (already bucketed, never
    // all-pairs); resolution is d6's min-label propagation (one edge
    // join + one min-aggregate per round, rounds = component diameter —
    // tiny for overlap groups); the per-group rollup is one map-side-
    // combinable groupBy on the label. Output ∝ overlap groups, not
    // corpus.
    "d13_overlap_keep_list" -> QueryDef(
      build = (s, d) => {
        val pairs = winnowOverlapPairs(s, d).localCheckpoint(true)
        val edges = pairs.filter(col("containment_ppm") >= 500000)
        val docs = Tables.documents(s, d).select(col("doc_id"))
        val clusters = graft.ops.ConnectedComponents
          .minLabel(edges.select("a_id", "b_id"), "a_id", "b_id", docs, "doc_id")
        val members = clusters.groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_members"))
        val edgeStats = edges
          .join(clusters.select(col("doc_id").as("a_id"), col("cluster")), "a_id")
          .groupBy(col("cluster"))
          .agg(count(lit(1)).as("n_edges"),
            max(col("containment_ppm")).as("max_containment_ppm"))
        // inner join keeps exactly the clusters that have edges — the
        // multi-member overlap groups; singletons drop out here
        members.join(edgeStats, Seq("cluster"))
          .select(col("cluster").as("keep_doc_id"), col("n_members"),
            col("n_edges"), col("max_containment_ppm"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $sqlWinnowPairCtes,
        e AS (SELECT a_id, b_id, containment_ppm FROM wp
              WHERE containment_ppm >= 500000),
        edges AS (SELECT a_id AS src, b_id AS dst FROM e
                  UNION SELECT b_id, a_id FROM e),
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e2.dst FROM reach r JOIN edges e2 ON r.b = e2.src
          WHERE e2.dst <> r.a),
        cl AS (SELECT d.doc_id,
                 CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS BIGINT)
                   AS cluster_id
               FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
               GROUP BY d.doc_id),
        mem AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY 1),
        es AS (SELECT c.cluster_id, count(*) AS n_edges,
                      max(e.containment_ppm) AS max_containment_ppm
               FROM e JOIN cl c ON c.doc_id = e.a_id GROUP BY 1)
        SELECT m.cluster_id AS keep_doc_id,
               CAST(m.n_members AS BIGINT) AS n_members,
               CAST(es.n_edges AS BIGINT) AS n_edges,
               CAST(es.max_containment_ppm AS BIGINT) AS max_containment_ppm
        FROM mem m JOIN es ON es.cluster_id = m.cluster_id""")),

    // D14: sequential admission with incremental index extension — see
    // [[sequentialAdmission]] for semantics and the scale story. The
    // member the streaming family can't express statelessly: admission
    // that depends on what THIS run already admitted.
    "d14_sequential_admission" -> QueryDef(
      build = (s, d) => sequentialAdmission(s, d),
      oracle = Some(s"WITH $sqlSequentialAdmission"),
      bench = true),

    // D15: quality-aware canonical selection — same duplicate clusters as
    // d7, but the survivor is the HIGHEST-QUALITY member (t2's shared
    // quality score), not the smallest id: real pipelines keep the best
    // capture of a duplicated page (longest, cleanest), not the
    // first-crawled one. One hash-aggregate argmax by (quality, -doc_id)
    // — map-side combinable, no per-cluster sort; quality ties break to
    // the lowest id, matching the oracle's row_number order. At 100 TB
    // the agg shuffles one small (cluster, best) struct per member —
    // never document text — on top of d6's O(diameter) label rounds.
    "d15_quality_keep_list" -> QueryDef(
      build = (s, d) => {
        val scored = Tables.documents(s, d)
          .select(col("doc_id"), TextOps.qualityScore.as("quality"))
        dupClusters(s, d).join(scored, "doc_id")
          .groupBy(col("cluster").as("cluster_id"))
          .agg(count(lit(1)).as("n_members"),
            max(struct(col("quality"), (-col("doc_id")).as("negid"))).as("best"))
          .select(col("cluster_id"),
            (-col("best.negid")).as("keep_doc_id"),
            col("best.quality").as("keep_quality"),
            col("n_members"))
      },
      oracle = Some(s"""
        WITH RECURSIVE toks AS (SELECT doc_id, source, $sqlTokenSet AS t FROM documents),
        pairs AS ($sqlJaccardPairs),
        $sqlClusterCtes,
        q AS (SELECT doc_id, ${TextOps.sqlQualityScore} AS quality FROM documents),
        ranked AS (
          SELECT c.cluster_id, c.doc_id, q.quality,
                 row_number() OVER (PARTITION BY c.cluster_id
                                    ORDER BY q.quality DESC, c.doc_id ASC) AS rnk,
                 count(*) OVER (PARTITION BY c.cluster_id) AS n_members
          FROM clusters c JOIN q ON q.doc_id = c.doc_id)
        SELECT cluster_id, doc_id AS keep_doc_id, quality AS keep_quality, n_members
        FROM ranked WHERE rnk = 1"""))
  )

  /** D14: SEQUENTIAL admission with incremental index extension — the
    * production upgrade path st15's header points at, as real code.
    * st15 gates every incoming doc against a STATIC corpus index, so
    * two near-identical docs arriving in the same run both pass; d14
    * replays the incoming docs in deterministic epochs ((doc_id div 5)
    * mod 4 — a stand-in for arrival order) and, after each epoch,
    * unions the ADMITTED docs' winnow fingerprints into the index
    * before the next epoch is gated. The intra-stream duplicate is now
    * caught: a copy admitted in epoch 0 blocks its twin in epoch 1
    * (DedupSpec pins exactly that case). Same 50% containment rule as
    * st15, same fp-less-doc posture (no fingerprints → no region
    * evidence → admitted with n_fp = 0).
    *
    * Scale: per epoch, one keyed probe of the index (8-byte fp rows,
    * st14's posture) + one left-semi to collect admitted fingerprints —
    * cost ∝ epoch batch, while the index grows only by admitted docs'
    * fingerprints (localCheckpoint pins each generation, the streaming
    * foreachBatch analogue of committing the index table per batch).
    * The epoch loop is a driver-side fold over micro-batches — exactly
    * the production foreachBatch cadence, not a per-row loop. The
    * DuckDB oracle chains one CTE generation per epoch, so the
    * sequential semantics are hash-checked end to end. */
  private val AdmissionEpochs = 4

  private[graft] def sequentialAdmission(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val fpAll = winnowIndex(s, d).fp
    val incDocs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        expr(s"(doc_id div 5) % $AdmissionEpochs").as("epoch"))
    val inc = fpAll.filter(col("doc_id") % 5 === 0)
      .withColumn("epoch", expr(s"(doc_id div 5) % $AdmissionEpochs"))
    val nf = inc.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    var index = fpAll.filter(col("doc_id") % 5 =!= 0)
      .select("h").distinct().localCheckpoint(true)
    // Batch-side broadcast guard (r16, the round-15 advisory): every
    // per-epoch broadcast below (efps, matches, rejected, adm, newH) is
    // bounded by the INCOMING slice's fingerprint rows — a fixed fraction
    // of the corpus, i.e. linear in corpus size, not micro-batch-bounded
    // — so they get the one broadcast guard (one filter-count over the
    // checkpointed fp table, once for all epochs; two flat longs per
    // fingerprint row). Above the cap each epoch falls back to the keyed-join
    // plan: the probe/semi/anti joins shuffle on h / doc_id and AQE
    // skew-splits, which is the pre-r15 shape.
    val batchFits = graft.ops.Guards.fits(inc.count())
    def bcast(df: org.apache.spark.sql.DataFrame) =
      if (batchFits) broadcast(df) else df
    val admitted = (0 until AdmissionEpochs).map { e =>
      // Per-epoch posture (r15, guide §2.4/§3.1): the INDEX — the frame
      // that grows with the corpus — is never re-shuffled, re-distinct'd,
      // or re-materialized. The epoch batch (micro-batch-sized, st15's
      // streaming-admission premise) broadcasts into one map-side probe
      // of the index scan; everything downstream is batch-sized. The
      // index itself advances by UNION of per-epoch checkpointed DELTAS
      // (new fingerprints only, deduped against the probe's own match
      // set), which is set-identical to the previous
      // union-then-distinct-then-rewrite but costs O(delta) per epoch
      // instead of an O(index) shuffle + full rewrite per epoch.
      val efps = inc.filter(col("epoch") === e).select("doc_id", "h")
      // one map-side probe of the index; feeds the rejection counts AND
      // the already-indexed fingerprint set — checkpoint the (small)
      // match set once
      val matches = index.join(bcast(efps), Seq("h"))
        .select("doc_id", "h")
        .localCheckpoint(true)
      // nf spans every epoch (corpus-growth-sized at scale) — broadcast
      // the batch-sized shared-count side into it, not the reverse
      val rejected = nf
        .join(bcast(matches.groupBy("doc_id").agg(count(lit(1)).as("shared"))),
          Seq("doc_id"))
        .filter(col("shared") * 2 >= col("n_fp"))
        .select("doc_id")
      val adm = incDocs.filter(col("epoch") === e)
        .join(bcast(rejected), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      // the epoch's NEW fingerprints: admitted docs' fps minus the ones
      // the probe already found in the index — h ∈ index ⟺ h ∈ matches
      // for every efps row, so the subtraction never touches the index
      val newH = efps
        .join(bcast(adm.select("doc_id")), Seq("doc_id"), "left_semi")
        .join(bcast(matches.select("h").distinct()), Seq("h"), "left_anti")
        .select("h").distinct()
        .localCheckpoint(true)
      index = index.unionByName(newH)
      adm
    }
    admitted.reduce(_ unionByName _)
      .join(nf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"))
  }

  /** Chained-CTE DuckDB twin of [[sequentialAdmission]]: one
    * (rej, adm, corp) generation per epoch, corp(e+1) = corp(e) ∪
    * admitted epoch-e fingerprints. */
  private val sqlSequentialAdmission: String = {
    val epochs = (0 until AdmissionEpochs).map { e =>
      s"""rej$e AS (SELECT sh.doc_id FROM (
               SELECT i.doc_id, count(*) AS shared FROM incf i
               JOIN corp$e x ON i.h = x.h WHERE i.epoch = $e GROUP BY 1) sh
             JOIN nf ON nf.doc_id = sh.doc_id WHERE sh.shared * 2 >= nf.c),
        adm$e AS (SELECT d.doc_id, d.epoch FROM alldocs d
             WHERE d.epoch = $e
               AND d.doc_id NOT IN (SELECT doc_id FROM rej$e)),
        corp${e + 1} AS (SELECT h FROM corp$e UNION
             SELECT i.h FROM incf i JOIN adm$e a ON a.doc_id = i.doc_id)"""
    }.mkString(",\n        ")
    val admUnion = (0 until AdmissionEpochs)
      .map(e => s"SELECT doc_id, epoch FROM adm$e").mkString(" UNION ALL ")
    s"""$sqlWinnowCtes,
        corp0 AS (SELECT DISTINCT h FROM f WHERE doc_id % 5 <> 0),
        incf AS (SELECT doc_id, (doc_id // 5) % $AdmissionEpochs AS epoch, h
                 FROM f WHERE doc_id % 5 = 0),
        alldocs AS (SELECT doc_id, (doc_id // 5) % $AdmissionEpochs AS epoch
                    FROM documents WHERE doc_id % 5 = 0),
        nf AS (SELECT doc_id, count(*) AS c FROM incf GROUP BY doc_id),
        $epochs,
        admall AS ($admUnion)
        SELECT a.doc_id, CAST(a.epoch AS BIGINT) AS epoch,
               CAST(COALESCE(nf.c, 0) AS BIGINT) AS n_fp
        FROM admall a LEFT JOIN nf ON nf.doc_id = a.doc_id"""
  }

  /** Document-frequency cap for winnow fingerprints in the d12/d13 pair
    * pipeline. A fingerprint hot enough to bucket this many documents is
    * boilerplate (license headers, templates) — the t9 judgment applied
    * to local fingerprints. Without the cap, one fingerprint shared by k
    * docs costs k² inside its bucket (10⁶ docs sharing a license-header
    * fingerprint → ~5×10¹¹ candidate pairs from a single bucket); with
    * it, any bucket is at most [[WinnowMaxDf]]² locally, whatever the
    * corpus size. Capped fingerprints carry no overlap EVIDENCE either
    * (everything matches boilerplate), so they leave both the numerator
    * (shared) and the denominator (per-doc fingerprint count) of the
    * containment score — mirrored exactly in the DuckDB oracle. */
  private[graft] val WinnowMaxDf = 1000

  /** Hot-bucket salting knobs for the pair-forming bucket joins (d3's
    * (band_idx, band_hash) buckets, d12's per-fingerprint buckets): a
    * bucket with more than [[HotBucketRows]] member docs is salted
    * [[HotBucketSalt]] ways via ops/SaltedJoin.hotOnly, bounding the
    * per-reducer pair count at ~k²/8 for a k-doc bucket while leaving
    * cold buckets (salt 0) and total pair output untouched. On the
    * shipped testdata no bucket crosses the threshold, so the salting
    * is dormant structure — DedupSpec plants a hot bucket to prove both
    * the spread and the result equality. */
  private[graft] val HotBucketRows = 256L
  private[graft] val HotBucketSalt = 8

  /** Shared winnow index — the ONE definition of the corpus fingerprint
    * frames that d12/d13 pairing, t19's novelty profile, and st15's
    * streaming admission all read:
    *  - `fp(doc_id, h)`: exploded winnow fingerprints, materialized once
    *    (feeds both join sides, the df count, and per-doc rollups — the
    *    d3/d4 lesson).
    *  - `df(h, df)`: per-fingerprint document frequency — t19's novelty
    *    denominator and d12's hot-fingerprint gate are the same frame.
    */
  private[graft] final class WinnowIndex(val fp: org.apache.spark.sql.DataFrame) {
    /** Per-fingerprint document frequency — LAZY so consumers that read
      * only `fp` (d14's sequential admission, st14) never pay the
      * groupBy + materialization; the consumers that do read it (d12's
      * cap + hot-bucket detection, t19) share one checkpointed copy. */
    lazy val df: org.apache.spark.sql.DataFrame =
      fp.groupBy("h").agg(count(lit(1)).as("df")).localCheckpoint(true)
  }

  /** Winnow fingerprint extraction over a (doc_id, text[, ...]) frame —
    * the single kernel call every winnow consumer shares. */
  private[graft] def winnowFps(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), explode(winnowFingerprints(col("text"))).as("h"))

  private[graft] def winnowIndex(
      s: org.apache.spark.sql.SparkSession, d: String): WinnowIndex =
    new WinnowIndex(winnowFps(Tables.spread(
        Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .localCheckpoint(true))

  /** The d12 pair pipeline (shared with d13): winnow fingerprints →
    * hot-fingerprint df gate ([[WinnowMaxDf]]) → per-fingerprint bucket
    * join → pairs sharing >= 2 surviving window minima, scored with the
    * floor-scaled ppm containment (shared / smaller SURVIVING
    * fingerprint set — boilerplate fingerprints are excluded from both
    * sides of the ratio, see [[WinnowMaxDf]]). */
  private[graft] def winnowOverlapPairs(
      s: org.apache.spark.sql.SparkSession, d: String,
      maxDf: Int = WinnowMaxDf): org.apache.spark.sql.DataFrame = {
    val idx = winnowIndex(s, d)
    // the cap: a left-semi probe of the kept-fingerprint set — one keyed
    // join on h, the same shuffle key the pair join needs anyway
    val kept = idx.df.filter(col("df") <= maxDf)
    val fp = idx.fp.join(kept, Seq("h"), "left_semi")
    val sz = fp.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
    // detected-hot-bucket salting below the df cap: a fingerprint with
    // HotBucketRows < df <= maxDf survives the boilerplate gate but
    // still buckets up to maxDf docs — k² pairs on one reducer without
    // the salt. The hot set comes from the ALREADY-maintained df frame
    // (hotOnlyPrecomputed — no detection scan); cold fingerprints keep
    // salt 0. Plan-only: pair output is unchanged, oracles untouched.
    val hotFps = kept.filter(col("df") > HotBucketRows).select("h")
    val pairs = graft.ops.SaltedJoin.hotOnlyPrecomputed(
        fp.select(col("h"), col("doc_id").as("a_id")),
        fp.select(col("h"), col("doc_id").as("b_id")),
        Seq("h"), HotBucketSalt, hotFps)
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    pairs
      .join(sz.select(col("doc_id").as("a_id"), col("nfp").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("nfp").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("shared"),
        expr("shared * 1000000 div least(na, nb)").as("containment_ppm"))
  }

  /** [[sqlWinnowCtes]] extended through the pair pipeline: CTE
    * `wp(a_id, b_id, shared, containment_ppm)` — the DuckDB twin of
    * [[winnowOverlapPairs]], including the [[WinnowMaxDf]] gate (`fk` is
    * the kept-fingerprint frame; sizes and pairs both read it). */
  private val sqlWinnowPairCtes: String = s"""$sqlWinnowCtes,
        wdf AS (SELECT h, count(*) AS df FROM f GROUP BY h),
        fk AS (SELECT f.doc_id, f.h FROM f
               JOIN wdf ON wdf.h = f.h WHERE wdf.df <= $WinnowMaxDf),
        sz AS (SELECT doc_id, count(*) AS nfp FROM fk GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
               FROM fk a JOIN fk b ON a.h = b.h AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
        wp AS (SELECT p.a_id, p.b_id, CAST(p.shared AS BIGINT) AS shared,
                      CAST(p.shared * 1000000 // least(sa.nfp, sb.nfp) AS BIGINT)
                        AS containment_ppm
               FROM pr p
               JOIN sz sa ON sa.doc_id = p.a_id
               JOIN sz sb ON sb.doc_id = p.b_id
               WHERE p.shared >= 2)"""
}

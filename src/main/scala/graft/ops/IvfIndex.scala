package graft.ops

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Fs, Tables}
import graft.maint.VersionedTable
import graft.queries.Embeddings

/** Persisted IVF ANN index — build once, probe many.
  *
  * Every live ANN query (e4, e12, t30) recomputes centroids AND the full
  * N·k_cent assignment pass per invocation; the measured t30 crossover
  * (SCALE.md: at 10× the assignment pass is ~51M dots per RUN while the
  * brute-force leg pays |Q|·N = 10M) says the production regime is a
  * PERSISTED index amortized across query batches — the standard vector-DB
  * contract (reference analogue: the feature store's precompute-then-lookup
  * split, src/features/feature_store.py:187-201).
  *
  * The index is four [[VersionedTable]]s under one root:
  *   - `centroids` (cid, ce): the deterministic min(√N, MaxCentroids)
  *     hash-threshold sample, PINNED at build time — appends assign
  *     against the frozen centroid set and never re-train (FAISS
  *     `IndexIVF.add` semantics), which is exactly what makes
  *     incremental-append ≡ from-scratch-assignment provable
  *     (IvfIndexSpec).
  *   - `cells` (cid, vec_id, label, ne): the inverted lists — every
  *     corpus vector's cell assignment, its metadata label, and its
  *     L2-normalized embedding for exact re-scoring at probe time.
  *     Written repartitioned by cid and sorted (cid, label) within
  *     partitions, so parquet row-group stats cluster by cell AND by
  *     label within a cell: a probe's `cid IN (...)` skips non-probed
  *     cells' row groups, and a filtered probe's label predicate (e18)
  *     skips non-matching row groups inside large cells — the layout
  *     answer to the measured hot-twin finding that a filter prunes
  *     only after the hot list is scanned. (Plain column, not a
  *     partition dir: appends must keep the head's layout, and a
  *     partition-dir round-trip would retype cid.)
  *   - `groups` (cid, gid, ge): the UNIFIED two-level routing artifact
  *     for e15 — one row per member centroid carrying its group id AND
  *     the group vector (all rows of a gid carry the identical ge, so
  *     [[coarseLevel]] is a distinct over this table, not a second
  *     artifact). Seeded from the pinned centroid sample at build, but
  *     MAINTAINED state since v8: [[maintainGroups]] re-partitions it
  *     as cell maintenance moves the centroid population under it,
  *     each round one atomic single-table commit.
  *
  * Assignment and probe selection are the EXACT definitions e4/t30 run
  * live ([[assignCells]] / [[probeSelect]] are shared with
  * `Embeddings.ivfCandidates`), so a probe against the persisted index is
  * hash-identical to the live IVF query and the DuckDB oracle checks it
  * end-to-end.
  *
  * Versioning contract: appended vectors advance the `cells` table through
  * normal versioned commits (time travel, CDF, DESCRIBE HISTORY all apply
  * to the index itself); the probe always reads the head.
  */
object IvfIndex {

  /** Default probe width — e4's 8-nearest-centroid search. */
  val NProbe = 8

  /** Bump when the on-disk layout changes: a stale cached index from an
    * older build would otherwise be probed with new-format expectations.
    * v2: + persisted coarse level (`coarse`, `groups` tables).
    * v3: + PQ side (`codebook` table; `codes` column on `cells`).
    * v4: + `label` metadata column on `cells` (filtered search — the
    *      predicate prunes at the index scan, FAISS IDSelector done
    *      the columnar way).
    * v5: PQ codes quantize IVF RESIDUALS (x − centroid(cid)) instead of
    *      raw subvectors (FAISS IndexIVFPQ `by_residual` semantics —
    *      residuals carry far less variance per cell, so the same 16×
    *      code budget buys a materially better ADC shortlist); the
    *      query-side ADC adds the probed centroid's dot back.
    * v6: + visibility epoch `gen` on `cells` rows and `centroids` rows —
    *      rows staged at gen+1 are invisible until ONE centroid-table
    *      commit publishes gen+1, making merge (and the maintain sweep)
    *      duplicate-free in every intermediate state, the same
    *      atomic-flip guarantee split gets from fresh cell ids.
    * v7: + `cellstats` table (cid, nrows, cells_v) — per-cell LIVE row
    *      counts maintained by every lifecycle commit as O(change)
    *      deltas, so hot-cell detection and the maintain() policy read
    *      a metadata-sized artifact instead of re-scanning the inverted
    *      lists per index version.
    * v8: the two-level state UNIFIES into one `groups` (cid, gid, ge)
    *      table and the separate `coarse` table is DROPPED — any group
    *      restructuring ([[maintainGroups]]' splits and merges) is one
    *      atomic commit instead of a torn two-table window, and the
    *      coarse level derives from distinct gids ([[coarseLevel]]).
    * v9: every index table commits through `_log/<N>.json` entries, one
    *      directory per version (the `_manifest` layout is gone). */
  private val FormatVersion = 9

  // ---------------------------------------------------------------- shared
  // index DEFINITIONS (also used by the live e4/t30 path via
  // Embeddings.ivfCandidates — one definition, never a drifting copy)

  /** e4's normalization: plain norm, deliberately — see the e4 comment on
    * nullif/CaseWhen disabling codegen subexpression elimination. */
  private[graft] def normalized(emb: DataFrame): DataFrame =
    emb
      .withColumn("nrm", Embeddings.norm(col("embedding")))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double") / col("nrm")).as("ne"))

  /** (vec_id, label) of an input frame, tolerant of frames without the
    * metadata column (spec corpora, raw append feeds): absent → typed
    * nulls, so the index schema is identical either way and a filtered
    * probe over an unlabeled index simply matches nothing. */
  private def labelsOf(emb: DataFrame): DataFrame =
    if (emb.columns.contains("label"))
      emb.select(col("vec_id"), col("label").cast("int"))
    else emb.select(col("vec_id"), lit(null).cast("int").as("label"))

  /** Pinned-at-build centroid sample over the normalized corpus. */
  private[graft] def centroidsOf(vn: DataFrame): DataFrame =
    Embeddings.sqrtSample(vn, vn)
      .select(col("vec_id").as("cid"), col("ne").as("ce"))

  /** THE nearest-candidate argmax both index levels share: argmax by
    * (cos, -candidate id) — ties to the LOWEST id, the same total order
    * as the oracles' `row_number() ... ORDER BY cos DESC, id ASC`. One
    * broadcast scoring pass + one keyed argmax shuffle. Input columns
    * (_id, _v) × (_cand, _cv); output (_id, _cand). */
  private def nearestCandidate(items: DataFrame, cands: DataFrame): DataFrame =
    items.crossJoin(broadcast(cands))
      .select(col("_id"),
        struct(
          call_function("vec_dot", col("_v"), col("_cv")).as("cos"),
          (-col("_cand")).as("negc")).as("sc"))
      .groupBy("_id").agg(max(col("sc")).as("best"))
      .select(col("_id"), (-col("best.negc")).as("_cand"))

  /** Nearest centroid per vector — [[nearestCandidate]] at level 1. */
  private[graft] def assignCells(vn: DataFrame, cents: DataFrame): DataFrame =
    nearestCandidate(
      vn.select(col("vec_id").as("_id"), col("ne").as("_v")),
      cents.select(col("cid").as("_cand"), col("ce").as("_cv")))
      .select(col("_id").as("vec_id"), col("_cand").as("cid"))

  /** Two-level probe width: nearest coarse groups inspected per query. */
  val NCoarseProbe = 4

  /** Hard ceiling on the coarse-level sample of the centroid set —
    * the e5/MaxCentroids rationale one level up. */
  val MaxCoarse = 64L

  /** Coarse level over the CENTROID set: the same deterministic
    * hash-threshold admission as sqrtSample, applied to centroid ids
    * under a distinct seed prefix — min(√k_cent, MaxCoarse) group
    * vectors. This is the "two-level assignment" a billion-cell index
    * needs: a query scores k_coarse group vectors, then only the member
    * centroids of its nearest groups, never the full centroid list.
    * Mirrored literally in the e15 oracle. */
  private[graft] def coarseOf(cents: DataFrame): DataFrame =
    cents
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("n_cent"))
        .select(col("n_cent"),
          least(ceil(sqrt(col("n_cent"))).cast("long"), lit(MaxCoarse))
            .as("k_coarse"))))
      .filter(pmod(graft.functions.TextFunctions.portableHash(
        col("cid").cast("string"), "coarse:"), col("n_cent")) < col("k_coarse"))
      .select(col("cid").as("gid"), col("ce").as("ge"))

  /** Nearest coarse group per centroid — [[assignCells]]'s argmax one
    * level up (ties to the lowest gid). Output (cid, gid, ge): the group
    * VECTOR rides on every membership row since format v8, so the whole
    * two-level state (membership + group vectors) lives in ONE table and
    * every group restructuring is a single atomic commit — the
    * torn-two-table-write class (groups pointing at gids a separate
    * coarse table doesn't serve yet, or vice versa) cannot exist. The
    * duplication cost is nil: ≤ 4×MaxCentroids rows of one 64-double
    * array each. */
  private[graft] def assignGroups(cents: DataFrame, coarse: DataFrame): DataFrame =
    nearestCandidate(
      cents.select(col("cid").as("_id"), col("ce").as("_v")),
      coarse.select(col("gid").as("_cand"), col("ge").as("_cv")))
      .select(col("_id").as("cid"), col("_cand").as("gid"))
      .join(broadcast(coarse.select(col("gid"), col("ge"))), "gid")
      .select(col("cid"), col("gid"), col("ge"))

  /** Each query's nProbe nearest centroids (NaN-screened — NaN would top
    * Double.compare). Input q(q_id, q_ne); output (q_id, cid). */
  private[graft] def probeSelect(
      q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    probeSelectScored(q, cents, nProbe).select(col("q_id"), col("cid"))

  /** [[probeSelect]] keeping each probed centroid's query dot as `qccos` —
    * the residual-PQ serve needs it: with codes quantizing x − c(cid),
    * cos(q, x) ≈ dot(q, c(cid)) + Σ_s lut[s][code_s], and dot(q, c(cid))
    * is exactly the score probe selection already computed. Output
    * (q_id, cid, qccos). */
  private[graft] def probeSelectScored(
      q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .select(col("q_id"),
        call_function("vec_dot", col("q_ne"), col("ce")).as("cos"), col("cid"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("q_id"))
      .agg(graft.functions.BoundedTopK.topK(nProbe)(col("cos"), col("cid")).as("top"))
      .select(col("q_id"), explode(col("top")).as("t"))
      .select(col("q_id"), col("t.id").as("cid"), col("t.score").as("qccos"))

  // ----------------------------------------------------- PQ definitions
  // (shared by the live e5 path and the persisted IVFPQ side — one
  // definition, never a drifting copy; the e4/e14 contract applied to
  // the compressed representation). Two encodings share the machinery:
  // e5 quantizes RAW subvectors (FAISS IndexPQ — there is no cell, so
  // there is no residual), while the persisted IVFPQ side feeds
  // [[residualsOf]] through the SAME slicer/codebook/encoder (FAISS
  // IndexIVFPQ by_residual) and adds the centroid term back at serve.

  /** Subspace count: 64-dim vectors split into 16 slices of 4. */
  val NSub = 16

  /** Elements per PQ subspace. */
  private[graft] val SubDim: Int = Embeddings.EmbDim / NSub

  /** ADC shortlist depth before the exact re-rank (e5's top-50). */
  val PqShortlist = 50

  /** IVF residuals (vec_id, ne = x − centroid(cid)) — what the persisted
    * IVFPQ side quantizes (FAISS IndexIVFPQ by_residual): per cell the
    * residual distribution is centered and low-variance, so the frozen
    * 16-subspace codebook spends its 16×k_cent budget on the part of the
    * vector the coarse quantizer did NOT already explain. The output
    * column is named `ne` so [[subspacesOf]] (codebook sampling) and the
    * row-local [[encodeCodes]] apply verbatim. One broadcast join — the
    * centroid table is metadata-sized by construction. */
  private[graft] def residualsOf(vn: DataFrame, assign: DataFrame,
      cents: DataFrame): DataFrame =
    vn.join(assign, "vec_id")
      .join(broadcast(cents), "cid")
      .select(col("vec_id"), zip_with(col("ne"), col("ce"), (a, b) => a - b).as("ne"))

  /** Normalized vectors → per-subspace slices (vec_id, s, sv). */
  private[graft] def subspacesOf(vn: DataFrame): DataFrame =
    vn.select(col("vec_id"), explode(sequence(lit(1), lit(NSub))).as("s"), col("ne"))
      .select(col("vec_id"), col("s"),
        slice(col("ne"), ((col("s") - 1) * SubDim + 1).cast("int"), lit(SubDim)).as("sv"))

  /** PQ codebook: subspace slices of the ~√N hash-threshold vector
    * sample; `rnk` is the centroid's dense 1-based index, the identical
    * order both engines derive. The RAW codebook (e5's IndexPQ) keeps
    * the default 'cent:' seed — one sampled id set serves the IVF
    * centroids and the raw codebook. The RESIDUAL codebook must pass a
    * DIFFERENT seed ('pq:'): the 'cent:' ids ARE the centroids, whose
    * residuals are identically zero (each centroid's nearest centroid is
    * itself), and an all-zero codebook cannot rank anything — the v5
    * lesson, measured as a recall collapse before the seed split. */
  private[graft] def codebookOf(sub: DataFrame, counted: DataFrame,
      seed: String = "cent:"): DataFrame =
    Embeddings.sqrtSample(sub, counted, seed)
      .select(col("s"),
        dense_rank().over(Window.partitionBy(col("s")).orderBy(col("vec_id"))).as("rnk"),
        col("sv").as("cv"))

  /** Statically unrolled squared L2 over one subspace (SubDim = 4 terms,
    * left-to-right adds — the oracle's list_sum fold order). element_at
    * with computed indices stays inside whole-stage codegen; a ragged row
    * fails loudly under ANSI (the EmbeddingsSpec 64-dim contract). */
  private def l2sq(a: Column, b: Column): Column =
    (1 to SubDim).map { i =>
      (element_at(a, i) - element_at(b, i)) * (element_at(a, i) - element_at(b, i))
    }.reduce(_ + _)

  /** One-row nested codebook [s][rnk] → cv — the broadcastable form the
    * row-local encoder and the per-query LUT fold over. Two tiny
    * aggregations over the NSub × k_cb codebook rows; the codebook is
    * metadata-sized by construction (the √N sample law, [[MaxCentroids]]
    * cap), the same budget the previous per-row broadcast join paid. */
  private def cbNested(cb: DataFrame): DataFrame =
    cb.groupBy(col("s"))
      .agg(array_sort(collect_list(struct(col("rnk"), col("cv")))).as("rc"))
      .select(col("s"), transform(col("rc"), x => x.getField("cv")).as("cvs"))
      .agg(array_sort(collect_list(struct(col("s"), col("cvs")))).as("sc"))
      .select(transform(col("sc"), x => x.getField("cvs")).as("cbs"))

  /** PQ encode: per (vector, subspace) argmin squared-L2 over the
    * codebook — ties to the lowest centroid index, exactly as before.
    * Fully ROW-LOCAL since r16: the native [[graft.functions.PqEncode]]
    * kernel folds all NSub argmins over the broadcast nested codebook in
    * one codegen'd loop nest, so the former broadcast join (|V|·NSub·k
    * joined rows through a 16-aggregate hash aggregate plus a |V|-row
    * exchange) disappears — encode is now a map over the vectors, zero
    * exchanges. (Round 15's DataFrame-level row-local fold measured 1.7×
    * WORSE because ArrayAggregate is CodegenFallback; the native
    * expression keeps the loop inside whole-stage codegen, and
    * PqEncodeSpec pins bit-parity against the join form, tie-breaks and
    * NaN ordering included.)
    *
    * @param v (vec_id, ne) — full vectors (raw-normalized or residual).
    * @return (vec_id, codes: array of NSub 1-based code indices). */
  private[graft] def encodeCodes(v: DataFrame, cb: DataFrame): DataFrame =
    v.crossJoin(broadcast(cbNested(cb)))
      .select(col("vec_id"),
        call_function("pq_encode", col("ne"), col("cbs")).as("codes"))

  /** The join-based encode the kernel replaced — kept as the spec's
    * bit-parity reference (PqEncodeSpec runs both over the same corpus
    * sample and asserts identical codes). */
  private[graft] def encodeCodesJoinForm(v: DataFrame, cb: DataFrame): DataFrame = {
    val aggs = (1 to NSub).map { si =>
      min(when(col("s") === si,
        struct(l2sq(col("sv"), col("cv")).as("d2"), col("rnk")))).as(s"c$si")
    }
    subspacesOf(v).join(broadcast(cb), "s")
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id"),
        array((1 to NSub).map(si => col(s"c$si").getField("rnk")): _*).as("codes"))
  }

  /** ADC approximation of cos(q, v): Σ_s lut[s][codes[s]] — one native
    * codegen'd loop per (query, vector) pair ([[graft.functions.AdcScore]],
    * left-to-right adds — the oracle's list_sum fold order; r16). The
    * former NSub chained element_at terms allocated 16 nested-array views
    * per scored pair in the hottest scan of e5/e16. Shared by e5's
    * full-corpus ADC and the IVF-restricted [[probeCandidatesPq]]. */
  private[graft] def adcScore(lut: Column, codes: Column): Column =
    call_function("adc_score", lut, codes)

  /** Per-query ADC lookup table: dot(query subvector, codebook centroid)
    * for every (subspace, centroid), nested array ordered [s][rnk] —
    * computed ROW-LOCALLY from the full query vector against the
    * broadcast nested codebook (same dots, same order, zero shuffles;
    * the former shape exploded query slices and re-assembled the nested
    * array through two keyed collect_list shuffles — r15, guide §2.4).
    * Input q(q_id, qe = full normalized query vector); output (q_id, lut). */
  private[graft] def queryLut(q: DataFrame, cb: DataFrame): DataFrame =
    q.crossJoin(broadcast(cbNested(cb)))
      .select(col("q_id"),
        transform(sequence(lit(1), lit(NSub)), s => {
          val qv = slice(col("qe"), ((s - 1) * SubDim + 1).cast("int"), lit(SubDim))
          transform(element_at(col("cbs"), s),
            cv => call_function("vec_dot", qv, cv))
        }).as("lut"))

  // ------------------------------------------------------------ lifecycle

  /** The index's [[VersionedTable]]s, each a subdir of the index root. */
  private val IndexTables = Seq("cells", "centroids", "groups", "codebook", "cellstats")

  /** Corpus identity for the index cache: path + size + mtime of every
    * embeddings parquet file, so a driver-regenerated corpus gets a fresh
    * index instead of a silently stale one. */
  private def corpusFingerprint(corpusDir: String): String = {
    val p = Paths.get(corpusDir, "embeddings.parquet")
    require(Files.exists(p), s"no embeddings.parquet under $corpusDir")
    val files =
      if (Files.isDirectory(p)) Fs.dataFiles(p).map(p.resolve)
      else Vector(p)
    val sig = files
      .map(f => s"$f:${Files.size(f)}:${Files.getLastModifiedTime(f).toMillis}")
      .mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"v$FormatVersion|$sig".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  private[graft] def indexRoot(corpusDir: String): String =
    s"/tmp/graft_ivf/idx-v$FormatVersion-${corpusFingerprint(corpusDir)}"

  /** Build the index for `corpusDir` if absent; return its root. The
    * build lands in a scratch dir and moves into place atomically, so a
    * half-built index is never probed; in-process callers serialize on
    * this object (the cross-process guard is the atomic rename — the
    * loser of a race discards its build). */
  def ensure(spark: SparkSession, corpusDir: String): String = synchronized {
    val root = indexRoot(corpusDir)
    if (Files.exists(Paths.get(root, "_COMPLETE"))) {
      // refresh the root's mtime: pruneStale keys staleness on it, and
      // probe reads don't update it — without this touch an index built
      // >6h ago but still actively probed could be pruned out from under
      // an in-flight session when a different corpus builds. Residual
      // window: a session that keeps probing for >6h WITHOUT re-calling
      // ensure() is still exposed; callers holding a root that long
      // should re-ensure() per query batch (every graft query does).
      try Files.setLastModifiedTime(Paths.get(root),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () } // hygiene only
    } else {
      val tmp = root + s".build-${ProcessHandle.current().pid()}"
      Fs.deleteTree(Paths.get(tmp))
      build(spark, corpusDir, tmp)
      Files.createFile(Paths.get(tmp, "_COMPLETE"))
      Files.createDirectories(Paths.get(root).getParent)
      moveIntoPlace(tmp, root)
      pruneStale(root)
    }
    root
  }

  /** Publish a completed build: atomic rename `tmp` → `root`. Failure
    * handling, in order: a root that gained `_COMPLETE` is a LOST RACE
    * (another process finished first — deterministic build, its index is
    * identical), so discard `tmp`; a root present WITHOUT the marker is
    * debris (an interrupted prune or manual cleanup — a completed build
    * only ever appears atomically WITH its marker), so clear it and retry
    * ONCE. Deleting only on move failure — never ahead of the move —
    * closes the TOCTOU where a pre-emptive "clear debris" pass destroys
    * an index that a racing winner published (and may already be probing)
    * between the exists-check and the delete. Anything else surfaces NOW,
    * not as a confusing missing-path error on the first probe. */
  private def moveIntoPlace(tmp: String, root: String): Unit = {
    var retriedDebris = false
    while (true) {
      try {
        Fs.moveAtomic(Paths.get(tmp), Paths.get(root))
        return
      } catch {
        case e: java.nio.file.FileSystemException =>
          if (Files.exists(Paths.get(root, "_COMPLETE"))) {
            Fs.deleteTree(Paths.get(tmp))
            return
          } else if (!retriedDebris && Files.exists(Paths.get(root))) {
            retriedDebris = true
            Fs.deleteTree(Paths.get(root))
          } else throw e
      }
    }
  }

  /** Cache hygiene: each corpus regeneration fingerprints to a fresh
    * root, and a crashed build orphans its scratch dir — without pruning,
    * /tmp accumulates a full normalized-corpus copy per generation.
    * Runs after a successful build only; an index root or build dir
    * with anything touched in the last 6 hours is left alone (a
    * concurrent process may be using or building it). */
  private def pruneStale(keepRoot: String): Unit = {
    val keep = Paths.get(keepRoot)
    Fs.sweepStale(keep.getParent, java.time.Duration.ofHours(6),
      keep = p => p == keep || !p.getFileName.toString.startsWith("idx-"))
  }

  /** Full build into `root`: centroid sample, PQ codebook, and every
    * vector's cell assignment + PQ codes. `vn` feeds several consumers
    * (sample, assignment cross join, the ne join-back, the PQ slices)
    * with differing projections — checkpoint once (the d4/e5
    * ReusedExchange lesson); likewise `rsub` (codebook + encode) and the
    * tiny `cb`. */
  def build(spark: SparkSession, corpusDir: String, root: String): Unit = {
    val emb = Tables.embeddings(spark, corpusDir).transform(Tables.spread)
    val vn = normalized(emb).localCheckpoint(true)
    val cents = centroidsOf(vn).localCheckpoint(true)
    new VersionedTable(spark, s"$root/centroids")
      .write(cents.withColumn("gen", lit(0L)), "ivf-build")
    // the two-level state is an index artifact too — recomputing it per
    // probe would re-pay the k_cent × k_coarse assignment on every query
    // batch, the exact amortization failure this index exists to remove.
    // Since format v8 membership and group vectors live in ONE table
    // (see assignGroups): build seeds the group set from the pinned
    // centroid sample, and maintainGroups may later re-partition it —
    // the group level is MAINTAINED state, not a frozen sample.
    new VersionedTable(spark, s"$root/groups")
      .write(assignGroups(cents, coarseOf(cents)), "ivf-build")
    // PQ side: codebook pinned at build exactly like the centroids —
    // appends ENCODE against it and never re-train, so persisted codes
    // are provably identical to encoding the whole corpus at once. The
    // codebook trains on (and codes quantize) IVF RESIDUALS: assignment
    // must come first, and the assign frame feeds both the residuals and
    // the cells rows — checkpoint it once
    val assign = assignCells(vn, cents).localCheckpoint(true)
    // residual FULL vectors checkpoint once (they feed the codebook
    // sample and the row-local encoder); the former |V|·NSub exploded
    // slice materialization is gone — only the √N codebook sample is
    // ever sliced
    val res = residualsOf(vn, assign, cents).localCheckpoint(true)
    val cb = codebookOf(subspacesOf(res), vn, seed = "pq:").localCheckpoint(true)
    new VersionedTable(spark, s"$root/codebook").write(cb, "ivf-build")
    val cellRows = assign
      .join(vn, "vec_id")
      .join(encodeCodes(res, cb), "vec_id")
      .join(labelsOf(emb), "vec_id")
      .select(col("cid"), col("vec_id"), col("label"), col("ne"), col("codes"),
        lit(0L).as("gen"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("label"))
    new VersionedTable(spark, s"$root/cells").write(cellRows, "ivf-build")
    // stats from the checkpointed assignment — one tiny keyed count, not
    // a re-read of the just-written table
    writeCellStats(spark, root,
      assign.groupBy(col("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "ivf-build")
  }

  def centroids(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/centroids").read()
      .select(col("cid"), col("ce"))

  /** The PUBLISHED visibility epoch: max `gen` over the centroid head —
    * the value ONE centroid-table commit advances to flip a staged
    * restructuring (merge, maintain) live. Cached per (root, centroids
    * version), and the scan is PINNED to the observed version, so the
    * cache stays a pure function of its key under concurrent commits
    * (the cellRowCounts race, fixed at birth here). Metadata-sized:
    * the centroid table is ≤ 4×MaxCentroids rows by construction. */
  private[graft] def publishedGen(spark: SparkSession, root: String): Long = {
    val t = new VersionedTable(spark, s"$root/centroids")
    val v = t.latestVersion.getOrElse(0L)
    cellCountsLock.synchronized(genCache.get((root, v))) match {
      case Some(g) => g
      case None =>
        val g = t.read(Some(v)).agg(max(col("gen"))).head().getLong(0)
        cellCountsLock.synchronized {
          if (genCache.size > 256) genCache.clear()
          genCache.update((root, v), g)
        }
        g
    }
  }

  private val genCache =
    scala.collection.mutable.HashMap.empty[(String, Long), Long]

  /** The LIVE inverted lists: head rows whose epoch is published. Rows
    * staged above the published gen (a merge/maintain mid-flight, or
    * crash debris) are invisible here — every probe, maintenance read,
    * and membership query goes through this gate. */
  def cells(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/cells").read()
      .filter(col("gen") <= publishedGen(spark, root))
      .select(col("cid"), col("vec_id"), col("label"), col("ne"))

  /** The inverted lists' COMPRESSED representation only — (cid, vec_id,
    * codes). Parquet is columnar, so this scan reads the 16 small code
    * ints (plus the tiny gen epoch for the visibility gate) per vector,
    * never the 64-double `ne` bytes (plan-pinned in PushdownSpec). */
  def cellCodes(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/cells").read()
      .filter(col("gen") <= publishedGen(spark, root))
      .select(col("cid"), col("vec_id"), col("codes"))

  def codebook(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/codebook").read()
      .select(col("s"), col("rnk"), col("cv"))

  // ------------------------------------------------------ cell statistics
  // (the per-cell live-row-count ARTIFACT: every lifecycle commit
  // maintains it as an O(change) delta, so hot-cell detection and the
  // maintain() policy read ≤4×MaxCentroids rows instead of re-scanning
  // the inverted lists per index version — the persisted form of what
  // was a session-local cache through v6)

  /** Replace the stats artifact with `counts`, stamped with the CURRENT
    * cells head version — the reader trusts the artifact only when that
    * stamp still matches, so a mid-sequence or crashed writer can never
    * serve stale counts as fresh. Metadata-sized by construction. */
  private def writeCellStats(spark: SparkSession, root: String,
      counts: Map[Long, Long], operation: String): Unit = {
    val cellsV = new VersionedTable(spark, s"$root/cells")
      .latestVersion.getOrElse(0L)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(counts.toSeq.sortBy(_._1).map {
        case (c, n) => org.apache.spark.sql.Row(c, n, cellsV)
      }: _*)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("nrows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cells_v",
        org.apache.spark.sql.types.LongType, nullable = false)))
    new VersionedTable(spark, s"$root/cellstats")
      .write(spark.createDataFrame(rows, schema), operation)
  }

  /** The stats artifact IF it describes cells version `cellsV` — None
    * when absent (legacy root) or stale (observed mid-sequence, or a
    * writer crashed before its stats commit): callers fall back to a
    * version-pinned recount. */
  private def readCellStats(spark: SparkSession, root: String,
      cellsV: Long): Option[Map[Long, Long]] = {
    val t = new VersionedTable(spark, s"$root/cellstats")
    if (t.latestVersion.isEmpty) return None
    val rows = t.read().collect()
    if (rows.nonEmpty && rows.forall(_.getLong(2) == cellsV))
      Some(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    else None
  }

  /** Run `body` (a compact, a debris purge — anything that bumps the
    * cells version WITHOUT changing its visible live rows) and carry
    * the stats artifact across it: re-stamp the same counts at the new
    * head, so detection stays O(metadata) instead of paying a recount
    * per maintenance sweep. No-op when the artifact was already stale
    * going in. */
  /** Make the cells head APPEND-READY: a preceding sequence's cleanup
    * deletes owe a compact before any further append (the table refuses
    * appends onto deletion-vector heads), and the stats artifact carries
    * across it — visible rows don't change. The shared entry rule of
    * append/split/merge/maintain. */
  private def readyCellsHead(spark: SparkSession, root: String): VersionedTable = {
    val t = new VersionedTable(spark, s"$root/cells")
    if (t.headHasDeletes) withStatsCarried(spark, root)(t.compact())
    t
  }

  private def withStatsCarried(spark: SparkSession, root: String)(
      body: => Unit): Unit = {
    val t = new VersionedTable(spark, s"$root/cells")
    val keep = readCellStats(spark, root, t.latestVersion.getOrElse(0L))
    body
    keep.foreach(m => writeCellStats(spark, root, m, "ivf-stats-restamp"))
  }

  // ------------------------------------------------- restructuring WAL
  // (split/merge/maintain stage rows that only a later commit makes
  // reachable; a crash mid-sequence must not let a deterministic RETRY —
  // which re-mints the SAME seed cids — publish both copies)

  private def inflightMarker(root: String) =
    Paths.get(root, "cells", "_restructure_inflight")

  /** Begin a restructuring sequence: set the in-flight marker. The
    * marker is the WAL "begin" record — its presence at the NEXT
    * sequence's entry means a predecessor crashed mid-sequence and
    * [[retireDebris]] must sweep before anything stages. */
  private[graft] def beginRestructure(root: String): Unit = {
    Files.createDirectories(inflightMarker(root).getParent)
    try Files.createFile(inflightMarker(root))
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
  }

  private[graft] def endRestructure(root: String): Unit =
    Files.deleteIfExists(inflightMarker(root))

  /** Retire everything a CRASHED restructuring sequence staged: cells
    * rows above the published epoch (merge/maintain staging), cells
    * rows under cids the centroid set does not know (split/maintain
    * seed staging — all invisible, but a deterministic retry re-mints
    * the same seed cids and its flip would publish BOTH copies), and
    * groups rows for unknown cids (same retry-duplication hazard for
    * the two-level probe). Runs only when the in-flight marker says a
    * predecessor crashed — steady state costs a single Files.exists.
    * Debris is invisible by definition, so the visible-row stats carry
    * across the purge unchanged. */
  private def retireDebris(spark: SparkSession, root: String): Unit = {
    if (!Files.exists(inflightMarker(root))) return
    val g = publishedGen(spark, root)
    val knownIds = centroids(spark, root).select(col("cid"))
      .collect().map(_.getLong(0)).sorted // metadata-sized
    // a built index always has centroids; an empty list would interpolate
    // to `cid NOT IN ()` — a parse error, not a clean contract failure
    require(knownIds.nonEmpty,
      s"retireDebris($root): centroid table is empty — debris retirement " +
        "only runs against a built index (mirrors maintain()'s invariant)")
    val known = knownIds.mkString(", ")
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val cellsDebris = s"gen > $g OR cid NOT IN ($known)"
    if (!cellsT.read().filter(expr(cellsDebris)).isEmpty)
      withStatsCarried(spark, root) {
        cellsT.deleteWhere(cellsDebris)
        cellsT.compact()
      }
    val groupsT = new VersionedTable(spark, s"$root/groups")
    val groupsDebris = s"cid NOT IN ($known)"
    if (!groupsT.read().filter(expr(groupsDebris)).isEmpty) {
      groupsT.deleteWhere(groupsDebris)
      groupsT.compact()
    }
    endRestructure(root)
  }

  /** The live group vectors, derived from the unified groups table (one
    * row per DISTINCT gid — all of a gid's rows carry the identical ge
    * by construction). A group whose last member centroid retired
    * disappears here automatically: no dangling probe slots. */
  def coarseLevel(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/groups").read()
      .select(col("gid"), col("ge")).distinct()

  def groups(spark: SparkSession, root: String): DataFrame =
    new VersionedTable(spark, s"$root/groups").read()
      .select(col("cid"), col("gid"))

  /** GDPR erasure applied to the index ITSELF (the reference's
    * erase-then-serve compliance contract, compliance_policies.py:136-212
    * applied to the serving artifact): logically delete every
    * inverted-list row matching `condition` as ONE versioned commit over
    * `cells` — the deletion-vector shape, O(metadata) not O(data), the
    * only form that scales to a 100 TB index. The pinned centroids and PQ
    * codebook are TRAINED artifacts, not member data, so they stay (FAISS
    * `remove_ids` semantics — the quantizer never untrains). Probes of
    * the head never see erased rows (read() applies the stored
    * anti-predicates); time travel still audits pre-erasure versions
    * until a `compact()` materializes the deletes physically — run it to
    * hard-delete (IvfIndexSpec proves both layers).
    *
    * Contract: `condition` must be DETERMINISTIC and the caller must be
    * the index's single writer for the duration of the call. The stats
    * delta is counted by a pre-commit scan of the live view and the
    * artifact is stamped with the post-delete head version — a
    * non-deterministic predicate, or a concurrent commit landing between
    * the counting scan and deleteWhere, would record counts that
    * disagree with the rows actually removed, and the matching version
    * stamp means the recount fallback never catches it. Single-writer is
    * the index's global restructuring discipline (same as maintain()),
    * so this costs nothing new; it is load-bearing HERE specifically —
    * and, uniquely among the writers, it is ENFORCED at the one window
    * where a violation is silent corruption rather than a crash:
    * erasure landing inside a STAGED restructuring sequence
    * (begin→staged-rows→FLIP). The staged gen+1 copies are RE-KEYED
    * (fresh cid), so a predicate that references cid misses a moved
    * member's staged copy entirely and the flip RESURRECTS it; and even
    * a predicate the copy does match leaves the sequence's trailing
    * stats commit — computed from the pre-erasure moved set, stamped
    * with a matching head version — counting erased rows, which the
    * recount fallback can never catch. (Landing BEFORE the staged
    * append is the loud case already: the append refuses a
    * deletion-vector head.) delete() therefore refuses while the
    * restructuring WAL marker is present (IvfIndexSpec st20 pins both
    * the loud failure and the clean between-sweeps composition). */
  def delete(spark: SparkSession, root: String, condition: String): Long = {
    require(!Files.exists(inflightMarker(root)),
      s"delete on $root refused: a restructuring sequence is in flight " +
        "(_restructure_inflight marker present). Erasure inside a staged " +
        "maintain/merge flip would resurrect erased members through their " +
        "staged gen+1 copies — the erase×maintain single-writer contract. " +
        "If the marker belongs to a CRASHED predecessor, run maintain() " +
        "first (its entry retires the staged debris), then retry.")
    // stats delta BEFORE the commit: per-cell counts of the LIVE rows
    // the predicate erases (one predicate-pruned scan — the delete's own
    // counting scan pays the same; `condition` ranges over the getter's
    // columns: cid, vec_id, label, ne)
    val erased = cells(spark, root).filter(expr(condition))
      .groupBy(col("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prior = cellRowCounts(spark, root)
    val n = new VersionedTable(spark, s"$root/cells").deleteWhere(condition)
    writeCellStats(spark, root,
      prior.map { case (c, m) => c -> (m - erased.getOrElse(c, 0L)) },
      "ivf-delete")
    n
  }

  /** A CACHED erased twin of the corpus index: [[deriveTwin]] with one
    * [[delete]] committed — so a repeatable query (e17, st17) probes a
    * stable post-erasure head instead of mutating the shared index out
    * from under e14/e15/e16. */
  def ensureErased(spark: SparkSession, corpusDir: String,
      condition: String): String =
    deriveTwin(spark, corpusDir, s"erased-${keySig(condition)}")(
      tmp => delete(spark, tmp, condition))

  private[graft] def keySig(text: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(8)

  /** A CACHED derived twin of the corpus index: the completed base index
    * file-copied to a `key`-named sibling root, transformed ONCE by
    * `body` (erasure commits, stream appends — any sequence of versioned
    * commits against the scratch path it receives), then published
    * atomically. Same lifecycle contract as [[ensure]]: fingerprint +
    * key-cached, `_COMPLETE` travels with the content (a marker-less
    * root is always debris — the invariant moveIntoPlace's
    * clear-and-retry relies on), 6h prune via the shared idx- prefix.
    * Callers must key every input of `body` into `key` (predicate hash,
    * feed id) — a cache hit SKIPS body entirely. Log entries record
    * their version dirs root-relative, so the copied tables stay valid
    * after the rename into place. */
  def deriveTwin(spark: SparkSession, corpusDir: String, key: String)(
      body: String => Unit): String = synchronized {
    val base = ensure(spark, corpusDir)
    val root = s"$base-$key"
    if (Files.exists(Paths.get(root, "_COMPLETE"))) {
      try Files.setLastModifiedTime(Paths.get(root),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
      catch { case _: java.io.IOException => () } // hygiene only
    } else {
      val tmp = root + s".build-${ProcessHandle.current().pid()}"
      Fs.deleteTree(Paths.get(tmp))
      Fs.copyTree(Paths.get(base), Paths.get(tmp))
      Files.deleteIfExists(Paths.get(tmp, "_COMPLETE"))
      body(tmp)
      Files.createFile(Paths.get(tmp, "_COMPLETE"))
      moveIntoPlace(tmp, root)
    }
    root
  }

  /** Incremental add: assign `vecs` (vec_id, embedding) against the
    * PINNED centroid set and append them to the inverted lists as a new
    * version — never re-trains, so the result is provably identical to
    * assigning the whole corpus at once (IvfIndexSpec's rebuild-parity
    * gate). Feed the corpus table's change-feed inserts here for the
    * d14/st14 admission shape applied to the index. */
  /** [[append]] keyed on a batch id — foreachBatch RETRY safety:
    * Structured Streaming may re-invoke a batch after a failure, and a
    * blind re-append would double every row of that batch in the
    * inverted lists. The commit records `ivf-append:<batchKey>`; a
    * history hit skips the work entirely — the previous invocation's
    * commit IS this batch's effect (st18's production-loop contract;
    * replay spec in IvfIndexSpec). */
  def appendIdempotent(spark: SparkSession, root: String, vecs: DataFrame,
      batchKey: String): Long = {
    val op = s"ivf-append:$batchKey"
    val t = new VersionedTable(spark, s"$root/cells")
    val done = t.versions.nonEmpty &&
      t.history().filter(col("operation") === op).limit(1).count() > 0
    if (done) t.latestVersion.get
    else append(spark, root, vecs, op)
  }

  def append(spark: SparkSession, root: String, vecs: DataFrame,
      operation: String = "ivf-append"): Long = {
    // pay any pending cleanup-delete compact up front (the shared entry
    // rule) — this is what lets a streaming ingest loop interleave
    // freely with maintenance sweeps (st19's composition) instead of
    // crashing on the first append after a sweep
    readyCellsHead(spark, root)
    val vn = normalized(vecs).localCheckpoint(true)
    val cents = centroids(spark, root)
    val assign = assignCells(vn, cents).localCheckpoint(true)
    // codes quantize the RESIDUAL against the FROZEN codebook, the same
    // pinned-artifact rule as the centroid assignment (FAISS
    // IndexIVFPQ.add semantics — by_residual, never a re-train)
    val codes = encodeCodes(
      residualsOf(vn, assign, cents), codebook(spark, root))
    val newRows = assign
      .join(vn, "vec_id")
      .join(codes, "vec_id")
      .join(labelsOf(vecs), "vec_id")
      // appended rows are live immediately: they carry the PUBLISHED
      // epoch (only restructurings stage at gen+1 behind a flip)
      .select(col("cid"), col("vec_id"), col("label"), col("ne"), col("codes"),
        lit(publishedGen(spark, root)).as("gen"))
      .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("label"))
    val prior = cellRowCounts(spark, root)
    val added = assign.groupBy(col("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val v = new VersionedTable(spark, s"$root/cells").append(newRows, operation)
    // stats delta from the checkpointed batch assignment — O(batch)
    writeCellStats(spark, root,
      (prior.keySet ++ added.keySet).iterator.map(c =>
        c -> (prior.getOrElse(c, 0L) + added.getOrElse(c, 0L))).toMap,
      operation)
    v
  }

  /** Split one inverted list in place — the INDEX-SIDE skew remedy
    * (SPFresh's LIRE split applied to this layout; SCALE.md names it as
    * the fix beyond salting once a cell outgrows every join-side
    * mitigation). Two of the cell's members become fresh centroids (the
    * 'split:'-hash-minimal pair — deterministic, mirroring the 'cent:'
    * sample that trained the original quantizer from corpus vectors),
    * the cell's members re-assign between them by the shared
    * nearest-candidate argmax, and a staged commit sequence retires the
    * parent: new rows land UNREACHABLE first, one atomic centroid-set
    * replace flips visibility, then cleanup deletes retire the parent
    * (see the commit-order comment in the body — a live prober never
    * loses a candidate and never sees a duplicate). Every data commit
    * is O(cell); the cleanup deletes are O(metadata) — no table
    * rewrite, so a 100 TB index splits a cell for the cost of that
    * cell (the centroid replace rewrites the ≤MaxCentroids-row
    * centroid table, metadata-sized by construction). The parent
    * centroid VECTOR (vec_id == cid) stays a member like any other but
    * is excluded from seed eligibility — a split must mint FRESH cell
    * ids, or the parent's delete would erase its own replacement.
    * Vectors outside the cell, the coarse level, and the PQ codebook are
    * untouched; the MOVED members' codes are RE-ENCODED against the
    * frozen codebook (their residual changed with their centroid — the
    * FAISS by_residual contract), an O(cell) cost that rides the same
    * append. Returns the two new cell ids.
    *
    * The parent's logical delete leaves deletion vectors on the
    * cells/groups heads, and [[VersionedTable.append]] refuses
    * deletion-vector heads — so a FURTHER split or append on the same
    * index requires `compact()` first (st18 does exactly that after
    * its erasure). At 100 TB the production form compacts only the
    * parent cid's partition; here compact() is the honest stand-in. */
  def split(spark: SparkSession, root: String, cid: Long): (Long, Long) = {
    // net +1 centroid per call: keep the probe machinery's
    // metadata-sized-collect invariants honest (probedCidCounts' bound,
    // probeSelect's broadcast) — past the band, merge or rebuild instead
    require(centroids(spark, root).count() + 1 <= 4 * Embeddings.MaxCentroids,
      "split would grow the centroid set past 4×MaxCentroids — the " +
        "metadata-sized probe-collect bound; merge under-occupied cells " +
        "or rebuild with a larger quantizer instead")
    // entry guard (merge's rule): a crashed predecessor's staged rows
    // must be retired first — a deterministic retry re-mints the SAME
    // seed cids, and this split's flip would publish both copies. Then
    // make the heads append-ready across a pending cleanup delete.
    retireDebris(spark, root)
    readyCellsHead(spark, root)
    val groupsHead = new VersionedTable(spark, s"$root/groups")
    if (groupsHead.headHasDeletes) groupsHead.compact()
    val prior = cellRowCounts(spark, root) // stats delta base, pre-commit
    val members = cells(spark, root).filter(col("cid") === cid)
      .select(col("vec_id"), col("label"), col("ne"))
      .localCheckpoint(true) // feeds seed pick, reassign, and the cells append
    val seedRows = members
      .filter(col("vec_id") =!= cid)
      .withColumn("h", graft.functions.TextFunctions.portableHash(
        col("vec_id").cast("string"), "split:"))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(2)
      .select(col("vec_id"), col("ne"))
      .localCheckpoint(true)
    val seeds = seedRows.select(col("vec_id")).collect().map(_.getLong(0))
    require(seeds.length == 2,
      s"cell $cid has fewer than 3 members — nothing to split")
    val newCents = seedRows.select(col("vec_id").as("cid"), col("ne").as("ce"))
    val reassigned = nearestCandidate(
        members.select(col("vec_id").as("_id"), col("ne").as("_v")),
        newCents.select(col("cid").as("_cand"), col("ce").as("_cv")))
      .select(col("_id").as("vec_id"), col("_cand").as("cid"))
      .localCheckpoint(true) // feeds the residual re-encode AND the append
    // moved members' residuals changed with their centroid — re-encode
    // against the frozen codebook (O(cell), rides the same append)
    val codes = encodeCodes(
      residualsOf(members.select(col("vec_id"), col("ne")),
        reassigned, newCents),
      codebook(spark, root))
    // Commit order is load-bearing for LIVE maintenance (per-table
    // commits are atomic, cross-table transactions don't exist here —
    // at cluster scale that's the catalog's multi-table commit): stage
    // everything UNREACHABLE first, then flip visibility with ONE
    // atomic centroid-set replace. Every intermediate state serves
    // either the exact pre-split or exact post-split result — a
    // concurrent prober never loses a candidate and never sees a
    // duplicate; a crash leaves only invisible debris plus pending
    // cleanup deletes. (1) new cells rows: unreachable, their cids are
    // not in `centroids` yet; (2) seed group rows: a superset is
    // harmless, the two-level probe prunes through the centroids join;
    // (3) centroids REPLACE — the visibility switch; (4)-(5) retire the
    // parent's group row and stale cells rows (already invisible).
    val g = publishedGen(spark, root)
    val cellsT = new VersionedTable(spark, s"$root/cells")
    beginRestructure(root)
    cellsT.append(
      reassigned.join(members, "vec_id").join(codes, "vec_id")
        // the published epoch: these rows are invisible anyway (fresh
        // cids, not yet in centroids) — split's flip is cid presence
        .select(col("cid"), col("vec_id"), col("label"), col("ne"), col("codes"),
          lit(g).as("gen"))
        .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("label")),
      "ivf-split")
    val groupsT = new VersionedTable(spark, s"$root/groups")
    groupsT.append(assignGroups(newCents, coarseLevel(spark, root)), "ivf-split")
    val centsT = new VersionedTable(spark, s"$root/centroids")
    centsT.write(
      centroids(spark, root).filter(col("cid") =!= cid).unionByName(newCents)
        .withColumn("gen", lit(g)),
      "ivf-split")
    groupsT.deleteWhere(s"cid = $cid")
    cellsT.deleteWhere(s"cid = $cid")
    writeCellStats(spark, root,
      (prior - cid) ++ reassigned.groupBy(col("cid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "ivf-split")
    endRestructure(root)
    (seeds(0), seeds(1))
  }

  /** Merge one inverted list away — [[split]]'s dual (SPFresh's LIRE
    * merge): a cell too small to earn its probe slot is retired, and its
    * members re-assign to the NEAREST of the remaining centroids by the
    * shared argmax — the same rule that placed every other vector, so
    * the post-merge index is exactly "the same quantizer minus one
    * centroid". Commit order mirrors [[split]]'s staged protocol, with
    * the visibility EPOCH standing in for split's fresh cell ids: the
    * re-homed rows land in LIVE cells but STAGED at gen+1 (invisible —
    * [[cells]] gates on the published epoch), then ONE atomic
    * centroid-set replace both retires the parent from probe selection
    * AND publishes gen+1 — so every intermediate state serves either
    * the exact pre-merge or exact post-merge result: a concurrent
    * prober never loses a candidate and never sees a duplicate
    * (loss- AND duplicate-free, split's guarantee; IvfIndexSpec replays
    * every window state). Cleanup deletes retire the parent's
    * already-unreachable rows. Every data commit is O(cell) +
    * O(metadata) — never a rewrite. Same deletion-vector-head
    * constraint as [[split]]: compact() before a further append. A
    * crash mid-sequence leaves only invisible gen+1 debris, and the
    * NEXT restructuring's entry guard retires it before staging its own
    * rows (a flip must never publish another sequence's orphans).
    * Returns the member count moved. */
  def merge(spark: SparkSession, root: String, cid: Long): Long = {
    // crash-debris entry guard FIRST — before ANY state read (marker-
    // gated; steady state one Files.exists): an INTERRUPTED
    // restructuring's staged rows must be retired before this sequence
    // reads members or stages its own, or a phantom row rides the
    // checkpointed member frames into a legitimate staged commit and the
    // flip publishes it (the recover-before-read WAL rule — the spec's
    // planted-debris scenario caught exactly this). Then make the heads
    // append-ready (a previous sequence's cleanup deletes owe a compact;
    // the stats carry across it — visible rows don't change).
    retireDebris(spark, root)
    val cellsT = readyCellsHead(spark, root)
    val prior = cellRowCounts(spark, root) // stats delta base, pre-commit
    val members = cells(spark, root).filter(col("cid") === cid)
      .select(col("vec_id"), col("label"), col("ne"))
      .localCheckpoint(true) // feeds the reassign and the cells append
    val remaining = centroids(spark, root).filter(col("cid") =!= cid)
      .localCheckpoint(true) // feeds the guard, the reassign, and the replace
    require(!remaining.isEmpty,
      s"cell $cid is the index's only centroid — merging it would empty " +
        "the index; delete or rebuild instead")
    val reassigned = assignCells(members.select(col("vec_id"), col("ne")), remaining)
      .localCheckpoint(true) // feeds the residual re-encode AND the append
    // re-homed members' residuals changed with their centroid — re-encode
    // against the frozen codebook (split's rule; O(cell))
    val codes = encodeCodes(
      residualsOf(members.select(col("vec_id"), col("ne")),
        reassigned, remaining),
      codebook(spark, root))
    val g = publishedGen(spark, root)
    beginRestructure(root)
    // (1) stage the re-homed rows at gen+1 — in LIVE cells but invisible
    // until the flip (the cells getter gates on the published epoch)
    cellsT.append(
      reassigned.join(members, "vec_id").join(codes, "vec_id")
        .select(col("cid"), col("vec_id"), col("label"), col("ne"), col("codes"),
          lit(g + 1).as("gen"))
        .repartition(col("cid"))
      .sortWithinPartitions(col("cid"), col("label")),
      "ivf-merge")
    // (2) THE FLIP: one atomic centroid-set commit retires the parent
    // from probe selection AND publishes gen+1 — pre-merge and
    // post-merge are the only observable states
    new VersionedTable(spark, s"$root/centroids")
      .write(remaining.withColumn("gen", lit(g + 1)), "ivf-merge")
    // (3) cleanup: the parent's rows are already unreachable (its cid
    // left the centroid set) — O(metadata) logical deletes
    new VersionedTable(spark, s"$root/groups").deleteWhere(s"cid = $cid")
    cellsT.deleteWhere(s"cid = $cid")
    val landed = reassigned.groupBy(col("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = prior - cid
    // key union, not a map over base: a landing cell that had ZERO live
    // rows (possible after erasure) has no stats entry to increment
    writeCellStats(spark, root,
      (base.keySet ++ landed.keySet).iterator.map(c =>
        c -> (base.getOrElse(c, 0L) + landed.getOrElse(c, 0L))).toMap,
      "ivf-merge")
    endRestructure(root)
    members.count()
  }

  /** Default maintenance occupancy band, as integer rationals: split a
    * cell above (hiNum/hiDen)×T, merge below (loNum/loDen)×T, where
    * T = ⌈liveRows / centroidCount⌉ — the SPFresh-flavored policy bands
    * (4× / ¼×). Integer rationals, not doubles: the detection predicate
    * `cnt·hiDen > T·hiNum` is exact and mirrors verbatim into the
    * DuckDB oracle. */
  val MaintainHiNum = 4
  val MaintainHiDen = 1
  val MaintainLoNum = 1
  val MaintainLoDen = 4

  /** ONE automatic maintenance sweep — the policy pass over the manual
    * [[split]]/[[merge]] primitives: detect every cell above the hi
    * band (split it between its two 'split:'-hash-minimal member seeds)
    * and every cell below the lo band (re-home its members to the
    * nearest surviving centroid — the post-split target set, so a
    * merged member may land in a cell this same sweep just minted),
    * then commit the WHOLE sweep as one staged sequence with a single
    * atomic flip: moved rows stage at gen+1, seed cells are additionally
    * unreachable by fresh cid, and ONE centroid-table commit (heavies
    * and smalls out, seeds in, gen+1 published) makes the entire sweep
    * visible at once. A live prober observes exactly the pre-sweep or
    * post-sweep index — never a half-maintained one. Detection reads
    * the [[readCellStats]] artifact (metadata, no scan); every data
    * commit is O(moved cells); moved members' residual codes re-encode
    * against the frozen codebook (the split/merge rule).
    *
    * Returns (cells split, cells merged), counting the CELL level only —
    * every call (including a (0,0) one) additionally runs
    * [[maintainGroups]] to convergence at its tail, so a (0,0) return
    * means the cell level was already in band but the group level may
    * have committed its own rebalance during THIS call. The idempotence
    * contract is therefore one call deep: after any maintain() returns
    * (0,0), the NEXT call commits nothing at either level (both bands
    * verified clean; spec-pinned via version stability). Passing
    * `retainVersions = Some(n)` additionally runs [[vacuumIndex]] at
    * every call's tail — the production posture where the sweep loop IS
    * the retention scheduler and the artifact's version history stays
    * bounded at n per table. Callers
    * loop sweeps to convergence (each sweep's cleanup deletes owe a
    * compact before the next sweep's appends — the entry guard pays it
    * only when deletes are actually pending; at 100 TB that compact
    * touches only the retired cells' partitions). Exact duplicates are
    * the one mass no quantizer can spread — they tie to one seed
    * forever; dedup them (d1) before indexing, don't loop maintain. */
  def maintain(spark: SparkSession, root: String,
      hiNum: Int = MaintainHiNum, hiDen: Int = MaintainHiDen,
      loNum: Int = MaintainLoNum, loDen: Int = MaintainLoDen,
      retainVersions: Option[Int] = None): (Int, Int) = {
    require(hiNum > 0 && hiDen > 0 && loDen > 0 && loNum >= 0,
      "maintain bands must be positive rationals (loNum 0 disables merges)")
    val cellsT = new VersionedTable(spark, s"$root/cells")
    val groupsT = new VersionedTable(spark, s"$root/groups")
    // sweep entry: retire a crashed predecessor's staged debris
    // (marker-gated — the flip below must never publish another
    // sequence's orphans), then materialize pending cleanup deletes on
    // BOTH appended tables (this sweep appends; a deletion-vector head
    // refuses appends). The stats artifact CARRIES across the compact —
    // visible rows don't change — so every converging sweep's detection
    // stays O(metadata) instead of paying a recount per sweep.
    retireDebris(spark, root)
    readyCellsHead(spark, root)
    if (groupsT.headHasDeletes) groupsT.compact()
    val g = publishedGen(spark, root)
    val prior = cellRowCounts(spark, root)
    val centIds = centroids(spark, root).select(col("cid"))
      .collect().map(_.getLong(0)).toSeq.sorted
    val k = centIds.length.toLong
    val n = prior.values.sum
    require(k > 0 && n > 0, s"maintain on an empty index at $root")
    val t = (n + k - 1) / k
    val heavy = centIds.filter { c =>
      val cnt = prior.getOrElse(c, 0L)
      cnt * hiDen > t * hiNum && cnt >= 3
    }.toSet
    val small = centIds.filter { c =>
      prior.getOrElse(c, 0L) * loDen < t * loNum && !heavy(c)
    }.toSet
    if (heavy.isEmpty && small.isEmpty) {
      // cells are in band, but a PREVIOUS sweep's centroid churn may have
      // left the group level lopsided — settle it before reporting
      // convergence, so "maintain returned (0,0)" means the WHOLE index
      // (both levels) is in band and nothing further will ever commit
      maintainGroups(spark, root)
      retainVersions.foreach(vacuumIndex(spark, root, _))
      return (0, 0)
    }
    val kAfter = k + heavy.size - small.size
    require(kAfter >= 1,
      s"maintain would retire every centroid of $root — widen the lo band")
    require(kAfter <= 4 * Embeddings.MaxCentroids,
      "maintain would grow the centroid set past 4×MaxCentroids — " +
        "rebuild with a larger quantizer instead")

    // ---- detection done; build the moved-row frames (all O(moved))
    val heavyMembers = cells(spark, root)
      .filter(col("cid").isin(heavy.toSeq: _*))
      .select(col("cid").as("parent"), col("vec_id"), col("label"), col("ne"))
      .localCheckpoint(true) // seeds, per-parent argmax, and the append
    // two 'split:'-hash-minimal non-parent members per heavy cell —
    // e19's seed rule batched with a per-parent window
    val seedRows = heavyMembers
      .filter(col("vec_id") =!= col("parent"))
      .withColumn("h", graft.functions.TextFunctions.portableHash(
        col("vec_id").cast("string"), "split:"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("parent")).orderBy(col("h").asc, col("vec_id").asc)))
      .filter(col("rk") <= 2)
      .select(col("parent"), col("vec_id"), col("ne"))
      .localCheckpoint(true)
    val seedsByParent = seedRows.select(col("parent"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    require(heavy.forall(c => seedsByParent.get(c).exists(_.size == 2)),
      s"every heavy cell needs 2 non-parent member seeds; got $seedsByParent for $heavy")
    // per-parent nearest-seed argmax: each member scores ONLY its own
    // cell's two seeds (the seeds frame is metadata-sized — broadcast)
    val resplit = heavyMembers
      .join(broadcast(seedRows.select(col("parent"),
        col("vec_id").as("_cand"), col("ne").as("_cv"))), "parent")
      .select(col("vec_id"),
        struct(
          call_function("vec_dot", col("ne"), col("_cv")).as("cos"),
          (-col("_cand")).as("negc")).as("sc"))
      .groupBy(col("vec_id")).agg(max(col("sc")).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("cid"))
      .localCheckpoint(true)
    val newCents = seedRows
      .select(col("vec_id").as("cid"), col("ne").as("ce"))
      .localCheckpoint(true)
    val survivors = centroids(spark, root)
      .filter(!col("cid").isin((heavy ++ small).toSeq: _*))
    val targetCents = survivors.unionByName(newCents)
      .localCheckpoint(true) // merge argmax, residual re-encode, the flip
    val smallMembers = cells(spark, root)
      .filter(col("cid").isin(small.toSeq: _*))
      .select(col("vec_id"), col("label"), col("ne"))
      .localCheckpoint(true)
    val remerge = assignCells(
      smallMembers.select(col("vec_id"), col("ne")), targetCents)
      .localCheckpoint(true)
    val movedAssign = resplit.unionByName(remerge)
    val movedMembers = heavyMembers.select(col("vec_id"), col("label"), col("ne"))
      .unionByName(smallMembers)
    // moved members' residuals changed with their centroid — re-encode
    // against the frozen codebook (the split/merge rule, batched)
    val movedCodes = encodeCodes(
      residualsOf(movedMembers.select(col("vec_id"), col("ne")),
        movedAssign, targetCents),
      codebook(spark, root))

    // ---- the staged commit sequence (split's protocol, one flip for
    // the whole sweep): (1) moved rows at gen+1 — seed cells also
    // unreachable by fresh cid; (2) seed group rows — unreachable, their
    // cids are not in centroids yet; (3) THE FLIP; (4) cleanup deletes;
    // (5) the stats artifact
    beginRestructure(root)
    cellsT.append(
      movedAssign.join(movedMembers, "vec_id").join(movedCodes, "vec_id")
        .select(col("cid"), col("vec_id"), col("label"), col("ne"), col("codes"),
          lit(g + 1).as("gen"))
        .repartition(col("cid"))
        .sortWithinPartitions(col("cid"), col("label")),
      "ivf-maintain")
    groupsT.append(assignGroups(newCents, coarseLevel(spark, root)), "ivf-maintain")
    new VersionedTable(spark, s"$root/centroids")
      .write(targetCents.withColumn("gen", lit(g + 1)), "ivf-maintain")
    val retired = (heavy ++ small).toSeq.sorted.mkString(", ")
    groupsT.deleteWhere(s"cid IN ($retired)")
    cellsT.deleteWhere(s"cid IN ($retired)")
    val movedCounts = movedAssign.groupBy(col("cid")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = prior -- heavy -- small
    writeCellStats(spark, root,
      (base.keySet ++ movedCounts.keySet).iterator.map(c =>
        c -> (base.getOrElse(c, 0L) + movedCounts.getOrElse(c, 0L))).toMap,
      "ivf-maintain")
    endRestructure(root)
    // group-level upkeep LAST, outside the marker: each of its rounds is
    // one atomic single-table commit, so a crash between rounds leaves a
    // consistent (merely less-balanced) index — no debris to retire
    maintainGroups(spark, root)
    // retention rides the sweep when asked (reference cadence: the
    // compliance window applied at every maintenance pass) — an
    // always-on sweep loop then bounds the artifact's version history
    // without a separate scheduler
    retainVersions.foreach(vacuumIndex(spark, root, _))
    (heavy.size, small.size)
  }

  /** Occupancy band for the GROUP level, as integer rationals like the
    * cell bands: split a coarse group whose member-CENTROID count exceeds
    * (GroupHiNum/GroupHiDen) × the STRUCTURAL target occupancy
    * ⌈k / min(⌈√k⌉, MaxCoarse)⌉ — i.e. ~√k members per group, the shape
    * [[coarseOf]] seeds at build — and MERGE a group below
    * (GroupLoNum/GroupLoDen) × the same target. The reference point is
    * deliberately NOT the current mean ⌈k/nGroups⌉: a level that drifted
    * to 3 uniformly-loaded giant groups under a grown centroid set is
    * "balanced" by a relative band yet serves nearly flat-probe cost,
    * and a level whose k SHRANK 4× under cell merges keeps every group
    * "at the mean" while the group COUNT — stage-1 probe cost is
    * |groups| dots per query — sits far above √k of the new k. The
    * structural target catches skew AND count drift in both directions.
    * Tighter than the cell band's 4×/¼× (2×/½×): a drifted group level
    * re-flattens one of the probe's two stages long before it hurts
    * storage. */
  val GroupHiNum = 2
  val GroupHiDen = 1
  val GroupLoNum = 1
  val GroupLoDen = 2

  /** Re-balance the COARSE level after cell maintenance moved the
    * centroid population under it, in BOTH directions. [[maintain]]'s
    * sweeps assign every new centroid to its nearest EXISTING group
    * ([[assignGroups]] against the live group set) and never
    * restructure a group — so a hot region's splits concentrate new
    * centroids into whichever groups their parents occupied (per-group
    * occupancy grows unbounded; the two-level probe's SECOND stage
    * decays back toward flat selection), while heavy retirement /
    * cell-merges shrink k under a group set sized for the old k
    * (surviving groups outnumber √k of the new k; the FIRST stage —
    * |groups| dots per query — drifts above structural). This is the
    * counterpart sweep one level up, with a split rule and its merge
    * dual:
    *
    * SPLIT — detect every group above the [[GroupHiNum]] occupancy band
    * and split it K-WAY in one round — K = ⌈occupancy / target⌉
    * 'gsplit:'-hash-minimal member centroids become the seeds (the
    * cell-split seed rule one level up, widened: a 2-way split of a
    * G-member group needs up to O(G) rounds when nearest-of-two
    * assignment comes out lopsided, each round a full table commit —
    * K-way lands within band in one or two rounds and bounds the
    * log churn). Members whose cid is itself a live gid are
    * seed-INELIGIBLE — a seed's cid becomes the new gid, and a gid
    * collision would weld two groups together. ONLY the split group's
    * members re-assign, to their nearest seed (by cosine, ties to the
    * lower gid — O(group), never a global re-clustering).
    *
    * MERGE — when the split pass did not act this round (no over-band
    * group, or the over-band groups are stuck: lacking two eligible
    * seeds, or the duplicate-vector rename corner), detect every group below the
    * [[GroupLoNum]] band and DISSOLVE it: its member centroids re-assign
    * to their nearest KEEPER group (an in-band survivor; by cosine of
    * member ce against keeper ge, ties to the lower gid). In the corner
    * where EVERY group is under band (a deep k-shrink), the targetG
    * highest-occupancy groups (ties to the lower gid) are retained as
    * keepers so the level re-forms at the structural count instead of
    * collapsing to one group. Splits run first: their lopsided
    * fragments may fall under band, and the merge pass that follows is
    * what lands them — the two directions share one loop and one
    * convergence contract.
    *
    * Each round commits the complete new state as ONE atomic write of
    * the unified groups table (format v8) — a live two-level probe
    * observes exactly the pre-round or post-round group set. Rounds
    * repeat until no group is outside the band; each split strictly
    * lowers the split group's occupancy — every seed captures at least
    * itself because ce is UNIT-NORM everywhere in this index (the
    * normalized gate), making self-dot the maximum — and each merge
    * strictly lowers the group count, so the loop terminates — with a
    * stall guard for the degenerate corner ([[maintain]]'s
    * duplicate-vector disclaimer: identical centroids can tie every
    * member to one seed). A degenerate split is detected BEFORE its
    * commit — the candidate post-split occupancy multiset equalling the
    * current one means the round merely RENAMES groups under fresh gids
    * — so a stalled level exits without burning a table rewrite per
    * round; the guard additionally tracks every multiset seen this call
    * (not just the previous round's), so a split↔merge oscillation
    * exits at its first repeat. A round cap is the final backstop
    * (best-effort exit; the next maintain call resumes where this one
    * stopped). Returns total groups restructured (split + dissolved). */
  def maintainGroups(spark: SparkSession, root: String): Int = {
    val groupsT = new VersionedTable(spark, s"$root/groups")
    var total = 0
    var rounds = 0
    val seen = scala.collection.mutable.Set.empty[Seq[Long]]
    while (true) {
      rounds += 1
      if (rounds > 32) return total // backstop; next maintain call resumes
      val memb = groupsT.read().select(col("cid"), col("gid"), col("ge"))
      val occ = memb.groupBy(col("gid")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap // ≤ groups
      if (occ.isEmpty) return total
      // stall/cycle guard on the occupancy VALUE multiset, not the map:
      // a degenerate split (identical centroid vectors tie every member
      // to one seed) merely RENAMES the group — same occupancies under a
      // fresh gid, so a map comparison never fires; and a pathological
      // split↔merge oscillation revisits a multiset it has seen before
      val occVals = occ.values.toSeq.sorted
      if (!seen.add(occVals)) return total
      val k = occ.values.sum
      // structural target: ~√k members per group (coarseOf's build shape)
      val targetG = math.min(math.ceil(math.sqrt(k.toDouble)).toLong, MaxCoarse)
      val target = (k + targetG - 1) / targetG
      val gidSet = occ.keySet
      val over = occ.collect {
        case (g, c) if c * GroupHiDen > target * GroupHiNum => g
      }.toSeq.sorted
      // a stuck split must NOT exit the sweep: an over-band group that
      // cannot progress (no 2 eligible seeds, or the duplicate-vector
      // rename corner) would otherwise permanently starve the merge
      // direction while under-band groups keep stage-1 cost drifted —
      // the split pass records whether it ACTED, and the merge pass
      // runs whenever it did not
      var splitActed = false
      if (over.nonEmpty) {
        val membC = memb.filter(col("gid").isin(over: _*))
          .join(centroids(spark, root), "cid") // + ce for the seed argmax
          .localCheckpoint(true) // feeds seeds, reassign, and the write
        // K-way seed budget per over-band group: enough seeds that one
        // round's fragments land AT the target, not merely under 2× it
        val wantDf = spark.createDataFrame(
            over.map(g => (g, math.max(2L, (occ(g) + target - 1) / target))))
          .toDF("gid", "want")
        val seeds = membC
          .filter(!col("cid").isin(gidSet.toSeq: _*))
          .withColumn("h", graft.functions.TextFunctions.portableHash(
            col("cid").cast("string"), "gsplit:"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("gid")).orderBy(col("h").asc, col("cid").asc)))
          .join(broadcast(wantDf), "gid")
          .filter(col("rk") <= col("want"))
          .select(col("gid").as("parent"), col("cid").as("sgid"), col("ce").as("sge"))
          .localCheckpoint(true)
        val splittable = seeds.groupBy(col("parent")).count()
          .collect().collect { case r if r.getLong(1) >= 2L => r.getLong(0) }
          .toSeq.sorted // groups lacking 2 eligible seeds skip this round
        if (splittable.nonEmpty) {
          val seedsS = seeds.filter(col("parent").isin(splittable: _*))
          val reassigned = membC.filter(col("gid").isin(splittable: _*))
            .join(broadcast(seedsS.select(col("parent"), col("sgid"), col("sge"))),
              col("gid") === col("parent"))
            .select(col("cid"),
              struct(
                call_function("vec_dot", col("ce"), col("sge")).as("cos"),
                (-col("sgid")).as("negg")).as("sc"))
            .groupBy(col("cid")).agg(max(col("sc")).as("best"))
            .select(col("cid"), (-col("best.negg")).as("gid"))
            .join(broadcast(seedsS.select(col("sgid").as("gid"), col("sge").as("ge"))),
              "gid")
            .select(col("cid"), col("gid"), col("ge"))
            .localCheckpoint(true) // feeds the rename check AND the write
          // degenerate-split check BEFORE the commit: if the candidate
          // post-split occupancy multiset equals the current one, this
          // round is a pure rename (identical centroid vectors tied
          // every member to one seed) — skip the wasted table rewrite
          // and let the merge pass below have the round instead
          val fragOcc = reassigned.groupBy(col("gid")).count()
            .collect().map(_.getLong(1)) // ≤ groups-sized
          val candVals = (occ.view.filterKeys(g => !splittable.contains(g))
            .values ++ fragOcc).toSeq.sorted
          if (candVals != occVals) {
            groupsT.write(
              memb.filter(!col("gid").isin(splittable: _*)).unionByName(reassigned),
              "ivf-maintain-groups")
            total += splittable.size
            splitActed = true
          }
        }
      }
      if (!splitActed) {
        val under = occ.collect {
          case (g, c) if c * GroupLoDen < target * GroupLoNum => g
        }.toSeq.sorted
        if (under.isEmpty || occ.size <= 1) return total
        // keepers absorb the dissolved groups' members: the in-band
        // survivors, or — when EVERY group is under band — the targetG
        // highest-occupancy groups (ties to the lower gid), so the level
        // re-forms at the structural count
        val keepers =
          if (under.size < occ.size) gidSet -- under
          else under.sortBy(g => (-occ(g), g)).take(
            math.max(1, targetG.toInt)).toSet
        val dissolve = under.filterNot(keepers)
        if (dissolve.isEmpty) return total
        val keeperVecs = memb.filter(col("gid").isin(keepers.toSeq: _*))
          .select(col("gid"), col("ge")).distinct() // one row per keeper
        val moved = memb.filter(col("gid").isin(dissolve: _*))
          .join(centroids(spark, root), "cid") // + ce for the keeper argmax
          .crossJoin(broadcast(
            keeperVecs.select(col("gid").as("kgid"), col("ge").as("kge"))))
          .select(col("cid"),
            struct(
              call_function("vec_dot", col("ce"), col("kge")).as("cos"),
              (-col("kgid")).as("negg")).as("sc"))
          .groupBy(col("cid")).agg(max(col("sc")).as("best"))
          .select(col("cid"), (-col("best.negg")).as("gid"))
          .join(broadcast(keeperVecs), "gid")
          .select(col("cid"), col("gid"), col("ge"))
        groupsT.write(
          memb.filter(!col("gid").isin(dissolve: _*)).unionByName(moved),
          "ivf-maintain-groups")
        total += dissolve.size
      }
    }
    total
  }

  /** Retention policy for the WHOLE index root — the M4 retention
    * machinery applied to the serving artifact (the reference's
    * compliance-retention window, compliance_policies.py:93-114, pointed
    * at the index instead of a gold table). Every maintain sweep commits
    * fresh versions of cells/centroids/groups/cellstats; at production
    * cadence (a sweep per ingest batch) the per-table logs and
    * version dirs grow per sweep and the artifact's footprint becomes
    * O(history), not O(data). One policy call bounds it: keep the last
    * `keepLast` versions of EVERY index table — time travel to any KEPT
    * version still audits the pre-maintenance index (spec'd), and only
    * version dirs outside the window are physically dropped (safe
    * unconditionally: each version dir is self-contained — appends
    * hard-link carried files forward, so no kept version references a
    * dropped dir). Returns the dropped versions per table. */
  def vacuumIndex(spark: SparkSession, root: String,
      keepLast: Int = 3): Map[String, Seq[Long]] =
    IndexTables
      .map(t => t -> new VersionedTable(spark, s"$root/$t").vacuum(keepLast))
      .toMap

  /** Probe the persisted index: exact cosines over the probed cells'
    * vectors, query itself excluded — (q_id, vec_id, cos), the same
    * contract as `Embeddings.ivfCandidates` but with ZERO corpus reads
    * and zero assignment work; cost follows the probed cells only.
    *
    * While the probed-cell set is metadata-sized (≤ [[InPruneMaxCells]])
    * it is collected driver-side to push `cid IN (...)` into the cells
    * scan (row-group skipping); past that bound the tail routes through
    * the broadcast left-semi prune ([[joinProbesCellsManyCell]]) — the
    * many-cell regime, hash-identical by spec. */
  def probeCandidates(spark: SparkSession, root: String, q: DataFrame,
      nProbe: Int = NProbe, candWhere: Option[String] = None): DataFrame =
    rescoreCells(spark, root,
      probeSelect(q, centroids(spark, root), nProbe), q, candWhere)

  /** Two-level probe: query → nearest [[NCoarseProbe]] coarse groups →
    * their member centroids only → nProbe cells → exact rescore. The
    * query-side centroid work drops from k_cent dots to k_coarse +
    * (members of the probed groups) — the SHAPE that matters once the
    * cell count outgrows a per-query scoring pass. Honest scope note:
    * under this engine's MaxCentroids=256 cap the cell list never
    * reaches the regime where the coarse level pays (e15 benches within
    * noise of e14 at 16 cells; on a hand-built 4096-cell index the
    * two-level selection is measured faster — IvfIndexSpec's many-cell
    * test, numbers in SCALE.md). Past [[InPruneMaxCells]] probed cells
    * the shared tail swaps the collected IN-prune for the broadcast
    * left-semi prune automatically. Same exact rescore, same
    * determinism (every argmax ties to the lowest id), fully
    * oracle-checked (e15). */
  def probeCandidatesTwoLevel(spark: SparkSession, root: String, q: DataFrame,
      nCoarse: Int = NCoarseProbe, nProbe: Int = NProbe): DataFrame = {
    // every index artifact is READ, never recomputed: group vectors and
    // the centroid→group map are persisted (maintained state since v8),
    // so a probe pays only its own query-side work. BOTH of this probe's
    // metadata tables are PINNED to explicit versions, and the pair is
    // validated COVERING before use: cross-table transactions don't
    // exist here (split's commit-order comment), so a concurrent
    // maintain flip between the two reads can produce a (groups,
    // centroids) pair from different windows — e.g. groups at a
    // pre-sweep version with centroids post-flip, where a retired cid's
    // members are unreachable through EITHER side of the inner joins
    // below (its groups rows prune against the new centroid set, the
    // seed cids have no groups rows yet) and candidates silently
    // vanish. The covering invariant "every live centroid has a groups
    // row" holds in every STEADY state (build/append/sweep-complete,
    // and every crash-debris state — debris only ADDS groups rows), so
    // a violation means the pair straddles an in-flight flip: back off
    // briefly and re-read. Both tables are metadata-sized
    // (≤ 4×MaxCentroids rows), so the validation collects the FULL rows
    // — which then BECOME the probe's metadata side as local relations:
    // the served plan re-scans neither parquet table (its only file
    // scan is the pruned inverted lists; plan-pinned in PushdownSpec),
    // and the validated pair is by construction the exact data the plan
    // uses. Steady state passes first try. If a sustained restructuring
    // storm outlasts the retries, the probe DEGRADES to the flat
    // single-level selection instead of failing the serve — same exact
    // rescore contract over every live cell, the coarse level is a
    // selection-cost optimization, not a correctness gate.
    val groupsT = new VersionedTable(spark, s"$root/groups")
    val centsT = new VersionedTable(spark, s"$root/centroids")
    var attempt = 0
    var snapRows: Array[org.apache.spark.sql.Row] = null
    var centRows: Array[org.apache.spark.sql.Row] = null
    var snapSchema: org.apache.spark.sql.types.StructType = null
    var centSchema: org.apache.spark.sql.types.StructType = null
    var covering = false
    // broken-vs-storm discriminator: every STEADY state is covering
    // (build/append/sweep-complete, and every crash-debris state —
    // debris only ADDS groups rows), so a non-covering pair whose
    // version numbers never advanced across the WHOLE retry ladder
    // (~6 s of backoff) is an index invariant break — THROW with the
    // diagnosis rather than degrade, or real corruption would hide
    // behind the storm path forever. The window must be the full
    // ladder, not two adjacent attempts: a LIVE sweep's centroids and
    // groups commits are two separate table writes whose gap can
    // exceed any single backoff step, and a throw on one repeated pair
    // would fail probes racing a merely-slow writer. Any version
    // movement during the ladder routes to the storm degrade instead.
    var firstPair: (Option[Long], Option[Long]) = null
    var sawMovement = false
    while (!covering) {
      attempt += 1
      if (attempt > 8) {
        if (!sawMovement) sys.error(
          s"two-level probe of $root: centroid(s) with no groups row " +
            s"under a version pair (centroids ${firstPair._1}, groups " +
            s"${firstPair._2}) that stayed STABLE across the full retry " +
            "ladder — the covering invariant is broken in steady state " +
            "(not an in-flight flip); the groups table lost members. " +
            "Run maintainGroups() / rebuild the index.")
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"two-level probe of $root could not obtain a covering " +
            "(centroids, groups) pair after 8 attempts — sustained " +
            "restructuring storm; degrading to the flat probe path")
        return probeCandidates(spark, root, q, nProbe)
      }
      // per-attempt backoff 50 ms → 1.6 s (≈ 6.3 s summed worst case)
      if (attempt > 1) Thread.sleep(25L << math.min(attempt, 6))
      val cv = centsT.latestVersion
      val gv = groupsT.latestVersion
      val cents = centsT.read(versionAsOf = cv)
        .select(col("cid"), col("ce"))
      val snap = groupsT.read(versionAsOf = gv)
        .select(col("cid"), col("gid"), col("ge"))
      centSchema = cents.schema
      snapSchema = snap.schema
      centRows = cents.collect() // metadata-sized
      snapRows = snap.collect() // metadata-sized
      covering = centRows.map(_.getLong(0)).toSet
        .subsetOf(snapRows.map(_.getLong(0)).toSet)
      if (!covering) {
        val pair = (cv, gv)
        if (firstPair == null) firstPair = pair
        else if (pair != firstPair) sawMovement = true
      }
    }
    val snap = spark.createDataFrame(
      java.util.Arrays.asList(snapRows: _*), snapSchema)
    val cents = spark.createDataFrame(
      java.util.Arrays.asList(centRows: _*), centSchema)
    val qg = q.crossJoin(broadcast(
        snap.select(col("gid"), col("ge")).distinct()))
      .select(col("q_id"),
        call_function("vec_dot", col("q_ne"), col("ge")).as("cos"), col("gid"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("q_id"))
      .agg(graft.functions.BoundedTopK.topK(nCoarse)(col("cos"), col("gid")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("gid"))
    val probes = qg
      .join(snap.select(col("cid"), col("gid")), "gid")
      .join(cents, "cid")
      .join(q, "q_id")
      .select(col("q_id"),
        call_function("vec_dot", col("q_ne"), col("ce")).as("cos"), col("cid"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .groupBy(col("q_id"))
      .agg(graft.functions.BoundedTopK.topK(nProbe)(col("cos"), col("cid")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("cid"))
    rescoreCells(spark, root, probes, q)
  }

  /** Ceiling on the driver-collected probed-cell list (the `cid IN`
    * prune): 4× the centroid-sample cap — the hash-threshold admission
    * is binomial AROUND min(√N, MaxCentroids), so allow the overshoot.
    * Past it the probe tail routes through the LEFT-SEMI prune instead
    * ([[joinProbesCellsManyCell]]). A mutable field ONLY as a test
    * seam: the regime-parity spec pins hash equality by running the
    * same probe under both regimes. */
  @volatile private[graft] var InPruneMaxCells: Int =
    4 * Embeddings.MaxCentroids.toInt

  /** Driver-side probed-cell id list WITH per-cell probe multiplicity —
    * when it is metadata-sized: the ids push `cid IN (...)` into an
    * index scan (parquet row-group skipping), the multiplicities feed
    * hot-cell detection (a cell's reducer load is probes×rows, not rows
    * alone). The collect itself is bounded BEFORE it happens
    * (limit(cap+1)); None past the cap routes the caller to the
    * many-cell regime. */
  private def probedCidCounts(probes: DataFrame): Option[Seq[(Long, Long)]] = {
    val cids = probes.groupBy(col("cid")).count()
      .limit(InPruneMaxCells + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    if (cids.length > InPruneMaxCells) None else Some(cids)
  }

  /** THE probed-cell prune, regime-matched — the one definition every
    * probe tail and every pruned index scan applies (a drifting copy
    * here would silently split the "hash-identical regimes" spec):
    * pushed `cid IN (...)` while the probed set is metadata-sized; past
    * the bound, a broadcast LEFT-SEMI of the distinct probed cids
    * (≤ |Q|·nProbe ids — far smaller than the lists, never collected to
    * the driver). Row-group skipping is traded away in the many-cell
    * regime, but every non-probed cell's rows die at the semi join
    * before any exchange. Returns a FUNCTION so one probe invocation's
    * prune applies to several scans (the PQ serve prunes its codes scan
    * AND its re-rank scan) sharing ONE distinct-cids frame. */
  private def cidPruner(probes: DataFrame,
      counts: Option[Seq[(Long, Long)]]): DataFrame => DataFrame =
    counts match {
      case Some(cs) =>
        val cids = cs.map(_._1)
        df => df.filter(col("cid").isin(cids: _*))
      case None =>
        val probeCids = probes.select(col("cid")).distinct()
        df => df.join(broadcast(probeCids), Seq("cid"), "left_semi")
    }

  /** Regime router for every probe tail: IN-prune + hot-cell salting
    * while the probed set is metadata-sized ([[probedCidCounts]] =
    * Some), LEFT-SEMI prune + plain equi-join past it (None).
    * Driver-side hot-cell salting is skipped in the many-cell regime
    * deliberately: per-cell loads SHRINK as the cell count grows
    * (N/k_cent falls), and the shuffled join's residual skew is AQE
    * skew-join territory — the detection arithmetic would cost a
    * collect this regime exists to avoid. */
  private def probeJoin(spark: SparkSession, root: String,
      probes: DataFrame, lists: DataFrame,
      counts: Option[Seq[(Long, Long)]],
      prune: DataFrame => DataFrame): DataFrame =
    counts match {
      case Some(cs) => joinProbesCells(spark, root, probes, cs, prune(lists))
      case None => probes.join(prune(lists), "cid")
    }

  /** Per-cell LIVE row counts for one committed version of an index's
    * inverted lists. Primary source is the persisted `cellstats`
    * ARTIFACT (maintained by every lifecycle commit as an O(change)
    * delta — the 100 TB form); the fallback for a mid-sequence or
    * legacy head is one recount PINNED to the observed version, so the
    * session cache stays a pure function of its (root, version) key
    * even when a concurrent commit lands between the version read and
    * the scan. Bounded: ≤ 4×MaxCentroids entries per version, capped
    * version count. */
  private val cellCountsCache =
    scala.collection.mutable.HashMap.empty[(String, Long), Map[Long, Long]]
  // the cache gets its OWN tiny lock: the IvfIndex object monitor is held
  // across entire builds and deriveTwin bodies (tens of seconds, and a
  // body can run a streaming query) — a probe of an already-published
  // index must never block on it, and the counts collect itself runs
  // OUTSIDE any lock (a racing duplicate compute is benign)
  private val cellCountsLock = new Object

  private def cellRowCounts(spark: SparkSession, root: String): Map[Long, Long] = {
    val t = new VersionedTable(spark, s"$root/cells")
    val v = t.latestVersion.getOrElse(0L)
    cellCountsLock.synchronized(cellCountsCache.get((root, v))) match {
      case Some(m) => m
      case None =>
        val m = readCellStats(spark, root, v).getOrElse {
          t.read(Some(v))
            .filter(col("gen") <= publishedGen(spark, root))
            .groupBy(col("cid")).count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        cellCountsLock.synchronized {
          if (cellCountsCache.size > 64) cellCountsCache.clear()
          cellCountsCache.update((root, v), m)
        }
        m
    }
  }

  /** Hot-cell salt width — the d3 HotBucketSalt rationale applied to
    * inverted lists: a hot cell's rows spread across this many reducers. */
  private[graft] val HotCellSalt = 8

  /** A probed cell is HOT when its reducer load (probe multiplicity ×
    * stored rows — the row count a cid-keyed shuffle actually routes to
    * that cell's reducer) exceeds this multiple of the MEDIAN load of
    * the probed cells. Median, not leave-one-out mean: several
    * similar-sized hot cells inflate each other's mean enough to hide
    * behind it, while the median stays anchored to the normal cells.
    * Probe-weighted, not size-only: queries concentrating on one
    * normal-sized cell pin its reducer just as surely as one oversized
    * list does. RELATIVE, deliberately: uniform corpus growth never
    * trips it at any scale (loads grow together), only genuine skew
    * does — an absolute threshold would false-positive every cell once
    * N/k_cent outgrew it. */
  private[graft] val HotCellFactor = 8

  /** The probes(q_id, cid) ⋈ pruned-lists equi-join every probe tail
    * runs, HOT-CELL-SAFE: in the broadcast regime (lists fit the hash
    * side — today's measured posture, SCALE.md) candidates are generated
    * across query-partitioned tasks and skew is output-bound; once the
    * lists outgrow broadcast range the join shuffles on cid, and a hot
    * inverted list (the skew twin's 47.7× cell) would pin one reducer.
    * Detected-hot cells are therefore salted [[HotCellSalt]] ways via
    * SaltedJoin.hotOnlyPrecomputed — dormant (the PLAIN equi-join,
    * zero plan overhead) when no probed cell's load exceeds
    * [[HotCellFactor]]× the probed median, engaged only under real
    * skew; result-identical both ways (IvfIndexSpec pins both plans and
    * the hash parity). Detection is pure driver-side arithmetic: probe
    * multiplicities ride the prune collect every probe already pays,
    * and stored per-cell rows come from the per-(root, version) counts
    * cache — no extra Spark job per probe (st17 probes every
    * micro-batch). */
  private def joinProbesCells(spark: SparkSession, root: String,
      probes: DataFrame, probeCounts: Seq[(Long, Long)],
      prunedCells: DataFrame): DataFrame = {
    val rows = cellRowCounts(spark, root)
    // reducer load of cell c under a cid-keyed shuffle = probes(c) ×
    // rows(c); a SINGLE probed cell is hot by definition (all rows on
    // one reducer, and its own median would mask it)
    val loads = probeCounts.map { case (cid, np) =>
      cid -> np * rows.getOrElse(cid, 0L)
    }
    val hot =
      if (loads.sizeIs == 1) loads.map(_._1)
      else {
        // LOWER median ((n-1)/2), deliberately: with 2 probed cells the
        // upper median IS the larger load (skew self-masks — the exact
        // case the old leave-one-out gate caught), and with half the
        // probed set hot the upper median sits on a hot cell; the lower
        // median stays anchored to the normal cells in both
        val med = math.max(
          loads.map(_._2).sorted.apply((loads.size - 1) / 2), 1L)
        loads.collect { case (cid, l) if l > HotCellFactor.toLong * med => cid }
      }
    if (hot.isEmpty) probes.join(prunedCells, "cid") // dormant: the plain equi-join
    else {
      import probes.sparkSession.implicits._
      SaltedJoin.hotOnlyPrecomputed(prunedCells, probes, Seq("cid"),
        HotCellSalt, hot.toDF("cid"))
    }
  }

  /** Shared probe tail: exact cosines of `probes`(q_id, cid) against the
    * stored inverted lists, query excluded, NaN screened. The probed-cell
    * set is collected driver-side to push `cid IN (...)` into the cells
    * scan (row-group skipping) — [[probedCidCounts]]'s bound.
    *
    * `candWhere` is the FILTERED-search form (FAISS IDSelector): a SQL
    * predicate over the index's stored metadata (`label`), applied to
    * the cells scan itself — so it pushes into parquet beside the cid
    * prune and non-matching vectors never enter the scoring join, rather
    * than being dropped after scoring. Hot-cell detection still keys on
    * UNFILTERED stored counts (the cached per-version map) — an
    * overestimate under a selective filter, which errs toward salting:
    * conservative, never a pinned reducer. */
  private def rescoreCells(spark: SparkSession, root: String,
      probesRaw: DataFrame, q: DataFrame,
      candWhere: Option[String] = None): DataFrame = {
    val probes = probesRaw
      .localCheckpoint(true) // consumed by the cid collect AND the join
    val lists = candWhere.foldLeft(cells(spark, root))(
      (c, w) => c.filter(expr(w)))
    val counts = probedCidCounts(probes)
    probeJoin(spark, root, probes, lists, counts, cidPruner(probes, counts))
      .filter(col("vec_id") =!= col("q_id"))
      .join(q, "q_id")
      .select(col("q_id"), col("vec_id"),
        call_function("vec_dot", col("q_ne"), col("ne")).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
  }

  /** IVFPQ probe — the FAISS `IndexIVFPQ.search` serving pipeline over
    * the persisted artifacts: probe selection against the pinned
    * centroids, then ADC over the probed cells' stored RESIDUAL codes
    * (16 small ints per vector — [[cellCodes]]'s ne-free scan) via each
    * query's broadcast lookup table plus the probed centroid's dot (the
    * by_residual reconstruction: cos(q,x) ≈ dot(q,c) + Σ_s lut[s][code]),
    * a per-query [[PqShortlist]] cut, and an exact re-rank of the
    * shortlist from the stored full-precision vectors. Output
    * (q_id, vec_id, cos) for the surviving shortlist — the e14 contract
    * at ADC cost.
    *
    * Scale shape: the LUTs broadcast to the codes side (never shuffle
    * corpus codes by query — e5's rule); the ADC pass reads codes only,
    * so at 100 TB it touches 16 bytes-ish per probed vector instead of
    * 64 doubles; the full-precision pass touches |Q|·shortlist vectors,
    * not the corpus. The shortlist join back to `cells` is keyed on
    * vec_id with a broadcast of the (|Q|·shortlist)-row shortlist — the
    * corpus side never shuffles. */
  def probeCandidatesPq(spark: SparkSession, root: String, q: DataFrame,
      nProbe: Int = NProbe, shortlist: Int = PqShortlist): DataFrame = {
    // probe selection KEEPS each probed centroid's query dot (qccos):
    // codes quantize residuals, so the ADC estimate of cos(q, x) is
    // dot(q, c(cid)) + Σ_s lut[s][code_s] — the centroid term rides the
    // probes frame for free (probe selection computed it anyway)
    val probes = probeSelectScored(q, centroids(spark, root), nProbe)
      .localCheckpoint(true) // consumed by the cid collect AND the join
    val counts = probedCidCounts(probes)
    // ONE regime-matched prune shared by both index scans (the ADC
    // codes pass and the full-precision re-rank)
    val prune = cidPruner(probes, counts)
    val lut = queryLut(
      q.select(col("q_id"), col("q_ne").as("qe")), codebook(spark, root))
    val short = probeJoin(spark, root, probes, cellCodes(spark, root), counts, prune)
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(lut), "q_id")
      .select(col("q_id"), col("vec_id"),
        (col("qccos") + adcScore(col("lut"), col("codes"))).as("adc"))
      .groupBy(col("q_id"))
      .agg(graft.functions.BoundedTopK.topK(shortlist)(col("adc"), col("vec_id")).as("top"))
      .select(col("q_id"), explode(col("top.id")).as("vec_id"))
    // the shortlist's vectors all come from probed cells, so the
    // full-precision scan gets the same cell prune as the ADC scan
    broadcast(short)
      .join(prune(cells(spark, root))
        .select(col("vec_id"), col("ne")), "vec_id")
      .join(q, "q_id")
      .select(col("q_id"), col("vec_id"),
        call_function("vec_dot", col("q_ne"), col("ne")).as("cos"))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
  }
}

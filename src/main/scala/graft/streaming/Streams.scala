package graft.streaming

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured-Streaming plumbing (reference: src/streaming modules, bronze
  * ingestion streams): file-source streams over the testdata parquet,
  * executed with Trigger.AvailableNow and drained into a batch DataFrame.
  *
  * Scale notes: the same pipelines run unbounded with processing-time
  * triggers on a cluster — AvailableNow is the batch-parity harness the
  * reference itself uses for backfills (ingest_crm_customers.py:136). State
  * stores are bounded by watermarks; sinks are idempotent (foreachBatch
  * MERGE keyed on business ids), so replays are no-ops — the exactly-once
  * contract (checkpoint + idempotent sink) is tested in StreamingSpec.
  */
object Streams {

  private val counter = new AtomicInteger(0)

  /** Stream-plumbing scratch dirs (checkpoints, symlink shims, batch
    * outputs) go through the shared exit-time-cleaned registry
    * ([[graft.core.Scratch]]) — the query fixture dirs ride the same
    * hook. */
  private def scratchDir(prefix: String): java.nio.file.Path =
    graft.core.Scratch.dir(prefix)

  /** Streaming scan of one testdata parquet table (explicit schema, as the
    * OSS equivalent of Auto Loader's file discovery + checkpointed offsets).
    */
  def tableStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val schema = spark.read.parquet(path).schema
    // The file source wants a directory to watch. A dir-shaped table
    // (part files, e.g. a ScaleGen corpus) IS that shape already — watch
    // it directly (the file source skips _SUCCESS/`_*` markers; a symlink
    // to the dir would list zero files and silently drain an empty
    // stream). A single-file table gets exposed through a scratch-dir
    // symlink.
    val sourceDir =
      if (Files.isDirectory(java.nio.file.Paths.get(path))) path
      else {
        val streamDir = scratchDir("graft_src_")
        // absolute target: a relative `dir` would otherwise produce a
        // symlink resolved against the scratch dir — dangling, and the
        // stream would silently drain zero rows
        Files.createSymbolicLink(
          streamDir.resolve(s"$name.parquet"),
          java.nio.file.Paths.get(path).toAbsolutePath)
        streamDir.toString
      }
    val raw = spark.readStream.schema(schema).parquet(sourceDir)
    if (name == "events") graft.core.Tables.normalizeEventTs(raw)
    else raw
  }

  /** Run a streaming DF to completion (AvailableNow) into an in-memory
    * table; returns the drained result as a batch DataFrame.
    *
    * Update-mode contract: Spark's memory sink REPLACES its contents only
    * for complete mode — update-mode emissions are APPENDED, so a run
    * that splits into several micro-batches returns every intermediate
    * emission of a key, not just the last. Consumers of update-mode
    * results must fold to final state themselves (the st3/st12 pattern:
    * emit monotone measures, take max per key), or guarantee a
    * single-batch source. */
  def runToMemory(df: DataFrame, outputMode: String): DataFrame = {
    val name = s"graft_stream_${counter.incrementAndGet()}"
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", scratchDir("graft_ck_").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Pin the drained rows into (evictable, ContextCleaner-managed) block
    // storage and DROP the memory-sink view: the sink's buffered batches
    // are otherwise referenced by the session catalog FOREVER, so a
    // caller looping streams (Bench times st9 four times) accumulates a
    // full result copy per run that no System.gc() can free.
    val spark = df.sparkSession
    val out = spark.table(name).localCheckpoint(true)
    spark.catalog.dropTempView(name)
    out
  }

  /** Run a streaming DF through foreachBatch, appending every micro-batch
    * to a scratch parquet dir; returns the accumulated rows. */
  def runViaForeachBatch(df: DataFrame, outputMode: String): DataFrame =
    runBatchwise(df, outputMode)(identity)

  /** Run a RAW streaming DF through foreachBatch, applying an arbitrary
    * batch transformation to each micro-batch and appending its result to
    * a scratch parquet dir; returns the accumulated rows. The production
    * shape for per-batch logic the streaming engine cannot express in one
    * unbounded plan (joins + aggregation + anti join per batch, the same
    * way st6's MERGE runs upserts batchwise). The body must be
    * batch-split invariant (each output row a function of its input row
    * and static state only) for the result to be deterministic under any
    * micro-batch partitioning — st15's admission test is, by
    * construction.
    */
  def runBatchwise(df: DataFrame, outputMode: String = "append")(
      body: DataFrame => DataFrame): DataFrame =
    runBatchwiseWithId(df, outputMode)((batch, _) => body(batch))

  /** [[runBatchwise]] with a per-batch COMMIT KEY exposed to the body —
    * for sinks keying IDEMPOTENT commits (the foreachBatch exactly-once
    * discipline: the engine may re-invoke a batch id after a failure,
    * and the sink must make the replay a no-op — st18's index appends
    * do, via IvfIndex.appendIdempotent). The key is the CHECKPOINT's
    * identity plus the micro-batch id, not the bare id: batch ids
    * restart at 0 for every fresh checkpoint, so a bare-id key would
    * make a second ingest run silently skip all of its batches as
    * "already committed", while a genuine retry (same checkpoint, same
    * id) still deduplicates. */
  def runBatchwiseWithId(df: DataFrame, outputMode: String = "append")(
      body: (DataFrame, String) => DataFrame): DataFrame = {
    val out = scratchDir("graft_bw_").toString + "/out"
    val ck = scratchDir("graft_ck_")
    val runKey = ck.getFileName.toString.stripPrefix("graft_ck_")
    val q = df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        body(batch, s"$runKey:$bid").write.mode("append").parquet(out)
      }
      .start()
    q.awaitTermination()
    // zero micro-batches (caught-up checkpoint / empty source): no batch
    // ever wrote, so there is no dir to read — return an EMPTY frame with
    // the body's output schema instead of a path-not-found crash far from
    // the cause
    if (!Files.exists(java.nio.file.Paths.get(out))) {
      val s = df.sparkSession
      body(s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], df.schema),
        s"$runKey:empty")
    } else df.sparkSession.read.parquet(out)
  }

  /** Resolve the committed snapshot dir: pointer file if present, else the
    * legacy `current` dir (a pre-pointer seed), else none. */
  private def resolveCurrent(targetDir: String): Option[String] = {
    val ptr = java.nio.file.Paths.get(targetDir, "_current")
    if (Files.exists(ptr)) Some(s"$targetDir/${Files.readString(ptr).trim}")
    else if (new java.io.File(s"$targetDir/current").exists()) Some(s"$targetDir/current")
    else None
  }

  /** The retry-domain tag for a sink's snapshot names: exactly-once is
    * PER CHECKPOINT (Spark replays batch ids from the checkpoint's offset
    * log), so the replay-skip test must be scoped to it. A bare
    * `v=<batchId>` conflated "same batch" with "same batch ID": a FRESH
    * checkpoint against an existing target also starts at batchId 0, and
    * its first batch would be skipped as a "replay" of the previous
    * run's — silent data loss. Tagging names with a checkpoint-derived
    * token keeps same-checkpoint replays no-ops while a new run's batches
    * always merge. */
  private def runTag(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString

  /** The canonical Silver streaming sink (ST6/J9/M1): per-micro-batch MERGE
    * into a parquet-backed target — latest (version, key) wins, replays
    * idempotent because merging the same batch twice is a no-op.
    *
    * @param checkpoint pass the same dir across restarts for exactly-once
    *                   (the replay-skip is scoped to it — see [[runTag]]).
    * @return final target contents.
    */
  /** @param faultInjector test-only crash hook, called at the two torn
    *        windows of a commit: ("after-write", batchId) between the
    *        snapshot write and the pointer flip, and
    *        ("before-checkpoint", batchId) after the pointer flip but
    *        before foreachBatch returns — i.e. before the engine commits
    *        the batch to the offset log. Throwing simulates a crash
    *        INSIDE the commit; StreamingSpec proves replay idempotence
    *        for both windows. Default no-op. */
  def runMergeSink(
      updates: DataFrame,
      targetDir: String,
      keyCols: Seq[String],
      versionCol: String,
      checkpoint: String,
      tiebreak: Seq[String] = Nil,
      faultInjector: (String, Long) => Unit = (_, _) => ()): DataFrame = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val snapDir = s"v=${runTag(checkpoint)}-$batchId"
        val current = resolveCurrent(targetDir)
        // Replay after a crash BETWEEN pointer flip and checkpoint commit:
        // the pointer already names this batch's snapshot — the merge
        // committed, so the replay is a no-op (re-merging would read and
        // overwrite the same dir).
        if (!current.contains(s"$targetDir/$snapDir")) {
          val existing = current.map(s.read.parquet(_)).getOrElse(batch.limit(0))
          val merged = MergeOps.upsertLatestWins(existing, batch, keyCols, versionCol, tiebreak)
          commitSnapshot(targetDir, snapDir, merged, current,
            () => faultInjector("after-write", batchId))
          faultInjector("before-checkpoint", batchId)
        }
        ()
      }
      .start()
    q.awaitTermination()
    // pin the result (eager localCheckpoint): the returned DataFrame would
    // otherwise lazily re-read a snapshot dir that the NEXT run on this
    // target deletes when it flips the pointer — deferred consumption
    // would hit FileNotFoundException on files that were live at return.
    // A SEEDED target that saw zero batches resolves through Some below
    // and keeps the seed's schema/column order (never updates.schema —
    // the stream projection may legitimately differ from the seed). No
    // snapshot at all = zero micro-batches ran against a truly fresh
    // target (caught-up checkpoint / empty source): nothing was merged
    // and no target schema exists, so the honest result is an EMPTY
    // updates-schema frame, not a crash far from the cause (runBatchwise
    // handles its zero-batch case the same way).
    resolveCurrent(targetDir) match {
      case Some(dir) => spark.read.parquet(dir).localCheckpoint(true)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], updates.schema)
    }
  }

  /** Versioned snapshot commit: write to a NEW dir, then flip the pointer
    * with an atomic rename — a crash mid-write leaves the previous
    * snapshot intact and readable (an in-place overwrite would delete it
    * first). The pointer makes deleting the superseded snapshot safe,
    * bounding on-disk copies at ~2 instead of one per micro-batch. */
  private def commitSnapshot(targetDir: String, snapDir: String,
      snapshot: DataFrame, current: Option[String],
      afterWrite: () => Unit = () => ()): Unit = {
    snapshot.write.mode("overwrite").parquet(s"$targetDir/$snapDir")
    afterWrite() // torn-commit window: data written, pointer not flipped
    graft.core.Fs.writeAtomic(java.nio.file.Paths.get(targetDir, "_current"), snapDir)
    current.foreach(prev => graft.core.Fs.deleteTree(java.nio.file.Paths.get(prev)))
  }

  /** Streaming materialized view (continuous incremental refresh — the
    * DLT "live table over a CDF stream" shape): each micro-batch of
    * change-feed rows folds into the (count, sum) aggregate state via
    * [[graft.ops.IncrementalAgg.applyDelta]], committed as a versioned
    * snapshot + atomic pointer flip (same exactly-once replay contract as
    * [[runMergeSink]]: a replayed batch whose pointer already names its
    * snapshot is a no-op). Because count/sum maintenance is linear, ANY
    * partitioning of the feed into micro-batches — including an update's
    * pre/postimage rows landing in different batches — converges to the
    * same state as a full recompute.
    *
    * @return the final view contents.
    */
  def runMvSink(feed: DataFrame, targetDir: String, keys: Seq[String],
      valueCol: String, checkpoint: String): DataFrame = {
    val spark = feed.sparkSession
    val q = feed.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // checkpoint-scoped name — see runTag's data-loss rationale
        val snapDir = s"v=${runTag(checkpoint)}-$batchId"
        val current = resolveCurrent(targetDir)
        if (!current.contains(s"$targetDir/$snapDir")) {
          val state = current.map(s.read.parquet(_)).getOrElse(
            graft.ops.IncrementalAgg.init(batch.filter(lit(false)), keys, valueCol))
          commitSnapshot(targetDir, snapDir,
            graft.ops.IncrementalAgg.applyDelta(state, batch, keys, valueCol),
            current)
        }
        ()
      }
      .start()
    q.awaitTermination()
    // same pinning and zero-batch rationale as runMergeSink's return:
    // no snapshot = no batch ran = an empty STATE-schema view
    resolveCurrent(targetDir) match {
      case Some(dir) => spark.read.parquet(dir).localCheckpoint(true)
      case None => graft.ops.IncrementalAgg.init(
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], feed.schema),
        keys, valueCol)
    }
  }
}

/** Batch MERGE semantics without a transactional table format: the upsert
  * itself is a pure DataFrame operator (reference DeltaTable.merge usage,
  * transform_customers.py:171-202). */
object MergeOps {
  /** Union target+source, keep the latest row per key: version desc, then
    * `tiebreak` columns desc, then source-over-target — a total order, so
    * the merge result is deterministic (and replay-idempotent). The
    * tiebreak MUST outrank the source bit: with source-first, two rows
    * tied on version but differing in tiebreak would resolve by
    * micro-batch arrival order (one batch: tiebreak decides; split
    * batches: the later batch's row wins as "source"), making the merged
    * state depend on batch partitioning. Source-over-target is only the
    * FINAL tie-break — it decides the exact-duplicate case (same version,
    * same tiebreak values), where taking the incoming row is the
    * update-overwrites semantics and replays stay no-ops. */
  def upsertLatestWins(
      target: DataFrame, source: DataFrame,
      keyCols: Seq[String], versionCol: String,
      tiebreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reserved internal markers: withColumn would silently OVERWRITE a
    // real column of either name and the trailing drop would delete it
    // from the merged output — fail loudly instead (same policy as
    // Quality's _q_reason and ZOrder's _z)
    Seq("_src_rank", "_rn").foreach(c =>
      require(!target.columns.contains(c),
        s"target already has a $c column (reserved by upsertLatestWins) — rename it first"))
    val t = target.withColumn("_src_rank", lit(0))
    val s = source.select(target.columns.map(col).toSeq: _*).withColumn("_src_rank", lit(1))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy((col(versionCol).desc +: tiebreak.map(col(_).desc)) :+
        col("_src_rank").desc: _*)
    t.unionByName(s)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_src_rank")
  }
}

package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.{MergeOps, Streams}

/** Exactly-once contract of the streaming MERGE sink: checkpointed offsets
  * make restarts no-ops, and the merge itself is idempotent (replaying a
  * batch cannot change the target).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("st17 rejects the paraphrase st15 admits — semantic beats fingerprint admission") {
    // a PARAPHRASE shares (almost) no winnowing fingerprints with its
    // source, so fingerprint admission (st15) waves it through — but its
    // embedding is the source's, so semantic admission (st17) rejects it.
    // The verbatim copy proves the reverse edge, and a genuinely novel
    // vector passes the semantic gate.
    val dir = Files.createTempDirectory("graft_st17_").toString
    def vec(seed: Long): Seq[Float] = Seq.tabulate(64) { i =>
      (((seed * 2654435761L + i * 40503L) % 1000L).toFloat / 501f) + 0.001f
    }
    val oneHot: Seq[Float] = Seq.tabulate(64)(i => if (i == 63) 1f else 0f)
    val srcText = "the quick brown fox jumps over the lazy dog while seventeen " +
      "ravens circle above the quiet harbor and fishermen mend their nets at dawn"
    val paraText = "a swift russet vulpine leaps across an idle hound as many " +
      "corvids wheel overhead near a calm port where sailors repair rigging early"
    def filler(i: Long) = s"document number $i carries entirely unrelated filler " +
      s"content token$i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"
    val ids = 1L to 150L
    ids.map { i =>
        val text = i match {
          case 1L  => srcText
          case 5L  => paraText // paraphrase of corpus doc 1
          case 15L => srcText  // verbatim copy of corpus doc 1
          case _   => filler(i)
        }
        (i, text, "en", "spec", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    ids.map { i =>
        val v = i match {
          case 5L  => vec(1L) // the paraphrase MEANS what corpus doc 1 means
          case 10L => oneHot  // genuinely novel direction
          case _   => vec(i)
        }
        (i, v, (i % 3).toInt)
      }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val byFp = SparkEntry.queries("st15_winnow_admission")(spark, dir)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val bySem = SparkEntry.queries("st17_semantic_admission")(spark, dir)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(byFp.contains(5L), "fingerprint admission must wave the paraphrase through")
    assert(!bySem.contains(5L), "semantic admission must reject the paraphrase")
    assert(!byFp.contains(15L), "the verbatim copy must fail fingerprint admission")
    assert(bySem.contains(10L), "a genuinely novel vector must pass semantic admission")
  }

  test("MergeOps.upsertLatestWins is idempotent and deterministic") {
    val target = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "ver")
    val source = Seq((2L, "b2", 25L), (3L, "c", 5L)).toDF("k", "v", "ver")
    val once = MergeOps.upsertLatestWins(target, source, Seq("k"), "ver")
    val twice = MergeOps.upsertLatestWins(once, source, Seq("k"), "ver")
    val got = twice.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("MergeOps: version ties resolve by tiebreak, not micro-batch arrival order") {
    // the batch-split invariance contract: a version-tied pair must pick
    // the same winner whether it arrives in one batch (tiebreak decides)
    // or split across two (where a source-over-target-first ordering
    // would let the LATER batch's row win as "source")
    val a = Seq((1L, "early", 10L, 3L)).toDF("k", "v", "ver", "tb")
    val b = Seq((1L, "late", 10L, 9L)).toDF("k", "v", "ver", "tb")
    val empty = a.limit(0)
    // one batch: both rows in the source
    val oneBatch = MergeOps.upsertLatestWins(
      empty, a.unionByName(b), Seq("k"), "ver", tiebreak = Seq("tb"))
    // split batches, both orders
    val splitAB = MergeOps.upsertLatestWins(
      MergeOps.upsertLatestWins(empty, a, Seq("k"), "ver", Seq("tb")),
      b, Seq("k"), "ver", Seq("tb"))
    val splitBA = MergeOps.upsertLatestWins(
      MergeOps.upsertLatestWins(empty, b, Seq("k"), "ver", Seq("tb")),
      a, Seq("k"), "ver", Seq("tb"))
    def v(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(1)).toSeq
    assert(v(oneBatch) == Seq("late"), "tiebreak=9 must win the version tie")
    assert(v(splitAB) == Seq("late") && v(splitBA) == Seq("late"),
      "split delivery must resolve the tie identically in either order")
  }

  test("merge sink replay with same checkpoint is a no-op (exactly-once)") {
    val scratch = Files.createTempDirectory("graft_eo_").toString
    val ck = Files.createTempDirectory("graft_eo_ck_").toString
    val base = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    MergeOps.upsertLatestWins(base.limit(0), base, Seq("o_custkey"), "o_orderdate",
      tiebreak = Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$scratch/current")

    // One source dir for both runs: the second start() resumes from the
    // checkpoint, finds no new files, and must leave the target untouched.
    val updates = Streams.tableStream(spark, sf, "orders")
      .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
    def run() = Streams.runMergeSink(
      updates, scratch, Seq("o_custkey"), "o_orderdate", ck, tiebreak = Seq("o_orderkey"))

    val first = run().collect().toSet
    val second = run().collect().toSet // same checkpoint → no new input
    assert(first == second, "replay with the same checkpoint must not change the target")
    assert(first.nonEmpty)
  }

  test("merge sink: a crash INSIDE the commit replays idempotently (both torn windows)") {
    // The core production guarantee: a foreachBatch MERGE that dies
    // mid-commit must converge to the clean-run target on restart. The
    // commit has two distinct torn windows, both injected here:
    //  1. "after-write": snapshot dir written, pointer NOT flipped,
    //     batch not in the offset log → the replay must RE-MERGE (same
    //     inputs, same deterministic snapshot name → identical commit).
    //  2. "before-checkpoint": pointer flipped, batch not in the offset
    //     log → the replay must SKIP (the pointer already names this
    //     batch's snapshot; the skip IS the exactly-once scoping).
    val srcDir = Files.createTempDirectory("graft_crash_src_").toString
    Seq((1L, "a", 1L), (2L, "b", 1L), (2L, "b2", 2L)).toDF("k", "v", "ver")
      .write.mode("overwrite").parquet(srcDir)
    def stream() = spark.readStream
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)

    // clean reference run (own target + checkpoint)
    val reference = Streams.runMergeSink(stream(),
      Files.createTempDirectory("graft_crash_ref_").toString + "/t",
      Seq("k"), "ver",
      Files.createTempDirectory("graft_crash_refck_").toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(reference == Set((1L, "a", 1L), (2L, "b2", 2L)))

    for (phase <- Seq("after-write", "before-checkpoint")) {
      val target = Files.createTempDirectory("graft_crash_t_").toString + "/t"
      val ck = Files.createTempDirectory("graft_crash_ck_").toString
      val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streams.runMergeSink(stream(), target, Seq("k"), "ver", ck,
          faultInjector = (p, _) =>
            if (p == phase) throw new RuntimeException(s"injected crash at $p"))
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(boom).exists(_.contains("injected crash")),
        s"expected the injected $phase fault, got: $boom")
      // restart on the SAME checkpoint, fault removed → replay converges
      val replayed = Streams.runMergeSink(stream(), target, Seq("k"), "ver", ck)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(replayed == reference,
        s"$phase replay diverged: $replayed vs $reference")
    }
  }

  test("merge sink: a FRESH checkpoint against an existing target merges, never skips as replay") {
    // the replay-skip is scoped per checkpoint: run B starts a new
    // checkpoint (batchId restarts at 0) against run A's target — its
    // batch must MERGE into the existing snapshot, not be skipped because
    // some earlier run also had a batch 0 (that conflation silently
    // dropped run B's data before the checkpoint-tagged snapshot names)
    val scratch = Files.createTempDirectory("graft_fck_").toString + "/t"
    def src(rows: Seq[(Long, String, Long)]) = {
      val dir = Files.createTempDirectory("graft_fck_src_").toString
      rows.toDF("k", "v", "ver").write.mode("overwrite").parquet(dir)
      spark.readStream.schema(spark.read.parquet(dir).schema).parquet(dir)
    }
    val runA = Streams.runMergeSink(src(Seq((1L, "a", 1L))), scratch,
      Seq("k"), "ver", Files.createTempDirectory("graft_fck_ck1_").toString)
    assert(runA.collect().map(_.getLong(0)).toSet == Set(1L))
    val runB = Streams.runMergeSink(src(Seq((2L, "b", 1L))), scratch,
      Seq("k"), "ver", Files.createTempDirectory("graft_fck_ck2_").toString)
    assert(runB.collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "run B's batch was skipped as a phantom replay of run A's batch 0")
  }

  test("MV sink replay with same checkpoint is a no-op; state survives batch splits") {
    // Streaming incremental MV: 4 feed files, 1 per micro-batch — the
    // (count, sum) state must accumulate across batches to the batch
    // groupBy, and a restart on the same checkpoint must change nothing.
    val srcDir = Files.createTempDirectory("graft_mvs_").toString
    val rows = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .withColumn("_change_type", lit("insert"))
    rows.repartition(4).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val target = Files.createTempDirectory("graft_mvt_").toString + "/mv"
    val ck = Files.createTempDirectory("graft_mv_ck_").toString
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_custkey"), col("cnt"), col("agg_sum").cast("double"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val first = snap(
      Streams.runMvSink(feed, target, Seq("o_custkey"), "o_totalprice", ck))
    val want = snap(graft.ops.IncrementalAgg.init(
      spark.read.parquet(srcDir), Seq("o_custkey"), "o_totalprice"))
    assert(first == want, "multi-batch MV state must equal the batch aggregate")
    val second = snap(
      Streams.runMvSink(feed, target, Seq("o_custkey"), "o_totalprice", ck))
    assert(second == first, "replay with the same checkpoint must not change the view")
  }

  test("transformWithState type profile survives multi-batch input") {
    // 4 files, 1 per micro-batch: the MapState/ValueState composite must
    // accumulate ACROSS batches, and max-per-key over update-mode
    // emissions must equal the batch groupBy — the same contract st8's
    // multi-batch test pins for mapGroupsWithState, now for the v2 API.
    val srcDir = Files.createTempDirectory("graft_tws_").toString
    graft.core.Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
      val profiles = graft.streaming.Stateful.typeProfile(stream).toDF()
      val got = Streams.runToMemory(profiles, "update")
        .groupBy("user_id", "event_type")
        .agg(max("n_events").as("n_events"), max("user_value_e4").as("user_value_e4"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val want = spark.read.parquet(srcDir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 10000).cast("long")).as("tv"))
        .withColumn("user_tv", sum("tv").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(4))).toMap
      assert(got == want, "cross-batch composite state must equal batch aggregation")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("rate-limited multi-batch run: maxFilesPerTrigger honored, progress observable") {
    import java.nio.file.Files
    // split events into 4 files, stream them 1 file per micro-batch
    val srcDir = Files.createTempDirectory("graft_mb_").toString
    graft.core.Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy().count()
    val q = stream.writeStream
      .format("memory").queryName("mb_counts").outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("graft_mb_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress
    assert(batches.count(_.numInputRows > 0) >= 4,
      s"expected >=4 data micro-batches, saw ${batches.length}")
    assert(batches.map(_.numInputRows).sum == 1000)
    val finalCount = spark.table("mb_counts").collect()(0).getLong(0)
    assert(finalCount == 1000)
  }

  test("processingTime trigger: continuous micro-batches drain rate-limited input") {
    // 4 files, 1 per trigger: a processingTime query must take >=4 distinct
    // micro-batches (ST7's other half — AvailableNow is covered elsewhere).
    val srcDir = Files.createTempDirectory("graft_pt_").toString
    graft.core.Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .groupBy().count()
    val q = stream.writeStream
      .format("memory").queryName("pt_counts").outputMode("complete")
      .option("checkpointLocation", Files.createTempDirectory("graft_pt_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .start()
    try {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (q.recentProgress.map(_.numInputRows).sum < 1000 &&
             System.nanoTime() < deadline) {
        q.processAllAvailable()
      }
    } finally q.stop()
    val batches = q.recentProgress
    assert(batches.count(_.numInputRows > 0) >= 4,
      s"expected >=4 data micro-batches under processingTime, saw ${batches.length}")
    assert(batches.map(_.numInputRows).sum == 1000)
    assert(spark.table("pt_counts").collect()(0).getLong(0) == 1000)
    // progress carries per-batch rates (ST12 monitoring surface)
    assert(batches.filter(_.numInputRows > 0).forall(_.batchId >= 0))
  }

  test("mapGroupsWithState carries state ACROSS micro-batches") {
    // 4 files × 1 per trigger → users span batches; the per-key profile
    // must keep counting where the previous batch left off. In update
    // mode the memory sink appends every emission, so the max n_events
    // per key (counts are monotone) is the final state.
    val srcDir = Files.createTempDirectory("graft_st_").toString
    graft.core.Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val profiles = graft.streaming.Stateful.userProfile(stream).toDF()
    val q = profiles.writeStream
      .format("memory").queryName("st_profiles").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_st_ck_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4, "state must span >=4 batches")
    val got = spark.table("st_profiles")
      .groupBy("user_id").agg(max("n_events").as("n_events"), max("purchases").as("purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = graft.core.Tables.events(spark, sf)
      .groupBy(col("user_id").cast("long").as("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchases"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, "final per-key state must equal the batch aggregation")
  }

  test("flatMapGroupsWithState sessionization: closed sessions match the batch algorithm") {
    // time-range-partitioned files streamed 1-per-trigger → sessions span
    // micro-batches; the stateful sessionizer must close exactly the
    // sessions the batch gaps-and-islands algorithm closes, except those
    // still within `gap` of the stream's max event time (watermark can't
    // prove them over — the same cutoff st5's session_window applies).
    val srcDir = Files.createTempDirectory("graft_fs_").toString
    val events = graft.core.Tables.events(spark, sf)
    events.repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(srcDir)
    // FileStreamSource orders by modification time: stamp part files in
    // range order (part-0000i = i-th ts range) so batches arrive in-order
    // and the 0s watermark never sees late data
    new java.io.File(srcDir).listFiles().foreach { f =>
      if (f.getName.startsWith("part-")) {
        val idx = f.getName.drop(5).takeWhile(_.isDigit).toLong
        f.setLastModified(1000000000000L + idx * 60000)
      }
    }
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "0 seconds")
    val sessions = graft.streaming.Stateful.sessionize(stream, gapMinutes = 30).toDF()
    val got = Streams.runToMemory(sessions, "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    val gapUs = 30L * 60 * 1000000
    val maxUs = events.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val allBatch = graft.ops.Sessionize
      .assign(events, "user_id", "ts", "event_id", gapMinutes = 30)
      .groupBy("user_id", "session_idx")
      .agg(min(unix_micros(col("ts"))).as("s"), max(unix_micros(col("ts"))).as("e"),
        count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // provably-closed = deadline strictly below the final watermark at
    // MILLISECOND floor (EventTimeTimeout's actual firing condition)
    val batch = allBatch.filter { case (_, _, e, _) => (e + gapUs) / 1000 < maxUs / 1000 }
    assert(batch.subsetOf(got),
      s"stateful sessionizer missed ${(batch -- got).size} provably-closed sessions")
    // nothing extra beyond sessions the batch algorithm knows about
    assert(got.subsetOf(allBatch), s"emitted ${(got -- allBatch).size} phantom sessions")
  }

  test("sessionize: in-watermark straggler older than open-session-start-minus-gap emits as its own late session") {
    // Exercises the pre-start-straggler branch (Stateful.scala): batch 1
    // opens a session [10:00, 10:05]; batch 2 delivers an in-watermark
    // event at 09:25 — more than the 30-min gap BEFORE the open session's
    // start — plus a 12:00 event that closes the open session. The 09:25
    // event must come out as a 1-event late session, NOT merge into (or
    // regress the bounds of) the [10:00, 10:05] session.
    val srcDir = Files.createTempDirectory("graft_ls_").toString
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_ls_b_").toString
      rows.toDF("user_id", "ts_s", "event_id")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeBatch("b1.parquet", 1000000000000L,
      Seq((7L, "2024-01-01 10:00:00", 1L), (7L, "2024-01-01 10:05:00", 2L)))
    writeBatch("b2.parquet", 1000000060000L,
      Seq((7L, "2024-01-01 09:25:00", 3L), (7L, "2024-01-01 12:00:00", 4L)))
    // b3 only advances the GLOBAL watermark to 13:00 (16:00 − 3h), which
    // SEALS every user-7 session — sessions emit when the watermark
    // proves no straggler can merge, never merely on gap-close
    writeBatch("b3.parquet", 1000000120000L,
      Seq((99L, "2024-01-01 16:00:00", 100L)))
    val schema = spark.read.parquet(srcDir).schema
    // 3h watermark delay keeps the 09:25 event in-watermark after batch 1
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "3 hours")
    val sessions = graft.streaming.Stateful.sessionize(stream, gapMinutes = 30).toDF()
    val got = Streams.runToMemory(sessions, "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    val straggler = (7L, us("2024-01-01T09:25:00Z"), us("2024-01-01T09:25:00Z"), 1L)
    val morning = (7L, us("2024-01-01T10:00:00Z"), us("2024-01-01T10:05:00Z"), 2L)
    val noon = (7L, us("2024-01-01T12:00:00Z"), us("2024-01-01T12:00:00Z"), 1L)
    assert(got.contains(straggler), s"straggler must emit as its own late session; got $got")
    assert(got.contains(morning), s"open session bounds must be untouched by the straggler; got $got")
    // user 99's 16:00 session stays open (watermark never passes it)
    assert(got == Set(straggler, morning, noon),
      s"unexpected extra sessions: ${got -- Set(straggler, morning, noon)}")
  }

  test("sessionize: straggler chains gap-merge; a bridging chain joins the open session") {
    // Two in-watermark stragglers within a gap of EACH OTHER (09:20,
    // 09:25 — both > 30 min before the open session's 10:00 start) must
    // come out as ONE two-event late session, not two overlapping
    // singletons (the gap-partitioning invariant). And for user 8, a
    // chain (09:05, 09:35) whose tail reaches within a gap of the open
    // session must bridge INTO it — one merged session, batch semantics.
    val srcDir = Files.createTempDirectory("graft_chain_").toString
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_chain_b_").toString
      rows.toDF("user_id", "ts_s", "event_id")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeBatch("b1.parquet", 1000000000000L,
      Seq((7L, "2024-01-01 10:00:00", 1L), (7L, "2024-01-01 10:05:00", 2L),
        (8L, "2024-01-01 10:00:00", 5L), (8L, "2024-01-01 10:05:00", 6L)))
    writeBatch("b2.parquet", 1000000060000L,
      Seq((7L, "2024-01-01 09:20:00", 3L), (7L, "2024-01-01 09:25:00", 4L),
        (8L, "2024-01-01 09:05:00", 7L), (8L, "2024-01-01 09:35:00", 8L),
        (7L, "2024-01-01 12:00:00", 9L), (8L, "2024-01-01 12:00:00", 10L)))
    // watermark-advancer: 16:00 − 3h = 13:00 seals every 7/8 session
    writeBatch("b3.parquet", 1000000120000L,
      Seq((99L, "2024-01-01 16:00:00", 100L)))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "3 hours")
    val sessions = graft.streaming.Stateful.sessionize(stream, gapMinutes = 30).toDF()
    val got = Streams.runToMemory(sessions, "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    val expected = Set(
      // user 7: the straggler CHAIN is one late session; morning untouched
      (7L, us("2024-01-01T09:20:00Z"), us("2024-01-01T09:25:00Z"), 2L),
      (7L, us("2024-01-01T10:00:00Z"), us("2024-01-01T10:05:00Z"), 2L),
      (7L, us("2024-01-01T12:00:00Z"), us("2024-01-01T12:00:00Z"), 1L),
      // user 8: 09:05→09:35 bridges to 10:00 — everything merges
      (8L, us("2024-01-01T09:05:00Z"), us("2024-01-01T10:05:00Z"), 4L),
      (8L, us("2024-01-01T12:00:00Z"), us("2024-01-01T12:00:00Z"), 1L))
    assert(got == expected, s"got ${got.toSeq.sorted} want ${expected.toSeq.sorted}")
  }

  test("sessionize: a gap-closed session is NOT emitted while a straggler could still merge") {
    // THE seal-semantics regression test: batch 1 gap-closes [10:00] with
    // a 12:00 event; batch 2 delivers an in-watermark straggler at 10:20
    // — within the 30-min gap of the closed session. Eager emit-on-gap-
    // close would have already emitted [10:00, 10:00] and the straggler
    // would open an OVERLAPPING [10:20] session; seal semantics holds
    // [10:00] in state until the watermark passes 10:30+gap and emits the
    // MERGED [10:00, 10:20] session — batch parity.
    val srcDir = Files.createTempDirectory("graft_seal_").toString
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = Files.createTempDirectory("graft_seal_b_").toString
      rows.toDF("user_id", "ts_s", "event_id")
        .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"), col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.startsWith("part-")).get
      val dst = new java.io.File(srcDir, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
    }
    writeBatch("b1.parquet", 1000000000000L,
      Seq((7L, "2024-01-01 10:00:00", 1L), (7L, "2024-01-01 12:00:00", 2L)))
    writeBatch("b2.parquet", 1000000060000L,
      Seq((7L, "2024-01-01 10:20:00", 3L)))
    writeBatch("b3.parquet", 1000000120000L,
      Seq((99L, "2024-01-01 16:00:00", 100L))) // seals everything of user 7
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withWatermark("ts", "3 hours")
    val sessions = graft.streaming.Stateful.sessionize(stream, gapMinutes = 30).toDF()
    val got = Streams.runToMemory(sessions, "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def us(s: String) = java.time.Instant.parse(s).toEpochMilli * 1000L
    val expected = Set(
      (7L, us("2024-01-01T10:00:00Z"), us("2024-01-01T10:20:00Z"), 2L),
      (7L, us("2024-01-01T12:00:00Z"), us("2024-01-01T12:00:00Z"), 1L))
    assert(got == expected,
      s"straggler must merge into the held session, never overlap it: got $got")
  }

  test("stream-stream LEFT OUTER interval join: matches equal batch; unmatched emit after eviction") {
    // the harder sibling of st10's inner join: unmatched purchases must
    // surface with a null view once the watermark proves no view can
    // still arrive. Files stream in ts order (mod-time stamped) so the
    // 0s watermark advances batch by batch.
    val srcDir = Files.createTempDirectory("graft_oj_").toString
    val events = graft.core.Tables.events(spark, sf)
    events.repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(srcDir)
    new java.io.File(srcDir).listFiles().foreach { f =>
      if (f.getName.startsWith("part-")) {
        val idx = f.getName.drop(5).takeWhile(_.isDigit).toLong
        f.setLastModified(1000000000000L + idx * 60000)
      }
    }
    val schema = spark.read.parquet(srcDir).schema
    def side(tpe: String, pre: String) = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"), col("event_id").as(s"${pre}_id"),
        col("ts").as(s"${pre}_ts"))
      .withWatermark(s"${pre}_ts", "0 seconds")
    val joined = side("purchase", "p").join(side("view", "v"), expr(
      "p_user = v_user AND v_ts >= p_ts - interval 30 minutes AND v_ts <= p_ts"),
      "leftOuter")
      .select(col("p_user"), col("p_id"), col("v_id"),
        unix_micros(col("p_ts")).as("p_us"))
    val got = Streams.runToMemory(joined, "append").collect()
      .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3)))

    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    val v = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("v_id"), col("ts").as("v_ts"))
    val batchInner = p.join(v, expr(
      "p_user = v_user AND v_ts >= p_ts - interval 30 minutes AND v_ts <= p_ts"))
      .select(col("p_user"), col("p_id"), col("v_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 1) the matched rows are exactly the batch inner join
    val gotMatched = got.filter(_._3 >= 0).map(t => (t._1, t._2, t._3)).toSet
    assert(gotMatched == batchInner,
      s"streamed matches diverge from batch: ${(gotMatched diff batchInner).take(3)} / ${(batchInner diff gotMatched).take(3)}")
    // 2) no false unmatched: every null-view emission is for a purchase
    //    with genuinely no in-window view
    val matchedPurchases = batchInner.map(_._2)
    val gotNull = got.filter(_._3 < 0)
    assert(gotNull.forall(t => !matchedPurchases.contains(t._2)),
      "a purchase with a real in-window view emitted a null row")
    assert(gotNull.map(_._2).distinct.length == gotNull.length, "duplicate null emissions")
    // 3) provably-evictable unmatched purchases DID emit: deadline a full
    //    second below the final watermark (ms-floor safe margin). The
    //    join's watermark is the MIN across both input sides' max event
    //    times (purchases and views are separate filtered streams), not
    //    the global max — using the global max would overstate the
    //    watermark by however far the sides' tails diverge.
    val maxUs = math.min(
      p.agg(max(unix_micros(col("p_ts")))).collect()(0).getLong(0),
      v.agg(max(unix_micros(col("v_ts")))).collect()(0).getLong(0))
    val allPurchases = p.select(col("p_id"), unix_micros(col("p_ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val mustEmit = allPurchases.collect {
      case (id, us) if !matchedPurchases.contains(id)
        && us + 30L * 60 * 1000000 + 1000000 < maxUs => id
    }.toSet
    val gotNullIds = gotNull.map(_._2).toSet
    assert(mustEmit.subsetOf(gotNullIds),
      s"${(mustEmit -- gotNullIds).size} provably-evictable unmatched purchases never emitted")
  }

  test("streaming dedup equals batch distinct") {
    val res = SparkEntry.queries("st2_stream_dedup")(spark, sf)
    val batch = spark.read.parquet(s"$sf/events.parquet").count()
    assert(res.count() == batch)
  }

  test("st14: stream-vs-corpus dedup admits only content absent from the static index") {
    // corpus (id % 5 != 0): texts X and Y; incoming stream (id % 5 == 0):
    // a byte-identical dup of X (rejected), a whitespace/case variant of Y
    // (rejected — the fingerprint normalizes), and a fresh doc (admitted).
    // Admission is STATELESS, so two identical incoming docs both pass —
    // within-stream dedup is st2's job, corpus admission is st14's.
    val dir = java.nio.file.Files.createTempDirectory("graft_st14_").toString
    Seq(
      (1L, "alpha beta gamma"),         // corpus X
      (2L, "delta epsilon zeta"),       // corpus Y
      (5L, "alpha beta gamma"),         // dup of X -> rejected
      (10L, "  Delta   EPSILON zeta "), // normalized dup of Y -> rejected
      (15L, "entirely novel content"),  // fresh -> admitted
      (20L, "twin incoming text"),      // stream-internal twins:
      (25L, "twin incoming text"))      //   both admitted (stateless)
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/_stage")
    // the streaming table scan expects the testdata layout: ONE parquet
    // FILE named <table>.parquet, not a directory of part files
    val part = Files.list(java.nio.file.Paths.get(dir, "_stage"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, java.nio.file.Paths.get(dir, "documents.parquet"))
    val got = SparkEntry.queries("st14_stream_corpus_dedup")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(15L, 20L, 25L), s"admitted: $got")
  }

  test("st15: winnow admission rejects the passage-embedder st14 admits") {
    // the case exact-fingerprint admission cannot catch: doc 5 wraps a
    // long corpus passage in fresh padding, so its WHOLE-document
    // fingerprint is new (st14 admits) but most of its winnow
    // fingerprints are the corpus passage's (st15 rejects at the 50%
    // containment gate). Doc 10 is genuinely novel: both admit.
    val passage = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val dir = java.nio.file.Files.createTempDirectory("graft_st15_").toString
    Seq(
      (1L, "corpus filler one two three " + passage),
      (2L, "other corpus doc about nothing in particular at all"),
      (5L, "fresh intro " + passage + " fresh outro"),
      (10L, "wholly original writing with unseen vocabulary here today"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("src0").as("source"), length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.parquet(s"$dir/_stage")
    val part = Files.list(java.nio.file.Paths.get(dir, "_stage"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, java.nio.file.Paths.get(dir, "documents.parquet"))
    val exact = SparkEntry.queries("st14_stream_corpus_dedup")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(5L, 10L),
      s"st14 should admit both (whole-doc fps are new): $exact")
    val winnow = SparkEntry.queries("st15_winnow_admission")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(winnow == Set(10L),
      s"st15 must reject the passage-embedder, admit the novel doc: $winnow")
  }

  test("shared change feed streams: changeStream == batch changeFeed, startingVersion honored") {
    // the S7 streaming third: a recipient streams a shared table's
    // committed feed through the sharing resolver; the drained stream
    // must equal the direct batch changeFeed read, and startingVersion
    // must cut the seed commit
    val root = graft.queries.Governance.buildCdfCustomerTable(
      spark, "/root/testdata/sf0.001")
    val endpoint = java.nio.file.Files.createTempDirectory("graft_shstream_").toString
    val profile = graft.sources.SharingProtocol.publishLocal(
      endpoint, "s", "db", "cust_cdf", root, "tok")
    val url = s"$profile#s.db.cust_cdf"
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("c_custkey", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = key(graft.streaming.Streams.runToMemory(
      graft.sources.SharingProtocol.changeStream(spark, url), "append"))
    val direct = key(new graft.maint.VersionedTable(spark, root).changeFeed(0))
    assert(streamed == direct, s"streamed feed != direct feed " +
      s"(missing ${direct -- streamed}, extra ${streamed -- direct})")
    val fromV1 = key(graft.streaming.Streams.runToMemory(
      graft.sources.SharingProtocol.changeStream(spark, url, startingVersion = 1L),
      "append"))
    assert(fromV1 == direct.filter(_._3 >= 1L),
      "startingVersion=1 must drop the v0 seed inserts")
    assert(fromV1.nonEmpty && fromV1.size < direct.size)

    // schema evolution: a mergeSchema commit adds a column to later feed
    // versions; the stream schema must surface it (merged across ALL
    // committed feeds), not pin the oldest version's column set
    val t = new graft.maint.VersionedTable(spark, root)
    t.writeWithChangeFeed(
      t.read().withColumn("c_flag", lit(1L)),
      Seq("c_custkey"), commitTs = "2001-09-03 00:00:00", mergeSchema = true)
    val evolved = graft.sources.SharingProtocol.changeStream(spark, url)
    assert(evolved.schema.fieldNames.contains("c_flag"),
      s"evolved feed column missing from stream schema: " +
        s"${evolved.schema.fieldNames.mkString(", ")}")
  }

  test("committed-batch shared feed: staged dirs invisible, watermark resumes exactly-once") {
    // the log-driven consumption that closes changeStream's glob race:
    // the manifest is the offset log, so a feed dir staged by a
    // mid-commit writer must never be delivered, and a checkpointed
    // recipient must see each committed version exactly once
    import graft.sources.SharingProtocol
    val sf = "/root/testdata/sf0.001"
    val root = graft.queries.Governance.buildCdfCustomerTable(spark, sf)
    val endpoint = java.nio.file.Files.createTempDirectory("graft_cb_ep_").toString
    val profile = SharingProtocol.publishLocal(
      endpoint, "s", "db", "cust_cdf", root, "tok")
    val url = s"$profile#s.db.cust_cdf"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cb_ck_").toString
    val t = new graft.maint.VersionedTable(spark, root)

    var seen = Vector.empty[(Long, Long)] // (version, rows delivered)
    def pass(c: String = ckpt, from: Long = 0L): Seq[Long] =
      SharingProtocol.committedChangeBatches(spark, url, c, from) { (df, v) =>
        seen :+= (v, df.count())
      }

    assert(pass() == Seq(0L, 1L), "first pass must deliver both committed versions")
    seen.foreach { case (v, n) =>
      val direct = t.changeFeed(v).filter(col("_commit_version") === v).count()
      assert(n == direct, s"v=$v delivered $n rows, direct feed has $direct")
    }

    // a writer mid-commit: version dir with its feed staged, log entry
    // not yet created — exactly the state the file-glob path can leak;
    // must stay invisible
    spark.read.parquet(t.versionDir(1).resolve("_changes").toString)
      .write.parquet(s"$root/v7-staged/_changes")
    assert(pass().isEmpty, "staged-but-uncommitted v=7 must not be delivered")

    // a real commit is picked up — and ONLY it (no redelivery of 0/1)
    val c = graft.core.Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal")
    t.writeWithChangeFeed(c.filter(col("c_custkey") % 11 =!= 0),
      Seq("c_custkey"), "merge", "2001-09-03 00:00:00")
    assert(pass() == Seq(2L), "resume must deliver only the new commit")
    assert(pass().isEmpty, "nothing new => nothing delivered")

    // fresh checkpoint + startingVersion: the seed commit is cut
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cb_ck2_").toString
    assert(pass(ckpt2, from = 1L) == Seq(1L, 2L),
      "startingVersion=1 from a fresh checkpoint must skip the v0 seed")
  }

  test("graftSharingCdc streaming source: offsets ARE manifest versions; exactly-once across restarts") {
    // the TRUE streaming upgrade of committedChangeBatches: a real
    // Structured Streaming source whose getOffset reads the commit
    // manifest, run through Spark's own checkpointed offset log — so
    // staged-but-uncommitted dirs are invisible to readStream too, and a
    // restart resumes exactly-once with no recipient-side bookkeeping
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.SharingProtocol
    val sf = "/root/testdata/sf0.001"
    val root = graft.queries.Governance.buildCdfCustomerTable(spark, sf)
    val endpoint = java.nio.file.Files.createTempDirectory("graft_cdcsrc_ep_").toString
    val profile = SharingProtocol.publishLocal(
      endpoint, "s", "db", "cust_cdf", root, "tok")
    val url = s"$profile#s.db.cust_cdf"
    val t = new graft.maint.VersionedTable(spark, root)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdcsrc_ck_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_cdcsrc_out_").toString + "/sink"

    // a writer mid-commit BEFORE the stream ever starts: version dir with
    // its feed staged, no log entry — the glob path would leak it into
    // batch 0
    spark.read.parquet(t.versionDir(1).resolve("_changes").toString)
      .write.parquet(s"$root/v7-staged/_changes")

    def runOnce(checkpoint: String = ckpt, sink: String = out,
        opts: Map[String, String] = Map.empty): Unit = {
      val reader = spark.readStream.format("graftSharingCdc").option("url", url)
      val q = opts.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
        .load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def versions(sink: String = out): Map[Long, Long] =
      spark.read.parquet(sink).groupBy("_commit_version").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def directCounts: Map[Long, Long] =
      t.changeFeed(0).groupBy("_commit_version").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    runOnce()
    assert(versions() == directCounts,
      s"first run must deliver exactly the committed feed: ${versions()} vs $directCounts")
    assert(!versions().contains(7L), "staged-but-uncommitted v=7 must be invisible")

    // nothing new => restart delivers nothing (offset log holds)
    runOnce()
    assert(versions() == directCounts, "idle restart must not redeliver")

    // a new commit lands; restart picks up ONLY it — each version still
    // delivered exactly once end to end
    val c = graft.core.Tables.customer(spark, sf).select("c_custkey", "c_name", "c_acctbal")
    t.writeWithChangeFeed(c.filter(col("c_custkey") % 11 =!= 0),
      Seq("c_custkey"), "merge", "2001-09-03 00:00:00")
    runOnce()
    assert(versions() == directCounts,
      s"post-commit restart must append exactly v=2: ${versions()} vs $directCounts")
    assert(versions().keySet.contains(2L))

    // startingVersion from a fresh checkpoint cuts the seed
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_cdcsrc_ck2_").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_cdcsrc_out2_").toString + "/sink"
    runOnce(ckpt2, out2, Map("startingVersion" -> "1"))
    assert(versions(out2) == directCounts.filter(_._1 >= 1L),
      s"startingVersion=1 must skip the v0 seed: ${versions(out2)}")
  }

  test("provider retention outrunning a lagging shared-CDF consumer fails loudly on every consumer path") {
    // the compliance retention window meeting a lagging recipient: the
    // provider vacuums feed versions a checkpointed consumer has not yet
    // seen. Every shared consumer path — the graftSharingCdc streaming
    // source, the DSv2 batch CDF read, the committed-batch watermark
    // loop, and the glob change stream — must fail LOUDLY naming the
    // dropped range and the resume point, never serve the surviving
    // suffix as if the feed were contiguous.
    import org.apache.spark.sql.streaming.Trigger
    import graft.sources.SharingProtocol
    val root = java.nio.file.Files.createTempDirectory("graft_ret_tbl_").toString + "/t"
    val t = new graft.maint.VersionedTable(spark, root)
    t.writeWithChangeFeed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      commitTs = "2001-09-01 00:00:00")
    t.appendWithChangeFeed(Seq((11L, "x1")).toDF("id", "v"),
      commitTs = "2001-09-02 00:00:00")
    val endpoint = java.nio.file.Files.createTempDirectory("graft_ret_ep_").toString
    val profile = SharingProtocol.publishLocal(
      endpoint, "s", "db", "lag_cdf", root, "tok")
    val url = s"$profile#s.db.lag_cdf"

    // consumer 1 (stream) and consumer 2 (watermark loop) both consume
    // v0..v1 and checkpoint, then go idle — the lagging recipients
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ret_ck_").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ret_out_").toString + "/sink"
    def runStream(): Unit = {
      val q = spark.readStream.format("graftSharingCdc").option("url", url).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runStream()
    assert(spark.read.parquet(out).count() == 3, "stream consumed v0+v1")
    val ckptWm = java.nio.file.Files.createTempDirectory("graft_ret_wm_").toString
    val seen0 = SharingProtocol.committedChangeBatches(spark, url, ckptWm)((_, _) => ())
    assert(seen0 == Seq(0L, 1L))

    // the provider moves on: two more commits, then retention drops
    // everything but the head — feed versions <= 2 are gone, and both
    // checkpointed consumers now resume at 2, inside the hole
    t.appendWithChangeFeed(Seq((12L, "x2")).toDF("id", "v"),
      commitTs = "2001-09-03 00:00:00")
    t.appendWithChangeFeed(Seq((13L, "x3")).toDF("id", "v"),
      commitTs = "2001-09-04 00:00:00")
    t.vacuum(keepLast = 1)
    assert(graft.maint.VersionedTable.feedVacuumedThrough(root) == 2L)
    def msgs(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")

    // (1) streaming source: the checkpointed restart fails naming the gap
    val eStream = intercept[Exception](runStream())
    assert(msgs(eStream).contains("retention") && msgs(eStream).contains("<= 2"),
      s"stream restart must name the dropped range: ${msgs(eStream)}")

    // (2) watermark loop: the lagging checkpoint fails the same way
    val eWm = intercept[RuntimeException](
      SharingProtocol.committedChangeBatches(spark, url, ckptWm)((_, _) => ()))
    assert(eWm.getMessage.contains("resumes at version 2") &&
      eWm.getMessage.contains("<= 2"),
      s"watermark loop must name the gap: ${eWm.getMessage}")

    // (3) DSv2 batch CDF: startingVersion inside the hole fails;
    // resuming past it serves exactly the surviving feed
    val eBatch = intercept[RuntimeException](
      spark.read.format("graftSharing").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(url).collect())
    assert(eBatch.getMessage.contains("beyond retention") &&
      eBatch.getMessage.contains("<= 2"),
      s"batch CDF must name the gap: ${eBatch.getMessage}")
    val survived = spark.read.format("graftSharing").option("readChangeFeed", "true")
      .option("startingVersion", "3").load(url)
    assert(survived.select("id").collect().map(_.getLong(0)).toSeq == Seq(13L),
      "resuming past the gap serves exactly the surviving feed version")

    // (4) glob change stream: construction inside the hole fails; a
    // fresh consumer from past the gap constructs fine
    val eGlob = intercept[RuntimeException](SharingProtocol.changeStream(spark, url))
    assert(eGlob.getMessage.contains("beyond retention"),
      s"glob stream must name the gap: ${eGlob.getMessage}")
    assert(SharingProtocol.changeStream(spark, url, startingVersion = 3L).isStreaming)

    // (5) fresh-checkpoint recovery path: the loop from past the gap
    // delivers exactly the surviving version — the documented re-sync
    val ckptWm2 = java.nio.file.Files.createTempDirectory("graft_ret_wm2_").toString
    val seen1 = SharingProtocol.committedChangeBatches(
      spark, url, ckptWm2, startingVersion = 3L)((df, v) =>
        assert(df.select("id").collect().map(_.getLong(0)).toSeq == Seq(13L) && v == 3L))
    assert(seen1 == Seq(3L))
  }
}

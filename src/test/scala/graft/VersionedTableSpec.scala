package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.maint.VersionedTable

/** Maintenance-surface tests: time travel, history, restore, compaction,
  * clustering, vacuum on the versioned parquet table.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable() =
    new VersionedTable(spark, Files.createTempDirectory("graft_vt_").toString + "/t")

  /** Back-date every path under `p` by two hours: the state a crashed
    * writer's leftovers are in once vacuum's one-hour stale sweep may
    * reclaim them. */
  private def age(p: java.nio.file.Path): Unit = {
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.foreach(Files.setLastModifiedTime(_, old))
    finally s.close()
  }

  test("write/read/time-travel/history") {
    val t = freshTable()
    val v0 = t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val v1 = t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    assert(v0 == 0 && v1 == 1)
    assert(t.read().count() == 3)
    assert(t.read(Some(0)).count() == 2)
    val hist = t.history().orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(hist.map(_.getLong(2)).toSeq == Seq(2L, 3L))
  }

  test("restore brings back an old version as new head") {
    val t = freshTable()
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.write(Seq((1, "CHANGED")).toDF("id", "v"))
    t.restore(0)
    assert(t.read().collect().map(_.getString(1)).toSeq == Seq("a"))
    assert(t.latestVersion.contains(2L))
  }

  test("compact reduces file count; data unchanged") {
    val t = freshTable()
    t.write(spark.range(1000).toDF("id").repartition(8))
    assert(t.detail().collect()(0).getAs[Long]("num_files") == 8)
    t.compact(1)
    assert(t.detail().collect()(0).getAs[Long]("num_files") == 1)
    assert(t.read().count() == 1000)
  }

  test("cluster sorts within range partitions (selective min/max per file)") {
    val t = freshTable()
    t.write(spark.range(1000).select((rand(seed = 7) * 1000).cast("long").as("k")))
    t.cluster(Seq("k"), numFiles = 4)
    assert(t.read().count() == 1000)
    // within every partition file, k must be sorted
    val perPart = t.read()
      .withColumn("part", spark_partition_id())
      .groupBy("part")
      .agg(collect_list("k").as("ks"))
      .collect()
    perPart.foreach { r =>
      val ks = r.getSeq[Long](1)
      assert(ks == ks.sorted, "keys not sorted within clustered file")
    }
  }

  test("change feed carries CDF metadata and reconstructs the head via CdcApply") {
    val t = freshTable()
    t.writeWithChangeFeed(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      Seq("id"), "seed", "2024-01-01 00:00:00")
    t.writeWithChangeFeed( // update 2, delete 3, insert 4
      Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "v"),
      Seq("id"), "merge", "2024-01-02 00:00:00")

    val feed = t.changeFeed(fromVersion = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(feed.toSet == Set(
      (2L, "B2", "update_postimage", 1L),
      (2L, "b", "update_preimage", 1L),
      (3L, "c", "delete", 1L),
      (4L, "d", "insert", 1L)), s"unexpected feed: ${feed.mkString(", ")}")
    // unchanged key 1 emits nothing; commit timestamps stamped per version
    val ts = t.changeFeed().select("_commit_version", "_commit_timestamp").distinct().count()
    assert(ts == 2)

    val state = graft.ops.CdcApply.latestState(
      t.changeFeed()
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("op", when(col("_change_type") === "update_postimage", "update")
          .otherwise(col("_change_type"))),
      "id", "op", Seq("_commit_version"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(state == Set((1L, "a"), (2L, "B2"), (4L, "d")))
  }

  test("cluster enables parquet row-group skipping on the cluster key") {
    // Plain Spark prunes parquet at ROW-GROUP granularity via footer
    // min/max (file-level listing stays full — file pruning needs a table
    // format's stats, which VersionedTable's manifest doesn't model), so
    // the observable effect of clustering is the scan emitting only the
    // row groups whose [min,max] overlaps the predicate.
    def scanRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().head
        .metrics("numOutputRows").value
    }
    val t = freshTable()
    t.write(spark.range(100000).select((rand(seed = 11) * 100000).cast("long").as("k"))
      .repartition(8))
    val unclustered = scanRows(t.read().filter(col("k").between(10L, 20L)))
    t.cluster(Seq("k"), numFiles = 8)
    val clustered = scanRows(t.read().filter(col("k").between(10L, 20L)))
    assert(clustered * 4 <= unclustered,
      s"clustered scan emitted $clustered rows vs $unclustered unclustered — " +
        "row-group min/max stats are not pruning")
  }

  test("crashed writeWithChangeFeed cannot leak its staged feed into the next commit") {
    // A writeWithChangeFeed that dies AFTER staging its version dir (feed
    // included) but BEFORE creating its log entry leaves a dir no entry
    // names; the next commit of version N (a plain write) must never
    // adopt rows that don't match its actual diff. Reproduce the exact
    // post-crash state on disk, then commit over it.
    val t = freshTable()
    t.writeWithChangeFeed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"))
    val root = t.detail().collect()(0).getString(0)
    // forge the orphan: CDF-shaped rows staged for version 1, no entry
    def forgeFeed(dir: java.io.File, id: Long, v: String, version: Long): Unit =
      Seq((id, v, "insert"))
        .toDF("id", "v", graft.ops.ChangeFeed.ChangeTypeCol)
        .withColumn(graft.ops.ChangeFeed.CommitVersionCol, lit(version))
        .withColumn(graft.ops.ChangeFeed.CommitTimestampCol,
          to_timestamp(lit("2001-09-01 00:00:00")))
        .write.mode("overwrite").parquet(dir.toString)
    val orphanDir = new java.io.File(s"$root/v1-crashed")
    val orphan = new java.io.File(orphanDir, "_changes")
    forgeFeed(orphan, 99L, "STALE", 1L)
    assert(t.latestVersion.contains(0L), "orphan must not be a committed version")
    // plain write() commits version 1 with NO feed
    val v1 = t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(v1 == 1L)
    // the feed surface shows only v0's genuine inserts — no phantom STALE row
    val feed = t.changeFeed(0L)
    assert(feed.agg(max(col(graft.ops.ChangeFeed.CommitVersionCol))).collect()(0).getLong(0) == 0L)
    assert(feed.filter(col("v") === "STALE").count() == 0L)
    // and a REAL writeWithChangeFeed over another forged orphan stages its
    // own diff, not the leftovers
    forgeFeed(new java.io.File(s"$root/v2-crashed/_changes"), 98L, "STALE2", 2L)
    t.writeWithChangeFeed(Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"), Seq("id"))
    val v2feed = t.changeFeed(2L).collect()
    assert(v2feed.map(_.getAs[Long]("id")).toSet == Set(4L),
      s"v2 feed must be the real diff, got ${v2feed.mkString(",")}")
    // no commit clears orphans any more: vacuum's stale sweep reclaims a
    // crashed writer's dir once it is untouched for over an hour
    age(orphanDir.toPath)
    t.vacuum(keepLast = 10)
    assert(!orphan.exists(), "stale staged feed must be cleared by the stale sweep")
    assert(t.changeFeed(0L).count() == 3L, "committed feeds survive the sweep")
  }

  test("readWhere prunes files via commit-time min/max stats; results lossless") {
    val t = freshTable()
    t.write(spark.range(1000).select((rand(seed = 7) * 1000).cast("long").as("k")))
    t.cluster(Seq("k"), numFiles = 4)
    val pruned = t.readWhere("k", 100L, 150L)
    val full = t.read().filter(col("k").between(100L, 150L))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      full.collect().map(_.getLong(0)).sorted.toSeq)
    val total = t.read().inputFiles.length
    assert(pruned.inputFiles.length < total,
      s"stats did not prune: ${pruned.inputFiles.length} of $total files scanned")
    // an out-of-range predicate prunes everything
    assert(t.readWhere("k", 5000L, 6000L).count() == 0)
    // a version without stats falls back to a full scan
    val statsDir = t.versionDir(t.latestVersion.get).resolve("_stats")
    Files.walk(statsDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    assert(t.readWhere("k", 100L, 150L).count() == full.count())
  }

  test("shallow clone shares the source head without copying; diverges on write") {
    val t = freshTable()
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val destRoot = Files.createTempDirectory("graft_clone_").toString + "/c"
    val c = t.shallowClone(destRoot)
    assert(c.read().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // metadata-only: no data dir materialized under the clone root
    assert(!c.versionDir(0).toAbsolutePath.startsWith(
      java.nio.file.Paths.get(destRoot).toAbsolutePath))
    // stats travel by reference too — data-skipping works on the clone
    assert(c.readWhere("id", 2L, 2L).count() == 1)
    // clone evolves independently; source head unchanged
    c.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(c.read().count() == 3 && t.read().count() == 2)
    // vacuuming the clone never touches the source's (external) files
    val removed = c.vacuum(keepLast = 1)
    assert(removed.isEmpty, s"vacuum must skip external versions, removed $removed")
    assert(t.read().count() == 2)
    // but vacuuming the SOURCE invalidates the clone's v0 (Delta semantics)
    t.write(Seq((9L, "z")).toDF("id", "v"))
    t.vacuum(keepLast = 1)
    val err = intercept[IllegalArgumentException](c.read(Some(0)))
    assert(err.getMessage.contains("vacuumed"))
  }

  test("z-order prunes on the trailing dimension where lexical clustering cannot") {
    // 64x64 grid over (x, y): after a lexical cluster on (x, y), every
    // file spans the full y range, so a y-only predicate reads ALL files;
    // after clusterZOrder the z-curve gives every file a compact y range
    // too, so the same predicate skips most of them.
    import spark.implicits._
    val grid = (0 until 4096)
      .map(i => ((i % 64) / 64.0, (i / 64) / 64.0)).toDF("x", "y")
    val lex = freshTable()
    lex.write(grid)
    lex.cluster(Seq("x", "y"), numFiles = 16)
    val zed = freshTable()
    zed.write(grid)
    zed.clusterZOrder(Seq("x", "y"), numFiles = 16)
    val (lo, hi) = (0.0, 0.05)
    val lexFiles = lex.readWhere("y", lo, hi).inputFiles.length
    val zFiles = zed.readWhere("y", lo, hi).inputFiles.length
    assert(lexFiles == 16, s"lexical layout should span y in every file: $lexFiles")
    assert(zFiles < lexFiles, s"z-order must prune on y: $zFiles vs $lexFiles")
    assert(zFiles <= 8, s"z-order pruned too little: $zFiles of 16 files")
    // and the pruned read loses nothing
    val want = grid.filter(col("y").between(lo, hi)).count()
    assert(zed.readWhere("y", lo, hi).count() == want)
    assert(zed.read().count() == 4096)
    // x stays prunable too (locality is preserved in BOTH dimensions)
    assert(zed.readWhere("x", lo, hi).inputFiles.length <= 8)
  }

  test("clone of a clone resolves data through absolute locations") {
    val t = freshTable()
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val c1 = t.shallowClone(Files.createTempDirectory("graft_cc1_").toString + "/c1")
    val c2 = c1.shallowClone(Files.createTempDirectory("graft_cc2_").toString + "/c2")
    assert(c2.read().count() == 2)
    assert(c2.readWhere("id", 2L, 2L).count() == 1)
    c2.write(Seq((9L, "z")).toDF("id", "v"))
    assert(t.read().count() == 2 && c1.read().count() == 2 && c2.read().count() == 1)
  }

  test("z-order handles null values in a clustering column (bucket 0)") {
    val t = freshTable()
    t.write(Seq[(java.lang.Long, java.lang.Long)]((1L, 10L), (2L, null), (3L, 30L))
      .toDF("id", "k"))
    t.clusterZOrder(Seq("id", "k"), numFiles = 2, bits = 4)
    assert(t.read().count() == 3)
    assert(t.read().filter(col("k").isNull).count() == 1)
  }

  test("deleteWhere commits a logical delete without rewriting data files") {
    import java.nio.file.Paths
    val t = freshTable()
    t.write(spark.range(1, 101).toDF("id").repartition(4))
    val bytesBefore = t.detail().collect()(0).getAs[Long]("size_bytes")
    // logical delete: no new data dir, same physical bytes, fewer rows
    val v1 = t.deleteWhere("id % 10 = 0")
    assert(v1 == 1L)
    assert(t.read().count() == 90)
    assert(t.read(Some(0)).count() == 100, "time travel sees pre-delete rows")
    val root = t.detail().collect()(0).getString(0)
    assert(t.versionDir(1) == t.versionDir(0), "no data rewritten")
    assert(t.detail().collect()(0).getAs[Long]("size_bytes") == bytesBefore)
    assert(t.history().orderBy("version").collect()(1).getLong(2) == 90L)
    // chained delete accumulates predicates
    t.deleteWhere("id < 5")
    assert(t.read().count() == 86)
    // data skipping still applies the tombstones
    assert(t.readWhere("id", 10L, 10L).count() == 0)
    assert(t.readWhere("id", 11L, 11L).count() == 1)
    // a clone of the deleted head reads the same logical rows
    val c = t.shallowClone(Files.createTempDirectory("graft_dvc_").toString + "/c")
    assert(c.read().count() == 86)
    // compact materializes the delete physically; vacuum is then safe
    val v0Dir = t.versionDir(0)
    t.compact(1)
    assert(t.read().count() == 86)
    t.vacuum(keepLast = 1)
    assert(t.read().count() == 86)
    assert(!Files.exists(v0Dir), "old shared dir vacuumed after compact")
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE semantics)") {
    val t = freshTable()
    t.write(Seq[(java.lang.Long, String)]((1L, "F"), (2L, null), (3L, "O"))
      .toDF("id", "status"))
    t.deleteWhere("status = 'F'")
    // row 2's predicate is NULL -> NOT deleted (only TRUE deletes)
    val kept = t.read().collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"NULL-predicate row must survive: $kept")
  }

  test("commit recovers from an orphaned v=N dir left by a crashed writer") {
    val t = freshTable()
    t.write(Seq(1).toDF("id"))
    // forge the crash state: a version-1 dir with data and stats fully
    // staged, no log entry naming it
    val root = t.detail().collect()(0).getString(0)
    Seq(99).toDF("id").write.parquet(s"$root/v1-crashed")
    Seq(99).toDF("id").write.parquet(s"$root/v1-crashed/_stats")
    assert(t.latestVersion.contains(0L))
    val v1 = t.write(Seq(1, 2).toDF("id"))
    assert(v1 == 1L && t.read().count() == 2, "orphan must not block the commit")
  }

  test("CHECK constraints pass trivially on an empty snapshot") {
    val t = freshTable()
    t.write(Seq((1L, 10.0)).toDF("id", "price"))
    t.addConstraint("price_positive", "price > 0")
    val v = t.write(Seq.empty[(Long, Double)].toDF("id", "price"))
    assert(v == 1L && t.read().count() == 0)
  }

  test("shallow clone carries CHECK constraints") {
    val t = freshTable()
    t.write(Seq((1L, 10.0)).toDF("id", "price"))
    t.addConstraint("price_positive", "price > 0")
    val c = t.shallowClone(Files.createTempDirectory("graft_ccon_").toString + "/c")
    val err = intercept[IllegalArgumentException] {
      c.write(Seq((2L, -5.0)).toDF("id", "price"))
    }
    assert(err.getMessage.contains("price_positive"))
  }

  test("vacuum keeps files still referenced by a deleteWhere head") {
    import java.nio.file.Paths
    val t = freshTable()
    t.write(spark.range(1, 51).toDF("id"))
    t.deleteWhere("id > 40")
    // keepLast=1 keeps only the delete version — which references v0's
    // files, so v0's dir must survive the vacuum
    val removed = t.vacuum(keepLast = 1)
    assert(removed.isEmpty, s"must not vacuum a dir the head references: $removed")
    assert(Files.exists(t.versionDir(0)))
    assert(t.read().count() == 40)
  }

  test("CHECK constraints reject violating commits before anything is staged") {
    val t = freshTable()
    t.write(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price"))
    t.addConstraint("price_positive", "price > 0")
    t.addConstraint("id_present", "id IS NOT NULL")
    // a clean commit passes
    t.write(Seq((1L, 10.0), (3L, 5.0)).toDF("id", "price"))
    assert(t.latestVersion.contains(1L))
    // a violating commit throws, names the constraint, and leaves no trace
    val err = intercept[IllegalArgumentException] {
      t.write(Seq((4L, -1.0), (5L, -2.0)).toDF("id", "price"))
    }
    assert(err.getMessage.contains("price_positive") &&
      err.getMessage.contains("2 rows"), err.getMessage)
    assert(t.latestVersion.contains(1L) && t.read().count() == 2)
    // NULL evaluates as a violation (Delta semantics)
    val err2 = intercept[IllegalArgumentException] {
      t.write(Seq((Some(6L), None: Option[Double])).toDF("id", "price"))
    }
    assert(err2.getMessage.contains("price_positive"))
  }

  test("concurrent writers all commit; versions stay sequential and unique") {
    // Optimistic concurrency: N threads race commits against one table —
    // every writer must land (with internal retry), versions must be a
    // gap-free 0..N sequence, and no writer may clobber another's commit.
    val t = freshTable()
    t.write(Seq((0L, "seed")).toDF("id", "v"), "seed")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            t.write(Seq((i.toLong, s"w$i")).toDF("id", "v"), s"writer_$i")
        })
      }
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet.size == 8, s"writers shared a version: $got")
    } finally pool.shutdown()
    assert(t.versions == (0L to 8L), s"non-sequential versions: ${t.versions}")
    val ops = t.history().collect().map(_.getString(1)).toSet
    assert((1 to 8).forall(i => ops.contains(s"writer_$i")),
      s"lost a commit: $ops")
    // every version's data is intact and readable
    (0L to 8L).foreach(v => assert(t.read(Some(v)).count() == 1))
  }

  test("concurrent writers maintain the bloom index; every version stays probeable") {
    // bloom maintenance runs OUTSIDE the commit lock (advisory) — racing
    // writers must each produce a valid index for their own version and
    // never corrupt another's
    val t = freshTable()
    t.write(Seq((0L, "seed")).toDF("id", "v"), "seed")
    t.buildBloomIndex("id")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      val futures = (1 to 6).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            t.write(Seq((i.toLong, s"w$i")).toDF("id", "v"), s"writer_$i")
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    // each version's index answers its own single row; point lookups on
    // the head prune and return exactly the head's row
    val headId = t.read().collect()(0).getLong(0)
    val got = t.readFiltered(s"id = $headId")
    assert(got.count() == 1, "head lookup lost its row")
    (0L to 6L).foreach { v =>
      val id = t.read(Some(v)).collect()(0).getLong(0)
      assert(t.readFiltered(s"id = $id", versionAsOf = Some(v)).count() == 1,
        s"version $v lookup failed")
    }
  }

  test("concurrent change-feed writers never clobber a committed feed") {
    // The feed stages inside the commit critical section: whatever order
    // the racing writers land in, every committed version's feed must be
    // the true diff against its parent — so replaying the whole feed
    // through CdcApply must reconstruct the final head exactly.
    val t = freshTable()
    t.writeWithChangeFeed(Seq((1L, "a")).toDF("id", "v"), Seq("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val snaps = Seq(
        Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        Seq((1L, "a"), (3L, "c")).toDF("id", "v"))
      val futures = snaps.map { snap =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.writeWithChangeFeed(snap, Seq("id"))
        })
      }
      val got = futures.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet == Set(1L, 2L), s"got versions $got")
    } finally pool.shutdown()
    val replayed = graft.ops.CdcApply.latestState(
      t.changeFeed()
        .filter(col("_change_type") =!= "update_preimage")
        .withColumn("op", when(col("_change_type") === "update_postimage", "update")
          .otherwise(col("_change_type"))),
      "id", "op", Seq("_commit_version"))
      .select("id", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val head = t.read().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(replayed == head, s"feed replay $replayed != head $head")
  }

  test("TIMESTAMP AS OF resolves through recorded commit timestamps") {
    val t = freshTable()
    t.write(Seq((1L, "a")).toDF("id", "v"), "seed",
      commitTs = Some("2024-01-01 00:00:00"))
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "more",
      commitTs = Some("2024-01-03 00:00:00"))
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "untimed")
    assert(t.readAsOf("2024-01-02 12:00:00").count() == 1)
    assert(t.readAsOf("2024-01-03 00:00:00").count() == 2)
    // the untimed head is invisible to AS OF (like outside-retention)
    assert(t.readAsOf("2024-12-31 00:00:00").count() == 2)
    val err = intercept[RuntimeException](t.readAsOf("2023-01-01 00:00:00"))
    assert(err.getMessage.contains("no version"))
    // the change-feed writer records its injected clock too
    t.writeWithChangeFeed(Seq((1L, "z")).toDF("id", "v"), Seq("id"),
      "cdf", "2024-02-01 00:00:00")
    assert(t.readAsOf("2024-02-01 00:00:00").count() == 1)
  }

  test("vacuum removes old version dirs but keeps history + head") {
    val t = freshTable()
    t.write(Seq(1).toDF("id"))
    t.write(Seq(1, 2).toDF("id"))
    t.write(Seq(1, 2, 3).toDF("id"))
    val removed = t.vacuum(keepLast = 1)
    assert(removed == Seq(0L, 1L))
    assert(t.read().count() == 3)
    assert(t.history().count() == 3)
    // time travel to a vacuumed version names the cause and the earliest
    // readable version, not a parquet path error
    val err = intercept[IllegalArgumentException](t.read(Some(0)))
    assert(err.getMessage.contains("vacuumed") && err.getMessage.contains("2"),
      s"unhelpful vacuum error: ${err.getMessage}")
  }

  test("writeWithChangeFeed supports partitioned layouts; feed stays exact") {
    val t = freshTable()
    t.writeWithChangeFeed(
      Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "grp", "amt"),
      Seq("id"), partitionBy = Seq("grp"))
    t.writeWithChangeFeed(
      Seq((1, "a", 11.0), (3, "b", 30.0)).toDF("id", "grp", "amt"),
      Seq("id"), partitionBy = Seq("grp"))
    assert(t.versionDir(1).resolve("grp=b").toFile.isDirectory, "v1 must be partitioned")
    // the diff basis is the partitioned v0 read-back (columns reordered) —
    // the feed must still be name-correct: update of 1, delete 2, insert 3
    val feed = t.changeFeed(fromVersion = 1)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(feed == Set((1, "update_preimage"), (1, "update_postimage"),
      (2, "delete"), (3, "insert")), s"bad feed: $feed")
  }

  test("countFast answers from the manifest, matching real counts incl. deleteWhere") {
    val t = freshTable()
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    t.write(Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "v"))
    t.deleteWhere("id <= 2")
    assert(t.countFast(Some(0L)) == 3 && t.countFast(Some(1L)) == 4)
    assert(t.countFast() == 2 && t.countFast() == t.read().count())
    intercept[RuntimeException](t.countFast(Some(9L)))
  }

  test("compactToSize derives the file count from the head's bytes") {
    val t = freshTable()
    t.write(spark.range(50000).toDF("id").repartition(16))
    val bytes = t.detail().collect()(0).getAs[Long]("size_bytes")
    // target = half the table → 2 files (ceil), data intact
    t.compactToSize(targetBytes = math.max(1L, bytes / 2))
    val d = t.detail().collect()(0)
    assert(d.getAs[Long]("num_files") <= 3 && d.getAs[Long]("num_files") >= 2,
      s"expected ~2 files, got ${d.getAs[Long]("num_files")}")
    assert(t.read().count() == 50000)
  }

  test("schema enforcement: strict by default, mergeSchema adds, overwriteSchema replaces") {
    val t = freshTable()
    t.write(Seq((1, "a")).toDF("id", "v"))
    // same schema: fine
    t.write(Seq((2, "b")).toDF("id", "v"))
    // retype rejected
    val retype = intercept[IllegalArgumentException](
      t.write(Seq((3L, "c")).toDF("id", "v")))
    assert(retype.getMessage.contains("type"), retype.getMessage)
    // new column rejected without mergeSchema, accepted with
    val add = intercept[IllegalArgumentException](
      t.write(Seq((3, "c", 1.0)).toDF("id", "v", "score")))
    assert(add.getMessage.contains("mergeSchema"), add.getMessage)
    t.write(Seq((3, "c", 1.0)).toDF("id", "v", "score"), mergeSchema = true)
    // dropping a column needs the explicit overwrite escape hatch
    val drop = intercept[IllegalArgumentException](
      t.write(Seq((4, "d")).toDF("id", "v"), mergeSchema = true))
    assert(drop.getMessage.contains("overwriteSchema"), drop.getMessage)
    t.write(Seq((4, "d")).toDF("id", "v"), overwriteSchema = true)
    // restore across the evolution is a protocol op — no policing
    t.restore(2)
    assert(t.read().columns.toSeq == Seq("id", "v", "score"))
  }

  test("partitioned write: Hive layout, partition discovery, native PartitionFilters") {
    val t = freshTable()
    val df = Seq((1, "F", 10.0), (2, "O", 20.0), (3, "F", 30.0), (4, "P", 40.0))
      .toDF("id", "status", "amt")
    t.write(df, partitionBy = Seq("status"))
    val dirs = t.versionDir(0).toFile.listFiles.map(_.getName)
      .filter(_.contains("=")).sorted.toSeq
    assert(dirs == Seq("status=F", "status=O", "status=P"), s"layout: $dirs")
    // partition columns come back (last in schema, like Delta) and rows survive
    val rd = t.read()
    assert(rd.schema.fieldNames.toSeq == Seq("id", "amt", "status"))
    assert(rd.count() == 4)
    // a filter on the partition column becomes a directory-level
    // PartitionFilter in the scan — never a row filter over opened files
    val plan = rd.filter(col("status") === "F").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status#"),
      s"expected native partition pruning in: ${plan.take(600)}")
    assert(rd.filter(col("status") === "F").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("clusterWhere rewrites only matching partition dirs; others carry byte-identical") {
    val t = freshTable()
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i => (i, if (i % 2 == 0) "F" else "O", rnd.nextInt(1000)))
      .toDF("id", "status", "k")
      .repartition(4) // several files per partition dir
    t.write(df, partitionBy = Seq("status"))
    val root = t.detail().collect()(0).getString(0)
    def fileBytes(version: Long, dir: String): Map[String, Seq[Byte]] = {
      val d = t.versionDir(version).resolve(dir).toFile
      d.listFiles.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val beforeO = fileBytes(0, "status=O")
    val beforeF = fileBytes(0, "status=F")
    val v1 = t.clusterWhere("status = 'F'", Seq("k"), numFiles = 2)
    assert(v1 == 1)
    // untouched partition: same file names, same bytes
    assert(fileBytes(1, "status=O") == beforeO, "status=O files must carry byte-identical")
    // matched partition: actually rewritten (clustered into 2 files)
    val afterF = fileBytes(1, "status=F")
    assert(afterF.keySet != beforeF.keySet, "status=F must be rewritten")
    assert(afterF.size == 2, s"expected 2 clustered files, got ${afterF.size}")
    // data identical version-over-version; manifest row count exact
    assert(t.read(Some(1)).count() == 400 && t.countFast(Some(1)) == 400)
    assert(t.read(Some(0)).select("id").except(t.read(Some(1)).select("id")).isEmpty)
    assert(t.history().filter(col("operation") === "cluster_where").count() == 1)
    // stats carried + recomputed: readWhere on the cluster key still prunes
    // and stays lossless; the carried dir's stats rows still resolve
    val viaStats = t.readWhere("k", 0, 100).select("id")
    assert(viaStats.except(t.read().filter(col("k").between(0, 100)).select("id")).isEmpty)
    // predicate on a non-partition column is rejected before any work
    val err = intercept[IllegalArgumentException](t.clusterWhere("k > 3", Seq("id")))
    assert(err.getMessage.contains("partition columns"))
    // no matching partition → no-op, head unchanged
    assert(t.clusterWhere("status = 'ZZZ'", Seq("k")) == 1)
    assert(t.latestVersion.contains(1L))
  }

  test("clusterWhere: contending writers on disjoint partitions both land") {
    // Two concurrent clusterWhere calls on DIFFERENT partition dirs race
    // the optimistic-concurrency loop: the loser must detect the moved
    // head, retry against it, and land on the next version — no thrown
    // contention, no lost rewrite, and the partition neither touched
    // stays byte-identical through both commits (its files carry as hard
    // links every round).
    val t = freshTable()
    val rnd = new scala.util.Random(23)
    val df = (1 to 300).map { i =>
      (i, i % 3 match { case 0 => "F"; case 1 => "O"; case _ => "P" },
        rnd.nextInt(1000))
    }.toDF("id", "status", "k").repartition(4)
    t.write(df, partitionBy = Seq("status"))
    val root = t.detail().collect()(0).getString(0)
    def fileBytes(version: Long, dir: String): Map[String, Seq[Byte]] = {
      val d = t.versionDir(version).resolve(dir).toFile
      d.listFiles.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val beforeP = fileBytes(0, "status=P")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = Seq("F", "O").map { st =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.clusterWhere(s"status = '$st'", Seq("k"), numFiles = 2)
        })
      }
      val got = futures.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet == Set(1L, 2L), s"writers must land on v1 and v2: $got")
    } finally pool.shutdown()
    // the partition neither writer matched: same names, same bytes at head
    assert(fileBytes(2, "status=P") == beforeP,
      "status=P files must carry byte-identical through both commits")
    // both rewrites took effect at the head: each matched dir is clustered
    assert(fileBytes(2, "status=F").size == 2, "status=F not clustered at head")
    assert(fileBytes(2, "status=O").size == 2, "status=O not clustered at head")
    // no row lost or duplicated; manifest counts exact at every version
    (0L to 2L).foreach { v =>
      assert(t.read(Some(v)).count() == 300 && t.countFast(Some(v)) == 300)
    }
    assert(t.read(Some(0)).select("id").except(t.read(Some(2)).select("id")).isEmpty)
    // stats stayed lossless through the carried/rewritten mix
    val viaStats = t.readWhere("k", 0, 100).select("id")
    assert(viaStats.except(t.read().filter(col("k").between(0, 100)).select("id")).isEmpty)
  }

  test("partitioned write: stats skipping composes (readWhere prunes inside the layout)") {
    val t = freshTable()
    t.write(
      Seq((1, "F", 10.0), (2, "O", 20.0), (3, "F", 30.0)).toDF("id", "status", "amt"),
      partitionBy = Seq("status"))
    // stats rows carry the col=value/ prefix so readWhere re-anchors correctly
    val rw = t.readWhere("status", "F", "F")
    assert(rw.inputFiles.length < t.read().inputFiles.length,
      "stats pruning must touch fewer files than the full table")
    assert(rw.select("id").collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
    // pruning on a NON-partition column still works inside the nested layout
    val byAmt = t.readWhere("amt", 25.0, 35.0)
    assert(byAmt.select("id").collect().map(_.getInt(0)).toSeq == Seq(3))
    assert(byAmt.schema.fieldNames.contains("status"),
      "basePath must recover partition columns on a file-subset read")
  }

  test("readFiltered: AND/OR/IN predicates prune files; residual keeps rows exact") {
    val t = freshTable()
    // 4 files, each a contiguous id range (range-partition + sort)
    val df = spark.range(100).toDF("id")
      .withColumn("grp", (col("id") % 4).cast("int"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    t.write(df)
    assert(t.read().inputFiles.length == 4)
    def check(pred: String, expectedFiles: Int): Unit = {
      val got = t.readFiltered(pred)
      assert(got.inputFiles.length == expectedFiles,
        s"'$pred' touched ${got.inputFiles.length} files, expected $expectedFiles")
      val want = t.read().filter(expr(pred)).select("id").collect().map(_.getLong(0)).sorted
      assert(got.select("id").collect().map(_.getLong(0)).sorted.sameElements(want),
        s"'$pred' lost or invented rows")
    }
    check("id BETWEEN 10 AND 19", 1)              // AND of two bounds
    check("id < 5 OR id >= 95", 2)                // OR keeps the union
    check("id IN (3, 97)", 2)                     // IN = OR of equalities
    check("id BETWEEN 10 AND 19 AND grp = 2", 1)  // conjunction narrows
    check("id = 50 OR grp > 99", 1)               // unsatisfiable OR branch adds nothing
    // unsupported shapes keep all files, rows still exact
    check("NOT (id < 50)", 4)
    check("id % 2 = 0", 4)
  }

  test("readFiltered: string stats vs numeric literals never prune matching rows") {
    // the coercion trap: a STRING column compared to a numeric literal is
    // coerced to double on the row side, but its min/max are
    // LEXICOGRAPHIC — min '10' < '9' lexically though not numerically —
    // so interval pruning there would silently drop the file holding the
    // matching row. The mapper must conservatively keep such files.
    val t = freshTable()
    val df = Seq(("9", 1L), ("10", 2L), ("200", 3L)).toDF("code", "id")
      .repartition(1)
    t.write(df)
    // lexicographic stats for this one file: min='10', max='9' — pruning
    // under numeric coercion would conclude 10.0 <= 9 is false and drop it
    val eq = t.readFiltered("code = 9")
    assert(eq.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "numeric-literal equality on a string column lost its row")
    val gt = t.readFiltered("code > 100")
    assert(gt.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "numeric-literal range on a string column lost its row")
    // string-vs-string comparisons still prune lexicographically (sound)
    assert(t.readFiltered("code = '10'").count() == 1)
  }

  test("readFiltered: all-NULL column files are skipped for comparisons, kept under OR") {
    val t = freshTable()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("c", IntegerType)))
    val withNulls = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(1, null), org.apache.spark.sql.Row(2, null)),
      schema).coalesce(1)
    val withVals = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](
        org.apache.spark.sql.Row(3, 30), org.apache.spark.sql.Row(4, 40)),
      schema).coalesce(1)
    // two files: one all-NULL c, one with values (NULLs range-sort first)
    t.write(withNulls.union(withVals).repartitionByRange(2, col("c")))
    assert(t.read().inputFiles.length == 2)
    // NULL min/max → NULL verdict → file dropped; no NULL row satisfies c=30 anyway
    val eq = t.readFiltered("c = 30")
    assert(eq.inputFiles.length == 1 && eq.collect().map(_.getInt(0)).toSeq == Seq(3))
    // an OR branch that must keep the file wins: NULL OR TRUE = TRUE
    val or = t.readFiltered("c = 30 OR id < 2")
    assert(or.inputFiles.length == 2)
    assert(or.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 3))
  }

  test("readFiltered: string equality and version pinning") {
    val t = freshTable()
    t.write(Seq((1, "alpha"), (2, "beta")).toDF("id", "name")
      .repartitionByRange(2, col("name")).sortWithinPartitions("name"))
    t.write(Seq((9, "gone")).toDF("id", "name"))
    val got = t.readFiltered("name = 'beta'", versionAsOf = Some(0L))
    assert(got.collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(got.inputFiles.length == 1, "string stats must prune the alpha file")
  }

  test("bloom index prunes point lookups where min/max cannot; never loses rows") {
    val t = freshTable()
    // 4 hash-partitioned files, each spanning the FULL key range, so
    // min/max stats keep everything for any key equality — the bloom case
    t.write(spark.range(400).toDF("id").repartition(4, col("id")))
    val total = t.read().inputFiles.length
    assert(total >= 3, s"expected a multi-file layout, got $total")
    val noIndex = t.readFiltered("id = 137")
    assert(noIndex.inputFiles.length == total, "stats alone cannot prune this layout")
    t.buildBloomIndex("id")
    // every key present: found in exactly its file (plus rare FP files)
    (0 until 400 by 37).foreach { k =>
      val got = t.readFiltered(s"id = $k")
      assert(got.collect().map(_.getLong(0)).toSeq == Seq(k.toLong), s"lost id=$k")
      assert(got.inputFiles.length < total, s"bloom failed to prune for id=$k")
    }
    // absent key: typically zero files (no row either way)
    val absent = t.readFiltered("id = 100000")
    assert(absent.count() == 0)
    // IN probes each value; union of files, still pruned
    val in = t.readFiltered("id IN (3, 137)")
    assert(in.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 137L))
    assert(in.inputFiles.length < total)
    // OR with a range conjunct composes through the same mapper
    val mixed = t.readFiltered("id = 137 OR id >= 9999")
    assert(mixed.collect().map(_.getLong(0)).toSeq == Seq(137L))
  }

  test("registered bloom indexes are maintained across commits and deleteWhere") {
    val t = freshTable()
    t.write(spark.range(200).toDF("id").repartition(4, col("id")))
    t.buildBloomIndex("id")
    // a NEW commit (compact goes through the write path) rebuilds the
    // index without any user action — the CREATE BLOOMFILTER INDEX contract
    t.write(spark.range(200, 400).toDF("id").repartition(4, col("id")))
    val total = t.read().inputFiles.length
    val got = t.readFiltered("id = 307")
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(307L))
    assert(got.inputFiles.length < total, "new version lost its bloom index")
    // deleteWhere carries position sets forward (same files, O(metadata));
    // deleted keys become bloom false positives, never resurrected rows
    t.deleteWhere("id = 307")
    val gone = t.readFiltered("id = 307")
    assert(gone.count() == 0)
    val alive = t.readFiltered("id = 399")
    assert(alive.collect().map(_.getLong(0)).toSeq == Seq(399L))
    assert(alive.inputFiles.length < total, "deleteWhere head lost bloom pruning")
    // vacuum drops the old versions' index dirs with their data
    t.vacuum(keepLast = 1)
    assert(!new java.io.File(
      t.detail().collect()(0).getString(0) + "/_bloom/id/v=0").exists())
  }

  test("readFiltered equals full-scan filter for 60 random predicates (seeded)") {
    val t = freshTable()
    t.write(spark.range(300).toDF("id")
      .withColumn("grp", (col("id") % 7).cast("int"))
      .withColumn("name", concat(lit("n"), (col("id") % 13).cast("string")))
      .repartitionByRange(5, col("id")).sortWithinPartitions("id"))
    t.buildBloomIndex("name")
    val rnd = new scala.util.Random(11)
    def leaf(): String = rnd.nextInt(6) match {
      case 0 => s"id ${Seq("<", "<=", ">", ">=", "=").apply(rnd.nextInt(5))} ${rnd.nextInt(320) - 10}"
      case 1 => s"grp = ${rnd.nextInt(9) - 1}"
      case 2 => s"name = 'n${rnd.nextInt(15)}'"
      case 3 => s"id BETWEEN ${rnd.nextInt(300)} AND ${rnd.nextInt(300)}"
      case 4 => s"name IN (${(0 to rnd.nextInt(3)).map(_ => s"'n${rnd.nextInt(15)}'").mkString(", ")})"
      case 5 => s"NOT (grp = ${rnd.nextInt(7)})" // unsupported shape: keep-all path
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextDouble() < 0.4) leaf()
      else s"(${pred(depth - 1)}) ${if (rnd.nextBoolean()) "AND" else "OR"} (${pred(depth - 1)})"
    (1 to 60).foreach { i =>
      val p = pred(2)
      val got = t.readFiltered(p).select("id").collect().map(_.getLong(0)).sorted
      val want = t.read().filter(expr(p)).select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(want), s"predicate #$i '$p': got ${got.length} rows, want ${want.length}")
    }
  }

  test("readFiltered equals full-scan filter under the full composition: partitions + bloom + chained deletes") {
    // every skipping layer at once: Hive partition dirs, per-file min/max
    // stats, a bloom index on an unclustered key, and TWO stacked logical
    // delete predicates — 40 seeded-random predicates must return exactly
    // what a full scan + filter returns, never resurrecting deleted rows
    // and never losing survivors to over-pruning
    val t = freshTable()
    t.write(spark.range(400).toDF("id")
      .withColumn("grp", (col("id") % 5).cast("int"))
      .withColumn("k", concat(lit("p"), (col("id") % 4).cast("string")))
      .withColumn("name", concat(lit("n"), (col("id") % 17).cast("string")))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"),
      partitionBy = Seq("k"))
    t.buildBloomIndex("name")
    t.deleteWhere("id % 11 = 3")
    t.deleteWhere("grp = 4 AND id > 350")
    val rnd = new scala.util.Random(17)
    def leaf(): String = rnd.nextInt(5) match {
      case 0 => s"id ${Seq("<", "<=", ">", ">=", "=").apply(rnd.nextInt(5))} ${rnd.nextInt(420) - 10}"
      case 1 => s"grp = ${rnd.nextInt(7) - 1}"
      case 2 => s"name = 'n${rnd.nextInt(20)}'"
      case 3 => s"k = 'p${rnd.nextInt(6)}'"
      case 4 => s"id BETWEEN ${rnd.nextInt(400)} AND ${rnd.nextInt(400)}"
    }
    def pred(depth: Int): String =
      if (depth == 0 || rnd.nextDouble() < 0.4) leaf()
      else s"(${pred(depth - 1)}) ${if (rnd.nextBoolean()) "AND" else "OR"} (${pred(depth - 1)})"
    (1 to 40).foreach { i =>
      val p = pred(2)
      val got = t.readFiltered(p).select("id").collect().map(_.getLong(0)).sorted
      val want = t.read().filter(expr(p)).select("id").collect().map(_.getLong(0)).sorted
      assert(got.sameElements(want), s"predicate #$i '$p': got ${got.length} rows, want ${want.length}")
    }
    // the deletes really bit: full row count dropped below 400
    assert(t.read().count() < 400)
  }

  test("empty snapshots commit cleanly to bloom-indexed tables (auto and pinned sizing)") {
    val t = freshTable()
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.buildBloomIndex("id") // auto-sized
    t.write(Seq.empty[(Int, String)].toDF("id", "v")) // overwrite-to-empty
    assert(t.read().count() == 0)
    assert(t.readFiltered("id = 1").count() == 0)
    val p = freshTable()
    p.write(Seq((1, "a")).toDF("id", "v"))
    p.buildBloomIndex("id", bits = 1024, hashes = 3) // pinned: writes a 0-row index
    p.write(Seq.empty[(Int, String)].toDF("id", "v"))
    // zero-row index must not break predicate reads — stats-only fallback
    assert(p.readFiltered("id = 1").count() == 0)
  }

  test("partition values that look like dates don't false-reject follow-up writes") {
    val t = freshTable()
    // string partition column with date-shaped values: partition-dir type
    // inference reads it back as DateType, but the manifest records the
    // partition columns so enforcement exempts them from the retype check
    val df = Seq((1, "2023-01-01"), (2, "2023-01-02")).toDF("id", "event_date")
    t.write(df, partitionBy = Seq("event_date"))
    t.write(df, partitionBy = Seq("event_date")) // must not throw
    assert(t.read().count() == 2)
    // a REAL retype on a data column still rejects
    val bad = intercept[IllegalArgumentException](
      t.write(Seq(("x", "2023-01-01")).toDF("id", "event_date"),
        partitionBy = Seq("event_date")))
    assert(bad.getMessage.contains("type"), bad.getMessage)
  }

  test("bloom probe casts the literal to the indexed column's type") {
    val t = freshTable()
    // bigint column, int-looking literal: a type-naive probe would hash
    // the int and wrongly prune every file
    t.write(spark.range(100).toDF("id").repartition(2))
    t.buildBloomIndex("id")
    assert(t.readFiltered("id = 7").count() == 1)
    // string-typed index probes with quoted literals
    val s = freshTable()
    s.write(Seq((1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta"))
      .toDF("id", "name").repartition(2, col("id")))
    s.buildBloomIndex("name")
    val got = s.readFiltered("name = 'gamma'")
    assert(got.collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("partitioned write: compact, vacuum and time travel handle nested dirs") {
    val t = freshTable()
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "k"), partitionBy = Seq("k"))
    t.write(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "k"), partitionBy = Seq("k"))
    assert(t.read(Some(0)).count() == 2 && t.read().count() == 3)
    assert(t.detail().collect()(0).getAs[Long]("num_files") == 3) // one per k
    t.compact(1)
    assert(t.read().count() == 3)
    val removed = t.vacuum(keepLast = 1)
    assert(removed == Seq(0L, 1L) && t.read().count() == 3)
  }

  test("clusterZOrder on a partitioned head z-orders within partitions, layout intact") {
    val rootDir = Files.createTempDirectory("graft_vt_zpart_").toString + "/t"
    val t = new VersionedTable(spark, rootDir)
    t.write(
      (1 to 200).map(i => (i.toLong, (i * 37 % 100).toLong, s"p${i % 3}"))
        .toDF("x", "y", "k").repartition(8),
      partitionBy = Seq("k"))
    val v1 = t.clusterZOrder(Seq("x", "y"), numFiles = 6)
    // the version's own `_stats` dir is metadata, not partition layout
    val dirs = java.nio.file.Files.list(t.versionDir(v1))
      .iterator().asScala.filter(p => java.nio.file.Files.isDirectory(p))
      .map(_.getFileName.toString).filterNot(_.startsWith("_")).toSet
    assert(dirs == Set("k=p0", "k=p1", "k=p2"), s"z-order flattened: $dirs")
    assert(t.read().count() == 200)
    // skipping still works on each z dimension independently
    assert(t.readWhere("x", 1L, 20L).count() ==
      t.read().filter(col("x").between(1, 20)).count())
    assert(t.readWhere("y", 0L, 10L).count() ==
      t.read().filter(col("y").between(0, 10)).count())
    // z-ordering BY a partition column is refused, like Delta
    val err = intercept[IllegalArgumentException](t.clusterZOrder(Seq("k")))
    assert(err.getMessage.contains("partition column"))
  }

  test("compact and restore preserve a partitioned head's Hive layout") {
    val rootDir = Files.createTempDirectory("graft_vt_layout_").toString + "/t"
    val t = new VersionedTable(spark, rootDir)
    t.write((1 to 40).map(i => (i.toLong, s"p${i % 4}")).toDF("id", "k")
      .repartition(6), partitionBy = Seq("k"))
    // OPTIMIZE must bin-pack WITHIN partitions, never flatten the dirs
    val v1 = t.compact(1)
    val v1Dirs = java.nio.file.Files.list(t.versionDir(v1))
      .iterator().asScala.filter(p => java.nio.file.Files.isDirectory(p))
      .map(_.getFileName.toString).filterNot(_.startsWith("_")).toSet
    assert(v1Dirs == Set("k=p0", "k=p1", "k=p2", "k=p3"),
      s"compact flattened the layout: $v1Dirs")
    assert(t.read().count() == 40)
    // a partition filter on the compacted head still prunes at dir level
    assert(t.read().filter(col("k") === "p2").count() == 10)
    // RESTORE of a partitioned version keeps its layout too
    t.write((1 to 10).map(i => (i.toLong, "flat")).toDF("id", "k")) // unpartitioned head
    val v3 = t.restore(v1)
    val v3Dirs = java.nio.file.Files.list(t.versionDir(v3))
      .iterator().asScala.filter(p => java.nio.file.Files.isDirectory(p))
      .map(_.getFileName.toString).filterNot(_.startsWith("_")).toSet
    assert(v3Dirs == Set("k=p0", "k=p1", "k=p2", "k=p3"),
      s"restore flattened the layout: $v3Dirs")
    assert(t.read().count() == 40)
  }

  test("a retrying writer cannot silently revert a concurrent schema evolution") {
    // Writer B stages an OLD-schema snapshot slowly (its rows block on a
    // gate), a schema-evolving commit lands while B is mid-staging, and B
    // then loses the version race. B's retry now re-validates against the
    // NEW head and must FAIL — committing would drop the winner's new
    // column with no error, the exact corruption schema enforcement blocks.
    val rootDir = Files.createTempDirectory("graft_vt_race_").toString + "/t"
    val t = new VersionedTable(spark, rootDir)
    t.write(Seq((1L, "a")).toDF("id", "v"), "seed")
    VersionedTableSpec.gate = new java.util.concurrent.CountDownLatch(1)
    // asNondeterministic + a Range base keep the optimizer from folding
    // the UDF at planning time (ConvertToLocalRelation) — the gate must
    // block B's STAGING tasks, not its driver-side plan construction
    val slow = udf { (s: String) =>
      VersionedTableSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS)
      s
    }.asNondeterministic()
    val dfB = spark.range(1)
      .select(lit(2L).as("id"), slow(lit("b")).as("v"))
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val loser = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = t.write(dfB, "loser")
      })
      // B validated against v0 and is now staging (blocked in the gate) —
      // a version dir no entry names yet is the signal it passed validation
      def staging: Boolean = {
        val named = t.versions.map(t.versionDir(_).getFileName.toString).toSet
        val s = Files.list(java.nio.file.Paths.get(rootDir))
        try s.iterator().asScala.map(_.getFileName.toString)
          .exists(n => !n.startsWith("_") && !named(n))
        finally s.close()
      }
      val deadline = System.currentTimeMillis() + 60000
      while (!staging && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(staging, "writer B never started staging")
      // the winner evolves the schema while B is mid-staging
      t.write(Seq((1L, "a", true)).toDF("id", "v", "flag"), "evolve",
        mergeSchema = true)
      VersionedTableSpec.gate.countDown()
      val err = intercept[java.util.concurrent.ExecutionException](loser.get())
      assert(err.getCause.getMessage.contains("dropped columns flag"),
        s"expected schema-enforcement failure, got: ${err.getCause}")
    } finally pool.shutdown()
    // the head still carries the evolution; no version dropped it
    assert(t.latestVersion.contains(1L))
    assert(t.read().columns.toSet == Set("id", "v", "flag"))
  }

  test("TIMESTAMP AS OF sees a timestamped logical delete") {
    val t = freshTable()
    t.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), "seed",
      commitTs = Some("2024-01-01 00:00:00"))
    t.deleteWhere("id = 2", commitTs = Some("2024-01-02 00:00:00"))
    assert(t.readAsOf("2024-01-01 12:00:00").count() == 3)
    // before the delete recorded its ts, these resolved to the pre-delete
    // version and resurrected the deleted row
    assert(t.readAsOf("2024-01-02 00:00:00").count() == 2)
    assert(t.readAsOf("2024-06-01 00:00:00").count() == 2)
    // an untimed delete stays invisible to AS OF (like outside-retention)
    t.deleteWhere("id = 3")
    assert(t.readAsOf("2024-06-01 00:00:00").count() == 2)
    assert(t.read().count() == 1)
  }

  test("vacuum spares an in-flight writer's staging with fresh files under an old dir") {
    val rootDir = Files.createTempDirectory("graft_vt_vac_").toString + "/t"
    val t = new VersionedTable(spark, rootDir)
    t.write(Seq((1L, "a")).toDF("id", "v"))
    t.write(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    // a live writer: its version dir's mtimes are stale (parquet lands
    // beneath without touching them) but a data file is fresh
    val live = java.nio.file.Paths.get(rootDir, "v2-live-writer")
    Files.createDirectories(live.resolve("k=a"))
    Files.writeString(live.resolve("k=a").resolve("part-0.parquet"), "fresh")
    Files.setLastModifiedTime(live, old)
    Files.setLastModifiedTime(live.resolve("k=a"), old)
    // a crashed writer: every path in the subtree is stale
    val dead = java.nio.file.Paths.get(rootDir, "v2-dead-writer")
    Files.createDirectories(dead)
    Files.writeString(dead.resolve("junk"), "stale")
    Files.setLastModifiedTime(dead.resolve("junk"), old)
    Files.setLastModifiedTime(dead, old)
    t.vacuum(keepLast = 1)
    assert(Files.exists(live.resolve("k=a").resolve("part-0.parquet")),
      "vacuum reclaimed a live writer's staging")
    assert(!Files.exists(dead), "vacuum kept a crashed writer's staging")
  }

  test("change feed composes with mergeSchema evolution: preimages null-pad the new column") {
    val t = freshTable()
    t.writeWithChangeFeed(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"), "seed")
    // evolve: add `flag`, change row 2, add row 3
    t.writeWithChangeFeed(
      Seq((1L, "a", true), (2L, "B", false), (3L, "c", true))
        .toDF("id", "v", "flag"),
      Seq("id"), "evolve", mergeSchema = true)
    val feed = t.changeFeed(fromVersion = 1)
      .select("id", "v", "flag", graft.ops.ChangeFeed.ChangeTypeCol)
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getBoolean(2), r.getString(3))).toSet
    // row 1: unchanged in v but flag went null -> true = an update;
    // preimage carries the typed NULL old versions surface for the column
    assert(feed == Set(
      (1L, "a", null, "update_preimage"),
      (1L, "a", true, "update_postimage"),
      (2L, "b", null, "update_preimage"),
      (2L, "B", false, "update_postimage"),
      (3L, "c", true, "insert")), s"got: $feed")
  }

  test("re-registering a bloom index replaces its config for future maintenance") {
    val rootDir = Files.createTempDirectory("graft_vt_bloom_").toString + "/t"
    val t = new VersionedTable(spark, rootDir)
    t.write(spark.range(100).toDF("id").withColumn("v", col("id") * 2))
    t.buildBloomIndex("id") // auto-sized
    t.buildBloomIndex("id", bits = 256, hashes = 3) // re-register, pinned
    // exactly one config line for the column, carrying the new sizing
    val cfgLines = Files.list(java.nio.file.Paths.get(rootDir, "_bloom_config"))
      .iterator().asScala.toSeq
      .flatMap(Files.readAllLines(_).asScala).filter(_.contains(""""column":"id""""))
    assert(cfgLines.size == 1, s"duplicate config lines: $cfgLines")
    assert(cfgLines.head.contains(""""bits":256""") &&
      cfgLines.head.contains(""""hashes":3"""), cfgLines.head)
    // commit-time maintenance of the NEXT version uses the new parameters
    t.write(spark.range(200).toDF("id").withColumn("v", col("id") * 2))
    val idx = spark.read.parquet(s"$rootDir/_bloom/id/v=1")
    val hdr = idx.select("bits", "hashes").distinct().collect()
    assert(hdr.length == 1 && hdr(0).getInt(0) == 256 && hdr(0).getInt(1) == 3,
      s"maintained index kept stale sizing: ${hdr.mkString(",")}")
    // and the index still prunes correctly
    val got = t.readFiltered("id = 150").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(150L))
  }

  test("append carries every head file byte-identical; only new rows are written") {
    val t = freshTable()
    t.write(spark.range(0, 1000).toDF("id").repartition(4))
    def files(v: Long): Map[String, Seq[Byte]] = {
      val d = t.versionDir(v).toFile
      d.listFiles.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = files(0)
    val v1 = t.append(spark.range(1000, 1500).toDF("id").coalesce(1))
    assert(v1 == 1)
    val after = files(1)
    // every v0 file present at v1 under its own name, same bytes
    before.foreach { case (name, bytes) =>
      assert(after.get(name).contains(bytes), s"head file $name not carried byte-identical")
    }
    assert(after.size == before.size + 1, "append must add exactly the new file(s)")
    assert(t.read().count() == 1500 && t.countFast() == 1500)
    assert(t.read(Some(0)).count() == 1000)
    // stats carried + computed for the new rows only: skipping stays lossless
    val viaStats = t.readWhere("id", 1200L, 1300L).select("id")
    assert(viaStats.except(t.read().filter(col("id").between(1200, 1300)).select("id")).isEmpty)
    // schema enforcement holds on the append path
    val err = intercept[IllegalArgumentException](
      t.append(Seq((1L, "x")).toDF("id", "extra")))
    assert(err.getMessage.contains("new columns"))
    // CHECK constraints validate the incoming rows
    t.addConstraint("id_nonneg", "id >= 0")
    intercept[IllegalArgumentException](t.append(Seq(-5L).toDF("id")))
    // partitioned head: appended rows land in their own partition dirs
    val tp = freshTable()
    tp.write(Seq((1, "a", "x"), (2, "b", "y")).toDF("id", "v", "p"),
      partitionBy = Seq("p"))
    tp.append(Seq((3, "c", "x"), (4, "d", "z")).toDF("id", "v", "p"))
    assert(tp.read().count() == 4)
    assert(tp.read().filter(col("p") === "z").count() == 1)
    // append to an empty table is a plain first write
    val te = freshTable()
    assert(te.append(Seq(1L).toDF("id")) == 0L)
  }

  test("concurrent appends to an EMPTY table keep both batches at head") {
    // the bootstrap race: both appenders observe an empty table; the
    // loser must fall through to the carry path on the winner's v0, not
    // commit a full snapshot that drops the winner's rows
    val t = freshTable()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(0L, 100L).map { base =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.append(spark.range(base, base + 10).toDF("id"))
        })
      }
      val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet == Set(0L, 1L), s"appends must land on v0 and v1: $got")
    } finally pool.shutdown()
    assert(t.read().count() == 20, "head lost an appended batch")
    assert(t.read().select("id").distinct().count() == 20)
  }

  test("concurrent appends to a NON-empty table both land; union of batches at head") {
    // the general append race: the loser must re-derive its carry set
    // against the winner's head (which now contains the winner's file)
    // and retry — no lost batch, no duplicated rows
    val t = freshTable()
    t.write(spark.range(0, 50).toDF("id"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(100L, 200L).map { base =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = t.append(spark.range(base, base + 25).toDF("id"))
        })
      }
      val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet == Set(1L, 2L), s"appends must land on v1 and v2: $got")
    } finally pool.shutdown()
    assert(t.read().count() == 100, "head must hold seed + both batches")
    assert(t.read().select("id").distinct().count() == 100)
    assert(t.countFast() == 100, "manifest row count must match")
  }

  test("append maintains a registered bloom index by carrying per-file rows") {
    val t = freshTable()
    t.write(spark.range(0, 2000).toDF("id").repartition(4))
    t.buildBloomIndex("id")
    val root = t.detail().collect()(0).getString(0)
    val before = spark.read.parquet(s"$root/_bloom/id/v=0")
      .select("file", "positions").collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    t.append(spark.range(2000, 2100).toDF("id").coalesce(1)) // v1
    val after = spark.read.parquet(s"$root/_bloom/id/v=1")
      .select("file", "positions").collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    // carried files keep their EXACT position sets (not recomputed under
    // different sizing), and the appended file gains a row
    before.foreach { case (f, pos) =>
      assert(after.get(f).contains(pos), s"carried bloom row changed for $f")
    }
    assert(after.size == before.size + 1, "appended file missing from the index")
    // the index still answers point lookups on both old and new rows
    val hitOld = t.readFiltered("id = 7").collect()
    val hitNew = t.readFiltered("id = 2050").collect()
    assert(hitOld.map(_.getLong(0)).toSeq == Seq(7L))
    assert(hitNew.map(_.getLong(0)).toSeq == Seq(2050L))
  }

  test("URI-encodable partition values: stats/carry keys survive a space in the value") {
    // input_file_name() returns percent-encoded URIs ('a b' -> 'a%20b')
    // while filesystem listings are raw — stats keys are decoded at the
    // source so the carry semi-join and re-anchored pruned reads agree
    val t = freshTable()
    t.write(Seq((1L, "a b"), (2L, "plain"), (3L, "a b")).toDF("id", "p"),
      partitionBy = Seq("p"))
    assert(t.countFast() == 3)
    // pruned read must resolve the space-dir files from their stats keys
    val viaStats = t.readWhere("id", 1L, 3L).select("id")
    assert(viaStats.count() == 3, "stats-pruned read lost the space-partition files")
    // append: the carried files' stats rows must survive the carry join
    t.append(Seq((4L, "a b")).toDF("id", "p"))
    assert(t.countFast() == 4, "carried stats rows lost for the space partition")
    assert(t.readWhere("id", 1L, 4L).count() == 4)
    // clusterWhere on the space-valued partition: matched set must
    // resolve (decoded) so the rewrite neither duplicates nor drops rows
    t.clusterWhere("p = 'a b'", Seq("id"), numFiles = 1)
    assert(t.read().count() == 4 && t.countFast() == 4)
    assert(t.read().filter(col("p") === "a b").count() == 3)
  }

  test("append of an empty batch is a no-op; vacuum(0) is rejected") {
    val t = freshTable()
    t.write(Seq((1L, "x")).toDF("id", "p"), partitionBy = Seq("p"))
    // empty batch on a partitioned head stages zero files -> same head
    assert(t.append(Seq.empty[(Long, String)].toDF("id", "p")) == 0L)
    assert(t.latestVersion.contains(0L) && t.read().count() == 1)
    val err = intercept[IllegalArgumentException](t.vacuum(0))
    assert(err.getMessage.contains("must keep"))
  }

  test("appendWithChangeFeed: the appended version's feed is its own rows, all insert") {
    val t = freshTable()
    t.writeWithChangeFeed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      commitTs = "2001-09-01 00:00:00")
    val v1 = t.appendWithChangeFeed(Seq((3L, "c"), (4L, "d")).toDF("id", "v"),
      commitTs = "2001-09-02 00:00:00")
    assert(v1 == 1 && t.read().count() == 4)
    val feed = t.changeFeed(fromVersion = 1).collect()
    assert(feed.length == 2, "feed must hold exactly the appended rows")
    assert(feed.forall(_.getAs[String]("_change_type") == "insert"))
    assert(feed.forall(_.getAs[Long]("_commit_version") == 1L))
    assert(feed.map(_.getAs[Long]("id")).toSet == Set(3L, 4L))
    // the full feed still reconstructs the head via CDC apply semantics:
    // v0 inserts + v1 inserts == current table
    assert(t.changeFeed(0).filter(col("_change_type") === "insert").count() == 4)
    // plain append stays CDC-invisible (the deleteWhere convention):
    // the feed read skips its version rather than inventing rows
    t.append(Seq((5L, "e")).toDF("id", "v"))
    assert(t.changeFeed(0).count() == 4 && t.read().count() == 5)
    // empty table: all-insert v0 through the same entry point
    val te = freshTable()
    assert(te.appendWithChangeFeed(Seq((9L, "z")).toDF("id", "v")) == 0L)
    assert(te.changeFeed(0).count() == 1)
  }

  test("vacuum retention reaches the change feed; a lagging changeFeed read fails loudly naming the gap") {
    // the retention × lagging-consumer composition (compliance retention
    // window meeting a CDC consumer): vacuum drops removed versions'
    // FEED dirs too and tombstones the high-water mark, so a consumer
    // resuming inside the dropped range gets a loud contract failure
    // naming the gap — never a silently-holed feed built from whatever
    // dirs survived (the Delta posture: CDF beyond retention THROWS)
    val root = Files.createTempDirectory("graft_vt_feed_").toString + "/t"
    val t = new VersionedTable(spark, root)
    t.writeWithChangeFeed(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      commitTs = "2001-09-01 00:00:00")
    (1 to 3).foreach { i =>
      t.appendWithChangeFeed(Seq((10L + i, s"x$i")).toDF("id", "v"),
        commitTs = s"2001-09-0${i + 1} 00:00:00")
    }
    assert(t.changeFeed(0).count() == 5, "pre-vacuum feed: v0 seed + 3 appends")
    val removed = t.vacuum(keepLast = 1)
    assert(removed == Seq(0L, 1L, 2L))
    assert(!Files.exists(t.versionDir(2).resolve("_changes")),
      "dropped versions' feed dirs must go with their data")
    assert(Files.exists(t.versionDir(3).resolve("_changes")),
      "the surviving head's feed dir must remain")
    assert(VersionedTable.feedVacuumedThrough(root) == 2L,
      "the tombstone must record the high-water dropped feed version")
    // a resume point anywhere inside the dropped range fails loudly,
    // naming the gap AND the earliest valid resume point
    Seq(0L, 1L, 2L).foreach { from =>
      val err = intercept[IllegalArgumentException](t.changeFeed(from))
      assert(err.getMessage.contains("beyond") &&
        err.getMessage.contains("<= 2") && err.getMessage.contains("3"),
        s"changeFeed($from) must name the dropped range and the resume " +
          s"point, got: ${err.getMessage}")
    }
    // resuming past the gap serves exactly the surviving feed
    val survived = t.changeFeed(3).collect()
    assert(survived.length == 1 && survived.head.getAs[Long]("id") == 13L)
    // a second vacuum with nothing to drop must not regress the tombstone
    t.vacuum(keepLast = 1)
    assert(VersionedTable.feedVacuumedThrough(root) == 2L)
  }

  test("a crash between feed tombstone and dir deletion leaves the conservative state; re-vacuum completes it") {
    // vacuum writes the tombstone atomically BEFORE deleting feed dirs,
    // so the only possible crash window is mark-advanced-dirs-present:
    // consumers must refuse (conservative — never a silent hole even
    // though the data still exists), and a vacuum re-run must finish
    // the interrupted deletes without moving the mark again.
    val root = Files.createTempDirectory("graft_vt_crash_").toString + "/t"
    val t = new VersionedTable(spark, root)
    t.writeWithChangeFeed(Seq((1L, "a")).toDF("id", "v"), Seq("id"),
      commitTs = "2001-09-01 00:00:00")
    (1 to 2).foreach(i =>
      t.appendWithChangeFeed(Seq((10L + i, s"x$i")).toDF("id", "v"),
        commitTs = s"2001-09-0${i + 1} 00:00:00"))
    // simulate the torn state: tombstone says v<=1 dropped, dirs remain
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/_feed_vacuumed_through"), "1")
    def feedDir(v: Long) = t.versionDir(v).resolve("_changes")
    assert(Files.exists(feedDir(0)))
    Seq(0L, 1L).foreach { from =>
      val err = intercept[IllegalArgumentException](t.changeFeed(from))
      assert(err.getMessage.contains("dropped by vacuum"),
        s"the torn state must read as already-vacuumed: ${err.getMessage}")
    }
    assert(t.changeFeed(2).count() == 1, "reads above the mark still serve")
    // the re-run finishes the deletes; the mark does not regress or jump
    t.vacuum(keepLast = 1)
    assert(!Files.exists(feedDir(0)) && !Files.exists(feedDir(1)),
      "re-vacuum must complete the interrupted feed deletes")
    assert(Files.exists(feedDir(2)),
      "the surviving head feed stays")
    assert(VersionedTable.feedVacuumedThrough(root) == 1L,
      "the mark reflects the dropped range, monotone through the re-run")
  }

  test("clusterIncremental rewrites only files appended since the last clustering") {
    val t = freshTable()
    val rnd = new scala.util.Random(31)
    t.write((1 to 600).map(i => (i, rnd.nextInt(1000))).toDF("id", "k").repartition(3))
    t.cluster(Seq("k"), numFiles = 4) // v1: clustered baseline, 4 files
    def names(v: Long): Set[String] = {
      val d = t.versionDir(v).toFile
      d.listFiles.filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.getName).toSet
    }
    val clustered = names(1)
    t.append((601 to 800).map(i => (i, rnd.nextInt(1000))).toDF("id", "k").coalesce(1)) // v2
    t.append((801 to 900).map(i => (i, rnd.nextInt(1000))).toDF("id", "k").coalesce(1)) // v3
    val v4 = t.clusterIncremental(Seq("k"), numFiles = 2)
    assert(v4 == 4)
    val head = names(4)
    // the clustered baseline carried untouched...
    assert(clustered.subsetOf(head), "v1-clustered files must carry by name")
    // ...and ONLY the two appended files were rewritten (into 2 new files)
    assert((head -- clustered).size == 2,
      s"expected 2 increment files, got ${(head -- clustered).size}")
    assert(!head.exists(n => (names(3) -- names(1)).contains(n)),
      "appended unclustered files must not survive the increment")
    assert(t.read().count() == 900 && t.countFast() == 900)
    assert(t.history().filter(col("operation") === "cluster_inc:k").count() == 1)
    // skipping stays lossless over carried + increment files
    val viaStats = t.readWhere("k", 0, 200).select("id")
    assert(viaStats.except(t.read().filter(col("k").between(0, 200)).select("id")).isEmpty)
    // nothing new since the increment → no-op, head unchanged
    assert(t.clusterIncremental(Seq("k"), numFiles = 2) == 4L)
    assert(t.latestVersion.contains(4L))
    // a later append makes exactly that delta the next increment's work
    t.append((901 to 950).map(i => (i, rnd.nextInt(1000))).toDF("id", "k").coalesce(1)) // v5
    val v6 = t.clusterIncremental(Seq("k"), numFiles = 1)
    assert(v6 == 6 && names(6).size == names(4).size + 1,
      "second increment must rewrite only the newest append")
    assert(t.read().count() == 950)
  }

  test("race: appends concurrent with clusterIncremental lose no rows and never double-cluster") {
    // both paths are commitWithCarry retry loops: a loser must re-derive
    // its work against the winner's head (the appendImpl bootstrap race,
    // one level up). An append landing mid-cluster must survive into the
    // final table exactly once, and the increment that retried over it
    // must treat it as unclustered work — never carry a stale listing.
    import java.util.concurrent.{Callable, Executors, TimeUnit}
    val t = freshTable()
    t.write((0 until 400).map(i => (i, i % 97)).toDF("id", "k")) // v0
    t.clusterIncremental(Seq("k"), numFiles = 2)                 // clustered baseline
    val pool = Executors.newFixedThreadPool(2)
    try {
      (0 until 4).foreach { round =>
        val base = 1000 + round * 100
        val fCluster = pool.submit(new Callable[Long] {
          def call(): Long = t.clusterIncremental(Seq("k"), numFiles = 2)
        })
        val fAppend = pool.submit(new Callable[Long] {
          def call(): Long =
            t.append((base until base + 100).map(i => (i, i % 97)).toDF("id", "k"))
        })
        fCluster.get(120, TimeUnit.SECONDS)
        fAppend.get(120, TimeUnit.SECONDS)
        val ids = t.read().select("id").collect().map(_.getInt(0))
        assert(ids.length == 400 + (round + 1) * 100,
          s"round $round lost/duplicated rows: ${ids.length}")
        assert(ids.distinct.length == ids.length,
          s"round $round double-clustered ${ids.length - ids.distinct.length} rows")
      }
    } finally pool.shutdown()
    // convergence: one more increment absorbs any straggler append, then
    // the clustered head is a no-op; skipping stays lossless end to end
    val v = t.clusterIncremental(Seq("k"), numFiles = 2)
    assert(t.clusterIncremental(Seq("k"), numFiles = 2) == v,
      "fully clustered head must be a no-op")
    assert(t.read().count() == 800 && t.countFast() == 800)
    val viaStats = t.readWhere("k", 10, 40).select("id")
    assert(viaStats.except(
      t.read().filter(col("k").between(10, 40)).select("id")).isEmpty,
      "stats skipping lost rows after the race")
  }

  test("manifest serializer rejects quotes, ']' and line breaks before anything is written") {
    // the manifest is line-oriented JSON parsed by regex with no
    // unescaping: '\"' breaks the line, ']' truncates list fields, and a
    // newline SPLITS the entry — the fragment would fail the version
    // regex on every later read and brick the table. All three must be
    // rejected at write time, with the table left readable.
    val t = freshTable()
    t.write(Seq((1, "a")).toDF("id", "v"))
    for (bad <- Seq("v = 'a\"b'", "tags[1] = 'x'", "v = 'a\nb'", "v = 'a\rb'")) {
      intercept[IllegalArgumentException](t.deleteWhere(bad))
    }
    assert(t.read().count() == 1 && t.versions == Seq(0L),
      "rejected predicates must leave the table untouched")
  }

  test("a crashed commit's temp entry and dir stay invisible; vacuum sweeps them") {
    // a writer that died inside the commit of version 2: its dir fully
    // staged, its entry written to the temp but never linked into place
    val t = freshTable()
    t.write(Seq((1, "a")).toDF("id", "v"))
    t.write(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val root = t.detail().collect()(0).getString(0)
    val staged = java.nio.file.Paths.get(root, "v2-crashed")
    Seq((9, "z")).toDF("id", "v").write.parquet(staged.toString)
    val temp = java.nio.file.Paths.get(root, "_log", ".2.json-crashed.tmp")
    Files.writeString(temp,
      """{"version":2,"operation":"write","rows":1,"location":"v2-crashed"}""" + "\n")
    assert(t.versions == Seq(0L, 1L), "a temp entry is not a commit")
    assert(t.read().count() == 2 && t.read(Some(0L)).count() == 1)
    assert(t.write(Seq((3, "c")).toDF("id", "v")) == 2L, "the debris must not block version 2")
    assert(t.versions == Seq(0L, 1L, 2L) &&
      t.read().collect().map(_.getInt(0)).toSeq == Seq(3),
      "the crashed writer's rows must never surface")
    // fresh debris may be an in-flight writer's: vacuum spares it...
    t.vacuum(keepLast = 10)
    assert(Files.exists(staged) && Files.exists(temp))
    // ...and reclaims it once untouched for over an hour
    age(staged)
    age(temp)
    t.vacuum(keepLast = 10)
    assert(!Files.exists(staged) && !Files.exists(temp),
      "vacuum's stale sweep must reclaim the crashed commit's leftovers")
    assert(t.versions == Seq(0L, 1L, 2L) && t.read().count() == 1)
  }

  test("footer-derived commit stats engage and equal the scan formulation") {
    // the commit's stats fast path: min/max/count lifted straight from
    // the parquet footers the data write produced — no Spark job, no
    // second data scan. Must be byte-equal to the aggregation scan it
    // replaces (carry commits union rows from both paths).
    val root = Files.createTempDirectory("graft_fstat_").toString + "/t"
    val t = new VersionedTable(spark, root)
    val df = Seq(
        (1L, 10, 1.5, "alpha", true, 3.5f),
        (2L, -4, 2.25, "Ωmega", false, -1.0f), // non-ASCII exercises UTF8 byte order
        (3L, 7, -0.5, "beta", true, 9.75f),
        (4L, 0, 8.125, "zz", false, 0.25f))
      .toDF("l", "i", "d", "s", "b", "f")
      .withColumn("dec", (col("l") * 117 + lit(0.25)).cast("decimal(18,2)"))
      .withColumn("ts", to_timestamp(concat(lit("2001-09-0"), pmod(col("i"), lit(5)) + 1,
        lit(" 12:34:56.789012"))))
      .withColumn("ntz", col("ts").cast("timestamp_ntz"))
      .withColumn("dt", to_date(lit("1999-12-31")))
      .withColumn("ln", lit(null).cast("long")) // all-null stats column
      .repartition(3, col("l"))                 // several files
    t.write(df)
    val v0 = t.versionDir(0)
    val readBack = spark.read.parquet(v0.toString)
    val statCols = readBack.schema.fields.map(_.name).toSeq
    val foot = VersionedTable.footerStats(spark, v0.toString, readBack.schema, statCols)
    assert(foot.isDefined, "footer fast path must engage for this mixed-type table")
    assert(foot.get._1 == 4L, s"footer row count: ${foot.get._1}")
    val file = url_decode(regexp_replace(
      regexp_replace(input_file_name(), s"^.*/${v0.getFileName}/", ""), "\\+", "%2B"))
    val scan = readBack.groupBy(file.as("file"))
      .agg(count(lit(1L)).as("cnt"),
        struct(statCols.map(c => min(col(c)).as(c)): _*).as("mins"),
        struct(statCols.map(c => max(col(c)).as(c)): _*).as("maxs"))
      .orderBy("file").collect().toSeq
    val stored = spark.read.parquet(v0.resolve("_stats").toString)
      .orderBy("file").collect().toSeq
    assert(stored == scan,
      s"footer stats must equal scan stats:\n  stored=$stored\n  scan  =$scan")

    // NaN gate: a NaN-bearing double chunk makes footer bounds unreliable
    // (PARQUET-1222) — the gate must decline and the commit fall back to
    // the scan, still producing correct stats
    val root2 = Files.createTempDirectory("graft_fstat2_").toString + "/t"
    val t2 = new VersionedTable(spark, root2)
    t2.write(Seq((1L, 1.0), (2L, Double.NaN)).toDF("l", "d"))
    val t2v0 = t2.versionDir(0).toString
    val rb2 = spark.read.parquet(t2v0)
    assert(VersionedTable.footerStats(spark, t2v0, rb2.schema, Seq("l", "d")).isEmpty,
      "NaN chunk must fail the footer gate")
    val s2 = spark.read.parquet(s"$t2v0/_stats")
    assert(s2.agg(sum(col("cnt"))).collect()(0).getLong(0) == 2L)
  }
}

object VersionedTableSpec {
  // gate for the schema-evolution race test: UDF closures and the test
  // body share this JVM in local mode, so a static latch coordinates them
  @volatile var gate: java.util.concurrent.CountDownLatch = _
}

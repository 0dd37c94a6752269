package graft.maint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Fs

/** Versioned parquet table — the engine's stand-in for the reference's
  * Delta maintenance surface (SURVEY.md §2.11: DESCRIBE HISTORY M2,
  * time-travel S6, RESTORE M3, VACUUM M4, OPTIMIZE compaction M5,
  * Z-ORDER clustering M6, DESCRIBE DETAIL M12, plus Delta-style
  * data-skipping file statistics and SHALLOW CLONE) in an environment
  * without a transactional table format on the classpath.
  *
  * Layout: `<root>/v=<N>/part-*.parquet` (optionally nested under
  * Hive-style `col=value/` partition dirs — see `write(partitionBy)`) +
  * `<root>/_stats/v=<N>` (per-file
  * min/max column statistics, written at commit time) + `<root>/_manifest`
  * (one JSON line per committed version, append-only). Writers stage into
  * the new version dir and commit by appending the manifest line LAST —
  * readers resolve versions only through the manifest, so a torn write is
  * invisible (the parquet stand-in for a log-ordered commit). At cluster
  * scale the manifest append would be a conditional put; everything else
  * is unchanged.
  *
  * A manifest line may carry a `location` (and `statsLocation`) pointing
  * outside the table root — that is how [[shallowClone]] shares the source
  * head's data files without copying them, exactly like Delta SHALLOW
  * CLONE's absolute-path log entries.
  */
final class VersionedTable(spark: SparkSession, root: String) {

  import VersionedTable.Commit

  private def commits: Seq[Commit] = VersionedTable.manifest(root).getOrElse(Nil)

  /** Data directory of a committed version — local `v=N` unless the
    * manifest entry points elsewhere (shallow clone). */
  private def dataDir(v: Long): String =
    commits.find(_.version == v).flatMap(_.location).getOrElse(s"$root/v=$v")

  private def statsDir(v: Long): String =
    commits.find(_.version == v).flatMap(_.statsLocation)
      .getOrElse(s"$root/_stats/v=$v")

  def versions: Seq[Long] = commits.map(_.version)

  def latestVersion: Option[Long] = versions.maxOption

  /** Whether the head carries logical-delete predicates (the
    * deletion-vector form) — [[append]] refuses such a head until
    * [[compact]] materializes the deletes; maintenance loops probe this
    * to pay the compact only when it is actually owed. */
  def headHasDeletes: Boolean =
    latestVersion.exists(v =>
      commits.find(_.version == v).exists(_.deletePredicates.nonEmpty))

  /** Commit a new version; returns its number. `commitTs` is an optional
    * injected commit timestamp (`yyyy-MM-dd HH:mm:ss`) recorded in the
    * manifest and resolvable via [[readAsOf]] — deterministic pipelines
    * pass a fixed clock, like `Tables.OrdersAsOf`.
    *
    * `partitionBy` lays the version out Hive-style (`col=value/` subdirs —
    * Delta partition columns, the reference's `event_date` layout from
    * ingest_clickstream.py:84 and performance_optimization.py:314-344).
    * [[read]] then recovers the partition columns via Spark's partition
    * discovery and filters on them become `PartitionFilters` in the scan —
    * directory-level pruning that never opens a non-matching file, the
    * first-line 100 TB tool (stats skipping via [[readWhere]] is the
    * second, and composes: partition dirs prune coarsely, per-file min/max
    * prune within the surviving dirs). NB: like Delta, a partitioned read
    * returns partition columns LAST in the schema — select explicitly when
    * order matters.
    *
    * `mergeSchema` / `overwriteSchema` are the Delta writer-protocol
    * knobs: by default a commit must keep the head's exact column set and
    * types (schema enforcement — a refactored upstream job cannot
    * silently corrupt the table); `mergeSchema = true` additionally
    * allows NEW columns (evolution), and `overwriteSchema = true` allows
    * anything (the explicit replace-the-table escape hatch). */
  def write(df: DataFrame, operation: String = "write",
      commitTs: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false): Long =
    commit(df, operation, stageFeed = None, commitTs, partitionBy,
      mergeSchema, overwriteSchema)

  /** Schema enforcement against the head version (no-op on an empty
    * table). Strict by default: same column names and types, no drops,
    * no adds, no retypes. NB: the head schema is read back from its
    * parquet files (+ partition dirs), the stand-in for Delta's
    * log-recorded schema. */
  private def enforceSchema(df: DataFrame, mergeSchema: Boolean,
      overwriteSchema: Boolean): Unit = {
    if (overwriteSchema) return
    latestVersion.foreach { v =>
      val cur = spark.read.parquet(dataDir(v)).schema
      // the head's partition columns come back through partition-dir TYPE
      // INFERENCE (a date-looking string infers DateType), so their
      // read-back type is not the written type — exempt them from the
      // retype check (presence is still enforced); the manifest records
      // which columns those are
      val partCols = commits.find(_.version == v)
        .map(_.partitionBy).getOrElse(Seq.empty).toSet
      val curTypes = cur.fields.map(f => f.name -> f.dataType).toMap
      val newTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val retyped = (curTypes.keySet & newTypes.keySet -- partCols)
        .filter(c => curTypes(c) != newTypes(c))
      val dropped = curTypes.keySet -- newTypes.keySet
      val added = newTypes.keySet -- curTypes.keySet
      require(retyped.isEmpty, s"schema enforcement on $root: column type " +
        s"changes ${retyped.map(c => s"$c: ${curTypes(c).simpleString}->" +
          s"${newTypes(c).simpleString}").mkString(", ")} (use overwriteSchema)")
      require(dropped.isEmpty, s"schema enforcement on $root: dropped " +
        s"columns ${dropped.mkString(", ")} (use overwriteSchema)")
      require(added.isEmpty || mergeSchema, s"schema enforcement on $root: " +
        s"new columns ${added.mkString(", ")} (use mergeSchema)")
    }
  }

  /** Single commit path with optimistic concurrency (the Delta protocol's
    * shape: uniquely named staging + a conditional commit). Per attempt:
    * write data + stats into a uniquely named staging dir (fully
    * concurrent), then publish it as `next` through [[publishVersion]].
    * A writer that lost the race retries against the new head — the
    * behavior of Delta's ConcurrentAppend resolution.
    */
  private def commit(df: DataFrame, operation: String,
      stageFeed: Option[(Long, String) => Unit], commitTs: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false): Long = {
    // schema first: it's a footer-metadata check, where constraint
    // validation is a full aggregation job — and a schema-invalid df can
    // make a constraint expression fail analysis with a worse error
    enforceSchema(df, mergeSchema, overwriteSchema)
    validateConstraints(df)
    retrying("commit of") {
      val next = latestVersion.map(_ + 1).getOrElse(0L)
      // Schema enforcement must see the head THIS attempt commits onto: a
      // loser's retry lands on the winner's schema, and validating only
      // once up front would let the retry silently revert a concurrent
      // mergeSchema evolution (the winner's new column dropped with no
      // error). Re-checking per attempt against the head `next` derives
      // from is the local analogue of Delta's ConcurrentWrite metadata-
      // conflict resolution: the conflicting retry FAILS instead. The
      // lock's head re-check guarantees no commit lands on a head
      // this validation didn't see. (Yes, the first attempt re-validates
      // what the entry check already saw — but the constraint pass
      // between them is a full Spark job, ample time for a concurrent
      // mergeSchema commit to move the head; one footer read is the
      // price of validating against the head `next` actually derives
      // from.)
      enforceSchema(df, mergeSchema, overwriteSchema)
      val stage = s"$root/_staging/${java.util.UUID.randomUUID()}"
      val writer = df.write.mode("overwrite")
      (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(s"$stage/data")
      // fail with the actual cause: an empty snapshot under partitionBy
      // stages no files at all (the dynamic-partition writer is per-row),
      // and this parquet stand-in has no log-recorded schema to give such
      // a version — the schema-less stats read below would otherwise die
      // with an opaque 'unable to infer schema'
      if (Fs.dataFiles(Paths.get(s"$stage/data")).isEmpty) {
        Fs.deleteTree(Paths.get(stage))
        sys.error(s"commit of $root staged zero data files (empty snapshot" +
          " with partitionBy?): a readable version needs at least one" +
          " schema-bearing parquet file")
      }
      val rows = writeStats(s"$stage/data", s"$stage/stats")
      // partition columns are recorded in the commit (the stand-in
      // for Delta's log schema): readers of the manifest know them
      // without trusting partition-dir type inference
      val line = Commit(next, operation, rows, ts = commitTs,
        partitionBy = partitionBy).line
      // the feed derives from the STAGED data (still at $stage/data —
      // publishVersion moves it after), so the writer's upstream
      // pipeline is never re-executed for the diff
      val won = publishVersion(next, line, Some(stage),
        stageFeed.map(f => () => f(next, s"$stage/data")))
      // registered bloom indexes ride with the commit (advisory: a
      // reader between manifest append and index write just prunes less)
      if (won) maintainBloomIndexes(next)
      Option.when(won)(next)
    }
  }

  /** The ONE commit critical section. Under the table's commit lock:
    * RE-CHECK that `next` is still unclaimed; clear a crashed writer's
    * orphans for the slot (a staged `_changes/v=next` must not become
    * this version's CDC rows, and an orphaned data/stats dir — death
    * between move and manifest append — would make the move throw
    * forever; the manifest proves none is committed, so all are safe to
    * remove under the lock); stage the change feed; rename the staged
    * `data`/`stats` (if any) into place; append the manifest `line`.
    * The feed MUST stage inside the critical section: its diff basis
    * (version next-1) and the `_changes/v=next` slot are only stable
    * while holding the commit, and a racing loser could otherwise
    * clobber a winner's committed feed. The manifest append is the
    * commit point, so data, stats, and feed become visible together or
    * not at all. Returns false if another writer claimed `next`; the
    * staging dir is removed either way. */
  private def publishVersion(next: Long, line: String,
      stage: Option[String] = None, stageFeed: Option[() => Unit] = None): Boolean = {
    val won = VersionedTable.commitLock(root).synchronized {
      if (latestVersion.map(_ + 1).getOrElse(0L) != next) false
      else {
        Fs.deleteTree(Paths.get(s"$root/_changes/v=$next"))
        Fs.deleteTree(Paths.get(s"$root/v=$next"))
        Fs.deleteTree(Paths.get(s"$root/_stats/v=$next"))
        stageFeed.foreach(_())
        stage.foreach { s =>
          Files.createDirectories(Paths.get(s"$root/_stats"))
          Files.move(Paths.get(s"$s/data"), Paths.get(s"$root/v=$next"))
          Files.move(Paths.get(s"$s/stats"), Paths.get(s"$root/_stats/v=$next"))
        }
        VersionedTable.appendManifest(root, line)
        true
      }
    }
    stage.foreach(s => Fs.deleteTree(Paths.get(s)))
    won
  }

  /** The ONE optimistic-concurrency retry loop: re-run `attempt` against
    * the current head until it commits (Some). Under k-writer contention
    * a commit can lose at most k-1 races (every loss means someone else
    * committed), so a generous cap only guards against a pathological
    * livelock. */
  private def retrying[A](what: String)(attempt: => Option[A]): A = {
    var losses = 0
    var result = attempt
    while (result.isEmpty) {
      losses += 1
      if (losses > 20) throw new IllegalStateException(
        s"$what $root contended $losses times; giving up")
      result = attempt
    }
    result.get
  }

  // ---- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity) ----

  private def constraintsPath: Path = Paths.get(root, "_constraints")

  /** Register a CHECK constraint: every subsequent commit must satisfy the
    * SQL predicate on EVERY row (a NULL result counts as a violation, like
    * Delta). Recorded in table metadata, enforced by [[write]] /
    * [[writeWithChangeFeed]] before any data is staged. */
  def addConstraint(name: String, condition: String): Unit = {
    require(!condition.contains("\""), "constraint conditions use single quotes")
    Files.createDirectories(Paths.get(root))
    Files.writeString(constraintsPath,
      s"""{"name":"$name","condition":"$condition"}""" + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  def constraints: Seq[(String, String)] =
    if (!Files.exists(constraintsPath)) Seq.empty
    else Files.readAllLines(constraintsPath, StandardCharsets.UTF_8).asScala.toSeq
      .map { line =>
        val n = """"name":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1)
        val c = """"condition":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1)
        (n, c)
      }

  /** ALL constraints verified in ONE aggregation pass over the incoming
    * snapshot (never a filter+count per rule — 1 scan, not |rules| scans,
    * the Quality-engine trick). Throws naming every violated constraint
    * BEFORE anything is staged, so a rejected commit leaves no trace. */
  private def validateConstraints(df: DataFrame): Unit = {
    val cs = constraints
    if (cs.isEmpty) return
    val aggs = cs.map { case (n, c) =>
      sum(when(expr(c), 0L).otherwise(1L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    // an empty snapshot trivially satisfies every constraint (sums are NULL)
    val violated = cs.indices.collect {
      case i if !row.isNullAt(i) && row.getLong(i) > 0 =>
        s"${cs(i)._1} (${row.getLong(i)} rows)"
    }
    if (violated.nonEmpty) throw new IllegalArgumentException(
      s"CHECK constraint violation on $root: ${violated.mkString(", ")}")
  }

  /** Columns worth file-level min/max stats: orderable atomic types (the
    * Delta rule, minus its 32-column cap — snapshots here are narrow). */
  private def statColumns(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
      case f if Seq(StringType, DateType, TimestampType, TimestampNTZType,
        BooleanType).contains(f.dataType) => f.name
    }.toSeq

  /** Per-file row counts + min/max structs → `_stats/v=N` parquet.
    * Returns the total row count (so the commit needs no second counting
    * scan). One stats row per data file — at 100 TB this is the same
    * "stats ride with the commit" shape as the Delta log, and the
    * skipping decision reads only this tiny table.
    *
    * Fast path: stats come from the parquet FOOTERS the data write just
    * produced (row counts and per-chunk min/max are written by the
    * encoder itself), so deriving them is an O(files) metadata read with
    * no data scan and no shuffle — the local analogue of Delta
    * collecting stats inside the writer, and what makes the commit's
    * write path single-data-scan (the only remaining staged-data re-read
    * is the change-feed diff, which needs row-level compare by
    * definition). The footer path is gated to exactly-representable
    * column shapes ([[VersionedTable.footerStats]]); anything else —
    * partition dirs, INT96 timestamps, NaN-bearing float chunks, absent
    * or oversized binary stats — falls back to the one-scan aggregation
    * below, whose output is identical (VersionedTableSpec pins
    * footer == scan on a mixed-type table). */
  private def writeStats(dataDir: String, statsOut: String,
      schemaHint: Option[StructType] = None): Long = {
    // a hint pins partition-column types to the head's read-back schema:
    // partition-dir inference is value-dependent (an all-numeric batch of
    // a string partition column infers int), and stats must union with
    // the head's rows under ONE schema — see commitWithCarry
    val reader = schemaHint.fold(spark.read)(h => spark.read.schema(h))
    val written = reader.parquet(dataDir)
    val cols = statColumns(written.schema)
    VersionedTable.footerStats(spark, dataDir, written.schema, cols).foreach {
      case (totalRows, statsDf) =>
        statsDf.coalesce(1).write.mode("overwrite").parquet(statsOut)
        return totalRows
    }
    val aggs =
      count(lit(1L)).as("cnt") +:
        (if (cols.isEmpty) Seq.empty
         else Seq(
           struct(cols.map(c => min(col(c)).as(c)): _*).as("mins"),
           struct(cols.map(c => max(col(c)).as(c)): _*).as("maxs")))
    // record paths RELATIVE to the staged data root (`<uuid>/data/…`):
    // stats are computed in the staging dir and must survive the rename to
    // v=N (readWhere re-anchors on dataDir), and a partitioned layout
    // needs the `col=value/` prefix kept. A literal `/data/` segment
    // cannot reappear deeper: partition dirs always contain `=` and
    // special chars in values are URL-encoded.
    val stats = written
      .groupBy(VersionedTable.decodedRelFile("^.*/data/").as("file"))
      .agg(aggs.head, aggs.tail: _*)
    stats.coalesce(1).write.mode("overwrite").parquet(statsOut)
    spark.read.parquet(statsOut)
      .agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0).getLong(0)
  }

  /** Data-skipping read (the Delta stats-pruned scan): keep only the files
    * whose `[min,max]` range for `column` intersects `[lo, hi]`, then apply
    * the residual row filter. After [[cluster]] on `column` this touches a
    * small fraction of the files; correctness never depends on the stats
    * (a missing stats table falls back to the full scan + filter).
    */
  def readWhere(column: String, lo: Any, hi: Any,
      versionAsOf: Option[Long] = None): DataFrame = {
    val v = versionAsOf.getOrElse(
      latestVersion.getOrElse(sys.error(s"empty table at $root")))
    val residual = col(column) >= lit(lo) && col(column) <= lit(hi)
    val sd = statsDir(v)
    if (!Files.exists(Paths.get(sd))) return read(Some(v)).filter(residual)
    val stats = spark.read.parquet(sd)
    if (!stats.columns.contains("mins") ||
        !stats.select("mins.*").columns.contains(column))
      return read(Some(v)).filter(residual)
    val dir = dataDir(v) // hoisted: dataDir re-parses the manifest per call
    val files = stats
      .filter(col(s"maxs.$column") >= lit(lo) && col(s"mins.$column") <= lit(hi))
      .select("file").collect().map(r => s"$dir/${r.getString(0)}").toSeq
    if (files.isEmpty) read(Some(v)).filter(residual).filter(lit(false))
    // basePath anchors partition discovery so a partitioned version's
    // `col=value` columns survive an explicit-file-subset read
    else applyDeletes(
      spark.read.option("basePath", dir).parquet(files: _*), v).filter(residual)
  }

  /** Build a per-file BLOOM FILTER INDEX on `column` for the head version
    * (Delta `CREATE BLOOMFILTER INDEX` parity): k hash positions per value
    * (xxhash64 seeded by the probe number, mod m bits), stored as a sorted
    * position set per file under `_bloom/<column>/v=N`. [[readFiltered]]
    * then consults it for equality/IN predicates — the pruning tool for
    * point lookups on a HIGH-CARDINALITY column the table is NOT clustered
    * by, where every file's min/max range spans the whole key space and
    * stats skipping keeps everything. False positives only cost an extra
    * file scan; a missing index costs nothing (stats-only pruning).
    *
    * Sizing: by default AUTO — per version, the build measures the
    * largest per-file distinct count n and solves the textbook
    * m = -n·ln(fpp)/ln(2)², k = (m/n)·ln 2 for the target false-positive
    * rate (1% default), so the index stays selective as the table grows
    * (a fixed m saturates: at kn/m ≫ 1 every probe hits and nothing
    * prunes). Pass explicit `bits`/`hashes` to pin the size instead.
    * The index is an array of set positions per file, so storage is
    * O(k·distinct), not O(m), and the probe is a constant-folded
    * `array_contains` over the tiny index table — never a data scan. */
  def buildBloomIndex(column: String, bits: Int = 0, hashes: Int = 0,
      fpp: Double = 0.01): Unit = {
    // register the index so every subsequent commit maintains it (the
    // Delta CREATE BLOOMFILTER INDEX contract: index once, writes keep
    // it); bits=0 re-sizes per version from that version's own files.
    // Re-registration REPLACES the column's config line — keeping the old
    // one would rebuild the head with the new parameters but maintain all
    // future versions with the stale sizing, a silent divergence.
    Files.createDirectories(Paths.get(root))
    val cfg = s"""{"column":"$column","bits":$bits,"hashes":$hashes,""" +
      s""""fpp_ppm":${math.round(fpp * 1000000)}}"""
    // the replace is a read-modify-write of the whole file (no longer a
    // pure append), so serialize it under the table's commit lock —
    // concurrent registrations of DIFFERENT columns must not lose lines.
    // Committers read the file OUTSIDE the lock (bloomConfigs), so the
    // rewrite is an atomic replace: never an empty file or a partial line
    VersionedTable.commitLock(root).synchronized {
      val others =
        if (!Files.exists(bloomConfigPath)) Seq.empty
        else Files.readAllLines(bloomConfigPath, StandardCharsets.UTF_8).asScala.toSeq
          .filterNot(l =>
            """"column":"([^"]*)"""".r.findFirstMatchIn(l).exists(_.group(1) == column))
      Fs.writeAtomic(bloomConfigPath, (others :+ cfg).mkString("", "\n", "\n"))
    }
    latestVersion.foreach(v => buildBloomFor(v, column, bits, hashes, fpp))
  }

  private def bloomConfigPath: Path = Paths.get(root, "_bloom_config")

  private def bloomConfigs: Seq[(String, Int, Int, Double)] =
    if (!Files.exists(bloomConfigPath)) Seq.empty
    else Files.readAllLines(bloomConfigPath, StandardCharsets.UTF_8).asScala.toSeq
      .map { line =>
        val c = """"column":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1)
        val b = """"bits":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
        val h = """"hashes":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
        val f = """"fpp_ppm":(\d+)""".r.findFirstMatchIn(line)
          .map(_.group(1).toLong / 1000000.0).getOrElse(0.01)
        (c, b, h, f)
      }

  /** Rebuild every registered bloom index for version `v` — one scan of
    * the new version per indexed column, the same "stats ride with the
    * commit" shape as [[writeStats]]. Columns absent from the snapshot
    * (schema evolution) are skipped; readFiltered then simply has no
    * index for them on this version. */
  private def maintainBloomIndexes(v: Long): Unit = {
    val configs = bloomConfigs
    if (configs.isEmpty) return
    // one schema read per commit, not per indexed column
    val cols = spark.read.parquet(dataDir(v)).columns.toSet
    configs.foreach { case (c, b, h, f) =>
      if (cols.contains(c)) buildBloomFor(v, c, b, h, f)
    }
  }

  private def buildBloomFor(v: Long, column: String, bits0: Int,
      hashes0: Int, fpp: Double): Unit = {
    val df = spark.read.parquet(dataDir(v))
    require(df.columns.contains(column), s"no column $column to index")
    val (bits, hashes) =
      if (bits0 > 0 && hashes0 > 0) (bits0, hashes0)
      else {
        // auto-size from the densest file of THIS version; an empty
        // version has no max (NULL) — no rows, nothing to index
        val dense = densestDistinct(df, column)
        if (dense.isEmpty) {
          Fs.deleteTree(bloomDir(column, v))
          return
        }
        val n = math.max(1L, dense.get)
        val ln2 = math.log(2)
        val m = math.max(64, math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toInt)
        val k = math.min(8, math.max(1, math.round(m.toDouble / n * ln2).toInt))
        (m, k)
      }
    writeBloomDir(bloomRows(df, column, bits, hashes), column, v)
  }

  /** Land a bloom index dir ATOMICALLY ([[Fs.publishDir]]): index writes
    * happen after the commit point, so a concurrent committer's
    * incremental maintenance may read the PREVIOUS version's index while
    * it is being written — with a plain overwrite it could see a
    * _temporary-only or partial dir. An atomic dir rename means readers
    * observe either no dir (→ full-rebuild fallback) or a complete one,
    * never a torn index. */
  private def writeBloomDir(rows: DataFrame, column: String, v: Long): Unit =
    Fs.publishDir(bloomDir(column, v))(tmp =>
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString))

  /** Carry a version's bloom index dir to another version (or a clone's
    * v0) — same complete-or-absent landing as [[writeBloomDir]]. */
  private def carryBloomDir(src: Path, dest: Path): Unit =
    if (Files.isDirectory(src)) Fs.publishDir(dest)(Fs.copyTree(src, _))

  private def bloomDir(column: String, v: Long): Path =
    Paths.get(s"$root/_bloom/$column/v=$v")

  /** Densest per-file distinct count of `column` over `df` — the sizing
    * statistic shared by [[buildBloomFor]]'s auto-sizer and the
    * incremental adequacy check (one definition, so they cannot
    * de-synchronize). None = no rows. */
  private def densestDistinct(df: DataFrame, column: String): Option[Long] = {
    val row = df
      .groupBy(input_file_name()).agg(countDistinct(col(column)).as("n"))
      .agg(max(col("n"))).collect()(0)
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Per-file bloom position-set rows for `df`'s files (file key anchored
    * on the version dir, like the stats table — nested partition dirs
    * keep their col=value/ prefix). */
  private def bloomRows(df: DataFrame, column: String,
      bits: Int, hashes: Int): DataFrame = {
    val positions = array((0 until hashes).map(i =>
      pmod(xxhash64(col(column), lit(i)), lit(bits)).cast("int")): _*)
    df
      .select(VersionedTable.decodedRelFile("^.*/v=\\d+/").as("file"),
        explode(positions).as("pos"))
      .groupBy("file")
      .agg(sort_array(collect_set(col("pos"))).as("positions"),
        lit(bits).as("bits"), lit(hashes).as("hashes"),
        // probe literals must hash as THIS type — record it in the index
        lit(df.schema(column).dataType.catalogString).as("coltype"))
  }

  /** Bloom maintenance for a carry commit ([[append]] /
    * [[clusterIncremental]] / [[clusterWhere]]): carried files keep their
    * position-set rows from the previous version's index — only the new
    * files are scanned, so index upkeep stays ∝ rewritten data, matching
    * the carry commit's own cost story. The carried rows are only valid
    * under the SAME (bits, hashes) sizing, so the auto-sized path first
    * checks adequacy: if the new files' densest distinct count still fits
    * the prior sizing's capacity (n* = m·ln2/k), the prior parameters are
    * kept; if a new file outgrows them (rare — capacity grows with the
    * densest file ever seen), fall back to a full [[buildBloomFor]]
    * rebuild, the exact behavior a fixed-size index must avoid and an
    * auto-sized one must have (a saturated filter prunes nothing). */
  private def maintainBloomIndexesIncremental(prev: Long, next: Long,
      carriedRel: Set[String]): Unit = {
    import spark.implicits._
    val configs = bloomConfigs
    if (configs.isEmpty) return
    // loop invariants hoisted: one schema read + one file walk per commit,
    // not per indexed column
    val nextCols = spark.read.parquet(dataDir(next)).columns.toSet
    val newRel = dataFilesRel(next).filterNot(carriedRel)
    val dir = Paths.get(dataDir(next)).toAbsolutePath.toString
    configs.foreach { case (c, b0, h0, fpp) =>
      if (nextCols.contains(c)) {
        val prevIdx = bloomDir(c, prev)
        // the prev index may be mid-write by the previous committer or
        // mid-delete by a concurrent vacuum; its WRITES are atomic (dir
        // rename), so the only failure shape is absence — but guard the
        // read anyway and fall back to a full rebuild from the committed
        // data, which is always correct
        def incremental(): Boolean =
          try {
            if (!Files.isDirectory(prevIdx)) return false
            val prior = spark.read.parquet(prevIdx.toString)
            if (newRel.isEmpty) {
              // pure carry (e.g. clusterWhere matched nothing new): the
              // prior rows for surviving files ARE the next index
              writeBloomDir(prior
                .join(carriedRel.toSeq.toDF("file"), Seq("file"), "left_semi"),
                c, next)
              return true
            }
            val newDf = spark.read.option("basePath", dir)
              .parquet(newRel.map(r => s"$dir/$r"): _*)
            val sized = prior.select("bits", "hashes").limit(1).collect()
              .headOption.map(h => (h.getInt(0), h.getInt(1)))
            val fixedOk = b0 > 0 && h0 > 0 && sized.contains((b0, h0))
            val autoOk = b0 == 0 && sized.exists { case (m, k) =>
              densestDistinct(newDf, c)
                .forall(_ <= math.floor(m * math.log(2) / k).toLong)
            }
            if (!fixedOk && !autoOk) return false
            val (m, k) = sized.get
            writeBloomDir(
              bloomRows(newDf, c, m, k).unionByName(prior
                .join(carriedRel.toSeq.toDF("file"), Seq("file"), "left_semi")),
              c, next)
            true
          } catch {
            // index writes are atomic, but a concurrent vacuum can still
            // delete the prev dir between listing and read, and a torn
            // LEGACY dir (pre-atomic-rename) fails at execution time,
            // not analysis — any failure here falls back to the full
            // rebuild from committed data, which is always correct
            case scala.util.control.NonFatal(_) => false
          }
        if (!incremental()) buildBloomFor(next, c, b0, h0, fpp)
      }
    }
  }

  /** Bloom indexes available for version `v`: column → (index df, bits,
    * hashes, column catalog type). A zero-row index (explicitly sized
    * build over an empty version) contributes nothing — stats-only
    * pruning still applies. */
  private def bloomIndexes(v: Long): Map[String, (DataFrame, Int, Int, String)] = {
    val dir = Paths.get(s"$root/_bloom")
    if (!Files.isDirectory(dir)) return Map.empty
    val cols = {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq.filter(c =>
        Files.isDirectory(Paths.get(s"$c/v=$v")))
      finally s.close()
    }
    cols.flatMap { c =>
      val df = spark.read.parquet(s"$c/v=$v")
      df.select("bits", "hashes", "coltype").limit(1).collect().headOption
        .map(h => c.getFileName.toString ->
          (df, h.getInt(0), h.getInt(1), h.getString(2)))
    }.toMap
  }

  /** General predicate-pruned read — [[readWhere]]'s single-column range
    * generalized to arbitrary AND/OR/comparison/IN predicates via
    * [[StatsPruning]] (the Delta DataSkippingReader shape): the predicate
    * is compiled to a file-survival condition over the per-file min/max
    * stats, only surviving files are scanned, and the predicate itself is
    * re-applied as the residual row filter. Unsupported predicate shapes
    * (NOT, IS NULL, functions, col-vs-col) keep their files — pruning is
    * only ever an optimization, never a correctness dependency. */
  def readFiltered(predicate: String, versionAsOf: Option[Long] = None): DataFrame = {
    val v = versionAsOf.getOrElse(
      latestVersion.getOrElse(sys.error(s"empty table at $root")))
    val residual = expr(predicate)
    val sd = statsDir(v)
    if (!Files.exists(Paths.get(sd))) return read(Some(v)).filter(residual)
    val stats = spark.read.parquet(sd)
    if (!stats.columns.contains("mins")) return read(Some(v)).filter(residual)
    val statCols = stats.select("mins.*").schema.fields
      .map(f => f.name -> f.dataType).toMap
    val dir = dataDir(v)
    // left-join each bloom index's position sets onto the stats rows
    // (NULL positions = unindexed file = conservatively kept by the probe)
    val blooms = bloomIndexes(v)
    val statsWithBloom = blooms.foldLeft(stats) {
      case (acc, (c, (bdf, _, _, _))) =>
        acc.join(
          bdf.select(col("file"), col("positions").as(s"__bloom_$c")),
          Seq("file"), "left")
    }
    val bloomMeta: StatsPruning.BloomMeta =
      blooms.map { case (c, (_, bits, hashes, tpe)) => c -> (bits, hashes, tpe) }
    val files = statsWithBloom
      .filter(StatsPruning.survives(spark, predicate, statCols, bloomMeta))
      .select("file").collect().map(r => s"$dir/${r.getString(0)}").toSeq
    if (files.isEmpty) read(Some(v)).filter(residual).filter(lit(false))
    else applyDeletes(
      spark.read.option("basePath", dir).parquet(files: _*), v).filter(residual)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose v0 manifest entry POINTS AT the source head's data files
    * (and stats) instead of copying them — metadata-only, O(1) data
    * movement. The clone then evolves independently: its own writes land
    * under its own root. Like Delta, VACUUMing the source invalidates
    * clones that still reference the shared files ([[vacuum]] only ever
    * deletes dirs under its own root, so a clone can never delete source
    * data).
    */
  def shallowClone(destRoot: String): VersionedTable = {
    val v = latestVersion.getOrElse(sys.error(s"empty table at $root"))
    val src = commits.find(_.version == v).get
    require(Files.isDirectory(Paths.get(dataDir(v))),
      s"cannot clone version $v of $root: data was vacuumed")
    val dest = new VersionedTable(spark, destRoot)
    require(dest.versions.isEmpty, s"clone target $destRoot is not empty")
    val dataLoc = Paths.get(dataDir(v)).toAbsolutePath.toString
    val statsLoc = Paths.get(statsDir(v)).toAbsolutePath.toString
    // delete predicates travel with the clone (its v0 must read the same
    // logical rows as the source head)
    Files.createDirectories(Paths.get(destRoot))
    val claimed = dest.publishVersion(0L,
      Commit(0L, s"clone_of:$root@v$v", src.rows,
        location = Some(dataLoc), statsLocation = Some(statsLoc),
        deletePredicates = src.deletePredicates,
        partitionBy = src.partitionBy).line)
    require(claimed, s"clone target $destRoot is not empty")
    // table metadata travels with the clone: CHECK constraints keep
    // enforcing on the clone's own commits (Delta CLONE copies properties)
    if (Files.exists(constraintsPath))
      Files.copy(constraintsPath, Paths.get(destRoot, "_constraints"))
    // bloom registrations too, plus the head's tiny position sets (the
    // clone's v0 reads the same files, so the index is valid as-is)
    if (Files.exists(bloomConfigPath)) {
      Files.copy(bloomConfigPath, Paths.get(destRoot, "_bloom_config"))
      bloomConfigs.foreach { case (c, _, _, _) =>
        carryBloomDir(bloomDir(c, v), dest.bloomDir(c, 0L))
      }
    }
    dest
  }

  /** Commit a new version AND its change feed (S4/M13 structural parity —
    * Delta CDF rows with `_change_type`, `_commit_version`,
    * `_commit_timestamp`). The feed for version N is derived as the
    * keyed diff against version N-1 (one key shuffle; v0 is all-insert)
    * and staged under `_changes/v=N` BEFORE the manifest line commits,
    * so feed and data become visible atomically.
    *
    * @param commitTs injected commit timestamp (deterministic pipelines
    *                 pass a fixed clock, like `Tables.OrdersAsOf`)
    */
  def writeWithChangeFeed(
      df: DataFrame, keyCols: Seq[String],
      operation: String = "write",
      commitTs: String = "2001-09-01 00:00:00",
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false,
      partitionBy: Seq[String] = Seq.empty): Long = {
    commit(df, operation, stageFeed = Some { (next, stagedData) =>
      // Diff from the STAGED parquet, not `df`: the incoming snapshot was
      // just materialized by the data write, and re-using `df` here would
      // re-execute its entire upstream pipeline a second time (at 100 TB,
      // the full ingest transform) just to derive the feed. Partition-dir
      // type inference can retype partition columns on read-back, so the
      // snapshot is re-cast to df's declared schema before diffing.
      val staged = spark.read.option("basePath", stagedData).parquet(stagedData)
        .select(df.schema.fields.toIndexedSeq
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      val feed =
        if (next == 0L) graft.ops.ChangeFeed.allInserts(staged)
        else graft.ops.ChangeFeed.diff(read(Some(next - 1)), staged, keyCols)
      feed
        .withColumn(graft.ops.ChangeFeed.CommitVersionCol, lit(next))
        .withColumn(graft.ops.ChangeFeed.CommitTimestampCol,
          to_timestamp(lit(commitTs)))
        .write.mode("overwrite").parquet(s"$root/_changes/v=$next")
    }, commitTs = Some(commitTs), partitionBy = partitionBy,
      mergeSchema = mergeSchema, overwriteSchema = overwriteSchema)
  }

  /** Read the change feed from `fromVersion` to head (M13 / S4:
    * `table_changes(...)` equivalent; also consumable as a file stream for
    * the streaming-CDC path). */
  def changeFeed(fromVersion: Long = 0L): DataFrame = {
    // a resume point inside the retention-dropped range is a LOUD
    // contract failure naming the gap — silently listing only the
    // surviving dirs would hand the consumer a feed with an invisible
    // hole (the lagging-consumer×retention composition, spec-pinned)
    val dropped = VersionedTable.feedVacuumedThrough(root)
    require(fromVersion > dropped,
      s"change feed of $root from version $fromVersion is beyond " +
        s"retention: feed versions <= $dropped were dropped by vacuum — " +
        s"re-sync from a snapshot, then resume from ${dropped + 1}")
    val vs = versions.filter(_ >= fromVersion)
      .filter(v => Files.exists(Paths.get(s"$root/_changes/v=$v")))
    require(vs.nonEmpty, s"no change-feed versions >= $fromVersion at $root")
    // mergeSchema: a feed spanning a mergeSchema evolution would
    // otherwise pin whichever version's schema wins inference and
    // silently drop the evolved column from the other versions' rows
    spark.read.option("mergeSchema", "true")
      .parquet(vs.map(v => s"$root/_changes/v=$v"): _*)
  }

  /** Time-travel read (S6): latest version, or `VERSION AS OF v`. */
  def read(versionAsOf: Option[Long] = None): DataFrame = {
    val v = versionAsOf.getOrElse(
      latestVersion.getOrElse(sys.error(s"empty table at $root")))
    require(versions.contains(v), s"version $v not in ${versions.mkString(",")}")
    // a vacuumed version stays in the manifest (audit trail) but its data
    // is gone — fail with the actual cause, not a parquet path error
    require(Files.isDirectory(Paths.get(dataDir(v))),
      s"version $v of $root was vacuumed; earliest readable version is " +
        s"${versions.filter(x => Files.isDirectory(Paths.get(dataDir(x)))).minOption.getOrElse("none")}")
    applyDeletes(spark.read.parquet(dataDir(v)), v)
  }

  /** Apply a version's stored delete predicates (see [[deleteWhere]]).
    * SQL DELETE semantics: only rows where the predicate is TRUE are
    * deleted — a NULL predicate result keeps the row. */
  private def applyDeletes(df: DataFrame, v: Long): DataFrame =
    commits.find(_.version == v).map(_.deletePredicates).getOrElse(Seq.empty)
      .foldLeft(df)((d, p) => d.filter(!coalesce(expr(p), lit(false))))

  /** Logical DELETE WHERE — the spirit of Delta deletion vectors: commit a
    * new version that REFERENCES the previous version's files plus a
    * stored anti-predicate applied at read time. No data is rewritten —
    * the commit costs one counting scan regardless of table size (the
    * 100 TB GDPR-delete story: O(metadata), not O(data)). Chained deletes
    * accumulate predicates; a later [[compact]] (or any full write)
    * materializes them physically. Predicates must be deterministic and
    * use single quotes only. Not CDC-visible — use [[writeWithChangeFeed]]
    * when downstream consumers need delete rows in the feed. */
  def deleteWhere(condition: String, commitTs: Option[String] = None): Long = {
    require(!condition.contains("\"") && !condition.contains("]"),
      "delete predicates use single quotes and no ']'")
    retrying("deleteWhere of") {
      val v = latestVersion.getOrElse(sys.error(s"empty table at $root"))
      val next = v + 1
      val base = commits.find(_.version == v).get
      val preds = base.deletePredicates :+ condition
      val rows = applyDeletes(spark.read.parquet(dataDir(v)), v)
        .filter(!coalesce(expr(condition), lit(false))).count()
      val dataLoc = Paths.get(dataDir(v)).toAbsolutePath.toString
      val statsLoc = Paths.get(statsDir(v)).toAbsolutePath.toString
      // record the commit timestamp like write() does — without it a
      // readAsOf(ts) after the delete resolves to the last ts-bearing
      // PRE-delete version and resurrects logically deleted rows
      val line = Commit(next, "delete_where", rows, ts = commitTs,
        location = Some(dataLoc), statsLocation = Some(statsLoc),
        deletePredicates = preds, partitionBy = base.partitionBy).line
      Option.when(publishVersion(next, line)) {
        // the new head references the SAME files — position sets stay
        // valid, so carry them forward instead of an O(data) rebuild
        // (deleteWhere must stay O(metadata))
        bloomConfigs.foreach { case (c, _, _, _) =>
          carryBloomDir(bloomDir(c, v), bloomDir(c, next))
        }
        next
      }
    }
  }

  /** TIMESTAMP AS OF time travel (S6): the latest version whose recorded
    * commit timestamp is <= `timestamp` (`yyyy-MM-dd HH:mm:ss` — the
    * format sorts lexically, so string compare IS instant compare).
    * Versions committed without a timestamp are ignored, like Delta
    * versions outside the retention window. */
  def readAsOf(timestamp: String): DataFrame = {
    val v = commits.filter(_.ts.exists(_ <= timestamp)).map(_.version).maxOption
      .getOrElse(sys.error(
        s"no version of $root committed at or before $timestamp"))
    read(Some(v))
  }

  /** Metadata-only row count (Delta serves `SELECT COUNT(*)` from log
    * statistics without touching data): the manifest records each
    * commit's row count — deleteWhere commits record the post-delete
    * count — so counting any version is a manifest lookup, O(1) at any
    * table size. */
  def countFast(versionAsOf: Option[Long] = None): Long = {
    val cs = commits
    val v = versionAsOf.orElse(cs.map(_.version).maxOption)
      .getOrElse(sys.error(s"empty table at $root"))
    cs.find(_.version == v)
      .getOrElse(sys.error(s"version $v not in ${cs.map(_.version).mkString(",")}"))
      .rows
  }

  /** DESCRIBE HISTORY (M2). */
  def history(): DataFrame = {
    import spark.implicits._
    commits.map(c => (c.version, c.operation, c.rows, c.ts.orNull))
      .toDF("version", "operation", "rows", "ts")
  }

  /** RESTORE TABLE ... TO VERSION AS OF (M3): re-commits an old version
    * as the new head (history preserved, like Delta RESTORE). The
    * restored version's Hive partition layout travels with it — RESTORE
    * must not silently flatten a partitioned table. */
  def restore(version: Long): Long = {
    // restoring across a schema evolution legitimately changes the head
    // schema back — RESTORE is a protocol op, not a writer to police
    val parts = commits.find(_.version == version)
      .map(_.partitionBy).getOrElse(Seq.empty)
    write(read(Some(version)), s"restore_v$version",
      partitionBy = parts, overwriteSchema = true)
  }

  /** OPTIMIZE small-file compaction (M5): rewrite head into ~targetFiles
    * files. A partitioned head keeps its layout — like Delta OPTIMIZE,
    * compaction bin-packs WITHIN partitions (targetFiles is per
    * partition value), never flattens the directory structure. */
  def compact(targetFiles: Int = 1): Long =
    write(read().coalesce(targetFiles), "compact",
      partitionBy = headPartitionBy)

  /** OPTIMIZE to a target file SIZE (the real OPTIMIZE contract — Delta
    * bins to ~1 GB files, not a file count): file count derived from the
    * head's current bytes, so the same call is right at any table size.
    * Defaults to 128 MiB locally; a cluster passes ~1 GiB. */
  def compactToSize(targetBytes: Long = 128L * 1024 * 1024): Long = {
    val bytes = detail().collect()(0).getAs[Long]("size_bytes")
    compact(math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt))
  }

  /** Hive partition columns recorded for the current head (empty on an
    * unpartitioned table) — maintenance rewrites carry them forward. */
  private def headPartitionBy: Seq[String] =
    latestVersion.flatMap(v => commits.find(_.version == v))
      .map(_.partitionBy).getOrElse(Seq.empty)

  /** Lexical clustering (M6): range-partition + sort the head by the
    * clustering keys so min/max file stats become selective for them —
    * ideal for a single key or a prefix-queried key hierarchy. A
    * partitioned head keeps its layout and clusters WITHIN partitions. */
  def cluster(cols: Seq[String], numFiles: Int = 4): Long = {
    val parts = headPartitionBy
    val keys = (parts ++ cols).map(col)
    val clustered = read()
      .repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
    // comma-delimited key list: unambiguous for column names containing
    // underscores (cluster(Seq("a","b")) vs cluster(Seq("a_b"))), which
    // clusterIncremental relies on when matching its baseline commit
    write(clustered, s"cluster:${cols.mkString(",")}", partitionBy = parts)
  }

  /** Partition-scoped OPTIMIZE (the M5/M6 `WHERE` variant — the
    * reference runs OPTIMIZE with a partition filter,
    * performance_optimization.py:42-76): re-cluster ONLY the Hive
    * partition dirs whose partition-column values satisfy `predicate`.
    * Every other data file carries into the new version BYTE-IDENTICAL
    * via hard links (the local analogue of Delta OPTIMIZE keeping the
    * untouched add-file entries in its log — on an object store this is
    * a metadata copy, no data motion), and those files' data-skipping
    * stats rows carry forward WITHOUT re-scanning. Rewrite + stats cost
    * ∝ matched partitions, not table size — what makes a nightly
    * OPTIMIZE affordable on a 100 TB table where only yesterday's
    * partition changed.
    *
    * `predicate` may reference partition columns only (enforced before
    * any work) — that is what guarantees it selects whole dirs. A
    * logical-delete head must [[compact]] first: its version-wide
    * predicates would be materialized in the rewritten dirs but silently
    * dropped for the carried ones. No matching partition → no-op,
    * returns the unchanged head. */
  def clusterWhere(predicate: String, cols: Seq[String], numFiles: Int = 4): Long = {
    val refs = spark.sessionState.sqlParser.parseExpression(predicate)
      .references.map(_.name).toSet
    retrying("clusterWhere of") {
      val head = latestVersion.getOrElse(sys.error(s"empty table at $root"))
      val hc = commits.find(_.version == head).get
      val parts = hc.partitionBy
      require(parts.nonEmpty, s"clusterWhere needs a partitioned head at $root")
      require(refs.nonEmpty && refs.subsetOf(parts.toSet),
        s"clusterWhere predicate must reference only partition columns " +
          s"(${parts.mkString(", ")}); got ${refs.mkString(", ")}")
      require(hc.deletePredicates.isEmpty,
        s"clusterWhere on a logical-delete head of $root: compact() first " +
          "to materialize the delete predicates")
      require(!cols.exists(parts.contains),
        s"cannot cluster by partition column(s) ${cols.filter(parts.contains).mkString(", ")}")
      val dir = Paths.get(dataDir(head)).toAbsolutePath.toString
      val base = spark.read.parquet(dir)
      // whole-dir match is guaranteed by the partition-column-only rule;
      // partition pruning makes this listing a metadata-scale job
      val matchedRel = base.filter(expr(predicate))
        .select(input_file_name()).distinct()
        .collect()
        .map(r => VersionedTable.rawFsPath(r.getString(0)).stripPrefix(s"$dir/"))
        .toSet
      if (matchedRel.isEmpty) Some(head)
      else {
        val carriedRel = dataFilesRel(head).filterNot(matchedRel)
        val stage = s"$root/_staging/${java.util.UUID.randomUUID()}"
        val keys = (parts ++ cols).map(col)
        base.filter(expr(predicate))
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
          .write.mode("overwrite").partitionBy(parts: _*).parquet(s"$stage/data")
        commitWithCarry(head, stage, carriedRel, "cluster_where", parts)
      }
    }
  }

  /** Data files of a committed version, RELATIVE to its data dir (empty
    * if the version's files are gone, e.g. vacuumed). */
  private def dataFilesRel(v: Long): Vector[String] =
    Fs.dataFiles(Paths.get(dataDir(v)))

  /** Shared tail of every partial-rewrite commit ([[clusterWhere]],
    * [[append]], [[clusterIncremental]]): freshly written files are
    * already at `$stage/data`; `carriedRel` files from version `head`
    * hard-link in byte-identical (copy is the cross-device fallback)
    * with their stats rows riding forward from the head's stats table —
    * ONE stats scan over the new files only, never the carried data.
    * Commits through [[publishVersion]]; returns None if `head` moved
    * (caller re-derives its file sets against the new head and retries). */
  private def commitWithCarry(head: Long, stage: String,
      carriedRel: Seq[String], operation: String, parts: Seq[String],
      commitTs: Option[String] = None,
      stageFeed: Option[(Long, String, Seq[String]) => Unit] = None): Option[Long] = {
    import spark.implicits._
    val dir = Paths.get(dataDir(head)).toAbsolutePath.toString
    val next = head + 1
    // read the staged batch under the HEAD's read-back schema, so
    // partition-dir type inference on the batch's own values cannot give
    // the new stats a different schema than the carried rows (the require
    // below stays as the backstop for shapes a declared schema can't fix)
    val headSchema = spark.read.parquet(dir).schema
    // capture the freshly WRITTEN files before carried links join them in
    // the same dir — a feed must derive from the new rows only
    val stagedData = Paths.get(s"$stage/data").toAbsolutePath
    val newFilesAbs = Fs.dataFiles(stagedData).map(r => s"$stagedData/$r")
    val rewrittenRows =
      writeStats(s"$stage/data", s"$stage/stats_new", Some(headSchema))
    val carriedStats = spark.read.parquet(statsDir(head))
      .join(carriedRel.toDF("file"), Seq("file"), "left_semi")
      .localCheckpoint(true)
    val carriedRows = carriedStats.agg(coalesce(sum(col("cnt")), lit(0L)))
      .collect()(0).getLong(0)
    val newStats = spark.read.parquet(s"$stage/stats_new")
    // fail LOUDLY if partition-dir type inference gave the staged batch a
    // different stats schema than the head's (e.g. a string partition
    // column whose batch values are all-numeric infers int): a silent
    // unionByName coercion would mix orderings inside the min/max structs
    // and readWhere pruning on that column could drop matching files
    if (carriedRel.nonEmpty)
      require(newStats.schema == carriedStats.schema,
        s"stats schema drift on $root (partition-dir type inference?): " +
          s"staged ${newStats.schema.simpleString} vs head " +
          s"${carriedStats.schema.simpleString}")
    newStats.unionByName(carriedStats)
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/stats")
    Fs.deleteTree(Paths.get(s"$stage/stats_new"))
    carriedRel.foreach { rel =>
      val src = Paths.get(dir, rel)
      val dst = Paths.get(s"$stage/data", rel)
      Files.createDirectories(dst.getParent)
      // this carry runs OUTSIDE the commit lock: a concurrent vacuum can
      // delete the head dir mid-carry. Surface that as what it is — the
      // copy fallback below would otherwise rethrow the same
      // NoSuchFileException as an opaque crash (vacuum keeps versions
      // referenced by heads, so this only fires on a retention race)
      try Files.createLink(dst, src)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"head version $head of $root was vacuumed while its files " +
              s"were being carried into version $next ($rel); retry the " +
              "commit against the new head", e)
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst)
      }
    }
    val line = Commit(next, operation, rewrittenRows + carriedRows,
      ts = commitTs, partitionBy = parts).line
    val won = publishVersion(next, line, Some(stage),
      stageFeed.map(f => () => f(next, s"$stage/data", newFilesAbs)))
    if (won) maintainBloomIndexesIncremental(head, next, carriedRel.toSet)
    Option.when(won)(next)
  }

  /** Append-only commit (Delta `mode("append")` — the reference's Bronze
    * posture, "append-only: never update or delete",
    * docs/ARCHITECTURE.md:104-108): ONLY the incoming rows are written
    * and scanned; every head file carries into the new version
    * byte-identical via hard links with its stats row riding forward.
    * Commit cost is ∝ appended data, not table size — the 100 TB
    * ingestion path ([[write]] is a full-snapshot rewrite by contrast;
    * on an object store the links are the log's carried add-file
    * entries, a metadata copy). Schema-enforced strictly against the
    * head; CHECK constraints validate the incoming rows (the head
    * already passed at its own commit). Requires a compacted head (no
    * logical-delete predicates — carried files cannot materialize
    * version-wide predicates, the [[clusterWhere]] rule). A partitioned
    * head keeps its layout: appended rows land in their own
    * `col=value/` dirs. Empty table → plain [[write]]. Not CDC-visible
    * (the [[deleteWhere]] convention) — [[appendWithChangeFeed]] stages
    * the pure-insert feed when downstream consumers read the feed. */
  def append(df: DataFrame, operation: String = "append",
      commitTs: Option[String] = None): Long =
    appendImpl(df, operation, commitTs, stageFeed = None)

  /** [[append]] with Delta-CDF parity: an appended version's feed is its
    * own rows, all `insert` — derived from the freshly STAGED files only
    * (never a diff join against the head, never a re-execution of `df`'s
    * upstream), so the feed costs one scan of the appended data. Feed
    * and data become visible atomically, like [[writeWithChangeFeed]].
    * Empty table → all-insert v0 via [[writeWithChangeFeed]]. */
  def appendWithChangeFeed(df: DataFrame, operation: String = "append",
      commitTs: String = "2001-09-01 00:00:00"): Long =
    appendImpl(df, operation, Some(commitTs), stageFeed = Some {
      (next, stagedData, newFiles) =>
        val staged = spark.read
          .option("basePath", stagedData)
          .parquet(newFiles: _*)
          .select(df.schema.fields.toIndexedSeq
            .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        graft.ops.ChangeFeed.allInserts(staged)
          .withColumn(graft.ops.ChangeFeed.CommitVersionCol, lit(next))
          .withColumn(graft.ops.ChangeFeed.CommitTimestampCol,
            to_timestamp(lit(commitTs)))
          .write.mode("overwrite").parquet(s"$root/_changes/v=$next")
    })

  private def appendImpl(df: DataFrame, operation: String,
      commitTs: Option[String],
      stageFeed: Option[(Long, String, Seq[String]) => Unit]): Long = {
    validateConstraints(df)
    retrying("append to") {
      latestVersion match {
        case None =>
          // Bootstrap under the commit lock: two concurrent appends that
          // both observe an empty table must not both take the full-write
          // path — the loser's write() retry would commit a full SNAPSHOT
          // at v1 and silently drop the winner's appended rows from the
          // head. Holding the lock across the first write serializes only
          // the empty-table bootstrap (commit() re-enters the same lock —
          // it is reentrant for this thread); a competitor that slept here
          // re-checks and falls through to the carry path. Liveness cost,
          // accepted: the lock is held for the bootstrap's FULL write job
          // (staging + stats + constraints), so concurrent committers on
          // this table block for that job's duration — but only on the
          // v0 commit of a brand-new table, where the "full write" is the
          // first batch, not a grown table. Every subsequent commit holds
          // the lock only for the check-move-append critical section.
          VersionedTable.commitLock(root).synchronized {
            Option.when(latestVersion.isEmpty) {
              if (stageFeed.isEmpty) write(df, operation, commitTs)
              else writeWithChangeFeed(df, Seq.empty, operation,
                commitTs.getOrElse("2001-09-01 00:00:00"))
            }
          }
        case Some(head) =>
          enforceSchema(df, mergeSchema = false, overwriteSchema = false)
          val hc = commits.find(_.version == head).get
          require(hc.deletePredicates.isEmpty,
            s"append on a logical-delete head of $root: compact() first " +
              "to materialize the delete predicates")
          val parts = hc.partitionBy
          val stage = s"$root/_staging/${java.util.UUID.randomUUID()}"
          val w = df.write.mode("overwrite")
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
            .parquet(s"$stage/data")
          // an empty batch on a partitioned head stages ZERO files (the
          // dynamic-partition writer creates files per row): appending
          // nothing is a no-op, not a new version — and the schema-less
          // staged read below could not even infer a stats schema
          if (Fs.dataFiles(Paths.get(s"$stage/data")).isEmpty) {
            Fs.deleteTree(Paths.get(stage))
            Some(head)
          } else commitWithCarry(head, stage, dataFilesRel(head), operation,
            parts, commitTs, stageFeed)
      }
    }
  }

  /** Incremental clustering (M7 — liquid-clustering maintenance
    * semantics, the reference's CLUSTER BY table without the full
    * rewrite): re-cluster ONLY the files added since the last clustering
    * commit on the same keys; files already clustered at that commit
    * (identified by name against its file listing) carry byte-identical
    * with their stats. Each increment is range-compact WITHIN itself:
    * increments overlap in key range — liquid's actual layout — so
    * min/max skipping stays selective per file while the rewrite cost is
    * ∝ data appended since the last OPTIMIZE, never table size. That is
    * what makes nightly clustering affordable on a 100 TB append-mostly
    * table. No unclustered files → no-op, returns the unchanged head.
    * Any full rewrite in between (write/compact/cluster) renames every
    * file, so the next call correctly degenerates to a full re-cluster.
    * Prior-version listing comes from the filesystem and tolerates a
    * vacuumed ancestor (treated as nothing-clustered). */
  def clusterIncremental(cols: Seq[String], numFiles: Int = 4): Long = {
    require(cols.nonEmpty, "clusterIncremental needs clustering columns")
    val marker = s"cluster_inc:${cols.mkString(",")}"
    val fullMarker = s"cluster:${cols.mkString(",")}"
    // legacy underscore spellings (pre-colon-encoding commits) still count
    // as baselines — without this, the first incremental run on an
    // upgraded table would silently degenerate to a full re-cluster. New
    // commits always write the unambiguous colon form, so the underscore
    // aliasing risk (a_b vs a,b) is confined to legacy manifests.
    val legacy = Set(s"cluster_inc_${cols.mkString("_")}",
      s"cluster_${cols.mkString("_")}")
    retrying("clusterIncremental of") {
      val head = latestVersion.getOrElse(sys.error(s"empty table at $root"))
      val hc = commits.find(_.version == head).get
      val parts = hc.partitionBy
      require(hc.deletePredicates.isEmpty,
        s"clusterIncremental on a logical-delete head of $root: compact() " +
          "first to materialize the delete predicates")
      require(!cols.exists(parts.contains),
        s"cannot cluster by partition column(s) ${cols.filter(parts.contains).mkString(", ")}")
      val headFiles = dataFilesRel(head).toSet
      val clusteredRel = commits
        .filter(c => c.version <= head &&
          (c.operation == marker || c.operation == fullMarker ||
            legacy.contains(c.operation)))
        .map(_.version).maxOption
        .map(v => dataFilesRel(v).toSet & headFiles)
        .getOrElse(Set.empty[String])
      val unclustered = (headFiles -- clusteredRel).toVector.sorted
      if (unclustered.isEmpty) Some(head)
      else {
        val dir = Paths.get(dataDir(head)).toAbsolutePath.toString
        val keys = (parts ++ cols).map(col)
        // read ONLY the unclustered files (basePath keeps partition columns)
        val fresh = spark.read.option("basePath", dir)
          .parquet(unclustered.map(r => s"$dir/$r"): _*)
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
        val stage = s"$root/_staging/${java.util.UUID.randomUUID()}"
        val w = fresh.write.mode("overwrite")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w)
          .parquet(s"$stage/data")
        commitWithCarry(head, stage, clusteredRel.toVector.sorted, marker,
          parts)
      }
    }
  }

  /** OPTIMIZE ZORDER BY (M6, the real space-filling curve): rewrite the
    * head in bit-interleaved z-order so [[readWhere]] prunes files on ANY
    * clustered column alone — a lexical sort only prunes on the leading
    * one. A partitioned head keeps its layout and z-orders WITHIN each
    * partition value (Delta forbids z-ordering BY a partition column —
    * the dirs already prune it exactly). See [[ZOrder]]. */
  def clusterZOrder(cols: Seq[String], numFiles: Int = 8, bits: Int = 8): Long = {
    val parts = headPartitionBy
    require(!cols.exists(parts.contains),
      s"cannot z-order by partition column(s) ${cols.filter(parts.contains).mkString(", ")}")
    write(ZOrder.layout(read(), cols, numFiles, bits, partitionPrefix = parts),
      s"zorder_${cols.mkString("_")}", partitionBy = parts)
  }

  /** VACUUM (M4): physically delete data older than the last `keepLast`
    * commits (manifest keeps the audit trail). Reference-counted: a dir
    * is deleted only if (a) it lives under THIS table's root — a shallow
    * clone's externally located versions are never touched — and (b) no
    * kept version still references it (a deleteWhere head referencing an
    * old version's files keeps those files alive). */
  def vacuum(keepLast: Int = 1): Seq[Long] = {
    // the Delta retention-check analogue: keepLast=0 would delete the
    // HEAD's data while the manifest still lists it — an irrecoverably
    // emptied table with no error at call time
    require(keepLast >= 1, s"vacuum(keepLast=$keepLast): must keep >= 1 version")
    val all = commits
    // resolve dirs from the ONE parsed manifest — dataDir/statsDir would
    // re-read and re-parse the file per call, O(versions²) on big tables
    def dataDir(v: Long): String =
      all.find(_.version == v).flatMap(_.location).getOrElse(s"$root/v=$v")
    def statsDir(v: Long): String =
      all.find(_.version == v).flatMap(_.statsLocation)
        .getOrElse(s"$root/_stats/v=$v")
    val keep = all.map(_.version).takeRight(keepLast).toSet
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    def abs(p: String) = Paths.get(p).toAbsolutePath.toString
    val keptDataDirs = keep.map(v => abs(dataDir(v)))
    val keptStatsDirs = keep.map(v => abs(statsDir(v)))
    def deletable(dir: String, kept: Set[String]) =
      abs(dir).startsWith(rootAbs + java.io.File.separator) && !kept(abs(dir))
    val removed = all.map(_.version).filterNot(keep).filter { v =>
      deletable(dataDir(v), keptDataDirs)
    }
    removed.foreach { v =>
      Fs.deleteTree(Paths.get(dataDir(v)))
      if (deletable(statsDir(v), keptStatsDirs))
        Fs.deleteTree(Paths.get(statsDir(v)))
      // bloom indexes are per-version derivatives of the removed data
      bloomConfigs.foreach { case (c, _, _, _) =>
        Fs.deleteTree(bloomDir(c, v))
      }
    }
    // retention applies to the CHANGE FEED too (the Delta posture: CDC
    // reads beyond the retention window THROW rather than silently
    // skip): drop removed versions' feed dirs and tombstone the
    // high-water mark, so a lagging consumer — changeFeed, the shared
    // CDF batch read, or the graftSharingCdc stream — fails loudly
    // naming the gap instead of resuming across an invisible hole.
    val droppedFeeds = removed
      .filter(v => Files.isDirectory(Paths.get(s"$root/_changes/v=$v")))
    if (droppedFeeds.nonEmpty) {
      // tombstone FIRST, atomically (Fs.writeAtomic): a crash between the two steps must leave the
      // CONSERVATIVE state — mark advanced while dirs still exist, so
      // consumers refuse and a vacuum re-run finishes the deletes —
      // never deleted dirs with no mark, which would reopen the exact
      // silent hole the consumer guards close. And a torn non-atomic
      // write would NumberFormatException every consumer and every
      // future vacuum (feedVacuumedThrough parses the file).
      val prev = VersionedTable.feedVacuumedThrough(root)
      Fs.writeAtomic(Paths.get(s"$root/_changes/_vacuumed_through"),
        math.max(prev, droppedFeeds.max).toString)
      droppedFeeds.foreach(v => Fs.deleteTree(Paths.get(s"$root/_changes/v=$v")))
    }
    // crashed writers' leftover staging — but never an IN-FLIGHT writer's:
    // staging happens outside the commit lock by design, so only reclaim
    // dirs whose ENTIRE subtree is untouched for over an hour (a
    // long-running write lands parquet files under <uuid>/data/ without
    // refreshing the <uuid> dir itself)
    Fs.sweepStale(Paths.get(s"$root/_staging"), java.time.Duration.ofHours(1),
      keep = _ => false)
    removed
  }

  /** DESCRIBE DETAIL (M12): file/byte statistics of the head version
    * (recursive — a partitioned version nests files under `col=value/`). */
  def detail(): DataFrame = {
    import spark.implicits._
    val v = latestVersion.getOrElse(sys.error("empty table"))
    val dir = Paths.get(dataDir(v))
    val files = Fs.dataFiles(dir).filter(_.endsWith(".parquet"))
    Seq((root, v, files.size.toLong, files.map(f => Files.size(dir.resolve(f))).sum))
      .toDF("location", "version", "num_files", "size_bytes")
  }
}

object VersionedTable {
  /** Highest change-feed version DROPPED by [[VersionedTable.vacuum]]'s
    * feed retention at `root` (-1: nothing dropped). Static because the
    * sharing layer reads provider roots by path, without constructing a
    * table — the one definition every lagging-consumer check shares. */
  private[graft] def feedVacuumedThrough(root: String): Long = {
    val tomb = Paths.get(root, "_changes", "_vacuumed_through")
    if (Files.isRegularFile(tomb)) Files.readString(tomb).trim.toLong else -1L
  }

  // ---- the manifest format: read and written here and nowhere else ----

  /** One committed version — a manifest line. */
  private[maint] final case class Commit(
      version: Long, operation: String, rows: Long,
      ts: Option[String] = None,
      location: Option[String] = None, statsLocation: Option[String] = None,
      deletePredicates: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil) {

    /** The ONE manifest-line serializer. Every commit path writes lines;
      * the regex parser is field-order-independent, but hand-rolled copies
      * had already drifted comma conventions between sites — a new field
      * gets added here or nowhere. */
    def line: String = {
      // the ONE serializer is also the ONE validator: the regex parser
      // does no unescaping, so a '"' in any string field would break
      // the line, and strList's [^\]]* would silently truncate a list
      // element containing ']' (e.g. tags[1]) — logically deleted rows
      // would resurrect on read. Reject both at write time, loudly.
      val strFields = Seq(operation) ++ ts ++ location ++ statsLocation ++
        deletePredicates ++ partitionBy
      require(strFields.forall(s => !s.contains("\"")),
        s"manifest string fields must not contain '\"' (unescaped format): $strFields")
      // a newline/CR would SPLIT the appended line: the fragment fails the
      // version regex on every later read and bricks the table permanently
      require(strFields.forall(s => !s.exists(c => c == '\n' || c == '\r')),
        s"manifest string fields must not contain line breaks: $strFields")
      require((deletePredicates ++ partitionBy).forall(s => !s.contains("]")),
        "manifest list elements must not contain ']' (regex list parser " +
          s"would truncate): ${deletePredicates ++ partitionBy}")
      val sb = new StringBuilder(
        s"""{"version":$version,"operation":"$operation","rows":$rows""")
      ts.foreach(t => sb.append(s""","ts":"$t""""))
      location.foreach(l => sb.append(s""","location":"$l""""))
      statsLocation.foreach(l => sb.append(s""","statsLocation":"$l""""))
      if (deletePredicates.nonEmpty)
        sb.append(deletePredicates.map(p => s""""$p"""")
          .mkString(""","deletePredicates":[""", ",", "]"))
      if (partitionBy.nonEmpty)
        sb.append(partitionBy.map(c => s""""$c"""")
          .mkString(""","partitionBy":[""", ",", "]"))
      sb.append("}\n").toString
    }
  }

  private def parse(line: String): Commit = {
    // {"version":N,"operation":"...","rows":N[,"location":"...",
    //  "statsLocation":"...","ts":"...","deletePredicates":["...",...],
    //  "partitionBy":["...",...]]}
    val v = """"version":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    val op = """"operation":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1)
    val rows = """"rows":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    def str(field: String): Option[String] =
      s""""$field":"([^"]*)"""".r.findFirstMatchIn(line).map(_.group(1))
    def strList(field: String): Seq[String] =
      (s""""$field":\\[([^\\]]*)\\]""").r.findFirstMatchIn(line)
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_.split("\",\"").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq)
        .getOrElse(Seq.empty)
    Commit(v, op, rows, str("ts"), str("location"), str("statsLocation"),
      strList("deletePredicates"), strList("partitionBy"))
  }

  private def manifestPath(root: String): Path = Paths.get(root, "_manifest")

  /** The ONE manifest reader: the table's commits in order, or None when
    * `root` has no manifest (not a versioned table). A trailing fragment
    * without its '\n' is a writer that died mid-append — its commit call
    * never returned, so it is not a commit. It is skipped (with a
    * warning) rather than failing every later read of the table; the
    * next commit truncates it. */
  private def manifest(root: String): Option[Seq[Commit]] = {
    val p = manifestPath(root)
    if (!Files.isRegularFile(p)) return None
    val text = Files.readString(p)
    val end = text.lastIndexOf('\n')
    if (end < text.length - 1)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ignoring torn manifest tail at $p (a writer died mid-append): " +
          text.substring(end + 1))
    Some(if (end < 0) Seq.empty else text.substring(0, end).split('\n').toSeq.map(parse))
  }

  /** Append one serialized commit line — call only inside the table's
    * commit critical section. A torn tail left by a crashed append is
    * truncated first, so the new line never fuses with the fragment. */
  private def appendManifest(root: String, line: String): Unit = {
    val p = manifestPath(root)
    val ch = java.nio.channels.FileChannel.open(p,
      StandardOpenOption.CREATE, StandardOpenOption.READ, StandardOpenOption.WRITE)
    try {
      val size = ch.size
      val last = java.nio.ByteBuffer.allocate(1)
      if (size > 0 && ch.read(last, size - 1) == 1 && last.get(0) != '\n') {
        val bytes = Files.readAllBytes(p)
        ch.truncate(bytes.lastIndexOf('\n'.toByte) + 1L)
      }
      ch.position(ch.size)
      val buf = java.nio.ByteBuffer.wrap(line.getBytes(StandardCharsets.UTF_8))
      while (buf.hasRemaining) ch.write(buf)
    } finally ch.close()
  }

  /** Committed versions of the table at `root` (None: no manifest) — for
    * readers that address a provider root by path without constructing a
    * table (the sharing layer's committed-feed listing). */
  private[graft] def committedVersions(root: String): Option[Seq[Long]] =
    manifest(root).map(_.map(_.version))

  /** Re-anchor the data/stats `location`s of the table at `root` that
    * point under `from` onto `to`: commits record ABSOLUTE version dirs
    * (the shallow-clone contract), so a table built under a scratch dir
    * and then renamed into place must be rebased before it is published
    * (IvfIndex.deriveTwin). Locations elsewhere are left as-is; no-op
    * without a manifest. */
  private[graft] def rebaseLocations(root: String, from: String, to: String): Unit =
    manifest(root).foreach { cs =>
      def rebase(l: Option[String]) = l.map(x =>
        if (x == from || x.startsWith(s"$from/")) to + x.stripPrefix(from) else x)
      Fs.writeAtomic(manifestPath(root), cs.map(c => c.copy(
        location = rebase(c.location),
        statsLocation = rebase(c.statsLocation)).line).mkString)
    }

  /** Per-root commit locks — the stand-in for the storage layer's
    * conditional put. In-process writers serialize the tiny
    * check-rename-append critical section here (staging and data writes
    * stay fully concurrent); cross-process safety would ride the object
    * store's atomic put-if-absent at cluster scale. */
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLock(root: String): Object =
    locks.computeIfAbsent(root, _ => new Object)

  /** One key space for file names: `input_file_name()` returns a
    * percent-encoded URI while every [[graft.core.Fs.dataFiles]] listing
    * is a raw filesystem name — a partition value with a space would
    * otherwise produce stats/bloom keys (`p=a%20b/…`) that no carry
    * join or re-anchored read can match. Strip the anchor, then decode
    * %XX exactly; a literal '+' is pre-escaped so URLDecoder's
    * form-encoding quirk cannot turn it into a space. */
  private[maint] def decodedRelFile(anchorPattern: String): org.apache.spark.sql.Column =
    url_decode(regexp_replace(
      regexp_replace(input_file_name(), anchorPattern, ""), "\\+", "%2B"))

  /** Driver-side twin of [[decodedRelFile]]'s decoding for collected
    * `input_file_name()` URIs. */
  private[maint] def rawFsPath(u: String): String = {
    val p =
      if (u.startsWith("file:")) u.stripPrefix("file:").replaceFirst("^//(?=/)", "")
      else u
    java.net.URLDecoder.decode(p.replace("+", "%2B"),
      java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Signals a shape the footer fast path cannot represent exactly —
    * caught inside [[footerStats]], never escapes (the caller falls back
    * to the aggregation scan). */
  private final class FooterUnsupported extends RuntimeException

  /** Commit-time file statistics derived from the parquet FOOTERS under
    * `dataDir` — per-file row counts plus min/max for `cols` — as
    * `Some((totalRows, statsFrame))`, or `None` when any file or column
    * falls outside the exactly-representable gate (then the caller runs
    * the one-scan aggregation instead; the two outputs are identical —
    * VersionedTableSpec pins it).
    *
    * The gate admits only shapes whose chunk statistics reproduce a
    * Spark min/max EXACTLY, because stats here aren't merely advisory
    * pruning bounds — carry commits union these rows with scan-derived
    * ones, so the two paths must agree byte-for-byte:
    *  - flat files only (a partition dir carries column VALUES in its
    *    path, which footers don't know);
    *  - INT32/INT64-backed ints, longs, dates, decimals (scale-exact),
    *    MICROS/MILLIS timestamps (both TZ and NTZ), FLOAT/DOUBLE without
    *    NaN (parquet's Double.compare ordering makes NaN-bearing chunk
    *    bounds unreliable — PARQUET-1222), BOOLEAN, and UTF8 strings
    *    (unsigned-lexicographic, Spark's own binary collation order);
    *  - statistics present and, where a chunk holds no value at all,
    *    an explicit null count proving the chunk is all-null (parquet-mr
    *    silently DROPS binary stats above ~4 KB — such files fail the
    *    gate rather than mis-state a bound).
    */
  private[graft] def footerStats(spark: SparkSession, dataDir: String,
      schema: StructType, cols: Seq[String]): Option[(Long, DataFrame)] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def fail(): Nothing = throw new FooterUnsupported
    val base = Paths.get(dataDir).toAbsolutePath
    val rels = Fs.dataFiles(base)
    if (rels.isEmpty) return None
    if (rels.exists(_.contains("="))) return None // partitioned layout
    val files = rels.map(base.resolve)
    val conf = spark.sparkContext.hadoopConfiguration

    // raw chunk bounds normalized to one comparable carrier per Spark
    // type: Int / Long (timestamps as epoch micros) / Float / Double /
    // Boolean / Array[Byte]. Merging happens on the carrier with the
    // type's own order; external conversion happens once at the end.
    def unsignedBytesCmp(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      java.lang.Integer.compare(a.length, b.length)
    }
    def rawCmp(a: Any, b: Any): Int = (a, b) match {
      case (x: Int, y: Int)         => java.lang.Integer.compare(x, y)
      case (x: Long, y: Long)       => java.lang.Long.compare(x, y)
      case (x: Float, y: Float)     => java.lang.Float.compare(x, y)
      case (x: Double, y: Double)   => java.lang.Double.compare(x, y)
      case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
      case (x: Array[Byte], y: Array[Byte]) => unsignedBytesCmp(x, y)
      case _ => fail()
    }
    // micros-per-unit for an INT64 timestamp annotation (NANOS → gate)
    def tsScale(ann: LTA.TimestampLogicalTypeAnnotation): Long =
      ann.getUnit match {
        case LTA.TimeUnit.MICROS => 1L
        case LTA.TimeUnit.MILLIS => 1000L
        case _ => fail()
      }

    def chunkBounds(cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
        t: DataType): Option[(Any, Any)] = {
      val st = cc.getStatistics
      if (st == null || st.isEmpty) fail()
      if (!st.hasNonNullValue) {
        // usable only when provably all-null; otherwise stats were dropped
        if (st.isNumNullsSet && st.getNumNulls == cc.getValueCount) None
        else fail()
      } else {
        val prim = cc.getPrimitiveType
        val ann = prim.getLogicalTypeAnnotation
        val raw: (Any, Any) = (prim.getPrimitiveTypeName, t) match {
          case (INT32, ByteType | ShortType | IntegerType) =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
            (s.getMin, s.getMax)
          case (INT32, DateType) if ann.isInstanceOf[LTA.DateLogicalTypeAnnotation] =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
            (s.getMin, s.getMax)
          case (INT32, d: DecimalType)
              if ann.isInstanceOf[LTA.DecimalLogicalTypeAnnotation] &&
                ann.asInstanceOf[LTA.DecimalLogicalTypeAnnotation].getScale == d.scale =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.IntStatistics]
            (s.getMin, s.getMax)
          case (INT64, LongType) =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
            (s.getMin, s.getMax)
          case (INT64, TimestampType | TimestampNTZType)
              if ann.isInstanceOf[LTA.TimestampLogicalTypeAnnotation] =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
            val k = tsScale(ann.asInstanceOf[LTA.TimestampLogicalTypeAnnotation])
            (s.getMin * k, s.getMax * k)
          case (INT64, d: DecimalType)
              if ann.isInstanceOf[LTA.DecimalLogicalTypeAnnotation] &&
                ann.asInstanceOf[LTA.DecimalLogicalTypeAnnotation].getScale == d.scale =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
            (s.getMin, s.getMax)
          case (FLOAT, FloatType) =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.FloatStatistics]
            if (s.getMin.isNaN || s.getMax.isNaN) fail()
            (s.getMin, s.getMax)
          case (DOUBLE, DoubleType) =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.DoubleStatistics]
            if (s.getMin.isNaN || s.getMax.isNaN) fail()
            (s.getMin, s.getMax)
          case (BOOLEAN, BooleanType) =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.BooleanStatistics]
            (s.getMin, s.getMax)
          case (BINARY, StringType)
              if ann.isInstanceOf[LTA.StringLogicalTypeAnnotation] =>
            val s = st.asInstanceOf[org.apache.parquet.column.statistics.BinaryStatistics]
            (s.genericGetMin.getBytes, s.genericGetMax.getBytes)
          case _ => fail()
        }
        Some(raw)
      }
    }

    def toExternal(raw: Any, t: DataType): Any = t match {
      case ByteType    => raw.asInstanceOf[Int].toByte
      case ShortType   => raw.asInstanceOf[Int].toShort
      case DateType    =>
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(raw.asInstanceOf[Int].toLong))
      case d: DecimalType =>
        val unscaled = raw match {
          case i: Int  => java.math.BigInteger.valueOf(i.toLong)
          case l: Long => java.math.BigInteger.valueOf(l)
          case _       => fail()
        }
        new java.math.BigDecimal(unscaled, d.scale)
      case TimestampType =>
        val micros = raw.asInstanceOf[Long]
        val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
        ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
        ts
      case TimestampNTZType =>
        val micros = raw.asInstanceOf[Long]
        java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
      case StringType =>
        new String(raw.asInstanceOf[Array[Byte]], StandardCharsets.UTF_8)
      case _ => raw // Int / Long / Float / Double / Boolean carriers
    }

    try {
      val perFile = files.zip(rels).map { case (p, rel) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toUri), conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = reader.getFooter
          val blocks = footer.getBlocks.asScala.toSeq
          val cnt = blocks.map(_.getRowCount).sum
          val bounds: Seq[Option[(Any, Any)]] = cols.map { c =>
            val t = schema(c).dataType
            blocks.foldLeft(Option.empty[(Any, Any)]) { (acc, b) =>
              val cc = b.getColumns.asScala
                .find(m => m.getPath.size == 1 && m.getPath.toDotString == c)
                .getOrElse(fail())
              (acc, chunkBounds(cc, t)) match {
                case (a, None)          => a
                case (None, x)          => x
                case (Some((lo1, hi1)), Some((lo2, hi2))) =>
                  Some((if (rawCmp(lo2, lo1) < 0) lo2 else lo1,
                        if (rawCmp(hi2, hi1) > 0) hi2 else hi1))
              }
            }
          }
          val mins = bounds.zip(cols).map { case (b, c) =>
            b.map(x => toExternal(x._1, schema(c).dataType)).orNull }
          val maxs = bounds.zip(cols).map { case (b, c) =>
            b.map(x => toExternal(x._2, schema(c).dataType)).orNull }
          (cnt,
            if (cols.isEmpty) org.apache.spark.sql.Row(rel, cnt)
            else org.apache.spark.sql.Row(rel, cnt,
              org.apache.spark.sql.Row(mins: _*), org.apache.spark.sql.Row(maxs: _*)))
        } finally reader.close()
      }
      val statFields = cols.map(c => StructField(c, schema(c).dataType, nullable = true))
      val statsSchema = StructType(
        Seq(StructField("file", StringType, nullable = false),
          StructField("cnt", LongType, nullable = false)) ++
          (if (cols.isEmpty) Seq.empty
           // struct itself non-null (field values may be) — mirrors the
           // scan path's struct(min(...)) nullability exactly
           else Seq(StructField("mins", StructType(statFields), nullable = false),
             StructField("maxs", StructType(statFields), nullable = false))))
      Some((perFile.map(_._1).sum,
        spark.createDataFrame(perFile.map(_._2).asJava, statsSchema)))
    } catch {
      case _: FooterUnsupported => None
    }
  }
}

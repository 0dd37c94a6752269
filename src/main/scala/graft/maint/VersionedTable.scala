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
  * Layout: each version owns ONE uniquely named directory under the
  * root, `<root>/v<N>-<uuid>/`, holding its data files (`part-*.parquet`,
  * optionally nested under Hive-style `col=value/` partition dirs — see
  * `write(partitionBy)`), its per-file min/max statistics (`_stats/`)
  * and, when it has one, its change feed (`_changes/`). Spark's file
  * index skips the `_` dirs, so reading the directory reads the data.
  * A version is committed by creating `<root>/_log/<N>.json` with
  * [[graft.core.Fs.putIfAbsent]] — the entry names the directory, and
  * creating it is the ONLY commit point: writers stage everything first
  * (fully concurrent, no lock, in-process or across processes), the
  * first to create the entry wins, a loser deletes its own directory and
  * retries against the new head (Delta's optimistic commit of the next
  * `_delta_log/<N>.json`). A directory no entry names is invisible;
  * [[vacuum]]'s stale sweep reclaims a crashed writer's.
  *
  * An entry records its directory root-relative. A [[shallowClone]]'s
  * v0 entry records an ABSOLUTE directory in the source table — that is
  * how it shares the source head's files without copying them, exactly
  * like Delta SHALLOW CLONE's absolute-path log entries.
  */
final class VersionedTable(spark: SparkSession, root: String) {

  import VersionedTable.Commit

  /** The log as ONE operation sees it: listed and parsed once by [[log]],
    * then every lookup is in memory. Entries are immutable once created,
    * so a snapshot never goes stale for the versions it lists. */
  private final class Log(val commits: Vector[Commit]) {
    def latest: Option[Long] = commits.lastOption.map(_.version)
    def next: Long = latest.fold(0L)(_ + 1)
    def apply(v: Long): Commit = commits.find(_.version == v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v not in ${commits.map(_.version).mkString(",")} at $root"))
    /** The directory holding version `v`'s files. */
    def dir(v: Long): String = dirOf(apply(v))
  }

  private def log: Log = new Log(VersionedTable.readLog(root).getOrElse(Vector.empty))

  private def dirOf(c: Commit): String = VersionedTable.dirOf(root, c)

  /** Directory of committed version `v` — for specs that inspect or
    * forge the on-disk layout. */
  private[graft] def versionDir(v: Long): Path = Paths.get(log.dir(v))

  // names only: an entry's file name is its version, so listing the
  // versions reads no entry
  def versions: Seq[Long] = VersionedTable.entryNames(root).getOrElse(Vector.empty)

  def latestVersion: Option[Long] = versions.lastOption

  /** Whether the head carries logical-delete predicates (the
    * deletion-vector form) — [[append]] refuses such a head until
    * [[compact]] materializes the deletes; maintenance loops probe this
    * to pay the compact only when it is actually owed. */
  def headHasDeletes: Boolean =
    log.commits.lastOption.exists(_.deletePredicates.nonEmpty)

  /** Commit a new version; returns its number. `commitTs` is an optional
    * injected commit timestamp (`yyyy-MM-dd HH:mm:ss`) recorded in the
    * log entry and resolvable via [[readAsOf]] — deterministic pipelines
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

  /** Stages a version's change feed: (log the attempt derives from, the
    * version being committed, its staged directory). */
  private type FeedStager = (Log, Long, String) => Unit

  /** Schema enforcement against the head version (no-op on an empty
    * table). Strict by default: same column names and types, no drops,
    * no adds, no retypes. NB: the head schema is read back from its
    * parquet files (+ partition dirs), the stand-in for Delta's
    * log-recorded schema. */
  private def enforceSchema(lg: Log, df: DataFrame, mergeSchema: Boolean,
      overwriteSchema: Boolean): Unit = {
    if (overwriteSchema) return
    lg.commits.lastOption.foreach { head =>
      val cur = spark.read.parquet(dirOf(head)).schema
      // the head's partition columns come back through partition-dir TYPE
      // INFERENCE (a date-looking string infers DateType), so their
      // read-back type is not the written type — exempt them from the
      // retype check (presence is still enforced); the log records
      // which columns those are
      val partCols = head.partitionBy.toSet
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
    * shape: a uniquely named directory + a conditional commit). Schema
    * and constraints are checked once up front, then [[commitOnce]]
    * runs until it wins a version — a writer that lost the race retries
    * against the new head, the behavior of Delta's ConcurrentAppend
    * resolution.
    */
  private def commit(df: DataFrame, operation: String,
      stageFeed: Option[FeedStager], commitTs: Option[String] = None,
      partitionBy: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false,
      overwriteSchema: Boolean = false): Long = {
    // schema first: it's a footer-metadata check, where constraint
    // validation is a full aggregation job — and a schema-invalid df can
    // make a constraint expression fail analysis with a worse error
    enforceSchema(log, df, mergeSchema, overwriteSchema)
    validateConstraints(df)
    retrying("commit of")(commitOnce(log, df, operation, stageFeed, commitTs,
      partitionBy, mergeSchema, overwriteSchema))
  }

  /** One attempt to commit `df` as version `lg.next`: write data + stats
    * (+ feed) into a fresh version directory, then [[publishVersion]].
    * None if another writer took the version. */
  private def commitOnce(lg: Log, df: DataFrame, operation: String,
      stageFeed: Option[FeedStager], commitTs: Option[String],
      partitionBy: Seq[String], mergeSchema: Boolean,
      overwriteSchema: Boolean): Option[Long] = {
    val next = lg.next
    // Schema enforcement must see the head THIS attempt commits onto: a
    // loser's retry lands on the winner's schema, and validating only
    // once up front would let the retry silently revert a concurrent
    // mergeSchema evolution (the winner's new column dropped with no
    // error). Re-checking per attempt against the head `next` derives
    // from is the local analogue of Delta's ConcurrentWrite metadata-
    // conflict resolution: the conflicting retry FAILS instead. The
    // put-if-absent entry guarantees no commit lands on a head this
    // validation didn't see. (Yes, the first attempt re-validates what
    // the entry check already saw — but the constraint pass between
    // them is a full Spark job, ample time for a concurrent mergeSchema
    // commit to move the head; one footer read is the price of
    // validating against the head `next` actually derives from.)
    enforceSchema(lg, df, mergeSchema, overwriteSchema)
    val (name, dir) = newVersionDir(next)
    val writer = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(dir)
    // fail with the actual cause: an empty snapshot under partitionBy
    // stages no files at all (the dynamic-partition writer is per-row),
    // and this parquet stand-in has no log-recorded schema to give such
    // a version — the schema-less stats read below would otherwise die
    // with an opaque 'unable to infer schema'
    if (Fs.dataFiles(Paths.get(dir)).isEmpty) {
      Fs.deleteTree(Paths.get(dir))
      sys.error(s"commit of $root staged zero data files (empty snapshot" +
        " with partitionBy?): a readable version needs at least one" +
        " schema-bearing parquet file")
    }
    val rows = writeStats(dir, name, s"$dir/_stats")
    // the feed derives from the STAGED data, so the writer's upstream
    // pipeline is never re-executed for the diff
    stageFeed.foreach(f => f(lg, next, dir))
    // partition columns are recorded in the entry (the stand-in for
    // Delta's log schema): readers of the log know them without
    // trusting partition-dir type inference
    val won = publishVersion(Commit(next, operation, rows, name, ts = commitTs,
      feed = stageFeed.isDefined, partitionBy = partitionBy), Some(dir))
    // registered bloom indexes ride with the commit (advisory: a
    // reader between the entry and the index write just prunes less)
    if (won) maintainBloomIndexes(next, dir)
    Option.when(won)(next)
  }

  /** A fresh, uniquely named directory for a version-`next` attempt:
    * (root-relative name, path). Nothing names it until its entry is
    * created, so a lost or crashed attempt leaves only debris that
    * [[vacuum]] sweeps. */
  private def newVersionDir(next: Long): (String, String) = {
    val name = s"v$next-${java.util.UUID.randomUUID()}"
    (name, s"$root/$name")
  }

  /** The ONE commit point: create `_log/<N>.json` for `entry` if absent.
    * Everything the version owns — data, stats, change feed — is already
    * complete in its directory, so creating the entry makes all of it
    * visible at once, or none of it. Returns false if another writer
    * created the entry first; the loser's `staged` directory is deleted.
    * No lock: the put-if-absent is atomic across threads AND processes. */
  private def publishVersion(entry: Commit, staged: Option[String]): Boolean = {
    val won = Fs.putIfAbsent(VersionedTable.entryPath(root, entry.version),
      entry.json)
    if (!won) staged.foreach(d => Fs.deleteTree(Paths.get(d)))
    won
  }

  /** The ONE optimistic-concurrency retry loop: re-run `attempt` against
    * the current head until it commits (Some). Every loss means another
    * writer committed, so the table always progresses — but a slower
    * writer can lose once per commit of a faster one for as long as that
    * one keeps writing (two writer processes of 30 appends each have
    * shown 21 straight losses). The cap therefore bounds only a
    * pathological livelock, not ordinary contention. */
  private def retrying[A](what: String)(attempt: => Option[A]): A = {
    var losses = 0
    var result = attempt
    while (result.isEmpty) {
      losses += 1
      if (losses > 1000) throw new IllegalStateException(
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

  /** Per-file row counts + min/max structs of the data files in `dir`
    * (a version directory named `anchor`) → `statsOut` parquet.
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
  private def writeStats(dir: String, anchor: String, statsOut: String,
      schemaHint: Option[StructType] = None): Long = {
    // a hint pins partition-column types to the head's read-back schema:
    // partition-dir inference is value-dependent (an all-numeric batch of
    // a string partition column infers int), and stats must union with
    // the head's rows under ONE schema — see commitWithCarry
    val reader = schemaHint.fold(spark.read)(h => spark.read.schema(h))
    val written = reader.parquet(dir)
    val cols = statColumns(written.schema)
    VersionedTable.footerStats(spark, dir, written.schema, cols).foreach {
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
    // record paths RELATIVE to the version directory (readWhere
    // re-anchors on it, and carried files keep their relative paths); a
    // partitioned layout needs the `col=value/` prefix kept. The unique
    // directory name cannot reappear deeper: partition dirs always
    // contain `=`.
    val stats = written
      .groupBy(VersionedTable.decodedRelFile(anchor).as("file"))
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
    val lg = log
    val v = versionAsOf.getOrElse(
      lg.latest.getOrElse(sys.error(s"empty table at $root")))
    val residual = col(column) >= lit(lo) && col(column) <= lit(hi)
    val dir = lg.dir(v)
    val sd = s"$dir/_stats"
    if (!Files.exists(Paths.get(sd))) return readAt(lg, v).filter(residual)
    val stats = spark.read.parquet(sd)
    if (!stats.columns.contains("mins") ||
        !stats.select("mins.*").columns.contains(column))
      return readAt(lg, v).filter(residual)
    val files = stats
      .filter(col(s"maxs.$column") >= lit(lo) && col(s"mins.$column") <= lit(hi))
      .select("file").collect().map(r => s"$dir/${r.getString(0)}").toSeq
    if (files.isEmpty) readAt(lg, v).filter(residual).filter(lit(false))
    // basePath anchors partition discovery so a partitioned version's
    // `col=value` columns survive an explicit-file-subset read
    else applyDeletes(
      spark.read.option("basePath", dir).parquet(files: _*), lg(v)).filter(residual)
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
    // Re-registration REPLACES the column's config — keeping the old one
    // would rebuild the head with the new parameters but maintain all
    // future versions with the stale sizing, a silent divergence. One
    // file per column, replaced atomically: registrations of different
    // columns never touch the same file, and committers reading the
    // configs never see an empty or partial one.
    Fs.writeAtomic(bloomConfigDir.resolve(column),
      s"""{"column":"$column","bits":$bits,"hashes":$hashes,""" +
        s""""fpp_ppm":${math.round(fpp * 1000000)}}""" + "\n")
    val lg = log
    lg.latest.foreach(v => buildBloomFor(lg.dir(v), v, column, bits, hashes, fpp))
  }

  private def bloomConfigDir: Path = Paths.get(root, "_bloom_config")

  private def bloomConfigs: Seq[(String, Int, Int, Double)] = {
    if (!Files.isDirectory(bloomConfigDir)) return Seq.empty
    val s = Files.list(bloomConfigDir)
    val files = try s.iterator().asScala.toVector finally s.close()
    files.filterNot(_.getFileName.toString.startsWith(".")) // in-flight temps
      .sortBy(_.getFileName.toString)
      .map { p =>
        val line = Files.readString(p, StandardCharsets.UTF_8)
        val c = """"column":"([^"]*)"""".r.findFirstMatchIn(line).get.group(1)
        val b = """"bits":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
        val h = """"hashes":(\d+)""".r.findFirstMatchIn(line).get.group(1).toInt
        val f = """"fpp_ppm":(\d+)""".r.findFirstMatchIn(line)
          .map(_.group(1).toLong / 1000000.0).getOrElse(0.01)
        (c, b, h, f)
      }
  }

  /** Rebuild every registered bloom index for version `v` — one scan of
    * the new version per indexed column, the same "stats ride with the
    * commit" shape as [[writeStats]]. Columns absent from the snapshot
    * (schema evolution) are skipped; readFiltered then simply has no
    * index for them on this version. */
  private def maintainBloomIndexes(v: Long, dir: String): Unit = {
    val configs = bloomConfigs
    if (configs.isEmpty) return
    // one schema read per commit, not per indexed column
    val cols = spark.read.parquet(dir).columns.toSet
    configs.foreach { case (c, b, h, f) =>
      if (cols.contains(c)) buildBloomFor(dir, v, c, b, h, f)
    }
  }

  /** (Re)build version `v`'s index on `column` from its files in `dir`. */
  private def buildBloomFor(dir: String, v: Long, column: String, bits0: Int,
      hashes0: Int, fpp: Double): Unit = {
    val df = spark.read.parquet(dir)
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
    writeBloomDir(bloomRows(df, dir, column, bits, hashes), column, v)
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

  /** Per-file bloom position-set rows for `df`'s files in version
    * directory `dir` (file key relative to it, like the stats table —
    * nested partition dirs keep their col=value/ prefix). */
  private def bloomRows(df: DataFrame, dir: String, column: String,
      bits: Int, hashes: Int): DataFrame = {
    val positions = array((0 until hashes).map(i =>
      pmod(xxhash64(col(column), lit(i)), lit(bits)).cast("int")): _*)
    df
      .select(VersionedTable.decodedRelFile(Paths.get(dir).getFileName.toString).as("file"),
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
      nextDir: String, carriedRel: Set[String]): Unit = {
    import spark.implicits._
    val configs = bloomConfigs
    if (configs.isEmpty) return
    // loop invariants hoisted: one schema read + one file walk per commit,
    // not per indexed column
    val dir = Paths.get(nextDir).toAbsolutePath.toString
    val nextCols = spark.read.parquet(dir).columns.toSet
    val newRel = Fs.dataFiles(Paths.get(dir)).filterNot(carriedRel)
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
              bloomRows(newDf, dir, c, m, k).unionByName(prior
                .join(carriedRel.toSeq.toDF("file"), Seq("file"), "left_semi")),
              c, next)
            true
          } catch {
            // index writes are atomic, but a concurrent vacuum can still
            // delete the prev dir between listing and read, which fails
            // at execution time, not analysis — any failure here falls
            // back to the full rebuild from committed data, which is
            // always correct
            case scala.util.control.NonFatal(_) => false
          }
        if (!incremental()) buildBloomFor(dir, next, c, b0, h0, fpp)
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
    val lg = log
    val v = versionAsOf.getOrElse(
      lg.latest.getOrElse(sys.error(s"empty table at $root")))
    val residual = expr(predicate)
    val dir = lg.dir(v)
    val sd = s"$dir/_stats"
    if (!Files.exists(Paths.get(sd))) return readAt(lg, v).filter(residual)
    val stats = spark.read.parquet(sd)
    if (!stats.columns.contains("mins")) return readAt(lg, v).filter(residual)
    val statCols = stats.select("mins.*").schema.fields
      .map(f => f.name -> f.dataType).toMap
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
    if (files.isEmpty) readAt(lg, v).filter(residual).filter(lit(false))
    else applyDeletes(
      spark.read.option("basePath", dir).parquet(files: _*), lg(v)).filter(residual)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose v0 log entry POINTS AT the source head's data files
    * (and stats) instead of copying them — metadata-only, O(1) data
    * movement. The clone then evolves independently: its own writes land
    * under its own root. Like Delta, VACUUMing the source invalidates
    * clones that still reference the shared files ([[vacuum]] only ever
    * deletes dirs under its own root, so a clone can never delete source
    * data).
    */
  def shallowClone(destRoot: String): VersionedTable = {
    val lg = log
    val src = lg.commits.lastOption.getOrElse(sys.error(s"empty table at $root"))
    val dir = dirOf(src)
    require(Files.isDirectory(Paths.get(dir)),
      s"cannot clone version ${src.version} of $root: data was vacuumed")
    val dest = new VersionedTable(spark, destRoot)
    require(dest.versions.isEmpty, s"clone target $destRoot is not empty")
    // delete predicates travel with the clone (its v0 must read the same
    // logical rows as the source head); its stats sit in the shared dir.
    // No change feed: the source's feed belongs to the source's version.
    val claimed = dest.publishVersion(
      Commit(0L, s"clone_of:$root@v${src.version}", src.rows,
        Paths.get(dir).toAbsolutePath.toString,
        deletePredicates = src.deletePredicates,
        partitionBy = src.partitionBy), None)
    require(claimed, s"clone target $destRoot is not empty")
    // table metadata travels with the clone: CHECK constraints keep
    // enforcing on the clone's own commits (Delta CLONE copies properties)
    if (Files.exists(constraintsPath))
      Files.copy(constraintsPath, Paths.get(destRoot, "_constraints"))
    // bloom registrations too, plus the head's tiny position sets (the
    // clone's v0 reads the same files, so the index is valid as-is)
    if (Files.isDirectory(bloomConfigDir)) {
      Fs.copyTree(bloomConfigDir, dest.bloomConfigDir)
      bloomConfigs.foreach { case (c, _, _, _) =>
        carryBloomDir(bloomDir(c, src.version), dest.bloomDir(c, 0L))
      }
    }
    dest
  }

  /** Commit a new version AND its change feed (S4/M13 structural parity —
    * Delta CDF rows with `_change_type`, `_commit_version`,
    * `_commit_timestamp`). The feed for version N is derived as the
    * keyed diff against version N-1 (one key shuffle; v0 is all-insert)
    * and staged in the version's directory BEFORE its entry is created,
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
    commit(df, operation, stageFeed = Some(diffFeed(df, keyCols, commitTs)),
      commitTs = Some(commitTs), partitionBy = partitionBy,
      mergeSchema = mergeSchema, overwriteSchema = overwriteSchema)
  }

  /** [[writeWithChangeFeed]]'s feed: the keyed diff of the staged
    * snapshot against version N-1 (all-insert at v0). The basis is safe
    * without a lock: version N-1 is immutable once committed, and this
    * attempt only commits if it wins N. */
  private def diffFeed(df: DataFrame, keyCols: Seq[String],
      commitTs: String): FeedStager = { (lg, next, stagedDir) =>
    // Diff from the STAGED parquet, not `df`: the incoming snapshot was
    // just materialized by the data write, and re-using `df` here would
    // re-execute its entire upstream pipeline a second time (at 100 TB,
    // the full ingest transform) just to derive the feed. Partition-dir
    // type inference can retype partition columns on read-back, so the
    // snapshot is re-cast to df's declared schema before diffing.
    val staged = spark.read.option("basePath", stagedDir).parquet(stagedDir)
      .select(df.schema.fields.toIndexedSeq
        .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    val feed =
      if (next == 0L) graft.ops.ChangeFeed.allInserts(staged)
      else graft.ops.ChangeFeed.diff(readAt(lg, next - 1), staged, keyCols)
    writeFeed(feed, next, commitTs, stagedDir)
  }

  /** Stamp a feed with its commit version/timestamp and write it into
    * the staged version directory. */
  private def writeFeed(feed: DataFrame, next: Long, commitTs: String,
      stagedDir: String): Unit =
    feed
      .withColumn(graft.ops.ChangeFeed.CommitVersionCol, lit(next))
      .withColumn(graft.ops.ChangeFeed.CommitTimestampCol,
        to_timestamp(lit(commitTs)))
      .write.mode("overwrite").parquet(VersionedTable.feedDir(stagedDir))

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
    val dirs = VersionedTable.feeds(root, log.commits)
      .collect { case (v, d) if v >= fromVersion => d }
    require(dirs.nonEmpty, s"no change-feed versions >= $fromVersion at $root")
    // mergeSchema: a feed spanning a mergeSchema evolution would
    // otherwise pin whichever version's schema wins inference and
    // silently drop the evolved column from the other versions' rows
    spark.read.option("mergeSchema", "true").parquet(dirs: _*)
  }

  /** Time-travel read (S6): latest version, or `VERSION AS OF v`. */
  def read(versionAsOf: Option[Long] = None): DataFrame = {
    val lg = log
    readAt(lg, versionAsOf.getOrElse(
      lg.latest.getOrElse(sys.error(s"empty table at $root"))))
  }

  private def readAt(lg: Log, v: Long): DataFrame = {
    // a vacuumed version stays in the log (audit trail) but its data
    // is gone — fail with the actual cause, not a parquet path error
    def readable(c: Commit) = Files.isDirectory(Paths.get(dirOf(c)))
    require(readable(lg(v)),
      s"version $v of $root was vacuumed; earliest readable version is " +
        s"${lg.commits.filter(readable).map(_.version).minOption.getOrElse("none")}")
    applyDeletes(spark.read.parquet(lg.dir(v)), lg(v))
  }

  /** Apply a version's stored delete predicates (see [[deleteWhere]]).
    * SQL DELETE semantics: only rows where the predicate is TRUE are
    * deleted — a NULL predicate result keeps the row. */
  private def applyDeletes(df: DataFrame, c: Commit): DataFrame =
    c.deletePredicates.foldLeft(df)((d, p) => d.filter(!coalesce(expr(p), lit(false))))

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
      val base = log.commits.lastOption.getOrElse(sys.error(s"empty table at $root"))
      val v = base.version
      val next = v + 1
      val rows = applyDeletes(spark.read.parquet(dirOf(base)), base)
        .filter(!coalesce(expr(condition), lit(false))).count()
      // the new version references the head's directory as-is (no new
      // dir, no feed); the commit timestamp is recorded like write()
      // does — without it a readAsOf(ts) after the delete resolves to the
      // last ts-bearing PRE-delete version and resurrects deleted rows
      val entry = Commit(next, "delete_where", rows, base.location, ts = commitTs,
        deletePredicates = base.deletePredicates :+ condition,
        partitionBy = base.partitionBy)
      Option.when(publishVersion(entry, None)) {
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
    val lg = log
    val v = lg.commits.filter(_.ts.exists(_ <= timestamp)).map(_.version).maxOption
      .getOrElse(sys.error(
        s"no version of $root committed at or before $timestamp"))
    readAt(lg, v)
  }

  /** Metadata-only row count (Delta serves `SELECT COUNT(*)` from log
    * statistics without touching data): each log entry records its
    * commit's row count — deleteWhere commits record the post-delete
    * count — so counting any version is a log lookup, O(1) at any
    * table size. */
  def countFast(versionAsOf: Option[Long] = None): Long = {
    val lg = log
    lg(versionAsOf.orElse(lg.latest).getOrElse(sys.error(s"empty table at $root"))).rows
  }

  /** DESCRIBE HISTORY (M2). */
  def history(): DataFrame = {
    import spark.implicits._
    log.commits.map(c => (c.version, c.operation, c.rows, c.ts.orNull))
      .toDF("version", "operation", "rows", "ts")
  }

  /** RESTORE TABLE ... TO VERSION AS OF (M3): re-commits an old version
    * as the new head (history preserved, like Delta RESTORE). The
    * restored version's Hive partition layout travels with it — RESTORE
    * must not silently flatten a partitioned table. */
  def restore(version: Long): Long = {
    // restoring across a schema evolution legitimately changes the head
    // schema back — RESTORE is a protocol op, not a writer to police
    val lg = log
    write(readAt(lg, version), s"restore_v$version",
      partitionBy = lg(version).partitionBy, overwriteSchema = true)
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
    log.commits.lastOption.map(_.partitionBy).getOrElse(Seq.empty)

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
      val lg = log
      val head = lg.latest.getOrElse(sys.error(s"empty table at $root"))
      val hc = lg(head)
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
      val dir = Paths.get(dirOf(hc)).toAbsolutePath.toString
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
        val carriedRel = Fs.dataFiles(Paths.get(dir)).filterNot(matchedRel)
        val (name, stage) = newVersionDir(head + 1)
        val keys = (parts ++ cols).map(col)
        base.filter(expr(predicate))
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
          .write.mode("overwrite").partitionBy(parts: _*).parquet(stage)
        commitWithCarry(lg, name, stage, carriedRel, "cluster_where", parts)
      }
    }
  }

  /** Shared tail of every partial-rewrite commit ([[clusterWhere]],
    * [[append]], [[clusterIncremental]]) onto the head of `lg`: freshly
    * written files are already in the staged version directory `stage`
    * (named `name`); `carriedRel` files of the head hard-link in
    * byte-identical (copy is the cross-device fallback) with their stats
    * rows riding forward from the head's stats table — ONE stats scan
    * over the new files only, never the carried data. Commits through
    * [[publishVersion]]; returns None if the head moved (caller
    * re-derives its file sets against the new head and retries). */
  private def commitWithCarry(lg: Log, name: String, stage: String,
      carriedRel: Seq[String], operation: String, parts: Seq[String],
      commitTs: Option[String] = None,
      stageFeed: Option[(Long, String, Seq[String]) => Unit] = None): Option[Long] = {
    import spark.implicits._
    val head = lg.latest.get
    val dir = Paths.get(lg.dir(head)).toAbsolutePath.toString
    val next = head + 1
    // read the staged batch under the HEAD's read-back schema, so
    // partition-dir type inference on the batch's own values cannot give
    // the new stats a different schema than the carried rows (the require
    // below stays as the backstop for shapes a declared schema can't fix)
    val headSchema = spark.read.parquet(dir).schema
    // capture the freshly WRITTEN files before carried links join them in
    // the same dir — a feed must derive from the new rows only
    val stagedData = Paths.get(stage).toAbsolutePath
    val newFilesAbs = Fs.dataFiles(stagedData).map(r => s"$stagedData/$r")
    val rewrittenRows =
      writeStats(stage, name, s"$stage/_stats_new", Some(headSchema))
    val carriedStats = spark.read.parquet(s"$dir/_stats")
      .join(carriedRel.toDF("file"), Seq("file"), "left_semi")
      .localCheckpoint(true)
    val carriedRows = carriedStats.agg(coalesce(sum(col("cnt")), lit(0L)))
      .collect()(0).getLong(0)
    val newStats = spark.read.parquet(s"$stage/_stats_new")
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
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/_stats")
    Fs.deleteTree(Paths.get(s"$stage/_stats_new"))
    carriedRel.foreach { rel =>
      val src = Paths.get(dir, rel)
      val dst = Paths.get(stage, rel)
      Files.createDirectories(dst.getParent)
      // the carry runs concurrently with everything: a concurrent vacuum
      // can delete the head dir mid-carry. Surface that as what it is —
      // the copy fallback below would otherwise rethrow the same
      // NoSuchFileException as an opaque crash (vacuum keeps versions
      // referenced by heads, so this only fires on a retention race)
      try Files.createLink(dst, src)
      catch {
        case e: java.nio.file.NoSuchFileException =>
          Fs.deleteTree(stagedData)
          throw new IllegalStateException(
            s"head version $head of $root was vacuumed while its files " +
              s"were being carried into version $next ($rel); retry the " +
              "commit against the new head", e)
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst)
      }
    }
    stageFeed.foreach(f => f(next, stage, newFilesAbs))
    val won = publishVersion(Commit(next, operation, rewrittenRows + carriedRows,
      name, ts = commitTs, feed = stageFeed.isDefined, partitionBy = parts),
      Some(stage))
    if (won) maintainBloomIndexesIncremental(head, next, stage, carriedRel.toSet)
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
      (next, stagedDir, newFiles) =>
        val staged = spark.read
          .option("basePath", stagedDir)
          .parquet(newFiles: _*)
          .select(df.schema.fields.toIndexedSeq
            .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        writeFeed(graft.ops.ChangeFeed.allInserts(staged), next, commitTs, stagedDir)
    })

  private def appendImpl(df: DataFrame, operation: String,
      commitTs: Option[String],
      stageFeed: Option[(Long, String, Seq[String]) => Unit]): Long = {
    validateConstraints(df)
    retrying("append to") {
      val lg = log
      lg.commits.lastOption match {
        case None =>
          // empty table: this attempt is a full write of v0 (all-insert
          // feed when one is staged). Two appends that both see an empty
          // table cannot both land there — the loser's put-if-absent
          // fails, it returns None, and its retry takes the carry path
          // onto the winner's head, so no appended rows are dropped.
          commitOnce(lg, df, operation,
            stageFeed.map(_ => diffFeed(df, Seq.empty,
              commitTs.getOrElse("2001-09-01 00:00:00"))),
            commitTs, Seq.empty, mergeSchema = false, overwriteSchema = false)
        case Some(hc) =>
          enforceSchema(lg, df, mergeSchema = false, overwriteSchema = false)
          require(hc.deletePredicates.isEmpty,
            s"append on a logical-delete head of $root: compact() first " +
              "to materialize the delete predicates")
          val parts = hc.partitionBy
          val (name, stage) = newVersionDir(hc.version + 1)
          val w = df.write.mode("overwrite")
          (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(stage)
          // an empty batch on a partitioned head stages ZERO files (the
          // dynamic-partition writer creates files per row): appending
          // nothing is a no-op, not a new version — and the schema-less
          // staged read below could not even infer a stats schema
          if (Fs.dataFiles(Paths.get(stage)).isEmpty) {
            Fs.deleteTree(Paths.get(stage))
            Some(hc.version)
          } else commitWithCarry(lg, name, stage,
            Fs.dataFiles(Paths.get(dirOf(hc))), operation, parts, commitTs, stageFeed)
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
    retrying("clusterIncremental of") {
      val lg = log
      val head = lg.latest.getOrElse(sys.error(s"empty table at $root"))
      val hc = lg(head)
      val parts = hc.partitionBy
      require(hc.deletePredicates.isEmpty,
        s"clusterIncremental on a logical-delete head of $root: compact() " +
          "first to materialize the delete predicates")
      require(!cols.exists(parts.contains),
        s"cannot cluster by partition column(s) ${cols.filter(parts.contains).mkString(", ")}")
      def files(c: Commit) = Fs.dataFiles(Paths.get(dirOf(c)))
      val headFiles = files(hc).toSet
      val clusteredRel = lg.commits
        .filter(c => c.version <= head &&
          (c.operation == marker || c.operation == fullMarker))
        .lastOption
        .map(c => files(c).toSet & headFiles)
        .getOrElse(Set.empty[String])
      val unclustered = (headFiles -- clusteredRel).toVector.sorted
      if (unclustered.isEmpty) Some(head)
      else {
        val dir = Paths.get(dirOf(hc)).toAbsolutePath.toString
        val keys = (parts ++ cols).map(col)
        // read ONLY the unclustered files (basePath keeps partition columns)
        val fresh = spark.read.option("basePath", dir)
          .parquet(unclustered.map(r => s"$dir/$r"): _*)
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
        val (name, stage) = newVersionDir(head + 1)
        val w = fresh.write.mode("overwrite")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(stage)
        commitWithCarry(lg, name, stage, clusteredRel.toVector.sorted, marker,
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

  /** VACUUM (M4): physically delete the version directories older than
    * the last `keepLast` commits (the log keeps the audit trail). A
    * directory holds its version's data, stats and change feed, so all
    * three go together. Reference-counted: a dir is deleted only if (a)
    * it lives under THIS table's root — a shallow clone's externally
    * located versions are never touched — and (b) no kept version still
    * references it (a deleteWhere head referencing an old version's
    * files keeps those files alive). */
  def vacuum(keepLast: Int = 1): Seq[Long] = {
    // the Delta retention-check analogue: keepLast=0 would delete the
    // HEAD's data while the log still lists it — an irrecoverably
    // emptied table with no error at call time
    require(keepLast >= 1, s"vacuum(keepLast=$keepLast): must keep >= 1 version")
    val lg = log
    val rootAbs = Paths.get(root).toAbsolutePath.normalize
    def abs(c: Commit) = Paths.get(dirOf(c)).toAbsolutePath.normalize
    val kept = lg.commits.takeRight(keepLast)
    val keptDirs = kept.map(abs).toSet
    val removed = lg.commits.dropRight(keepLast)
      .filter(c => abs(c).startsWith(rootAbs) && !keptDirs(abs(c)))
    // retention applies to the CHANGE FEED too (the Delta posture: CDC
    // reads beyond the retention window THROW rather than silently
    // skip): tombstone the high-water mark of the removed feeds, so a
    // lagging consumer — changeFeed, the shared CDF batch read, or the
    // graftSharingCdc stream — fails loudly naming the gap instead of
    // resuming across an invisible hole.
    val droppedFeeds = VersionedTable.feeds(root, removed).map(_._1)
    if (droppedFeeds.nonEmpty) {
      // tombstone FIRST, atomically (Fs.writeAtomic): a crash before the
      // deletes must leave the CONSERVATIVE state — mark advanced while
      // dirs still exist, so consumers refuse and a vacuum re-run
      // finishes the deletes — never deleted dirs with no mark, which
      // would reopen the exact silent hole the consumer guards close.
      // And a torn non-atomic write would NumberFormatException every
      // consumer and every future vacuum (feedVacuumedThrough parses it).
      val prev = VersionedTable.feedVacuumedThrough(root)
      Fs.writeAtomic(VersionedTable.feedTombstone(root),
        math.max(prev, droppedFeeds.max).toString)
    }
    removed.foreach { c =>
      Fs.deleteTree(abs(c))
      // bloom indexes are per-version derivatives of the removed data
      bloomConfigs.foreach { case (col, _, _, _) =>
        Fs.deleteTree(bloomDir(col, c.version))
      }
    }
    // crashed or losing writers' leftovers — a version dir no entry
    // names, a temp entry — but never an IN-FLIGHT writer's: only
    // reclaim what is untouched in its ENTIRE subtree for over an hour
    // (a long-running write lands parquet files deep in its dir without
    // refreshing the dir itself). `_` names are table metadata.
    val named = lg.commits.map(abs).toSet
    val stale = java.time.Duration.ofHours(1)
    Fs.sweepStale(rootAbs, stale, keep = p =>
      p.getFileName.toString.startsWith("_") || named(p.toAbsolutePath.normalize))
    Fs.sweepStale(VersionedTable.logDir(root), stale,
      keep = p => !p.getFileName.toString.startsWith("."))
    removed.map(_.version)
  }

  /** DESCRIBE DETAIL (M12): file/byte statistics of the head version
    * (recursive — a partitioned version nests files under `col=value/`). */
  def detail(): DataFrame = {
    import spark.implicits._
    val lg = log
    val v = lg.latest.getOrElse(sys.error("empty table"))
    val dir = Paths.get(lg.dir(v))
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
    val tomb = feedTombstone(root)
    if (Files.isRegularFile(tomb)) Files.readString(tomb).trim.toLong else -1L
  }

  private def feedTombstone(root: String): Path =
    Paths.get(root, "_feed_vacuumed_through")

  /** The change-feed directory inside a version directory. */
  private def feedDir(versionDir: String): String = s"$versionDir/_changes"

  /** (version, feed dir) of every entry in `cs` that staged a change feed
    * whose directory still exists, in version order. */
  private def feeds(root: String, cs: Seq[Commit]): Seq[(Long, String)] =
    cs.filter(_.feed).map(c => c.version -> feedDir(dirOf(root, c)))
      .filter(f => Files.isDirectory(Paths.get(f._2)))

  /** Committed change-feed versions of the table at `root` with their
    * feed dirs (None: no log, not a versioned table) — for readers that
    * address a provider root by path without constructing a table (the
    * sharing layer). A directory no entry names is never listed. */
  private[graft] def committedFeeds(root: String): Option[Seq[(Long, String)]] =
    readLog(root).map(feeds(root, _))

  /** The table's change feed as an unbounded file-stream source (the
    * Delta-CDF `readStream` shape), with the schema merged across all
    * committed feed versions (a mergeSchema commit adds columns to later
    * feeds; footer-only work). Caveat: the stream's glob trails the raw
    * version directories, so a feed staged by a writer that has not (or
    * never) created its entry can enter a micro-batch — consumers that
    * may race a writer use the log-driven sharing paths instead. */
  private[graft] def feedStream(spark: SparkSession, root: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val committed = committedFeeds(root).getOrElse(Nil).map(_._2)
    require(committed.nonEmpty, s"no committed change feed at $root")
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(committed: _*).schema
    spark.readStream.schema(schema).options(options).parquet(feedDir(s"$root/*"))
  }

  // ---- the log format: read and written here and nowhere else ----

  /** One committed version — one `_log/<N>.json` entry. `location` is
    * the directory holding the version's files: root-relative, or
    * absolute for a shallow clone's shared v0. `feed`: the version
    * staged its own change feed in that directory. */
  private[maint] final case class Commit(
      version: Long, operation: String, rows: Long, location: String,
      ts: Option[String] = None,
      feed: Boolean = false,
      deletePredicates: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil) {

    /** The ONE entry serializer. Every commit path writes entries; the
      * regex parser is field-order-independent, but hand-rolled copies
      * had already drifted comma conventions between sites — a new field
      * gets added here or nowhere. */
    def json: String = {
      // the ONE serializer is also the ONE validator: the regex parser
      // does no unescaping, so a '"' in any string field would break
      // the entry, and strList's [^\]]* would silently truncate a list
      // element containing ']' (e.g. tags[1]) — logically deleted rows
      // would resurrect on read. A raw line break is not valid inside a
      // JSON string either. Reject all three at write time, loudly.
      val strFields = Seq(operation, location) ++ ts ++ deletePredicates ++ partitionBy
      require(strFields.forall(s => !s.contains("\"")),
        s"log string fields must not contain '\"' (unescaped format): $strFields")
      require(strFields.forall(s => !s.exists(c => c == '\n' || c == '\r')),
        s"log string fields must not contain line breaks: $strFields")
      require((deletePredicates ++ partitionBy).forall(s => !s.contains("]")),
        "log list elements must not contain ']' (regex list parser " +
          s"would truncate): ${deletePredicates ++ partitionBy}")
      val sb = new StringBuilder(
        s"""{"version":$version,"operation":"$operation","rows":$rows""")
      sb.append(s""","location":"$location"""")
      ts.foreach(t => sb.append(s""","ts":"$t""""))
      if (feed) sb.append(""","feed":true""")
      if (deletePredicates.nonEmpty)
        sb.append(deletePredicates.map(p => s""""$p"""")
          .mkString(""","deletePredicates":[""", ",", "]"))
      if (partitionBy.nonEmpty)
        sb.append(partitionBy.map(c => s""""$c"""")
          .mkString(""","partitionBy":[""", ",", "]"))
      sb.append("}\n").toString
    }
  }

  private def parse(entry: String): Commit = {
    // {"version":N,"operation":"...","rows":N,"location":"..."[,"ts":"...",
    //  "feed":true,"deletePredicates":["...",...],"partitionBy":["...",...]]}
    def str(field: String): Option[String] =
      s""""$field":"([^"]*)"""".r.findFirstMatchIn(entry).map(_.group(1))
    def num(field: String): Long =
      s""""$field":(\\d+)""".r.findFirstMatchIn(entry).get.group(1).toLong
    def strList(field: String): Seq[String] =
      (s""""$field":\\[([^\\]]*)\\]""").r.findFirstMatchIn(entry)
        .map(_.group(1)).filter(_.nonEmpty)
        .map(_.split("\",\"").map(_.stripPrefix("\"").stripSuffix("\"")).toSeq)
        .getOrElse(Seq.empty)
    Commit(num("version"), str("operation").get, num("rows"), str("location").get,
      str("ts"), entry.contains(""""feed":true"""),
      strList("deletePredicates"), strList("partitionBy"))
  }

  private def logDir(root: String): Path = Paths.get(root, "_log")

  private def entryPath(root: String, v: Long): Path = logDir(root).resolve(s"$v.json")

  private val EntryName = """(\d+)\.json""".r

  /** The ONE log reader: the table's entries in version order, or None
    * when `root` has no log (not a versioned table). Only complete
    * entries exist under an entry name (put-if-absent links a fully
    * written temp), so there is no torn state to handle; a crashed
    * writer's `.`-prefixed temp never matches the name. */
  private def readLog(root: String): Option[Vector[Commit]] =
    entryNames(root).map(_.map(v =>
      parse(Files.readString(entryPath(root, v)))))

  /** Committed versions, ascending, from the entry NAMES alone (None: no
    * log). */
  private def entryNames(root: String): Option[Vector[Long]] = {
    val dir = logDir(root)
    if (!Files.isDirectory(dir)) return None
    val s = Files.list(dir)
    try Some(s.iterator().asScala.map(_.getFileName.toString)
      .collect { case EntryName(v) => v.toLong }.toVector.sorted)
    finally s.close()
  }

  /** The directory of `c`'s files: its location, resolved against `root`
    * unless absolute (a shallow clone's). */
  private def dirOf(root: String, c: Commit): String =
    if (Paths.get(c.location).isAbsolute) c.location else s"$root/${c.location}"

  /** One key space for file names, relative to the version directory
    * named `anchorDir`: `input_file_name()` returns a
    * percent-encoded URI while every [[graft.core.Fs.dataFiles]] listing
    * is a raw filesystem name — a partition value with a space would
    * otherwise produce stats/bloom keys (`p=a%20b/…`) that no carry
    * join or re-anchored read can match. Strip the anchor, then decode
    * %XX exactly; a literal '+' is pre-escaped so URLDecoder's
    * form-encoding quirk cannot turn it into a space. */
  private[maint] def decodedRelFile(anchorDir: String): org.apache.spark.sql.Column =
    url_decode(regexp_replace(
      regexp_replace(input_file_name(),
        s"^.*/${java.util.regex.Pattern.quote(anchorDir)}/", ""), "\\+", "%2B"))

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

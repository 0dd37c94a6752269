package graft.maint

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  * `write(partitionBy)`), the position sets of its registered bloom
  * indexes (`_bloomsets/<column>`) and, when it has one, its change feed
  * (`_changes/`). Spark's file index skips the `_` dirs, so reading the
  * directory reads the data. A version is committed by creating
  * `<root>/_log/<N>.json` with [[graft.core.Fs.putIfAbsent]] — the entry
  * names the directory and lists its data files with their row counts
  * and per-column min/max, and creating it is the ONLY commit point:
  * writers stage everything first (fully concurrent, no lock,
  * in-process or across processes), the first to create the entry wins,
  * a loser retries against the new head (Delta's optimistic commit of
  * the next `_delta_log/<N>.json`). A directory no entry names is
  * invisible; [[vacuum]]'s stale sweep reclaims a crashed writer's.
  *
  * Data skipping ([[readWhere]], [[readFiltered]]) decides which files to
  * read on the driver, from the entry's file records and the version's
  * position sets — the Delta shape of per-file stats in the log replayed
  * into a snapshot — so pruning starts no Spark job.
  *
  * An entry records its directory root-relative, and its files relative
  * to that directory. A [[shallowClone]]'s v0 entry records an ABSOLUTE
  * directory in the source table — that is how it shares the source
  * head's files without copying them, exactly like Delta SHALLOW CLONE's
  * absolute-path log entries.
  */
final class VersionedTable(spark: SparkSession, root: String) {

  import VersionedTable.{BloomSets, Commit, DataFile, FileList}

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
    commit(df, operation, commitTs, feed = None, append = false, partitionBy,
      mergeSchema, overwriteSchema)

  /** Stages a version's change feed: (log the attempt derives from, the
    * version being committed, the stage holding its new files). */
  private type FeedStager = (Log, Long, Stage) => Unit

  /** Schema enforcement against the head version (no-op on an empty
    * table). Strict by default: same column names and types, no drops,
    * no adds, no retypes. NB: the head schema is read back from its
    * parquet files (+ partition dirs), the stand-in for Delta's
    * log-recorded schema. Returns that read-back schema (None: empty
    * table, or `overwriteSchema`, which checks nothing). */
  private def enforceSchema(lg: Log, df: DataFrame, mergeSchema: Boolean,
      overwriteSchema: Boolean): Option[StructType] = {
    if (overwriteSchema) return None
    lg.commits.lastOption.map { head =>
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
      cur
    }
  }

  /** The commit path of full writes ([[write]], [[writeWithChangeFeed]])
    * and appends ([[append]], [[appendWithChangeFeed]]), with optimistic
    * concurrency (the Delta protocol's shape: a uniquely named directory
    * + a conditional commit). Schema and constraints are checked once up
    * front; the batch is then written ONCE into a [[Stage]], and each
    * attempt commits it as the next version through [[publishStage]]. A
    * writer that lost the race retries against the new head (Delta's
    * ConcurrentAppend resolution), redoing only what depends on that
    * head: the schema check, an append's carried files with their
    * records and position sets, the version-stamped feed and the entry.
    * Only an append whose head changed partition layout re-stages.
    */
  private def commit(df: DataFrame, operation: String, commitTs: Option[String],
      feed: Option[FeedStager], append: Boolean, partitionBy: Seq[String] = Nil,
      mergeSchema: Boolean = false, overwriteSchema: Boolean = false): Long = {
    // schema first: it's a footer-metadata check, where constraint
    // validation is a full aggregation job — and a schema-invalid df can
    // make a constraint expression fail analysis with a worse error
    val first = log
    var checked = first.latest
    var headSchema = enforceSchema(first, df, mergeSchema, overwriteSchema)
    validateConstraints(df)
    var stage = Option.empty[Stage]
    try retrying(if (append) "append to" else "commit of") {
      val lg = log
      // Schema enforcement must see the head THIS attempt commits onto: a
      // loser's retry lands on the winner's schema, and validating only
      // once up front would let the retry silently revert a concurrent
      // mergeSchema evolution (the winner's new column dropped with no
      // error). Re-checking against every head the check has not seen is
      // the local analogue of Delta's ConcurrentWrite metadata-conflict
      // resolution: the conflicting retry FAILS instead. The put-if-absent
      // entry guarantees no commit lands on a head this validation didn't
      // see.
      if (lg.latest != checked) {
        headSchema = enforceSchema(lg, df, mergeSchema, overwriteSchema)
        checked = lg.latest
      }
      val head = lg.commits.lastOption
      if (append) head.foreach(hc => require(hc.deletePredicates.isEmpty,
        s"append on a logical-delete head of $root: compact() first " +
          "to materialize the delete predicates"))
      // an append keeps the head's layout: appended rows land in their
      // own `col=value/` dirs
      val parts = if (append) head.fold(Seq.empty[String])(_.partitionBy) else partitionBy
      stage = stage.filter(_.parts == parts) match {
        case Some(s) => s.moveTo(lg.next); Some(s)
        case None =>
          stage.foreach(_.delete())
          Some(new Stage(lg.next, df, parts, if (append) headSchema else None))
      }
      val s = stage.get
      if (s.newFiles.nonEmpty)
        publishStage(lg, s,
          if (append) head.fold(Vector.empty[String])(h => Fs.dataFiles(Paths.get(dirOf(h))))
          else Vector.empty,
          operation, commitTs, feed)
      else {
        // an empty snapshot under partitionBy stages ZERO files (the
        // dynamic-partition writer creates files per row): appending
        // nothing is a no-op, not a new version; a full write has no
        // log-recorded schema to give such a version, so fail with the
        // actual cause
        s.delete()
        stage = None
        if (append && head.isDefined) head.map(_.version)
        else sys.error(s"commit of $root staged zero data files (empty " +
          "snapshot with partitionBy?): a readable version needs at least " +
          "one schema-bearing parquet file")
      }
    } catch {
      case NonFatal(e) => stage.foreach(_.delete()); throw e
    }
  }

  /** A batch of freshly written data files in a staged version directory
    * (named for the version it targets), with what derives from those
    * files alone — their records, their bloom sizing statistic and
    * position sets — computed at most once, however many commit attempts
    * the batch takes. `schema` is the batch's read-back schema: the
    * head's for a carry (the new records then share the carried records'
    * stat types), else partition-dir inference for a partitioned layout,
    * else the rows' own. Nothing names the directory until an entry
    * does, so a crashed attempt leaves only debris that [[vacuum]]
    * sweeps. */
  private final class Stage(next: Long, rows: DataFrame, val parts: Seq[String],
      schemaHint: Option[StructType]) {
    private val id = java.util.UUID.randomUUID()
    var name = s"v$next-$id"
    def dir: String = s"$root/$name"
    locally {
      val w = rows.write.mode("overwrite")
      (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(dir)
    }
    val newFiles: Vector[String] = Fs.dataFiles(Paths.get(dir))
    lazy val schema: StructType = schemaHint.getOrElse(
      if (parts.isEmpty) rows.schema else spark.read.parquet(dir).schema)
    // derived before any carried file joins the batch in the directory
    val files: FileList =
      if (newFiles.isEmpty) FileList(Nil, Vector.empty) else fileStats(dir, schema)

    /** The batch's rows, read back from its files. */
    def frame: DataFrame = spark.read.schema(schema).option("basePath", dir)
      .parquet(newFiles.map(f => s"$dir/$f"): _*)

    private val densest = mutable.Map.empty[String, Option[Long]]
    private val sets = mutable.Map.empty[(String, Int, Int), Map[String, Seq[Int]]]
    def densestOf(c: String): Option[Long] =
      densest.getOrElseUpdate(c, densestDistinct(frame, c))
    def setsOf(c: String, bits: Int, hashes: Int): Map[String, Seq[Int]] =
      sets.getOrElseUpdate((c, bits, hashes), positions(frame, dir, c, bits, hashes))

    /** Re-target the batch at version `next` after a lost commit. */
    def moveTo(next: Long): Unit = {
      val to = s"v$next-$id"
      if (to != name) {
        Fs.moveAtomic(Paths.get(dir), Paths.get(root, to))
        name = to
      }
    }

    def delete(): Unit = Fs.deleteTree(Paths.get(dir))
  }

  /** The ONE commit tail: commit `stage` as version `lg.next`. The
    * head's `carriedRel` files hard-link in byte-identical (copy is the
    * cross-device fallback — on an object store the links are the log's
    * carried add-file entries, a metadata copy), their records taken from
    * the head's entry and their bloom position sets from the head's
    * sidecars, so carried data is never scanned. Then the registered
    * bloom indexes' sidecars and the feed are staged, and the entry is
    * created through [[publishVersion]]. A lost commit returns None and
    * leaves the stage holding only its batch. */
  private def publishStage(lg: Log, stage: Stage, carriedRel: Seq[String],
      operation: String, commitTs: Option[String],
      feed: Option[FeedStager]): Option[Long] = {
    val head = lg.commits.lastOption
    val next = lg.next
    val dir = stage.dir
    val carried = carriedRel.toSet
    head.filter(_ => carriedRel.nonEmpty).foreach { hc =>
      val src = Paths.get(dirOf(hc)).toAbsolutePath
      carriedRel.foreach { rel =>
        val dst = Paths.get(dir, rel)
        Files.createDirectories(dst.getParent)
        // the carry runs concurrently with everything: a concurrent vacuum
        // can delete the head dir mid-carry. Surface that as what it is —
        // the copy fallback below would otherwise rethrow the same
        // NoSuchFileException as an opaque crash (vacuum keeps versions
        // referenced by heads, so this only fires on a retention race)
        try Files.createLink(dst, src.resolve(rel))
        catch {
          case e: java.nio.file.NoSuchFileException =>
            stage.delete()
            throw new IllegalStateException(
              s"head version ${hc.version} of $root was vacuumed while its " +
                s"files were being carried into version $next ($rel); retry " +
                "the commit against the new head", e)
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            Files.copy(src.resolve(rel), dst)
        }
      }
    }
    // carried records come from the head's entry when it lists them all
    // under the batch's stat columns; otherwise (an entry written before
    // entries listed files) the staged directory's are derived afresh
    val files =
      if (carriedRel.isEmpty) stage.files
      else head.flatMap(_.files).filter(_.columns == stage.files.columns)
        .map(_.files.filter(f => carried(f.path))).filter(_.size == carried.size)
        .fold(fileStats(dir, stage.schema))(fs => stage.files.copy(files = stage.files.files ++ fs))
    // Registered bloom indexes ride with the commit. Carried files keep
    // their position sets from the head's sidecar, and only the batch is
    // hashed — index upkeep ∝ new data, the carry's own cost story. The
    // carried sets are only valid under the SAME (bits, hashes), so the
    // auto-sized path keeps the head's sizing only while the batch's
    // densest distinct count fits its capacity (n* = m·ln2/k); a batch
    // that outgrows it (rare — capacity grows with the densest file ever
    // seen) rebuilds the whole version, the behavior an auto-sized index
    // must have (a saturated filter prunes nothing). A version without
    // carried files sizes its own.
    bloomConfigs.foreach { case (c, bits, hashes, fpp) =>
      if (stage.schema.fieldNames.contains(c)) {
        head.filter(_ => carriedRel.nonEmpty).flatMap(h => readBloomSets(dirOf(h), c))
          .filter { p =>
            if (bits > 0 && hashes > 0) (p.bits, p.hashes) == ((bits, hashes))
            else bits == 0 && stage.densestOf(c)
              .forall(_ <= math.floor(p.bits * math.log(2) / p.hashes).toLong)
          }
          .map(p => p.copy(files =
            stage.setsOf(c, p.bits, p.hashes) ++ p.files.filter(f => carried(f._1))))
          .orElse(buildBloom(dir, stage.schema, c, bits, hashes, fpp))
          .foreach(writeBloomSets(dir, c, _))
      }
    }
    // the feed derives from the STAGED batch, so the writer's upstream
    // pipeline is never re-executed for it
    feed.foreach(f => f(lg, next, stage))
    // partition columns are recorded in the entry (the stand-in for
    // Delta's log schema): readers of the log know them without
    // trusting partition-dir type inference
    val won = publishVersion(Commit(next, operation, files.files.map(_.rows).sum,
      stage.name, ts = commitTs, feed = feed.isDefined, partitionBy = stage.parts,
      files = Some(files)))
    if (!won) {
      carriedRel.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      Fs.deleteTree(Paths.get(VersionedTable.feedDir(dir)))
      Fs.deleteTree(bloomSetsDir(dir))
    }
    Option.when(won)(next)
  }

  /** The ONE commit point: create `_log/<N>.json` for `entry` if absent.
    * Everything the version owns — data, position sets, change feed — is
    * already complete in its directory, so creating the entry makes all
    * of it visible at once, or none of it. Returns false if another
    * writer created the entry first. No lock: the put-if-absent is atomic
    * across threads AND processes. */
  private def publishVersion(entry: Commit): Boolean =
    Fs.putIfAbsent(VersionedTable.entryPath(root, entry.version), entry.json)

  /** The ONE optimistic-concurrency retry loop: re-run `attempt` against
    * the current head until it commits (Some). Every loss means another
    * writer committed, so the table always progresses — but a slower
    * writer can lose once per commit of a faster one for as long as that
    * one keeps writing, so an attempt after a loss redoes only what
    * depends on the head. The cap bounds only a pathological livelock,
    * not ordinary contention. */
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

  /** Per-file records of the data files in directory `dir` read under
    * `schema` — row count plus min/max of every stat column — for a
    * version's entry: one record per data file, the Delta log's add-file
    * stats. Paths are relative to `dir` (a partitioned layout keeps its
    * `col=value/` prefix), so a carried file keeps its record.
    *
    * Fast path: stats come from the parquet FOOTERS the data write just
    * produced (row counts and per-chunk min/max are written by the
    * encoder itself), so deriving them is an O(files) metadata read on
    * the driver with no Spark job and no second data scan — the local
    * analogue of Delta collecting stats inside the writer. The footer
    * path is gated to exactly-representable column shapes
    * ([[VersionedTable.footerStats]]); anything else — partition dirs,
    * INT96 timestamps, NaN-bearing float chunks, absent or oversized
    * binary stats — falls back to one aggregation scan collected to the
    * driver, whose output is identical (VersionedTableSpec pins
    * footer == scan on a mixed-type table). */
  private def fileStats(dir: String, schema: StructType): FileList = {
    val cols = statColumns(schema)
    val files = VersionedTable.footerStats(spark, dir, schema, cols).getOrElse {
      val aggs = count(lit(1L)) +: cols.flatMap(c => Seq(min(col(c)), max(col(c))))
      // the unique directory name cannot reappear deeper: partition dirs
      // always contain `=`
      spark.read.schema(schema).parquet(dir)
        .groupBy(VersionedTable.decodedRelFile(Paths.get(dir).getFileName.toString))
        .agg(aggs.head, aggs.tail: _*)
        .collect().toVector.map { r =>
          def bounds(at: Int) = cols.indices.collect {
            case i if !r.isNullAt(at + 2 * i) => cols(i) -> r.get(at + 2 * i)
          }.toMap
          DataFile(r.getString(0), r.getLong(1), bounds(2), bounds(3))
        }
    }
    FileList(cols.map(c => c -> schema(c).dataType), files)
  }

  /** Data-skipping read (the Delta stats-pruned scan): keep only the files
    * whose `[min,max]` range for `column` intersects `[lo, hi]`, then apply
    * the residual row filter. After [[cluster]] on `column` this touches a
    * small fraction of the files; correctness never depends on the stats
    * (an entry without file stats for `column` falls back to the full
    * scan + filter).
    */
  def readWhere(column: String, lo: Any, hi: Any,
      versionAsOf: Option[Long] = None): DataFrame = {
    val lg = log
    val v = versionAsOf.getOrElse(
      lg.latest.getOrElse(sys.error(s"empty table at $root")))
    val files = survivors(lg(v), Nil) { types =>
      Option.when(types.contains(column))(
        col(s"maxs.$column") >= lit(lo) && col(s"mins.$column") <= lit(hi))
    }
    readFiles(lg, v, files).filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** Data skipping on the driver: the files of `c` (relative to its
    * directory) that `survive` keeps. `survive` is a condition over a
    * stats row — `file`, `mins.*`, `maxs.*`, and one `__bloom_<column>`
    * position set per entry of `blooms` (NULL for a file the index does
    * not cover) — and is evaluated on a LOCAL frame of the entry's file
    * records, so deciding which files to read starts no Spark job. It
    * receives the stat columns' types and may decline (None). None: read
    * every file — the entry lists no file stats (written before entries
    * carried them), or `survive` declined. */
  private def survivors(c: Commit, blooms: Seq[(String, BloomSets)])(
      survive: Map[String, DataType] => Option[Column]): Option[Seq[String]] =
    c.files.filter(_.columns.nonEmpty).flatMap { fl =>
      survive(fl.columns.toMap).map { keep =>
        val bounds = StructType(fl.columns.map { case (n, t) => StructField(n, t) })
        val schema = StructType(Seq(StructField("file", StringType),
          StructField("mins", bounds), StructField("maxs", bounds)) ++
          blooms.map(b => StructField(s"__bloom_${b._1}", ArrayType(IntegerType))))
        val rows = fl.files.map { f =>
          def row(m: Map[String, Any]) = Row.fromSeq(fl.columns.map(x => m.getOrElse(x._1, null)))
          Row.fromSeq(Seq(f.path, row(f.min), row(f.max)) ++
            blooms.map(_._2.files.get(f.path).orNull))
        }
        spark.createDataFrame(rows.asJava, schema).filter(keep)
          .select("file").collect().map(_.getString(0)).toSeq
      }
    }

  /** Version `v`'s rows from `files` only (relative to its directory;
    * None: every file). basePath anchors partition discovery so a
    * partitioned version's `col=value` columns survive an explicit-file
    * subset read. */
  private def readFiles(lg: Log, v: Long, files: Option[Seq[String]]): DataFrame =
    files match {
      case Some(fs) if fs.nonEmpty =>
        val dir = readableDir(lg, v)
        applyDeletes(spark.read.option("basePath", dir)
          .parquet(fs.map(f => s"$dir/$f"): _*), lg(v))
      case Some(_) => readAt(lg, v).filter(lit(false))
      case None => readAt(lg, v)
    }

  /** Build a per-file BLOOM FILTER INDEX on `column` for the head version
    * (Delta `CREATE BLOOMFILTER INDEX` parity): k hash positions per value
    * (xxhash64 seeded by the probe number, mod m bits), stored as a sorted
    * position set per file in a sidecar of the version's own directory
    * (`_bloomsets/<column>`). [[readFiltered]] then consults it for
    * equality/IN predicates — the pruning tool for point lookups on a
    * HIGH-CARDINALITY column the table is NOT clustered by, where every
    * file's min/max range spans the whole key space and stats skipping
    * keeps everything. False positives only cost an extra file scan; a
    * missing index costs nothing (stats-only pruning).
    *
    * Sizing: by default AUTO — per version, the build measures the
    * largest per-file distinct count n and solves the textbook
    * m = -n·ln(fpp)/ln(2)², k = (m/n)·ln 2 for the target false-positive
    * rate (1% default), so the index stays selective as the table grows
    * (a fixed m saturates: at kn/m ≫ 1 every probe hits and nothing
    * prunes). Pass explicit `bits`/`hashes` to pin the size instead.
    * The index is an array of set positions per file, so storage is
    * O(k·distinct), not O(m), and the probe is an `array_contains`
    * evaluated on the driver — never a data scan. */
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
    log.commits.lastOption.foreach { hc =>
      val dir = dirOf(hc)
      val schema = spark.read.parquet(dir).schema
      require(schema.fieldNames.contains(column), s"no column $column to index")
      buildBloom(dir, schema, column, bits, hashes, fpp) match {
        case Some(sets) => writeBloomSets(dir, column, sets)
        case None => Fs.deleteTree(bloomSetsPath(dir, column))
      }
    }
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

  /** Position sets of `column` over every data file in version directory
    * `dir`, read under `schema`, sized per the registration: pinned
    * `bits0`/`hashes0`, or auto-sized from the densest file of THIS
    * version. None when auto-sizing finds no rows (an empty version has
    * no max — nothing to index). */
  private def buildBloom(dir: String, schema: StructType, column: String,
      bits0: Int, hashes0: Int, fpp: Double): Option[BloomSets] = {
    val df = spark.read.schema(schema).parquet(dir)
    val sizing =
      if (bits0 > 0 && hashes0 > 0) Some((bits0, hashes0))
      else densestDistinct(df, column).map { dense =>
        val n = math.max(1L, dense)
        val ln2 = math.log(2)
        val m = math.max(64, math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toInt)
        (m, math.min(8, math.max(1, math.round(m.toDouble / n * ln2).toInt)))
      }
    // probe literals must hash as THIS type — record it with the sets
    sizing.map { case (m, k) => BloomSets(m, k, schema(column).dataType.catalogString,
      positions(df, dir, column, m, k)) }
  }

  /** Densest per-file distinct count of `column` over `df` — the sizing
    * statistic shared by [[buildBloom]]'s auto-sizer and the carry
    * commit's adequacy check (one definition, so they cannot
    * de-synchronize). None = no rows. */
  private def densestDistinct(df: DataFrame, column: String): Option[Long] = {
    val row = df
      .groupBy(input_file_name()).agg(countDistinct(col(column)).as("n"))
      .agg(max(col("n"))).collect()(0)
    if (row.isNullAt(0)) None else Some(row.getLong(0))
  }

  /** Per-file sorted position sets of `column` over `df`'s files in
    * version directory `dir` (file key relative to it, like the entry's
    * records — nested partition dirs keep their col=value/ prefix). */
  private def positions(df: DataFrame, dir: String, column: String,
      bits: Int, hashes: Int): Map[String, Seq[Int]] = {
    val pos = array((0 until hashes).map(i =>
      pmod(xxhash64(col(column), lit(i)), lit(bits)).cast("int")): _*)
    df.select(VersionedTable.decodedRelFile(Paths.get(dir).getFileName.toString)
        .as("file"), explode(pos).as("pos"))
      .groupBy("file").agg(sort_array(collect_set(col("pos"))))
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
  }

  private def bloomSetsDir(dir: String): Path = Paths.get(dir, "_bloomsets")

  private def bloomSetsPath(dir: String, column: String): Path =
    bloomSetsDir(dir).resolve(column)

  /** Sidecars are replaced atomically ([[Fs.writeAtomic]]): an index
    * built onto a committed head is visible complete or not at all. */
  private def writeBloomSets(dir: String, column: String, sets: BloomSets): Unit =
    Fs.writeAtomic(bloomSetsPath(dir, column), sets.json)

  /** `column`'s position sets in version directory `dir`, if indexed (a
    * concurrent vacuum deleting the directory reads as unindexed). */
  private def readBloomSets(dir: String, column: String): Option[BloomSets] =
    try Some(BloomSets.parse(Files.readString(bloomSetsPath(dir, column))))
    catch { case _: java.nio.file.NoSuchFileException => None }

  /** Every position-set sidecar in version directory `dir`, by column. */
  private def bloomSetsIn(dir: String): Seq[(String, BloomSets)] = {
    val d = bloomSetsDir(dir)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    val cols = try s.iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toVector.sorted // in-flight temps
    finally s.close()
    cols.flatMap(c => readBloomSets(dir, c).map(c -> _))
  }

  /** Version `v`'s file records, for specs that inspect them. */
  private[graft] def fileList(v: Long): Option[FileList] = log(v).files

  /** Version `v`'s position sets of `column`, for specs that inspect them. */
  private[graft] def bloomSets(v: Long, column: String): Option[BloomSets] =
    readBloomSets(log.dir(v), column)

  /** General predicate-pruned read — [[readWhere]]'s single-column range
    * generalized to arbitrary AND/OR/comparison/IN predicates via
    * [[StatsPruning]] (the Delta DataSkippingReader shape): the predicate
    * is compiled to a file-survival condition over the per-file min/max
    * stats and bloom position sets, only surviving files are scanned, and
    * the predicate itself is re-applied as the residual row filter.
    * Unsupported predicate shapes (NOT, IS NULL, functions, col-vs-col)
    * keep their files — pruning is only ever an optimization, never a
    * correctness dependency. */
  def readFiltered(predicate: String, versionAsOf: Option[Long] = None): DataFrame = {
    val lg = log
    val v = versionAsOf.getOrElse(
      lg.latest.getOrElse(sys.error(s"empty table at $root")))
    readFiles(lg, v, filteredFiles(lg(v), predicate)).filter(expr(predicate))
  }

  /** [[readFiltered]]'s pruning: the files of `c` that `predicate` may
    * match, judged from the entry's records and every position-set
    * sidecar of its directory. */
  private def filteredFiles(c: Commit, predicate: String): Option[Seq[String]] = {
    val blooms = bloomSetsIn(dirOf(c))
    val meta: StatsPruning.BloomMeta =
      blooms.map { case (col, b) => col -> (b.bits, b.hashes, b.colType) }.toMap
    survivors(c, blooms)(types => Some(StatsPruning.survives(spark, predicate, types, meta)))
  }

  /** [[readFiltered]]'s pruning of version `v`, for specs that count its
    * Spark jobs. */
  private[graft] def filteredFiles(predicate: String, v: Long): Option[Seq[String]] =
    filteredFiles(log(v), predicate)

  /** SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src`): a new
    * table whose v0 log entry POINTS AT the source head's data files
    * (with their records and position sets) instead of copying them — metadata-only, O(1) data
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
    // logical rows as the source head), and so do the file records; the
    // position sets sit in the shared dir. No change feed: the source's
    // feed belongs to the source's version.
    val claimed = dest.publishVersion(
      Commit(0L, s"clone_of:$root@v${src.version}", src.rows,
        Paths.get(dir).toAbsolutePath.toString,
        deletePredicates = src.deletePredicates,
        partitionBy = src.partitionBy, files = src.files))
    require(claimed, s"clone target $destRoot is not empty")
    // table metadata travels with the clone: CHECK constraints keep
    // enforcing on the clone's own commits (Delta CLONE copies properties),
    // and bloom registrations keep maintaining its indexes
    if (Files.exists(constraintsPath))
      Files.copy(constraintsPath, Paths.get(destRoot, "_constraints"))
    if (Files.isDirectory(bloomConfigDir))
      Fs.copyTree(bloomConfigDir, dest.bloomConfigDir)
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
    commit(df, operation, Some(commitTs), Some(diffFeed(df, keyCols, commitTs)),
      append = false, partitionBy, mergeSchema, overwriteSchema)
  }

  /** [[writeWithChangeFeed]]'s feed: the keyed diff of the staged
    * snapshot against version N-1 (all-insert at v0). The basis is safe
    * without a lock: version N-1 is immutable once committed, and this
    * attempt only commits if it wins N. */
  private def diffFeed(df: DataFrame, keyCols: Seq[String],
      commitTs: String): FeedStager = { (lg, next, stage) =>
    val staged = stagedRows(df, stage)
    val feed =
      if (next == 0L) graft.ops.ChangeFeed.allInserts(staged)
      else graft.ops.ChangeFeed.diff(readAt(lg, next - 1), staged, keyCols)
    writeFeed(feed, next, commitTs, stage.dir)
  }

  /** A feed's source: the STAGED batch, not `df` — the incoming rows were
    * just materialized by the data write, and re-using `df` would
    * re-execute its entire upstream pipeline a second time (at 100 TB,
    * the full ingest transform) just to derive the feed. Partition-dir
    * type inference can retype partition columns on read-back, so the
    * rows are re-cast to df's declared schema. */
  private def stagedRows(df: DataFrame, stage: Stage): DataFrame =
    stage.frame.select(df.schema.fields.toIndexedSeq
      .map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

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

  private def readAt(lg: Log, v: Long): DataFrame =
    applyDeletes(spark.read.parquet(readableDir(lg, v)), lg(v))

  /** Version `v`'s directory. A vacuumed version stays in the log (audit
    * trail) but its data is gone — fail with the actual cause, not a
    * parquet path error. */
  private def readableDir(lg: Log, v: Long): String = {
    def readable(c: Commit) = Files.isDirectory(Paths.get(dirOf(c)))
    require(readable(lg(v)),
      s"version $v of $root was vacuumed; earliest readable version is " +
        s"${lg.commits.filter(readable).map(_.version).minOption.getOrElse("none")}")
    lg.dir(v)
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
    * materializes them physically. Predicates must be deterministic. Not
    * CDC-visible — use [[writeWithChangeFeed]]
    * when downstream consumers need delete rows in the feed. */
  def deleteWhere(condition: String, commitTs: Option[String] = None): Long =
    retrying("deleteWhere of") {
      val base = log.commits.lastOption.getOrElse(sys.error(s"empty table at $root"))
      val next = base.version + 1
      val rows = applyDeletes(spark.read.parquet(dirOf(base)), base)
        .filter(!coalesce(expr(condition), lit(false))).count()
      // the new version references the head's directory as-is (no new
      // dir, no feed): the same files, so the same records and position
      // sets stay valid — deleteWhere stays O(metadata). The commit
      // timestamp is recorded like write() does — without it a
      // readAsOf(ts) after the delete resolves to the last ts-bearing
      // PRE-delete version and resurrects deleted rows
      val entry = Commit(next, "delete_where", rows, base.location, ts = commitTs,
        deletePredicates = base.deletePredicates :+ condition,
        partitionBy = base.partitionBy, files = base.files)
      Option.when(publishVersion(entry))(next)
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
    * records carry forward WITHOUT re-scanning. Rewrite + stats cost
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
        val keys = (parts ++ cols).map(col)
        val stage = new Stage(head + 1, base.filter(expr(predicate))
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*), parts, Some(base.schema))
        publishStage(lg, stage, Fs.dataFiles(Paths.get(dir)).filterNot(matchedRel),
          "cluster_where", None, None).orElse { stage.delete(); None }
      }
    }
  }

  /** Append-only commit (Delta `mode("append")` — the reference's Bronze
    * posture, "append-only: never update or delete",
    * docs/ARCHITECTURE.md:104-108): ONLY the incoming rows are written
    * and scanned; every head file carries into the new version
    * byte-identical via hard links with its record riding forward.
    * Commit cost is ∝ appended data, not table size — the 100 TB
    * ingestion path ([[write]] is a full-snapshot rewrite by contrast;
    * on an object store the links are the log's carried add-file
    * entries, a metadata copy). Schema-enforced strictly against the
    * head; CHECK constraints validate the incoming rows (the head
    * already passed at its own commit). Requires a compacted head (no
    * logical-delete predicates — carried files cannot materialize
    * version-wide predicates, the [[clusterWhere]] rule). A partitioned
    * head keeps its layout: appended rows land in their own
    * `col=value/` dirs; an empty batch commits nothing and returns the
    * head. Empty table → the batch is v0. Not CDC-visible
    * (the [[deleteWhere]] convention) — [[appendWithChangeFeed]] stages
    * the pure-insert feed when downstream consumers read the feed. */
  def append(df: DataFrame, operation: String = "append",
      commitTs: Option[String] = None): Long =
    commit(df, operation, commitTs, feed = None, append = true)

  /** [[append]] with Delta-CDF parity: an appended version's feed is its
    * own rows, all `insert` — derived from the freshly STAGED files only
    * (never a diff join against the head, never a re-execution of `df`'s
    * upstream), so the feed costs one scan of the appended data. Feed
    * and data become visible atomically, like [[writeWithChangeFeed]].
    * Empty table → an all-insert v0. */
  def appendWithChangeFeed(df: DataFrame, operation: String = "append",
      commitTs: String = "2001-09-01 00:00:00"): Long =
    commit(df, operation, Some(commitTs), append = true, feed = Some {
      (_, next, stage) =>
        writeFeed(graft.ops.ChangeFeed.allInserts(stagedRows(df, stage)), next,
          commitTs, stage.dir)
    })

  /** Incremental clustering (M7 — liquid-clustering maintenance
    * semantics, the reference's CLUSTER BY table without the full
    * rewrite): re-cluster ONLY the files added since the last clustering
    * commit on the same keys; files already clustered at that commit
    * (identified by name against its file listing) carry byte-identical
    * with their records. Each increment is range-compact WITHIN itself:
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
        // read ONLY the unclustered files, under the head's schema (basePath
        // keeps partition columns, typed as the carried records have them)
        val schema = spark.read.parquet(dir).schema
        val fresh = spark.read.schema(schema).option("basePath", dir)
          .parquet(unclustered.map(r => s"$dir/$r"): _*)
          .repartitionByRange(numFiles, keys: _*)
          .sortWithinPartitions(keys: _*)
        val stage = new Stage(head + 1, fresh, parts, Some(schema))
        publishStage(lg, stage, clusteredRel.toVector.sorted, marker, None, None)
          .orElse { stage.delete(); None }
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
    * directory holds its version's data, position sets and change feed,
    * so all three go together. Reference-counted: a dir is deleted only if (a)
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
    removed.foreach(c => Fs.deleteTree(abs(c)))
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

  /** One data file of a version: its path relative to the version
    * directory, its row count, and per stat column its min and max
    * (absent: the file holds no non-null value of that column). */
  private[graft] final case class DataFile(path: String, rows: Long,
      min: Map[String, Any], max: Map[String, Any])

  /** A version's data files with their pruning statistics; `columns` are
    * the stat columns with their types, in schema order. */
  private[graft] final case class FileList(columns: Seq[(String, DataType)],
      files: Vector[DataFile])

  /** One committed version — one `_log/<N>.json` entry. `location` is
    * the directory holding the version's files: root-relative, or
    * absolute for a shallow clone's shared v0. `feed`: the version
    * staged its own change feed in that directory. `files`: its data
    * files with their stats (None: an entry written before entries
    * listed them — readers then scan every file). */
  private[graft] final case class Commit(
      version: Long, operation: String, rows: Long, location: String,
      ts: Option[String] = None,
      feed: Boolean = false,
      deletePredicates: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      files: Option[FileList] = None) {

    /** The ONE entry serializer; [[Commit.parse]] is its inverse. One
      * line of JSON, so any string round-trips (quotes, brackets, line
      * breaks are escaped). */
    def json: String = {
      val o = Json.createObjectNode()
        .put("version", version).put("operation", operation).put("rows", rows)
        .put("location", location)
      ts.foreach(t => o.put("ts", t))
      if (feed) o.put("feed", true)
      if (deletePredicates.nonEmpty)
        deletePredicates.foldLeft(o.putArray("deletePredicates"))(_.add(_))
      if (partitionBy.nonEmpty) partitionBy.foldLeft(o.putArray("partitionBy"))(_.add(_))
      files.foreach { fl =>
        val cols = o.putObject("statColumns")
        fl.columns.foreach { case (c, t) => cols.put(c, t.catalogString) }
        val arr = o.putArray("files")
        fl.files.foreach { f =>
          val fo = arr.addObject().put("path", f.path).put("rows", f.rows)
          Seq("min" -> f.min, "max" -> f.max).foreach { case (k, bounds) =>
            val bo = fo.putObject(k)
            fl.columns.foreach { case (c, t) =>
              bounds.get(c).foreach(v => bo.replace(c, statToJson(v, t)))
            }
          }
        }
      }
      Json.writeValueAsString(o) + "\n"
    }
  }

  private[graft] object Commit {
    def parse(entry: String): Commit = {
      val n = Json.readTree(entry)
      def strs(f: String) = Option(n.get(f)).toSeq.flatMap(_.asScala.map(_.asText))
      val files = Option(n.get("files")).map { fs =>
        val cols = n.get("statColumns").properties().asScala.toSeq
          .map(e => e.getKey -> DataType.fromDDL(e.getValue.asText))
        def bounds(o: JsonNode) = cols.collect {
          case (c, t) if o.has(c) => c -> statFromJson(o.get(c), t)
        }.toMap
        FileList(cols, fs.asScala.toVector.map(f => DataFile(f.get("path").asText,
          f.get("rows").asLong, bounds(f.get("min")), bounds(f.get("max")))))
      }
      Commit(n.get("version").asLong, n.get("operation").asText, n.get("rows").asLong,
        n.get("location").asText, Option(n.get("ts")).map(_.asText),
        Option(n.get("feed")).exists(_.asBoolean), strs("deletePredicates"),
        strs("partitionBy"), files)
    }
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A stat value as JSON, exact for its type and independent of the JVM
    * time zone: integral types as numbers, floating point and decimals
    * as their exact decimal text, dates as ISO days, timestamps as ISO
    * instants, timestamp_ntz as ISO local date-times. */
  private def statToJson(v: Any, t: DataType): JsonNode = {
    val n = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
    (t, v) match {
      case (BooleanType, b: Boolean) => n.booleanNode(b)
      case (ByteType | ShortType | IntegerType | LongType, x: Number) =>
        n.numberNode(x.longValue)
      case (_: DecimalType, d: java.math.BigDecimal) => n.textNode(d.toPlainString)
      case (DateType, d: java.sql.Date) => n.textNode(d.toLocalDate.toString)
      case (TimestampType, ts: java.sql.Timestamp) => n.textNode(ts.toInstant.toString)
      case (_, x) => n.textNode(x.toString) // strings, floats, java.time values
    }
  }

  private def statFromJson(n: JsonNode, t: DataType): Any = t match {
    case BooleanType => n.booleanValue
    case ByteType => n.asLong.toByte
    case ShortType => n.asLong.toShort
    case IntegerType => n.asLong.toInt
    case LongType => n.asLong
    case FloatType => n.asText.toFloat
    case DoubleType => n.asText.toDouble
    case _: DecimalType => new java.math.BigDecimal(n.asText)
    case DateType => java.sql.Date.valueOf(java.time.LocalDate.parse(n.asText))
    case TimestampType => java.sql.Timestamp.from(java.time.Instant.parse(n.asText))
    case TimestampNTZType => java.time.LocalDateTime.parse(n.asText)
    case _ => n.asText
  }

  /** One bloom index's per-file position sets for a version directory:
    * m bits, k probes, the indexed column's catalog type (probe literals
    * hash as this type — see [[StatsPruning]]), and each indexed file's
    * sorted set positions, keyed like the entry's file records. */
  private[graft] final case class BloomSets(bits: Int, hashes: Int, colType: String,
      files: Map[String, Seq[Int]]) {
    def json: String = {
      val o = Json.createObjectNode()
        .put("bits", bits).put("hashes", hashes).put("type", colType)
      val fo = o.putObject("files")
      files.toSeq.sortBy(_._1).foreach { case (f, ps) =>
        ps.foldLeft(fo.putArray(f))(_.add(_))
      }
      Json.writeValueAsString(o)
    }
  }

  private[graft] object BloomSets {
    def parse(s: String): BloomSets = {
      val n = Json.readTree(s)
      BloomSets(n.get("bits").asInt, n.get("hashes").asInt, n.get("type").asText,
        n.get("files").properties().asScala.map(e =>
          e.getKey -> e.getValue.asScala.map(_.asInt).toVector).toMap)
    }
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
      Commit.parse(Files.readString(entryPath(root, v)))))

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

  /** Commit-time file records derived from the parquet FOOTERS under
    * `dataDir` — per-file row counts plus min/max for `cols` — or `None`
    * when any file or column falls outside the exactly-representable
    * gate (then the caller runs the one-scan aggregation instead; the two
    * outputs are identical — VersionedTableSpec pins it).
    *
    * The gate admits only shapes whose chunk statistics reproduce a
    * Spark min/max EXACTLY, because stats here aren't merely advisory
    * pruning bounds — carry commits join these records with scan-derived
    * ones in one entry, so the two paths must agree exactly:
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
      schema: StructType, cols: Seq[String]): Option[Vector[DataFile]] = {
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
          def external(end: ((Any, Any)) => Any) = cols.zip(bounds).collect {
            case (c, Some(b)) => c -> toExternal(end(b), schema(c).dataType)
          }.toMap
          DataFile(rel, cnt, external(_._1), external(_._2))
        } finally reader.close()
      }
      Some(perFile)
    } catch {
      case _: FooterUnsupported => None
    }
  }
}

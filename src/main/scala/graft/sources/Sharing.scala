package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Open-sharing-protocol-shaped read source (S7; reference
  * delta_sharing_recipient.py:122-135,152-158 — `spark.read
  * .format("deltaSharing").load("<profile>#<share>.<schema>.<table>")`).
  *
  * The recipient surface is reproduced faithfully: a JSON profile file
  * (`shareCredentialsVersion` / `endpoint` / `bearerToken`), a
  * `#share.schema.table` fully-qualified name appended to the profile
  * path, and bearer-token checking against the provider's share
  * manifest. The transport differs by necessity — this sandbox has zero
  * egress, so the "server" is a local manifest directory
  * ([[SharingProtocol]]) instead of an HTTPS endpoint; swapping the
  * resolver for the REST client is the production path and touches
  * nothing below the resolve step.
  *
  * Spark-first design: the connector is a RESOLVER, not a reader. Once
  * the fully-qualified name resolves to data paths, it delegates to
  * Spark's own parquet DSv2 table — so predicate pushdown, column
  * pruning, partition discovery, and vectorized reading are the
  * engine's own (PushedFilters/ReadSchema visible in explain; spec-
  * asserted). That matches the real protocol's economics at 100 TB:
  * the server hands out file URLs (metadata-scale), executors fetch
  * the parquet bytes directly.
  */
class SharingSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftSharing"
  override def supportsExternalMetadata(): Boolean = true

  // one resolve per scan: inferSchema and getTable both land here, and
  // without the memo each would re-read the profile, re-scan the
  // manifest, and (for CDF) re-list the feed dirs — doubled metadata
  // work, and two listings that could disagree mid-commit
  @volatile private var resolvedCache: Option[(String, (String, Seq[String]))] = None

  private def resolved(options: CaseInsensitiveStringMap): (String, Seq[String]) = {
    val url = Option(options.get("path")).getOrElse(sys.error(
      """graftSharing needs load("<profile>#<share>.<schema>.<table>")"""))
    val cdf = options.getBoolean("readChangeFeed", false)
    val starting = options.getLong("startingVersion", 0L)
    val key = s"$url|$cdf|$starting"
    resolvedCache match {
      case Some((k, v)) if k == key => v
      case _ =>
        val v = doResolve(url, cdf, starting)
        resolvedCache = Some((key, v))
        v
    }
  }

  private def doResolve(url: String, cdf: Boolean,
      starting: Long): (String, Seq[String]) = {
    val (fqn, paths) = SharingProtocol.resolve(url)
    // CDF read (reference delta_sharing_recipient.py:152-158 —
    // option("readChangeFeed","true").option("startingVersion",N)): the
    // shared location must be a VersionedTable root, whose committed
    // feed is parquet under `_changes/v=N` — the CDF resolve is just a
    // different path listing, the scan stays the native parquet table
    if (cdf) {
      // the one shared lagging-consumer × retention check: a
      // startingVersion inside the provider's vacuumed range must fail
      // naming the gap, never return the surviving suffix as if it
      // were the whole feed
      paths.foreach(root =>
        SharingProtocol.requireFeedWithinRetention(fqn, root, starting))
      val feedDirs = paths.flatMap(root =>
        SharingProtocol.committedFeedDirs(fqn, root, starting))
      if (feedDirs.isEmpty) sys.error(
        s"shared table '$fqn' has no committed feed versions >= $starting")
      (s"$fqn@cdf", feedDirs)
    } else (fqn, paths)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    table(options, None).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    table(new CaseInsensitiveStringMap(properties), Option(schema))

  private def table(options: CaseInsensitiveStringMap,
      schema: Option[StructType]): ParquetTable = {
    val (fqn, paths) = resolved(options)
    // a CDF read spans MULTIPLE feed-version dirs, and a mergeSchema
    // commit adds columns to later feeds — without forcing mergeSchema
    // here, schema inference pins whichever footer wins and silently
    // drops the evolved columns from every row, breaking src9's
    // hash-equals-changeFeed guarantee (the direct changeFeed() read and
    // the changeStream path both merge; this batch path must too)
    val opts =
      if (options.getBoolean("readChangeFeed", false)) {
        val m = new java.util.HashMap[String, String](options.asCaseSensitiveMap())
        m.put("mergeSchema", "true")
        new CaseInsensitiveStringMap(m)
      } else options
    ParquetTable(s"shared:$fqn", SparkSession.active, opts, paths,
      schema, classOf[ParquetFileFormat])
  }
}

/** The local share "server": a manifest directory standing in for the
  * sharing endpoint. `shares.json` lists one row per shared table —
  * share/schema/table fully-qualified name, the bearer token it
  * requires, and the data location. [[publishLocal]] is the provider
  * side (reference delta_sharing_provider.py: CREATE SHARE / ADD TABLE
  * / grant to recipient ≙ one manifest row + a minted profile);
  * [[resolve]] is the recipient side.
  */
object SharingProtocol {
  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  private val endpointLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def endpointLock(dir: String): Object =
    endpointLocks.computeIfAbsent(
      // normalize so "/a/ep" and "/a/./ep" take the SAME lock — distinct
      // spellings of one endpoint must not interleave manifest rewrites
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)

  /** Provider: publish `location` as `share.schema.table` under the
    * endpoint dir, mint a recipient profile honoring `token`, and
    * return the profile path (what the provider hands the recipient).
    *
    * Re-publish semantics: publishing the same fully-qualified table
    * again REPLACES its manifest row (last publish wins — recipients see
    * the new location/token, never a stale first row), and the minted
    * profile filename carries the table + a token digest, so a second
    * grant with a different token mints a NEW profile instead of
    * silently overwriting the one handed to an earlier recipient. */
  def publishLocal(endpointDir: String, share: String, schema: String,
      table: String, location: String, token: String): String = {
    Files.createDirectories(Paths.get(endpointDir))
    val manifest = Paths.get(endpointDir, "shares.json")
    // the replace is a read-modify-write of the whole manifest: serialize
    // concurrent publishers and land the new content atomically (temp +
    // move), so a racing resolve() always reads a complete manifest,
    // never a truncated one. Two layers: the JVM lock serializes
    // in-process publishers (and keeps the OS lock below from ever
    // overlapping in one JVM, which would throw); the OS file lock
    // serializes publisher PROCESSES sharing one endpoint dir — without
    // it two processes could interleave read-modify-write and drop each
    // other's rows even though each individual move is atomic.
    endpointLock(endpointDir).synchronized {
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(endpointDir, ".shares.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val osLock = ch.lock() // blocks until cross-process exclusive
        try {
          val kept =
            if (!Files.isRegularFile(manifest)) Seq.empty[String]
            else Files.readAllLines(manifest).asScala.toSeq.filter(_.trim.nonEmpty)
              .filterNot { l =>
                val r = om.readTree(l)
                r.path("share").asText == share &&
                  r.path("schema").asText == schema &&
                  r.path("table").asText == table
              }
          val row = om.createObjectNode()
          row.put("share", share); row.put("schema", schema); row.put("table", table)
          row.put("location", location); row.put("bearerToken", token)
          graft.core.Fs.writeAtomic(manifest,
            (kept :+ om.writeValueAsString(row)).mkString("", "\n", "\n"))
        } finally osLock.release()
      } finally ch.close()
    }
    val profile = om.createObjectNode()
    profile.put("shareCredentialsVersion", 1)
    profile.put("endpoint", endpointDir)
    profile.put("bearerToken", token)
    val digest = Integer.toHexString(token.hashCode)
    val p = Paths.get(endpointDir, s"$share.$schema.$table-$digest.share")
    // atomic replace, same discipline as the manifest write above: a
    // re-grant rewrites an existing profile path, and a concurrent
    // recipient resolve() reading a half-written file would die on
    // truncated JSON (or read an empty token and get a bogus
    // token-rejected error)
    graft.core.Fs.writeAtomic(p, om.writeValueAsString(profile))
    p.toString
  }

  /** Manifest-committed feed dirs for a shared versioned-table root —
    * mirrors `VersionedTable.changeFeed`'s filtering. The raw `_changes`
    * listing is NOT the source of truth: the commit protocol stages
    * `_changes/v=N` before the manifest line lands, so a mid-commit or
    * crashed writer can leave a staged feed dir for a version that was
    * never committed. A shared read must exclude those exactly as the
    * direct read does, or src9's hash-equals-changeFeed guarantee breaks
    * the moment a writer races the recipient. */
  private[sources] def committedFeedDirs(fqn: String, root: String,
      starting: Long): Seq[String] =
    committedFeedVersions(fqn, root, starting).map(_._2)

  /** The lagging-consumer × provider-retention contract, shared by EVERY
    * shared-feed consumer path (the DSv2 batch CDF read, the
    * graftSharingCdc streaming source, the committed-batch watermark
    * loop, the glob changeStream): a resume point at or below the
    * provider's vacuumed high-water mark fails LOUDLY naming the gap
    * and the earliest valid resume — never a silently-holed feed
    * assembled from whatever dirs survived (the Delta posture: CDF
    * beyond retention THROWS). One definition so a new consumer path
    * cannot reopen the hole with a drifted copy of the check. */
  private[sources] def requireFeedWithinRetention(fqn: String, root: String,
      resume: Long): Unit = {
    val vacuumed = graft.maint.VersionedTable.feedVacuumedThrough(root)
    if (resume <= vacuumed) sys.error(
      s"shared change feed '$fqn' resumes at version $resume — beyond " +
        s"retention: the provider dropped feed versions <= $vacuumed; " +
        s"re-sync from a snapshot, then resume from ${vacuumed + 1} " +
        "(with a fresh checkpoint if streaming)")
  }

  /** Same listing WITH the version numbers — consumers that need both
    * (the CDC offset log, the watermark loop) take the pairs directly
    * instead of regex-re-parsing `v=N` out of paths the listing itself
    * just built from those Longs (a re-parse that would silently DROP a
    * version if the dir layout ever changed). */
  private[sources] def committedFeedVersions(fqn: String, root: String,
      starting: Long): Seq[(Long, String)] = {
    graft.maint.VersionedTable.committedVersions(root).getOrElse(sys.error(
      s"shared table '$fqn' at $root has no commit manifest — not a versioned table"))
      .filter(v => v >= starting &&
        Files.isDirectory(Paths.get(root, "_changes", s"v=$v")))
      .sorted
      .map(v => v -> Paths.get(root, "_changes", s"v=$v").toString)
  }

  /** Recipient: `<profilePath>#<share>.<schema>.<table>` → (fqn, data
    * paths), enforcing the bearer token. Every failure names what's
    * wrong — an unreadable profile, an unknown table, or a bad token —
    * because a sharing setup error must not surface as an empty scan. */
  def resolve(url: String): (String, Seq[String]) = {
    val (profilePath, fqn) = url.lastIndexOf('#') match {
      case -1 => sys.error(s"sharing URL '$url' lacks '#share.schema.table'")
      case i  => (url.substring(0, i), url.substring(i + 1))
    }
    val parts = fqn.split('.')
    require(parts.length == 3, s"'$fqn' is not share.schema.table")
    val profile = om.readTree(Files.readString(Paths.get(profilePath)))
    val endpoint = profile.path("endpoint").asText("")
    val token = profile.path("bearerToken").asText("")
    val manifest = Paths.get(endpoint, "shares.json")
    require(Files.isRegularFile(manifest), s"no share manifest at $manifest")
    val rows = Files.readAllLines(manifest).asScala.toSeq
      .filter(_.trim.nonEmpty).map(om.readTree)
    val hit = rows.find(r =>
      r.path("share").asText == parts(0) &&
        r.path("schema").asText == parts(1) &&
        r.path("table").asText == parts(2))
      .getOrElse(sys.error(s"table '$fqn' is not shared at $endpoint"))
    if (hit.path("bearerToken").asText != token)
      sys.error(s"bearer token rejected for '$fqn'")
    (fqn, Seq(hit.path("location").asText))
  }

  /** Streaming read of a shared table's change feed (reference
    * delta_sharing_recipient.py:186-192 — `readStream` +
    * `readChangeFeed`): resolve the share once, then stream the
    * committed `_changes` log as a file-stream source, so downstream
    * CDC consumers run as ordinary Structured Streaming with
    * checkpointed offsets (new feed versions are new files — picked up
    * per micro-batch; cost ∝ new commits, the shared snapshot is never
    * re-read). `startingVersion` filters on the committed
    * `_commit_version` column the feed rows carry.
    *
    * Caveat vs the batch path: schema discovery uses only
    * manifest-COMMITTED feed versions, but the file-stream glob itself
    * trails the raw directory, so a feed version staged by a writer
    * mid-commit can enter a micro-batch moments before its manifest
    * line lands. [[committedChangeBatches]] is the log-driven
    * consumption that closes this race — the manifest IS its offset
    * log, so staged dirs are invisible by construction; prefer it for
    * recipients that may race a writer. This glob path remains for
    * consumers that want a plain unbounded DataFrame. */
  def changeStream(spark: org.apache.spark.sql.SparkSession, url: String,
      startingVersion: Long = 0L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val (fqn, paths) = resolve(url)
    val root = paths.head
    // the shared retention check — the glob below sees only surviving
    // dirs and would otherwise silently stream a feed with a hole
    requireFeedWithinRetention(fqn, root, startingVersion)
    val committed = committedFeedDirs(fqn, root, 0L)
    if (committed.isEmpty) sys.error(s"shared table '$fqn' has no committed change feed")
    // merge schemas across ALL committed feed versions: a mergeSchema
    // commit adds columns to later feeds, and pinning the oldest
    // version's schema would silently drop them from every micro-batch
    // (older files surface the new columns as null, the mergeSchema read
    // contract); footer-only work, ∝ committed versions
    val schema = spark.read.option("mergeSchema", "true")
      .parquet(committed: _*).schema
    spark.readStream.schema(schema).parquet(s"$root/_changes/*")
      .filter(col("_commit_version") >= startingVersion)
  }

  /** Log-driven consumption of a shared change feed — the production
    * upgrade [[changeStream]]'s caveat points at, as real code. One call
    * is one `Trigger.AvailableNow` pass: every manifest-COMMITTED feed
    * version above the checkpoint watermark (and >= `startingVersion`)
    * is read as a batch DataFrame and handed to `f` in version order,
    * then the watermark advances. The manifest is the offset log, so a
    * feed dir staged by a mid-commit writer is invisible by
    * construction — no glob race, unlike the file-stream path.
    *
    * Delivery contract is foreachBatch's: exactly-once when `f` is
    * idempotent per version — a crash between `f` returning and the
    * watermark write redelivers that one version on resume (the same
    * window Spark's foreachBatch has between sink commit and offset-log
    * advance). The watermark write is atomic (temp file + move), so a
    * crash can never leave a half-written offset.
    *
    * Scale: one manifest read per pass (metadata, KB-scale) + one
    * parquet batch per NEW commit — cost ∝ new commits; the snapshot
    * and already-delivered versions are never re-read.
    *
    * @return versions delivered this pass, in order */
  def committedChangeBatches(spark: SparkSession, url: String,
      checkpointDir: String, startingVersion: Long = 0L)(
      f: (org.apache.spark.sql.DataFrame, Long) => Unit): Seq[Long] = {
    val (fqn, paths) = resolve(url)
    val root = paths.head
    val offsetFile = Paths.get(checkpointDir, "committed-version-watermark")
    val watermark =
      if (Files.isRegularFile(offsetFile)) Files.readString(offsetFile).trim.toLong
      else Long.MinValue
    // the shared retention check on this pass's ACTUAL resume point,
    // max(startingVersion, watermark+1): versions a lagging consumer
    // never saw may be gone, and the committed listing below would
    // silently hand `f` the surviving suffix as if it were contiguous
    requireFeedWithinRetention(fqn, root,
      math.max(startingVersion, watermark + 1L))
    val due = committedFeedVersions(fqn, root, startingVersion)
      .filter(_._1 > watermark)
    Files.createDirectories(Paths.get(checkpointDir))
    due.map { case (v, dir) =>
      f(spark.read.parquet(dir), v)
      graft.core.Fs.writeAtomic(offsetFile, v.toString)
      v
    }
  }

}

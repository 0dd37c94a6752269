package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.datasources.{DataSource, LogicalRelation}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** TRUE streaming source for a shared change feed whose offsets ARE the
  * provider's log-committed versions (S4/S7 streaming; reference
  * delta_sharing_recipient.py:186-192 `readStream` + `readChangeFeed`):
  *
  *   spark.readStream.format("graftSharingCdc")
  *     .option("url", "<profile>#<share>.<schema>.<table>")
  *     .option("startingVersion", 3)
  *     .load()
  *
  * Why this exists next to [[SharingProtocol.changeStream]]: the glob
  * file-stream trails the RAW version directories, so a feed staged by
  * a mid-commit writer could enter a micro-batch before its log entry
  * lands. Here the offset log is derived from the commit log itself —
  * `getOffset` reports the highest log-COMMITTED
  * feed version, and `getBatch(start, end]` reads exactly the committed
  * dirs in that version range — so a staged-but-uncommitted dir is
  * invisible by construction, and Spark's checkpointed offset log gives
  * exactly-once delivery across restarts (StreamingSpec pins both).
  *
  * Built on the streaming `Source` API (the same contract Spark's own
  * FileStreamSource uses) rather than a DSv2 MicroBatchStream: the
  * per-batch read IS a native parquet relation, and `getBatch` hands
  * Spark that relation directly — the resolver-not-reader philosophy of
  * [[SharingSource]]; a MicroBatchStream would have to re-implement the
  * parquet reader behind PartitionReader for zero behavioral gain here.
  *
  * Scale: each trigger costs two log reads (KB-scale metadata —
  * `getOffset` and `getBatch` each list, the same shape as Spark's
  * FileStreamSource log lookups); each batch scans only the NEW
  * committed feed dirs — cost ∝ new commits, the shared snapshot is
  * never re-read.
  */
class SharingCdcStreamSource extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graftSharingCdc"

  private def url(parameters: Map[String, String]): String =
    parameters.get("url").orElse(parameters.get("path")).getOrElse(sys.error(
      """graftSharingCdc needs option("url", "<profile>#<share>.<schema>.<table>")"""))

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      SharingCdcSource.feedSchema(sqlContext, url(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new SharingCdcSource(sqlContext, url(parameters),
      parameters.get("startingVersion").map(_.toLong).getOrElse(0L),
      // reuse the schema resolved at load() (sourceSchema): Spark fixes
      // the plan's attributes there, and a mergeSchema commit landing
      // between load() and start() must not make this Source disagree
      // with its own analyzed plan — a streaming schema is fixed at
      // query start (new columns require a restart), Spark's contract
      schema.getOrElse(SharingCdcSource.pinnedSchema(sqlContext, url(parameters))))
}

private[sources] object SharingCdcSource {
  // sourceSchema (at load()) and createSource (at stream start) both
  // need the schema; memoize the footer-read result PER URL, with the
  // committed dir set as a validity token: the second call costs one
  // log read instead of re-reading every feed version's footers,
  // a mergeSchema commit between calls changes the token and replaces
  // the entry (never pins a stale schema), and the map is naturally
  // bounded at one live entry per url — repeated stream restarts
  // overwrite in place, and no url can evict another url's hot entry
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  /** Merged schema across ALL committed feed versions — a mergeSchema
    * commit adds columns to later feeds; pinning one version's schema
    * would silently drop them (footer-only work, ∝ committed versions). */
  def feedSchema(sqlContext: SQLContext, url: String): StructType = {
    val (fqn, paths) = SharingProtocol.resolve(url)
    val dirs = SharingProtocol.committedFeedDirs(fqn, paths.head, 0L)
    if (dirs.isEmpty) sys.error(s"shared table '$fqn' has no committed change feed")
    val token = dirs.mkString(",")
    schemaMemo.compute(url, (_, prev) =>
      if (prev != null && prev._1 == token) prev
      else (token, sqlContext.sparkSession.read.option("mergeSchema", "true")
        .parquet(dirs: _*).schema))._2
  }

  /** The schema exactly as the most recent `sourceSchema` (load()) call
    * resolved it, WITHOUT re-validating the token: `createSource` uses
    * this so the paired load()/start() calls always agree even when a
    * provider commit lands between them. Falls back to a fresh resolve
    * only if no load() populated the memo (a direct createSource call). */
  def pinnedSchema(sqlContext: SQLContext, url: String): StructType =
    Option(schemaMemo.get(url)).map(_._2)
      .getOrElse(feedSchema(sqlContext, url))
}

private[sources] class SharingCdcSource(sqlContext: SQLContext, url: String,
    startingVersion: Long, override val schema: StructType) extends Source {

  // resolve once: the share grant is fixed for the stream's lifetime
  // (re-grants mint new profiles); the commit LOG is re-read per trigger
  private val (fqn, root) = {
    val (f, paths) = SharingProtocol.resolve(url)
    (f, paths.head)
  }

  // any Offset flavor (LongOffset live, SerializedOffset from the
  // checkpoint log on restart) — LongOffset's json is the plain number
  private def ver(o: Offset): Long = o.json.trim.toLong

  override def getOffset: Option[Offset] =
    SharingProtocol.committedFeedVersions(fqn, root, startingVersion)
      .lastOption.map(p => LongOffset(p._1))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    // the checkpointed offset takes PRECEDENCE over startingVersion (the
    // Delta convention): on a restart/replay `start` already encodes what
    // the sink has seen, and clamping it by a user-raised startingVersion
    // would silently drop committed-but-unsunk versions from the replay.
    // (version, dir) pairs come straight from the log listing — no
    // regex re-parse of paths that could silently drop a version.
    val lo = start.map(ver(_) + 1L).getOrElse(startingVersion)
    val hi = ver(end)
    // the shared retention check on this stream's checkpointed resume
    // point — the committed listing below only sees surviving dirs, and
    // serving it would hand the sink a feed with an invisible hole
    SharingProtocol.requireFeedWithinRetention(fqn, root, lo)
    val dirs = SharingProtocol.committedFeedVersions(fqn, root, lo)
      .filter(_._1 <= hi).map(_._2)
    val session = sqlContext.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (dirs.isEmpty) {
      // an empty range (e.g. replay alignment at restart) must still be
      // a streaming-flagged plan with this source's schema
      return org.apache.spark.sql.GraftInternalAccess.ofRows(session,
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
          Nil, isStreaming = true))
    }
    // the batch IS a native parquet relation over exactly the committed
    // dirs in (start, end] — flagged isStreaming so it slots into the
    // incremental plan (the FileStreamSource.getBatch pattern)
    val relation = DataSource(
      sparkSession = session,
      paths = dirs,
      userSpecifiedSchema = Some(schema),
      className = "parquet",
      options = Map("mergeSchema" -> "true")).resolveRelation(checkFilesExist = false)
    org.apache.spark.sql.GraftInternalAccess.ofRows(session,
      LogicalRelation(relation, isStreaming = true))
  }

  override def stop(): Unit = ()
}

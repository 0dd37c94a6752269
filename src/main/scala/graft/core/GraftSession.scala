package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration (reference:
  * config/cluster_config.json + performance_optimization.py settings,
  * re-expressed for OSS Spark).
  *
  * The local[] settings mirror what a cluster deployment would set:
  *  - AQE on (default in Spark 4) — runtime shuffle coalescing, SMJ→BHJ
  *    conversion, skew-join splitting; at 100 TB this replaces hand-tuned
  *    `spark.sql.shuffle.partitions` per query.
  *  - shuffle.partitions = cores locally; on a cluster, 2-3× total cores
  *    as the AQE coalescing ceiling.
  *  - UTC session timezone — determinism across engines and clusters.
  *  - 64 MiB file split target — keeps scan tasks balanced when reading
  *    many small files; at 100 TB, pair with table-layout compaction
  *    (graft.maint.VersionedTable.compact).
  */
object GraftSession {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // INT64 micros instead of deprecated INT96: modern-interop parquet
      // timestamps WITH usable chunk statistics — what lets the commit
      // path lift the log entry's per-file stats from footers
      // (VersionedTable.footerStats) instead of re-scanning staged data
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.files.maxPartitionBytes", 64L * 1024 * 1024)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate returns any PRE-EXISTING session as-is — extensions,
    // timezone, and configs silently dropped. The first symptom would be
    // an oracle hash mismatch (NTZ casts in a non-UTC zone) or an
    // 'undefined function' deep inside a query; fail at the factory with
    // the actual cause instead.
    require(spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")),
      "SparkSession exists without GraftExtensions (another component " +
        "created it first?) — all sessions must come from GraftSession")
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "session timezone is not UTC — oracle determinism requires it")
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

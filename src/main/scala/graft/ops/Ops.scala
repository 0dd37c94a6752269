package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable row-level operators shared by silver/gold pipelines
  * (SURVEY.md §7.1 ops layer).
  */
object Dedup {
  /** W1: latest-wins dedup — one row per key, by `ordering` desc. Callers
    * must include a unique tiebreak column for determinism (utils/
    * common_functions.py:15-34 omits it; SURVEY §7.4.3). */
  def latestWins(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    // reserved working name (the upsertLatestWins posture): a caller
    // `_rn` would be silently overwritten, then dropped entirely
    require(!df.columns.contains("_rn"),
      "latestWins reserves the _rn working column; the input already carries one")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ordering.map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }
}

object Sessionize {
  /** W2+W3: gaps-and-islands sessionization — assigns `session_idx` per
    * key from a strict time-gap rule (gap > gapMinutes starts a session;
    * the reference's clickstream algorithm, transform_clickstream.py:
    * 63-88). One key-shuffle, linear per partition. */
  def assign(df: DataFrame, key: String, tsCol: String, tiebreak: String,
      gapMinutes: Int = 30): DataFrame = {
    // reserved working/output names — silent overwrite would corrupt a
    // caller's columns (latestWins posture)
    val clash = Seq("_gap_us", "_is_new", "session_idx").filter(df.columns.contains)
    require(clash.isEmpty,
      s"Sessionize.assign reserves ${clash.mkString(", ")}; rename the input columns")
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol), col(tiebreak))
    val gapUs = gapMinutes.toLong * 60 * 1000000
    // a NULL timestamp must not silently become its own session (null
    // gap → _is_new) while shifting every later session_idx — raise
    // loudly instead (the Scd2 null-ts posture)
    val ts = when(col(tsCol).isNull, raise_error(lit(
      s"Sessionize.assign: NULL $tsCol cannot be ordered into a session")))
      .otherwise(col(tsCol))
    df.withColumn("_gap_us",
        unix_micros(ts) - lag(unix_micros(ts), 1).over(w))
      .withColumn("_is_new",
        when(col("_gap_us").isNull || col("_gap_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx",
        sum(col("_is_new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_gap_us", "_is_new")
  }
}

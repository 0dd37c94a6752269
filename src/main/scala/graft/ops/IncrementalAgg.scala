package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance for self-maintainable
  * aggregates (count + sum — the algebra behind DLT/materialized-view
  * incremental refresh). The reference keeps its gold rollups fresh by
  * full recompute per run (gold/create_gold_tables.py aggregates the
  * whole silver table each time); maintaining the view from the change
  * feed instead makes the refresh cost proportional to the CHANGES, not
  * the table — the difference between re-scanning 100 TB and shuffling a
  * few MB of CDF rows.
  *
  * State schema: group keys ++ (`cnt` BIGINT, `agg_sum` DECIMAL). Sums are
  * decimal-exact so repeated deltas can never drift from a full recompute
  * (a double accumulator would — order-dependent ulps compound per batch).
  */
object IncrementalAgg {

  /** Full initial aggregate over a snapshot (the view's seed state).
    * `nn` — the group's NON-NULL value count — rides along so applyDelta
    * can maintain the sum's NULL-ness exactly: SQL sum is NULL iff a
    * group has zero non-null values, and without the counter a
    * maintained state could only approximate that (e.g. deleting a
    * group's last real value must take its sum back to NULL, not 0). */
  def init(snapshot: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    snapshot.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        count(col(valueCol)).as("nn"),
        sum(col(valueCol).cast("decimal(18,2)")).as("agg_sum"))

  /** Fold one change-feed batch into the aggregate state: inserts and
    * update postimages add, deletes and update preimages subtract (an
    * update's ±1 counts cancel; its sum delta is post − pre). One
    * group-by over the (feed-sized) delta plus one keyed join against
    * the state — only changed groups shuffle. Groups whose count reaches
    * zero drop out of the view, exactly like a recompute would drop them.
    */
  def applyDelta(state: DataFrame, feed: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val sign =
      when(col(ChangeFeed.ChangeTypeCol).isin("insert", "update_postimage"), lit(1L))
        .when(col(ChangeFeed.ChangeTypeCol).isin("delete", "update_preimage"), lit(-1L))
        .otherwise(lit(0L))
    val delta = feed
      .withColumn("_sign", sign)
      .groupBy(keys.map(col): _*)
      .agg(
        sum(col("_sign")).as("_dcnt"),
        sum(when(col(valueCol).isNotNull, col("_sign")).otherwise(lit(0L)))
          .as("_dnn"),
        sum(col("_sign") * col(valueCol).cast("decimal(18,2)")).as("_dsum"))
    val nn = coalesce(col("nn"), lit(0L)) + coalesce(col("_dnn"), lit(0L))
    state.join(delta, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("_dcnt"), lit(0L))).as("cnt"),
        nn.as("nn"),
        // sum NULL-ness is maintained EXACTLY via the non-null counter:
        // a recompute's sum is NULL iff nn = 0, so a group whose values
        // are (or become) all NULL reads NULL here too — a bare
        // coalesce-to-0 would silently rewrite "no measurable values"
        // as "sums to zero". Closed output type (init's sum type):
        // repeated applyDelta / parquet-state roundtrips must not grow
        // decimal precision.
        when(nn === 0L, lit(null).cast("decimal(28,2)"))
          .otherwise((coalesce(col("agg_sum"), lit(0).cast("decimal(18,2)")) +
            coalesce(col("_dsum"), lit(0).cast("decimal(18,2)")))
            .cast("decimal(28,2)")).as("agg_sum")): _*)
      .filter(col("cnt") > 0)
  }

  /** Seed state for min/max maintenance: keys ++ (cnt, agg_min, agg_max). */
  def initMinMax(snapshot: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    snapshot.groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("cnt"),
        min(col(valueCol).cast("decimal(18,2)")).as("agg_min"),
        max(col(valueCol).cast("decimal(18,2)")).as("agg_max"))

  /** Min/max are NOT self-maintainable under deletes (removing the
    * current minimum says nothing about the runner-up), so maintenance
    * splits the groups per batch:
    *
    *   - CLEAN groups — only inserts, or deletes strictly inside the
    *     (min, max) interval — update algebraically: `least`/`greatest`
    *     with the inserted bounds, count from the signed delta. No base
    *     access at all.
    *   - DIRTY groups — any delete touching a current bound (or a delete
    *     against unknown state) — are recomputed by ONE partial aggregate
    *     over `base` semi-joined to the dirty keys: cost ∝ rows of the
    *     FEW groups whose boundary was hit, never the full table.
    *
    * This is the standard IVM treatment of non-distributive aggregates
    * (deletes of a shared-boundary value recompute conservatively rather
    * than tracking multiplicity). NULL values never participate in
    * min/max, so deleting them dirties nothing; groups whose count
    * reaches zero drop out exactly as a recompute would. `base` is the
    * POST-batch snapshot the feed leads to.
    */
  def applyDeltaMinMax(state: DataFrame, feed: DataFrame, keys: Seq[String],
      valueCol: String, base: DataFrame): DataFrame = {
    val v = col(valueCol).cast("decimal(18,2)")
    val isAdd = col(ChangeFeed.ChangeTypeCol).isin("insert", "update_postimage")
    val isDel = col(ChangeFeed.ChangeTypeCol).isin("delete", "update_preimage")
    val delta = feed
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(isAdd, 1L).when(isDel, -1L).otherwise(0L)).as("_dcnt"),
        min(when(isAdd, v)).as("_ins_min"),
        max(when(isAdd, v)).as("_ins_max"),
        min(when(isDel, v)).as("_del_min"),
        max(when(isDel, v)).as("_del_max"))
    // the state×delta merge feeds TWO consumers (the clean-group update
    // and the dirty-key extraction) whose differing projections defeat
    // ReuseExchange — checkpoint it once (the d4/e5 lesson), which also
    // makes the dirty-key count below a cheap map-side filter job
    val joined = state.join(delta, keys, "full_outer").localCheckpoint(true)
    val dirty = col("_del_min").isNotNull &&
      (col("agg_min").isNull ||
        col("_del_min") <= col("agg_min") || col("_del_max") >= col("agg_max"))
    val newCnt = coalesce(col("cnt"), lit(0L)) + coalesce(col("_dcnt"), lit(0L))
    // least/greatest skip NULL sides, so new groups and no-insert batches
    // fall out of the same expression
    val clean = joined.filter(!dirty)
      .select(keys.map(col) ++ Seq(
        newCnt.as("cnt"),
        least(col("agg_min"), col("_ins_min")).cast("decimal(18,2)").as("agg_min"),
        greatest(col("agg_max"), col("_ins_max")).cast("decimal(18,2)").as("agg_max")): _*)
      .filter(col("cnt") > 0)
    val dirtyKeys = joined.filter(dirty).select(keys.map(col): _*)
    // The dirty set is the FEW groups whose boundary a delete hit —
    // broadcasting it into the semi keeps `base` (the table-sized side)
    // from shuffling by key at all (guide §3.1/§3.2: prune the big side
    // before it moves). Above the cap: the keyed semi, AQE-splittable.
    // (Without the hint the join is a SortMergeJoin — dirtyKeys descends
    // from a checkpoint, so Catalyst has no stats to auto-broadcast on.)
    val dkFits = Guards.fits(dirtyKeys.count())
    clean.unionByName(
      initMinMax(base.join(
        if (dkFits) broadcast(dirtyKeys) else dirtyKeys,
        keys, "left_semi"), keys, valueCol))
  }
}

package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{CdcApply, Scd2}
import graft.pipeline.Pipeline
import graft.quality.Quality

/** SURVEY.md §2.11/§2.12 framework operators exercised as declared
  * queries: SCD2 history build (M14), CDC apply (ST11), the quality
  * engine (F3/A11), the declarative pipeline runner (DLT substitute), and
  * GDPR cascade erasure (M10).
  *
  * Scale notes: SCD2/CDC are single key-shuffle window passes (no
  * self-joins over history); the quality engine computes all rule metrics
  * in ONE aggregation scan; GDPR erasure is broadcast-able anti joins
  * keyed on the erased ids.
  */
object Governance extends QueryGroup {

  def defs: Map[String, QueryDef] = Map(
    // M14: SCD2 history rebuilt from a change log (per-customer order
    // status over time; same-day ties pre-deduped latest-orderkey-wins).
    "m1_scd2_history" -> QueryDef(
      build = (s, d) => {
        val changes = Tables.orders(s, d)
          .withColumn("_day_rn", row_number().over(
            Window.partitionBy(col("o_custkey"), col("o_orderdate"))
              .orderBy(col("o_orderkey").desc)))
          .filter(col("_day_rn") === 1)
          .select(col("o_custkey"), col("o_orderdate"), col("o_orderstatus"))
        Scd2.fromHistory(changes, "o_custkey", "o_orderdate", "o_orderstatus")
          .select(
            col("o_custkey"), col("o_orderstatus"),
            date_format(col("effective_start"), "yyyy-MM-dd").as("effective_start"),
            date_format(col("effective_end"), "yyyy-MM-dd").as("effective_end"),
            col("is_current"))
      },
      oracle = Some("""
        WITH dedup AS (
          SELECT o_custkey, o_orderdate, o_orderstatus
          FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderdate
                  ORDER BY o_orderkey DESC) AS rn FROM orders)
          WHERE rn = 1),
        collapsed AS (
          SELECT * FROM (
            SELECT o_custkey, o_orderdate, o_orderstatus,
                   lag(o_orderstatus) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus DESC) AS prev
            FROM dedup)
          WHERE prev IS NULL OR prev <> o_orderstatus)
        SELECT o_custkey, o_orderstatus,
               strftime(o_orderdate, '%Y-%m-%d') AS effective_start,
               strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus DESC),
                        '%Y-%m-%d') AS effective_end,
               lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderstatus DESC) IS NULL AS is_current
        FROM collapsed""")),

    // ST11: CDC apply — event ops (signup=insert, click/view/purchase=
    // update, error=delete) reduced to current per-user state.
    "m2_cdc_apply" -> QueryDef(
      build = (s, d) => {
        val changes = Tables.events(s, d)
          .withColumn("op",
            when(col("event_type") === "signup", "insert")
              .when(col("event_type") === "error", "delete")
              // a NULL event_type must NOT fall into the update branch:
              // CdcApply would keep the row while the oracle's
              // `event_type <> 'error'` drops it — a silent divergence
              // if regenerated testdata ever carries a NULL type. Raise
              // loudly instead (the CdcApply NULL-op posture, one level
              // earlier).
              .when(col("event_type").isNull, raise_error(lit(
                "m2_cdc_apply: NULL event_type has no CDC op mapping")))
              .otherwise("update"))
        CdcApply.latestState(changes, "user_id", "op", Seq("ts", "event_id"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_str"))
      },
      oracle = Some("""
        SELECT user_id, event_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1 AND event_type <> 'error'""")),

    // S4/M13: change data feed with Delta-structural metadata columns —
    // v0 = 90% seed snapshot, v1 = inserts (+%10 keys) / updates (%7 keys,
    // +100 balance) / deletes (%13 keys); the committed feed carries
    // _change_type / _commit_version / _commit_timestamp and is derived by
    // one keyed diff join per commit (ops/ChangeFeed.scala).
    "cdf1_change_feed" -> QueryDef(
      build = (s, d) => {
        val t = new graft.maint.VersionedTable(s, buildCdfCustomerTable(s, d))
        t.changeFeed(fromVersion = 1)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("_change_type"), col("_commit_version"),
            date_format(col("_commit_timestamp"), "yyyy-MM-dd HH:mm:ss").as("_commit_ts"))
      },
      oracle = Some(sqlCdf1Oracle)),

    // S4: STREAMING change-feed scan — the committed change feed is
    // itself a file-stream source (the Delta-CDF `readStream` shape), so
    // downstream CDC consumers run as Structured Streaming with
    // checkpointed offsets; here drained with AvailableNow and checked
    // against the full expected feed (v0 inserts + v1 diff).
    "cdf3_stream_changes" -> QueryDef(
      build = (s, d) => {
        // ONE fixture builder for the whole cdf family (cdf1/cdf2/cdf3/
        // src9) — inline copies of the %10/%13/%7 rules would drift from
        // the shared oracles silently
        val root = buildCdfCustomerTable(s, d)
        val stream = graft.maint.VersionedTable.feedStream(s, root)
        graft.streaming.Streams.runToMemory(stream, "append")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("_change_type"), col("_commit_version"),
            date_format(col("_commit_timestamp"), "yyyy-MM-dd HH:mm:ss").as("_commit_ts"))
      },
      oracle = Some("""
        WITH v0 AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 <> 0),
        v1 AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
          FROM customer WHERE c_custkey % 13 <> 0),
        j AS (
          SELECT coalesce(v0.c_custkey, v1.c_custkey) AS k,
                 v0.c_name AS pre_name, v0.c_acctbal AS pre_bal,
                 v1.c_name AS post_name, v1.c_acctbal AS post_bal,
                 CASE WHEN v0.c_custkey IS NULL THEN 'insert'
                      WHEN v1.c_custkey IS NULL THEN 'delete'
                      WHEN v0.c_acctbal <> v1.c_acctbal OR v0.c_name <> v1.c_name THEN 'update'
                      ELSE 'none' END AS typ
          FROM v0 FULL JOIN v1 ON v0.c_custkey = v1.c_custkey)
        SELECT c_custkey, c_name, c_acctbal,
               'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version,
               '2001-09-01 00:00:00' AS _commit_ts
        FROM v0
        UNION ALL
        SELECT k, post_name, post_bal, 'insert', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'insert'
        UNION ALL
        SELECT k, pre_name, pre_bal, 'delete', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'delete'
        UNION ALL
        SELECT k, pre_name, pre_bal, 'update_preimage', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'update'
        UNION ALL
        SELECT k, post_name, post_bal, 'update_postimage', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'update'""")),

    // ST11 over the REAL feed: CdcApply consuming the committed change log
    // (insert/update_postimage/delete, preimages filtered — P10) must
    // reconstruct the head snapshot exactly.
    "cdf2_cdc_roundtrip" -> QueryDef(
      build = (s, d) => {
        // the shared cdf fixture (see cdf3's note)
        val t = new graft.maint.VersionedTable(s, buildCdfCustomerTable(s, d))
        val feed = t.changeFeed(fromVersion = 0)
          .filter(col("_change_type") =!= "update_preimage")
          .withColumn("op",
            when(col("_change_type") === "update_postimage", "update")
              .otherwise(col("_change_type")))
        CdcApply.latestState(feed, "c_custkey", "op", Seq("_commit_version"))
          .select("c_custkey", "c_name", "c_acctbal")
      },
      oracle = Some("""
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 13 <> 0""")),

    // F3/A11: the quality engine's one-pass metrics table.
    "q1_quality_engine_metrics" -> QueryDef(
      build = (s, d) => {
        val rules = Seq(
          Quality.Rule("price_positive", "o_totalprice > 0", Quality.Warn),
          Quality.Rule("status_valid", "o_orderstatus IN ('F','O','P')", Quality.Drop),
          Quality.Rule("custkey_present", "o_custkey IS NOT NULL", Quality.Fail),
          Quality.Rule("date_in_range",
            "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'", Quality.Quarantine))
        Quality.apply(Tables.orders(s, d), rules).metrics
      },
      oracle = Some("""
        SELECT 'price_positive' AS rule_name, 'warn' AS action,
               CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS failed_rows,
               count(*) AS total_rows FROM orders
        UNION ALL
        SELECT 'status_valid', 'drop',
               CAST(sum(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM orders
        UNION ALL
        SELECT 'custkey_present', 'fail',
               CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM orders
        UNION ALL
        SELECT 'date_in_range', 'quarantine',
               CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' THEN 0 ELSE 1 END) AS BIGINT), count(*) FROM orders""")),

    // Q2: snapshot DRIFT MONITOR (the lakehouse-monitoring layer over the
    // quality engine: reference's data-quality checks watch one snapshot;
    // production monitoring compares snapshots over time). Baseline
    // window (pre-1997) vs current window per o_orderstatus: row counts,
    // distribution shares, and average order value — with drift and
    // appeared/vanished flags computed IN-PLAN. All arithmetic is exact:
    // shares as integer parts-per-million (`div`), averages as integer
    // cents, so the drift verdicts hash-match DuckDB bit-for-bit (no
    // float ratios at threshold boundaries). One groupBy per window +
    // a broadcast 1-row total — two keyed shuffles regardless of scale.
    "q2_drift_monitor" -> QueryDef(
      build = (s, d) => {
        val o = Tables.orders(s, d)
        val cut = to_timestamp(lit("1997-01-01 00:00:00"))
        def prof(df: org.apache.spark.sql.DataFrame, suffix: String) =
          df.groupBy("o_orderstatus").agg(
            count(lit(1)).as(s"rows_$suffix"),
            Exact.moneySumCents("o_totalprice").as(s"cents_$suffix"))
        val base = prof(o.filter(col("o_orderdate") < cut), "base")
        val curr = prof(o.filter(col("o_orderdate") >= cut), "curr")
        base.join(curr, Seq("o_orderstatus"), "full_outer")
          .na.fill(0L, Seq("rows_base", "rows_curr", "cents_base", "cents_curr"))
          .crossJoin(broadcast(
            base.agg(sum("rows_base").as("total_base"))
              .crossJoin(curr.agg(sum("rows_curr").as("total_curr")))))
          .select(
            col("o_orderstatus"),
            col("rows_base"), col("rows_curr"),
            expr("(rows_base * 1000000) div total_base").as("share_ppm_base"),
            expr("(rows_curr * 1000000) div total_curr").as("share_ppm_curr"),
            when(col("rows_base") > 0, expr("cents_base div rows_base"))
              .as("avg_cents_base"),
            when(col("rows_curr") > 0, expr("cents_curr div rows_curr"))
              .as("avg_cents_curr"),
            (col("rows_base") === 0).as("appeared"),
            (col("rows_curr") === 0).as("vanished"))
          .withColumn("share_drifted",
            abs(col("share_ppm_base") - col("share_ppm_curr")) > 20000)
      },
      oracle = Some(s"""
        WITH b AS (
          SELECT o_orderstatus, count(*) AS rows_base,
                 ${Exact.sqlMoneySumCents("o_totalprice")} AS cents_base
          FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1),
        c AS (
          SELECT o_orderstatus, count(*) AS rows_curr,
                 ${Exact.sqlMoneySumCents("o_totalprice")} AS cents_curr
          FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          GROUP BY 1),
        j AS (
          SELECT coalesce(b.o_orderstatus, c.o_orderstatus) AS o_orderstatus,
                 coalesce(rows_base, 0) AS rows_base,
                 coalesce(rows_curr, 0) AS rows_curr,
                 coalesce(cents_base, 0) AS cents_base,
                 coalesce(cents_curr, 0) AS cents_curr
          FROM b FULL OUTER JOIN c ON b.o_orderstatus = c.o_orderstatus),
        shares AS (
          SELECT o_orderstatus, rows_base, rows_curr,
                 CAST((rows_base * 1000000) // (SELECT sum(rows_base) FROM j) AS BIGINT) AS share_ppm_base,
                 CAST((rows_curr * 1000000) // (SELECT sum(rows_curr) FROM j) AS BIGINT) AS share_ppm_curr,
                 CAST(CASE WHEN rows_base > 0 THEN cents_base // rows_base END AS BIGINT) AS avg_cents_base,
                 CAST(CASE WHEN rows_curr > 0 THEN cents_curr // rows_curr END AS BIGINT) AS avg_cents_curr,
                 rows_base = 0 AS appeared,
                 rows_curr = 0 AS vanished
          FROM j)
        SELECT *, abs(share_ppm_base - share_ppm_curr) > 20000 AS share_drifted
        FROM shares""")),

    // DLT substitute: a mini medallion DAG through the pipeline runner —
    // bronze (drop rule) → silver derivation → gold rollup.
    "pl1_pipeline_gold" -> QueryDef(
      build = (s, d) => {
        val pipe = new Pipeline(s)
        pipe.table("bronze_orders",
          rules = Seq(Quality.Rule("price_positive", "o_totalprice > 0", Quality.Drop))) {
          _ => Tables.orders(s, d)
        }
        pipe.table("silver_orders", deps = Seq("bronze_orders")) { in =>
          in("bronze_orders")
            .withColumn("order_year", year(col("o_orderdate")).cast("long"))
            .filter(col("o_orderstatus").isin("F", "O", "P"))
        }
        pipe.table("gold_yearly_revenue", deps = Seq("silver_orders")) { in =>
          in("silver_orders").groupBy("order_year", "o_orderstatus")
            .agg(
              count(lit(1)).as("order_cnt"),
              round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
        }
        pipe.run()("gold_yearly_revenue")
      },
      oracle = Some(s"""
        SELECT year(o_orderdate) AS order_year, o_orderstatus,
               count(*) AS order_cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue
        FROM orders
        WHERE o_totalprice > 0 AND o_orderstatus IN ('F','O','P')
        GROUP BY 1, 2""")),

    // Incremental materialized-view maintenance (the DLT incremental-
    // refresh algebra): seed the per-customer gold aggregate from the v0
    // snapshot, then fold ONLY the v1 change feed into it — inserts /
    // update postimages add, deletes / preimages subtract, decimal-exact.
    // The oracle recomputes the aggregate from scratch on the v1
    // definition, so a hash match PROVES incremental == full recompute.
    // At 100 TB the refresh cost is the CDF size, not the fact table.
    "mv1_incremental_gold" -> QueryDef(
      build = (s, d) => {
        // the shared orders CDF fixture (twin of buildCdfCustomerTable —
        // mv2 consumes the identical table, and its two inline copies of
        // the %10/%13/%7 rules previously had to drift in lockstep)
        val t = new graft.maint.VersionedTable(s, buildCdfOrdersTable(s, d))
        val seeded = graft.ops.IncrementalAgg.init(
          t.read(Some(0)), Seq("o_custkey"), "o_totalprice")
        graft.ops.IncrementalAgg.applyDelta(
            seeded, t.changeFeed(fromVersion = 1), Seq("o_custkey"), "o_totalprice")
          .select(col("o_custkey"), col("cnt").as("order_cnt"),
            round(col("agg_sum").cast("double"), 4).as("revenue"))
      },
      oracle = Some("""
        SELECT o_custkey, count(*) AS order_cnt,
               round(CAST(sum(CAST(CASE WHEN o_orderkey % 7 = 0
                                        THEN o_totalprice + 10.0
                                        ELSE o_totalprice END AS DECIMAL(18,2))) AS DOUBLE), 4) AS revenue
        FROM orders WHERE o_orderkey % 13 <> 0
        GROUP BY o_custkey""")),

    // MV maintenance for NON-self-maintainable aggregates: min/max can't
    // subtract a delete (removing the minimum says nothing about the
    // runner-up), so ops/IncrementalAgg.applyDeltaMinMax splits groups —
    // boundary-untouched groups update algebraically from the feed alone;
    // groups whose bound was deleted recompute via ONE partial aggregate
    // over the base semi-joined to the dirty keys (cost ∝ dirty groups'
    // rows, not the table). The oracle recomputes min/max from scratch on
    // the v1 definition, so a hash match proves the split maintenance ==
    // full recompute, dirty paths included (the %13 deletes clip many
    // per-customer minima/maxima).
    "mv2_incremental_minmax" -> QueryDef(
      build = (s, d) => {
        // the shared orders CDF fixture (see mv1's note)
        val t = new graft.maint.VersionedTable(s, buildCdfOrdersTable(s, d))
        val seeded = graft.ops.IncrementalAgg.initMinMax(
          t.read(Some(0)), Seq("o_custkey"), "o_totalprice")
        graft.ops.IncrementalAgg.applyDeltaMinMax(
            seeded, t.changeFeed(fromVersion = 1), Seq("o_custkey"),
            "o_totalprice", base = t.read(Some(1)))
          .select(col("o_custkey"), col("cnt").as("order_cnt"),
            col("agg_min").cast("double").as("min_price"),
            col("agg_max").cast("double").as("max_price"))
      },
      oracle = Some("""
        WITH v1 AS (
          SELECT o_custkey,
                 CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
                           ELSE o_totalprice END AS DECIMAL(18,2)) AS p
          FROM orders WHERE o_orderkey % 13 <> 0)
        SELECT o_custkey, count(*) AS order_cnt,
               CAST(min(p) AS DOUBLE) AS min_price,
               CAST(max(p) AS DOUBLE) AS max_price
        FROM v1 GROUP BY o_custkey"""),
      bench = true),

    // Data-skipping read (Delta file-stats pruning): cluster orders by
    // o_orderdate (range-partition + sort → selective per-file min/max),
    // then readWhere consults the per-file stats in the version's log
    // entry (on the driver) and scans ONLY
    // the files overlapping the half-year window. `files_pruned` asserts
    // in-plan that the scan touched strictly fewer files than the table
    // holds — the oracle expects literal TRUE, so the PRUNING itself is
    // hash-gated, and the row results prove it lost nothing.
    "v2_data_skipping" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_skip_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice"))
        t.cluster(Seq("o_orderdate"), numFiles = 8)
        // o_orderdate is TIMESTAMP_NTZ (no-timezone parquet annotation) —
        // LocalDateTime literals keep the stats comparison in NTZ space
        val lo = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
        val hi = java.time.LocalDateTime.parse("1996-06-30T00:00:00")
        val pruned = t.readWhere("o_orderdate", lo, hi)
        val filesPruned =
          pruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS files_pruned
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-06-30 00:00:00'""")),

    // M6 with the REAL space-filling curve: OPTIMIZE ZORDER BY
    // (o_orderdate, o_custkey), then prune on the TRAILING dimension
    // alone — the case lexical clustering cannot serve (every
    // lexically-sorted file spans all custkeys). `files_pruned` asserts
    // in-plan that the custkey-only scan skipped files; the oracle
    // expects literal TRUE and recomputes the rows exactly.
    "v3_zorder_skipping" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_zord_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_custkey", "o_totalprice"))
        t.clusterZOrder(Seq("o_orderdate", "o_custkey"), numFiles = 8)
        val pruned = t.readWhere("o_custkey", 100L, 200L)
        val filesPruned =
          pruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS files_pruned
        FROM orders WHERE o_custkey BETWEEN 100 AND 200""")),

    // Hive-style PARTITION COLUMNS (Delta partitioned tables; the
    // reference's event_date layout, ingest_clickstream.py:84 and
    // performance_optimization.py:314-344): write the version partitioned
    // by o_orderstatus, then filter on the partition column through the
    // PLAIN read — Spark's partition discovery turns the predicate into
    // directory-level `PartitionFilters`, so non-matching partitions are
    // never opened (coarser and cheaper than per-file stats: pruning is
    // decided from the listing alone). `partition_pruned` asserts in-plan
    // that the scan carries a real PartitionFilter on o_orderstatus, and
    // `files_pruned` that the stats path ([[readWhere]]) also composes
    // with the partitioned layout — both hash-gated against literal TRUE.
    "v4_partition_pruning" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_hive_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(
          Tables.orders(s, d).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"),
          partitionBy = Seq("o_orderstatus"))
        val pruned = t.read().filter(col("o_orderstatus") === "F")
        val partitionPruned = pruned.queryExecution.executedPlan.toString
          .contains("PartitionFilters: [isnotnull(o_orderstatus#")
        val statsPruned = t.readWhere("o_orderstatus", "F", "F")
        val filesPruned =
          statsPruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("partition_pruned", lit(partitionPruned))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS partition_pruned,
               TRUE AS files_pruned
        FROM orders WHERE o_orderstatus = 'F'""")),

    // General PREDICATE data skipping (maint/StatsPruning — the Delta
    // DataSkippingReader shape): readWhere's single-column range
    // generalized to arbitrary AND/OR/IN predicates compiled onto the
    // per-file min/max stats by interval arithmetic. Here a compound
    // date-range AND status-IN predicate prunes a date-clustered table:
    // the date bounds select few files, the IN conjunct composes, and
    // the same predicate re-applies as the residual row filter (pruning
    // is an optimization, never a correctness dependency). `files_pruned`
    // asserts in-plan that files were skipped — hash-gated vs TRUE.
    "v5_predicate_skipping" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_pred_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"))
        t.cluster(Seq("o_orderdate"), numFiles = 8)
        val pred =
          "o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00' AND " +
            "o_orderdate <= TIMESTAMP_NTZ '1996-06-30 00:00:00' AND " +
            "o_orderstatus IN ('F', 'P')"
        val pruned = t.readFiltered(pred)
        val filesPruned =
          pruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS files_pruned
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-06-30 00:00:00'
          AND o_orderstatus IN ('F', 'P')""")),

    // BLOOM FILTER INDEX (Delta CREATE BLOOMFILTER INDEX parity): point
    // lookups on a high-cardinality column the table is NOT clustered by
    // — o_orderkey in a date-clustered table — are the case min/max stats
    // cannot serve (every file's key range spans the whole space; v5's
    // mapper keeps all files). buildBloomIndex stores k xxhash64 probe
    // positions per value per file; readFiltered probes the index for
    // =/IN predicates and scans only files whose position sets contain
    // all k probes. False positives cost an extra file, never a wrong
    // row. `bloom_pruned` asserts in-plan that the lookup touched fewer
    // files than the table holds — hash-gated vs literal TRUE.
    "v6_bloom_pointlookup" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_bloom_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_custkey", "o_totalprice"))
        t.cluster(Seq("o_orderdate"), numFiles = 8)
        t.buildBloomIndex("o_orderkey")
        val lookup = t.readFiltered("o_orderkey IN (7, 137, 1234)")
        val bloomPruned =
          lookup.inputFiles.length < t.read().inputFiles.length
        lookup.select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("bloom_pruned", lit(bloomPruned))
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice, TRUE AS bloom_pruned
        FROM orders WHERE o_orderkey IN (7, 137, 1234)""")),

    // CAPSTONE: all three skipping layers pruning ONE read. The table is
    // laid out the way a real 100 TB table would be — partitioned by the
    // low-cardinality column (o_orderstatus dirs), range-clustered by
    // date within each partition (tight per-file o_orderdate stats via
    // repartitionByRange + sortWithinPartitions before the partitioned
    // write), bloom-indexed on the high-cardinality key. One readFiltered
    // predicate then composes: the status equality prunes whole partition
    // dirs (their files' status stats are constant), the date range
    // prunes files inside the surviving dirs, and the key IN probes the
    // bloom index — each layer independently sound, their conjunction
    // multiplicative. `files_pruned` hash-gates that the composed scan
    // touched fewer files than the table holds.
    "v7_composed_skipping" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_comp_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice")
        t.write(
          o.repartitionByRange(8, col("o_orderstatus"), col("o_orderdate"))
            .sortWithinPartitions("o_orderstatus", "o_orderdate"),
          partitionBy = Seq("o_orderstatus"))
        t.buildBloomIndex("o_orderkey")
        val pred =
          "o_orderstatus = 'F' AND " +
            "o_orderdate >= TIMESTAMP_NTZ '1995-01-01 00:00:00' AND " +
            "o_orderdate <= TIMESTAMP_NTZ '1996-12-31 00:00:00' AND " +
            "o_orderkey IN (7, 137, 1234, 4242)"
        val pruned = t.readFiltered(pred)
        val filesPruned =
          pruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            coalesce(round(Exact.moneySum("o_totalprice"), 4), lit(0.0))
              .as("revenue"))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               coalesce(round(${Exact.sqlMoneySum("o_totalprice")}, 4), 0.0) AS revenue,
               TRUE AS files_pruned
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                              AND TIMESTAMP '1996-12-31 00:00:00'
          AND o_orderkey IN (7, 137, 1234, 4242)""")),

    // M7 as LIQUID-CLUSTERING maintenance, end to end: seed → full
    // cluster → two appends (each commit writes ONLY its new rows; head
    // files hard-link-carry with their stats) → clusterIncremental
    // rewrites ONLY the files appended since the clustering baseline.
    // Three in-plan booleans gate the maintenance economics in the hash:
    // the clustered baseline carried by name, no appended file survived
    // the increment, and the stats-pruned range read skipped files over
    // the mixed carried+increment layout. The oracle recomputes the rows
    // from scratch, so a hash match proves three incremental steps lost
    // nothing. At 100 TB this is the append-mostly table's nightly
    // OPTIMIZE: cost ∝ data since the last increment, never table size.
    "v8_incremental_clustering" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_liq_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        val o = Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_totalprice")
        t.write(o.filter(col("o_orderkey") % 3 === 0))
        t.cluster(Seq("o_orderdate"), numFiles = 4) // v1: clustered baseline
        def names(v: Option[Long] = None): Set[String] =
          t.read(v).inputFiles.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        val clustered = names()
        t.append(o.filter(col("o_orderkey") % 3 === 1)) // v2
        t.append(o.filter(col("o_orderkey") % 3 === 2)) // v3
        val appended = names() -- clustered
        t.clusterIncremental(Seq("o_orderdate"), numFiles = 2) // v4
        val head = names()
        val carriedClustered = clustered.subsetOf(head)
        val rewroteOnlyAppended = (head & appended).isEmpty &&
          (head -- clustered).nonEmpty
        val lo = java.time.LocalDateTime.parse("1996-01-01T00:00:00")
        val hi = java.time.LocalDateTime.parse("1996-06-30T00:00:00")
        val pruned = t.readWhere("o_orderdate", lo, hi)
        val filesPruned =
          pruned.inputFiles.length < t.read().inputFiles.length
        pruned.agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("carried_clustered", lit(carriedClustered))
          .withColumn("rewrote_only_appended", lit(rewroteOnlyAppended))
          .withColumn("files_pruned", lit(filesPruned))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS carried_clustered,
               TRUE AS rewrote_only_appended,
               TRUE AS files_pruned
        FROM orders
        WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1996-06-30 00:00:00'""")),

    // S6/M2/M3: time travel + history over the versioned parquet table —
    // v0 = pre-cutoff snapshot, v1 = full data; read both + the diff.
    "v1_time_travel" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_tt_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        val o = Tables.orders(s, d)
        t.write(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
        t.write(o)
        val v0 = t.read(Some(0)).agg(count(lit(1)).as("c"))
        val v1 = t.read(Some(1)).agg(count(lit(1)).as("c"))
        val added = t.read(Some(1)).select("o_orderkey")
          .except(t.read(Some(0)).select("o_orderkey"))
          .agg(count(lit(1)).as("c"))
        v0.select(col("c").as("v0_rows"))
          .crossJoin(v1.select(col("c").as("v1_rows")))
          .crossJoin(added.select(col("c").as("added_rows")))
          .withColumn("n_versions", lit(2L))
      },
      oracle = Some("""
        SELECT (SELECT count(*) FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00') AS v0_rows,
               (SELECT count(*) FROM orders) AS v1_rows,
               (SELECT count(DISTINCT o_orderkey) FROM orders
                WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
                                         WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00')) AS added_rows,
               CAST(2 AS BIGINT) AS n_versions""")),

    // Deletion-vector-style logical delete: DELETE WHERE commits as pure
    // metadata (a stored anti-predicate referencing the prior version's
    // files) — zero bytes rewritten, O(1) commit at any table size.
    // `zero_rewrite` asserts in-plan that the physical bytes are
    // untouched; the oracle recomputes the surviving rows exactly.
    "g2_logical_delete" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_dv_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
        val bytesBefore = t.detail().collect()(0).getAs[Long]("size_bytes")
        t.deleteWhere("o_orderstatus = 'F'")
        val zeroRewrite =
          t.detail().collect()(0).getAs[Long]("size_bytes") == bytesBefore
        t.read().agg(
            count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("zero_rewrite", lit(zeroRewrite))
      },
      oracle = Some(s"""
        SELECT count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS zero_rewrite
        FROM orders WHERE o_orderstatus <> 'F'""")),

    // V9: DYNAMIC partition pruning — the runtime half of the pruning
    // story (v4 is the static half): the fact is partitioned on the join
    // key, the filter lives on a broadcast dimension, and Spark injects
    // a dynamicpruningexpression into the fact scan's PartitionFilters
    // so only the dim-selected partitions are ever read. This is THE
    // star-schema scan killer at 100 TB — a date-partitioned fact joined
    // to a filtered calendar dim reads days, not years, with no static
    // predicate on the fact at all. The DPP injection is gated IN-PLAN
    // (dpp_pinned must be TRUE for the oracle to match), the same
    // self-pinning contract as v3/v4. Partition values include
    // '4-NOT SPECIFIED' — a space — so this also exercises the
    // URI-encoding path of the partitioned write/read cycle.
    "v9_dynamic_partition_pruning" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_dpp_").toString
        val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
        t.write(
          Tables.orders(s, d).select(
            "o_orderkey", "o_orderpriority", "o_totalprice"),
          partitionBy = Seq("o_orderpriority"))
        // the dim must be a FILE source: a LocalRelation dim folds the
        // tier filter into its rows during optimization, and Spark's
        // PartitionPruning rule then sees no selective predicate to
        // prune with (measured: no DPP with an in-memory dim)
        s.createDataFrame(Seq(
          ("1-URGENT", "hot"), ("2-HIGH", "hot"), ("3-MEDIUM", "warm"),
          ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")))
          .toDF("o_orderpriority", "tier")
          .write.parquet(s"$scratch/tiers")
        val tiers = broadcast(
          s.read.parquet(s"$scratch/tiers").filter(col("tier") === "hot"))
        val joined = t.read().join(tiers, "o_orderpriority")
        val dppPinned = joined.queryExecution.executedPlan.toString
          .contains("dynamicpruningexpression")
        joined.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
          .withColumn("dpp_pinned", lit(dppPinned))
      },
      oracle = Some(s"""
        SELECT o_orderpriority, count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue,
               TRUE AS dpp_pinned
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY 1""")),

    // M10: GDPR cascade erasure — delete requested subjects across the
    // table graph (customer → orders → lineitem), report remaining counts.
    "g1_gdpr_erasure" -> QueryDef(
      build = (s, d) => {
        val erase = Tables.customer(s, d)
          .filter(col("c_acctbal") < 0).select(col("c_custkey").as("erase_key"))
        val customers = Tables.customer(s, d)
          .join(erase, col("c_custkey") === col("erase_key"), "left_anti")
        val orders = Tables.orders(s, d)
          .join(erase, col("o_custkey") === col("erase_key"), "left_anti")
        val lineitem = Tables.lineitem(s, d)
          .join(orders.select("o_orderkey"), col("l_orderkey") === col("o_orderkey"), "left_semi")
        customers.agg(count(lit(1)).as("cnt")).select(lit("customer").as("table_name"), col("cnt"))
          .unionByName(orders.agg(count(lit(1)).as("cnt")).select(lit("orders").as("table_name"), col("cnt")))
          .unionByName(lineitem.agg(count(lit(1)).as("cnt")).select(lit("lineitem").as("table_name"), col("cnt")))
      },
      oracle = Some("""
        WITH erase AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0),
        kept_orders AS (SELECT * FROM orders WHERE o_custkey NOT IN (SELECT k FROM erase))
        SELECT 'customer' AS table_name,
               (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM erase)) AS cnt
        UNION ALL
        SELECT 'orders', (SELECT count(*) FROM kept_orders)
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM kept_orders))"""))
  )

  /** The cdf1 fixture, reusable (src9 publishes the same table through
    * the sharing protocol and reads its feed back): v0 = 90% seed
    * snapshot, v1 = inserts/updates/deletes, committed with change feed;
    * returns the table root. */
  private[graft] def buildCdfCustomerTable(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val scratch = graft.core.Scratch.dir("graft_cdf_").toString
    val t = new graft.maint.VersionedTable(s, s"$scratch/customer")
    val c = Tables.customer(s, d).select("c_custkey", "c_name", "c_acctbal")
    val v0 = c.filter(col("c_custkey") % 10 =!= 0)
    val v1 = c.filter(col("c_custkey") % 13 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + 100.0)
          .otherwise(col("c_acctbal")))
    t.writeWithChangeFeed(v0, Seq("c_custkey"), "seed", "2001-09-01 00:00:00")
    t.writeWithChangeFeed(v1, Seq("c_custkey"), "merge", "2001-09-02 00:00:00")
    s"$scratch/customer"
  }

  /** The mv1/mv2 fixture, one builder for both: orders with v0 = 90%
    * seed, v1 = inserts (+%10 keys) / +10.0-price updates (%7 keys) /
    * deletes (%13 keys), committed with change feed; returns the table
    * root. Both MV oracles recompute from this v1 definition. */
  private[graft] def buildCdfOrdersTable(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    val scratch = graft.core.Scratch.dir("graft_mv_").toString
    val t = new graft.maint.VersionedTable(s, s"$scratch/orders")
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
    val v0 = o.filter(col("o_orderkey") % 10 =!= 0)
    val v1 = o.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
    t.writeWithChangeFeed(v0, Seq("o_orderkey"), "seed", "2001-09-01 00:00:00")
    t.writeWithChangeFeed(v1, Seq("o_orderkey"), "merge", "2001-09-02 00:00:00")
    s"$scratch/orders"
  }

  /** DuckDB twin of the cdf1/src9 feed read (fromVersion = 1): the v0→v1
    * diff expressed as a FULL JOIN, one branch per change type. */
  private[queries] val sqlCdf1Oracle: String = """
        WITH v0 AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 10 <> 0),
        v1 AS (
          SELECT c_custkey, c_name,
                 CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
          FROM customer WHERE c_custkey % 13 <> 0),
        j AS (
          SELECT coalesce(v0.c_custkey, v1.c_custkey) AS k,
                 v0.c_name AS pre_name, v0.c_acctbal AS pre_bal,
                 v1.c_name AS post_name, v1.c_acctbal AS post_bal,
                 CASE WHEN v0.c_custkey IS NULL THEN 'insert'
                      WHEN v1.c_custkey IS NULL THEN 'delete'
                      WHEN v0.c_acctbal <> v1.c_acctbal OR v0.c_name <> v1.c_name THEN 'update'
                      ELSE 'none' END AS typ
          FROM v0 FULL JOIN v1 ON v0.c_custkey = v1.c_custkey)
        SELECT k AS c_custkey, post_name AS c_name, post_bal AS c_acctbal,
               'insert' AS _change_type, CAST(1 AS BIGINT) AS _commit_version,
               '2001-09-02 00:00:00' AS _commit_ts
        FROM j WHERE typ = 'insert'
        UNION ALL
        SELECT k, pre_name, pre_bal, 'delete', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'delete'
        UNION ALL
        SELECT k, pre_name, pre_bal, 'update_preimage', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'update'
        UNION ALL
        SELECT k, post_name, post_bal, 'update_postimage', CAST(1 AS BIGINT), '2001-09-02 00:00:00'
        FROM j WHERE typ = 'update'"""
}

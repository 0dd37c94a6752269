package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.sources.Ingest

/** SURVEY.md §2.1 source/sink operators as declared queries. Bronze
  * ingestion is exercised by round-tripping the parquet testdata through
  * JSON/CSV files in a scratch dir, then reading them back with the
  * rescue-column readers — schema enforcement, malformed-row capture, and
  * metadata columns all on the read path (S1/S2/S9/S11/S12/S13 shapes).
  *
  * Scale notes: the readers are plain file sources — schema is explicit
  * (no inference scan), rescue adds no second pass, and metadata columns
  * are constant-folded per file. At 100 TB ingestion parallelism = file
  * count; nothing here serializes through the driver.
  */
object Sources extends QueryGroup {

  private val customerSchema = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  def defs: Map[String, QueryDef] = Map(
    // S1: JSON scan with schema + rescue + metadata; one malformed line is
    // planted and must land in _rescued_data, not kill the batch.
    "src1_json_rescue" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_json_").toString
        Tables.customer(s, d).write.mode("overwrite").json(scratch)
        // plant a malformed record
        Files.writeString(java.nio.file.Paths.get(scratch, "bad.json"),
          """{"c_custkey": "not-a-number", "c_name": 12}""" + "\n")
        val df = Ingest.json(s, scratch, customerSchema)
        df.agg(
          count(lit(1)).as("total_rows"),
          sum(when(col("_rescued_data").isNotNull, 1L).otherwise(0L)).as("rescued_rows"),
          sum(when(col("_ingest_file").isNotNull, 1L).otherwise(0L)).as("with_file_meta"),
          countDistinct(col("c_custkey")).as("distinct_keys"))
      },
      oracle = Some("""
        SELECT count(*) + 1 AS total_rows,
               CAST(1 AS BIGINT) AS rescued_rows,
               count(*) + 1 AS with_file_meta,
               count(DISTINCT c_custkey) AS distinct_keys
        FROM customer""")),

    // S2: CSV scan with header/delimiter/null options + rescue.
    "src2_csv_ingest" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_csv_").toString
        Tables.customer(s, d).write.mode("overwrite")
          .option("header", "true").option("sep", "|").csv(scratch)
        Ingest.csv(s, scratch, customerSchema, delimiter = "|")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            round(Exact.moneySum("c_acctbal"), 4).as("balance_sum"))
      },
      oracle = Some(s"""
        SELECT c_mktsegment, count(*) AS cnt,
               round(${Exact.sqlMoneySum("c_acctbal")}, 4) AS balance_sum
        FROM customer GROUP BY c_mktsegment""")),

    // S12: JSON export sink (DSAR per-segment export) then read-back.
    "src3_json_export_roundtrip" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_dsar_").toString
        Ingest.exportJson(
          Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment"),
          scratch, "c_mktsegment")
        s.read.json(scratch)
          .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      },
      oracle = Some(
        "SELECT c_mktsegment, count(*) AS cnt FROM customer GROUP BY c_mktsegment")),

    // S8: federated JDBC scan — the dimension lives in a relational store
    // (embedded Derby) and is read back over JDBC with filter pushdown,
    // then joined against the lakehouse fact table (the
    // lakehouse_federation.py shape; Spark pushes the predicate to the
    // remote engine, visible as PushedFilters on the JDBCRelation).
    "src5_jdbc_federated" -> QueryDef(
      build = (s, d) => {
        // keyed on the PATH VALUE (stable), not identityHashCode: equal
        // paths reuse one in-memory DB (the overwrite write refreshes
        // it) instead of leaking a new Derby database per string
        // instance for the JVM's lifetime
        val url = s"jdbc:derby:memory:graft_fed_${math.abs(d.hashCode.toLong)};create=true"
        val props = new java.util.Properties()
        props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        Tables.nation(s, d).write.mode("overwrite")
          .jdbc(url, "nation_dim", props)
        val nationJdbc = s.read.jdbc(url, "nation_dim", props)
          .filter(col("n_regionkey") < 3)
        Tables.customer(s, d)
          .join(broadcast(nationJdbc), col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("customer_cnt"),
            round(Exact.moneySum("c_acctbal"), 4).as("balance_sum"))
      },
      oracle = Some(s"""
        SELECT n_name, count(*) AS customer_cnt,
               round(${Exact.sqlMoneySum("c_acctbal")}, 4) AS balance_sum
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey < 3
        GROUP BY n_name""")),

    // S13: generated in-memory source (createDataFrame) joined against a
    // file table — the test-fixture path.
    "src4_inmemory_source" -> QueryDef(
      build = (s, d) => {
        import s.implicits._
        val tiers = Seq(
          ("BUILDING", 1L), ("AUTOMOBILE", 2L), ("MACHINERY", 3L),
          ("HOUSEHOLD", 4L), ("FURNITURE", 5L))
          .toDF("segment", "tier")
        Tables.customer(s, d)
          .join(broadcast(tiers), col("c_mktsegment") === col("segment"), "left")
          .groupBy("tier").agg(count(lit(1)).as("cnt"))
      },
      oracle = Some("""
        WITH tiers(segment, tier) AS (VALUES
          ('BUILDING', CAST(1 AS BIGINT)), ('AUTOMOBILE', 2), ('MACHINERY', 3),
          ('HOUSEHOLD', 4), ('FURNITURE', 5))
        SELECT tier, count(*) AS cnt
        FROM customer LEFT JOIN tiers ON c_mktsegment = segment
        GROUP BY tier""")),

    // SRC6: columnar-format breadth — ORC sink + source roundtrip (ORC is
    // the other columnar format Spark ships natively; same predicate/
    // projection pushdown machinery as parquet). Write a projection of
    // orders to ORC partitioned by status, read it back with a partition
    // filter, aggregate — the oracle sees only the original parquet, so a
    // roundtrip fault (type mangling, lost rows, broken pruning) breaks
    // the hash.
    "src6_orc_roundtrip" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_orc_").toString
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"))
          .write.mode("overwrite").partitionBy("o_orderstatus").orc(scratch)
        s.read.orc(scratch)
          .filter(col("o_orderstatus") === "F")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            Exact.moneySum("o_totalprice").as("sum_d"))
          .select(col("o_orderstatus"), col("cnt"),
            round(col("sum_d"), 4).as("total_price"))
      },
      oracle = Some(s"""
        SELECT o_orderstatus, count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS total_price
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY o_orderstatus""")),

    // Schema evolution on the read path (the Delta `mergeSchema` /
    // autoMerge shape, reference delta_lake_features.py schema-evolution
    // demo): epoch 0 was written BEFORE the status column existed, epoch 1
    // after. A mergeSchema scan unions the schemas — pre-evolution rows
    // surface the new column as NULL — and the aggregate proves no rows or
    // values were lost across the schema change.
    "src7_schema_evolution" -> QueryDef(
      build = (s, d) => {
        val scratch = graft.core.Scratch.dir("graft_evo_").toString
        val o = Tables.orders(s, d)
        o.filter(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$scratch/epoch=0")
        o.filter(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .write.mode("overwrite").parquet(s"$scratch/epoch=1")
        s.read.option("mergeSchema", "true")
          .parquet(s"$scratch/epoch=0", s"$scratch/epoch=1")
          .groupBy(coalesce(col("o_orderstatus"), lit("_pre_evolution")).as("status"))
          .agg(count(lit(1)).as("cnt"),
            round(Exact.moneySum("o_totalprice"), 4).as("revenue"))
      },
      // oracle buckets by NULLness like the Spark side (which can only see
      // column ABSENCE as NULL after the merged read) — a future NULL
      // status on an odd key must land in _pre_evolution on both engines.
      // NB oracle strings are whitespace-collapsed to one line: never put
      // `--` SQL comments in them.
      oracle = Some(s"""
        SELECT CASE WHEN o_orderkey % 2 = 1 AND o_orderstatus IS NOT NULL
                    THEN o_orderstatus
                    ELSE '_pre_evolution' END AS status,
               count(*) AS cnt,
               round(${Exact.sqlMoneySum("o_totalprice")}, 4) AS revenue
        FROM orders GROUP BY 1""")),

    // S7: sharing-protocol scan (delta_sharing_recipient.py:122-135 —
    // format("...Sharing").load("<profile>#share.schema.table")). The
    // provider side publishes `customer` into a local share manifest and
    // mints a tokened profile (delta_sharing_provider.py's CREATE SHARE /
    // ADD TABLE / grant flow); the recipient side reads it back through
    // the graftSharing DataSource V2, which resolves the fully-qualified
    // name and DELEGATES the scan to Spark's native parquet table — so
    // the filter below pushes into the shared scan (PushedFilters,
    // spec-asserted in PushdownSpec). The oracle sees only the original
    // parquet: a resolver fault (wrong table, lost rows, broken token
    // plumbing) breaks the hash.
    "src8_shared_table_scan" -> QueryDef(
      build = (s, d) => {
        val endpoint = graft.core.Scratch.dir("graft_share_").toString
        val profile = graft.sources.SharingProtocol.publishLocal(
          endpoint, share = "analytics", schema = "crm", table = "customer",
          location = s"$d/customer.parquet", token = "graft-recipient-1")
        s.read.format("graftSharing")
          .load(s"$profile#analytics.crm.customer")
          .filter(col("c_acctbal") > 5000.0)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"),
            round(Exact.moneySum("c_acctbal"), 4).as("balance_sum"))
      },
      oracle = Some(s"""
        SELECT c_mktsegment, count(*) AS cnt,
               round(${Exact.sqlMoneySum("c_acctbal")}, 4) AS balance_sum
        FROM customer WHERE c_acctbal > 5000.0
        GROUP BY c_mktsegment""")),

    // S7 change-feed half (delta_sharing_recipient.py:152-158 —
    // `.option("readChangeFeed","true").option("startingVersion",N)`):
    // the provider publishes a VersionedTable ROOT; the recipient reads
    // its committed change feed through the sharing source, which
    // resolves versions >= startingVersion to their feed dirs and scans
    // them with the native parquet table — incremental sync without
    // re-reading the shared snapshot (rows carry _change_type /
    // _commit_version). Same fixture and oracle as cdf1, so the sharing
    // path is held to the exact hash the direct changeFeed() read is.
    "src9_shared_cdf" -> QueryDef(
      build = (s, d) => {
        val root = Governance.buildCdfCustomerTable(s, d)
        val endpoint = graft.core.Scratch.dir("graft_share_cdf_").toString
        val profile = graft.sources.SharingProtocol.publishLocal(
          endpoint, share = "analytics", schema = "crm", table = "customer_cdf",
          location = root, token = "graft-recipient-1")
        s.read.format("graftSharing")
          .option("readChangeFeed", "true")
          .option("startingVersion", 1)
          .load(s"$profile#analytics.crm.customer_cdf")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("_change_type"), col("_commit_version"),
            date_format(col("_commit_timestamp"), "yyyy-MM-dd HH:mm:ss").as("_commit_ts"))
      },
      oracle = Some(Governance.sqlCdf1Oracle))
  )
}

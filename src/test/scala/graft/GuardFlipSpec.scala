package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{ChangeFeed, Guards, IncrementalAgg, PageRank, Triangles}

/** Every broadcast guard must actually FLIP: below the cap the plan
  * carries the broadcast hint, above it the original keyed-shuffle plan
  * stands, and both branches are row-identical. Without these, the
  * over-guard fallback branches would only ever execute on a >cap corpus
  * — i.e. never in any local run — so a regression there would ship
  * silently (round-15 verdict item 3). The keyed branch is forced with
  * `Guards.keyed`, which puts every guard built inside it over its cap.
  */
class GuardFlipSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Pre-AQE physical plan — deterministic join strategies (checkpointed
    * inputs have no stats, so nothing auto-broadcasts; only our explicit
    * hints produce BroadcastHashJoin here). */
  private def physical(df: DataFrame): String =
    df.queryExecution.sparkPlan.toString

  test("Triangles edge-cap: shuffle branch is broadcast-free and row-identical") {
    val edges = (for {
      a <- 1L to 12L; b <- (a + 1) to 12L if (a + b) % 3 != 0
    } yield (a, b)).toDF("a", "b")
    val bcDf = Triangles.participation(edges)
    val shDf = Guards.keyed(Triangles.participation(edges))
    assert(physical(bcDf).contains("BroadcastHashJoin"),
      "under-cap branch must broadcast the degree/adjacency tables")
    assert(!physical(shDf).contains("BroadcastHashJoin"),
      "over-cap branch must not broadcast anything")
    val (bc, sh) = (rows(bcDf), rows(shDf))
    assert(bc == sh, s"branch outputs diverge:\n$bc\nvs\n$sh")
    assert(bc.nonEmpty)
  }

  test("PageRank node-caps: shuffle branch is row-identical") {
    val edges = Seq(
      (1L, 2L, 1L), (1L, 3L, 2L), (2L, 3L, 1L), (3L, 1L, 1L),
      (4L, 1L, 3L), (4L, 5L, 1L), (5L, 4L, 1L), (2L, 5L, 2L))
      .toDF("src", "dst", "w")
    // the keyed branch cuts lineage every round and the broadcast branch
    // only every 8 rounds (none in a 3-round run), so the two plans differ
    // in shape and the branch equivalence is pinned on rows; micro-rank
    // arithmetic is exact longs, so equality is bitwise
    val bc = rows(PageRank.run(edges, iterations = 3))
    val sh = rows(Guards.keyed(PageRank.run(edges, iterations = 3)))
    assert(bc == sh, s"branch outputs diverge:\n$bc\nvs\n$sh")
    assert(bc.nonEmpty)
  }

  test("linkPrediction deg/anti caps: shuffle branch is broadcast-free and row-identical") {
    // gr5's shape (support-thresholded edges) exercises BOTH guards: the
    // wedge-side degree broadcast and the closing anti-join broadcast
    val bcDf = graft.queries.Graph.linkPrediction(spark, sf, cap = 200,
      minSupport = 2)
    val shDf = Guards.keyed(graft.queries.Graph.linkPrediction(spark, sf,
      cap = 200, minSupport = 2))
    assert(physical(bcDf).contains("BroadcastHashJoin"),
      "under-cap branch must broadcast the center table and the edge set")
    assert(!physical(shDf).contains("BroadcastHashJoin"),
      "over-cap branch must not broadcast anything")
    val (bc, sh) = (rows(bcDf), rows(shDf))
    assert(bc == sh, s"branch outputs diverge: ${bc.size} vs ${sh.size} rows")
    assert(bc.nonEmpty)
  }

  test("d14 batch-cap: keyed-join branch is row-identical") {
    val bc = rows(graft.queries.Dedup.sequentialAdmission(spark, sf))
    val sh = rows(Guards.keyed(graft.queries.Dedup.sequentialAdmission(spark, sf)))
    assert(bc == sh, s"branch outputs diverge: ${bc.size} vs ${sh.size} rows")
    assert(bc.nonEmpty)
  }

  test("min/max dirty-key cap: keyed semi branch is broadcast-free and row-identical") {
    val v0 = Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 15.0),
      (4L, "b", 5.0), (5L, "b", 9.0), (6L, "c", 7.0))
      .toDF("id", "grp", "amount")
    // deleting a's minimum hits its boundary (dirty: recomputed from the
    // base through the guarded semi-join); b's interior update and c's
    // insert stay clean
    val v1 = Seq((2L, "a", 20.0), (3L, "a", 15.0), (4L, "b", 5.0),
      (5L, "b", 6.5), (6L, "c", 7.0), (7L, "c", 3.0))
      .toDF("id", "grp", "amount")
    def refresh() = IncrementalAgg.applyDeltaMinMax(
      IncrementalAgg.initMinMax(v0, Seq("grp"), "amount"),
      ChangeFeed.diff(v0, v1, Seq("id")), Seq("grp"), "amount", base = v1)
    val bcDf = refresh()
    val shDf = Guards.keyed(refresh())
    // these local inputs carry size stats through the checkpoint, so
    // Catalyst would auto-broadcast them; with that off, only the guard's
    // explicit hint can produce a BroadcastHashJoin
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val auto = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      assert(physical(bcDf).contains("BroadcastHashJoin"),
        "under-cap branch must broadcast the dirty keys")
      assert(!physical(shDf).contains("BroadcastHashJoin"),
        "over-cap branch must not broadcast anything")
    } finally spark.conf.set(key, auto)
    val (bc, sh) = (rows(bcDf), rows(shDf))
    assert(bc == sh, s"branch outputs diverge:\n$bc\nvs\n$sh")
    assert(bc.contains("[a,2,15.00,20.00]"), bc)
  }
}

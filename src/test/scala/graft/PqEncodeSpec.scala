package graft

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.ops.IvfIndex

/** The native pq_encode kernel must produce BIT-identical codes to the
  * join-based encode it replaced (same left-to-right squared-L2 fold,
  * same min(struct(d2, rnk)) tie-break, same NaN-greatest ordering), and
  * stay inside whole-stage codegen.
  */
class PqEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val NSub = IvfIndex.NSub
  private val SubDim = 4
  private val K = 23

  /** Statically unrolled squared L2 over one subspace (SubDim = 4 terms,
    * left-to-right adds — the oracle's list_sum fold order). */
  private def l2sq(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    (1 to SubDim).map { i =>
      (element_at(a, i) - element_at(b, i)) * (element_at(a, i) - element_at(b, i))
    }.reduce(_ + _)

  /** The join-based encode the kernel replaced — the bit-parity
    * reference: per (vector, subspace) the min(struct(d2, rnk)) over a
    * broadcast join with the codebook. */
  private def encodeCodesJoinForm(v: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val aggs = (1 to NSub).map { si =>
      min(when(col("s") === si,
        struct(l2sq(col("sv"), col("cv")).as("d2"), col("rnk")))).as(s"c$si")
    }
    IvfIndex.subspacesOf(v).join(broadcast(cb), "s")
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("vec_id"),
        array((1 to NSub).map(si => col(s"c$si").getField("rnk")): _*).as("codes"))
  }

  private def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
    df.collect().map(r =>
      r.getLong(0) -> r.getSeq[Int](1).toList.map(identity)).toMap

  test("pq_encode matches the join-form encode on a random corpus") {
    val rnd = new Random(11)
    val vecs = (1 to 300).map(i =>
      (i.toLong, Array.fill(NSub * SubDim)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "ne")
    val cb = (for { s <- 1 to NSub; r <- 1 to K } yield
      (s, r, Array.fill(SubDim)(rnd.nextDouble() * 2 - 1)))
      .toDF("s", "rnk", "cv")
    val native = codesOf(IvfIndex.encodeCodes(vecs, cb))
    val joined = codesOf(encodeCodesJoinForm(vecs, cb))
    assert(native == joined)
    assert(native.size == 300)
    assert(native.values.forall(c => c.length == NSub && c.forall(x => x >= 1 && x <= K)))
  }

  test("pq_encode ties resolve to the lowest rank, like min(struct(d2, rnk))") {
    val vecs = Seq((1L, Array.fill(NSub * SubDim)(0.5))).toDF("vec_id", "ne")
    // every centroid identical → every distance ties → rnk 1 must win
    val cb = (for { s <- 1 to NSub; r <- 1 to 5 } yield
      (s, r, Array.fill(SubDim)(0.25))).toDF("s", "rnk", "cv")
    val native = codesOf(IvfIndex.encodeCodes(vecs, cb))
    val joined = codesOf(encodeCodesJoinForm(vecs, cb))
    assert(native == joined)
    assert(native(1L) == List.fill(NSub)(1))
  }

  test("pq_encode NaN slices match the join form (NaN sorts greatest)") {
    val rnd = new Random(13)
    // subspace 3 of the vector is NaN → its distances are all NaN → the
    // all-NaN argmin keeps rank 1 in both forms; other subspaces normal
    val ne = Array.tabulate(NSub * SubDim)(i =>
      if (i / SubDim == 2) Double.NaN else rnd.nextDouble())
    val vecs = Seq((1L, ne)).toDF("vec_id", "ne")
    val cb = (for { s <- 1 to NSub; r <- 1 to K } yield
      (s, r, Array.fill(SubDim)(rnd.nextDouble() * 2 - 1)))
      .toDF("s", "rnk", "cv")
    val native = codesOf(IvfIndex.encodeCodes(vecs, cb))
    val joined = codesOf(encodeCodesJoinForm(vecs, cb))
    assert(native == joined)
    assert(native(1L)(2) == 1, "all-NaN subspace must keep rank 1")
  }

  test("pq_encode stays inside whole-stage codegen and plans zero exchanges") {
    val rnd = new Random(17)
    val vecs = (1 to 50).map(i =>
      (i.toLong, Array.fill(NSub * SubDim)(rnd.nextDouble())))
      .toDF("vec_id", "ne").repartition(3) // defeat LocalTableScan folding
    val cb = (for { s <- 1 to NSub; r <- 1 to 7 } yield
      (s, r, Array.fill(SubDim)(rnd.nextDouble()))).toDF("s", "rnk", "cv")
    val df = IvfIndex.encodeCodes(vecs, cb)
    assert(df.count() == 50)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode"))
    // the encode never shuffles the VECTOR side (the old join form keyed
    // an exchange on vec_id); the codebook side's tiny collect_list
    // aggregation exchanges 16 metadata rows and is not the point here
    assert(!plan.contains("hashpartitioning(vec_id"),
      s"encode shuffled the vector side:\n$plan")
  }
}

package graft.ops

import scala.util.DynamicVariable

/** The one broadcast rule. Every op that chooses between broadcasting a
  * small side and the keyed (shuffled, AQE-skew-splittable) join asks
  * [[fits]]; no site keeps its own cap.
  */
object Guards {

  /** Row budget for a broadcast side. The guarded sides are node- or
    * batch-sided, one or two flat longs per row, so 4M rows are ≈64 MB
    * of payload before UnsafeRow/HashedRelation overhead. */
  val Rows = 4000000L

  /** The one measured exception: the link-prediction closing anti-join,
    * whose keyed form costs only a sort of the already (x, y)-partitioned
    * scores plus the edge side's exchange. Broadcasting the edge set
    * wins only when it is genuinely tiny (gr5's 3.6k support-thresholded
    * edges: −21 %); at gr4/gr4r's 1.2M edges the broadcast build and
    * ship measured +71 %. */
  val AntiJoinRows = 250000L

  private val forceKeyed = new DynamicVariable(false)

  /** True when a side of `rows` rows may be broadcast under `cap`.
    * Inside [[keyed]] it is false and `rows` is never evaluated, so no
    * count job runs. */
  def fits(rows: => Long, cap: Long = Rows): Boolean =
    !forceKeyed.value && rows <= cap

  /** Runs `body` with every guard on its keyed branch: the shuffled
    * regime a corpus past every budget would take. Scoped to `body` on
    * the calling thread (a `DynamicVariable`). */
  def keyed[A](body: => A): A = forceKeyed.withValue(true)(body)
}

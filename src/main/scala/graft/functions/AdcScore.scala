package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen ADC (asymmetric distance computation) accumulator:
  * Σ_s lut[s][codes[s]] over a per-query lookup table (array<array<double>>,
  * 1-based outer index per PQ subspace) and a vector's code array
  * (array<int>, 1-based centroid ranks).
  *
  * The DataFrame-level formulation this replaces — NSub chained
  * `element_at(element_at(lut, s), element_at(codes, s))` terms — is
  * codegen'd but pays, PER (query, vector) PAIR, NSub separate nested-array
  * extractions: each outer `element_at(lut, s)` materializes an
  * UnsafeArrayData view object and re-runs null/bounds checks for both
  * levels, so the hot ADC scan allocates 16 short-lived array views per
  * scored pair. This expression compiles to ONE primitive loop
  * (`doGenCode`): a single pass over the codes, one `getArray` + `getDouble`
  * per subspace, no per-term expression dispatch — the vec_dot tier for the
  * e5/e16 hot path (guide: codegen/expressions).
  *
  * Determinism: strictly sequential left-to-right accumulation, the same
  * fold order as the chained adds it replaces (and DuckDB's list_sum), so
  * results stay bit-identical.
  *
  * Null semantics match the fold: any null lookup (null code, null inner
  * table, null table cell) or an outer length mismatch yields null. The one
  * deliberate divergence: a code outside its table's 1..k range — where the
  * ANSI `element_at` fold raises INVALID_ARRAY_INDEX — yields null here.
  * Codes are produced by IvfIndex.encodeCodes as argmin ranks over the same
  * codebook the LUT is built from, so the out-of-range case is unreachable
  * for every declared query; the null keeps the kernel total instead of
  * wiring an internal error class.
  */
case class AdcScore(left: Expression, right: Expression)
  extends BinaryExpression {

  // left = lut, right = codes. No implicit casts (the VecDot posture):
  // callers pass array<array<double>> and array<int> exactly.
  override def checkInputDataTypes(): TypeCheckResult = {
    val lutOk = left.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val codesOk = right.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (lutOk && codesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adc_score expects (array<array<double>>, array<int>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = DoubleType

  // always nullable: length mismatch / null lookups yield null even for
  // non-null inputs (keeps codegen's isNull slot alive for the branches)
  override def nullable: Boolean = true

  override def prettyName: String = "adc_score"

  override protected def nullSafeEval(l: Any, c: Any): Any = {
    val lut = l.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (lut.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (codes.isNullAt(i) || lut.isNullAt(i)) return null
      val tbl = lut.getArray(i)
      val code = codes.getInt(i)
      if (code < 1 || code > tbl.numElements() || tbl.isNullAt(code - 1))
        return null
      acc += tbl.getDouble(code - 1)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val tbl = ctx.freshName("tbl")
      val code = ctx.freshName("code")
      s"""
         |final int $n = $c.numElements();
         |if ($l.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($c.isNullAt($i) || $l.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final org.apache.spark.sql.catalyst.util.ArrayData $tbl = $l.getArray($i);
         |    final int $code = $c.getInt($i);
         |    if ($code < 1 || $code > $tbl.numElements() || $tbl.isNullAt($code - 1)) {
         |      ${ev.isNull} = true; break;
         |    }
         |    $acc += $tbl.getDouble($code - 1);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScore =
    copy(left = newLeft, right = newRight)
}

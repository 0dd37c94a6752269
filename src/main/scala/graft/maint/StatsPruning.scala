package graft.maint

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{array_contains, col, expr, lit, pmod, xxhash64}
import org.apache.spark.sql.types.{DataType, StringType}

/** Predicate → file-survival condition over per-file min/max statistics
  * and optional per-file bloom indexes — the general data-skipping mapper
  * (the shape of Delta's DataSkippingReader + bloom filter index;
  * reference performance_optimization.py:107-166's "file pruning"
  * discussion, re-derived here over [[VersionedTable]]'s per-file records
  * in the log entry and bloom position sets in the version directory).
  *
  * A row predicate `P` is compiled to a predicate over a stats row
  * `(mins.*, maxs.*, __bloom_<c>…)` that answers "could ANY row of this
  * file satisfy P?". The table evaluates it on the driver, over a local
  * frame with one stats row per file, so pruning starts no Spark job.
  * Interval arithmetic per node:
  *
  *   - `c <  L` → `mins.c <  L`      - `c >  L` → `maxs.c >  L`
  *   - `c <= L` → `mins.c <= L`      - `c >= L` → `maxs.c >= L`
  *   - `c =  L` → `mins.c <= L && maxs.c >= L`, AND, if `c` carries a
  *     bloom index, all k probe positions of L present in the file's
  *     position set (NULL index column = unindexed file = keep)
  *   - `c IN (…)` → OR of the equality mappings
  *   - `A AND B` → map(A) && map(B);  `A OR B` → map(A) || map(B)
  *   - anything else (NOT, IS NULL, functions, col-vs-col, non-stat
  *     columns) → `true` — the file is conservatively kept and the
  *     residual row filter decides. Correctness never depends on the
  *     mapping, only scan cost does.
  *
  * SOUNDNESS GUARD — string stats vs non-string literals: interval
  * pruning is valid only when the min/max ORDERING bounds the ordering
  * the row filter compares under. A STRING column compared to a numeric
  * literal is coerced to double on the row side, and lexicographic
  * min/max do NOT bound numeric order (min '10' < '9' lexically but not
  * numerically) — pruning there would silently drop files containing
  * matching rows. So a string-typed stat column compared against a
  * non-string literal is conservatively KEPT (interval and bloom probe
  * alike — the probe hashes the literal cast to string, which diverges
  * from the row filter's numeric coercion the same way). Every other
  * pairing is monotone: numeric widenings preserve order, and a string
  * literal against a numeric/date/timestamp column is cast to the
  * column's own type by the same coercion the row filter uses.
  *
  * Three-valued logic does the right thing for free: a file whose column
  * is entirely NULL has NULL min/max, every comparison maps to NULL, and
  * a NULL survival verdict drops the file — correct, because no NULL row
  * can satisfy a comparison predicate either. An OR branch that must keep
  * the file yields TRUE, and `NULL OR TRUE = TRUE` keeps it. An
  * unparseable literal (e.g. `'abc'` against an int column) casts to
  * NULL on BOTH the stats side and the row side — the file drops, and no
  * row anywhere could have matched.
  *
  * Bloom probes hash the literal CAST TO THE INDEXED COLUMN'S TYPE
  * (recorded in the index at build time) — xxhash64 of an int literal and
  * of the same value as bigint differ, and a type-mismatched probe would
  * wrongly prune.
  */
object StatsPruning {

  /** Per-column bloom-index metadata: (m bits, k probes, column type as
    * catalogString). The stats row must carry the file's position set in
    * `__bloom_<column>` (array<int>, NULL when the file is unindexed). */
  type BloomMeta = Map[String, (Int, Int, String)]

  /** Compile `predicate` (Spark SQL syntax, single-quoted strings) to a
    * survival [[Column]] over a stats row. `statTypes` = the columns that
    * actually have min/max stats, WITH their parquet types (the type
    * drives the string-vs-non-string soundness guard above); anything
    * else is conservatively kept. */
  def survives(spark: SparkSession, predicate: String,
      statTypes: Map[String, DataType], blooms: BloomMeta = Map.empty): Column =
    map(spark.sessionState.sqlParser.parseExpression(predicate),
      statTypes, blooms)

  private def mins(c: String): Column = col(s"mins.`$c`")
  private def maxs(c: String): Column = col(s"maxs.`$c`")

  private val keep: Column = lit(true)

  /** (column name, literal-as-Column, literal type) if this is an
    * attr-vs-literal pair. Literals are re-expressed through their SQL
    * text (`Literal.sql` round-trips types exactly: quoted strings,
    * TIMESTAMP '…', typed numerics) — no internal-representation
    * conversion. */
  private def colLit(a: Expression, b: Expression): Option[(String, Column, DataType)] =
    (a, b) match {
      case (u: UnresolvedAttribute, l: Literal) =>
        Some((u.name, expr(l.sql), l.dataType))
      case _ => None
    }

  /** Is interval pruning on `c` against a literal of `litType` SOUND?
    * Requires stats to exist, and rejects the one non-monotone pairing
    * (string stats, non-string literal — see the soundness guard). */
  private def prunable(statTypes: Map[String, DataType], c: String,
      litType: DataType): Boolean =
    statTypes.get(c).exists(t => !(t == StringType && litType != StringType))

  /** Equality survival for `c = v`: min/max interval check (when sound)
    * AND bloom-probe check (when an index exists and the same soundness
    * rule holds) — either alone is sound, together they compose. */
  private def equality(c: String, v: Column, litType: DataType,
      statTypes: Map[String, DataType], blooms: BloomMeta): Column = {
    val interval =
      if (prunable(statTypes, c, litType)) mins(c) <= v && maxs(c) >= v else keep
    val bloom = blooms.get(c)
      .filter { case (_, _, tpe) =>
        // same guard as the interval: a string-indexed column probed
        // with a non-string literal hashes cast('9.0' …) while the rows
        // hold '9' — the row filter's numeric coercion would match, the
        // probe would not, and the file would be wrongly pruned
        !(tpe == "string" && litType != StringType)
      }
      .map { case (m, k, tpe) =>
        val probes = (0 until k).map(i =>
          array_contains(col(s"__bloom_$c"),
            pmod(xxhash64(v.cast(tpe), lit(i)), lit(m)).cast("int")))
          .reduce(_ && _)
        col(s"__bloom_$c").isNull || probes
      }.getOrElse(keep)
    interval && bloom
  }

  /** Shared shape of the four range comparisons: `forward` maps the
    * `c OP v` orientation, `reversed` maps `v OP c` — one place for the
    * prunable guard, so a soundness fix can never miss a branch. */
  private def cmpCase(a: Expression, b: Expression,
      statTypes: Map[String, DataType],
      forward: (String, Column) => Column,
      reversed: (String, Column) => Column): Column =
    colLit(a, b).filter(x => prunable(statTypes, x._1, x._3))
      .map(x => forward(x._1, x._2))
      .orElse(colLit(b, a).filter(x => prunable(statTypes, x._1, x._3))
        .map(x => reversed(x._1, x._2)))
      .getOrElse(keep)

  private def map(e: Expression, statTypes: Map[String, DataType],
      blooms: BloomMeta): Column = e match {
    case And(l, r) => map(l, statTypes, blooms) && map(r, statTypes, blooms)
    case Or(l, r)  => map(l, statTypes, blooms) || map(r, statTypes, blooms)

    // the parser leaves `x BETWEEN a AND b` as unresolved sugar
    case f: UnresolvedFunction
        if f.nameParts.map(_.toLowerCase) == Seq("between") &&
          f.arguments.length == 3 =>
      map(And(GreaterThanOrEqual(f.arguments(0), f.arguments(1)),
        LessThanOrEqual(f.arguments(0), f.arguments(2))), statTypes, blooms)

    case LessThan(a, b) =>
      cmpCase(a, b, statTypes, (c, v) => mins(c) < v, (c, v) => maxs(c) > v)
    case LessThanOrEqual(a, b) =>
      cmpCase(a, b, statTypes, (c, v) => mins(c) <= v, (c, v) => maxs(c) >= v)
    case GreaterThan(a, b) =>
      cmpCase(a, b, statTypes, (c, v) => maxs(c) > v, (c, v) => mins(c) < v)
    case GreaterThanOrEqual(a, b) =>
      cmpCase(a, b, statTypes, (c, v) => maxs(c) >= v, (c, v) => mins(c) <= v)

    case EqualTo(a, b) =>
      colLit(a, b).orElse(colLit(b, a))
        .map { case (c, v, lt) => equality(c, v, lt, statTypes, blooms) }
        .getOrElse(keep)
    case In(u: UnresolvedAttribute, vs)
        if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      vs.map { v =>
        val l = v.asInstanceOf[Literal]
        equality(u.name, expr(l.sql), l.dataType, statTypes, blooms)
      }.reduce(_ || _)

    case _ => keep
  }
}

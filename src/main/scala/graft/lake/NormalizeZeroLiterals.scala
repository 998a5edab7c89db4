package graft.lake

import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression, GreaterThanOrEqual, In, IsNotNull, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Rewrites floating-point zero equalities (`= 0.0` and `= -0.0`,
  * Double and Float) into the range pair `>= -0.0 AND <= +0.0` — a
  * value-identical form that closes an UPSTREAM pushdown hole:
  * measured on vanilla Spark 4.1.2, `WHERE x = -0.0` against a
  * parquet file whose pages hold only `+0.0` returns ZERO rows with
  * `spark.sql.parquet.filterPushdown` on and the right rows with it
  * off, and SYMMETRICALLY `WHERE x = 0.0` loses rows from a file
  * holding only `-0.0`. SQL comparison says `0.0 == -0.0`, so both
  * equality-literal directions are wrong and BOTH must rewrite. Range
  * predicates are only protected when their bounds bracket both zeros
  * under parquet's total-order comparator — see [[zeroRange]] for why
  * the pair is `[-0.0, +0.0]`, not twice the same literal.
  *
  * Why a RANGE PAIR and not just swapping the literal: Catalyst's
  * transform framework compares old and new nodes with `==`, and
  * `Literal(-0.0) == Literal(0.0)` is TRUE under primitive numeric
  * equality — a literal swap is silently discarded as "unchanged".
  * The range pair is structurally different, so it survives, and is
  * value-identical in every context: null in → null out, NaN → false,
  * and Spark comparison semantics already treat the two zeros as
  * equal. `<=>` additionally needs null in → false, so that case
  * rewrites to `IsNotNull(a) AND range` instead.
  *
  * The non-literal side is duplicated by the rewrite, so it is gated
  * on `deterministic` — a non-deterministic expression compared to
  * zero must keep its single evaluation site.
  *
  * Registered once per session via
  * `spark.experimental.extraOptimizations` when the first [[LakeTable]]
  * is constructed; surfaced by the FileIndex property test
  * (LakePropertiesSpec "manifest-pruned scans never lose rows"). */
object NormalizeZeroComparisonLiterals extends Rule[LogicalPlan] {

  /** Either floating-point zero, by raw bits: +0.0 or -0.0. Both
    * equality directions hit the parquet pushdown hole (a file whose
    * pages carry only the OTHER zero drops its rows), so both gate. */
  private def isFpZero(e: Expression): Boolean = e match {
    case Literal(d: java.lang.Double, DoubleType) => d.doubleValue() == 0.0
    case Literal(f: java.lang.Float, FloatType)   => f.floatValue() == 0.0f
    case _                                        => false
  }

  /** `a >= -0.0 AND a <= +0.0` — the bounds are ASYMMETRIC on purpose.
    * Parquet's stats/dictionary comparator is the TOTAL order
    * (`Double.compare`: -0.0 < +0.0) and the writer does no ±0 stat
    * widening, so a -0.0-only file has max = -0.0 and `gtEq(x, +0.0)`
    * drops it, while a +0.0-only file has min = +0.0 and `ltEq(x, -0.0)`
    * would drop it (measured both ways on vanilla Spark 4.1.2). With
    * -0.0 as the lower bound and +0.0 as the upper, every file holding
    * either zero survives both stats and dictionary checks, and SQL
    * execution semantics (-0.0 == +0.0) make the pair value-identical
    * to the original equality. */
  private def zeroRange(a: Expression, l: Literal): Expression =
    if (l.dataType == DoubleType)
      And(GreaterThanOrEqual(a, Literal(-0.0)), LessThanOrEqual(a, Literal(0.0)))
    else
      And(GreaterThanOrEqual(a, Literal(-0.0f)), LessThanOrEqual(a, Literal(0.0f)))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case EqualTo(a, l: Literal)
          if isFpZero(l) && a.dataType == l.dataType && a.deterministic =>
        zeroRange(a, l)
      case EqualTo(l: Literal, a)
          if isFpZero(l) && a.dataType == l.dataType && a.deterministic =>
        zeroRange(a, l)
      case EqualNullSafe(a, l: Literal)
          if isFpZero(l) && a.dataType == l.dataType && a.deterministic =>
        And(IsNotNull(a), zeroRange(a, l))
      case EqualNullSafe(l: Literal, a)
          if isFpZero(l) && a.dataType == l.dataType && a.deterministic =>
        And(IsNotNull(a), zeroRange(a, l))
      case In(a, vs)
          if vs.exists(isFpZero) && vs.forall(_.isInstanceOf[Literal]) &&
            a.deterministic =>
        val rest = vs.filterNot(isFpZero)
        val z = zeroRange(a, vs.find(isFpZero).get.asInstanceOf[Literal])
        if (rest.isEmpty) z else Or(In(a, rest), z)
    }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Optimizer rule for the edit-distance match family (reference
  * `visualisations.py` has no optimizer; this is the Spark-extension
  * surface the engine adds): a Filter or Join predicate of the shape
  *
  *   levenshtein(a, b) <= k          (k a non-negative integer literal,
  *                                    optionally under an integral cast;
  *                                    `<` normalizes to `<= k-1`)
  *
  * rewrites to
  *
  *   abs(length(a) - length(b)) <= k  AND  levenshtein(a, b, k) >= 0
  *
  * Both conjuncts are pure wins, no semantic change:
  *  - edit distance is bounded below by the length difference, so the
  *    O(1)-per-row band check short-circuits the O(|a|·|b|) DP for
  *    pairs that cannot possibly match — in a blocked self-join that is
  *    most pairs (the q_fuzzy_name_pairs / q_entity_resolution shape).
  *  - the THRESHOLD form of levenshtein runs Spark's banded DP —
  *    O(min(|a|,|b|)·k) with early exit, returning −1 past the
  *    threshold — so even surviving pairs pay the banded cost, not the
  *    full matrix.
  * NULL semantics are preserved: any NULL input makes the original
  * predicate NULL and the rewritten conjunction NULL/false — either way
  * the row fails the condition.
  *
  * Scope is deliberately CONDITIONS ONLY (Filter / Join): a projected
  * `levenshtein(a, b)` must keep returning the true distance, and the
  * thresholded form returns −1 above k. Idempotent by construction —
  * the rewrite's inner Levenshtein carries `threshold = Some(_)`, which
  * the match excludes — so it is safe under a fixed-point batch
  * (`spark.experimental.extraOptimizations` runs it after the main
  * optimizer, i.e. after predicate pushdown has already placed the
  * condition where it will execute).
  *
  * Activation: `GraftExtensions` injects it for `--conf
  * spark.sql.extensions=graft.GraftExtensions` deployments;
  * every `GraftSession` session (all the harness mains) sets it, so the
  * driver's correctness gate exercises the rewritten plans (the ER and
  * fuzzy-match oracles stay green THROUGH the rewrite).
  */
object LevenshteinBandRule extends Rule[LogicalPlan] {

  /** levenshtein(a, b) with no threshold, possibly under an integral
    * cast (`.cast("long")` from the DataFrame API). Only WIDENING casts
    * (int → int/long) qualify: a narrowing `cast(lev as byte/short)` is
    * lossy — for long inputs a distance > 127/32767 wraps negative under
    * non-ANSI cast (making `<= k` spuriously TRUE) or throws under ANSI,
    * and rewriting would change that observable behavior. */
  private object BareLev {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case Levenshtein(l, r, None) => Some((l, r))
      case Cast(Levenshtein(l, r, None), dt, _, _) if widening(dt) =>
        Some((l, r))
      case _ => None
    }
  }

  private def widening(dt: DataType): Boolean = dt match {
    case IntegerType | LongType => true
    case _ => false
  }

  /** Non-negative int-representable literal. */
  private object K {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) if v >= 0 => Some(v)
      case Literal(v: Long, LongType) if v >= 0 && v <= Int.MaxValue =>
        Some(v.toInt)
      case Literal(v: Short, ShortType) if v >= 0 => Some(v.toInt)
      case Literal(v: Byte, ByteType) if v >= 0 => Some(v.toInt)
      case _ => None
    }
  }

  private def rewrite(l: Expression, r: Expression, k: Int): Expression = {
    val kLit = Literal(k, IntegerType)
    val band = LessThanOrEqual(
      Abs(Subtract(Length(l), Length(r)), failOnError = false), kLit)
    val banded = GreaterThanOrEqual(
      Levenshtein(l, r, Some(kLit)), Literal(0, IntegerType))
    And(band, banded)
  }

  /** The guard duplicates `l`/`r` into a second evaluation site, which
    * is only sound when both are deterministic (a random-suffixed
    * operand would band-check one value and edit-distance another). */
  private def dup(l: Expression, r: Expression): Boolean =
    l.deterministic && r.deterministic

  private def rewriteCond(cond: Expression): Expression = cond.transformUp {
    case LessThanOrEqual(BareLev(l, r), K(k)) if dup(l, r) => rewrite(l, r, k)
    case LessThan(BareLev(l, r), K(k)) if k >= 1 && dup(l, r) => rewrite(l, r, k - 1)
    case GreaterThanOrEqual(K(k), BareLev(l, r)) if dup(l, r) => rewrite(l, r, k)
    case GreaterThan(K(k), BareLev(l, r)) if k >= 1 && dup(l, r) => rewrite(l, r, k - 1)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val c = rewriteCond(cond)
      if (c fastEquals cond) f else f.copy(condition = c)
    case j @ Join(_, _, _, Some(cond), _) =>
      val c = rewriteCond(cond)
      if (c fastEquals cond) j else j.copy(condition = Some(c))
  }
}

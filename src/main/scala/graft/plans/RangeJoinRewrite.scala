package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Catalyst optimizer rule: rewrite a non-equi interval join
  * `L ⋈ (L.v >= R.lo AND L.v < R.hi)` into a binnable EQUI join —
  * the whole-plan form of [[graft.ops.Joins.rangeJoin]], applied
  * automatically so users can write the natural theta join and still get a
  * shuffle hash join instead of BroadcastNestedLoopJoin (O(|L|·|R|), and
  * driver-bound when the "small" side isn't small).
  *
  * Enabled by setting `spark.graft.rangeJoin.binWidth` to a positive bin
  * width (same tuning rule as the API form: pick ≈ the median interval
  * width). Applies when:
  *  - the join is INNER with a conjunctive condition containing a
  *    `v >= lo` / `v < hi` pair, `v` from one side and `lo`,`hi` from the
  *    other, all numeric and deterministic;
  *  - no equi predicate already links the two sides (then Catalyst already
  *    plans a hash join and binning would only add work).
  *
  * Rewrite: project `floor(v/w)` on the value side; explode
  * `sequence(floor(lo/w), floor(hi/w))` on the interval side; join on bin
  * equality AND the original predicate; project back the original output.
  * Each (row, interval) pair meets in exactly one bin (the bin of `v`), so
  * the rewrite is duplicate-free by construction.
  *
  * Opt-in: installed at session build by [[graft.functions.GraftExtensions]]
  * (`injectOptimizerRule`, next to the kernels' SQL names) or per session
  * via `spark.experimental.extraOptimizations`.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val BinCol = "__graft_bin"

  private def binWidth: Double =
    try SQLConf.get.getConfString("spark.graft.rangeJoin.binWidth", "0").toDouble
    catch { case _: NumberFormatException => 0.0 }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val w = binWidth
    if (w <= 0) plan
    else plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), _)
          if j.resolved && !alreadyRewritten(left, right) =>
        tryRewrite(j, left, right, cond, w)
          .orElse(tryRewrite(j, right, left, cond, w).map(swapBack(j, _)))
          .getOrElse(j)
    }
  }

  private def alreadyRewritten(left: LogicalPlan, right: LogicalPlan): Boolean =
    (left.output ++ right.output).exists(_.name == BinCol)

  /** The rewrite flips child order when the interval side is on the left;
    * an inner join is symmetric but downstream consumers expect the
    * original column order — restore it. */
  private def swapBack(orig: Join, rewritten: LogicalPlan): LogicalPlan =
    Project(orig.output, rewritten)

  private def sideRefs(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet) && e.deterministic

  private def numeric(e: Expression): Boolean =
    e.dataType.isInstanceOf[NumericType]

  /** Try to rewrite with `valueSide` holding `v` and `intervalSide` holding
    * `[lo, hi)`. Returns the full replacement plan (original output). */
  private def tryRewrite(j: Join, valueSide: LogicalPlan, intervalSide: LogicalPlan,
                         cond: Expression, w: Double): Option[LogicalPlan] = {
    val conjuncts = splitConjunctivePredicates(cond)

    // an existing cross-side equi predicate already makes this a hash join
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (sideRefs(a, valueSide) && sideRefs(b, intervalSide)) ||
          (sideRefs(a, intervalSide) && sideRefs(b, valueSide))
      case _ => false
    }
    if (hasEqui) return None

    // v >= lo (or lo <= v): lower bound
    val lower = conjuncts.collectFirst {
      case GreaterThanOrEqual(v, lo)
          if sideRefs(v, valueSide) && sideRefs(lo, intervalSide) &&
            numeric(v) && numeric(lo) => (v, lo)
      case LessThanOrEqual(lo, v)
          if sideRefs(v, valueSide) && sideRefs(lo, intervalSide) &&
            numeric(v) && numeric(lo) => (v, lo)
    }
    lower.flatMap { case (v, lo) =>
      // v < hi (or hi > v) on the SAME v: upper bound
      val upper = conjuncts.collectFirst {
        case LessThan(v2, hi)
            if v2.semanticEquals(v) && sideRefs(hi, intervalSide) && numeric(hi) => hi
        case GreaterThan(hi, v2)
            if v2.semanticEquals(v) && sideRefs(hi, intervalSide) && numeric(hi) => hi
      }
      upper.map { hi =>
        val bin = (e: Expression) =>
          Floor(Divide(Cast(e, DoubleType), Literal(w)))
        val valueBin = Alias(bin(v), BinCol)()
        val binnedValue = Project(valueSide.output :+ valueBin, valueSide)
        val intervalBinAttr = AttributeReference(BinCol, LongType, nullable = false)()
        // Sequence is TimeZoneAware: without an explicit zone it stays
        // unresolved and the optimizer rejects the rewritten plan
        val seq = new Sequence(bin(lo), bin(hi), None,
          Some(SQLConf.get.sessionLocalTimeZone))
        val explodedInterval = Generate(
          Explode(seq),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(intervalBinAttr), child = intervalSide)
        val newCond = And(EqualTo(valueBin.toAttribute, intervalBinAttr), cond)
        val newJoin = Join(binnedValue, explodedInterval, Inner, Some(newCond), JoinHint.NONE)
        Project(valueSide.output ++ intervalSide.output, newJoin): LogicalPlan
      }
    }
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType}

/** Optimizer rule: point-in-interval AND interval-overlap joins
  * become binned equi-joins.
  *
  * An inner join whose only cross-side condition is a range sandwich
  *
  *   lo ⋈ point ⋈ hi      (⋈ ∈ {<, <=}, lo/hi from one side,
  *                          point from the other, integral types)
  *
  * or an interval overlap
  *
  *   aLo ⋈ bHi AND bLo ⋈ aHi   (a's bounds from one side, b's from
  *                              the other)
  *
  * has no equi-join key, so Spark plans a broadcast-nested-loop join —
  * O(|points|·|intervals|) comparisons, and the build side must fit in
  * memory. The scalable form is the bin trick (the hand-written
  * `core.Joins.rangeJoinBinned`): pick a bin width W, explode each
  * interval into the bins it spans (`sequence(lo div W, hi div W)`),
  * tag each point with its bin (`point div W`), hash-join on the bin,
  * and re-apply the exact range as a residual filter. This rule is the
  * plan-level version: a user writing the natural `BETWEEN` join gets
  * the hash-join plan without knowing the rewrite exists.
  *
  * Correctness: truncating integer division is monotone, so
  * lo <= p <= hi implies bin(lo) <= bin(p) <= bin(hi) — the point's
  * bin always lands inside the interval's bin sequence (bins are a
  * superset of matches; the residual original condition restores
  * exactness, including strict-vs-inclusive bounds). Each surviving
  * pair joins exactly once because a point has exactly ONE bin and a
  * sequence never repeats values, so no dedup step is needed. Rows
  * with null or inverted bounds generate an empty bin array and drop
  * out, exactly as the original (null/false) predicate dropped them;
  * a null point gets a null bin, which the equi-join drops.
  *
  * The overlap case explodes BOTH sides and would emit a pair once
  * per shared bin, so the join additionally claims each pair only in
  * the bin of greatest(aLo, bLo) — the overlap's left edge, provably
  * inside both sides' generated bin ranges — keeping the join
  * exactly-once with no dedup pass. Overlap bins span least..greatest
  * of each side's bounds (no validity guard): the raw predicates can
  * still match when a side's bounds are inverted, and least/greatest
  * generation preserves those matches.
  *
  * Scope guards: inner joins only; both bounds from the same side;
  * integral (int/long) types only — float bins would need
  * floor-division semantics both engines agree on, and timestamps
  * should be joined on integer epoch columns; deterministic
  * conditions only; joins that already carry a cross-side equality
  * are left alone (they already plan as hash joins, and this guard is
  * also what makes the rewrite idempotent under the fixed-point
  * batch: the rewritten join's bin equality trips it). The bin width W
  * is a fixed 1024 units; intervals spanning many bins replicate
  * proportionally. A production extension would pick W from column
  * statistics and clamp per-row bin counts.
  */
object RangeBinJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BinWidth = 1024L

  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType => true
    case _ => false
  }

  /** (point, bound, boundIsLower) orientations of one comparison —
    * either operand may turn out to be the point; pairing decides. */
  private def orientations(e: Expression)
      : Seq[(Expression, Expression, Boolean)] = e match {
    case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
    case GreaterThan(a, b)        => Seq((a, b, true), (b, a, false))
    case LessThanOrEqual(a, b)    => Seq((a, b, false), (b, a, true))
    case LessThan(a, b)           => Seq((a, b, false), (b, a, true))
    case _ => Seq.empty
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // Batch only: a stream-stream range join's state eviction reasons
    // about the raw time-interval condition, and the bins would hide
    // it; stream-static joins must stay broadcastable as written.
    case j @ Join(left, right, Inner, Some(cond), hint)
        if cond.deterministic && !left.isStreaming && !right.isStreaming =>
      val conjuncts = splitConjunctivePredicates(cond)
      val leftOut = left.outputSet
      val rightOut = right.outputSet

      def sideOf(x: Expression): Option[Boolean] = {
        val refs = x.references
        if (refs.isEmpty) None
        else if (refs.subsetOf(leftOut)) Some(true)
        else if (refs.subsetOf(rightOut)) Some(false)
        else None
      }

      val hasCrossEquality = conjuncts.exists {
        case EqualTo(a, b) =>
          (sideOf(a), sideOf(b)) match {
            case (Some(sa), Some(sb)) => sa != sb
            case _ => false
          }
        case _ => false
      }

      // All valid (point, bound, isLower, pointOnLeft) candidates.
      val bounds = for {
        c <- conjuncts
        (p, b, isLower) <- orientations(c)
        if integral(p) && integral(b)
        ps <- sideOf(p).toSeq
        bs <- sideOf(b).toSeq
        if ps != bs
      } yield (p, b, isLower, ps)

      val w = Literal(BinWidth)
      def bin(e: Expression) = IntegralDivide(Cast(e, LongType), w)

      // Sequence is TimeZoneAwareExpression: unresolved until the
      // session zone is attached (irrelevant for integral bounds, but
      // resolution requires it after analysis). `guard` adds the
      // lo<=hi validity test; without it bins span least..greatest so
      // even an inverted interval keeps its original matches.
      def binGen(lo: Expression, hi: Expression, guard: Boolean,
                 attr: AttributeReference, child: LogicalPlan): Generate = {
        val (start, stop) =
          if (guard) (lo, hi)
          else (Least(Seq(lo, hi)), Greatest(Seq(lo, hi)))
        val valid =
          if (guard)
            And(And(IsNotNull(lo), IsNotNull(hi)), LessThanOrEqual(lo, hi))
          else And(IsNotNull(lo), IsNotNull(hi))
        val bins = If(valid,
          new Sequence(bin(start), bin(stop), Literal(1L))
            .withTimeZone(conf.sessionLocalTimeZone),
          Literal.create(Array.empty[Long], ArrayType(LongType, false)))
        Generate(Explode(bins), unrequiredChildIndex = Nil, outer = false,
          qualifier = None, generatorOutput = Seq(attr), child = child)
      }

      // Point-in-interval: one side contributes a single point
      // expression sandwiched by the other side's bounds.
      val sandwich = (for {
        (p1, lo, true, ps1) <- bounds
        (p2, hi, false, ps2) <- bounds
        if ps1 == ps2 && p1.semanticEquals(p2)
      } yield (p1, lo, hi, ps1)).headOption

      // Interval overlap: each side bounds the other — aLo <= bHi and
      // bLo <= aHi (any strictness). The sandwich pattern is tried
      // first, so a shared point expression never lands here.
      val overlap = (for {
        (aLo, bHi, false, true) <- bounds
        (aHi, bLo, true, true) <- bounds
        if !aLo.semanticEquals(aHi)
      } yield (aLo, aHi, bLo, bHi)).headOption

      if (hasCrossEquality) j
      else sandwich match {
        case Some((point, lo, hi, pointOnLeft)) =>
          val pAlias = Alias(bin(point), "__graft_pbin")()
          val (pointPlan, intervalPlan) =
            if (pointOnLeft) (left, right) else (right, left)
          val pointProj = Project(pointPlan.output :+ pAlias, pointPlan)
          val iBin = AttributeReference("__graft_ibin", LongType,
            nullable = false)()
          val gen = binGen(lo, hi, guard = true, iBin, intervalPlan)
          val (newLeft, newRight) =
            if (pointOnLeft) (pointProj, gen) else (gen, pointProj)
          val newCond = And(EqualTo(pAlias.toAttribute, iBin), cond)
          Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))

        case None => overlap match {
          case Some((aLo, aHi, bLo, bHi)) =>
            // Both sides explode; each true pair is claimed ONLY in
            // the bin of the overlap's left edge (greatest of the two
            // lower bounds) — provably inside both sides' generated
            // ranges — so no pair duplicates and no dedup pass runs
            // (the overlapJoinBinned trick, applied by the planner).
            val lBin = AttributeReference("__graft_lbin", LongType,
              nullable = false)()
            val rBin = AttributeReference("__graft_rbin", LongType,
              nullable = false)()
            val genL = binGen(aLo, aHi, guard = false, lBin, left)
            val genR = binGen(bLo, bHi, guard = false, rBin, right)
            val canonical = EqualTo(lBin, bin(Greatest(Seq(aLo, bLo))))
            val newCond = And(And(EqualTo(lBin, rBin), canonical), cond)
            Project(j.output, Join(genL, genR, Inner, Some(newCond), hint))

          case None => j
        }
      }
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DayTimeIntervalType, LongType}

/** Optimizer rule: rewrite a pure time-band inner join —
  * `probeTs >= anchorTs - INTERVAL b AND probeTs <= anchorTs` with
  * no equality predicate — into a bucketed equi-join.
  *
  * Spark plans a non-equi inner join as BroadcastNestedLoopJoin:
  * O(|left|·|right|) comparisons and a broadcast requirement —
  * hopeless at corpus scale. But a band predicate admits the classic
  * bucketing rewrite (the same one ops/Events.rangeJoinBanded
  * applies by hand): cells
  * of the band width tile the timeline, a probe row in
  * [anchor − b, anchor] can only live in the anchor's cell or the
  * one before, so the anchor side explodes into those two cell keys
  * and the band predicate rides along as a residual filter on a HASH
  * join — linear in rows, shuffle-partitioned, AQE-skew-safe.
  *
  * The rule fires ONLY on the exact two-conjunct shape above (both
  * bounds on the same attribute pair from opposite join sides,
  * negative interval literal). Anything else — extra conjuncts,
  * equality predicates present, non-literal bands — is left to
  * Spark's own planner. The rewritten condition keeps the original
  * predicate verbatim, so results are identical by construction
  * (asserted against the un-rewritten plan in BandJoinRewriteSpec).
  */
object BandJoinRewrite extends Rule[LogicalPlan] {

  private val BucketCol = "__graft_band_bucket"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      matchBand(cond, left, right) match {
        case Some((anchorTs, probeTs, bandUs)) =>
          val anchorOnLeft = left.outputSet.contains(anchorTs)
          val (anchor, probe) = if (anchorOnLeft) (left, right) else (right, left)
          rewrite(j, anchor, probe, anchorTs, probeTs, bandUs, cond, hint, anchorOnLeft)
        case None => j
      }
  }

  /** Exactly: probe >= anchor + (negative DayTime literal) AND
    * probe <= anchor (or < — strictness lives in the residual),
    * conjuncts in either order, probe/anchor attributes from
    * opposite sides of the join. Returns (anchorTs, probeTs,
    * bandMicros). */
  private def matchBand(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(AttributeReference, AttributeReference, Long)] = cond match {
    case And(c1, c2) =>
      shape(c1, c2, left, right).orElse(shape(c2, c1, left, right))
    case _ => None
  }

  private def shape(lower: Expression, upper: Expression,
      left: LogicalPlan, right: LogicalPlan)
      : Option[(AttributeReference, AttributeReference, Long)] = {
    val bounds = (lower, upper) match {
      case (GreaterThanOrEqual(p1: AttributeReference, ta: TimestampAddInterval),
            LessThanOrEqual(p2: AttributeReference, a2: AttributeReference)) =>
        Some((p1, ta, p2, a2))
      case (GreaterThanOrEqual(p1: AttributeReference, ta: TimestampAddInterval),
            LessThan(p2: AttributeReference, a2: AttributeReference)) =>
        Some((p1, ta, p2, a2))
      case _ => None
    }
    bounds.flatMap { case (p1, ta, p2, a2) =>
      ta.children match {
        case Seq(a1: AttributeReference, Literal(neg: Long, _: DayTimeIntervalType))
            if neg < 0 && p1.semanticEquals(p2) && a1.semanticEquals(a2) &&
              oppositeSides(left, right, p1, a1) =>
          Some((a1, p1, -neg))
        case _ => None
      }
    }
  }

  private def oppositeSides(left: LogicalPlan, right: LogicalPlan,
      p: AttributeReference, a: AttributeReference): Boolean =
    (left.outputSet.contains(p) && right.outputSet.contains(a)) ||
      (right.outputSet.contains(p) && left.outputSet.contains(a))

  /** Truncating µs-division is cell-correct here: every cell spans at
    * least the band width (cell 0 spans two), so a probe within one
    * band of its anchor is never more than one cell boundary below —
    * the two-cell explode still covers the whole window. */
  private def bucket(ts: Expression, bandUs: Long): Expression =
    IntegralDivide(UnixMicros(ts), Literal(bandUs, LongType))

  private def rewrite(
      j: Join,
      anchor: LogicalPlan,
      probe: LogicalPlan,
      anchorTs: AttributeReference,
      probeTs: AttributeReference,
      bandUs: Long,
      cond: Expression,
      hint: JoinHint,
      anchorOnLeft: Boolean): LogicalPlan = {
    val b0 = Alias(bucket(anchorTs, bandUs), BucketCol + "0")()
    val anchorProj = Project(anchor.output :+ b0, anchor)
    val bAttr = AttributeReference(BucketCol, LongType)()
    val cells = CreateArray(Seq(
      b0.toAttribute,
      Subtract(b0.toAttribute, Literal(1L, LongType))))
    val exploded = Generate(
      Explode(cells),
      unrequiredChildIndex = Nil,
      outer = false,
      qualifier = None,
      generatorOutput = Seq(bAttr),
      child = anchorProj)
    val cb = Alias(bucket(probeTs, bandUs), BucketCol + "p")()
    val probeProj = Project(probe.output :+ cb, probe)
    val newCond = And(EqualTo(bAttr, cb.toAttribute), cond)
    val (nl, nr) =
      if (anchorOnLeft) (exploded: LogicalPlan, probeProj: LogicalPlan)
      else (probeProj: LogicalPlan, exploded: LogicalPlan)
    Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
  }
}

package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, NumericType}

/** Optimizer rule that rescues non-equi interval joins from the
  * nested-loop cliff.
  *
  * A join whose only cross-side predicates are range bounds —
  * `p.v >= i.lo AND p.v <= i.hi` with no equality conjunct — plans as
  * BroadcastNestedLoopJoin (or CartesianProduct): O(|L|·|R|)
  * comparisons, the canonical scale-killer that
  * [[graft.operators.RangeJoin.bucketed]] exists to avoid by hand.
  * This rule applies the same bucketization AUTOMATICALLY, inside
  * Catalyst, so the naive `BETWEEN` formulation gets the scalable
  * plan: the point side gains a bucket column `floor(v / w)`, the
  * interval side explodes into each bucket its `[lo, hi]` overlaps,
  * the join becomes an EQUI join on the bucket (hash-partitionable —
  * Spark then picks sort-merge/shuffled-hash), and the ORIGINAL
  * bounds predicate stays in the join condition to trim bucket-edge
  * false candidates. Each matching pair meets in exactly the point's
  * bucket, so no dedup pass is needed and results are bit-identical
  * to the nested-loop plan.
  *
  * Opt-in via `spark.graft.rangeJoin.bucketWidth` (value units of the
  * join bounds; unset/unparsable/<=0 disables). Width trades
  * interval-side replication (⌈interval/width⌉ + 1 rows) against
  * bucket selectivity — set it near the typical interval width. The
  * rewrite is row-correct for any positive width: null or inverted
  * bounds generate buckets that the exact predicate then empties,
  * matching the nested-loop result; a width so far below an
  * interval's span that one row would explode into more than 100k
  * buckets fails fast with the width knob named rather than
  * materializing the degenerate array. Fires only on INNER joins with
  * deterministic conditions and numeric bounds, and never on a join
  * that already has a cross-side equality (those hash-partition fine
  * as-is, with the range predicate evaluated inside the equi join); it
  * inserts an equality conjunct, so it cannot re-fire on its own
  * output.
  */
/** The shared shape detector for the range-join optimizations: the
  * rule ([[RangeJoinRule]]) and the broadcast strategy
  * ([[BroadcastRangeJoinStrategy]]) both recognize exactly this
  * pattern, so whichever is enabled claims the same class of joins.
  *
  * Matches an INNER join whose condition contains a lower and an
  * upper bound on the same point expression, bounds from the other
  * side, all numeric — and NO cross-side equality conjunct (an equi
  * join hash-partitions fine as-is). Returns
  * (point value, lower bound, upper bound, pointIsLeft). */
object RangeJoinPattern extends PredicateHelper {

  def unapply(j: Join): Option[(Expression, Expression, Expression, Boolean)] = {
    if (j.joinType != Inner || j.condition.isEmpty ||
      !j.condition.get.deterministic) return None
    val conjuncts = splitConjunctivePredicates(j.condition.get)
    def fromLeft(e: Expression) = e.references.subsetOf(j.left.outputSet)
    def fromRight(e: Expression) = e.references.subsetOf(j.right.outputSet)
    def crossSide(a: Expression, b: Expression) =
      (fromLeft(a) && fromRight(b)) || (fromRight(a) && fromLeft(b))
    val hasCrossEquality = conjuncts.exists {
      case EqualTo(a, b) => crossSide(a, b)
      case EqualNullSafe(a, b) => crossSide(a, b)
      case _ => false
    }
    if (hasCrossEquality) return None
    // normalize every comparison to (value, bound, isLower)
    val bounds = conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true))
      case GreaterThan(a, b) => Seq((a, b, true))
      case LessThanOrEqual(a, b) => Seq((a, b, false))
      case LessThan(a, b) => Seq((a, b, false))
      case _ => Nil
    }
    def numeric(e: Expression) = e.dataType.isInstanceOf[NumericType]
    // a point expr on one side with a lower and an upper bound from
    // the other side
    val candidates = for {
      (v, lo, true) <- bounds
      (v2, hi, false) <- bounds
      if v.semanticEquals(v2) && numeric(v) && numeric(lo) && numeric(hi)
      pointIsLeft <- (fromLeft(v), fromRight(lo) && fromRight(hi),
          fromRight(v), fromLeft(lo) && fromLeft(hi)) match {
        case (true, true, _, _) => Seq(true)
        case (_, _, true, true) => Seq(false)
        case _ => Nil
      }
    } yield (v, lo, hi, pointIsLeft)
    candidates.headOption
  }
}

case class RangeJoinRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  private val WidthConf = "spark.graft.rangeJoin.bucketWidth"
  private val MaxBuckets = 100000L

  override def apply(plan: LogicalPlan): LogicalPlan =
    // toDoubleOption: a malformed width must read as "disabled", not
    // poison every query on the session from inside the optimizer
    spark.conf.getOption(WidthConf).flatMap(_.toDoubleOption).filter(_ > 0) match {
      case None => plan
      case Some(w) => plan.transformUp {
        case j @ Join(_, _, Inner, Some(cond), _) if cond.deterministic =>
          rewrite(j, w).getOrElse(j)
      }
    }

  private def rewrite(j: Join, w: Double): Option[LogicalPlan] =
    RangeJoinPattern.unapply(j).map { case (v, lo, hi, pointIsLeft) =>
      val wLit = Literal(w, DoubleType)
      def bucketOf(e: Expression): Expression =
        Floor(Divide(Cast(e, DoubleType), wLit)) // LongType out
      val (point, interval) = if (pointIsLeft) (j.left, j.right) else (j.right, j.left)
      val pBk = Alias(bucketOf(v), "__graft_range_bk")()
      val pointProj = Project(point.output :+ pBk, point)
      val genOut = AttributeReference("__graft_range_bk_i", LongType)()
      // Sequence is TimeZoneAwareExpression: without an explicit zone it
      // stays unresolved post-analysis (ResolveTimeZone already ran).
      // The bucket count per interval row is bounded: a width far below
      // the interval span (or an infinite bound) would otherwise
      // materialize a degenerate per-row array where the original
      // nested-loop plan would have completed — fail fast with the
      // offending knob named instead of OOMing mid-stage.
      val bLo = bucketOf(lo)
      val bHi = bucketOf(hi)
      val seq = Sequence(bLo, bHi, None, Some(conf.sessionLocalTimeZone))
      // Inverted intervals (hi < lo) match nothing (the retained
      // original condition rejects every candidate) — emit an empty
      // bucket array rather than letting Sequence's default step -1
      // materialize |bLo-bHi| descending buckets, which dodges the
      // explosion guard below (its width is negative for inverted
      // bounds) and can OOM on a degenerate row. NULL bounds likewise
      // match nothing; without the IsNull arms the null comparison
      // would fall through BOTH If else-branches into RaiseError,
      // aborting a query the un-rewritten plan completes.
      val guarded = If(
        Or(Or(IsNull(bLo), IsNull(bHi)), LessThan(bHi, bLo)),
        Literal.create(Array.empty[Long], seq.dataType),
        If(
          LessThanOrEqual(Subtract(bHi, bLo), Literal(MaxBuckets)),
          seq,
          Cast(new RaiseError(Literal(
            s"range-join bucketization would explode an interval into more " +
              s"than $MaxBuckets buckets; raise $WidthConf or disable the " +
              "rule")), seq.dataType)))
      val intervalGen = Generate(
        Explode(guarded),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(genOut), child = interval)
      val newCond = And(EqualTo(pBk.toAttribute, genOut), j.condition.get)
      val (newLeft, newRight) =
        if (pointIsLeft) (pointProj, intervalGen) else (intervalGen, pointProj)
      // restore the original output (drop the bucket columns)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
    }
}

package graft.optimizer

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LeafNode, Filter, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule

/** Stats-gated decomposition of a MULTI-distinct aggregate into a union
  * of single-distinct legs (VERDICT r11 Next #5 — the rule form of what
  * the hand-written `q_agg_distinct_bitmap` twin does manually):
  *
  * {{{
  *   Aggregate(g, [cd(k1), cd(k2), …, companions…], child)
  *     ==>
  *   Aggregate(g, [max-merge per slot],
  *     Union(
  *       Aggregate(g, [g, cd(k1), null, …, null], child),
  *       Aggregate(g, [g, null, cd(k2), …, null], child),
  *       …,
  *       Aggregate(g, [g, null, null, …, companions], child)))
  * }}}
  *
  * Why: Spark plans N distinct aggregates via `Expand` — every input row
  * is replicated N(+1) times through the FIRST shuffle, then the
  * dedicated distinct-aggregate machinery runs over the widened
  * null-padded stream (the same machinery that measured 10× slower under
  * AQE — q_graph_kcore's edge build). The union form scans the child once per leg
  * instead, but each leg is a plain single-distinct aggregate: column
  * pruning narrows each scan to `g ++ ki`, and — because the extension
  * rules run inside the operator-optimization FIXED POINT — each leg
  * immediately re-qualifies for [[BitmapDistinct]] (integral keys, its
  * own stats gate) or [[DistinctThenCount]], so the legs end up on the
  * ordinary map-side-combinable HashAggregate path end to end.
  *
  * Merge correctness: every leg aggregates the SAME child, so each group
  * key appears exactly once per leg; per output slot exactly one leg
  * carries a real value and the others carry typed nulls, so `max`
  * (null-skipping) over the union restores each slot exactly. Distinct
  * COUNT slots (non-nullable Long) re-wrap in `coalesce(max(…), 0)` to
  * keep the original non-nullability; a group can never be absent from
  * its owning leg, so the coalesce default is unreachable and the merge
  * is exact for ANY data (null group keys group identically in every
  * leg and in the outer aggregate).
  *
  * Legality fences (bail out, keep the stock Expand plan): every grouping
  * expression an Attribute; at least TWO distinct aggregates, each a
  * COUNT with deterministic arguments and no FILTER; companions
  * non-distinct, FILTER-free, deterministic, with orderable result
  * types (they must survive the max-merge) and nullable unless they are
  * COUNT (the only non-nullable default this rule knows is 0). Output
  * attributes keep their exprIds, names, types, and nullability.
  *
  * Cost fences: the child must be scan-shaped (Project/Filter over a
  * leaf) — re-computing an arbitrary join/aggregate subtree once per leg
  * could dwarf the Expand saving; and (auto mode) the child's estimated
  * size must reach `minBytes` (default 256 MiB, measured: on the ×10
  * fixture — pruned estimate ~25-50 MB — the split LOSES ~40% to the
  * extra scans, on ×100 — pruned estimate 256-512 MB — it WINS ~10%, so
  * the default sits at the measured crossover; the same posture as
  * [[BitmapDistinct]]): small fixtures keep the stock plan, at 100 TB
  * the split always engages.
  *
  * `spark.graft.multiDistinctSplit` = off|auto|force (default auto);
  * `spark.graft.multiDistinctSplit.minBytes` (default 256 MiB).
  */
object MultiDistinctSplit extends Rule[LogicalPlan] {
  val ModeKey = "spark.graft.multiDistinctSplit"
  val MinBytesKey = "spark.graft.multiDistinctSplit.minBytes"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = conf.getConfString(ModeKey, "auto")
    if (mode == "off") plan
    else plan.transformUp {
      case agg: Aggregate => maybeRewrite(agg, mode).getOrElse(agg)
    }
  }

  private sealed trait Slot
  private case class DistinctSlot(al: Alias, ae: AggregateExpression) extends Slot
  private case class CompanionSlot(al: Alias, ae: AggregateExpression) extends Slot

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(_, c) => scanShaped(c)
    case Filter(_, c) => scanShaped(c)
    case _ => false
  }

  private def maybeRewrite(agg: Aggregate, mode: String): Option[Aggregate] = {
    val groupAttrs = agg.groupingExpressions
    if (!groupAttrs.forall(_.isInstanceOf[Attribute])) return None
    if (!scanShaped(agg.child)) return None

    // classify output slots in original order
    val slots = scala.collection.mutable.ArrayBuffer.empty[Slot]
    agg.aggregateExpressions.foreach {
      case a: Attribute if groupAttrs.exists(_.semanticEquals(a)) => ()
      case al @ Alias(ae: AggregateExpression, _) if ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case Count(ks) if ae.isDistinct && ks.nonEmpty && ks.forall(_.deterministic) =>
            slots += DistinctSlot(al, ae)
          case fn if !ae.isDistinct && fn.deterministic &&
              RowOrdering.isOrderable(fn.dataType) &&
              (ae.nullable || fn.isInstanceOf[Count]) =>
            slots += CompanionSlot(al, ae)
          case _ => return None
        }
      case _ => return None
    }
    val distincts = slots.collect { case d: DistinctSlot => d }
    if (distincts.size < 2) return None

    val fire = mode == "force" ||
      agg.child.stats.sizeInBytes >= BigInt(
        conf.getConfString(MinBytesKey, (1L << 28).toString).toLong)
    if (!fire) return None

    // ---- the rewrite ----------------------------------------------------
    // Each leg is a PROJECT of typed-null padding over a pure aggregate:
    // the distinct legs then carry nothing but group passthroughs + ONE
    // lone distinct count, which keeps them eligible for the
    // DistinctThenCount / BitmapDistinct rewrites in the same fixed point
    // (null-literal outputs inside the Aggregate itself would trip their
    // fences).
    val gAttrs = groupAttrs.map(_.asInstanceOf[Attribute])
    def fresh(ae: AggregateExpression, name: String): Alias =
      Alias(AggregateExpression(ae.aggregateFunction, Complete,
        ae.isDistinct, None, NamedExpression.newExprId), s"_mds_$name")()
    def leg(owner: Slot => Boolean): LogicalPlan = {
      val owned: Map[Slot, Alias] = slots.collect {
        case sl @ DistinctSlot(al, ae) if owner(sl) =>
          (sl: Slot) -> fresh(ae, al.name)
        case sl @ CompanionSlot(al, ae) if owner(sl) =>
          (sl: Slot) -> fresh(ae, al.name)
      }.toMap
      val inner = Aggregate(groupAttrs,
        gAttrs ++ slots.flatMap(owned.get), agg.child)
      val proj: Seq[NamedExpression] = gAttrs ++ slots.map { sl =>
        owned.get(sl) match {
          case Some(al) => al.toAttribute
          case None =>
            val dt = sl match {
              case DistinctSlot(_, ae) => ae.dataType
              case CompanionSlot(_, ae) => ae.dataType
            }
            Alias(Literal.create(null, dt), s"_mds_pad")()
        }
      }
      Project(proj, inner)
    }

    val companionLeg =
      if (slots.exists(_.isInstanceOf[CompanionSlot]))
        Seq(leg(_.isInstanceOf[CompanionSlot]))
      else Nil
    val legs = distincts.map(d => leg(_ eq d)).toSeq ++ companionLeg
    val u = Union(legs)
    // Union output = first leg's attrs: g first, then one attr per slot.
    val slotAttr: Map[Slot, Attribute] =
      slots.zip(u.output.drop(gAttrs.size)).toMap
    val uGroupAttrs = u.output.take(gAttrs.size)

    def maxOf(a: Attribute): Expression =
      AggregateExpression(Max(a), Complete, isDistinct = false, None,
        NamedExpression.newExprId)

    var i = -1
    val outerAggs = agg.aggregateExpressions.map {
      case a: Attribute =>
        // group passthrough — same exprIds ride through the union
        a
      case al @ Alias(ae: AggregateExpression, name) =>
        i += 1
        val sl = slots(i)
        val merged =
          if (!ae.nullable) Coalesce(Seq(maxOf(slotAttr(sl)), Literal(0L)))
          else maxOf(slotAttr(sl))
        Alias(merged, name)(exprId = al.exprId, qualifier = al.qualifier)
      case _ => return None // unreachable — classified above
    }
    Some(Aggregate(uGroupAttrs, outerAggs, u))
  }
}

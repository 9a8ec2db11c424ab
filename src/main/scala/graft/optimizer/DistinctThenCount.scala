package graft.optimizer

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Planner rewrite of a LONE `COUNT(DISTINCT k…)` aggregate into
  * distinct-then-count (VERDICT r11 Next #4 — the generalization of the
  * kcore edge-build fix):
  *
  * {{{
  *   Aggregate(g, count(distinct k1..kn), child)
  *     ==>
  *   Aggregate(g, count(k1..kn),
  *     Aggregate(g ++ (k1..kn), g ++ (k1..kn), child))
  * }}}
  *
  * Why: the two plans have the SAME shuffle structure (hash(g ++ k)
  * partial/final dedup, then hash(g) count), but Spark's dedicated
  * single-distinct aggregate machinery measured pathologically slow
  * under AQE — 38.9 s vs 3.9 s for the equivalent explicit
  * distinct→count on a 1.2 M-row join output (q_graph_kcore's edge
  * build, r11; still 4.6 s vs 2.3 s with parallelism-first coalescing). The
  * explicit form keeps both aggregates on the ordinary
  * map-side-combinable HashAggregate path.
  *
  * Exactness: `COUNT(DISTINCT k1..kn)` counts distinct tuples with all
  * arguments non-null. The inner Aggregate dedups tuples (null tuples
  * collapse to one row each); the outer non-distinct `count(k1..kn)`
  * skips rows where any argument is null — identical semantics for any
  * data type, so there is no stats gate: the rewrite is at-worst-equal
  * by plan shape.
  *
  * Legality fences (bail out, keep the stock plan): every grouping
  * expression an Attribute; EXACTLY ONE aggregate expression and it is a
  * distinct COUNT with no FILTER clause and deterministic arguments; no
  * non-distinct companions (they would aggregate over deduplicated
  * rows). Aggregates the [[BitmapDistinct]] rule already rewrote (it
  * runs first and handles the integral-key + companions shape under its
  * stats gate) no longer contain a distinct count, so the two rules
  * compose without overlap. Output attributes keep their exprIds, names,
  * types, and nullability.
  *
  * `spark.graft.distinctThenCount` = on|off (default on).
  */
object DistinctThenCount extends Rule[LogicalPlan] {
  val ModeKey = "spark.graft.distinctThenCount"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString(ModeKey, "on") == "off") plan
    else plan.transformUp {
      case agg: Aggregate => maybeRewrite(agg).getOrElse(agg)
    }
  }

  private def maybeRewrite(agg: Aggregate): Option[Aggregate] = {
    val groupAttrs = agg.groupingExpressions
    if (!groupAttrs.forall(_.isInstanceOf[Attribute])) return None

    var slot: Option[(Alias, Seq[Expression])] = None
    agg.aggregateExpressions.foreach {
      case a: Attribute if groupAttrs.exists(_.semanticEquals(a)) => ()
      case al @ Alias(ae: AggregateExpression, _)
          if ae.filter.isEmpty && ae.isDistinct =>
        ae.aggregateFunction match {
          case Count(ks) if ks.nonEmpty && ks.forall(_.deterministic) =>
            if (slot.isDefined) return None // exactly one aggregate
            slot = Some((al, ks))
          case _ => return None
        }
      // constant padding (e.g. [[MultiDistinctSplit]]'s typed-null slots,
      // possibly collapsed into the Aggregate by CollapseProject) rides
      // through the outer aggregate untouched
      case Alias(e, _) if e.foldable => ()
      case _ => return None // companions / other shapes fence
    }
    val (distinctAlias, keys) = slot.getOrElse(return None)

    // One inner column per DISTINCT key expression; keys that are already
    // grouping attributes (or repeats) reuse the existing column so the
    // inner Aggregate never carries duplicate exprIds.
    val extras = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val keyAttrs: Seq[Attribute] = keys.map {
      case a: Attribute if groupAttrs.exists(_.semanticEquals(a)) => a
      case a: Attribute =>
        if (!extras.exists(_.toAttribute.semanticEquals(a))) extras += a
        a
      case e =>
        extras.find(x => x.isInstanceOf[Alias] &&
            x.asInstanceOf[Alias].child.semanticEquals(e)) match {
          case Some(existing) => existing.toAttribute
          case None =>
            val al = Alias(e, s"_dtc_k${extras.size}")()
            extras += al
            al.toAttribute
        }
    }
    val innerGroup: Seq[Expression] = groupAttrs ++ extras.map {
      case al: Alias => al.child
      case a => a
    }
    val innerOut: Seq[NamedExpression] =
      groupAttrs.map(_.asInstanceOf[Attribute]) ++ extras.toSeq
    val inner = Aggregate(innerGroup, innerOut, agg.child)

    val outerAggs = agg.aggregateExpressions.map {
      case a: Attribute => a
      case al @ Alias(_, name) if al eq distinctAlias =>
        Alias(
          AggregateExpression(
            Count(keyAttrs), Complete, isDistinct = false, None,
            NamedExpression.newExprId),
          name)(exprId = al.exprId, qualifier = al.qualifier)
      case al @ Alias(e, _) if e.foldable => al // constant padding
      case _ => return None // unreachable — classified above
    }
    Some(Aggregate(groupAttrs, outerAggs, inner))
  }
}

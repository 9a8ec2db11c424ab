package graft.optimizer

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LeafNode, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** The two COUNT(DISTINCT) rewrites ([[BitmapDistinct]],
  * [[MultiDistinctSplit]]) over one shared classification of the
  * aggregate list.
  *
  * Every rule keeps the same output contract: output attributes keep
  * their exprIds, names, types and nullability, so parent plans never
  * notice the switch. They run as two passes in the
  * operator-optimization fixed point, in that order.
  *
  * @param group      the grouping attributes (all grouping expressions
  *                   are Attributes, or the aggregate is declined)
  * @param slots      the FILTER-free aggregate outputs, in output order
  * @param padded     foldable outputs ride along (MultiDistinctSplit's
  *                   typed-null slots, possibly collapsed into the
  *                   Aggregate by CollapseProject)
  */
private[optimizer] final case class DistinctShape(
    group: Seq[Attribute],
    slots: Seq[(Alias, AggregateExpression)],
    padded: Boolean) {
  def distincts: Seq[AggregateExpression] = slots.map(_._2).filter(_.isDistinct)
  def companions: Seq[AggregateExpression] = slots.map(_._2).filterNot(_.isDistinct)
}

/** Mode reader, `transformUp` and the shared classifier / rebuild helpers.
  * A rule admits a [[DistinctShape]] and builds its rewrite; `off`
  * disables it, any other mode is passed to `rewrite`.
  */
private[optimizer] abstract class DistinctAggRule(val ModeKey: String, default: String)
    extends Rule[LogicalPlan] {

  /** The rule's gate as a pure function of the child's estimated input. */
  def gate(sizeInBytes: BigInt, rowCount: Option[BigInt], ndv: Option[BigInt]): Boolean

  protected def rewrite(agg: Aggregate, s: DistinctShape, mode: String): Option[LogicalPlan]

  final override def apply(plan: LogicalPlan): LogicalPlan = {
    val mode = conf.getConfString(ModeKey, default)
    if (mode == "off") plan
    else plan.transformUp {
      case agg: Aggregate => classify(agg).flatMap(rewrite(agg, _, mode)).getOrElse(agg)
    }
  }

  /** Group passthroughs, FILTER-free aggregates and foldable padding;
    * anything else (expression groupings, FILTER clauses, expressions
    * over aggregates) declines.
    */
  private def classify(agg: Aggregate): Option[DistinctShape] = {
    val g = agg.groupingExpressions
    if (!g.forall(_.isInstanceOf[Attribute])) return None
    val slots = Seq.newBuilder[(Alias, AggregateExpression)]
    var padded = false
    agg.aggregateExpressions.foreach {
      case a: Attribute if g.exists(_.semanticEquals(a)) => ()
      case al @ Alias(ae: AggregateExpression, _) if ae.filter.isEmpty => slots += al -> ae
      case Alias(e, _) if e.foldable => padded = true
      case _ => return None
    }
    Some(DistinctShape(g.map(_.asInstanceOf[Attribute]), slots.result(), padded))
  }

  /** `force`, or the gate on the child's estimated input, with `key`'s
    * CBO ndv when it is an attribute that has one.
    */
  protected def fires(agg: Aggregate, mode: String, key: Option[Expression] = None): Boolean =
    mode == "force" || {
      val st = agg.child.stats
      val ndv = key.collect { case a: Attribute => a }
        .flatMap(st.attributeStats.get).flatMap(_.distinctCount)
      gate(st.sizeInBytes, st.rowCount, ndv)
    }

  protected def aggExpr(fn: AggregateFunction, distinct: Boolean = false): AggregateExpression =
    AggregateExpression(fn, Complete, distinct, None, NamedExpression.newExprId)

  /** `agg`'s output list with the i-th aggregate slot replaced by
    * `merge(i, ae)` under the original alias's exprId; group passthroughs
    * and padding ride through untouched.
    */
  protected def rebuild(agg: Aggregate)(
      merge: (Int, AggregateExpression) => Expression): Seq[NamedExpression] = {
    var i = -1
    agg.aggregateExpressions.map {
      case al @ Alias(ae: AggregateExpression, name) =>
        i += 1
        Alias(merge(i, ae), name)(exprId = al.exprId, qualifier = al.qualifier)
      case other => other
    }
  }
}

/** Stats-informed exact-distinct planning (SURVEY §4.3a): rewrites an
  * integer-keyed `COUNT(DISTINCT k)` aggregate into the OR-combinable
  * bitmap form
  *
  * {{{
  *   Aggregate(g, count(distinct k), child)
  *     ==>
  *   Aggregate(g, coalesce(sum(bitmap_count(b)), 0),
  *     Aggregate(g :+ bitmap_bucket_number(k),
  *       bitmap_construct_agg(bitmap_bit_position(k)) AS b, child))
  * }}}
  *
  * Why: Spark's stock single-distinct plan shuffles every distinct
  * `(group, k)` PAIR; at a near-unique key grain that is a corpus-sized
  * shuffle, where the bitmap form shuffles fixed-size 4 KB-bucket
  * bitmaps per `(group, bucket)` and stays map-side combinable.
  * Non-distinct companions (COUNT / integral SUM / MIN / MAX) merge
  * through the same two-level shape.
  *
  * Gate (`spark.graft.bitmapDistinct` = off|auto|force, default auto):
  * with CBO column stats, fire iff ndv(k) ≥ [[NdvRatio]] × rowCount;
  * without them, iff the child's estimated bytes ≥ [[MinBytes]] (1 GiB:
  * small inputs keep the stock plan, at 100 TB the bitmap form engages).
  *
  * Fences: exactly ONE distinct aggregate, a single-argument COUNT over
  * an integral type (bucket/position are injective over the full Long
  * range); companions limited to COUNT / MIN / MAX / SUM of integral
  * inputs (SUM of double re-associates and SUM of decimal widens per
  * level, so both fence).
  */
object BitmapDistinct extends DistinctAggRule("spark.graft.bitmapDistinct", "auto") {
  val NdvRatio = 0.5
  val MinBytes: BigInt = BigInt(1L << 30)

  def gate(sizeInBytes: BigInt, rowCount: Option[BigInt], ndv: Option[BigInt]): Boolean =
    (rowCount, ndv) match {
      case (Some(rows), Some(d)) if rows > 0 => BigDecimal(d) >= BigDecimal(rows) * NdvRatio
      case _ => sizeInBytes >= MinBytes
    }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The merge step of the two-level split, for a supported companion. */
  private def mergeFn(fn: AggregateFunction): Option[Attribute => Expression] = fn match {
    case _: Count => Some(p => Coalesce(Seq(aggExpr(Sum(p)), Literal(0L))))
    case _: Min   => Some(p => aggExpr(Min(p)))
    case _: Max   => Some(p => aggExpr(Max(p)))
    case s: Sum if isIntegral(s.child.dataType) => Some(p => aggExpr(Sum(p)))
    case _ => None
  }

  protected def rewrite(agg: Aggregate, s: DistinctShape, mode: String): Option[LogicalPlan] = {
    val key = s.distincts match {
      case Seq(AggregateExpression(Count(Seq(k)), _, _, _, _)) if isIntegral(k.dataType) => k
      case _ => return None
    }
    if (!s.companions.forall(ae => mergeFn(ae.aggregateFunction).isDefined) ||
        !fires(agg, mode, Some(key))) return None

    val kLong = if (key.dataType == LongType) key else Cast(key, LongType)
    // bucket/position/count ship as RuntimeReplaceable, and the
    // ReplaceExpressions rule already ran (Finish Analysis): splice
    // their replacements directly
    val bucket = new BitmapBucketNumber(kLong).replacement
    val bmAlias = Alias(
      aggExpr(BitmapConstructAgg(new BitmapBitPosition(kLong).replacement)), "_bm_bits")()
    val partials = s.slots.map { case (al, ae) =>
      if (ae.isDistinct) None
      else Some(Alias(aggExpr(ae.aggregateFunction), s"_bm_p_${al.name}")())
    }
    val inner = Aggregate(s.group :+ bucket,
      s.group ++ (bmAlias +: partials.flatten), agg.child)
    val outer = rebuild(agg) { (i, ae) =>
      partials(i) match {
        case None => Coalesce(Seq(
          aggExpr(Sum(new BitmapCount(bmAlias.toAttribute).replacement)), Literal(0L)))
        case Some(p) => mergeFn(ae.aggregateFunction).get(p.toAttribute)
      }
    }
    Some(Aggregate(s.group, outer, inner))
  }
}

/** Stats-gated decomposition of a MULTI-distinct aggregate into a union
  * of single-distinct legs (the rule form of the hand-written
  * `q_agg_distinct_bitmap` twin):
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
  * Why: Spark plans N distinct aggregates via `Expand`: every input row
  * is replicated N(+1) times through the FIRST shuffle, then the
  * distinct machinery runs over the widened null-padded stream. The
  * union form scans the child once per leg, but each leg is a plain
  * single-distinct aggregate whose scan prunes to `g ++ ki`, and which
  * re-qualifies in the same fixed point for [[BitmapDistinct]].
  *
  * Merge correctness: every leg aggregates the SAME child, so each group
  * key appears exactly once per leg; per output slot exactly one leg
  * carries a real value and the others typed nulls, so `max`
  * (null-skipping) restores each slot exactly. Distinct COUNT slots
  * (non-nullable Long) re-wrap in `coalesce(max(…), 0)`; a group is never
  * absent from its owning leg, so the default is unreachable.
  *
  * Fences: at least TWO distinct aggregates, each a COUNT with
  * deterministic arguments; no foldable padding; companions
  * non-distinct, deterministic, with orderable result types (they must
  * survive the max-merge) and nullable unless they are COUNT (the only
  * non-nullable default this rule knows is 0).
  *
  * Cost fences: the child must be scan-shaped (deterministic
  * Project/Filter over a leaf: every leg re-evaluates the child, so a
  * `rand()` there would give each leg different rows, and re-computing a
  * join or aggregate per leg could dwarf the Expand saving); and (auto
  * mode) the child's estimated size must reach [[MinBytes]], 256 MiB,
  * the measured crossover (×10 fixture, pruned estimate ~25-50 MB: the
  * split LOSES ~40% to the extra scans; ×100, 256-512 MB: it wins
  * 26-37% against `off` in three same-window pairs, BASELINE.md).
  *
  * `spark.graft.multiDistinctSplit` = off|auto|force (default auto).
  */
object MultiDistinctSplit extends DistinctAggRule("spark.graft.multiDistinctSplit", "auto") {
  val MinBytes: BigInt = BigInt(1L << 28)

  def gate(sizeInBytes: BigInt, rowCount: Option[BigInt], ndv: Option[BigInt]): Boolean =
    sizeInBytes >= MinBytes

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case Project(ps, c) => ps.forall(_.deterministic) && scanShaped(c)
    case Filter(f, c) => f.deterministic && scanShaped(c)
    case _ => false
  }

  private def admits(ae: AggregateExpression): Boolean = ae.aggregateFunction match {
    case Count(ks) if ae.isDistinct => ks.nonEmpty && ks.forall(_.deterministic)
    case fn => !ae.isDistinct && fn.deterministic && RowOrdering.isOrderable(fn.dataType) &&
      (ae.nullable || fn.isInstanceOf[Count])
  }

  protected def rewrite(agg: Aggregate, s: DistinctShape, mode: String): Option[LogicalPlan] = {
    if (s.padded || !scanShaped(agg.child) || !s.slots.forall { case (_, ae) => admits(ae) } ||
        s.distincts.size < 2 || !fires(agg, mode)) return None

    // Each leg is a PROJECT of typed-null padding over a pure aggregate:
    // each distinct leg is group passthroughs + ONE lone distinct count,
    // which BitmapDistinct takes up in the same fixed point (and still
    // does once CollapseProject folds the padding into the Aggregate).
    val g = s.group
    def leg(owns: Int => Boolean): LogicalPlan = {
      val owned = s.slots.indices.filter(owns).map { i =>
        val (al, ae) = s.slots(i)
        i -> Alias(aggExpr(ae.aggregateFunction, ae.isDistinct), s"_mds_${al.name}")()
      }.toMap
      val inner = Aggregate(g, g ++ s.slots.indices.flatMap(owned.get), agg.child)
      Project(g ++ s.slots.indices.map { i =>
        owned.get(i).map(_.toAttribute)
          .getOrElse(Alias(Literal.create(null, s.slots(i)._2.dataType), "_mds_pad")())
      }, inner)
    }
    val (dIdx, cIdx) = s.slots.indices.partition(s.slots(_)._2.isDistinct)
    val u = Union(dIdx.map(d => leg(_ == d)) ++
      (if (cIdx.nonEmpty) Seq(leg(!s.slots(_)._2.isDistinct)) else Nil))
    // Union output = first leg's attrs: g first (same exprIds ride
    // through), then one attr per slot.
    val slotAttr = u.output.drop(g.size)
    val outer = rebuild(agg) { (i, ae) =>
      val m = aggExpr(Max(slotAttr(i)))
      if (!ae.nullable) Coalesce(Seq(m, Literal(0L))) else m
    }
    Some(Aggregate(u.output.take(g.size), outer, u))
  }
}

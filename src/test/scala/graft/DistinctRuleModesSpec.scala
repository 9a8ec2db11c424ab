package graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.optimizer.{BitmapDistinct, MultiDistinctSplit}

/** Rule-mode differential for the two COUNT(DISTINCT) rewrites. Both are
  * gated on input size, so under the default modes no declared query's
  * optimized plan may differ from its all-rules-off plan. Under each
  * force mode, every declared query whose plan differs must return the
  * all-rules-off rows, and the mode must change at least one plan beyond
  * the defaults, so no check is vacuous; the changed queries are
  * reported per mode.
  *
  * Plans are compared on one cache-substituted analyzed plan per query,
  * optimized under each mode, so only the rules can tell them apart.
  */
class DistinctRuleModesSpec extends SparkSpecBase {

  private val allOff =
    Seq(BitmapDistinct, MultiDistinctSplit).map(_.ModeKey -> "off")

  private lazy val analyzed: Seq[(QDef, LogicalPlan)] =
    SparkEntry.all.map(q => q -> q.fn(spark, sf).queryExecution.withCachedData)

  private def optimized(kvs: Seq[(String, String)]): Seq[String] = analyzed.map { case (_, p) =>
    withConf(kvs: _*)(spark.sessionState.optimizer.execute(p.clone())).toString
      .replaceAll("#\\d+", "#")
  }

  private lazy val offPlans = optimized(allOff)
  private lazy val defaultPlans = optimized(Nil)

  private def rowsOf(q: QDef, kvs: Seq[(String, String)]): Seq[String] =
    withConf(kvs: _*)(q.fn(spark, sf).collect().map(_.toString).sorted.toSeq)

  /** Names of the queries whose `plans` differ from `base`. */
  private def differ(plans: Seq[String], base: Seq[String]): Seq[String] =
    analyzed.indices.filter(i => plans(i) != base(i)).map(analyzed(_)._1.name)

  /** Asserts the rule-off rows wherever `plans` (under `kvs`) changed. */
  private def sameRows(mode: String, kvs: Seq[(String, String)], plans: Seq[String]): Unit = {
    val changed = differ(plans, offPlans)
    for (q <- SparkEntry.all if changed.contains(q.name))
      assert(rowsOf(q, kvs) == rowsOf(q, allOff), s"${q.name} under $mode: rows differ from all rules off")
    info(s"$mode changes ${changed.size} plans: ${changed.mkString(", ")}")
  }

  test("default modes change no declared query's plan") {
    val changed = differ(defaultPlans, offPlans)
    assert(changed.isEmpty, s"the default modes change ${changed.size} plans: ${changed.mkString(", ")}")
  }

  for ((mode, key) <- Seq(
      "bitmapDistinct=force" -> BitmapDistinct.ModeKey,
      "multiDistinctSplit=force" -> MultiDistinctSplit.ModeKey)) {
    test(s"$mode: every declared query whose plan changes keeps the rule-off rows") {
      val kvs = Seq(key -> "force")
      val plans = optimized(kvs)
      sameRows(mode, kvs, plans)
      val beyond = differ(plans, defaultPlans)
      info(s"$mode changes ${beyond.size} plans beyond the default modes: ${beyond.mkString(", ")}")
      assert(beyond.nonEmpty, s"$mode changes no declared query's plan beyond the default modes")
    }
  }
}

package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
import org.apache.spark.sql.functions._

import graft.optimizer.MultiDistinctSplit

/** The multi-distinct decomposition rule
  * ([[graft.optimizer.MultiDistinctSplit]]): under force it replaces the
  * Expand-based multi-distinct plan with a union of single-distinct legs
  * (which BitmapDistinct may take up in the same fixed point), bit-exact
  * against the stock plan including null
  * keys, null group keys, composite keys, and companions; it fences on
  * non-scan and non-deterministic children; and in auto mode the fixture
  * stays on the stock plan (the size gate, the q_agg_distinct_auto
  * posture).
  */
class MultiDistinctSplitSpec extends SparkSpecBase {

  // the q_agg_distinct shape: two single keys, one composite, a count
  private def aggDistinct = {
    Tables.register(spark, sf)
    spark.table("lineitem").groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("supp_d"),
        countDistinct(col("l_partkey")).as("part_d"),
        countDistinct(col("l_suppkey"), col("l_partkey")).as("sp_d"),
        count(lit(1)).as("cnt"))
  }

  test("force mode splits the Expand plan into single-distinct legs, same rows") {
    val stockPlan = planOf(aggDistinct)
    assert(stockPlan.contains("Expand"), s"stock plan lost Expand:\n$stockPlan")
    val stockRows = rows(aggDistinct)
    withConf(MultiDistinctSplit.ModeKey -> "force") {
      val df = aggDistinct
      val p = planOf(df)
      assert(!p.contains("Expand"), s"split did not fire:\n$p")
      assert(p.contains("Union"), s"split lost the union of legs:\n$p")
      // one aggregate per leg: a lone distinct for each of the three
      // distinct slots, and the companion leg's plain count
      val legs = df.queryExecution.optimizedPlan.collectFirst { case u: Union => u.children }.get
      val perLeg = legs.map(_.collect { case a: Aggregate =>
        a.aggregateExpressions.flatMap(_.collect { case ae: AggregateExpression if ae.isDistinct => ae }).size
      })
      assert(perLeg.sortBy(_.head) == Seq(Seq(0), Seq(1), Seq(1), Seq(1)),
        s"legs are not single-distinct aggregates: $perLeg\n$p")
      assert(rows(df) == stockRows)
    }
  }

  test("null keys, null group keys, and a global aggregate stay bit-exact") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[Long], Option[Long])](
      (Some("a"), Some(1L), Some(10L)), (Some("a"), Some(1L), None),
      (Some("a"), None, Some(10L)), (None, Some(2L), Some(20L)),
      (None, Some(2L), Some(20L)), (Some("b"), None, None))
      .toDF("g", "k1", "k2")
    df.createOrReplaceTempView("mds_null_probe")
    def grouped = spark.table("mds_null_probe").groupBy("g")
      .agg(countDistinct(col("k1")).as("d1"),
        countDistinct(col("k1"), col("k2")).as("d12"),
        count(col("k2")).as("c2"),
        max(col("k2")).as("m2"))
    def global = spark.table("mds_null_probe")
      .agg(countDistinct(col("k1")).as("d1"),
        countDistinct(col("k2")).as("d2"))
    val (gRows, glRows) = (rows(grouped), rows(global))
    withConf(MultiDistinctSplit.ModeKey -> "force") {
      val p = planOf(grouped)
      assert(p.contains("Union"), s"split did not fire on the null probe:\n$p")
      assert(rows(grouped) == gRows)
      assert(rows(global) == glRows)
    }
  }

  test("fences: non-scan children and the auto size gate keep the stock plan") {
    Tables.register(spark, sf)
    // join child — recomputing it per leg could dwarf the Expand saving
    val joined = spark.table("lineitem")
      .join(spark.table("orders"), expr("l_orderkey = o_orderkey"))
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("d1"),
        countDistinct(col("l_partkey")).as("d2"))
    withConf(MultiDistinctSplit.ModeKey -> "force") {
      val p = planOf(joined)
      assert(p.contains("Expand"), s"split fired over a join child:\n$p")
    }
    // auto mode: the fixture is far below the 256 MiB gate
    val p2 = planOf(aggDistinct)
    assert(p2.contains("Expand") && !p2.contains("Union"),
      s"auto mode fired below the size gate:\n$p2")
  }

  test("the gate as a pure function: both sides of the 256 MiB size threshold") {
    import MultiDistinctSplit.{gate, MinBytes}
    // stats never open it: only the size estimate counts
    for ((r, d) <- Seq((None, None), (Some(BigInt(10)), Some(BigInt(10))))) {
      assert(gate(MinBytes, r, d))
      assert(!gate(MinBytes - 1, r, d))
    }
  }

  test("fences: a rand() child keeps the stock plan under force, rule-off rows") {
    // every leg re-evaluates the child, so a non-deterministic Project or
    // Filter would give each leg its own rows. A Range leaf: over a
    // LocalRelation the optimizer evaluates rand() away before the rule runs
    val base = spark.range(400).selectExpr("id % 3 AS g", "id % 17 AS k1", "id % 29 AS k2")
    def projected = base.withColumn("r", (rand(7) * 5).cast("long"))
      .groupBy("g").agg(countDistinct(col("k1")).as("d1"), countDistinct(col("r")).as("dr"))
    def filtered = base.where(rand(11) < 0.5)
      .groupBy("g").agg(countDistinct(col("k1")).as("d1"), countDistinct(col("k2")).as("d2"))
    for ((name, df) <- Seq("project" -> (() => projected), "filter" -> (() => filtered))) {
      val off = withConf(MultiDistinctSplit.ModeKey -> "off")(rows(df()))
      withConf(MultiDistinctSplit.ModeKey -> "force") {
        val p = planOf(df())
        assert(p.contains("Expand") && !p.contains("Union"), s"split fired over a rand() $name:\n$p")
        assert(rows(df()) == off, s"rand() $name: force rows differ from rule-off rows")
      }
    }
  }
}

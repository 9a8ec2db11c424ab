package graft

import org.apache.spark.sql.functions._

import graft.optimizer.DistinctThenCount

/** The lone-COUNT(DISTINCT) planner rewrite
  * ([[graft.optimizer.DistinctThenCount]]): fires on the lone-distinct
  * shape (plan shows NO distinct-aggregate machinery), stays bit-exact
  * against the stock plan including null keys and multi-argument counts,
  * and fences on companions / multiple aggregates.
  */
class DistinctThenCountSpec extends SparkSpecBase {

  test("lone COUNT(DISTINCT k) rewrites to distinct-then-count, same rows") {
    Tables.register(spark, sf)
    def q = spark.table("lineitem").groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("ord_d"))
    val (onPlan, onRows) = (planOf(q), rows(q))
    // the rewritten plan has no distinct aggregate: Spark marks the
    // distinct machinery's final aggregate with a `count(distinct …)`
    // expression text; the rewrite leaves only plain count + a dedup grain
    assert(!onPlan.contains("distinct"), s"rewrite did not fire:\n$onPlan")
    val offRows = withConf(DistinctThenCount.ModeKey -> "off") {
      val df = q
      val p = planOf(df)
      assert(p.contains("distinct"), s"off-mode lost the stock plan:\n$p")
      rows(df)
    }
    assert(onRows == offRows)
  }

  test("null keys and multi-argument counts stay exact; expression keys work") {
    import spark.implicits._
    val df = Seq[(Integer, Integer, String)](
      (1, 10, "a"), (1, 10, "a"), (1, null, "a"), (1, 20, "b"),
      (2, null, null), (2, 30, "c"), (2, 30, "c"), (2, 30, "d"))
      .toDF("g", "k", "s")
    df.createOrReplaceTempView("dtc_t")
    for (sql <- Seq(
        "SELECT g, COUNT(DISTINCT k) AS d FROM dtc_t GROUP BY g",
        "SELECT g, COUNT(DISTINCT k, s) AS d FROM dtc_t GROUP BY g",
        "SELECT g, COUNT(DISTINCT k + 1) AS d FROM dtc_t GROUP BY g",
        "SELECT COUNT(DISTINCT s) AS d FROM dtc_t",
        "SELECT g, COUNT(DISTINCT g) AS d FROM dtc_t GROUP BY g")) {
      val on = rows(spark.sql(sql))
      val off = withConf(DistinctThenCount.ModeKey -> "off")(rows(spark.sql(sql)))
      assert(on == off, s"rows diverged for: $sql")
    }
  }

  test("the gate as a pure function: open at any input size") {
    // no threshold: the rewrite is at-worst-equal by plan shape
    assert(DistinctThenCount.gate(0, Some(0), Some(0)))
    assert(DistinctThenCount.gate(BigInt(Long.MaxValue), None, None))
  }

  test("fences: companions and multiple distincts keep the stock plan") {
    Tables.register(spark, sf)
    // companion count(*) rides the same aggregate -> must NOT rewrite
    // (it would count deduplicated rows); BitmapDistinct's gate also does
    // not fire at fixture size, so the distinct machinery must remain.
    val comp = spark.table("lineitem").groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("d"), count(lit(1)).as("c"))
    assert(planOf(comp).contains("distinct"),
      "companion shape must keep the stock distinct plan")
    // multi-distinct lowers to the Expand/gid machinery (the word
    // "distinct" disappears from that plan) — pin the gid marker instead
    val multi = spark.table("lineitem").groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("d1"),
        countDistinct(col("l_suppkey")).as("d2"))
    assert(planOf(multi).contains("gid"),
      "multi-distinct shape must keep the stock Expand/gid plan")
  }
}

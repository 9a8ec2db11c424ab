package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.optimizer.BitmapDistinct

/** The stats-informed distinct-aggregate choice
  * ([[graft.optimizer.BitmapDistinct]]): the rule must switch the plan —
  * and ONLY the plan — in both directions of its gate, stay exact over
  * the full integral range, and read CBO column stats when they exist.
  */
class BitmapDistinctSpec extends SparkSpecBase {

  private def distinctAgg(): DataFrame = {
    Tables.register(spark, sf)
    spark.table("lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_orderkey")).as("ord_d"),
        count(lit(1)).as("cnt"),
        min(col("l_suppkey")).as("min_supp"),
        sum(col("l_linenumber")).as("sum_ln"))
  }

  test("the switch, both ways: bitmap plan under the gate, stock plan outside it, same rows") {
    // default gate: 1 GiB size floor — the tiny fixture stays on the
    // stock two-phase distinct
    val stock = distinctAgg()
    assert(!planOf(stock).contains("bitmap_construct_agg"),
      "default gate must keep the stock plan on a small input")

    // forced (what the size gate does at scale without stats; the gate's
    // thresholds are pinned as pure functions below): the SAME query
    // plans through the bitmap rewrite — no Expand, no (group, key)
    // two-phase distinct
    val (bitmapPlan, bitmapRows, stockRows) =
      withConf(BitmapDistinct.ModeKey -> "force") {
        val b = distinctAgg()
        (planOf(b), b.collect().map(_.toSeq).toSet, stock.collect().map(_.toSeq).toSet)
      }
    assert(bitmapPlan.contains("bitmap_construct_agg"),
      s"forced plan must be the bitmap form:\n$bitmapPlan")
    assert(!bitmapPlan.contains("distinct"),
      "bitmap form must not retain a distinct aggregate")
    assert(bitmapRows == stockRows, "the rewrite changed results")
    // mode=off against an open gate: see the CBO-stats test
  }

  test("the gate as a pure function: both sides of the ndv-ratio and size thresholds") {
    import BitmapDistinct.{gate, MinBytes}
    val (rows, none) = (Some(BigInt(1000)), Option.empty[BigInt])
    // with stats the ndv ratio (0.5) decides, whatever the size
    assert(gate(0, rows, Some(500)))
    assert(!gate(MinBytes, rows, Some(499)))
    // without usable stats the 1 GiB size floor decides
    for ((r, d) <- Seq((none, none), (rows, none), (none, Some(BigInt(999))),
        (Some(BigInt(0)), Some(BigInt(0))))) {
      assert(gate(MinBytes, r, d), s"size floor must fire at 1 GiB ($r, $d)")
      assert(!gate(MinBytes - 1, r, d), s"size floor must decline below 1 GiB ($r, $d)")
    }
  }

  test("exactness fences: negatives stay exact; double SUM companions fence the rule") {
    import spark.implicits._
    // full-integral-range exactness: bucket/position are injective over
    // negatives too (the legality claim the rule's scaladoc makes)
    val vals = ((-70000L to -69000L) ++ (-5L to 5L) ++ (40000L to 41000L)).toDF("v")
      .withColumn("g", pmod(col("v"), lit(3)))
    val (got, want) = withConf(BitmapDistinct.ModeKey -> "force") {
      val b = vals.groupBy("g").agg(countDistinct(col("v")).as("d"))
      assert(planOf(b).contains("bitmap_construct_agg"))
      (b.collect().map(r => r.get(0) -> r.getLong(1)).toMap,
        withConf(BitmapDistinct.ModeKey -> "off") {
          vals.groupBy("g").agg(countDistinct(col("v")).as("d"))
            .collect().map(r => r.get(0) -> r.getLong(1)).toMap
        })
    }
    assert(got == want, "bitmap distinct diverged on negative keys")

    // a double SUM companion re-associates under a two-level split, so
    // the rule must NOT fire even when forced
    val fenced = withConf(BitmapDistinct.ModeKey -> "force") {
      Tables.register(spark, sf)
      planOf(spark.table("lineitem").groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("d"),
          sum(col("l_quantity")).as("q")))
    }
    assert(!fenced.contains("bitmap_construct_agg"),
      "double SUM companion must fence the rewrite")
  }

  test("CBO stats steer the gate: near-unique key fires, low-ndv key does not") {
    // catalog table + ANALYZE FOR COLUMNS gives the rule real ndv/rowCount
    // (the at-scale decision input); the size floor stays at its 1 GiB
    // default so ONLY the stats can open the gate here
    withConf("spark.sql.cbo.enabled" -> "true") {
      spark.sql("DROP TABLE IF EXISTS bmd_stats")
      spark.range(20000)
        .selectExpr("id AS uniq", "CAST(id % 7 AS BIGINT) AS coarse",
          "CAST(id % 3 AS INT) AS g")
        .write.saveAsTable("bmd_stats")
      try {
        spark.sql("ANALYZE TABLE bmd_stats COMPUTE STATISTICS FOR ALL COLUMNS")
        val nearUnique = planOf(spark.table("bmd_stats").groupBy("g")
          .agg(countDistinct(col("uniq")).as("d")))
        val lowNdv = planOf(spark.table("bmd_stats").groupBy("g")
          .agg(countDistinct(col("coarse")).as("d")))
        assert(nearUnique.contains("bitmap_construct_agg"),
          s"ndv≈rows must open the gate:\n$nearUnique")
        assert(!lowNdv.contains("bitmap_construct_agg"),
          s"ndv≪rows must keep the stock plan:\n$lowNdv")
        // mode=off wins over an open gate
        withConf(BitmapDistinct.ModeKey -> "off") {
          assert(!planOf(spark.table("bmd_stats").groupBy("g")
            .agg(countDistinct(col("uniq")).as("d"))).contains("bitmap_construct_agg"),
            "off must disable the rule regardless of the gate")
        }
      } finally spark.sql("DROP TABLE IF EXISTS bmd_stats")
    }
  }
}

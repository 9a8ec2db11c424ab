package graft

/** ANALYZE TABLE + cost-based optimization evidence (SURVEY §2.13 /
  * VERDICT r3 missing #3): table and column statistics land in the
  * catalog, feed the logical plan, and — with CBO + join reorder on —
  * change a deliberately bad textual join order. The engine otherwise
  * leans on AQE (runtime stats); this proves the static-stats surface of
  * the warehouse reference also works.
  */
class AnalyzeCboSpec extends SparkSpecBase {

  test("ANALYZE TABLE computes row and column stats that reach the plan") {
    Tables.load(spark, sf, "customer").write.mode("overwrite").saveAsTable("cbo_customer")
    try {
      spark.sql("ANALYZE TABLE cbo_customer COMPUTE STATISTICS")
      spark.sql("ANALYZE TABLE cbo_customer COMPUTE STATISTICS FOR COLUMNS c_custkey, c_nationkey")
      val desc = spark.sql("DESCRIBE TABLE EXTENDED cbo_customer")
        .collect().map(r => s"${r.getString(0)} ${r.getString(1)}").mkString("\n")
      assert(desc.contains("rows"), s"no row stats in catalog:\n$desc")
      val colStats = spark.sql("DESCRIBE TABLE EXTENDED cbo_customer c_custkey")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(colStats.get("distinct_count").exists(_ != "NULL"),
        s"no NDV for c_custkey: $colStats")
      val nRows = Tables.load(spark, sf, "customer").count()
      withConf("spark.sql.cbo.enabled" -> "true") {
        val stats = spark.table("cbo_customer")
          .queryExecution.optimizedPlan.stats
        assert(stats.rowCount.exists(_.toLong == nRows),
          s"catalog rowCount did not reach the plan: ${stats.rowCount} != $nRows")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cbo_customer")
  }

  test("CBO join reorder rewrites a bad textual join order using ANALYZE stats") {
    // Textual order joins the two FACTS first and the selective filtered
    // dim last; with stats + CBO join reorder the optimizer should attach
    // the small filtered side before (or instead of) the fact-fact pair
    // going first. Reference surface: AnalyzeTableCommand + CostBasedJoinReorder.
    Tables.load(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      .write.mode("overwrite").saveAsTable("cbo_li")
    Tables.load(spark, sf, "orders").select("o_orderkey", "o_custkey")
      .write.mode("overwrite").saveAsTable("cbo_ord")
    Tables.load(spark, sf, "customer").select("c_custkey", "c_acctbal")
      .write.mode("overwrite").saveAsTable("cbo_cust")
    try {
      Seq("cbo_li", "cbo_ord", "cbo_cust").foreach { t =>
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
        spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
      }
      val badOrder = """
        SELECT COUNT(*) AS n
        FROM cbo_li JOIN cbo_ord ON l_orderkey = o_orderkey
                    JOIN cbo_cust ON o_custkey = c_custkey
        WHERE c_custkey < 40"""
      def joinTree(): String = {
        val p = spark.sql(badOrder).queryExecution.optimizedPlan.toString
        // keep only the join/relation skeleton for a stable compare
        p.linesIterator.filter(l => l.contains("Join") || l.contains("Relation"))
          .map(_.replaceAll("#\\d+L?", "").trim).mkString("\n")
      }
      val off = joinTree()
      var on: String = null
      withConf(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") { on = joinTree() }
      assert(on != off, s"CBO join reorder left the plan unchanged:\n$on")
      // in the reordered tree the filtered dim (cbo_cust) must join before
      // the big-big pair completes: cust appears ABOVE lineitem's relation
      val relOrder = on.linesIterator.filter(_.contains("Relation")).toSeq
      assert(relOrder.exists(_.contains("cbo_cust")), s"plan lost cbo_cust:\n$on")
      val custIdx = relOrder.indexWhere(_.contains("cbo_cust"))
      val liIdx = relOrder.indexWhere(_.contains("cbo_li"))
      assert(custIdx < liIdx,
        s"filtered dim not pulled forward (cust@$custIdx, li@$liIdx):\n$on")
      // both orders compute the same answer
      val n = spark.sql(badOrder).head().getLong(0)
      withConf(
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true") {
        assert(spark.sql(badOrder).head().getLong(0) == n)
      }
    } finally Seq("cbo_li", "cbo_ord", "cbo_cust")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

package graft

import org.apache.spark.sql.functions._

/** Focused pins for the two r11 optimization seams:
  *
  *  - [[Tables.fanOut]]: the scale-adaptive repartition must fire ONLY
  *    when the planned scan under-fills the configured parallelism
  *    (single-row-group fixture files) and be a structural no-op when
  *    the input already parallelizes — the gate is what keeps the extra
  *    exchange out of every real-scale plan.
  *
  *  - [[org.apache.spark.sql.graft.InternalSnap.materializedInputBytes]]:
  *    the exact-leaf-bytes source Pregel's one-shot loop-parallelism
  *    choice prefers must return Some(>0) exactly when every plan leaf
  *    is a materialized snap, and None when any live source remains —
  *    a wrong Some would silently mis-size every superstep.
  */
class FanOutSnapSpec extends SparkSpecBase {
  import org.apache.spark.sql.graft.InternalSnap

  test("fanOut repartitions an under-parallel scan and leaves a parallel input alone") {
    val cores = spark.sparkContext.defaultParallelism
    // single-row-group fixture file -> one planned partition -> fans out
    val docs = Tables.load(spark, sf, "documents")
    assume(docs.rdd.getNumPartitions * 2 < cores,
      "fixture no longer single-row-group; gate untestable here")
    val fanned = Tables.fanOut(docs)
    assert(fanned.rdd.getNumPartitions == cores,
      "under-parallel scan must fan out to defaultParallelism")
    assert(fanned.queryExecution.analyzed.toString.contains("Repartition"),
      "fan-out must be an explicit round-robin repartition")
    // already-parallel input -> structurally unchanged (same plan object,
    // no Repartition node added)
    val wide = spark.range(0, 1000, 1, cores)
    val kept = Tables.fanOut(wide.toDF())
    assert(!kept.queryExecution.analyzed.toString.contains("Repartition"),
      "fan-out must be a no-op when the scan already fills the cores")
    // results are the same rows either way
    assert(fanned.count() == docs.count())
  }

  test("materializedInputBytes: Some for snap-fed plans, None past live sources") {
    val ck = spark.range(0, 10000).toDF("id").localCheckpoint()
    val derived = ck.select(col("id") * 2 as "x").where(col("x") > 10)
    val bytes = InternalSnap.materializedInputBytes(derived)
    assert(bytes.exists(_ > 0L),
      s"checkpoint-fed plan must report exact leaf bytes, got $bytes")
    // live parquet scan -> None (estimates must be used instead)
    assert(InternalSnap.materializedInputBytes(
      Tables.load(spark, sf, "orders")).isEmpty)
    // mixed: a join of snap and live source -> None (any live leaf poisons)
    val mixed = ck.join(Tables.load(spark, sf, "orders"),
      col("id") === col("o_orderkey"))
    assert(InternalSnap.materializedInputBytes(mixed).isEmpty)
    InternalSnap.free(ck)
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming incremental view maintenance — the streaming twin of
  * `q_dml_ivm`: a per-group SUM/COUNT aggregate over a governed
  * [[graft.sources.DmlCatalog]] table is kept current from a CDC
  * upsert/delete stream, refreshed per micro-batch by SIGNED contributions
  * (−old for every touched key's current row, +new for every upsert) —
  * the view is never recomputed from the base table after setup.
  *
  * Per-batch cost is O(|batch| + |groups|): the −old lookup is a
  * broadcast semi-probe of the governed table on the batch's keys, the
  * view merge is group-cardinality-sized (a materialized view's defining
  * property), and the table itself is brought forward with the same
  * MERGE/DELETE statements the CDC-upsert precedent uses
  * (`StreamingDmlSpec`). At 100 TB the table-side probe rides the
  * format's key clustering; nothing here scans the base.
  *
  * Batch semantics (deterministic under any micro-batch cut, pinned in
  * `MatViewSpec`): within one batch each key reduces to ONE effective op
  * — a delete if any delete arrived for it, else the upsert with the
  * greatest (value, group) pair (last-writer-wins needs an order; MAX is
  * the arrival-order-free choice the CDC precedent uses).
  *
  * @param table fully-qualified governed table `(k BIGINT, g STRING,
  *              v DOUBLE)` — must exist before the first batch
  */
class MatView(spark: SparkSession, table: String) {

  import spark.implicits._

  /** Exact money-units of a double column (the [[graft.Exact]] pattern). */
  private def units(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e4) + lit(0.5)).cast("long")

  @volatile private var state: DataFrame =
    Seq.empty[(String, Long, Long)].toDF("g", "n", "u")

  /** The maintained view: one row per group, exact BIGINT count and
    * money-unit sum (divide by 1e4 at the edge for display).
    */
  def view: DataFrame = state

  /** One-time bootstrap: seed the view from the table's CURRENT content —
    * the only base-table aggregate in the operator's lifetime.
    */
  def init(): Unit = this.synchronized {
    val prev = state
    state = spark.table(table)
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(units(col("v"))).as("u"))
      .persist()
    state.count()
    prev.unpersist()
  }

  /** Apply one micro-batch of change records `(op 'u'|'d', k, g, v)`. */
  def step(batch: DataFrame): Unit = this.synchronized {
    // One effective op per key: delete dominates, else MAX-(v, g) upsert.
    val eff = batch
      .groupBy("k")
      .agg(max(when(col("op") === "d", 1).otherwise(0)).as("del"),
        max(struct(col("v"), col("g"))).as("up"))
      .select(col("k"), col("del"),
        col("up.g").as("g"), col("up.v").as("v"))
      .persist()
    eff.count() // materialize while the streaming frame is valid

    // Signed contributions, all computed against the PRE-batch table:
    // every touched key that exists contributes −old; every effective
    // upsert contributes +new. The table probe broadcasts the batch keys.
    val old = spark.table(table)
      .join(broadcast(eff.select(col("k").as("bk"))), col("k") === col("bk"))
      .select(col("g"), lit(-1L).as("dn"), (-units(col("v"))).as("du"))
    val fresh = eff.where(col("del") === 0)
      .select(col("g"), lit(1L).as("dn"), units(col("v")).as("du"))
    val delta = old.unionByName(fresh)
      .groupBy("g").agg(sum("dn").as("dn"), sum("du").as("du"))

    // Merge into the view (group-cardinality work) and swap generations.
    val prev = state
    state = prev
      .join(delta, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("u"), lit(0L)) + coalesce(col("du"), lit(0L))).as("u"))
      .where(col("n") > 0)
      .persist()
    state.count()
    prev.unpersist()

    // Bring the governed table forward with the same effective ops — the
    // temp view and the MERGEs run in the micro-batch's OWN session (a
    // foreachBatch frame lives in a cloned session; the outer session
    // can't see its temp views — the StreamingDmlSpec idiom).
    eff.createOrReplaceTempView("matview_batch")
    eff.sparkSession.sql(
      s"""MERGE INTO $table t
          USING (SELECT k, g, v FROM matview_batch WHERE del = 0) s
          ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET g = s.g, v = s.v
          WHEN NOT MATCHED THEN INSERT (k, g, v) VALUES (s.k, s.g, s.v)""")
    eff.sparkSession.sql(
      s"""MERGE INTO $table t
          USING (SELECT k FROM matview_batch WHERE del = 1) s
          ON t.k = s.k
          WHEN MATCHED THEN DELETE""")
    eff.unpersist()
  }

  def close(): Unit = this.synchronized { state.unpersist() }
}

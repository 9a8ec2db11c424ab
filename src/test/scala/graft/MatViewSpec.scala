package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.DmlCatalog
import graft.streaming.MatView

/** Streaming incremental view maintenance ([[graft.streaming.MatView]])
  * vs an INDEPENDENT plain-Scala reference: the CDC ops folded
  * sequentially into a Map, then aggregated directly — so the signed-
  * contribution algebra, the governed-table MERGE/DELETE round-trip, and
  * the per-batch op reduction are all proven against a reimplementation
  * that shares none of them. Also pins: view == direct aggregate over
  * the final table (the IVM contract), and batch-cut invariance.
  */
class MatViewSpec extends SparkSpecBase {

  type Op = (String, Long, String, Double) // op, k, g, v

  /** Reference: sequential fold with the operator's batch semantics
    * (within a batch: delete dominates per key, else MAX (v, g) upsert).
    */
  private def refTable(batches: Seq[Seq[Op]]): Map[Long, (String, Double)] = {
    val t = scala.collection.mutable.Map.empty[Long, (String, Double)]
    for (b <- batches) {
      val byKey = b.groupBy(_._2)
      for ((k, ops) <- byKey) {
        if (ops.exists(_._1 == "d")) t.remove(k)
        else {
          val (_, _, g, v) = ops.maxBy(o => (o._4, o._3))
          t(k) = (g, v)
        }
      }
    }
    t.toMap
  }

  private def refView(t: Map[Long, (String, Double)]): Map[String, (Long, Long)] =
    t.values.groupBy(_._1).map { case (g, vs) =>
      g -> ((vs.size.toLong, vs.map(x => math.floor(x._2 * 1e4 + 0.5).toLong).sum))
    }

  private def run(batches: Seq[Seq[Op]]): (Map[String, (Long, Long)], Map[Long, (String, Double)]) = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graft_dml", classOf[DmlCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft_dml.t_mv")
    spark.sql(
      """CREATE TABLE graft_dml.t_mv AS
         SELECT CAST(id AS BIGINT) AS k,
                CASE WHEN id % 2 = 0 THEN 'alpha' ELSE 'beta' END AS g,
                CAST(id AS DOUBLE) * 1.5 AS v
         FROM range(6)""")
    val mv = new MatView(spark, "graft_dml.t_mv")
    mv.init()
    val input = MemoryStream[Op]
    val q = input.toDF().toDF("op", "k", "g", "v").writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => mv.step(b))
      .start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val view = mv.view.collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val table = spark.sql("SELECT k, g, v FROM graft_dml.t_mv").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
      (view, table)
    } finally { q.stop(); mv.close(); spark.sql("DROP TABLE graft_dml.t_mv") }
  }

  test("streaming view maintenance equals the sequential-fold reference") {
    // seeds rows 0..5 (alpha evens, beta odds), then: updates that move a
    // key across groups, inserts into a new group, deletes incl. a
    // nonexistent key, a same-batch upsert+delete conflict (delete wins),
    // and an in-batch double upsert (MAX wins).
    val seed = (0L until 6L).map(k =>
      k -> ((if (k % 2 == 0) "alpha" else "beta", k * 1.5))).toMap
    val batches: Seq[Seq[Op]] = Seq(
      Seq(("u", 1L, "alpha", 10.0), ("u", 7L, "gamma", 2.5)),
      Seq(("d", 0L, "", 0.0), ("d", 99L, "", 0.0),
        ("u", 8L, "gamma", 1.0), ("u", 8L, "gamma", 4.0)),
      Seq(("u", 9L, "beta", 3.0), ("d", 9L, "", 0.0),
        ("u", 2L, "beta", 0.25)))
    val (view, table) = run(batches)
    val wantTable = refTable(Seq(seed.toSeq.map { case (k, (g, v)) => ("u", k, g, v) }) ++ batches)
    assert(table === wantTable, "governed table diverged from the fold")
    assert(view === refView(wantTable), "view diverged from the reference aggregate")
    // the IVM contract, stated directly: view == aggregate of final table
    assert(view === refView(table))
  }

  test("view is invariant to micro-batch boundaries") {
    val ops: Seq[Op] = Seq(
      ("u", 1L, "alpha", 10.0), ("u", 7L, "gamma", 2.5), ("d", 0L, "", 0.0),
      ("u", 8L, "gamma", 4.0), ("u", 9L, "beta", 3.0), ("u", 2L, "beta", 0.25),
      ("d", 3L, "", 0.0))
    // ops that commute across cuts (no same-key pair split differently):
    // one-per-batch vs all-at-once must agree.
    val (v1, t1) = run(ops.map(Seq(_)))
    val (v2, t2) = run(Seq(ops))
    assert(t1 === t2, "table depends on batch boundaries")
    assert(v1 === v2, "view depends on batch boundaries")
  }
}

package graft

import java.security.MessageDigest

import graft.streaming.Admission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming near-dup admission ([[graft.streaming.Admission]]) vs an
  * INDEPENDENT driver-side reference: the full shingle → md5 → universal-
  * hash MinHash → band → Jaccard chain reimplemented in plain Scala
  * (MessageDigest, Sets — no Spark), brute-forced over all ordered pairs.
  * The same replicate-the-scheme-independently bar as PregelSpec's
  * Dijkstra: a shared bug in the relational pipeline cannot pass it.
  *
  * Also pins stream-equals-batch: the decisions must not depend on how
  * the stream was cut into micro-batches (admission against "everything
  * older" is batch-boundary-free by construction).
  */
class AdmissionSpec extends SparkSpecBase {

  // ---- the independent reference (no Spark) -------------------------------
  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def shingles(text: String): Seq[String] = {
    val w = text.split(" ", -1)
    if (w.length < 3) Seq.empty
    else (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
  }

  private def bandsOf(text: String): Set[(Int, String)] = {
    val sh = shingles(text)
    if (sh.isEmpty) return Set.empty
    val vms = sh.map(s => java.lang.Long.parseLong(md5hex(s).take(15), 16) % Dedup0.P)
    val mh = (0 until Dedup0.H).map(j =>
      vms.map(vm => ((2 * j + 1) * vm + Dedup0.bj(j)) % Dedup0.P).min)
    (0 until Dedup0.BANDS).map { b =>
      val rows = (0 until Dedup0.H / Dedup0.BANDS).map(k => mh(b * 4 + k))
      (b, md5hex(rows.mkString("|")))
    }.toSet
  }

  private def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a).toSet, shingles(b).toSet)
    if (sa.isEmpty || sb.isEmpty) 0.0
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  test("streaming admission equals the driver-side brute-force reference") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq

    // Reference: for each doc, count OLDER docs that band-collide AND
    // verify at Jaccard >= 0.5 — batch-boundary-free by definition.
    val bands = docs.map { case (id, t) => id -> bandsOf(t) }.toMap
    val expected = docs.map { case (id, t) =>
      val nd = docs.takeWhile(_._1 < id).count { case (oid, ot) =>
        bands(oid).intersect(bands(id)).nonEmpty && jaccard(ot, t) >= 0.5
      }
      (id, nd.toLong, nd == 0)
    }

    // Stream the same docs in 4 uneven micro-batches. The sink collects
    // decisions driver-side (a test concern — production appends a table).
    def collector(buf: scala.collection.mutable.ArrayBuffer[(Long, Long, Boolean)])
        : org.apache.spark.sql.DataFrame => Unit =
      df => buf.synchronized {
        buf ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val adm = new Admission(spark, collector(got))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => adm.step(b))
      .start()
    try {
      val cuts = Seq(docs.length / 7, docs.length / 3, docs.length * 2 / 3, docs.length)
      var from = 0
      for (to <- cuts if to > from) {
        input.addData(docs.slice(from, to))
        q.processAllAvailable()
        from = to
      }
      assert(got.size == docs.size, "every doc must get a decision")
      assert(got.sortBy(_._1).toSeq == expected,
        s"admission diverged from the independent reference; first diffs: " +
          got.sortBy(_._1).zip(expected).filter(p => p._1 != p._2).take(5))
    } finally {
      q.stop(); adm.close()
    }

    // Batch-boundary invariance: a completely different cut of the same
    // stream must produce identical decisions (drip the head one doc per
    // micro-batch, then the whole tail at once).
    val got2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val adm2 = new Admission(spark, collector(got2))
    val input2 = MemoryStream[(Long, String)]
    val q2 = input2.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => adm2.step(b))
      .start()
    try {
      for (i <- 0 until math.min(3, docs.length)) {
        input2.addData(Seq(docs(i))); q2.processAllAvailable()
      }
      input2.addData(docs.drop(math.min(3, docs.length)))
      q2.processAllAvailable()
      assert(got2.sortBy(_._1).toSeq == expected,
        "decisions depend on micro-batch boundaries")
    } finally {
      q2.stop(); adm2.close()
    }

    // Compaction invariance: with compactEvery=2 the delta stores are
    // folded into the checkpointed base mid-stream (several times, given
    // >4 batches) — decisions must be bit-identical to the uncompacted
    // runs above, proving compaction is pure lineage bookkeeping.
    val got3 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val adm3 = new Admission(spark, collector(got3), compactEvery = 2)
    val input3 = MemoryStream[(Long, String)]
    val q3 = input3.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => adm3.step(b))
      .start()
    try {
      val step = math.max(1, docs.length / 6)
      var from3 = 0
      while (from3 < docs.length) {
        input3.addData(docs.slice(from3, from3 + step))
        q3.processAllAvailable()
        from3 += step
      }
      assert(got3.sortBy(_._1).toSeq == expected,
        "decisions changed across a store compaction boundary")
    } finally {
      q3.stop(); adm3.close()
    }
  }

  test("table-backed stores: decisions exact, and they survive an operator restart") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val bands = docs.map { case (id, t) => id -> bandsOf(t) }.toMap
    val expected = docs.map { case (id, t) =>
      val nd = docs.takeWhile(_._1 < id).count { case (oid, ot) =>
        bands(oid).intersect(bands(id)).nonEmpty && jaccard(ot, t) >= 0.5
      }
      (id, nd.toLong, nd == 0)
    }

    spark.conf.set("spark.sql.catalog.graft_dml",
      classOf[graft.sources.DmlCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graft_dml.admt_idx")
    spark.sql("DROP TABLE IF EXISTS graft_dml.admt_sh")
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    def collector: org.apache.spark.sql.DataFrame => Unit =
      df => got.synchronized {
        got ++= df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // first incarnation: the head of the stream
    val adm1 = new Admission(spark, collector,
      store = Admission.tableStore(spark, "graft_dml", "admt"))
    val in1 = MemoryStream[(Long, String)]
    val q1 = in1.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => adm1.step(b))
      .start()
    val cut = docs.length / 2
    try {
      in1.addData(docs.take(cut / 2)); q1.processAllAvailable()
      in1.addData(docs.slice(cut / 2, cut)); q1.processAllAvailable()
    } finally { q1.stop(); adm1.close() }

    // RESTART: a brand-new operator instance over the SAME tables — the
    // accumulated state must come back from the catalog's parquet files,
    // not from any block-manager remnant of the first incarnation.
    val adm2 = new Admission(spark, collector,
      store = Admission.tableStore(spark, "graft_dml", "admt"))
    val in2 = MemoryStream[(Long, String)]
    val q2 = in2.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append")
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => adm2.step(b))
      .start()
    try {
      in2.addData(docs.slice(cut, cut + cut / 2)); q2.processAllAvailable()
      in2.addData(docs.drop(cut + cut / 2)); q2.processAllAvailable()
    } finally { q2.stop(); adm2.close() }

    assert(got.size == docs.size, "every doc must get a decision")
    assert(got.sortBy(_._1).toSeq == expected,
      "table-backed admission diverged from the independent reference " +
        "across the restart")
    // the durable stores really are the catalog tables (file-backed)
    val idxRows = spark.table("graft_dml.admt_idx").count()
    assert(idxRows > 0, "band index table should hold the whole stream")
    spark.sql("DROP TABLE graft_dml.admt_idx")
    spark.sql("DROP TABLE graft_dml.admt_sh")
  }

  /** Private-constant mirror so the reference can read the SAME scheme
    * constants the pipeline uses (a drifted constant must fail the test,
    * not silently fork the scheme).
    */
  private object Dedup0 {
    val H = graft.queries.Dedup.H
    val BANDS = graft.queries.Dedup.BANDS
    val P = graft.queries.Dedup.P
    def bj(j: Int): Long = graft.queries.Dedup.bj(j)
  }
}

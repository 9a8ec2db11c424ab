package graft

/** Constructed-corpus proofs for q_sim_apss — exact all-pairs similarity
  * with prefix filtering. The DuckDB oracle already pins losslessness on
  * the fixture corpus (the oracle is the UNFILTERED brute force); this
  * suite pins the semantics against an independent plain-Scala reference
  * on corpora built to stress the filter's edges: identical docs, just-
  * above/just-below-threshold pairs, size-mismatched pairs the length
  * filter must kill, and a randomized corpus. Uses the [[Tables.seed]]
  * test seam so the shared session's fixture memos are untouched.
  */
class ApssSpec extends SparkSpecBase {

  private def seedDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    Tables.names.filter(_ != "documents").foreach { n =>
      Tables.seed(spark, dir, n, Tables.load(spark, sf, n))
    }
    Tables.seed(spark, dir, "documents",
      docs.toDF("doc_id", "text").selectExpr(
        "doc_id", "text", "'en' AS lang", "'synth' AS source",
        "length(text) AS n_chars"))
  }

  /** The scheme's term id, reimplemented independently: value of the
    * first 15 hex digits of md5 (what `md5_long` computes).
    */
  private def md5Long(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Independent reference: distinct hashed word-3-shingle sets, every
    * pair, integer threshold test — no prefix filter, no Spark.
    */
  private def brute(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
    val sets = docs.map { case (id, text) =>
      val ws = text.toLowerCase.split(" ", -1)
      val sh =
        if (ws.length >= 3) ws.sliding(3).map(g => md5Long(g.mkString(" "))).toSet
        else Set.empty[Long]
      id -> sh
    }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      o = (sa & sb).size.toLong
      na = sa.size.toLong; nb = sb.size.toLong
      if o > 0 && 100 * o * o >= 49 * na * nb
    } yield (a, b, o, na, nb)).toSet
  }

  private def run(dir: String): Set[(Long, Long, Long, Long, Long)] =
    SparkEntry.queries("q_sim_apss")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  /** The incremental split the engine and oracle both use. */
  private def cutoff(docs: Seq[(Long, String)]): Long =
    docs.map(_._1).max * 85 / 100

  private def bruteIncremental(docs: Seq[(Long, String)]): Set[(Long, Long, Long, Long, Long)] = {
    val c = cutoff(docs)
    brute(docs).filter { case (_, b, _, _, _) => b > c }
  }

  private def runIncremental(dir: String): Set[(Long, Long, Long, Long, Long)] =
    SparkEntry.queries("q_sim_apss_incremental")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("q_sim_apss_incremental equals the brute force restricted to new-side-in-batch pairs") {
    // size-asymmetric near-dups ACROSS the split boundary: the pair
    // ordering here is by doc_id (new probes old), not by size, so both
    // directions of the length filter and the t^2 prefixes get exercised
    val base = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    val docs = Seq[(Long, String)](
      (1L, base),                           // accumulated
      (2L, base + " y1 y2"),                // accumulated near-dup of 1
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8"),      // accumulated, unrelated
      (90L, base + " w1"),                  // batch: bigger than 1, smaller than 2+
      (92L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10"), // batch pair, earlier side
      (95L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),  // batch: near-dup of 3
      (97L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 v1"), // batch: near-dup of 92
      (99L, "q1 q2 q3 q4 q5"))              // batch: no partner
    val dir = "synth://apss-inc"
    seedDocs(dir, docs)
    val want = bruteIncremental(docs)
    assert(want.nonEmpty, "fixture must produce cross-split qualifying pairs")
    assert(want.exists { case (a, _, _, _, _) => a >= 90 },
      "fixture must cover batch-to-batch pairs too")
    // the full-pair set is strictly larger: accumulated-only pairs (1,2)
    // must NOT appear in the incremental result
    assert(brute(docs).size > want.size, "split must exclude accumulated-only pairs")
    assert(runIncremental(dir) === want)
  }

  test("q_sim_apss_incremental: batch probes the memoized index, never rescans pairwise") {
    val df = SparkEntry.queries("q_sim_apss_incremental")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"all-pairs operator in the incremental APSS plan:\n$plan")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("InMemoryRelation"),
      "incremental probe must reuse the memoized posting index")
    // the probe side is BATCH-BOUNDED: the cutoff predicate must sit in
    // the plan (candidates are O(batch-prefix x posting-list), so the
    // accumulated side is only reached through the term equi-join)
    assert(optimized.contains("(doc_id"),
      s"batch cutoff filter missing from the probe side:\n$optimized")
  }

  test("q_sim_apss equals the unfiltered brute force on threshold-edge corpora") {
    val dir = "synth://apss-edge"
    // a/b identical (cos 1), a/c one changed word (high but < 1),
    // d/e share exactly half their shingles, f is a size-mismatched
    // superset of a (length filter must drop it BEFORE verify would),
    // g shares nothing.
    val docs = Seq(
      1L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      2L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10",
      3L -> "w1 w2 w3 w4 wX w6 w7 w8 w9 w10",
      4L -> "a1 a2 a3 a4 a5 a6",
      5L -> "a1 a2 a3 a4 b5 b6",
      6L -> ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " + (1 to 40).map(i => s"z$i").mkString(" ")),
      7L -> "q1 q2 q3 q4 q5")
    seedDocs(dir, docs)
    val expected = brute(docs)
    assert(run(dir) == expected, s"expected $expected")
    // the edge corpus must actually exercise both outcomes
    assert(expected.exists(p => p._1 == 1L && p._2 == 2L), "identical pair missing")
    assert(!expected.exists(p => p._2 == 6L), "length filter case unexpectedly qualified")
  }

  test("q_sim_apss plans candidate equi-joins over the memoized index, never all-pairs") {
    val df = SparkEntry.queries("q_sim_apss")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"all-pairs operator in the APSS plan:\n$plan")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("InMemoryRelation"),
      "candidate/verify stages must read the memoized positional index, not rescan parquet")
  }

  test("q_sim_apss equals the brute force on a randomized near-dup corpus") {
    val dir = "synth://apss-rand"
    val rnd = new scala.util.Random(42)
    val base = (1 to 30).map(_ => s"t${rnd.nextInt(12)}")
    // 40 docs: random mutations of a shared template at varying edit rates,
    // so similarities spread across the threshold.
    val docs = (1L to 40L).map { id =>
      val mutRate = rnd.nextDouble() * 0.5
      id -> base.map(w => if (rnd.nextDouble() < mutRate) s"m${rnd.nextInt(20)}" else w)
        .mkString(" ")
    }
    seedDocs(dir, docs)
    val expected = brute(docs)
    assert(expected.nonEmpty, "randomized corpus produced no qualifying pairs")
    assert(run(dir) == expected)
  }
}

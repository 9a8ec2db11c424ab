package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pregel

/** The general vertex-program surface: SSSP against driver-side Dijkstra,
  * components against driver-side union-find, and the halting/convergence
  * contract (GraphX semantics).
  */
class PregelSpec extends SparkSpecBase {
  import spark.implicits._

  private def ssspPregel(vertices: DataFrame, edges: DataFrame): Map[Long, Long] =
    Pregel(vertices, edges)
      .withVertexColumn("dist",
        when(col("id") === 0L, lit(0L)).otherwise(lit(null).cast("long")),
        least(col("dist"), Pregel.msg))
      .sendMsgToDst(
        when(Pregel.src("dist").isNotNull &&
          (Pregel.dst("dist").isNull ||
            Pregel.src("dist") + Pregel.edge("w") < Pregel.dst("dist")),
          Pregel.src("dist") + Pregel.edge("w")))
      .aggMsgs(min(Pregel.msg))
      .setMaxIter(50)
      .run()
      .where(col("dist").isNotNull)
      .select("id", "dist").as[(Long, Long)].collect().toMap

  test("Pregel SSSP equals driver-side Dijkstra on random directed graphs") {
    val rnd = new Random(42)
    for (_ <- 1 to 3) {
      val n = 30
      val edges = (0 until 120).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1).toLong)
      }.filter { case (a, b, _) => a != b }.distinct
      val vs = (0L until n).toDF("id")
      val es = edges.toDF("src", "dst", "w")

      // reference: textbook Dijkstra from vertex 0 on the collected edges
      val adj = edges.groupBy(_._1).map { case (k, v) =>
        k -> v.map(e => (e._2, e._3))
      }
      val dist = collection.mutable.Map(0L -> 0L)
      val pq = collection.mutable.PriorityQueue((0L, 0L))(Ordering.by(-_._2))
      while (pq.nonEmpty) {
        val (u, du) = pq.dequeue()
        if (dist(u) == du) adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (dist.get(v).forall(_ > du + w)) { dist(v) = du + w; pq.enqueue((v, du + w)) }
        }
      }
      assert(ssspPregel(vs, es) === dist.toMap)
    }
  }

  test("two-directional Pregel min-id flooding equals driver-side union-find") {
    val rnd = new Random(7)
    val pairs = (0 until 60).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val es = pairs.toDF("src", "dst")
    val vs = es.select(col("src").as("id")).union(es.select(col("dst"))).distinct()
    val got = Pregel(vs, es)
      .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
      .sendMsgToDst(when(Pregel.src("cc") < Pregel.dst("cc"), Pregel.src("cc")))
      .sendMsgToSrc(when(Pregel.dst("cc") < Pregel.src("cc"), Pregel.dst("cc")))
      .aggMsgs(min(Pregel.msg))
      .setMaxIter(50)
      .run()
      .select("id", "cc").as[(Long, Long)].collect().toMap
    // reference: union-find on the collected pairs, rooted at the min id
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(got === parent.keys.map(v => v -> find(v)).toMap)
  }

  test("halting contract: unreached vertices keep state; no messages ends the run") {
    // 0→1→2 plus isolated 9: dist(9) stays null (its update saw only
    // null msgs), and the run stops on the zero-message superstep well
    // before maxIter (loud-converged, so run() returning proves it).
    val vs = Seq(0L, 1L, 2L, 9L).toDF("id")
    val es = Seq((0L, 1L, 5L), (1L, 2L, 5L)).toDF("src", "dst", "w")
    val got = Pregel(vs, es)
      .withVertexColumn("dist",
        when(col("id") === 0L, lit(0L)).otherwise(lit(null).cast("long")),
        least(col("dist"), Pregel.msg))
      .sendMsgToDst(
        when(Pregel.src("dist").isNotNull &&
          (Pregel.dst("dist").isNull ||
            Pregel.src("dist") + Pregel.edge("w") < Pregel.dst("dist")),
          Pregel.src("dist") + Pregel.edge("w")))
      .aggMsgs(min(Pregel.msg))
      .setMaxIter(50)
      .run()
      .select("id", "dist").as[(Long, Option[Long])].collect().toMap
    assert(got === Map(0L -> Some(0L), 1L -> Some(5L), 2L -> Some(10L), 9L -> None))
  }

  test("hop-batched relaxation: identical SSSP results, rounds = ceil(diameter/k)") {
    // random-graph equivalence: batched == unbatched == Dijkstra-shaped
    // expectations come from the random-graph test above; here a LONG
    // CHAIN pins the round arithmetic — a 40-hop diameter with maxIter
    // 10 refuses unbatched but converges hop-batched at k=8 in
    // ceil(40/8)+1 = 6 supersteps, with bit-identical distances.
    val n = 41
    val vs = (0L until n).toDF("id")
    val es = (0L until n - 1).map(i => (i, i + 1, i % 7 + 1)).toDF("src", "dst", "w")
    def sssp(p: Pregel) = p
      .withVertexColumn("improved", col("id") === 0L,
        Pregel.msg.isNotNull && (col("dist").isNull || Pregel.msg < col("dist")))
      .withVertexColumn("dist",
        when(col("id") === 0L, lit(0L)).otherwise(lit(null).cast("long")),
        least(col("dist"), Pregel.msg))
      .sendMsgToDst(
        when(Pregel.src("improved"), Pregel.src("dist") + Pregel.edge("w")))
      .aggMsgs(min(Pregel.msg))
    val refuse = intercept[IllegalArgumentException] {
      sssp(Pregel(vs, es).setMaxIter(10)).run()
    }
    assert(refuse.getMessage.contains("did not converge"))
    val batched = sssp(Pregel(vs, es).setMaxIter(10).setHopBatch(8).setTag("hop8"))
      .run().select("id", "dist").as[(Long, Long)].collect().toMap
    val want = sssp(Pregel(vs, es).setMaxIter(60).setTag("hop1"))
      .run().select("id", "dist").as[(Long, Long)].collect().toMap
    assert(batched === want, "hop-batched distances diverged from unbatched")
    val r8 = Pregel.lastRuns(spark)("hop8").size
    val r1 = Pregel.lastRuns(spark)("hop1").size
    assert(r1 >= 41, s"unbatched chain should take >= diameter rounds, took $r1")
    assert(r8 == 6, s"hop-batched rounds should be ceil(40/8)+1 = 6, took $r8")
    // r12 layer fusion: composing layers UNMATERIALIZED (no per-layer lazy
    // snap — setLayerFuse) is plan composition only; results must be
    // bit-identical at every fuse width, including fully fused (f = k)
    // and the old per-layer-snapped form (f = 1).
    for (f <- Seq(1, 3, 8)) {
      val fused = sssp(Pregel(vs, es).setMaxIter(10).setHopBatch(8).setLayerFuse(f))
        .run().select("id", "dist").as[(Long, Long)].collect().toMap
      assert(fused === want, s"layerFuse=$f distances diverged from unbatched")
    }
  }

  test("non-convergence fails loudly; setRequireConverged(false) runs the fixed count") {
    val vs = Seq(0L, 1L, 2L, 3L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    def flood(p: Pregel) = p
      .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
      .sendMsgToDst(when(Pregel.src("cc") < Pregel.dst("cc"), Pregel.src("cc")))
      .aggMsgs(min(Pregel.msg))
    val e = intercept[IllegalArgumentException] {
      flood(Pregel(vs, es).setMaxIter(1)).run()
    }
    assert(e.getMessage.contains("did not converge"))
    // one superstep moves min-labels exactly one hop
    val one = flood(Pregel(vs, es).setMaxIter(1).setRequireConverged(false))
      .run().select("id", "cc").as[(Long, Long)].collect().toMap
    assert(one === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("a non-deterministic message disables layer fusion") {
    // Fused layers rely on ReuseExchange to evaluate each layer once for
    // both of its consumers; a layer snap guarantees it (ADVICE r12 #1).
    // A rand()-gated message (a gate the optimizer cannot fold) must
    // therefore plan every fused superstep exactly like the per-layer-
    // snapped one: the same number of checkpoint scans in the recorded
    // round-2 plan.
    val vs = (0L until 50L).toDF("id")
    val es = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    def planFor(t: String, fuse: Int): String = {
      Pregel(vs, es)
        .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
        .sendMsgToDst(when(rand(7) < 0.9, Pregel.src("cc")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(3).setRequireConverged(false)
        .setHopBatch(4).setLayerFuse(fuse)
        .setTag(t)
        .run().write.format("noop").mode("overwrite").save()
      Pregel.lastPlans(spark)(t)
    }
    def scans(plan: String): Int = plan.linesIterator.count(l =>
      l.contains("GraftSnapScan") || l.contains("Scan ExistingRDD"))
    val fused = planFor("spec-nondet-fuse4", 4)
    val snapped = planFor("spec-nondet-fuse1", 1)
    assert(scans(snapped) > 0, s"no checkpoint scans recognized:\n$snapped")
    assert(scans(fused) == scans(snapped),
      s"non-deterministic layers were fused:\n$fused\nvs per-layer snapped:\n$snapped")
  }

  test("triplet-field pruning and the steady-state superstep plan contract") {
    // Same graph, same FIXED round count; the only difference is a dead
    // dst-state reference in the message. The recorded round-2 plan pins
    // the structural contract directly (job/stage counts proxy it too
    // loosely across planner modes):
    //  - src-only (the GraphX TripletFields.Src shape): THREE checkpoint
    //    scans (edges, state into the triplet join, state into the fold),
    //    TWO joins, ONE exchange (the frontier message aggregation) — the
    //    state is never exchanged or broadcast;
    //  - a dst-reading program pays the fourth scan for the dst state.
    val vs = (0L until 50L).toDF("id")
    val es = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    def planFor(t: String, msg: org.apache.spark.sql.Column): String = {
      Pregel(vs, es)
        .withVertexColumn("x", col("id"), coalesce(Pregel.msg, col("x")))
        .sendMsgToDst(msg)
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(4).setRequireConverged(false)
        .setTag(t)
        .run().write.format("noop").mode("overwrite").save()
      Pregel.lastPlans(spark)(t)
    }
    def count(plan: String, needle: String): Int =
      plan.linesIterator.count(_.contains(needle))
    val srcOnly = planFor("spec-prune-src", Pregel.src("x"))
    assert(count(srcOnly, "GraftSnapScan") == 3,
      s"src-only superstep must scan exactly edges + state twice:\n$srcOnly")
    assert(count(srcOnly, "Join") == 2 && count(srcOnly, "Exchange") == 1,
      s"src-only superstep must be two joins and ONE frontier exchange:\n$srcOnly")
    assert(!srcOnly.contains("Broadcast"),
      s"state must never broadcast inside the superstep loop:\n$srcOnly")
    val both = planFor("spec-prune-both",
      Pregel.src("x") + lit(0L) * Pregel.dst("x"))
    assert(count(both, "GraftSnapScan") == 4,
      s"dst-reading superstep must scan the dst state too:\n$both")
  }
}

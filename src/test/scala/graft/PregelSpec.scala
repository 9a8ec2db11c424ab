package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Components, Pregel}

/** The general vertex-program surface: SSSP against driver-side Dijkstra,
  * components against the independently-tested min-label implementation,
  * and the halting/convergence contract (GraphX semantics).
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

  test("Pregel min-id flooding equals Components.labelPropagate") {
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
    val want = Components.labelPropagate(es, "src", "dst", maxIter = 50)
      .as[(Long, Long)].collect().toMap
    assert(got === want)
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

  test("reliable checkpointing: same result, real checkpoint files on the fault-tolerant path") {
    // local blocks die with an executor; a 1000-executor run needs the
    // HDFS-backed variant. Pin that the reliable path (a) computes the
    // same fixed point and (b) actually wrote checkpoint data.
    val dir = java.nio.file.Files.createTempDirectory("pregel-ck").toFile
    spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
    try {
      val vs = (0L until 10L).toDF("id")
      val es = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
      def flood(reliable: Boolean) = Pregel(vs, es)
        .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
        .sendMsgToDst(when(Pregel.src("cc") < Pregel.dst("cc"), Pregel.src("cc")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(15)
        .setReliableCheckpoint(reliable)
        .run().select("id", "cc").as[(Long, Long)].collect().toMap
      assert(flood(reliable = true) === flood(reliable = false))
      def count(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(count).sum
        else 1
      assert(count(dir) > 0, "reliable run wrote no checkpoint files")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
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

  test("salted message fold: identical results on a star, pinned two-phase plan") {
    // Star fixture: every spoke points at hub 0 (in-degree n) — the
    // power-law worst case for the message fold. The salted run must
    // compute the same fixed point and its recorded superstep plan must
    // show the TWO-LEVEL fold: a (id, salt) pre-aggregation exchange
    // before the per-id merge (two aggregate pairs, two exchanges) vs
    // the single-level plan's one.
    val n = 5000
    val vs = (0L to n).toDF("id")
    val es = (1L to n).map(i => (i, 0L)).toDF("src", "dst")
    def flood(salt: Int, t: String): Map[Long, Long] = {
      val out = Pregel(vs, es)
        .withVertexColumn("m", col("id"), coalesce(Pregel.msg, col("m")))
        .sendMsgToDst(Pregel.src("m"))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(2).setRequireConverged(false)
        .setMessageSalt(salt)
        .setTag(t)
        .run()
      out.write.format("noop").mode("overwrite").save()
      out.select("id", "m").as[(Long, Long)].collect().toMap
    }
    val plain = flood(1, "spec-salt-off")
    val salted = flood(8, "spec-salt-on")
    assert(salted === plain, "salting changed the computed fixed point")
    assert(plain(0L) === 1L, "hub must take the spoke minimum")
    def count2(plan: String, needle: String): Int =
      plan.linesIterator.count(_.contains(needle))
    val pOff = Pregel.lastPlans(spark)("spec-salt-off")
    val pOn = Pregel.lastPlans(spark)("spec-salt-on")
    assert(count2(pOff, "Exchange") == 1,
      s"single-level superstep must have ONE frontier exchange:\n$pOff")
    assert(count2(pOn, "Exchange") == 2,
      s"salted superstep must add exactly the (id, salt) pre-fold exchange:\n$pOn")
    assert(count2(pOn, "HashAggregate") == count2(pOff, "HashAggregate") + 2,
      s"salted superstep must run a second partial+final aggregate pair:\n$pOn")
    assert(pOn.contains("_pregel_salt"),
      s"pre-fold must group by the salt column:\n$pOn")
    assert(!pOn.contains("Broadcast"),
      s"state must never broadcast inside the salted loop either:\n$pOn")

    // Salted ≡ unsalted on irregular random graphs too (not just the
    // star): min-flood to convergence.
    val rnd = new Random(13)
    val pairs = (0 until 80).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct
    val res = Seq(1, 8).map { s =>
      Pregel(pairs.toDF("src", "dst").select(col("src").as("id")).union(
          pairs.toDF("src", "dst").select(col("dst"))).distinct(),
          pairs.toDF("src", "dst"))
        .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
        .sendMsgToDst(when(Pregel.src("cc") < Pregel.dst("cc"), Pregel.src("cc")))
        .sendMsgToSrc(when(Pregel.dst("cc") < Pregel.src("cc"), Pregel.dst("cc")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(50).setMessageSalt(s)
        .run().select("id", "cc").as[(Long, Long)].collect().toMap
    }
    assert(res(0) === res(1), "salting changed a random-graph fixed point")
  }
}

package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.operators.Pregel

/** Dev tool: hot-vertex (star-graph) superstep balance — does a vertex
  * with in-degree n serialize the message fold on one task?
  *
  *   sbt "Test/runMain graft.StarProbe 2000000 16"
  *
  * Builds a star (every spoke messages hub 0 every round), runs a fixed
  * 3-superstep min-flood unsalted and salted ([[Pregel.setMessageSalt]]),
  * and reports per-superstep wall plus the per-task concentration of the
  * whole run: max single-task shuffle-read records and max task time as a
  * share of the total. A serialized fold would show one task reading
  * ~100% of the shuffled message volume; Spark's partial aggregation
  * should instead bound every task at ~1/maps of the raw messages, and
  * the salted run additionally caps the per-id merge fan-in.
  */
object StarProbe {
  def main(args: Array[String]): Unit = {
    val spokes = if (args.nonEmpty) args(0).toLong else 2000000L
    val salt = if (args.length > 1) args(1).toInt else 16
    val spark = Engine.session("star-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val vs = spark.range(0, spokes + 1).toDF("id")
    val es = spark.range(1, spokes + 1)
      .select(col("id").as("src"), lit(0L).as("dst"))

    // Per-run task concentration: shuffle-read records and run time of
    // the heaviest task vs the sum, across all stages of the run.
    final class Conc extends SparkListener {
      var maxRead, sumRead = 0L
      var maxMs, sumMs = 0L
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.recordsRead
          maxRead = math.max(maxRead, r); sumRead += r
          maxMs = math.max(maxMs, m.executorRunTime); sumMs += m.executorRunTime
        }
      }
    }

    def run(s: Int, tag: String): Unit = {
      val l = new Conc
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      Pregel(vs, es)
        .withVertexColumn("m", col("id"), least(col("m"), Pregel.msg))
        .sendMsgToDst(Pregel.src("m"))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(3).setRequireConverged(false)
        .setMessageSalt(s)
        .setTag(tag)
        .run().write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(l)
      Thread.sleep(500) // drain listener bus
      val rounds = Pregel.lastRuns(spark)(tag)
        .map { case (msgs, sec) => f"$msgs msgs ${sec}%.2fs" }.mkString(" | ")
      println(f"[star] salt=$s wall=$wall%.1fs rounds: $rounds")
      println(f"[star] salt=$s task concentration: max shuffle-read " +
        f"${l.maxRead} of ${l.sumRead} records (${100.0 * l.maxRead / math.max(1, l.sumRead)}%.1f%%), " +
        f"max task ${l.maxMs} ms of ${l.sumMs} ms total (${100.0 * l.maxMs / math.max(1, l.sumMs)}%.1f%%)")
    }

    try {
      run(1, "star-unsalted")
      run(salt, s"star-salt$salt")
    } finally spark.stop()
  }
}

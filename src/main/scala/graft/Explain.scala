package graft

import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.operators.Pregel

/** Dev probe: per declared query, one warm run (codegen, SessionCache
  * builds) and one timed steady run, then the AQE-final formatted
  * physical plan and whatever the run recorded — Pregel's per-superstep
  * rounds and round-2 superstep plan, the claim-bearing plan of an
  * iterative query whose final frame is just a scan of the converged
  * state. Each query starts from an empty [[SessionCache]], so what it
  * prints is its own.
  *
  * Usage: `sbt "runMain graft.Explain <sf-dir> <name>[,<name>...]"` — the
  * plan-iteration loop SURVEY §7 prescribes (explain, fix the shape,
  * re-explain). Per-query jobs, stages, shuffle, spill and AQE counts
  * come from `perfbench.Harness --trace 1`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Explain <sf-dir> <name>[,<name>...]")
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Engine.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    try names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query '$n' — see SparkEntry.queries.keys"))
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val t0 = System.nanoTime()
      val qe = fn(spark, sfDir).queryExecution
      // runs this frame's own plan, so its AdaptiveSparkPlan is final
      SQLExecution.withNewExecutionId(qe, Some("explain"))(qe.toRdd.foreach(_ => ()))
      println(f"\n===== $n: steady ${(System.nanoTime() - t0) / 1e9}%.3f s =====")
      println(qe.explainString(ExplainMode.fromString("formatted")))
      Pregel.lastRuns(spark).toSeq.sortBy(_._1).foreach { case (tag, rs) =>
        println(s"[pregel $tag] " + rs.zipWithIndex
          .map { case ((msgs, s), i) => f"${i + 1}:$msgs/$s%.2fs" }.mkString(" "))
      }
      Pregel.lastPlans(spark).toSeq.sortBy(_._1).foreach { case (tag, plan) =>
        println(s"[pregel $tag] round-2 superstep plan:\n$plan")
      }
      SessionCache.clear(spark)
    } finally {
      SessionCache.clear(spark)
      Tables.clear(spark)
      spark.stop()
    }
  }
}

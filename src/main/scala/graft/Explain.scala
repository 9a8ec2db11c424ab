package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

import graft.operators.Pregel

/** Dev probe: per target, one timed warm run (codegen, SessionCache
  * builds — the cold number) and `rounds` timed steady runs, then the
  * AQE-final formatted physical plan of the last run and whatever the run
  * recorded — Pregel's per-superstep rounds and round-2 superstep plan,
  * the claim-bearing plan of an iterative query whose final frame is just
  * a scan of the converged state. Each target starts from an empty
  * [[SessionCache]], so what it prints is its own.
  *
  * Usage: `sbt "runMain graft.Explain <sf-dir> <target> [<rounds>] [<key>=<value> ...]"`
  *   - `<target>`: declared query names, `<name>[,<name>...]`, or
  *     `sql:<statement>`, run against the fixture's tables;
  *   - `<rounds>`: timed steady runs per target (default 1);
  *   - `<key>=<value>`: session confs set before any run, e.g. forcing a
  *     gated optimizer rule on the ×100 `tools/ScaleUp` fixture.
  *
  * The plan-iteration loop SURVEY §7 prescribes (explain, fix the shape,
  * re-explain). Per-query jobs, stages, shuffle, spill and AQE counts come
  * from `perfbench.Harness --trace 1`.
  */
object Explain {
  private val Usage =
    "usage: graft.Explain <sf-dir> <name>[,<name>...]|sql:<statement> [<rounds>] [<key>=<value> ...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val (rounds, conf) = args.drop(2).toSeq match {
      case r +: kvs if r.nonEmpty && r.forall(_.isDigit) => (r.toInt, parseConf(kvs))
      case kvs => (1, parseConf(kvs))
    }
    val spark = Engine.session("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args(0), args(1), rounds, conf)
    finally {
      SessionCache.clear(spark)
      Tables.clear(spark)
      spark.stop()
    }
  }

  /** `key=value` entries → session confs; keys and values are trimmed, the
    * value is everything after the first `=`, and an entry without `=`
    * fails naming the entry.
    */
  def parseConf(entries: Seq[String]): Seq[(String, String)] =
    entries.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(s"conf entry '$kv' is not key=value")
      }
    }

  /** The probe without session lifecycle (testable in-process). `conf` is
    * set on `spark` and left there.
    */
  def run(spark: SparkSession, sfDir: String, target: String, rounds: Int = 1,
      conf: Seq[(String, String)] = Nil): Unit = {
    require(rounds >= 1, s"rounds must be at least 1, got $rounds")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    val frames: Seq[(String, () => DataFrame)] =
      if (target.startsWith("sql:")) {
        val stmt = target.stripPrefix("sql:").trim
        Tables.register(spark, sfDir)
        Seq(stmt -> (() => spark.sql(stmt)))
      } else target.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
        val fn = SparkEntry.queries.getOrElse(n,
          sys.error(s"unknown query '$n' — see SparkEntry.queries.keys"))
        n -> (() => fn(spark, sfDir))
      }
    def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    frames.foreach { case (name, frame) =>
      SessionCache.clear(spark)
      val t0 = System.nanoTime()
      frame().write.format("noop").mode("overwrite").save()
      val warm = secs(t0)
      val steady = (1 to rounds).map { _ =>
        val t = System.nanoTime()
        val qe = frame().queryExecution
        // runs this frame's own plan, so its AdaptiveSparkPlan is final
        SQLExecution.withNewExecutionId(qe, Some("explain"))(qe.toRdd.foreach(_ => ()))
        (secs(t), qe)
      }
      println(f"\n===== $name: warm $warm%.3f s, steady " +
        steady.map { case (s, _) => f"$s%.3f" }.mkString(" ") + " s =====")
      println(steady.last._2.explainString(ExplainMode.fromString("formatted")))
      Pregel.lastRuns(spark).toSeq.sortBy(_._1).foreach { case (tag, rs) =>
        println(s"[pregel $tag] " + rs.zipWithIndex
          .map { case ((msgs, s), i) => f"${i + 1}:$msgs/$s%.2fs" }.mkString(" "))
      }
      Pregel.lastPlans(spark).toSeq.sortBy(_._1).foreach { case (tag, plan) =>
        println(s"[pregel $tag] round-2 superstep plan:\n$plan")
      }
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (sbt forks a single test JVM). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Engine.builder("graft-test", "local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.sf

  /** Runs `f` with the session confs `kvs` set, then restores them. */
  def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The executed (AQE-final) plan string, after one run. */
  def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
}

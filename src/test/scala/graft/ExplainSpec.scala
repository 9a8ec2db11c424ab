package graft

/** Drives the `graft.Explain` dev probe in-process: a `sql:` target with
  * steady rounds and a session conf, and its argument parsing.
  */
class ExplainSpec extends SparkSpecBase {

  test("sql: target with 2 rounds and a conf prints both timings and the conf's plan") {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val buf = new java.io.ByteArrayOutputStream()
    try Console.withOut(buf) {
      Explain.run(spark, sf, "sql:SELECT count(*) FROM orders", 2, Seq(key -> "false"))
    } finally spark.conf.set(key, prev)
    val out = buf.toString("UTF-8")
    val header =
      """===== SELECT count\(\*\) FROM orders: warm \d+\.\d{3} s, steady \d+\.\d{3} \d+\.\d{3} s =====""".r
    assert(header.findFirstIn(out).isDefined, out)
    assert(out.contains("== Physical Plan ==") && out.contains("HashAggregate"), out)
    assert(!out.contains("AdaptiveSparkPlan"), out)
  }

  test("conf parsing: key=value entries, a malformed entry named in the error") {
    assert(Explain.parseConf(Seq(" a.b = 1 ", "c=x=y", "")) == Seq("a.b" -> "1", "c" -> "x=y"))
    val e = intercept[IllegalArgumentException](Explain.parseConf(Seq("a=1", "oops")))
    assert(e.getMessage.contains("'oops'"), e.getMessage)
  }
}

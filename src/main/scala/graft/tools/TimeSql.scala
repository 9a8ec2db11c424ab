package graft.tools

/** Dev harness: time one SQL statement against a fixture dir.
  *
  * {{{
  * SPARK_GRAFT_SQL='SELECT count(*) FROM documents' \
  *   sbt "runMain graft.tools.TimeSql /tmp/sfx100 3"
  * }}}
  *
  * Prints per-round seconds to stderr and the last result row count —
  * the profiling loop behind plan adjudications (BASELINE.md), kept as a
  * main so future rounds don't re-invent it ad hoc.
  */
object TimeSql {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val sql = sys.env.getOrElse("SPARK_GRAFT_SQL",
      sys.error("set SPARK_GRAFT_SQL"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Engine
      .builder("graft-timesql", s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CONF").foreach(parseConf(_).foreach {
      case (k, v) => spark.conf.set(k, v)
    })
    graft.Tables.register(spark, dir)
    for (r <- 1 to rounds) {
      val t0 = System.nanoTime()
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      System.err.println(f"[timesql] r$r ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
      spark.sql(sql).explain("formatted")
    spark.stop()
  }

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"` — session confs for before/after rule
    * probes (e.g. forcing a gated optimizer rule on the ×10 fixture). An
    * entry without `=` fails naming the entry.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }
}

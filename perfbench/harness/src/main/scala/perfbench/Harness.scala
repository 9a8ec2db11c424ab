package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.DecimalType

import graft.{Engine, QDef, SessionCache, SparkEntry, Tables}

/** One benchmark run in one JVM. `perfbench/run.py` launches it, reads the
  * result file it writes and checks the gate outputs against DuckDB.
  *
  * {{{
  * perfbench.Harness --workload batch --members q_a,q_b
  *   --seed 3 --seconds 18 --trace 0 --data DIR --work DIR --cpus 4
  * }}}
  *
  * `--workload stream` runs [[StreamWorkload]]; any other workload is a
  * batch run over `--members`: set-up, one cold pass over every member,
  * one untimed warm-up round, then closed-loop timed rounds, as many as
  * fill `--seconds` on the reference machine (at least two), each round in
  * a seed-permuted order. The
  * warm-up round is also the correctness gate's pass, and every execution
  * records a digest of its result. With `--trace 1` the tracer watches the
  * cold pass and half of the timed rounds, so its overhead can be read off
  * against the untraced ones.
  */
object Harness {

  final case class Args(workload: String, members: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, data: String, work: String, cpus: Int)

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"),
      m.getOrElse("members", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("cpus").toInt)
    Files.createDirectories(Paths.get(a.work))
    val out: Map[String, Any] =
      if (a.workload == "stream") StreamWorkload.run(a)
      else runBatch(a, resolve(a.members))
    Files.writeString(Paths.get(a.work, "result.json"), json(out) + "\n")
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Looks members up by name among the engine's declared queries; an
    * unknown name is an error, never a silent skip.
    */
  def resolve(names: Seq[String]): Seq[QDef] = {
    val byName = SparkEntry.all.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown workload members: ${unknown.mkString(", ")}")
    require(names.nonEmpty, "workload has no members")
    names.map(byName)
  }

  // ---- session set-up -------------------------------------------------

  def newSession(a: Args): SparkSession = {
    val builder = Engine.builder("perfbench", s"local[${a.cpus}]", a.cpus)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val spark = (if (a.trace) builder.config("spark.sql.queryExecutionListeners",
      classOf[QeListener].getName) else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def dropSession(spark: SparkSession): Unit = {
    SessionCache.clear(spark)
    Tables.clear(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Builds a session with the fixture registered; returns it and the
    * seconds from JVM start until it was ready.
    */
  def setUp(a: Args): (SparkSession, Double) = {
    val spark = newSession(a)
    Tables.register(spark, a.data)
    (spark, (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
  }

  // ---- host-contention record (recorded only, never used to filter) ---

  private def procStatSteal(): Long =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Throwable => 0L }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Milliseconds for a fixed amount of single-threaded integer work. */
  def calibrate(): Double = {
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42) println("") // uses x, so the loop is not optimized away
      (System.nanoTime() - t0) / 1e6
    }.sorted
    times(1)
  }

  final class Host {
    private val steal0 = procStatSteal()
    private val t0 = System.nanoTime()
    val loadStart: Double = loadAvg()
    val calibStart: Double = calibrate()
    def record(): Map[String, Any] = {
      val calibEnd = calibrate()
      val secs = (System.nanoTime() - t0) / 1e9
      Map("loadavg_1m_start" -> loadStart, "loadavg_1m_end" -> loadAvg(),
        "steal_s" -> (procStatSteal() - steal0) / 100.0, "window_s" -> secs,
        "calibration_ms_start" -> calibStart, "calibration_ms_end" -> calibEnd)
    }
  }

  /** CPU seconds this JVM has used so far, over all its threads. */
  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status"))
        .toArray(new Array[String](0)).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Throwable => -1.0 }

  /** Linear-interpolation quantile (the same estimator as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Adds to `df` an observation of an order-independent digest of its
    * rows: their count and the sum of their xxhash64. It is computed while
    * the result is written, in the same job, with no extra pass.
    */
  def observeDigest(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    df.observe(obs, count(lit(1)).as("rows"), sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("hash"))
  }

  /** The digest `observeDigest` recorded; waits until the write reported it. */
  def digest(obs: Observation): String = {
    val m = obs.get
    s"${m("rows")}:${m("hash")}"
  }

  /** Seconds a timed round of the batch members takes on the 4-core
    * reference machine (5.2 s lightly loaded, 7 s loaded).
    */
  val RoundS = 6.0

  def order(members: Seq[QDef], seed: Long, round: Int): Seq[QDef] =
    new Random(seed * 1000003L + round).shuffle(members)

  // ---- batch workloads ------------------------------------------------

  private def runBatch(a: Args, members: Seq[QDef]): Map[String, Any] = {
    val (spark, setupS) = setUp(a)
    val sc = spark.sparkContext
    val host = new Host
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val execs = mutable.ArrayBuffer.empty[Execution]
    val errors = mutable.ArrayBuffer.empty[String]
    // member -> (round, result digest) of every execution that completed
    val digests = mutable.Map.empty[String, mutable.ArrayBuffer[(Int, String)]]

    def exec(q: QDef, round: Int, sink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()): Execution = {
      val id = s"${a.workload}/$round/${q.name}"
      sc.setJobGroup(id, id, interruptOnCancel = false)
      val obs = Observation(id)
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      var tb = t0
      var failed = false
      try {
        val df = q.fn(spark, a.data)
        tb = System.currentTimeMillis()
        sink(observeDigest(df, obs))
      } catch { case e: Throwable =>
        failed = true
        if (tb == t0) tb = System.currentTimeMillis()
        errors += s"${q.name} (round $round): ${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(400)
      } finally sc.clearJobGroup()
      val e = new Execution(id, q.name, round, Span(t0, System.currentTimeMillis()), Span(t0, tb),
        (System.nanoTime() - n0) / 1e9, failed)
      if (!failed) digests.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) += (round -> digest(obs))
      e
    }

    // cold pass: the first execution of every member in this JVM, measured
    // in CPU seconds of the whole JVM (driver, executors, JIT, GC): it keeps
    // about three of four cores busy, so its wall time follows how many the
    // host's other tenants leave free. On the 4-core reference machine,
    // three busy loops beside it added 70% to its wall time and left its
    // CPU time within 2%.
    tracer.foreach(_.attach())
    val cg0 = tracer.map(_.codegen)
    val coldT0 = System.nanoTime()
    val coldCpu0 = cpuS()
    val cold = order(members, a.seed, 0).map(exec(_, 0))
    val coldCpuS = cpuS() - coldCpu0
    val coldS = (System.nanoTime() - coldT0) / 1e9
    val cg1 = tracer.map(_.codegen)
    execs ++= cold
    // one untimed warm-up round, which is also the correctness gate's pass:
    // after the cold pass the JIT has not settled, and a second round still
    // runs ~20% slower. Each result is written as parquet for run.py's
    // oracle check, and its digest is the one every other execution's must
    // equal. A tracer counts each member's input rows, for rows_per_s.
    tracer.foreach(_.detach())
    val counter = new Tracer(spark)
    counter.attach()
    def gateDir(member: String) = s"${a.work}/gate/$member"
    val warmup = order(members, a.seed, -1).map(q =>
      exec(q, -1, _.write.mode("overwrite").parquet(gateDir(q.name))))
    counter.detach()

    // timed region: whole rounds, so every member is sampled equally, as
    // many as fill `seconds` at RoundS each. The count depends on nothing
    // measured: rounds still speed up as the JIT settles, so a count that
    // followed the host's speed would add the fast late rounds only to
    // fast runs. Traced runs trace rounds 2, 3, 6, 7, ... and do at least
    // four, so traced and untraced rounds are balanced in time and JIT
    // drift does not bias the overhead estimate.
    val rounds = math.max(if (a.trace) 4 else 2, math.round(a.seconds / RoundS).toInt)
    val timed = mutable.ArrayBuffer.empty[Execution]
    val roundTimes = mutable.ArrayBuffer.empty[(Boolean, Double, Int)] // traced, seconds, executions
    val t0 = System.nanoTime()
    var round = 1
    var tracedCg = (0L, 0L)
    while (round <= rounds) {
      val traced = a.trace && (round % 4 == 2 || round % 4 == 3)
      tracer.foreach(t => if (traced) t.attach() else t.detach())
      val r0 = System.nanoTime()
      val c0 = tracer.map(_.codegen)
      val rs = order(members, a.seed, round).map(exec(_, round))
      if (traced) {
        val c1 = tracer.get.codegen
        tracedCg = (tracedCg._1 + c1._1 - c0.get._1, tracedCg._2 + c1._2 - c0.get._2)
        execs ++= rs
      }
      roundTimes += ((traced, (System.nanoTime() - r0) / 1e9, rs.size))
      timed ++= rs
      round += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    tracer.foreach(_.detach())
    val all = cold ++ warmup ++ timed

    val gate = warmup.map { e =>
      val q = members.find(_.name == e.member).get
      val (gateDigest, others) = digests.getOrElse(q.name, Nil).partition(_._1 == -1)
      q.name -> Map("dir" -> gateDir(q.name), "oracle" -> q.oracle.map(_.stripMargin.trim),
        "digest" -> gateDigest.headOption.map(_._2).getOrElse("failed"),
        "round_digests" -> others.map { case (r, d) => Map("round" -> r, "digest" -> d) },
        "input_rows" -> counter.taskSums(e.id).inputRecords)
    }.toMap
    val rowsByMember = gate.map { case (n, m) => n -> m("input_rows").asInstanceOf[Long] }

    val done = timed.filterNot(_.failed).toSeq
    val lat = done.map(_.seconds)
    val e2e = Map(
      "setup_s" -> setupS,
      "cold_cpu_s" -> coldCpuS,
      "latency_p50_s" -> quantile(lat, 0.5),
      "latency_p75_s" -> quantile(lat, 0.75),
      "queries_per_s" -> done.size / timedS,
      "rows_per_s" -> done.map(e => rowsByMember(e.member)).sum / timedS,
      "peak_rss_mb" -> peakRssMb())
    val hostRec = host.record()

    val layers = tracer.map { t =>
      t.attribute(execs.toSeq)
      val traced = execs.filter(_.round > 0).toSeq
      Layers.batch(t, cold, traced, timed.toSeq, roundTimes.toSeq, cg0.get, cg1.get, tracedCg,
        a.cpus, hostRec, a.work)
    }
    val result = Map(
      "workload" -> a.workload, "kind" -> "batch", "seed" -> a.seed,
      "attempted" -> all.size, "failed" -> all.count(_.failed),
      "errors" -> errors, "end_to_end" -> e2e,
      "latency_samples" -> lat.size, "latency_p90_s" -> quantile(lat, 0.9), "cold_wall_s" -> coldS,
      "rounds" -> (round - 1), "timed_s" -> timedS,
      "member_seconds" -> members.map { q =>
        q.name -> Map("cold" -> cold.find(_.member == q.name).map(_.seconds),
          "timed" -> timed.filter(_.member == q.name).map(_.seconds))
      }.toMap,
      "host" -> hostRec, "gate" -> gate) ++
      layers.map(l => Map("per_layer" -> l._1, "plan_counts" -> l._2, "accounting" -> l._3))
        .getOrElse(Map.empty)
    dropSession(spark)
    result
  }
}

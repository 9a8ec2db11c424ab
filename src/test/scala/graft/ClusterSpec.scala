package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pregel

/** Closures that ship to REMOTE executor JVMs live on this scalatest-free
  * object: a Scala lambda's implementation method is a static method of
  * its enclosing class, so the executor must be able to load the
  * enclosing class — keeping these off the suite class means the executor
  * classpath needs graft + spark only, not the test framework's runtime
  * wiring. (The suite still passes its full classpath through
  * `spark.executor.extraClassPath`, but the closures must not capture the
  * suite instance either way.)
  *
  * The straggler injection is PURELY deterministic-static (partition 0,
  * attempt 0 sleeps): unlike [[Poison]] it cannot use shared driver state,
  * because the executors are separate processes.
  */
object ClusterProbe {
  def failFirstAttempt(i: Int, it: Iterator[java.lang.Long]): Iterator[Long] = {
    val tc = TaskContext.get()
    if (i == 0 && tc != null && tc.attemptNumber() == 0)
      throw new RuntimeException("graft: injected cluster task failure (ClusterSpec)")
    it.map(v => v.longValue() * 2L)
  }
}

/** REAL multi-executor execution — `local-cluster[2,2,1024]` spawns two
  * separate executor JVMs under an in-process master/worker pair, so
  * everything the shared `local[4]` suites cannot exhibit is exercised
  * honestly here: closure/row serialization across process boundaries,
  * netty shuffle between executors, broadcast to remote executors, task
  * retry after an executor-side failure, and native-expression codegen
  * compiled inside the remote JVMs.
  *
  * Speculation is ARMED in this session (TaskSchedulerImpl only starts
  * the speculation thread when `!isLocal`, so this is the one mode on
  * this box where `spark.speculation=true` takes effect — reference
  * core/src/main/scala/org/apache/spark/scheduler/TaskSchedulerImpl
  * .scala:222, the Sol fork's own scheduling seam). A speculative LAUNCH
  * is not assertable here, structurally: `TaskSetManager
  * .dequeueSpeculativeTask` excludes any host that already has an
  * attempt of the task (`hasAttemptOnHost`, verified against the
  * shipped 4.1.2 bytecode), and a single-box cluster has exactly one
  * host — so the engine documents the limit instead of pretending the
  * test is possible. The straggler test is therefore a task-FAILURE
  * retry across process boundaries.
  *
  * Own forked JVM (build.sbt `ownJvmSuites`): needs its own
  * SparkContext with a cluster master. Executor JVMs are launched via
  * the launcher library under `$SPARK_HOME`; the suite forwards its
  * full classpath through `spark.executor.extraClassPath` so graft and
  * probe classes resolve remotely (and build.sbt injects
  * `SPARK_SCALA_VERSION`, which `bin/load-spark-env.sh` would normally
  * set, because the in-process Worker bypasses that script).
  */
class ClusterSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val speculative = new AtomicInteger(0)
  private val failures = new AtomicInteger(0)

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .appName("graft-cluster")
      .master("local-cluster[2,2,1024]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.executor.memory", "1g")
      .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "50ms")
      .config("spark.speculation.multiplier", "1.2")
      .config("spark.speculation.quantile", "0.2")
      .config("spark.speculation.minTaskRuntime", "100ms")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config(Engine.StateStoreConf)
      .config(Engine.LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.speculative) speculative.incrementAndGet()
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        e.reason match {
          case _: org.apache.spark.ExceptionFailure => failures.incrementAndGet()
          case _ =>
        }
    })
    // Block until both executor processes registered — first-job flakiness
    // otherwise (tasks would all land on the first executor up).
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getExecutorMemoryStatus.size >= 3,
      "executor JVMs failed to register within 60s")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("shuffle aggregation across separate executor JVMs is exact") {
    // 100k rows, 16 input partitions spread over both executors, one real
    // netty shuffle for the groupBy — sums are closed-form checkable.
    val n = 100000L
    val out = spark.range(n).repartition(16)
      .groupBy((col("id") % 7).as("k"))
      .agg(sum("id").as("s"), count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == (0L until 7L).toSet)
    assert(out.values.map(_._2).sum == n)
    val expect = (0L until n).groupBy(_ % 7).map { case (k, v) => k -> v.sum }
    (0L until 7L).foreach(k => assert(out(k)._1 == expect(k), s"key $k"))
  }

  test("broadcast join reaches remote executors") {
    val dim = spark.range(7).select(col("id").as("k"),
      concat(lit("g"), col("id")).as("name"))
    val out = spark.range(10000).repartition(8)
      .select((col("id") % 7).as("k"))
      .join(broadcast(dim), "k")
      .groupBy("name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out.size == 7 && out.values.sum == 10000L)
  }

  test("graft native expressions codegen inside remote executor JVMs") {
    // dot_f resolves via GraftExtensions on the driver; the generated
    // bytecode compiles and runs inside each executor process.
    val r = spark.range(1000).repartition(8)
      .selectExpr("dot_l(array(id, 2L), array(3L, 4L)) AS d")
      .agg(sum("d")).head().getLong(0)
    // sum(3*id + 8) for id in 0..999
    assert(r == 3L * (999L * 1000L / 2) + 8L * 1000L)
  }

  test("the training-mix flagship is partition-invariant across executor processes") {
    // q_pipeline_mix's whole claim is that DSIR selection, the token-
    // budget cut, and the shard manifest are pure functions of content —
    // local[N] proves it against thread-level merge order, THIS proves it
    // when partials really serialize between separate executor JVMs and
    // the shuffle width changes underneath the plan.
    val sfDir = "/root/testdata/sf0.001"
    def run(parts: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      SparkEntry.queries("q_pipeline_mix")(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
    }
    try {
      val wide = run(8)
      val narrow = run(3)
      assert(wide.nonEmpty, "mix flagship produced no shards")
      assert(wide == narrow,
        "mix flagship diverged across shuffle widths in local-cluster mode")
    } finally {
      // restore even on assertion failure — the session is shared and a
      // leaked 3-partition conf would skew every later test in the suite
      spark.conf.set("spark.sql.shuffle.partitions", 8)
    }
  }

  test("a task that dies in one executor process is retried; result unaffected") {
    // RetrySpec proves retry DETERMINISM in-process (local[4,2] + shared
    // poison state); this proves the RETRY itself across real process
    // boundaries — the injection is purely static (partition 0, attempt 0
    // throws), because no driver state is visible to remote executors.
    // Standalone scheduling gives task.maxFailures=4 by default.
    failures.set(0)
    val doubled = spark.range(10000).repartition(16)
      .toDF("id").as[java.lang.Long](
        org.apache.spark.sql.Encoders.LONG.asInstanceOf[org.apache.spark.sql.Encoder[java.lang.Long]])
      .rdd
      .mapPartitionsWithIndex(ClusterProbe.failFirstAttempt)
    val total = doubled.sum()
    assert(total == 2.0 * (9999.0 * 10000.0 / 2),
      "retried stage produced a wrong sum")
    assert(failures.get() >= 1,
      "injected failure never surfaced — the probe did not run attempt 0")
  }

  test("RocksDB state commits in executor JVMs on the fork-free local filesystem equal batch") {
    // Every state-store commit runs in an executor process, which builds its
    // own Hadoop configuration: a class the executors could not load would
    // fail the first commit.
    val dir = java.nio.file.Files.createTempDirectory("graft-cluster-stream")
    val in = java.nio.file.Files.createDirectory(dir.resolve("in")).toUri.toString
    val got = StreamingSpec.runFileStream(spark, in, dir.resolve("ckpt").toUri.toString, 0 until 2).counts
    assert(got.nonEmpty && got == StreamingSpec.counts(StreamingSpec.dedupCounts(spark.read.parquet(in))))
  }

  // Registered LAST: a context's checkpoint dir cannot be unset, so every
  // snap after this test in this JVM is a reliable checkpoint.
  test("reliable snaps follow setCheckpointDir, hop layers included") {
    // Executor-local blocks die with their executor; with a checkpoint dir
    // set, every InternalSnap (Pregel's hop-batch layer snaps included)
    // must be a reliable checkpoint and compute the same rows.
    val session = spark
    import session.implicits._
    val vs = (0L until 10L).toDF("id")
    val es = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    def flood(): Map[Long, Long] = Pregel(vs, es)
      .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
      .sendMsgToDst(when(Pregel.src("cc") < Pregel.dst("cc"), Pregel.src("cc")))
      .aggMsgs(min(Pregel.msg))
      .setMaxIter(15).setHopBatch(3)
      .setTag("ck-flood")
      .run().select("id", "cc").as[(Long, Long)].collect().toMap
    def sssp(): Seq[String] =
      SparkEntry.queries("q_graph_sssp")(spark, TestSession.sf)
        .collect().map(_.toString).sorted.toSeq
    val (localFlood, localSssp) = (flood(), sssp())
    val dir = java.nio.file.Files.createTempDirectory("graft-ck").toFile
    def rddDirs(f: java.io.File): Int =
      Option(f.listFiles()).toSeq.flatten.filter(_.isDirectory).map { c =>
        (if (c.getName.startsWith("rdd-")) 1 else 0) + rddDirs(c)
      }.sum
    try {
      spark.sparkContext.setCheckpointDir(dir.getAbsolutePath)
      assert(flood() === localFlood, "reliable flood diverged from the local one")
      // two initial snaps (edges, state), then per superstep two layer
      // snaps (hop batch 3) and the state snap
      val rounds = Pregel.lastRuns(spark)("ck-flood").size
      assert(rddDirs(dir) == 2 + rounds * 3,
        s"expected ${2 + rounds * 3} rdd-* checkpoints for $rounds supersteps, got ${rddDirs(dir)}")
      assert(sssp() === localSssp, "q_graph_sssp under reliable snaps diverged")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(dir)
    }
  }
}

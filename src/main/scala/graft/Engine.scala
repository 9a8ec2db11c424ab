package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference (SymbioticLab/Sol, a Spark 2.4 fork) changes execution
  * *policy* — pipelined scheduling, pre-post stage submission, proactive
  * push-based shuffle, fetch/compute decoupling (see SURVEY.md §0.1,
  * reference `core/.../scheduler/DAGScheduler.scala:190-238`,
  * `core/.../executor/Executor.scala:192-460`) — not query semantics.
  * On Spark 4.x the same goals are served by built-in mechanisms, which we
  * turn on here: AQE (runtime re-planning ≈ elastic queue adaptation),
  * skew-join splitting, partition coalescing. Push-based shuffle
  * (`spark.shuffle.push.enabled`) is the upstreamed analog of Sol's
  * proactive push; it only applies with an external shuffle service on YARN,
  * so it is documented here and left to cluster deploy config.
  *
  * Scale notes (100 TB): `shufflePartitions` is the *initial* partition
  * count; AQE coalesces/splits at runtime. On a real cluster set it to
  * 2-3× total executor cores (e.g. 8000-12000 for 1000 executors × 4 cores);
  * locally the driver contract pins 32.
  */
object Engine {
  val DefaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** The `file:` scheme on the fork-free local filesystem (LocalFs.scala),
    * for both Hadoop APIs: `FileSystem` (RocksDB file copies, parquet
    * writers) and `FileContext` (Spark's checkpoint file manager; stock
    * `RawLocalFs` hard-codes its own `RawLocalFileSystem`, so the first
    * key alone does not reach it). Without Hadoop's native library, every
    * atomic checkpoint write forked one `chmod` and four `readlink`s, twice
    * for state files with their checksum sidecar, on the driver's offset
    * and commit logs and in all 8 RocksDB commits of each batch. A JFR
    * recording of one perfbench `stream` run (seed 43, 4-core VM, 25
    * batches) counted 5,533 process starts (3,752 `readlink`, 1,350
    * `chmod`, 428 `rm`); with these keys, 617 in 37 batches: 614 `rm -rf`
    * from Spark's own recursive deletes and three one-time probes.
    */
  val LocalFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** Streaming state on RocksDB with changelog checkpointing.
    *
    * RocksDB keeps each executor's state off the JVM heap (SURVEY §2.9
    * state store row: the 4.x upgrade over HDFSBackedStateStoreProvider).
    * With snapshot checkpointing, every commit of every store flushes the
    * memtable, checkpoints RocksDB locally, copies and zips the new SST
    * files into the checkpoint dir and `rm -rf`s the local snapshot; at
    * 2 stateful operators × 4 partitions that is 8 snapshots per
    * micro-batch. With changelog checkpointing a commit writes only the
    * batch's `N.changelog`; a full snapshot is made every 10 versions
    * (`minDeltasForSnapshot`) and uploaded by Spark's maintenance thread,
    * and recovery loads the last snapshot and replays the changelogs
    * after it. Either format restarts from a checkpoint the other wrote.
    *
    * Measured on perfbench `stream` (4-core VM, `--seconds 18`), snapshot
    * → changelog: `state.commit_ms`, summed over the 8 stores per capacity
    * batch, 229.5 → 49.3 (traced, seed 711); `rm` process starts per run
    * 662 → 52 (JFR, seed 712); `latency_p50_s` 0.672 → 0.595 s over 10
    * interleaved pairs (seeds 701–710, 9 better). At 30 M and 105 M live
    * keys (BASELINE.md, rounds 8 and 9) the same setting gave +4% and +27%
    * rows/s, p50 5.7 → 2.8 s and 2.3 → 1.8 s.
    */
  val StateStoreConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def builder(
      appName: String = "graft",
      master: String = s"local[$DefaultCpus]",
      shufflePartitions: Int = DefaultCpus.toInt): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Keep Spark's DEFAULT parallelism-first coalescing (r11): with
      // `false`, AQE coalesces every small post-shuffle stage to the
      // 64 MB advisory size — at bench scale that is ONE task, so window
      // sorts, final aggregates and cache builds serialized on one core
      // (measured: the kcore edge build's final aggregate ran 44 s
      // single-task; q_tpcds_q65's 600 k-row window ran one task). The
      // default first fills `defaultParallelism` partitions (≥ 1 MB
      // each), which is scale-correct by construction: small shuffles
      // still use the machine, large shuffles are bounded by the
      // advisory size either way. Production clusters that prefer
      // fewer/larger reducers can set this false per-deploy.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // streaming state off-heap, commits write changelogs: StateStoreConf
      .config(StateStoreConf)
      // events.parquet carries INT64 TIMESTAMP(NANOS); expose as raw nanos
      // (Tables derives a µs TIMESTAMP view column from it).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The default 100-entry codegen class cache thrashes under this
      // engine's workload shape (50+ declared queries × ~5-10
      // WholeStageCodegen units each): once evicted, every re-execution
      // pays a janino recompile, and concurrent submissions pay it at
      // partially-serialized compiler throughput — observed as sporadic
      // 2-4x whole-pass slowdowns in graft.Bench's pipelined pass. Size
      // the cache to hold the whole query surface; generated classes are
      // small and the cap still bounds a pathological generator.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // file: without per-file shell-outs; why and the fork counts: LocalFsConf
      .config(LocalFsConf)

  def session(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

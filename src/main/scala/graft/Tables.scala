package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loads the driver-provided parquet tables (TESTDATA.md / FIXTURES.md) and
  * registers them as temp views. Spark-first: plain `spark.read.parquet`
  * scans keep column pruning and filter pushdown available to Catalyst
  * (verify with `.explain("formatted")` → `PushedFilters` / `ReadSchema`).
  */
object Tables {
  /** (SparkSession, scale-factor dir) => result — the driver's query shape. */
  type QFn = (SparkSession, String) => DataFrame

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-session memo of loaded tables and the registered view dir.
    *
    * Why: `spark.read.parquet` re-lists the directory and re-reads footers
    * every call, and `register` re-analyzes 10 views — at 28 bench queries
    * × 10 tables that fixed overhead dominated wall-clock (BENCH_r02). A
    * resolved DataFrame is immutable and session-bound, so caching it per
    * (session, dir, name) is safe; eviction (stopped-context sweep +
    * explicit [[clear]]) lives in [[SessionKeyed]]. This caches plan
    * *resolution* only — no data is persisted, so it is equally valid on a
    * 1000-executor cluster (it is what a catalog does).
    */
  private final class SessionState {
    val dfs = new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
    @volatile var registeredDir: String = null
    @volatile var functionsEnsured: Boolean = false
  }
  private val sessions = new SessionKeyed[SessionState]
  private def state(spark: SparkSession): SessionState =
    sessions.get(spark)(_ => new SessionState)

  /** Drop this session's plan memo (nothing persisted — no blocks to free). */
  def clear(spark: SparkSession): Unit = sessions.remove(spark)

  /** Whether this session has a plan memo (test observability). */
  private[graft] def holds(spark: SparkSession): Boolean = sessions.find(spark).isDefined

  /** Test seam: pre-seed the plan memo (and force view re-registration) so
    * a spec can interpose a wrapper — e.g. a failure-injecting filter —
    * between the scan and every consumer of `name`, then run the REAL
    * declared queries against it (retry-determinism specs). Production
    * code never calls this.
    */
  private[graft] def seed(spark: SparkSession, dir: String, name: String, df: DataFrame): Unit = {
    val st = state(spark)
    st.dfs.put((dir, name), df)
    st.registeredDir = null
  }

  /** events.ts has shipped in three physical parquet flavors across driver
    * fixture regenerations: INT64 TIMESTAMP(NANOS) (read as a long under
    * `spark.sql.legacy.parquet.nanosAsLong`), TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (read as TIMESTAMP_NTZ), and TIMESTAMP(MICROS,
    * isAdjustedToUTC=true) (read as TIMESTAMP). A 100 TB corpus will
    * contain all of them, so the load seam — not every query — normalizes:
    * `ts` is always a microsecond TIMESTAMP (LTZ) and `ts_ns` always a
    * nanos-since-epoch BIGINT for total ordering (raw when physical,
    * derived µs*1000 otherwise). The NTZ→LTZ cast is a wall-clock
    * reinterpretation, value-preserving only at UTC — which is why the
    * session timezone is pinned below.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    state(spark).dfs.computeIfAbsent((dir, name), _ => doLoad(spark, dir, name))

  private def doLoad(spark: SparkSession, dir: String, name: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // runtime-settable; makes events readable on host-provided sessions
    // built without Engine.builder's config
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The NTZ branch below reinterprets wall-clock in the session zone;
      // only UTC makes it value-preserving (and every oracle comparison
      // already assumes UTC — Engine.builder pins it too).
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else {
      val shaped = df.schema("ts").dataType match {
        case LongType =>
          df.withColumnRenamed("ts", "ts_ns")
            // floor-division (not `div`, which truncates toward zero) so a
            // hypothetical pre-epoch nanos value still floors like DuckDB's
            // ns->us read-time conversion of the same file.
            .withColumn("ts",
              timestamp_micros(expr("(ts_ns - pmod(ts_ns, 1000)) div 1000")))
        case TimestampNTZType =>
          df.withColumn("ts", col("ts").cast(TimestampType))
            .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
        case TimestampType =>
          df.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
        case other => throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other; " +
            "expected TIMESTAMP, TIMESTAMP_NTZ, or INT64 nanos")
      }
      shaped.select(col("event_id"), col("ts"), col("ts_ns"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    }
  }

  /** Scale-adaptive fan-out (r11; guide §2.2 "do fewer shuffles" cuts the
    * other way when the SCAN itself is the bottleneck): repartition a
    * frame whose scan cannot fill the configured parallelism to
    * `defaultParallelism`, a NO-OP whenever the scan already yields at
    * least half the cores' partitions. The driver fixtures are
    * single-row-group parquet files — Spark cannot split a row group, so
    * every scan stage ran ONE task and compute-heavy per-row projections
    * (the BPE replace tower, per-gram digests) serialized on one core. At
    * any real scale the input splits past the core count and this adds
    * nothing — the gate reads the actual planned partition count, not a
    * constant tuned for local mode.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= cores) df else df.repartition(cores)
  }

  /** Registers every table as a temp view named after its file. Idempotent.
    * Also ensures the engine's native functions exist even when the session
    * was built without [[graft.GraftExtensions]] (e.g. a host-provided
    * session), so every declared query runs on any SparkSession.
    *
    * The `documents` view registers FAN-WRAPPED ([[fanOut]]): the text
    * corpus is the one table whose SQL consumers are compute-bound per
    * row (BPE token streams, per-gram digests, simhash votes) with no
    * selective-pushdown patterns, so under-parallel scans dominated those
    * queries at bench scale. Structural consumers (`Tables.load`) are
    * untouched.
    */
  def register(spark: SparkSession, dir: String): Unit = {
    val st = state(spark)
    ensureFunctions(spark)
    if (st.registeredDir != dir) {
      names.foreach { n =>
        val df = load(spark, dir, n)
        (if (n == "documents") fanOut(df) else df).createOrReplaceTempView(n)
      }
      st.registeredDir = dir
    }
  }

  def ensureFunctions(spark: SparkSession): Unit = {
    val st = state(spark)
    if (!st.functionsEnsured) {
      val reg = spark.sessionState.functionRegistry
      graft.functions.Natives.all.foreach { case (name, _, builder) =>
        if (!reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
          reg.createOrReplaceTempFunction(name, builder, "built-in")
      }
      st.functionsEnsured = true
    }
  }
}

/** Deterministic-aggregation helpers.
  *
  * Distributed double sums are merge-order-dependent; at 100 TB the partial
  * merge order is never stable run-to-run. The fixture money/quantity
  * columns are fixed-point (≤2 decimal digits), so each value maps to an
  * exact integer count of 10^-scale units via `FLOOR(v * 10^scale + 0.5)` —
  * pure IEEE double ops that are bit-identical in Spark and DuckDB (unlike
  * double→DECIMAL casts, which the two engines round differently; see the
  * q_sim_centroid fixed-point note). The BIGINT sum is exact and associative
  * under ANY partitioning, and the single final `/10^scale` double division
  * is one correctly-rounded op mirrored on both sides.
  *
  * Why BIGINT units and not DECIMAL(28,scale) (rounds 1–3): same exactness,
  * ~2× cheaper — the long sum stays on HashAggregate's primitive fast path
  * with map-side partial aggregation, where decimal accumulation pays
  * Decimal-object arithmetic per row (measured: decimal28 sum 1.4 s vs
  * long-units 0.7 s on 600k rows).
  *
  * Overflow: Spark 4 runs ANSI mode by default, so a value whose unit count
  * exceeds BIGINT (|v| > ~9.2e14 at scale 4) or a group sum beyond BIGINT
  * fails loudly instead of wrapping (the DuckDB oracle sums to HUGEINT —
  * headroom there is 10^34). A 100 TB deployment summing > 9.2e18 units per
  * group should raise `scale` down or switch the call site to the decimal
  * form; the fixtures are 9 orders of magnitude below the line.
  */
object Exact {
  private def unitsPerOne(scale: Int): Double = math.pow(10, scale) // exact for scale <= 15

  /** Overflow guard bound, in units. Spark's `floor(double)` is a silent
    * C-style clamp to BIGINT (no ANSI error), so the range check must be
    * explicit — one codegen'd compare per row. Out-of-range values route to
    * a string→BIGINT cast that is non-foldable (references the value) and
    * raises loudly in BOTH engines; conservative vs Long.MaxValue (9.22e18).
    */
  private val GuardUnits = 9.0e18

  /** Exact sum of a fixed-point double column, returned as DOUBLE. */
  def dsum(c: Column, scale: Int = 4): Column = {
    val f = unitsPerOne(scale)
    val x = c * lit(f) + lit(0.5)
    val units = when(c.isNull, lit(null).cast("long"))
      .when(abs(x) < lit(GuardUnits), floor(x))
      .otherwise(concat(lit("dsum overflow: "), c.cast("string")).cast("long"))
    (sum(units).cast("double") / lit(f))
  }

  /** Deterministic average = exact sum / count (single double division). */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  /** Exact BIGINT units-sum fragment, Spark∩DuckDB dialect — the integer
    * core of [[dsumSql]], for call sites that keep arithmetic in exact
    * units (window sums, threshold compares) before one final division.
    * CAST pins DuckDB's HUGEINT sum back to Spark's BIGINT.
    */
  def usumSql(e: String, scale: Int = 4): String = {
    val x = s"(($e) * 1e$scale + 0.5)"
    s"""CAST(SUM(CASE WHEN ($e) IS NULL THEN NULL
       |  WHEN ABS($x) < 9e18 THEN CAST(FLOOR($x) AS BIGINT)
       |  ELSE CAST(CONCAT('dsum overflow: ', CAST(($e) AS STRING)) AS BIGINT)
       |  END) AS BIGINT)""".stripMargin
  }

  /** SQL fragment mirroring [[dsum]], in the common Spark∩DuckDB dialect —
    * the same text runs on the engine and the oracle. Parenthesized so it
    * embeds safely in larger expressions (COALESCE, comparisons).
    */
  def dsumSql(e: String, scale: Int = 4): String =
    s"(CAST(${usumSql(e, scale)} AS DOUBLE) / 1e$scale)"

  def davgSql(e: String, scale: Int = 4): String =
    s"(${dsumSql(e, scale)} / COUNT($e))"
}

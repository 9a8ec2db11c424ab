package graft.queries

import graft.{Exact, QDef, QModule}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Aggregation surface (SURVEY.md §2.4: HashAggregateExec two-phase plans,
  * distinct-aggregate rewrite, cube/rollup/grouping-sets via Expand, pivot,
  * exact & approximate percentiles, typed Aggregator).
  *
  * Scale notes: every query here is a plain groupBy over declarative
  * expressions, so Catalyst plans partial (map-side) aggregation before the
  * shuffle and AQE coalesces the post-shuffle partitions; nothing collects
  * to the driver. Double-typed outputs go through the exact-decimal pattern
  * ([[graft.Exact]]) so results are identical under any partitioning —
  * a requirement once partial-merge order becomes nondeterministic on a
  * 1000-executor cluster.
  */
object Agg extends QModule {

  private val sumDiscPrice =
    sum(col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(4, 2)) - col("l_discount").cast(DecimalType(4, 2))))
      .cast("double")
  private val sumDiscPriceSql =
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)"

  val qAggBasic = QDef(
    "q_agg_basic",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base"),
          sumDiscPrice.as("sum_disc_price"),
          Exact.davg(col("l_quantity")).as("avg_qty"),
          Exact.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("cnt")),
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${Exact.dsumSql("l_quantity")} AS sum_qty,
        ${Exact.dsumSql("l_extendedprice")} AS sum_base,
        $sumDiscPriceSql AS sum_disc_price,
        ${Exact.davgSql("l_quantity")} AS avg_qty,
        ${Exact.davgSql("l_discount")} AS avg_disc,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    bench = true)

  val qAggDistinct = QDef(
    "q_agg_distinct",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("supp_d"),
          countDistinct(col("l_partkey")).as("part_d"),
          countDistinct(col("l_suppkey"), col("l_partkey")).as("sp_d"),
          count(lit(1)).as("cnt")),
    Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_suppkey) AS supp_d,
        COUNT(DISTINCT l_partkey) AS part_d,
        COUNT(DISTINCT (l_suppkey, l_partkey)) AS sp_d,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag"""),
    bench = true)

  val qAggMinMax = QDef(
    "q_agg_minmax",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          // parquet ms-timestamps read as TIMESTAMP_NTZ; cast to session-UTC
          // TIMESTAMP so unix_micros applies (same numbers as DuckDB's
          // epoch_us over the naive value).
          unix_micros(min(col("l_shipdate")).cast("timestamp")).as("min_ship_us"),
          unix_micros(max(col("l_shipdate")).cast("timestamp")).as("max_ship_us")),
    Some("""
      SELECT l_returnflag,
        MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
        MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
        epoch_us(MIN(l_shipdate)) AS min_ship_us,
        epoch_us(MAX(l_shipdate)) AS max_ship_us
      FROM lineitem GROUP BY l_returnflag"""))

  val qAggCube = QDef(
    "q_agg_cube",
    (s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("l_quantity")).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("cnt"), col("sum_qty")),
    Some(s"""
      SELECT coalesce(l_returnflag, '(all)') AS rflag,
             coalesce(l_linestatus, '(all)') AS lstatus,
             COUNT(*) AS cnt, ${Exact.dsumSql("l_quantity")} AS sum_qty
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""),
    bench = true)

  val qAggRollup = QDef(
    "q_agg_rollup",
    (s, d) =>
      t(s, d, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), Exact.dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("prio"),
          col("cnt"), col("sum_price")),
    Some(s"""
      SELECT coalesce(o_orderstatus, '(all)') AS status,
             coalesce(o_orderpriority, '(all)') AS prio,
             COUNT(*) AS cnt, ${Exact.dsumSql("o_totalprice")} AS sum_price
      FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""))

  // Same SQL text runs in both engines (GROUPING SETS is ANSI).
  private val gsetsSql = """
      SELECT coalesce(l_returnflag, '(all)') AS rflag,
             coalesce(l_linestatus, '(all)') AS lstatus,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
  val qAggGsets = QDef("q_agg_gsets", sqlQ(gsetsSql), Some(gsetsSql))

  /** Bitwise and boolean aggregates (SURVEY §2.8 aggregate names). One
    * shared ANSI text; both families are associative/commutative integer
    * or boolean reductions, so they are merge-order safe by construction.
    */
  private val bitsSql = """
      SELECT l_returnflag,
        bit_and(l_orderkey) AS b_and,
        bit_or(l_orderkey) AS b_or,
        bit_xor(l_orderkey) AS b_xor,
        bool_and(l_quantity > 0) AS all_pos,
        bool_or(l_discount > CAST(0.05 AS DOUBLE)) AS any_disc
      FROM lineitem GROUP BY l_returnflag"""
  val qAggBits = QDef("q_agg_bits", sqlQ(bitsSql), Some(bitsSql))

  /** grouping() / grouping_id() over grouping sets — the Expand-metadata
    * functions (reference `CAT/expressions/grouping.scala`); bit order
    * (first listed column = MSB) agrees across engines.
    */
  private val gidSql = """
      SELECT coalesce(l_returnflag, '(all)') AS rflag,
             coalesce(l_linestatus, '(all)') AS lstatus,
             CAST(grouping(l_returnflag) AS INTEGER) AS g_flag,
             CAST(grouping_id(l_returnflag, l_linestatus) AS INTEGER) AS gid,
             COUNT(*) AS cnt
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"""
  val qAggGroupingId = QDef("q_agg_groupingid", sqlQ(gidSql), Some(gidSql))

  /** Ordered string aggregation (SQL:2023 LISTAGG, new in Spark 4.0) —
    * deterministic because the within-group ordering is total.
    */
  val qAggListagg = QDef(
    "q_agg_listagg",
    sqlQ("""
      SELECT s_nationkey,
             listagg(s_name, ',') WITHIN GROUP (ORDER BY s_name) AS names
      FROM supplier GROUP BY s_nationkey"""),
    Some("""
      SELECT s_nationkey, string_agg(s_name, ',' ORDER BY s_name) AS names
      FROM supplier GROUP BY s_nationkey"""))

  val qAggPivot = QDef(
    "q_agg_pivot",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(Exact.dsum(col("l_quantity"))),
    Some(s"""
      SELECT l_linestatus,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) FILTER (WHERE l_returnflag = 'A') AS DOUBLE) AS "A",
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) FILTER (WHERE l_returnflag = 'N') AS DOUBLE) AS "N",
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,4))) FILTER (WHERE l_returnflag = 'R') AS DOUBLE) AS "R"
      FROM lineitem GROUP BY l_linestatus"""))

  /** Deterministic moments: exact decimal power sums, then an identical
    * double-expression tree on both sides (SURVEY §2.4 CentralMomentAgg
    * parity without float merge-order nondeterminism).
    */
  val qAggStats = QDef(
    "q_agg_stats",
    (s, d) => {
      val q = col("l_quantity")
      val g = t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count(q).as("cnt"),
          Exact.dsum(q).as("s"),
          sum(q.cast(DecimalType(12, 2)) * q.cast(DecimalType(12, 2)))
            .cast("double").as("s2"))
      val vexp = (col("s2") - col("s") * col("s") / col("cnt")) / (col("cnt") - lit(1))
      g.select(
        col("l_returnflag"), col("cnt"),
        (col("s") / col("cnt")).as("mean_qty"),
        vexp.as("var_qty"),
        sqrt(vexp).as("std_qty"))
    },
    Some(s"""
      WITH g AS (
        SELECT l_returnflag, COUNT(l_quantity) AS cnt,
          ${Exact.dsumSql("l_quantity")} AS s,
          CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS s2
        FROM lineitem GROUP BY l_returnflag)
      SELECT l_returnflag, cnt, s / cnt AS mean_qty,
        (s2 - s * s / cnt) / (cnt - 1) AS var_qty,
        sqrt((s2 - s * s / cnt) / (cnt - 1)) AS std_qty
      FROM g"""))

  val qAggCollect = QDef(
    "q_agg_collect",
    (s, d) =>
      t(s, d, "documents")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("cnt"),
          array_join(array_sort(collect_set(col("source"))), ",").as("sources")),
    Some("""
      SELECT lang, COUNT(*) AS cnt,
             string_agg(DISTINCT source, ',' ORDER BY source) AS sources
      FROM documents GROUP BY lang"""))

  val qAggPercentile = QDef(
    "q_agg_percentile",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90")),
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.5) AS p50,
             quantile_cont(l_quantity, 0.9) AS p90
      FROM lineitem GROUP BY l_returnflag"""))

  /** Sketch aggregates (HLL++, approx percentile — SURVEY §2.4). DuckDB's
    * approximations use different algorithms, so the raw estimates have no
    * cross-engine oracle; instead BOTH sides emit the sketch CONTRACT as
    * booleans — each engine's own approximation within tolerance of the
    * exact answer computed in the same query (HLL within ±10% of the exact
    * distinct count; approx median inside the exact p40..p60 band) — plus
    * the exactly-comparable distinct count itself.
    */
  val qAggApprox = QDef(
    "q_agg_approx",
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          approx_count_distinct(col("l_partkey")).as("apx"),
          expr("approx_percentile(l_quantity, 0.5, 10000)").as("ap50"),
          expr("percentile(l_quantity, 0.4)").as("p40"),
          expr("percentile(l_quantity, 0.6)").as("p60"))
        .select(
          col("l_returnflag"),
          col("exact_parts"),
          (col("apx") >= col("exact_parts") * 0.9 &&
            col("apx") <= col("exact_parts") * 1.1).as("apx_ok"),
          (col("ap50") >= col("p40") && col("ap50") <= col("p60")).as("p50_ok")),
    Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS exact_parts,
        approx_count_distinct(l_partkey)
          BETWEEN 0.9 * COUNT(DISTINCT l_partkey)
              AND 1.1 * COUNT(DISTINCT l_partkey) AS apx_ok,
        approx_quantile(l_quantity, 0.5)
          BETWEEN quantile_cont(l_quantity, 0.4)
              AND quantile_cont(l_quantity, 0.6) AS p50_ok
      FROM lineitem GROUP BY l_returnflag"""))

  /** Apache DataSketches HLL surface (Spark ≥3.5 `hll_sketch_agg` /
    * `hll_union_agg` / `hll_sketch_estimate` — SURVEY §2.4 sketch row):
    * the MERGEABLE distinct sketch a 100 TB rollup keeps as incremental
    * state. Raw sketch bytes are algorithm-specific, so the query emits
    * the sketch CONTRACT: each group's estimate within ±5% of the exact
    * distinct computed alongside (default lgK=12 ⇒ ~1.6% RSE, wide
    * margin), and — the property that matters — the UNION of the
    * per-group sketches re-estimating the GLOBAL distinct within ±5%,
    * proving merge correctness without re-scanning. DuckDB mirrors the
    * exact counts; the booleans are the cross-engine assertion.
    */
  val qAggHllSketch = QDef(
    "q_agg_hllsketch",
    sqlQ("""
      WITH g AS (
        SELECT o_orderstatus,
               hll_sketch_agg(o_custkey) AS sk,
               COUNT(DISTINCT o_custkey) AS exact_d
        FROM orders GROUP BY o_orderstatus),
      tot AS (SELECT COUNT(DISTINCT o_custkey) AS d FROM orders)
      SELECT o_orderstatus, exact_d,
             ABS(hll_sketch_estimate(sk) - exact_d) <= 0.05 * exact_d AS hll_ok
      FROM g
      UNION ALL
      SELECT 'ALL', (SELECT d FROM tot),
             ABS(hll_sketch_estimate(hll_union_agg(sk)) - (SELECT d FROM tot))
               <= 0.05 * (SELECT d FROM tot) AS hll_ok
      FROM g
      ORDER BY o_orderstatus"""),
    Some("""
      SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_d,
             TRUE AS hll_ok
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'ALL', CAST(COUNT(DISTINCT o_custkey) AS BIGINT), TRUE FROM orders
      ORDER BY o_orderstatus"""))

  /** `mode()` + `median()` aggregates (Spark ≥3.4 surface, SURVEY §2.4).
    * Median interpolates identically in both engines (DuckDB MEDIAN =
    * quantile_cont 0.5) so it compares directly. Mode's tie-breaking is
    * engine-arbitrary, so the query emits the tie-proof contract instead
    * of the raw value: the returned mode's group count equals the max
    * group count (TRUE whichever maximal value either engine picked —
    * same derived-check pattern as q_agg_hllsketch).
    */
  private val modeMedianSql = """
      WITH f AS (
        SELECT l_returnflag AS g, l_linestatus AS v, COUNT(*) AS c
        FROM lineitem GROUP BY l_returnflag, l_linestatus),
      mx AS (SELECT g, MAX(c) AS maxc FROM f GROUP BY g),
      md AS (
        SELECT l_returnflag AS g, MODE(l_linestatus) AS mv,
               MEDIAN(l_quantity) AS med
        FROM lineitem GROUP BY l_returnflag)
      SELECT md.g AS flag, md.med AS med, f.c = mx.maxc AS mode_ok
      FROM md JOIN f ON f.g = md.g AND f.v = md.mv
      JOIN mx ON mx.g = md.g
      ORDER BY flag"""
  val qAggModeMedian =
    QDef("q_agg_modemedian", sqlQ(modeMedianSql), Some(modeMedianSql))

  /** Unpivot (melt) — the inverse of pivot: wide per-nation metrics back to
    * (id, metric, val) long form via the typed `Dataset.unpivot` API. A pure
    * per-row Expand (no shuffle beyond the feeding aggregate); the oracle is
    * the portable UNION ALL expansion. All values cast to DOUBLE because
    * unpivot requires a common value type (min/max of doubles and an exact
    * integer count are all double-exact).
    */
  val qAggUnpivot = QDef(
    "q_agg_unpivot",
    (s, d) =>
      t(s, d, "customer")
        .groupBy("c_nationkey")
        .agg(
          count("*").cast("double").as("n_cust"),
          min("c_acctbal").as("min_bal"),
          max("c_acctbal").as("max_bal"))
        .unpivot(
          Array(col("c_nationkey")),
          Array(col("n_cust"), col("min_bal"), col("max_bal")),
          "metric", "val"),
    Some("""
      WITH m AS (
        SELECT c_nationkey, CAST(COUNT(*) AS DOUBLE) AS n_cust,
               MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        FROM customer GROUP BY c_nationkey)
      SELECT c_nationkey, 'n_cust' AS metric, n_cust AS val FROM m
      UNION ALL SELECT c_nationkey, 'min_bal', min_bal FROM m
      UNION ALL SELECT c_nationkey, 'max_bal', max_bal FROM m"""))

  /** SQL:2003 FILTER (WHERE …) aggregate modifier — per-aggregate
    * predicates without CASE rewrites, planned as conditional partial
    * aggregation (still map-side combinable). The exact units sum inlines
    * the positive-money fast path (no null/overflow guard needed for
    * l_extendedprice, bounded by fixture domain); shared dialect.
    */
  private val filterSql = """
      SELECT l_returnflag,
             COUNT(*) FILTER (WHERE l_quantity > 25) AS n_heavy,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 1e2 + 0.5) AS BIGINT))
                  FILTER (WHERE l_discount > 0.05) AS BIGINT) AS disc_units
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
  val qAggFilter = QDef("q_agg_filter", sqlQ(filterSql), Some(filterSql))

  /** SQL:2008 inverse-distribution syntax — percentile_cont/disc WITHIN
    * GROUP (ORDER BY …). Quantiles run on the integral l_quantity so the
    * linear interpolation is exact in doubles on both engines (the
    * interpolation FORMULA can differ by an ulp on arbitrary doubles);
    * DuckDB mirrors with quantile_cont/quantile_disc.
    */
  val qAggPctWithin = QDef(
    "q_agg_pctwithin",
    (s, d) => {
      graft.Tables.register(s, d)
      s.sql("""
        SELECT l_returnflag,
               percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS q1,
               percentile_cont(0.5)  WITHIN GROUP (ORDER BY l_quantity) AS med,
               percentile_disc(0.9)  WITHIN GROUP (ORDER BY l_quantity) AS p90d
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    },
    Some("""
      SELECT l_returnflag,
             quantile_cont(l_quantity, 0.25) AS q1,
             quantile_cont(l_quantity, 0.5) AS med,
             quantile_disc(l_quantity, 0.9) AS p90d
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** COUNT(DISTINCT) under ROLLUP — the Expand×distinct planner
    * interplay: grouping-set expansion multiplies rows BEFORE the
    * distinct-aggregate's own two-phase dedup, so the plan must stack
    * one Expand (grouping sets) inside another aggregation pipeline
    * (distinct). Exactly the shape that breaks naive planners.
    */
  private val rollupDistinctSql = """
      SELECT o_orderstatus, o_orderpriority,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
             COUNT(*) AS n_orders
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST"""
  val qAggRollupDistinct = QDef(
    "q_agg_rollupdistinct", sqlQ(rollupDistinctSql), Some(rollupDistinctSql))

  /** Exact mergeable distinct counting via bitmaps (Spark 3.5 bitmap_*):
    * keys bucket into 32k-bit bitmaps (bitmap_bucket_number /
    * bitmap_bit_position), per-bucket bitmaps OR-combine associatively
    * (bitmap_construct_agg), and the distinct count is the SUM of
    * per-bucket popcounts. At 100 TB this is the EXACT alternative to
    * HLL with the same two-level map-side-combinable shape — no Expand,
    * unlike COUNT(DISTINCT). Oracle = the plain exact distinct count.
    */
  val qAggBitmap = QDef(
    "q_agg_bitmap",
    sqlQ("""
      SELECT o_orderstatus, CAST(SUM(bitmap_count(b)) AS BIGINT) AS n_cust
      FROM (SELECT o_orderstatus,
                   bitmap_construct_agg(bitmap_bit_position(o_custkey)) AS b
            FROM orders GROUP BY o_orderstatus, bitmap_bucket_number(o_custkey)) x
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    Some("""
      SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** The exact-and-mergeable twin of [[qAggDistinct]]: the SAME three
    * distinct counts (including the composite key) via OR-combinable
    * bitmaps instead of the Expand ×3 rewrite. Each distinct is a
    * two-level map-side-combinable aggregate (bucket bitmaps → popcount
    * sum), so the shuffle carries fixed-size bitmaps per (group, bucket)
    * instead of every distinct (group, key) pair — the shape that wins
    * once distinct pairs per group dwarf 4 KB·buckets (100 TB facts), and
    * the only exact distinct that can ride an incremental/streaming merge.
    * The composite (suppkey, partkey) packs into one BIGINT as
    * suppkey·2³² + partkey — exact while partkey < 2³² and suppkey < 2³¹
    * (any TPC-H scale in practice; swap to a struct-of-two-bitmaps if a
    * key ever outgrows it). Oracle = identical text to q_agg_distinct.
    * Measured honestly at sf0.1 (~600k rows): ~0.8× the Expand form —
    * map-side partial agg already collapses Expand's row amplification at
    * this SF, so the bench gap is modest; the asymptotic argument above is
    * the reason this twin exists. (A single-scan variant that rolls all
    * three bitmaps up from one fine-grained pre-aggregate measured SLOWER
    * — it shuffles the bitmaps themselves — and was discarded.)
    */
  val qAggDistinctBitmap = QDef(
    "q_agg_distinct_bitmap",
    sqlQ("""
      WITH s AS (
        SELECT l_returnflag, CAST(SUM(bitmap_count(b)) AS BIGINT) AS supp_d,
               SUM(nr) AS cnt
        FROM (SELECT l_returnflag,
                     bitmap_construct_agg(bitmap_bit_position(l_suppkey)) AS b,
                     COUNT(*) AS nr
              FROM lineitem GROUP BY l_returnflag, bitmap_bucket_number(l_suppkey)) x
        GROUP BY l_returnflag),
      p AS (
        SELECT l_returnflag, CAST(SUM(bitmap_count(b)) AS BIGINT) AS part_d
        FROM (SELECT l_returnflag,
                     bitmap_construct_agg(bitmap_bit_position(l_partkey)) AS b
              FROM lineitem GROUP BY l_returnflag, bitmap_bucket_number(l_partkey)) x
        GROUP BY l_returnflag),
      sp AS (
        SELECT l_returnflag, CAST(SUM(bitmap_count(b)) AS BIGINT) AS sp_d
        FROM (SELECT l_returnflag,
                     bitmap_construct_agg(bitmap_bit_position(k)) AS b
              FROM (SELECT l_returnflag,
                           CAST(l_suppkey AS BIGINT) * 4294967296 + l_partkey AS k
                    FROM lineitem)
              GROUP BY l_returnflag, bitmap_bucket_number(k)) x
        GROUP BY l_returnflag)
      SELECT l_returnflag, supp_d, part_d, sp_d, cnt
      FROM s JOIN p USING (l_returnflag) JOIN sp USING (l_returnflag)"""),
    Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_suppkey) AS supp_d,
        COUNT(DISTINCT l_partkey) AS part_d,
        COUNT(DISTINCT (l_suppkey, l_partkey)) AS sp_d,
        COUNT(*) AS cnt
      FROM lineitem GROUP BY l_returnflag"""),
    bench = true)

  /** The AUTOMATIC twin of the two forms above: a plain
    * `COUNT(DISTINCT k)` aggregate planned through the engine's
    * [[graft.optimizer.BitmapDistinct]] optimizer rule, which rewrites
    * integer-keyed distincts into the OR-combinable bitmap shape when
    * the stats gate says the key grain is near-unique (CBO ndv/rowCount)
    * or the input is large (size fallback). The query text is the NAIVE
    * form — the plan is the bitmap form; the DuckDB oracle runs the same
    * naive text, so the hash gate proves the rewrite is invisible.
    *
    * The fixture is tiny, so this query stands in for the at-scale
    * regime by forcing the rule (`spark.graft.bitmapDistinct=force`;
    * without CBO stats the at-scale 1 GiB size gate gives the same plan)
    * — in a CLONED session, because a caller's action (noop/parquet
    * write) re-plans the frame under the conf current THEN: the clone
    * keeps the rule forced for the frame's whole life while the caller's
    * session stays untouched (`BitmapDistinctSpec` pins the gate's
    * thresholds and the CBO-stats direction separately). l_orderkey is
    * the closest-to-unique integral key lineitem has (~¼ of rows).
    */
  val qAggDistinctAuto = QDef(
    "q_agg_distinct_auto",
    (s, d) => {
      val forced = graft.SessionCache.memoSession(s, "bitmap-distinct-gated") {
        val ns = s.newSession()
        ns.conf.set(graft.optimizer.BitmapDistinct.ModeKey, "force")
        ns
      }
      val df = t(forced, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("ord_d"),
          count(lit(1)).as("cnt"),
          min(col("l_suppkey")).as("min_supp"),
          max(col("l_partkey")).as("max_part"))
      require(df.queryExecution.executedPlan.toString.contains("bitmap_construct_agg"),
        "q_agg_distinct_auto must plan through the BitmapDistinct rule")
      df
    },
    Some("""
      SELECT l_returnflag,
        COUNT(DISTINCT l_orderkey) AS ord_d,
        COUNT(*) AS cnt,
        MIN(l_suppkey) AS min_supp,
        MAX(l_partkey) AS max_part
      FROM lineitem GROUP BY l_returnflag"""),
    bench = true)

  /** max_by/min_by builtins (SURVEY §2.4 argmin/argmax; DuckDB spells
    * them arg_max/arg_min — the only dialect delta). The ordering key is
    * (price units, orderkey) packed into one BIGINT, so it is UNIQUE per
    * row: without the tie-breaker, two orders sharing a total price would
    * make the builtin's answer engine/partitioning-dependent and the hash
    * gate flaky — the same determinism rule as every top-k in this repo.
    * Pack bounds (same style as q_agg_distinct_bitmap's 2^32 note): the
    * 10^10 multiplier is valid while o_orderkey < 10^10 (TPC-H sparse
    * keys reach 6M·sf — safe to sf ≈ 1,600) and price units < 9.2·10^8
    * ($9.2M; TPC-H tops out near $600k). Either bound breaking overflows
    * BIGINT or collides pairs — widen to a struct ordering key then.
    */
  private def maxBySql(dialect: String): String = {
    val (mx, mn) = dialect match {
      case "spark" => ("MAX_BY", "MIN_BY")
      case _       => ("arg_max", "arg_min")
    }
    val key = "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) * 10000000000 + o_orderkey"
    s"""
      SELECT o_orderstatus,
             $mx(o_orderkey, $key) AS priciest_order,
             $mn(o_orderkey, $key) AS cheapest_order,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  }
  val qAggMaxBy = QDef(
    "q_agg_maxby",
    sqlQ(maxBySql("spark")),
    Some(maxBySql("duck")))

  /** Multi-aggregate pivot: `.pivot(col, values).agg(n, sum)` widens to
    * value×aggregate suffixed columns in ONE pass over the fact (the
    * conditional-aggregation plan — no per-value re-scan). Values are
    * pinned so the schema is static; the exact sum rides through pivot as
    * the same BIGINT-units pattern.
    */
  val qAggPivotMulti = QDef(
    "q_agg_pivotmulti",
    (s, d) => t(s, d, "orders")
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"), Exact.dsum(col("o_totalprice"), 2).as("total"))
      .select(col("o_orderpriority"),
        col("F_n").as("f_n"), col("F_total").as("f_total"),
        col("O_n").as("o_n"), col("O_total").as("o_total")),
    Some(s"""
      SELECT o_orderpriority,
        COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS f_n,
        (CAST(${Exact.usumSql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END", 2)} AS DOUBLE) / 1e2) AS f_total,
        COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS o_n,
        (CAST(${Exact.usumSql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2)} AS DOUBLE) / 1e2) AS o_total
      FROM orders GROUP BY o_orderpriority"""))

  val defs: Seq[QDef] = Seq(
    qAggBasic, qAggDistinct, qAggMinMax, qAggCube, qAggRollup, qAggGsets,
    qAggBits, qAggGroupingId, qAggListagg, qAggPivot, qAggStats, qAggCollect,
    qAggPercentile, qAggApprox, qAggUnpivot, qAggFilter, qAggPctWithin,
    qAggRollupDistinct, qAggBitmap, qAggDistinctBitmap, qAggDistinctAuto,
    qAggPivotMulti, qAggMaxBy, qAggHllSketch, qAggModeMedian)
}

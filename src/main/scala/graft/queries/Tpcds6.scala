package graft.queries

import graft.{Exact, QDef, QModule}

/** Sixth TPC-DS-shape batch (Q70/Q11), covering two planner paths the
  * first five batches still miss: RANK windows evaluated PER GROUPING
  * LEVEL over a ROLLUP (plus a windowed top-k semi-join restricting the
  * input — Q70), and the year-over-year two-channel growth-ratio
  * self-join of a shared per-(customer, year, channel) aggregate (Q11).
  * Reference suite: `/root/reference/sql/core/src/test/resources/tpcds/
  * q70.sql`, `q11.sql` — shapes adapted to the fixture star schema
  * (hierarchy = region ⊃ nation; channels = `l_linestatus` O/F; years
  * 1996/1997 from o_orderdate). Same Spark∩DuckDB ANSI text is query and
  * oracle; every ratio compare is cross-multiplied exact BIGINT units so
  * no float boundary can flip a row across engines.
  */
object Tpcds6 extends QModule {

  /** TPC-DS Q70 shape: revenue ranked within each level of a geography
    * rollup, with the input pre-restricted to the top-3 regions by a
    * RANK-window semi-join (the "top states by profit" subfilter).
    * Planner paths: Expand (rollup) feeding a Window whose PARTITION BY
    * includes GROUPING()-derived columns — rank-within-subtotal-level —
    * plus a windowed subquery in the IN filter. Scale: `rev` is one
    * map-side-combinable aggregate at (region, nation) grain — 25 rows
    * whatever the SF — so every window downstream is on dimension-sized
    * data. Plan note (audited with graft.Explain): Catalyst inlines
    * the `rev` CTE into both consumers and the pushed semi filter makes
    * the copies non-identical, so the fact aggregate runs twice — the
    * same plan stock Spark produces for the reference's own q70.sql; a
    * deployment that cares materializes `rev` (25 rows) first.
    */
  private val q70Sql = s"""
      WITH rev AS (
        SELECT r_name, n_name, ${Exact.usumSql("l_extendedprice", 2)} AS rev_units
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             JOIN nation ON n_nationkey = c_nationkey
             JOIN region ON r_regionkey = n_regionkey
        GROUP BY r_name, n_name),
      top_r AS (
        SELECT r_name FROM (
          SELECT r_name,
                 RANK() OVER (ORDER BY CAST(SUM(rev_units) AS BIGINT) DESC, r_name) AS rnk
          FROM rev GROUP BY r_name) t
        WHERE rnk <= 3),
      rolled AS (
        SELECT r_name, n_name, CAST(SUM(rev_units) AS BIGINT) AS units,
               CAST(GROUPING(r_name) + GROUPING(n_name) AS INT) AS lvl
        FROM rev WHERE r_name IN (SELECT r_name FROM top_r)
        GROUP BY ROLLUP(r_name, n_name))
      SELECT (CAST(units AS DOUBLE) / 1e2) AS total_rev, r_name, n_name, lvl,
             CAST(RANK() OVER (PARTITION BY lvl, CASE WHEN lvl = 0 THEN r_name END
                               ORDER BY units DESC, r_name, n_name) AS INT) AS rank_within
      FROM rolled
      ORDER BY lvl, r_name NULLS FIRST, rank_within"""
  val qTpcdsQ70 = QDef("q_tpcds_q70", sqlQ(q70Sql), Some(q70Sql))

  /** TPC-DS Q11 shape: customers whose year-over-year growth in one
    * channel beats their growth in the other. One shared
    * (customer, year, channel) aggregate CTE self-joined four ways on the
    * customer key, with the ratio comparison
    * `web_97/web_96 > store_97/store_96` cross-multiplied into exact
    * BIGINT units (`w2·s1 > s2·w1`, guarded by positive first-year
    * totals — the NULLIF/CASE guard of the original). Scale: TPC-H keeps
    * rows-per-customer constant as SF grows, so the four-way self-join
    * stays linear in customers, and the cross-multiplied products are
    * bounded by (per-cell units)² ≈ 10^16 at sf1 — 400× under BIGINT
    * overflow, checked loudly by ANSI mode. Plan note (audited): the four
    * year_total instances each get their channel/year predicates PUSHED
    * INTO the parquet scan (`EqualTo(l_linestatus,…)` in PushedFilters),
    * so each instance reads only its channel's row groups — filtered
    * re-scan beats materialize-then-shuffle for this selectivity, and it
    * is the plan stock Spark produces for the reference's own q11.sql.
    */
  private val q11Sql = s"""
      WITH year_total AS (
        SELECT o_custkey AS cust, CAST(year(o_orderdate) AS INT) AS yr,
               l_linestatus AS chan,
               ${Exact.usumSql("l_extendedprice", 2)} AS units
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE CAST(year(o_orderdate) AS INT) IN (1996, 1997)
        GROUP BY 1, 2, 3)
      SELECT s1.cust AS c_custkey,
             (CAST(s1.units AS DOUBLE) / 1e2) AS store_first,
             (CAST(s2.units AS DOUBLE) / 1e2) AS store_this,
             (CAST(w1.units AS DOUBLE) / 1e2) AS web_first,
             (CAST(w2.units AS DOUBLE) / 1e2) AS web_this
      FROM year_total s1
           JOIN year_total s2 ON s2.cust = s1.cust
           JOIN year_total w1 ON w1.cust = s1.cust
           JOIN year_total w2 ON w2.cust = s1.cust
      WHERE s1.chan = 'F' AND s1.yr = 1996
        AND s2.chan = 'F' AND s2.yr = 1997
        AND w1.chan = 'O' AND w1.yr = 1996
        AND w2.chan = 'O' AND w2.yr = 1997
        AND s1.units > 0 AND w1.units > 0
        AND w2.units * s1.units > s2.units * w1.units
      ORDER BY c_custkey"""
  val qTpcdsQ11 = QDef("q_tpcds_q11", sqlQ(q11Sql), Some(q11Sql))

  val defs: Seq[QDef] = Seq(qTpcdsQ70, qTpcdsQ11)
}

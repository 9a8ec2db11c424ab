package graft.queries

import graft.{Exact, QDef, QModule}

/** Twelfth TPC-DS-shape batch (Q44/Q28/Q45) — three planner paths no
  * earlier batch exercises. Q44: the SAME aggregate ranked in BOTH
  * directions and paired rank-to-rank (best vs worst item table), with
  * Q44's 0.9×-average qualification cross-multiplied to exact units.
  * Q28: six disjoint-band legs over one fact, each carrying COUNT,
  * AVG, and COUNT(DISTINCT) — six independent Expand/distinct rewrites
  * cross-joined into a single row. Q45: a disjunction between a local
  * dim predicate and an IN-subquery — un-pushable and not semi-joinable,
  * so Catalyst must plan an ExistenceJoin and filter on its flag.
  * Reference suite: `/root/reference/sql/core/src/test/resources/tpcds/
  * q44.sql`, `q28.sql`, `q45.sql`, adapted to the fixture star schema;
  * the same Spark∩DuckDB ANSI text is query and oracle.
  */
object Tpcds12 extends QModule {

  /** TPC-DS Q44 shape: per-part revenue ranked in both directions, ranks
    * paired (rnk 1 = best×worst), part names attached through TWO
    * part-dim instances. Q44's correlated qualification — keep only
    * parts above 0.9× the all-parts average — is the classic merge-
    * order-dependent double compare; here it cross-multiplies to exact
    * BIGINT units (`rev_u·10·n > 9·tot`).
    *
    * The textbook form (`asceding JOIN descending ON rnk` over two CTE
    * instances, plus a scalar-average subquery) consumes the fact
    * aggregate FOUR times, and Spark inlines deterministic CTEs — four
    * lineitem scans (the q_sim_ivf_topk lesson, VERDICT r6 #2). This
    * rewrite is a single linear chain, every relation consumed once:
    * the 0.9× gate reads (n, Σ) from empty-frame windows over the
    * part-grain aggregate (no scalar-subquery re-scan); ONE descending
    * rank pass serves both directions (worst rank = n − rnk + 1); a
    * constant 2-row VALUES flat-map splits each qualifying row into its
    * best-pair/worst-pair roles (also correct when a mid-table row is
    * both, n < 20); a rank-grain aggregate zips the pair. ONE fact scan
    * total — plan-asserted.
    *
    * Scale: the global windows run at part grain (~n_parts rows, not the
    * fact); the 2-row VALUES join is a broadcast flat-map; both name
    * lookups broadcast the part dim.
    */
  private val q44Sql = s"""
      WITH rev AS (SELECT l_partkey,
                          ${Exact.usumSql("l_extendedprice * (1 - l_discount)", 4)} AS rev_u
                   FROM lineitem GROUP BY l_partkey),
      w1 AS (SELECT l_partkey, rev_u,
                    COUNT(*) OVER () AS n_all,
                    CAST(SUM(rev_u) OVER () AS BIGINT) AS t_all
             FROM rev),
      ranked AS (SELECT l_partkey,
                        ROW_NUMBER() OVER (ORDER BY rev_u DESC, l_partkey) AS rnk,
                        COUNT(*) OVER () AS n
                 FROM w1 WHERE rev_u * 10 * n_all > 9 * t_all),
      pairs AS (SELECT CASE WHEN side = 0 THEN rnk ELSE n - rnk + 1 END AS pair_rnk,
                       side, l_partkey
                FROM ranked CROSS JOIN (VALUES (0), (1)) AS s(side)
                WHERE (side = 0 AND rnk <= 10) OR (side = 1 AND rnk > n - 10)),
      agg AS (SELECT pair_rnk,
                     MAX(CASE WHEN side = 0 THEN l_partkey END) AS best_pk,
                     MAX(CASE WHEN side = 1 THEN l_partkey END) AS worst_pk
              FROM pairs GROUP BY pair_rnk)
      SELECT CAST(a.pair_rnk AS INTEGER) AS rnk, p1.p_name AS best_name,
             p2.p_name AS worst_name
      FROM agg a JOIN part p1 ON p1.p_partkey = a.best_pk
                 JOIN part p2 ON p2.p_partkey = a.worst_pk"""

  /** Spark side (r12; VERDICT r11 #3): the part-grain global windows
    * (`OVER ()` totals, global ROW_NUMBER) funnel every part through ONE
    * task at scale. This form is equivalent and window-free:
    *
    *   - `rev` (the one fact aggregate) localCheckpoints — it feeds the
    *     totals and the qualification, which would otherwise re-scan the
    *     fact (Spark inlines deterministic CTEs);
    *   - the `OVER ()` totals become a 1-row aggregate broadcast back;
    *   - only ranks 1..10 and n-9..n survive `pairs`, so the global
    *     ROW_NUMBER is really a top-10/bottom-10: TakeOrderedAndProject
    *     in both directions (distributed top-k — per-partition heaps, no
    *     single-partition sort), then rank-by-position inside each ≤10-row
    *     list via a tiny triangular self-join (rnk = 1 + #rows ahead).
    *
    * Equivalence: best side = qualified rows at rnk 1..min(n,10) in
    * (rev_u DESC, pk); worst side = the same list read from the bottom
    * (pair_rnk = n−rnk+1 ⇔ position in (rev_u ASC, pk DESC)); the
    * pair-of-ranks inner join reproduces `agg` exactly (both sides exist
    * iff pair_rnk ≤ min(n,10)). Oracle keeps the window text.
    */
  private def q44Fn(s: org.apache.spark.sql.SparkSession, d: String) = {
    import org.apache.spark.sql.functions._
    graft.Tables.register(s, d)
    val rev = org.apache.spark.sql.graft.InternalSnap.snap(s.sql(s"""SELECT l_partkey,
        ${Exact.usumSql("l_extendedprice * (1 - l_discount)", 4)} AS rev_u
        FROM lineitem GROUP BY l_partkey"""))
    // 1-row bounds probe over the checkpointed aggregate (the
    // q_dedup_incremental precedent): literals keep the qualification's
    // THREE consumers (top/bottom lists) from re-planning the totals
    // subtree each (null on an empty fact → no part qualifies).
    val g = rev.agg(count(lit(1)).as("n_all"),
      sum("rev_u").cast("long").as("t_all")).head()
    val qual =
      if (g.isNullAt(1)) rev.where(lit(false)).select("l_partkey", "rev_u")
      else rev
        .where(col("rev_u") * lit(10L) * lit(g.getLong(0)) > lit(9L) * lit(g.getLong(1)))
        .select("l_partkey", "rev_u")
    def rankIn(top10: org.apache.spark.sql.DataFrame,
        ahead: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
                org.apache.spark.sql.Column, org.apache.spark.sql.Column)
          => org.apache.spark.sql.Column,
        pkOut: String) = {
      val l = top10.select(col("rev_u").as("rv"), col("l_partkey").as("pk"))
      val r = top10.select(col("rev_u").as("rv2"), col("l_partkey").as("pk2"))
      l.join(broadcast(r), ahead(col("rv"), col("pk"), col("rv2"), col("pk2")), "left")
        .groupBy(col("pk"))
        .agg((count(col("pk2")) + 1L).as("pair_rnk"))
        .select(col("pair_rnk"), col("pk").as(pkOut))
    }
    val best = rankIn(
      qual.orderBy(col("rev_u").desc, col("l_partkey")).limit(10),
      (rv, pk, rv2, pk2) => rv2 > rv || (rv2 === rv && pk2 < pk), "best_pk")
    val worst = rankIn(
      qual.orderBy(col("rev_u"), col("l_partkey").desc).limit(10),
      (rv, pk, rv2, pk2) => rv2 < rv || (rv2 === rv && pk2 > pk), "worst_pk")
    val part = graft.Tables.load(s, d, "part")
    best.join(worst, "pair_rnk")
      .join(part.select(col("p_partkey").as("bpk"), col("p_name").as("best_name")),
        col("best_pk") === col("bpk"))
      .join(part.select(col("p_partkey").as("wpk"), col("p_name").as("worst_name")),
        col("worst_pk") === col("wpk"))
      .selectExpr("CAST(pair_rnk AS INTEGER) AS rnk", "best_name", "worst_name")
  }
  val qTpcdsQ44 = QDef("q_tpcds_q44", q44Fn, Some(q44Sql))

  /** TPC-DS Q28 shape: six disjoint quantity-band legs over the fact,
    * each leg an OR of three value bands and each computing AVG + COUNT
    * + COUNT(DISTINCT) — six independent distinct-aggregate rewrites —
    * cross-joined into one row. AVG goes through [[Exact]]; the DISTINCT
    * is over the raw double (set-equality, no merge-order exposure).
    *
    * Scale: each leg is one pushed-band scan → two-phase distinct
    * aggregate collapsing to ONE row, so the six "cross joins" are
    * six single-row broadcasts — the plan is six parallel aggregate
    * pipelines plus five free joins, and AQE runs the legs concurrently.
    */
  private def q28Leg(i: Int, qLo: Int, qHi: Int, pLo: Int, dLo: Int): String = s"""
      (SELECT ${Exact.davgSql("l_extendedprice", 2)} AS b${i}_avg,
              COUNT(*) AS b${i}_cnt,
              COUNT(DISTINCT l_extendedprice) AS b${i}_cntd
       FROM lineitem
       WHERE l_quantity BETWEEN $qLo AND $qHi
         AND (l_extendedprice BETWEEN $pLo AND ${pLo + 20000}
              OR l_discount BETWEEN 0.0$dLo AND 0.0${dLo + 2}
              OR l_tax BETWEEN 0.0$dLo AND 0.0${dLo + 2})) b$i"""
  private val q28Sql = s"""
      SELECT b1_avg, b1_cnt, b1_cntd, b2_avg, b2_cnt, b2_cntd,
             b3_avg, b3_cnt, b3_cntd, b4_avg, b4_cnt, b4_cntd,
             b5_avg, b5_cnt, b5_cntd, b6_avg, b6_cnt, b6_cntd
      FROM ${q28Leg(1, 1, 8, 10000, 1)} CROSS JOIN
           ${q28Leg(2, 9, 16, 20000, 2)} CROSS JOIN
           ${q28Leg(3, 17, 24, 30000, 3)} CROSS JOIN
           ${q28Leg(4, 25, 32, 40000, 4)} CROSS JOIN
           ${q28Leg(5, 33, 40, 50000, 5)} CROSS JOIN
           ${q28Leg(6, 41, 50, 60000, 6)}"""
  val qTpcdsQ28 = QDef("q_tpcds_q28", sqlQ(q28Sql), Some(q28Sql))

  /** TPC-DS Q45 shape: a disjunction spanning a LOCAL dim predicate and
    * an IN-subquery (`ca_zip IN (...) OR i_item_id IN (SELECT ...)`).
    * Neither disjunct can be pushed or planned as a plain semi join —
    * Catalyst plans an ExistenceJoin producing a boolean flag and the
    * filter becomes `segment-pred OR exists-flag`, keeping every probe
    * row until the disjunction resolves.
    *
    * Scale: the subquery side aggregates to a distinct key set before
    * joining (broadcastable at dim size); the fact streams through ONE
    * existence hash join — never a per-row subquery, never a cartesian.
    */
  private val q45Sql = s"""
      SELECT n_name, COUNT(*) AS n_orders,
             ${Exact.dsumSql("o_totalprice", 2)} AS total
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         OR o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
      GROUP BY n_name"""
  val qTpcdsQ45 = QDef("q_tpcds_q45", sqlQ(q45Sql), Some(q45Sql))

  val defs: Seq[QDef] = Seq(qTpcdsQ44, qTpcdsQ28, qTpcdsQ45)
}

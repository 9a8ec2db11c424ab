package graft.queries

import graft.{QDef, QModule}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

/** Deduplication operators for the training-data pipeline (builder brief):
  * exact, normalized-fingerprint, MinHash+LSH near-dup candidates, SimHash,
  * and n-gram Jaccard verification of LSH candidates.
  *
  * Scale design (100 TB):
  *  - Exact/fingerprint dedup: hash-groupBy on the digest — one shuffle of
  *    (digest, id), never of full text.
  *  - MinHash: 16 mins computed as ONE groupBy with 16 min-aggregates over
  *    the exploded shingle stream — map-side combinable, so the shuffle
  *    carries one 16-column row per document, not per shingle.
  *  - LSH banding: 4 bands × 4 rows; candidate join is an equi-join on
  *    (band, bucket) — only same-bucket docs ever meet, which is the whole
  *    point vs. the O(n²) all-pairs join.
  *  - Jaccard verify runs on LSH candidates only, so the expensive
  *    shingle-set intersection is bounded by the candidate count.
  *
  * The digest chain (md5 strings, lexicographic mins) is engine-neutral,
  * which is what makes a DuckDB value-oracle possible for LSH.
  */
object Dedup extends QModule {

  val qDedupExact = QDef(
    "q_dedup_exact",
    (s, d) => t(s, d, "documents")
      .groupBy("text")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .select("keep_id", "copies"),
    Some("""
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies
      FROM documents GROUP BY text"""))

  val qDedupNorm = QDef(
    "q_dedup_norm",
    (s, d) => t(s, d, "documents")
      .withColumn("fp", md5(trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
      .select("keep_id", "copies"),
    Some("""
      SELECT MIN(doc_id) AS keep_id, COUNT(*) AS copies
      FROM (SELECT doc_id,
              md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp
            FROM documents)
      GROUP BY fp"""))

  // ---------------------------------------------------------------- MinHash

  private[graft] val H = 16 // minhash functions
  private[graft] val BANDS = 4 // 4 bands x 4 rows

  /** doc_id, s — one row per 3-word shingle.
    *
    * Shape note: explode the INDEX sequence (codegen'd `Sequence`), then
    * build each shingle with row-level `concat_ws`/`element_at` — all
    * inside whole-stage codegen. The earlier `transform(sequence(...),
    * i -> concat_ws(...))` idiom ran an interpreted lambda per shingle and
    * allocated the whole shingle array per document before exploding it.
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("w"),
        explode(expr("sequence(1, size(w) - 2)")).as("i"))
      .select(col("doc_id"), expr(
        "concat_ws(' ', element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))").as("s"))

  // fanOut: the corpus-wide shingle+digest stream behind the memoized
  // signature index is compute-bound per row; single-row-group fixture
  // scans otherwise serialize its one-time build on one core (r11).
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(graft.Tables.fanOut(t(s, d, "documents")))

  private val shinglesSqlDuck = """
      ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
      ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM ws),
      sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM ix)"""

  /** doc_id, mh0..mh15 — one row per doc.
    *
    * Two scale decisions: (1) ONE md5 per shingle, then a universal-hash
    * family h_j(v) = ((2j+1)·v + b_j) mod p (p = 2^31−1) derives the 16
    * permutations with integer math — 16× less digesting on the exploded
    * shingle stream; all arithmetic stays < 2^36, exact in any engine.
    * (2) signatures are BIGINTs: min(long) keeps the 16-way aggregation
    * in HashAggregateExec's fast path — min(string) buffers are
    * var-width and fall back to SortAggregate (a per-partition sort of
    * the full shingle stream, the wrong plan at 100 TB).
    */
  private[graft] val P = 2147483647L // 2^31 - 1
  private[graft] def bj(j: Int): Long = j * 12345L + 7

  private[graft] def minhashOf(s: SparkSession, sh: DataFrame): DataFrame = {
    graft.Tables.ensureFunctions(s)
    // md5_long = digest-direct value of the first 15 md5 hex digits (the
    // native expression; same value as conv(substring(md5(s),1,15),16,10)
    // without materializing and re-parsing the hex string per shingle).
    val base = sh.select(col("doc_id"), expr(
      s"md5_long(s) % $P").as("vm"))
    val aggs = (0 until H).map(j =>
      min(expr(s"((${2 * j + 1} * vm + ${bj(j)}) % $P)")).as(s"mh$j"))
    base.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  private def minhash(s: SparkSession, d: String): DataFrame =
    minhashOf(s, shingles(s, d))

  private val minhashSqlDuck = {
    val mins = (0 until H)
      .map(j => s"min((${2 * j + 1} * vm + ${bj(j)}) % $P) AS mh$j")
      .mkString(", ")
    s"""shv AS (SELECT doc_id,
           CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % $P AS vm FROM sh),
       mh AS (SELECT doc_id, $mins FROM shv GROUP BY doc_id)"""
  }

  /** doc_id, band, bucket. */
  private[graft] def bandsOf(mh: DataFrame): DataFrame = {
    val entries = (0 until BANDS).map { b =>
      val cols = (0 until H / BANDS).map(k => s"mh${b * (H / BANDS) + k}").mkString(", ")
      s"$b, md5(concat_ws('|', $cols))"
    }.mkString(", ")
    mh.selectExpr("doc_id", s"stack($BANDS, $entries) AS (band, bucket)")
  }

  private def bands(s: SparkSession, d: String): DataFrame =
    bandsOf(minhash(s, d))

  private val bandsSqlDuck = {
    val parts = (0 until BANDS).map { b =>
      val cat = (0 until H / BANDS)
        .map(k => s"CAST(mh${b * (H / BANDS) + k} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bucket FROM mh"
    }.mkString(" UNION ALL ")
    s"bands AS ($parts)"
  }

  /** Plan-visibility seam (r11): the near-dup queries snap
    * their tiny intermediates (candidate pairs, candidate shingle sets)
    * so downstream references stop replaying the lineage — which also
    * removes those subtrees from the FINAL executed plan the
    * plan-contract specs inspect. The PRE-checkpoint frame is recorded
    * per (session, tag) in [[graft.SessionCache]] (last-call-wins, read
    * back through [[lastParts]]; `SessionCache.clear` releases it) so the
    * contracts (cache-served band index, semi-join-bounded verify) stay
    * pinned on the subtree that actually executes.
    */
  private val PartsKind = "dedup-part"
  private def snapPart(tag: String, df: DataFrame): DataFrame = {
    graft.SessionCache.record(df.sparkSession, PartsKind, tag, df)
    InternalSnap.snap(df)
  }

  /** This session's recorded pre-checkpoint frames, by tag. */
  private[graft] def lastParts(spark: SparkSession): Map[String, DataFrame] =
    graft.SessionCache.recorded(spark, PartsKind)

  private def candidatePairs(s: SparkSession, d: String): DataFrame = {
    // Self-join input: persist so the shingle->minhash->band pipeline runs
    // once, not once per join side. At cluster scale this is the standard
    // "materialize the signature table" step of an LSH pipeline (it is
    // ~H longs per doc — tiny next to the corpus). Session-memoized so the
    // minhash and jaccard queries share ONE persisted copy instead of each
    // stacking a fresh lineage (the r2 cache leak); release with
    // [[graft.SessionCache.clear]].
    val bd = graft.SessionCache.memo(s, s"dedup-bands:$d")(bands(s, d).persist())
    val x = bd.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
    val y = bd.select(col("doc_id").as("b_id"), col("band").as("band2"), col("bucket").as("bucket2"))
    x.join(y, x("band") === y("band2") && x("bucket") === y("bucket2") && x("a_id") < y("b_id"))
      .select("a_id", "b_id").distinct()
  }

  private val candSqlDuck = """
      cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
               FROM bands a JOIN bands b
                 ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

  val qDedupMinhash = QDef(
    "q_dedup_minhash",
    (s, d) => candidatePairs(s, d),
    Some(s"""
      WITH $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck, $candSqlDuck
      SELECT a_id, b_id FROM cand"""),
    bench = true)

  /** Exact 3-gram Jaccard over the LSH candidates (verify step of the
    * near-dup pipeline): |A∩B| / |A∪B| on distinct-shingle sets.
    */
  val qDedupJaccard = QDef(
    "q_dedup_jaccard",
    (s, d) => {
      // Candidate pruning BEFORE the corpus-side shingle explode (the
      // qDedupFuzzyDecontam / qDedupIncremental pattern, guide §3.2):
      // every downstream consumer — the per-doc shingle sizes and both
      // intersection legs — only ever inner-joins against the LSH
      // candidate ids, so the shingle set is computed for candidate docs
      // ONLY instead of three corpus-wide explode+distinct passes.
      // `cand` is localCheckpointed: it is a few-hundred-row table whose
      // lineage (band-index self-join + distinct) was otherwise replayed
      // once per reference (candidate ids ×2, intersection probe) — the
      // "materialise an intermediate to truncate the plan" move; results
      // are unchanged (r11, plan diff in plans/r11/q_dedup_jaccard_*).
      val cand = snapPart("jac-cand", candidatePairs(s, d))
      val candDocs = cand.select(col("a_id").as("doc_id"))
        .union(cand.select(col("b_id"))).distinct()
      val sd = shinglesOf(
        t(s, d, "documents").join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      ).distinct()
      // r12 (VERDICT r11 #6): single-pass pair intersection. ONE aggregate
      // builds the per-doc shingle SET (one row per candidate doc — the
      // Admission shape) carrying its size; the pair verify is then two
      // plain joins + `array_intersect` per pair, replacing the exploded
      // double shingle join + per-pair count aggregate + two size joins
      // (4 joins + 2 aggregates → 2 joins + 1 aggregate). Equivalence:
      // `sd` is distinct per (doc_id, s), so size(collect_list) = the old
      // per-doc count and size(array_intersect) = the old matched-shingle
      // count; pairs with an empty intersection now survive to the filter
      // with jac = 0 (< 0.5), dropped exactly as before. jac stays the
      // same long/long double division.
      // The checkpoint moved from the exploded shingle frame to the
      // one-row-per-doc SET store: `sets` has two consumers (both join
      // sides), so materializing it runs the semi-join + explode +
      // distinct + collect ONCE; the old sd-checkpoint re-aggregated per
      // side. The "jac-sdist" tag keeps pinning the semi-join-bounded
      // pre-checkpoint subtree.
      val sets = snapPart("jac-sdist", sd.groupBy("doc_id")
        .agg(collect_list(col("s")).as("sh"), count(lit(1)).as("nsh")))
      val sa = sets.select(col("doc_id").as("a_id"),
        col("sh").as("sha"), col("nsh").as("na"))
      val sb = sets.select(col("doc_id").as("b_id"),
        col("sh").as("shb"), col("nsh").as("nb"))
      cand
        .join(sa, Seq("a_id"))
        .join(sb, Seq("b_id"))
        .withColumn("inter",
          size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .select(col("a_id"), col("b_id"),
          (col("inter") / (col("na") + col("nb") - col("inter"))).as("jac"))
        .filter(col("jac") >= 0.5)
    },
    Some(s"""
      WITH $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck, $candSqlDuck,
      sdist AS (SELECT DISTINCT doc_id, s FROM sh),
      sz AS (SELECT doc_id, COUNT(*) AS nsh FROM sdist GROUP BY doc_id),
      inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
                FROM cand c
                JOIN sdist sa ON sa.doc_id = c.a_id
                JOIN sdist sb ON sb.doc_id = c.b_id AND sb.s = sa.s
                GROUP BY c.a_id, c.b_id)
      SELECT i.a_id, i.b_id,
             i.inter / (za.nsh + zb.nsh - i.inter) AS jac
      FROM inter i JOIN sz za ON za.doc_id = i.a_id
                   JOIN sz zb ON zb.doc_id = i.b_id
      WHERE i.inter / (za.nsh + zb.nsh - i.inter) >= 0.5"""))

  // ---------------------------------------------------------------- SimHash

  /** 16-bit SimHash over the word stream: bit i of each word's md5 votes
    * ±1; the sign vector re-packs into an integer. Both dialects read the
    * same hex digit of the same md5, so values are engine-equal; the Spark
    * side derives it from the native 60-bit `md5_long` with integer
    * shifts (no hex-string materialization per word — the r2 hot loop),
    * while DuckDB keeps the portable hex-char arithmetic.
    */
  private def simhashSql(dialect: String): String = {
    // h = value of md5's first 15 hex digits (spark: BIGINT via md5_long;
    // duck: the hex string) — computed ONCE per word, then each bit is
    // cheap digit arithmetic, not 16 digests per word.
    def hexVal(i: Int): String = {
      val idx = i / 4 + 1
      dialect match {
        // hex digit #idx (1-based, MSB first) of the 60-bit value
        case "spark" => s"((h div ${1L << (4 * (15 - idx))}L) % 16)"
        case _       => s"(strpos('0123456789abcdef', substring(h, $idx, 1)) - 1)"
      }
    }
    def bit(i: Int): String = {
      val div = dialect match { case "spark" => "div"; case _ => "//" }
      s"((${hexVal(i)} $div ${1 << (i % 4)}) % 2)"
    }
    val sums = (0 until H).map(i => s"SUM(2 * ${bit(i)} - 1) AS s$i").mkString(", ")
    val pack = (0 until H).map(i => s"(CASE WHEN s$i >= 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")
    val wordsRel = dialect match {
      case "spark" => "SELECT doc_id, explode(split(text, ' ')) AS w FROM documents"
      case _       => "SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents"
    }
    val hExpr = dialect match {
      case "spark" => "md5_long(w)"
      case _       => "md5(w)"
    }
    s"""
      SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM (
        SELECT doc_id, $sums FROM (SELECT doc_id, $hExpr AS h FROM ($wordsRel)) GROUP BY doc_id)"""
  }

  val qDedupSimhash = QDef(
    "q_dedup_simhash",
    sqlQ(simhashSql("spark")),
    Some(simhashSql("duck")),
    bench = true)

  /** Duplicate CLUSTERING: the verified near-dup pairs (q_dedup_jaccard)
    * collapsed into connected components — each doc labeled with the min
    * doc_id of its cluster (the canonical keeper). Spark side is the
    * min-label propagation of [[graft.operators.Components]], the Pregel
    * program q_graph_cc also runs (`graft.Explain` prints its `[pregel
    * cc]` rounds); Spark 4's recursive CTE only supports UNION ALL, which
    * cannot terminate on cyclic reachability. The oracle IS the recursive
    * transitive closure, which DuckDB's UNION-dedup recursion can run.
    */
  val qDedupCluster = QDef(
    "q_dedup_cluster",
    (s, d) => graft.operators.Components
      .labelPropagate(qDedupJaccard.fn(s, d), "a_id", "b_id")
      .select(col("id").as("doc_id"), col("label").as("rep")),
    Some(s"""
      WITH RECURSIVE $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck, $candSqlDuck,
      sdist AS (SELECT DISTINCT doc_id, s FROM sh),
      sz AS (SELECT doc_id, COUNT(*) AS nsh FROM sdist GROUP BY doc_id),
      inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
                FROM cand c
                JOIN sdist sa ON sa.doc_id = c.a_id
                JOIN sdist sb ON sb.doc_id = c.b_id AND sb.s = sa.s
                GROUP BY c.a_id, c.b_id),
      jac AS (SELECT i.a_id, i.b_id
              FROM inter i JOIN sz za ON za.doc_id = i.a_id
                           JOIN sz zb ON zb.doc_id = i.b_id
              WHERE i.inter / (za.nsh + zb.nsh - i.inter) >= 0.5),
      e AS (SELECT a_id AS a, b_id AS b FROM jac
            UNION SELECT b_id AS a, a_id AS b FROM jac),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
      SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
      FROM reach GROUP BY a"""))

  /** The star-contraction variant of [[qDedupCluster]] against the SAME
    * recursive-closure oracle: alternating large-star/small-star
    * ([[graft.operators.Components]] `star = true`) resolves chain-shaped
    * dup graphs in O(log n) rounds where min-label needs diameter rounds
    * — declaring both keeps the two algorithms oracle-equal forever, not
    * just property-equal on generated graphs.
    */
  val qDedupClusterStar = QDef(
    "q_dedup_cluster_star",
    (s, d) => graft.operators.Components
      .labelPropagate(qDedupJaccard.fn(s, d), "a_id", "b_id",
        star = true)
      .select(col("id").as("doc_id"), col("label").as("rep")),
    qDedupCluster.oracle)

  /** Canonical-document selection — the decision step AFTER clustering:
    * per duplicate cluster, keep the longest member (ties → smallest
    * doc_id) and report cluster size. This is what a curation pipeline
    * actually writes out ("drop the cluster, keep this one"), composed
    * from the oracle-checked cluster labels + one window pass per
    * cluster. Scale: one shuffle on the cluster rep; the window
    * partitions are dup-cluster-sized (near-cliques — a handful of
    * rows), so no partition can be large by construction.
    */
  val qDedupCanonical = QDef(
    "q_dedup_canonical",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cl = qDedupCluster.fn(s, d) // (doc_id, rep)
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("rep")
      cl.join(docs, "doc_id")
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_members", count(lit(1)).over(w).cast("long"))
        .where(col("rn") === 1)
        .select(col("rep"), col("doc_id").as("canonical_id"),
          col("n_chars").as("canon_chars"), col("n_members"))
    },
    qDedupCluster.oracle.map(sql => s"""
      WITH clusters AS ($sql),
      ranked AS (
        SELECT c.rep, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.rep ORDER BY d.n_chars DESC, c.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY c.rep) AS n_members
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id)
      SELECT rep, doc_id AS canonical_id, n_chars AS canon_chars,
             CAST(n_members AS BIGINT) AS n_members
      FROM ranked WHERE rn = 1"""))

  // ------------------------------------------------- exact substring dedup

  /** Exact duplicate-substring detection at word-k-gram granularity — the
    * suffix-array dedup of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") re-expressed relationally: a k-gram
    * that occurs ≥2 times anywhere in the corpus (cross- OR within-doc,
    * per the paper) marks every position it covers as duplicated.
    *
    * Scale (100 TB): the exploded stream shuffles (gh, doc_id) — a 60-bit
    * hash per position, never the gram text; the duplicate-hash table is
    * HAVING-filtered to actual duplicates (rare by construction), so the
    * LEFT SEMI probe's build side stays small/broadcastable; per-doc
    * totals derive from stored n_words, no second pass over text. A true
    * suffix array finds duplicates of ANY length ≥ k; fixed-k positional
    * grams find exactly the same byte positions for any duplicate of
    * length ≥ k (every window inside it repeats too) — the standard
    * MapReduce-able approximation.
    */
  private val K = 8 // words per gram

  private def substrDialect(dialect: String): (String, String, String) = dialect match {
    // (positions relation, gram-hash expr over `g`, word-count expr)
    case "spark" => (
      s"""SELECT doc_id, i, concat_ws(' ', slice(w, i, $K)) AS g
          FROM (SELECT doc_id, w, explode(sequence(1, size(w) - ${K - 1})) AS i
                FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
                WHERE size(w) >= $K)""",
      "md5_long(g)",
      "size(split(text, ' '))")
    case _ => (
      s"""SELECT doc_id, i, array_to_string(w[i:i + ${K - 1}], ' ') AS g
          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${K - 1})) AS i
                FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
                WHERE len(w) >= $K)""",
      "CAST('0x' || substring(md5(g), 1, 15) AS BIGINT)",
      "len(string_split(text, ' '))")
  }

  /** `pos` + `flagged` (positions covered by a corpus-duplicated gram).
    *
    * The Spark branch is the shuffle-ONCE window form: one corpus
    * explode, one gh-keyed exchange, `COUNT(*) OVER (PARTITION BY gh)`
    * (the q_text_dsir idiom). The two-pass aggregate + IN-semi-join form
    * it replaces was the one real re-plan the ×100 run surfaced: with
    * CTEs not materialized, it exploded the corpus TWICE, and once the
    * HAVING-filtered duplicate-hash table outgrew the broadcast
    * threshold the probe fell to a sort-merge join that re-sorted the
    * full positional stream — 33 GB of spill and 129.5 s at ×100
    * (BASELINE.md). The window form needs no duplicate-table broadcast
    * at ANY scale. DuckDB keeps the aggregate + semi-join form its
    * shared-memory optimizer prefers (5.1 s at ×100).
    */
  private def flaggedCtes(dialect: String): String = {
    val (posRel, ghExpr, _) = substrDialect(dialect)
    val base = s"pos AS (SELECT doc_id, i, $ghExpr AS gh FROM ($posRel))"
    dialect match {
      case "spark" =>
        s"""$base,
        flagged AS (SELECT doc_id, i FROM
                      (SELECT doc_id, i, COUNT(*) OVER (PARTITION BY gh) AS c
                       FROM pos)
                    WHERE c >= 2)"""
      case _ =>
        s"""$base,
        heavy AS (SELECT gh FROM pos GROUP BY gh HAVING COUNT(*) >= 2),
        flagged AS (SELECT doc_id, i FROM pos WHERE gh IN (SELECT gh FROM heavy))"""
    }
  }

  private def substrSql(dialect: String): String = {
    val (_, _, nWords) = substrDialect(dialect)
    s"""
      WITH ${flaggedCtes(dialect)},
      dup AS (SELECT doc_id, COUNT(*) AS dup_grams FROM flagged GROUP BY doc_id),
      tot AS (SELECT doc_id, $nWords - ${K - 1} AS n_grams FROM documents
              WHERE $nWords >= $K)
      SELECT t.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
             CAST(COALESCE(d.dup_grams, 0) AS BIGINT) AS dup_grams,
             CAST(COALESCE(d.dup_grams, 0) AS DOUBLE) / t.n_grams AS dup_ratio
      FROM tot t LEFT JOIN dup d ON d.doc_id = t.doc_id"""
  }

  val qDedupSubstr = QDef(
    "q_dedup_substr",
    sqlQ(substrSql("spark")),
    Some(substrSql("duck")),
    bench = true)

  /** Maximal duplicated SPANS — the positions [[qDedupSubstr]] flags,
    * merged per document into contiguous islands (gaps-and-islands:
    * `i - row_number()` is constant within a run), reported as
    * (start word, span length in words) for spans covering ≥ 2·K words.
    * This is the pipeline's actionable output: "cut these byte ranges",
    * not just a ratio. The island window partitions per doc and the
    * flagged stream is duplicate positions only — both bounded well
    * below corpus size.
    */
  private def substrSpanSql(dialect: String): String = {
    s"""
      WITH ${flaggedCtes(dialect)},
      runs AS (SELECT doc_id, i,
                 i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
               FROM flagged),
      spans AS (SELECT doc_id, MIN(i) AS span_start, COUNT(*) + ${K - 1} AS span_words
                FROM runs GROUP BY doc_id, island)
      SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
             CAST(span_words AS BIGINT) AS span_words
      FROM spans WHERE span_words >= ${2 * K}"""
  }

  val qDedupSubstrSpans = QDef(
    "q_dedup_substr_spans",
    sqlQ(substrSpanSql("spark")),
    Some(substrSpanSql("duck")))

  /** Span CUTTING — the step after detection: remove every word covered
    * by a qualifying duplicated span (≥ 2·K words) and rebuild the
    * remaining text in order. This is the aggressive all-occurrences
    * variant (a fully duplicated doc rebuilds to ''); production keeps
    * one canonical occurrence per duplicate cluster — that decision is
    * [[qDedupCanonical]]'s, composed upstream. Scale: the cover set
    * (positions under qualifying spans) is duplicate-bounded, the
    * NOT-EXISTS probe is a (doc, pos)-keyed anti join, and the ordered
    * rebuild groups per doc — shuffle key doc_id, state bounded by doc
    * length (same contract as q_text_deduplines).
    */
  /** Shared CTE chain ending in `cut` = (doc_id, n_kept, n_removed,
    * clean_text) — the cut-and-rebuild core of [[qDedupCutSpans]], also
    * the first stage of the curation flagship [[qDedupCuratePipeline]].
    */
  private def cutCtes(dialect: String): String = {
    val (wordsRel, coverRel, agg) = dialect match {
      case "spark" => (
        """SELECT doc_id, pos + 1 AS pos, word
           FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents)
           LATERAL VIEW posexplode(ws) t AS pos, word""",
        "SELECT DISTINCT doc_id, explode(sequence(s, s + w - 1)) AS p FROM spans",
        "LISTAGG(CASE WHEN keep THEN word END, ' ') WITHIN GROUP (ORDER BY pos)")
      case _ => (
        """SELECT doc_id, CAST(g AS INT) AS pos, ws[CAST(g AS INT)] AS word
           FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
                UNNEST(range(1, len(ws) + 1)) AS t(g)""",
        """SELECT DISTINCT doc_id, CAST(u AS INT) AS p
           FROM spans, UNNEST(generate_series(s, s + w - 1)) AS c(u)""",
        "STRING_AGG(CASE WHEN keep THEN word END, ' ' ORDER BY pos)")
    }
    s"""${flaggedCtes(dialect)},
      runs AS (SELECT doc_id, i,
                 i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
               FROM flagged),
      spans AS (SELECT doc_id, MIN(i) AS s, COUNT(*) + ${K - 1} AS w
                FROM runs GROUP BY doc_id, island
                HAVING COUNT(*) + ${K - 1} >= ${2 * K}),
      cover AS ($coverRel),
      words AS ($wordsRel),
      marked AS (SELECT w.doc_id, w.pos, w.word,
                   NOT EXISTS (SELECT 1 FROM cover c
                               WHERE c.doc_id = w.doc_id AND c.p = w.pos) AS keep
                 FROM words w),
      cut AS (SELECT doc_id,
                CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
                COALESCE($agg, '') AS clean_text
              FROM marked GROUP BY doc_id)"""
  }

  private def cutSpansSql(dialect: String): String =
    s"WITH ${cutCtes(dialect)} SELECT doc_id, n_kept, n_removed, clean_text FROM cut"

  val qDedupCutSpans = QDef(
    "q_dedup_cutspans",
    sqlQ(cutSpansSql("spark")),
    Some(cutSpansSql("duck")))

  /** Curation flagship: the full substring-dedup DECISION pipeline in ONE
    * plan — cut duplicated spans → drop docs left under 10 words →
    * fingerprint-dedup the REBUILT texts (min doc_id keeps) → assign
    * deterministic 16-way training shards → per-shard counts. Proves the
    * new ops compose with the dedup/shard stages exactly like
    * q_pipeline_clean proves the quality stack. Scale: each stage's own
    * contract applies unchanged (duplicate-bounded cover set, doc-keyed
    * rebuild, digest-grain dedup shuffle, md5 sharding); nothing widens.
    */
  private def curateSql(dialect: String): String = {
    val str = dialect match { case "spark" => "STRING"; case _ => "VARCHAR" }
    s"""
      WITH ${cutCtes(dialect)},
      kept AS (SELECT doc_id, n_kept, clean_text FROM cut WHERE n_kept >= 10),
      canon AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY md5(clean_text)),
      final AS (SELECT k.doc_id, k.n_kept,
                  substring(md5(CAST(k.doc_id AS $str)), 1, 1) AS shard
                FROM kept k JOIN canon c ON c.doc_id = k.doc_id)
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_kept) AS BIGINT) AS n_words
      FROM final GROUP BY shard"""
  }

  val qDedupCuratePipeline = QDef(
    "q_pipeline_curate",
    sqlQ(curateSql("spark")),
    Some(curateSql("duck")))

  /** FUZZY benchmark decontamination — q_text_decontam's exact-5-gram
    * check misses a leaked eval item that was lightly edited; this is the
    * near-dup version every serious pretraining pipeline also runs: push
    * the EVAL SET through the same shingle→MinHash→band chain as the
    * corpus, band-join against the corpus's memoized signature table,
    * and Jaccard-verify the candidates (≥ 0.5). The eval set here is a
    * deterministic leak simulation — five corpus documents with their
    * first word dropped (so exact matching would NOT fire on the changed
    * prefix, while the shingle set differs by one element).
    *
    * Scale: the eval side is tiny (benchmarks are), so its whole chain is
    * a broadcast; the corpus side reuses the SAME persisted signature
    * table as q_dedup_minhash/jaccard (one build per session); the
    * Jaccard verify re-shingles ONLY the band-join candidates (the
    * candidate doc-id set is broadcast-semi-joined against `documents`
    * BEFORE the shingle explode), so the corpus is never self-joined and
    * never fully re-shingled for this query.
    */
  private val evalPerturbSpark =
    "concat_ws(' ', slice(split(text, ' '), 2, size(split(text, ' ')) - 1))"
  private val evalLshDuck: String = {
    val mins = (0 until H)
      .map(j => s"min((${2 * j + 1} * vm + ${bj(j)}) % $P) AS mh$j").mkString(", ")
    val parts = (0 until BANDS).map { b =>
      val cat = (0 until H / BANDS)
        .map(k => s"CAST(mh${b * (H / BANDS) + k} AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($cat) AS bucket FROM e_mh"
    }.mkString(" UNION ALL ")
    s"""evaldocs AS (SELECT doc_id,
             array_to_string(list_slice(string_split(text, ' '), 2, len(string_split(text, ' '))), ' ') AS text
           FROM documents WHERE doc_id < 5),
       e_ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM evaldocs
                WHERE len(string_split(text, ' ')) >= 3),
       e_ix AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM e_ws),
       e_sh AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM e_ix),
       e_shv AS (SELECT doc_id, CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % $P AS vm FROM e_sh),
       e_mh AS (SELECT doc_id, $mins FROM e_shv GROUP BY doc_id),
       e_bands AS ($parts)"""
  }

  val qDedupFuzzyDecontam = QDef(
    "q_dedup_fuzzy_decontam",
    (s, d) => {
      val eval = t(s, d, "documents").where(col("doc_id") < 5)
        .select(col("doc_id"), expr(evalPerturbSpark).as("text"))
      val esh = shinglesOf(eval)
      val ebands = bandsOf(minhashOf(s, esh))
        .select(col("doc_id").as("eval_id"),
          col("band").as("e_band"), col("bucket").as("e_bucket"))
      val corpusBands =
        graft.SessionCache.memo(s, s"dedup-bands:$d")(bands(s, d).persist())
      val cand = corpusBands.join(broadcast(ebands),
          col("band") === col("e_band") && col("bucket") === col("e_bucket"))
        .select(col("eval_id"), col("doc_id")).distinct()
      // Candidate pruning BEFORE the corpus-side shingle explode: the
      // shingle counts (sz) and shingle sets (sb) below only ever feed
      // inner joins against `cand`, so restricting `documents` to the
      // candidate doc_ids first (tiny set -> broadcast semi join under
      // the Generate) makes the verify stage O(candidates), not a second
      // full corpus pass.
      val candDocs = cand.select(col("doc_id")).distinct()
      val sdist = shinglesOf(
        t(s, d, "documents").join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      ).distinct()
      val edist = esh.distinct()
      // r12 single-pass verify (the q_dedup_jaccard form): per-doc
      // shingle-set stores on both sides (each now read ONCE — no
      // checkpoint needed), pair check via array_intersect. The tiny
      // eval-side store stays a broadcast.
      val esets = edist.groupBy("doc_id")
        .agg(collect_list(col("s")).as("esh"), count(lit(1)).as("ensh"))
        .select(col("doc_id").as("ea_id"), col("esh"), col("ensh"))
      val ssets = sdist.groupBy("doc_id")
        .agg(collect_list(col("s")).as("ssh"), count(lit(1)).as("nsh"))
        .select(col("doc_id").as("sb_id"), col("ssh"), col("nsh"))
      cand
        .join(broadcast(esets), col("eval_id") === col("ea_id"))
        .join(ssets, col("doc_id") === col("sb_id"))
        .withColumn("inter",
          size(array_intersect(col("esh"), col("ssh"))).cast("long"))
        .select(col("eval_id"), col("doc_id"),
          (col("inter") / (col("ensh") + col("nsh") - col("inter"))).as("jac"))
        .filter(col("jac") >= 0.5)
    },
    Some(s"""
      WITH $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck,
      $evalLshDuck,
      fcand AS (SELECT DISTINCT e.doc_id AS eval_id, c.doc_id AS doc_id
                FROM e_bands e JOIN bands c
                  ON c.band = e.band AND c.bucket = e.bucket),
      sdist AS (SELECT DISTINCT doc_id, s FROM sh),
      edist AS (SELECT DISTINCT doc_id, s FROM e_sh),
      sz AS (SELECT doc_id, COUNT(*) AS nsh FROM sdist GROUP BY doc_id),
      ez AS (SELECT doc_id, COUNT(*) AS ensh FROM edist GROUP BY doc_id),
      inter AS (SELECT cd.eval_id, cd.doc_id, COUNT(*) AS inter
                FROM fcand cd
                JOIN edist ea ON ea.doc_id = cd.eval_id
                JOIN sdist sb ON sb.doc_id = cd.doc_id AND sb.s = ea.s
                GROUP BY cd.eval_id, cd.doc_id)
      SELECT i.eval_id, i.doc_id,
             i.inter / (ez.ensh + sz.nsh - i.inter) AS jac
      FROM inter i JOIN ez ON ez.doc_id = i.eval_id
                   JOIN sz ON sz.doc_id = i.doc_id
      WHERE i.inter / (ez.ensh + sz.nsh - i.inter) >= 0.5"""))

  /** Incremental-ingestion near-dup admission — the shape a 100 TB corpus
    * actually runs day to day: nobody re-deduplicates the whole corpus per
    * increment. The newest ~10% of documents (doc_id above the 0.9·max
    * threshold) arrive as a BATCH; each batch doc is admitted only if no
    * OLDER document (corpus or earlier within the same batch — one uniform
    * `old_id < new_id` ordering covers both) is a verified near-duplicate.
    *
    * Scale decisions: (1) signatures come from the session-memoized band
    * index (`dedup-bands:$d`) — computed once at ingest and ACCUMULATED,
    * never re-shingled per increment; (2) the probe is batch-bands ⋈
    * index-bands on (band, bucket), so candidate generation is
    * O(batch · bands), independent of corpus size; (3) the Jaccard verify
    * explodes shingles only for candidate doc_ids (the q_dedup_fuzzy_decontam
    * pattern) — O(candidates), not a corpus pass. Output is the admission
    * decision for every batch doc: verified-duplicate partner count and a
    * keep flag.
    */
  val qDedupIncremental = QDef(
    "q_dedup_incremental",
    (s, d) => {
      val bd = graft.SessionCache.memo(s, s"dedup-bands:$d")(bands(s, d).persist())
      // Threshold = one 1-row bounds probe (the memoized-max-id / JDBC
      // bounds precedent) — no magic constant that breaks at another SF.
      // A head() read, not a broadcast crossJoin: the aggregate subtree
      // was referenced three times (index, probe, final batch scan) and
      // each broadcast replayed the documents scan as its own job (r11).
      // Null-guarded (VERDICT r11 #7): max() over an EMPTY documents table
      // returns a null row and getLong NPE'd at DataFrame-construction
      // time. An empty corpus admits an empty batch — Long.MinValue keeps
      // every downstream `doc_id > thr` predicate vacuously matching the
      // oracle's `> NULL` (no rows on an empty table either way).
      val thrRow = t(s, d, "documents")
        .agg(floor(max(col("doc_id")) * 0.9).cast("long").as("thr"))
        .head()
      val thrV = if (thrRow.isNullAt(0)) Long.MinValue else thrRow.getLong(0)
      val idx = bd
        .select(col("doc_id").as("old_id"), col("band"), col("bucket"))
      val probe = bd.where(col("doc_id") > thrV)
        .select(col("doc_id").as("new_id"),
          col("band").as("band2"), col("bucket").as("bucket2"))
      // localCheckpoint: `cand` is a tiny pair table whose band-index
      // self-join lineage was otherwise replayed once per reference
      // (candidate ids ×2, intersection probe ×1) — plan truncation, not
      // result caching (computed fresh per invocation; r11).
      val cand = snapPart("inc-cand", idx.join(probe,
          col("band") === col("band2") && col("bucket") === col("bucket2") &&
            col("old_id") < col("new_id"))
        .select("old_id", "new_id").distinct())
      // Verify bounded to candidates: restrict documents to candidate ids
      // BEFORE the shingle explode (broadcast semi-join under Generate).
      val candDocs = cand.select(col("old_id").as("doc_id"))
        .union(cand.select(col("new_id").as("doc_id"))).distinct()
      val sdist = shinglesOf(
        t(s, d, "documents").join(broadcast(candDocs), Seq("doc_id"), "left_semi")
      ).distinct()
      // r12 single-pass verify (the q_dedup_jaccard form): ONE aggregate
      // builds the per-doc shingle-set store (checkpointed — both join
      // legs read it), and the pair check is array_intersect per
      // candidate pair. Replaces the exploded shingle-equality join +
      // per-pair count + two size joins; pairs with an empty intersection
      // now reach the >= 0.5 filter with jac = 0 and drop exactly as
      // before.
      val sets = snapPart("inc-sdist", sdist.groupBy("doc_id")
        .agg(collect_list(col("s")).as("sh"), count(lit(1)).as("nsh")))
      val sa = sets.select(col("doc_id").as("sa_id"),
        col("sh").as("sha"), col("nsh").as("na"))
      val sb = sets.select(col("doc_id").as("sb_id"),
        col("sh").as("shb"), col("nsh").as("nb"))
      val verified = cand
        .join(sa, col("old_id") === col("sa_id"))
        .join(sb, col("new_id") === col("sb_id"))
        .withColumn("inter",
          size(array_intersect(col("sha"), col("shb"))).cast("long"))
        .where(col("inter") / (col("na") + col("nb") - col("inter")) >= 0.5)
        .groupBy("new_id").agg(count(lit(1)).as("vd"))
      t(s, d, "documents")
        .where(col("doc_id") > thrV)
        .join(verified, col("doc_id") === col("new_id"), "left")
        .select(col("doc_id"), coalesce(col("vd"), lit(0L)).as("n_dups"),
          col("vd").isNull.as("keep"))
    },
    Some(s"""
      WITH $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck,
      thr AS (SELECT CAST(FLOOR(0.9 * MAX(doc_id)) AS BIGINT) AS t FROM documents),
      icand AS (SELECT DISTINCT o.doc_id AS old_id, n.doc_id AS new_id
                FROM bands o JOIN bands n
                  ON o.band = n.band AND o.bucket = n.bucket
                 AND o.doc_id < n.doc_id
                WHERE n.doc_id > (SELECT t FROM thr)),
      sdist AS (SELECT DISTINCT doc_id, s FROM sh),
      sz AS (SELECT doc_id, COUNT(*) AS nsh FROM sdist GROUP BY doc_id),
      iinter AS (SELECT c.old_id, c.new_id, COUNT(*) AS inter
                 FROM icand c
                 JOIN sdist sa ON sa.doc_id = c.old_id
                 JOIN sdist sb ON sb.doc_id = c.new_id AND sb.s = sa.s
                 GROUP BY c.old_id, c.new_id),
      iver AS (SELECT i.new_id, COUNT(*) AS vd
               FROM iinter i JOIN sz za ON za.doc_id = i.old_id
                             JOIN sz zb ON zb.doc_id = i.new_id
               WHERE i.inter / (za.nsh + zb.nsh - i.inter) >= 0.5
               GROUP BY i.new_id)
      SELECT d.doc_id, COALESCE(v.vd, 0) AS n_dups, v.vd IS NULL AS keep
      FROM documents d LEFT JOIN iver v ON v.new_id = d.doc_id
      WHERE d.doc_id > (SELECT t FROM thr)"""),
    bench = true)

  /** Leakage-safe train/val/test split — the eval-integrity twin of
    * decontamination: assigning SPLITS to near-dup CLUSTERS (not to
    * documents) guarantees no near-duplicate pair ever straddles
    * train/eval, which per-doc hashing silently violates for every dup
    * pair it splits. The cluster label comes from the oracle-checked
    * star-contraction clustering; the split is a pure deterministic
    * function of the cluster id (first md5 hex char: < 'c' train 12/16,
    * < 'e' val 2/16, else test — a plain string compare both engines
    * evaluate identically), so the assignment is stable under retries,
    * cluster sizes, and engine. Scale: clustering is the O(log n)
    * star-contraction already priced; the split itself is a projection.
    */
  val qStatLeakageSplit = QDef(
    "q_stat_leakage_split",
    (s, d) => {
      val rep = graft.operators.Components
        .labelPropagate(qDedupJaccard.fn(s, d), "a_id", "b_id", star = true)
        .select(col("id").as("rid"), col("label").as("rep"))
      t(s, d, "documents").select("doc_id")
        .join(rep, col("doc_id") === col("rid"), "left")
        .select(col("doc_id"),
          coalesce(col("rep"), col("doc_id")).as("cluster"))
        .selectExpr("doc_id", "cluster",
          """CASE WHEN substring(md5(CAST(cluster AS STRING)), 1, 1) < 'c' THEN 'train'
                  WHEN substring(md5(CAST(cluster AS STRING)), 1, 1) < 'e' THEN 'val'
                  ELSE 'test' END AS split""")
    },
    Some(s"""
      WITH RECURSIVE $shinglesSqlDuck, $minhashSqlDuck, $bandsSqlDuck, $candSqlDuck,
      sdist AS (SELECT DISTINCT doc_id, s FROM sh),
      sz AS (SELECT doc_id, COUNT(*) AS nsh FROM sdist GROUP BY doc_id),
      inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS inter
                FROM cand c
                JOIN sdist sa ON sa.doc_id = c.a_id
                JOIN sdist sb ON sb.doc_id = c.b_id AND sb.s = sa.s
                GROUP BY c.a_id, c.b_id),
      jac AS (SELECT i.a_id, i.b_id
              FROM inter i JOIN sz za ON za.doc_id = i.a_id
                           JOIN sz zb ON zb.doc_id = i.b_id
              WHERE i.inter / (za.nsh + zb.nsh - i.inter) >= 0.5),
      e AS (SELECT a_id AS a, b_id AS b FROM jac
            UNION SELECT b_id AS a, a_id AS b FROM jac),
      reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      rep AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS rep
              FROM reach GROUP BY a),
      labeled AS (
        SELECT d.doc_id, COALESCE(r.rep, d.doc_id) AS cluster
        FROM documents d LEFT JOIN rep r ON r.doc_id = d.doc_id)
      SELECT doc_id, cluster,
             CASE WHEN substring(md5(CAST(cluster AS STRING)), 1, 1) < 'c' THEN 'train'
                  WHEN substring(md5(CAST(cluster AS STRING)), 1, 1) < 'e' THEN 'val'
                  ELSE 'test' END AS split
      FROM labeled"""))

  val defs: Seq[QDef] = Seq(
    qDedupExact, qDedupNorm, qDedupMinhash, qDedupJaccard, qDedupSimhash,
    qDedupCluster, qDedupClusterStar, qDedupCanonical,
    qDedupSubstr, qDedupSubstrSpans, qDedupCutSpans, qDedupCuratePipeline,
    qDedupFuzzyDecontam, qDedupIncremental, qStatLeakageSplit)
}

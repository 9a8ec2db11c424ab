package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QDef, QModule}
import graft.operators.Pregel

/** General message-passing graph computation, declared through the
  * [[graft.operators.Pregel]] surface — the engine-side expression of the
  * reference's GraphX capability class (`graphx/.../Pregel.scala:92`),
  * previously covered only by the connected-components special case
  * ([[graft.operators.Components]]).
  *
  * Both queries run a REAL vertex program (superstep loop, message
  * aggregation, observed convergence) against an oracle computed a
  * completely different way — a window running-sum for SSSP, DuckDB's
  * recursive transitive closure for components — so the Pregel machinery
  * itself (triplet join orientation, message nulls, halting) is what the
  * hash-compare proves.
  */
object Graph extends QModule {

  /** Mirrored exact-cents fragment ([[graft.Exact]] units pattern): same
    * double expression tree on engine and oracle → bit-identical BIGINT.
    */
  private val CentsSql = "CAST(FLOOR(o_totalprice * 1e2 + 0.5) AS BIGINT)"
  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * lit(1e2) + lit(0.5)).cast("long")

  /** Single-source shortest paths over each customer's order chain
    * (orders linked in (o_orderdate, o_orderkey) succession; edge weight
    * = the destination order's total price in exact cents; source = the
    * customer's first order). On a chain, the shortest-path distance IS
    * the running sum minus the head's weight — so the window form is an
    * exact, independently-computed oracle for the message-passing run.
    *
    * Scale: rounds = max chain length (join-degree-preserving at any
    * corpus scale — ~24 orders/customer at sf0.1 and at ×10, so ~25
    * supersteps); each superstep shuffles edges (one row per order) and
    * one message per frontier vertex, never the cross product. The
    * frontier is tracked IN STATE (`improved` = "my dist dropped last
    * round") and sends gate on `src.improved` alone, so the superstep
    * joins only the SOURCE state table — the GraphX `TripletFields.Src`
    * shape, one state join (and one broadcast/shuffle) per superstep
    * instead of two. Message volume still decays with the frontier; the
    * run halts one round after the last improvement (the round that
    * delivers zero messages), same as the dst-gated form ±1 round.
    *
    * Long diameters (r11): the program is a monotone min-relaxation, so
    * it hop-batches ([[graft.operators.Pregel.setHopBatch]]), and the
    * batch size is DATA-DRIVEN: the diameter of this graph is the max
    * chain length, which one map-side-combinable aggregate prices
    * before the loop (the memoized-max-id / bounds-probe precedent), so
    * k = ⌈maxChain/30⌉ (capped at 64 to bound per-superstep plan size)
    * targets ~30 supersteps at ANY corpus scale without touching
    * maxIter: sf0.1 (~24-hop chains) keeps k=1 and its per-hop price,
    * the ×10 replica-chain fixture (~240-hop diameter, the r10 refusal
    * case) converges in ~31 supersteps, and ×100 (~2400 hops) in ~39 —
    * past chain length 64·60 the run refuses loudly again (raise
    * maxIter), never returns partial distances.
    */
  val qGraphSssp = QDef(
    "q_graph_sssp",
    (s, d) => {
      val o = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("w"))
      val seq = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      // ONE window pass, localCheckpointed (r11): vertices, edges AND the
      // diameter probe all derive from the same succession window, which
      // previously ran once per consumer (vertices snap, edges snap, probe
      // scan — three corpus passes). The checkpoint is O(|orders|) narrow
      // rows; the probe becomes a max() over its blocks (max rn per
      // customer IS the chain length), not a separate scan+aggregate job.
      val chain = o.select(
        col("o_orderkey"), col("o_custkey"), col("w"),
        row_number().over(seq).as("rn"),
        lead(col("o_orderkey"), 1).over(seq).as("nk"),
        lead(col("w"), 1).over(seq).as("nw"))
        .localCheckpoint()
      // diameter probe: 1-row read over the checkpointed chain
      val maxChain = chain.agg(max("rn")).head().getInt(0).toLong
      // Hop sizing (r12): a floor of 4 engages when the graph's blocks
      // are SMALL — fused layers (Pregel.setLayerFuse, no per-layer
      // snap) then trade cheap block re-reads for saved per-round floors
      // (sf0.1: 24 supersteps → 7; fuse-knee measured k=3 4.25 s, k=4
      // 4.10 s, k=6 7.1 s — 2^k plan growth; unfused 5.4 s). The floor
      // is gated on the EXACT checkpointed chain bytes with the same
      // threshold Pregel's own fuse gate uses, because at big state the
      // re-reads invert the trade (×10, 184 MB blocks: fused 133 s vs
      // per-layer 100 s — measured both ways); big graphs keep the r11
      // ⌈d/30⌉ sizing (×10 ≈ 240 → k=8, ~31 supersteps, per-layer
      // snapped). Raising the floor is the MONOTONE-relaxation opt-in
      // (extra post-fixpoint layers are no-ops for least/min folds);
      // Pregel cannot auto-raise it for arbitrary programs.
      val chainBytes =
        org.apache.spark.sql.graft.InternalSnap.snappedStorageBytes(chain)
      val fuseMax = s.conf
        .get("spark.graft.pregel.fuseMaxBytes", (48L << 20).toString).toLong
      val floor = if (chainBytes > 0 && chainBytes <= fuseMax) 4L else 1L
      val hop = math.min(64L,
        math.max(math.min(floor, math.max(1L, maxChain)), (maxChain + 29) / 30)).toInt
      val vertices = chain.select(
        col("o_orderkey").as("id"), (col("rn") === 1).as("is_root"))
      val edges = chain.select(
        col("o_orderkey").as("src"), col("nk").as("dst"), col("nw").as("w"))
        .where(col("dst").isNotNull)
      Pregel(vertices, edges)
        // "improved" updates FIRST so it compares the message against the
        // PREVIOUS dist; "dist" then folds the message in.
        .withVertexColumn("improved", col("is_root"),
          Pregel.msg.isNotNull &&
            (col("dist").isNull || Pregel.msg < col("dist")))
        .withVertexColumn("dist",
          when(col("is_root"), lit(0L)).otherwise(lit(null).cast("long")),
          least(col("dist"), Pregel.msg))
        .sendMsgToDst(
          when(Pregel.src("improved"), Pregel.src("dist") + Pregel.edge("w")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(60)
        .setHopBatch(hop)
        .setTag("sssp")
        .run()
        .select(col("id").as("o_orderkey"), col("dist").as("dist_cents"))
    },
    Some(s"""
      SELECT o_orderkey,
             CAST(SUM($CentsSql) OVER w - FIRST_VALUE($CentsSql) OVER w
                  AS BIGINT) AS dist_cents
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),
    bench = true)

  /** Connected components as a general vertex program: min-id flooding
    * over the verified near-dup pairs (the same graph and the same
    * recursive-closure oracle as q_dedup_cluster) — pinning the Pregel
    * surface oracle-equal to the two special-cased algorithms in
    * [[graft.operators.Components]] forever, not just property-equal on
    * generated graphs.
    *
    * The undirected flood SYMMETRIZES the edge list once up front and
    * gates sends on `src.improved` ("my label dropped last round";
    * everyone announces in round 1) — like [[qGraphSssp]] this reads only
    * source state, so triplet-field pruning drops the dst-state join the
    * earlier two-directional (`sendMsgToSrc` + `src.cc < dst.cc`) form
    * forced every superstep.
    */
  val qGraphCc = QDef(
    "q_graph_cc",
    (s, d) => {
      // localCheckpoint: the verified-pairs frame is tiny (LSH-verified
      // near-dup pairs) but its lineage is the whole minhash→band→verify
      // pipeline, which the four references below (vertices union ×2,
      // edges union ×2) would otherwise replay (r11).
      val pairs = Dedup.qDedupJaccard.fn(s, d).select("a_id", "b_id")
        .localCheckpoint()
      val vertices = pairs.select(col("a_id").as("id"))
        .union(pairs.select(col("b_id"))).distinct()
      val edges = pairs.select(col("a_id").as("src"), col("b_id").as("dst"))
        .union(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      Pregel(vertices, edges)
        .withVertexColumn("improved", lit(true),
          Pregel.msg.isNotNull && Pregel.msg < col("cc"))
        .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
        .sendMsgToDst(when(Pregel.src("improved"), Pregel.src("cc")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(30)
        .setTag("cc")
        .run()
        .select(col("id").as("doc_id"), col("cc").as("rep"))
    },
    Dedup.qDedupCluster.oracle,
    bench = true)

  /** Damped PageRank-style rank over the order-succession graph, run for
    * a FIXED number of supersteps — the `setRequireConverged(false)` mode
    * ([[qGraphSssp]]/[[qGraphCc]] pin the converging mode): messages
    * flow every round (unconditional send), so only the iteration cap
    * ends the run, exactly the PageRank shape where rank keeps moving.
    *
    * Exactness: damping d = 17/20 and rank scaled by 20^k per superstep
    * keeps ALL arithmetic in BIGINT — the state carries `p20 = 20^k`
    * (init 1, ×20 per round, updated after `a` so `a`'s fold sees the
    * previous power) and folds `a ← 3·20^k + 17·Σ a(in-neighbors)`, so
    * `a = rank · 20^K` exactly, no floating point anywhere. On the
    * out-degree-1 succession chains the recurrence telescopes to the
    * closed form `a_K(v_p) = 20^K − (p ≤ K ? 17^p · 20^(K−p) : 0)` with
    * p the 1-based chain position — the oracle is that window
    * expression, an entirely different computation path (no iteration at
    * all), so the hash-compare proves the superstep loop ran EXACTLY K
    * rounds with correctly-oriented sum-aggregated messages.
    *
    * Scale: identical per-superstep shape to [[qGraphSssp]] (edges ≈ one
    * row per order, one message per non-tail vertex), but message volume
    * stays CONSTANT across rounds instead of decaying with a frontier —
    * the honest cost model of fixed-iteration algorithms, and why K is a
    * parameter a 100 TB run budgets explicitly.
    */
  private val PrIter = 8

  val qGraphRank = QDef(
    "q_graph_rank",
    (s, d) => {
      val seq = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      // ONE window pass, localCheckpointed — vertices and edges both
      // derive from it (the qGraphSssp pattern, r11).
      val chain = t(s, d, "orders")
        .select(col("o_orderkey"),
          lead(col("o_orderkey"), 1).over(seq).as("nk"))
        .localCheckpoint()
      val chainBytes =
        org.apache.spark.sql.graft.InternalSnap.snappedStorageBytes(chain)
      val fuseMax = s.conf
        .get("spark.graft.pregel.fuseMaxBytes", (48L << 20).toString).toLong
      val rankHop = if (chainBytes > 0 && chainBytes <= fuseMax) 4 else 1
      val vertices = chain.select(col("o_orderkey").as("id"))
      val edges = chain.select(
        col("o_orderkey").as("src"), col("nk").as("dst"))
        .where(col("dst").isNotNull)
      Pregel(vertices, edges)
        .withVertexColumn("a", lit(1L),
          lit(3L) * col("p20") + lit(17L) * coalesce(Pregel.msg, lit(0L)))
        .withVertexColumn("p20", lit(1L), col("p20") * lit(20L))
        .sendMsgToDst(Pregel.src("a"))
        .aggMsgs(sum(Pregel.msg))
        // r12: the same PrIter layers, batched hop-per-superstep and
        // FUSED (no per-layer snap — Pregel.setLayerFuse): a
        // fixed-iteration program is exact under hop batching when
        // supersteps × hopBatch = the declared iteration count (8 layers
        // either way; the oracle's closed form is per-LAYER). The batch
        // engages only in the small-block regime (the qGraphSssp gate —
        // at big state fused re-reads cost more than the saved floors),
        // so big graphs keep 8 driver rounds, small ones pay 2.
        .setMaxIter(PrIter / rankHop)
        .setHopBatch(rankHop)
        .setRequireConverged(false)
        .setTag("rank")
        .run()
        .select(col("id").as("o_orderkey"), col("a").as("rank_scaled"))
    },
    Some(s"""
      SELECT o_orderkey,
             CAST(${BigInt(20).pow(PrIter)} -
                  CASE WHEN p <= $PrIter
                       THEN CAST(ROUND(POWER(17, p) * POWER(20, $PrIter - p))
                                 AS BIGINT)
                       ELSE 0 END AS BIGINT) AS rank_scaled
      FROM (SELECT o_orderkey,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS p
            FROM orders)"""),
    bench = true)

  /** Per-vertex triangle counts over the co-purchase graph (parts joined
    * by appearing in the same order) — the GraphX `TriangleCount`
    * capability (reference `graphx/.../lib/TriangleCount.scala`), which is
    * NOT message passing: it is a neighborhood-intersection join, so the
    * engine expresses it relationally rather than through [[Pregel]].
    *
    * Plan (degree orientation, Suri & Vassilvitskii WWW'11): orient every
    * undirected edge from its lower-(degree, id) endpoint to the higher —
    * each triangle becomes exactly ONE directed path u→v→w plus its
    * closing edge u→w, so triangles = path ⋈ edge on the composite (u,w).
    * Orientation bounds out-degree by O(√m), so the wedge intermediate is
    * ≤ m^1.5 regardless of skew — the "curse of the last reducer" fix: a
    * hub vertex of degree D contributes D²/4 wedges unoriented but only
    * its out-wedges oriented, and all three legs stay equi-joins (vertex
    * key, then the composite key), never a nested loop.
    *
    * The oracle closes each triangle by PART-KEY order (a<b<c canonical
    * triple join) — no degrees anywhere — so the hash-compare proves the
    * orientation trick conserves the triangle set, not just that two
    * copies of one plan agree.
    */
  /** The wedge-close probe over an ORIENTED (degree-ordered, deduplicated)
    * edge list `(u, v)`: wedges x→y→z stream through two hash joins and
    * the closing edge (x, z) probes either the packed single-BIGINT key
    * (ids < 2³¹ — primitive LongHashedRelation probes, ~3× faster) or the
    * composite (x, z) key (any id range — same plan shape, UnsafeRow
    * keys). Exposed so the spec can pin packed ≡ composite and drive the
    * composite path with ≥ 2³¹ ids the fixtures never produce.
    */
  private[graft] def triangleProbe(or: DataFrame,
      hint: DataFrame => DataFrame, packed: Boolean): DataFrame = {
    val e1 = or.select(col("u").as("x"), col("v").as("y"))
    val e2 = or.select(col("u").as("y2"), col("v").as("z"))
    val wedges = e1.join(hint(e2), col("y") === col("y2"))
    val closed =
      if (packed) {
        val e3 = or.select(
          shiftleft(col("u"), 32).bitwiseOR(col("v")).as("uv"))
        wedges.join(hint(e3),
          shiftleft(col("x"), 32).bitwiseOR(col("z")) === col("uv"))
      } else {
        val e3 = or.select(col("u").as("u3"), col("v").as("v3"))
        wedges.join(hint(e3), col("x") === col("u3") && col("z") === col("v3"))
      }
    closed
      .select(explode(array(col("x"), col("y"), col("z"))).as("l_partkey"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("tri_cnt"))
  }

  val qGraphTriangles = QDef(
    "q_graph_triangles",
    (s, d) => {
      // The oriented edge list is the triangle INDEX — O(m) rows of two
      // BIGINTs, built once per (session, dir) and persisted (the Dedup
      // signature-table pattern): without it the three self-join legs
      // would each replay the lineitem self-join + distinct.
      val or = graft.SessionCache.memo(s, s"tri-oriented:$d") {
        // fanOut: single-row-group fixture scans otherwise feed the
        // one-time self-join build from one task (r11).
        val li = graft.Tables.fanOut(t(s, d, "lineitem"))
          .select(col("l_orderkey"), col("l_partkey"))
        val co = li.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pk2"))
        // SHUFFLE_HASH, not sort-merge: the self-join's output feeds a
        // hash distinct, so the sort order SMJ buys is pure waste — and
        // its cost at scale is not just CPU: the ×30 growth fixture
        // OOM'd an 8 g driver in the SMJ merge phase (every spill file
        // holds a read-ahead buffer; two 540 M-row sorted sides × 32
        // tasks of spill readers exhausted the heap). The hash build
        // side is one partition of lineitem's (orderkey, partkey) pairs
        // — bounded by partitioning, no sort, no spill-merge fan-in.
        val und = li.hint("shuffle_hash")
          .join(co, col("l_orderkey") === col("ok2") && col("l_partkey") < col("pk2"))
          .select(col("l_partkey").as("a"), col("pk2").as("b")).distinct()
          .persist()
        val sym = und.select(col("a").as("u"), col("b").as("v"))
          .union(und.select(col("b").as("u"), col("a").as("v")))
        // One row per VERTEX. NOT hint-broadcast: "vertices are tiny" is
        // a fixture truth, not a scale truth (the ×30 growth fixture has
        // 6 M vertices ≈ 0.5 GB hashed ×2 legs; a real corpus has
        // billions). AQE sees the runtime size and broadcasts exactly
        // when it actually fits — sf0.1's 60 k-row degree table still
        // plans broadcast, measured identical.
        val deg = sym.groupBy("u").agg(count(lit(1)).as("dg"))
        val oriented = sym
          .join(deg.select(col("u").as("du_id"), col("dg").as("du")),
            col("u") === col("du_id"))
          .join(deg.select(col("u").as("dv_id"), col("dg").as("dv")),
            col("v") === col("dv_id"))
          .where(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")))
          .select("u", "v").persist()
        oriented.count() // materialize before releasing the edge scratch
        und.unpersist()
        oriented
      }
      // Probe legs BROADCAST the index: the oriented edge list is O(m)
      // rows of two BIGINTs (~16 B/edge — 1.2 M edges ≈ 19 MB at sf0.1),
      // far smaller than the wedge intermediate (Σ in·out ≈ 49 M rows
      // here), so the scale-correct shape is to stream e1 through two
      // broadcast hash tables in ONE codegen pipeline: wedges are never
      // materialized, sorted, or shuffled. Without the hints Spark picks
      // SMJ off the cached-size stat and shuffles all 49 M wedges on the
      // composite key (measured 14 s steady vs ~1.6 s broadcast, sf0.1).
      // The closing edge set is keyed by the PACKED pair u·2³²|v (part
      // keys are < 2³¹): a single-BIGINT equi-join builds a
      // LongHashedRelation, whose primitive probes are ~3× faster than
      // the UnsafeRow composite-key relation (measured 5.5 s → 1.6 s for
      // the same 49 M probes).
      //
      // The hint is SIZE-GATED on edge COUNT, not bytes: what the gate
      // must bound is the HASHED relation's heap (~48 B/edge — key,
      // UnsafeRow, open-addressing slack — and BOTH legs build one),
      // while the cache stat is columnar-COMPRESSED bytes (~8 B/edge),
      // a 6× optimistic proxy. Measured, not hypothesized: a 36 M-edge
      // index (×30 graph-growth fixture) passed the original 256 MB byte
      // gate and OOM'd an 8 g driver building ~2 GB per leg; a 12 M-edge
      // index (×10-shifted) broadcasts fine (16.5 s / 490 M wedge
      // probes). The gate sits at 16 M edges — measured-good regime in,
      // measured-fatal regime out; rowCount is EXACT and free (the
      // materialized InMemoryRelation carries it after the build-time
      // count(), a driver-side read — no job). Past the gate the same
      // equi-joins run shuffled on (vertex, then packed-pair) keys —
      // never a nested loop — which is the posture a 100 TB corpus'
      // edge list needs anyway.
      val stats = or.queryExecution.optimizedPlan.stats
      val hint: DataFrame => DataFrame =
        if (stats.rowCount.map(_ <= BigInt(16L << 20))
              .getOrElse(stats.sizeInBytes <= (128L << 20)))
          broadcast _
        else identity
      // Packed-key legality is CHECKED, not assumed: shiftleft(u,32)|v is
      // only injective while every id fits 31 bits (u ≥ 2³¹ sign-extends
      // the shift; v ≥ 2³² bleeds into u's bits) — and growth fixtures
      // shift part keys without bound. The max id is memoized alongside
      // the index (one cheap agg over the cached edges, a 1-row read
      // thereafter); an out-of-range graph falls back to the composite
      // (x, z) join key — same plan shape, UnsafeRow keys instead of the
      // primitive LongHashedRelation — rather than returning wrong counts.
      val maxId = graft.SessionCache.memo(s, s"tri-idmax:$d") {
        or.agg(coalesce(max(greatest(col("u"), col("v"))), lit(0L)).as("mx"))
          .persist()
      }.head().getLong(0)
      triangleProbe(or, hint, packed = maxId < (1L << 31))
    },
    Some("""
      WITH e AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
                 FROM lineitem l1 JOIN lineitem l2
                   ON l1.l_orderkey = l2.l_orderkey
                  AND l1.l_partkey < l2.l_partkey),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM e e1
              JOIN e e2 ON e2.a = e1.b
              JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      SELECT v AS l_partkey, CAST(COUNT(*) AS BIGINT) AS tri_cnt
      FROM (SELECT x AS v FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri)
      GROUP BY v"""),
    bench = true)

  // ------------------------------------------- functional-graph cyclic core

  /** The part↔supplier argmin pointer graph: every part points at the
    * supplier of its cheapest lineitem row, every supplier at the part of
    * its cheapest row (ties broken by the unique (orderkey, linenumber) —
    * fully deterministic). Out-degree exactly 1 ⇒ each weak component is
    * ρ-shaped: ONE directed cycle with trees hanging off it. Shared
    * Spark∩DuckDB text.
    */
  private[graft] val cycleGraphSql = """
    WITH ps AS (SELECT l_partkey p, l_suppkey s, l_extendedprice pr,
                       l_orderkey ok, l_linenumber ln FROM lineitem),
    p2s AS (SELECT p, s FROM (SELECT p, s,
              ROW_NUMBER() OVER (PARTITION BY p ORDER BY pr, ok, ln) rn FROM ps) t
            WHERE rn = 1),
    s2p AS (SELECT s, p FROM (SELECT s, p,
              ROW_NUMBER() OVER (PARTITION BY s ORDER BY pr, ok, ln) rn FROM ps) t
            WHERE rn = 1)
    SELECT p AS v, 10000000 + s AS succ FROM p2s
    UNION ALL SELECT 10000000 + s AS v, p AS succ FROM s2p"""

  /** Cyclic-core decomposition of a functional (out-degree-1) graph by
    * POINTER DOUBLING — the ρ-shape primitive (cycle detection in
    * canonical-pointer chains, successor structures, pseudorandom-walk
    * analysis). After K ≥ ⌈log₂ n⌉ doublings, `ptr(v) = succ^(2^K)(v)`
    * lands ON v's component cycle for EVERY v (any walk of length ≥ n
    * is inside the cycle), so:
    *   - the cycle-vertex set is exactly the image of `ptr` (nothing
    *     points 2^K steps ahead at a tree vertex — tree depth < n);
    *   - carrying `mn = min(id over the walk)` through the doubling
    *     gives, at any cycle vertex, exactly its cycle's min id (the
    *     walk covers the cycle and never leaves it) — the component
    *     label every vertex reads by ONE final join through `ptr`.
    *
    * Scale (100 TB): K = ⌈log₂ n⌉+1 rounds, each ONE n-row self-join
    * (the probe side re-hashes on the moving pointer; the build side is
    * the checkpointed table) — O(n log n) total work, O(log n) shuffles,
    * vs Θ(cycle length) rounds for naive walking (the same doubling-vs-
    * propagation trade as [[graft.operators.Components.starContract]]).
    * Each round snaps through [[graft.operators.Iterate]] so stats can't
    * square across the self-join and lineage stays flat. The DuckDB
    * oracle runs the same doubling at FIXED K=24 (2^24 ≥ any fixture;
    * outputs are K-invariant above the threshold) via MATERIALIZED CTEs;
    * the ScalaTest spec re-derives everything with an independent
    * plain-Scala pointer walker.
    */
  val qGraphCycle = QDef(
    "q_graph_cycle",
    (s, d) => {
      val ptr = graft.SessionCache.memo(s, s"cycle-ptr:$d") {
        graft.Tables.register(s, d)
        val f0 = s.sql(cycleGraphSql)
        val n = f0.count() // exact round count: one tiny job, once per (session, dir)
        val k = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1)) + 1
        var cur = graft.operators.Iterate.snap(
          f0.select(col("v"), col("succ").as("p"),
            least(col("v"), col("succ")).as("mn")), reliable = false)
        val trail = scala.collection.mutable.ArrayBuffer[DataFrame](cur)
        for (_ <- 1 to k.toInt) {
          val b = cur.select(col("v").as("v2"), col("p").as("p2"), col("mn").as("mn2"))
          cur = graft.operators.Iterate.snap(
            cur.join(b, col("p") === col("v2"))
              .select(col("v"), col("p2").as("p"),
                least(col("mn"), col("mn2")).as("mn")), reliable = false)
          trail += cur
        }
        trail.dropRight(1).foreach(_.unpersist())
        cur
      }
      val core = ptr.select(col("v").as("v2"), col("mn").as("mn2"))
      val cyc = ptr.select(col("p").as("cv")).distinct()
      ptr.join(core, col("p") === col("v2"))
        .join(cyc, col("v") === col("cv"), "left")
        .select(col("v").as("id"), col("mn2").as("core"),
          col("cv").isNotNull.as("on_cycle"))
    },
    Some {
      val k = 24
      val levels = (1 to k).map(i =>
        s"d$i AS MATERIALIZED (SELECT a.v, b.p, LEAST(a.mn, b.mn) AS mn " +
          s"FROM d${i - 1} a JOIN d${i - 1} b ON a.p = b.v)").mkString(",\n")
      s"""
      WITH f AS MATERIALIZED ($cycleGraphSql),
      d0 AS MATERIALIZED (SELECT v, succ AS p, LEAST(v, succ) AS mn FROM f),
      $levels
      SELECT a.v AS id, b.mn AS core, a.v IN (SELECT p FROM d$k) AS on_cycle
      FROM d$k a JOIN d$k b ON a.p = b.v"""
    },
    bench = true)

  // --------------------------------------------------- k-core decomposition

  /** The repeat-co-purchase graph: parts co-purchased in >= 2 DISTINCT
    * orders (the single-co-occurrence edges that make the raw
    * co-purchase graph a min-degree-42 quasi-clique are noise for
    * cohesion mining). Shared Spark∩DuckDB text; symmetric.
    */
  private[graft] val kcoreEdgesSql = """
    WITH e0 AS (
      SELECT l1.l_partkey AS a, l2.l_partkey AS b
      FROM lineitem l1 JOIN lineitem l2
        ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
      GROUP BY l1.l_partkey, l2.l_partkey
      HAVING COUNT(DISTINCT l1.l_orderkey) >= 2)
    SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b AS u, a AS v FROM e0"""

  /** 3-core of the repeat-co-purchase graph via [[graft.operators.KCore]]
    * iterative peeling — at sf0.01 the peel cascades 11 rounds to a
    * 935-vertex core (a real fixpoint iteration, not a single filter).
    * Output: every core vertex with its within-core degree. The DuckDB
    * oracle peels the same graph as K=20 MATERIALIZED CTE levels —
    * peeling is idempotent past convergence, so the output is
    * K-invariant above the peel depth and the hash gate pins that the
    * loop CONVERGED to the same fixpoint (the q_graph_cycle oracle
    * pattern); the ScalaTest spec peels constructed and randomized
    * graphs with an independent plain-Scala peeler.
    */
  val qGraphKcore = QDef(
    "q_graph_kcore",
    (s, d) => {
      val edges = graft.SessionCache.memo(s, s"kcore-edges:$d") {
        // VIEW-FREE (the Apss.posView pattern, commit 25fc1e5): a
        // persisted plan that references the `lineitem` TEMP VIEW is
        // uncached the moment another sf-dir run re-registers the view,
        // silently rebuilding the co-purchase self-join per query.
        // Structural load keeps the memo alive across multi-dir
        // sessions. Mirrors [[kcoreEdgesSql]] (still the oracle text).
        //
        // r11 build-shape fixes (one-time cost, but it was 44-66 s at
        // sf0.1): fanOut parallelizes the single-row-group scan feeding
        // both join sides; SHUFFLE_HASH skips the useless sort (the
        // qGraphTriangles argument — the output feeds an aggregate);
        // and e0 is localCheckpointed BEFORE symmetrization — the
        // unpersisted union evaluated the whole join+distinct-count
        // subtree once PER LEG (measured as two concurrent 44 s
        // single-task stages under AQE's advisory-size coalescing).
        // distinct-then-count, NOT countDistinct: the single-distinct
        // aggregate's planner rewrite measured 38.9 s under AQE where the
        // explicit (a, b, ok).distinct() → count form runs 3.9 s on the
        // same input (OPTIMIZATION_r11.md) — same result, map-side-combinable
        // dedup, no distinct-aggregate machinery.
        val li = graft.Tables.fanOut(graft.Tables.load(s, d, "lineitem"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("a"))
        val e0 = li.hint("shuffle_hash")
          .join(li.select(col("ok").as("ok2"), col("a").as("b")),
            col("ok") === col("ok2") && col("a") < col("b"))
          .select("a", "b", "ok").distinct()
          .groupBy("a", "b").agg(count(lit(1)).as("nord"))
          .where(col("nord") >= 2)
          .select("a", "b")
          .localCheckpoint()
        e0.select(col("a").as("u"), col("b").as("v"))
          .unionAll(e0.select(col("b").as("u"), col("a").as("v")))
          .persist()
      }
      graft.operators.KCore.run(edges, k = 3)
    },
    Some {
      val k = 20
      val levels = (1 to k).map(i =>
        s"a$i AS MATERIALIZED (SELECT u AS v FROM e " +
          s"WHERE u IN (SELECT v FROM a${i - 1}) AND v IN (SELECT v FROM a${i - 1}) " +
          "GROUP BY u HAVING COUNT(*) >= 3)").mkString(",\n")
      // the K-level peel is a fixpoint ONLY if the fixture converges
      // within K (depth 11 at sf0.01); `chk` fails the oracle LOUDLY on a
      // deeper fixture instead of emitting a non-converged level and
      // misattributing the hash mismatch to the engine (whose loop peels
      // to observed convergence, up to maxIter 60)
      s"""
      WITH e AS MATERIALIZED ($kcoreEdgesSql),
      a0 AS MATERIALIZED (SELECT DISTINCT u AS v FROM e),
      $levels,
      chk AS (SELECT CASE WHEN (SELECT COUNT(*) FROM a$k) =
                               (SELECT COUNT(*) FROM a${k - 1}) THEN 1
                          ELSE error('kcore oracle: peel did not converge in $k levels')
                     END AS ok)
      SELECT u AS id, CAST(COUNT(*) AS BIGINT) AS core_deg
      FROM e, chk
      WHERE chk.ok = 1
        AND u IN (SELECT v FROM a$k) AND v IN (SELECT v FROM a$k)
      GROUP BY u"""
    },
    bench = true)

  val defs: Seq[QDef] = Seq(qGraphSssp, qGraphCc, qGraphRank, qGraphTriangles,
    qGraphCycle, qGraphKcore)
}

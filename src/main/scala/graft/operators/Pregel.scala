package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

/** A general Pregel-style vertex-program surface over DataFrames — the
  * bulk-synchronous message-passing model of the reference's GraphX
  * (`graphx/src/main/scala/org/apache/spark/graphx/Pregel.scala:92`)
  * re-expressed relationally, in the builder shape popularized by the
  * public GraphFrames `Pregel` API: per superstep, every edge triplet
  * (src-state, edge, dst-state) may emit messages toward either endpoint
  * as Column expressions, messages aggregate per target vertex, and each
  * vertex-state column folds the (possibly null) aggregated message into
  * its next value.
  *
  * Spark-first design (SURVEY §4.3a): the driver loop runs over
  * SUPERSTEPS, never rows — each superstep is one declarative plan
  * (join edges⋈state twice → project messages → partial→final
  * min/sum aggregate → left join back), fully codegen'd, so Catalyst
  * owns join strategy and AQE owns skew. Convergence is observed, not
  * polled: the count of vertices that received a message rides out of
  * the materializing checkpoint action as a `Dataset.observe` metric,
  * so no extra job runs per round. Halting matches GraphX: a superstep
  * that delivers ZERO messages ends the run; a vertex with no incoming
  * message keeps its state (update expressions see `Pregel.msg` as null
  * — `least`/`when` fold it away). Every snap but the returned state —
  * state generations, layer snaps, the edge snap — is freed as soon as
  * nothing reads it.
  *
  * Scale (100 TB): per superstep the edge table shuffles twice (hash on
  * src, then dst) and messages once (hash on target id) — all three are
  * map-side-combinable or join-key partitionings Catalyst plans as
  * ordinary equi-joins; state is one row per vertex, never per edge.
  * Checkpointing truncates the growing lineage each round; every snap
  * goes through `InternalSnap`, so setting `sparkContext.setCheckpointDir`
  * switches all of them, hop-batch layers included, from executor-local
  * blocks to the reliable variant a 1000-executor cluster needs to
  * survive executor loss.
  *
  * Long diameters: a Θ(diameter) program (SSSP, flooding) needs
  * `maxIter × hopBatch ≥ diameter` — the run fails LOUDLY on
  * non-convergence rather than returning partial distances. For monotone
  * relaxations, [[setHopBatch]] composes k relaxation layers per
  * superstep (one checkpoint + driver round-trip per k hops), cutting
  * rounds to ⌈diameter/k⌉; where a pointer-doubling formulation exists,
  * prefer it outright — [[Components.starContract]] is the shipped
  * O(log n)-round alternative for connected components, and the
  * functional-graph cyclic core doubles pointers in O(log n) rounds.
  *
  * Hot-vertex skew (power-law graphs): a vertex with huge IN-degree is
  * absorbed by the message fold — Spark's partial aggregation bounds its
  * per-reducer fan-in at the map-task count for the constant-state
  * aggregates the model uses (a 2 M-spoke star holds the hub to 0.7% of
  * max task time — BASELINE.md r10). A vertex with huge OUT-degree
  * concentrates its edge rows in one partition of the src-keyed layout,
  * so one task computes that vertex's triplets; for undirected
  * algorithms, symmetrizing edges and reading src-state only (the
  * [[Components.labelPropagate]] program) halves the exposure,
  * and GraphX-style 2D edge partitioning (state replicated √P ways) is
  * the known trade if a single out-hub ever dominates — deliberately not
  * paid by default because it re-ships state every round for every graph.
  *
  * @param vertices  one row per vertex; must carry `id` (any equatable
  *                  type); all columns are visible to message expressions
  *                  via `Pregel.src(...)` / `Pregel.dst(...)`
  * @param edges     one row per directed edge; must carry `src` and
  *                  `dst` ids; extra columns (weights…) are visible via
  *                  `Pregel.edge(...)`
  */
final class Pregel private (
    vertices: DataFrame,
    edges: DataFrame,
    stateCols: Seq[(String, Column, Column)],
    msgsToDst: Seq[Column],
    msgsToSrc: Seq[Column],
    aggExpr: Option[Column],
    maxIterations: Int,
    requireConverged: Boolean,
    tag: Option[String],
    hopBatch: Int,
    layerFuse: Int) {

  private def copy(
      stateCols: Seq[(String, Column, Column)] = stateCols,
      msgsToDst: Seq[Column] = msgsToDst,
      msgsToSrc: Seq[Column] = msgsToSrc,
      aggExpr: Option[Column] = aggExpr,
      maxIterations: Int = maxIterations,
      requireConverged: Boolean = requireConverged,
      tag: Option[String] = tag,
      hopBatch: Int = hopBatch,
      layerFuse: Int = layerFuse): Pregel =
    new Pregel(vertices, edges, stateCols, msgsToDst, msgsToSrc, aggExpr,
      maxIterations, requireConverged, tag, hopBatch, layerFuse)

  /** Add a state column: `init` is evaluated once over the vertex row;
    * `update` is evaluated each superstep over the vertex row (current
    * state) plus `Pregel.msg` (null if no message arrived). Multiple
    * state columns update left-to-right within a superstep (later
    * updates see earlier columns' NEW values — document-ordered, like
    * sequential `withColumn`).
    */
  def withVertexColumn(name: String, init: Column, update: Column): Pregel =
    copy(stateCols = stateCols :+ ((name, init, update)))

  /** Emit a message toward the edge's dst; a null value means "no
    * message on this edge" (the GraphX sendMsg-iterator contract).
    */
  def sendMsgToDst(msg: Column): Pregel = copy(msgsToDst = msgsToDst :+ msg)

  /** Emit a message toward the edge's src (for undirected algorithms). */
  def sendMsgToSrc(msg: Column): Pregel = copy(msgsToSrc = msgsToSrc :+ msg)

  /** Aggregate expression over [[Pregel.msg]] combining all messages that
    * target one vertex (GraphX `mergeMsg`) — e.g. `min(Pregel.msg)`.
    */
  def aggMsgs(agg: Column): Pregel = copy(aggExpr = Some(agg))

  def setMaxIter(n: Int): Pregel = copy(maxIterations = n)

  /** `false` runs exactly `maxIter` supersteps without the loud
    * non-convergence failure — for fixed-iteration algorithms
    * (PageRank-style) where messages never cease.
    */
  def setRequireConverged(b: Boolean): Pregel = copy(requireConverged = b)

  /** Record this run's per-superstep (delivered messages, seconds) and
    * its round-2 plan under `name`, in the vertices' session (read back
    * through [[Pregel.lastRuns]] / [[Pregel.lastPlans]]; released by
    * `SessionCache.clear`) — wall-clock regressions in iterative
    * operators hide INSIDE the driver loop, so the bench surfaces the
    * per-round breakdown, not just the total.
    */
  def setTag(name: String): Pregel = copy(tag = Some(name))

  /** Long-diameter relaxation: with `k > 1` each SUPERSTEP composes `k`
    * relaxation layers (triplet join → message fold → state update) into
    * ONE declarative plan before the checkpoint + convergence
    * observation, so a Θ(diameter) program pays `⌈diameter/k⌉` driver
    * round-trips / checkpoints instead of `diameter` — the hop-batched
    * answer to the Δ-stepping problem on the same Pregel machinery
    * (reference `graphx/.../lib/ShortestPaths.scala` pays one superstep
    * per hop; here one superstep relaxes k hops).
    *
    * Cost: message volume is UNCHANGED (sends stay frontier-gated per
    * layer); the per-superstep plan carries k frontier-sized aggregation
    * exchanges, while the state table still never moves and is
    * checkpointed once per superstep, not per hop. What k buys is the
    * per-round fixed floor (scheduling, checkpoint, observe) that
    * dominates long-diameter runs.
    *
    * Legality: the batched run equals the unbatched run's state after
    * the same number of LAYERS, so results are identical exactly when
    * the program is a monotone relaxation — updates fold the message
    * into state via an idempotent lattice meet/join (least/greatest/
    * bit-or…), sends gated so a fixpoint layer emits nothing. SSSP, CC
    * flooding, reachability qualify; fixed-iteration programs
    * (PageRank-style `setRequireConverged(false)`) should keep k = 1 —
    * with k > 1 each counted iteration runs k real iterations.
    * Convergence observes the LAST layer: a monotone operator that
    * changes nothing at layer j changes nothing after it, so a zero
    * final layer proves the fixpoint. `PregelSpec` pins batched ≡
    * unbatched on random graphs and the `⌈d/k⌉` round count.
    */
  def setHopBatch(k: Int): Pregel = {
    require(k >= 1, "hop batch must be >= 1")
    copy(hopBatch = k)
  }

  /** How many consecutive relaxation layers of one hop-batched superstep
    * COMPOSE UNMATERIALIZED — no lazy checkpoint between them (r12; the
    * VERDICT-r11 "multi-round fusion without per-layer materialization").
    *
    * Why it wins: the per-layer lazy localCheckpoint writes and re-reads
    * the WHOLE O(V) state per layer, which at short diameters costs
    * exactly what the saved driver round-trips save (measured in r11:
    * k=3 per-layer-snapped 5.9 s vs 4.8 s unbatched on sf0.1). Without
    * the snap, a layer's state feeds the next layer twice (triplet join
    * + message fold), so the LOGICAL plan doubles per fused layer — but
    * the only exchange in a layer (the frontier message aggregation) is
    * subtree-identical in both references, so ReuseExchange computes it
    * ONCE; the duplicated work is just the post-shuffle fold/update
    * projection over already-materialized snap leaves. Measured (sf0.1
    * order chains, same session pairs): fuse 3 runs a 3-layer superstep
    * at ~1.6× one layer's cost instead of 3×, and the 2^f logical-plan
    * growth keeps analysis under ~40 ms through f = 4 — the cap guards
    * the exponential regime, not the common case.
    *
    * Legality: composition only — a fused superstep executes EXACTLY the
    * same k layers as the per-layer-snapped form, in order, with the
    * convergence observation still on the last layer; `PregelSpec` pins
    * fused ≡ snapped ≡ unbatched results.
    */
  def setLayerFuse(f: Int): Pregel = {
    require(f >= 1, "layer fuse must be >= 1")
    copy(layerFuse = f)
  }

  /** @return the vertex table with final state columns. */
  def run(): DataFrame = {
    require(stateCols.nonEmpty, "at least one withVertexColumn is required")
    require(msgsToDst.nonEmpty || msgsToSrc.nonEmpty,
      "at least one sendMsgToDst/sendMsgToSrc is required")
    val agg = aggExpr.getOrElse(
      throw new IllegalArgumentException("aggMsgs is required"))
    require(vertices.columns.contains("id"), "vertices must carry an `id` column")
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      "edges must carry `src` and `dst` columns")

    // InternalSnap.snapKeyed, not plain checkpoint: (a) a triplet join
    // references the state TWICE, so carried stats estimates square per
    // superstep without the cap; (b) the declared hash layout is what
    // keeps every round's joins exchange-free — see the dataflow note
    // below.

    // TripletFields pruning (the GraphX optimization): a superstep joins
    // only the endpoint states the messages read, so a program whose
    // sends read only the source state (frontier-gated SSSP/CC, PageRank)
    // pays ONE state join per superstep instead of two. Detected from the
    // message expressions (regex with a word boundary; literals that
    // merely CONTAIN "src."/"dst." keep the join — the safe direction; a
    // wrongly-skipped join would fail LOUDLY at analysis, never silently).
    val texts = (msgsToDst ++ msgsToSrc).map(_.toString)
    val needSrc = texts.exists(_.matches("""(?s).*\bsrc\..*"""))
    val needDst = texts.exists(_.matches("""(?s).*\bdst\..*"""))

    // STATE NEVER MOVES — the GraphX dataflow, relationally. Edges are
    // hash-partitioned ONCE on the frequently-joined endpoint; the state
    // table starts hash-partitioned on `id` and every superstep's fold
    // (a co-partitioned stream-side join) preserves that partitioning,
    // which `InternalSnap.snapKeyed` carries THROUGH the checkpoint. The
    // per-round triplet join is therefore exchange-free and broadcast-free
    // (the shuffle_hash hint keeps Catalyst from re-introducing a per-round
    // driver collect+broadcast of the whole state, whose cost scales with
    // STATE size); the only per-round data movement is the message
    // aggregation + its repartition back onto the state layout — both
    // FRONTIER-sized, decaying with message volume. At 100 TB this is the
    // difference between re-shipping every vertex every superstep and
    // shipping only what changed. (A dst-reading program's second state
    // join still lets Catalyst choose its strategy — co-locating BOTH
    // endpoints needs a second edge copy, GraphX's routing-table trade,
    // which a caller can express by symmetrizing edges and reading src
    // only — see Components.labelPropagate.)
    val sessionP =
      vertices.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val partKey = if (needSrc || !needDst) "_esrc" else "_edst"
    // The loop body runs in a cloned session with AQE off and the shuffle
    // partition count pinned: a superstep's plan is fixed and pre-placed
    // (declared co-partitioning, pinned exchange count), so per-round
    // adaptive re-planning is pure driver overhead; the final state is
    // re-rooted into the caller's session. Clones are child sessions of
    // the base session per partition count (released with it by
    // SessionCache.clear) — fresh SessionState init costs a few hundred ms.
    def sessionAt(p: Int) =
      graft.SessionCache.memoSession(vertices.sparkSession, s"pregel-loop:$p")(
        InternalSnap.loopSession(vertices, p))
    val edgesPrep = edges.select(col("src").as("_esrc"), col("dst").as("_edst"),
      struct(col("*")).as("edge"))
    val statePrep = stateCols.foldLeft(vertices) {
      case (df, (n, init, _)) => df.withColumn(n, init)
    }
    // Adaptive LOOP parallelism: per-superstep cost is dominated by task
    // count when partitions are small (measured: halving 64 trivial tasks
    // halved the superstep), so size the loop's partition count at
    // ~2 MB per partition — CAPPED at the session setting, so a real
    // cluster's configured parallelism is never exceeded and only
    // genuinely small state is consolidated. Reliable checkpoints persist
    // outside the block manager (bytes unknown → keep the estimated
    // count).
    //
    // r11: the count is sized from the optimizer's sizeInBytes ESTIMATE
    // first, so both tables snap at their loop layout in ONE
    // materialization each (the previous shape snapped both at the
    // session count, read the real bytes, and re-snapped both — two extra
    // jobs per run, which at bench scale was ~5% of a whole graph query).
    // The estimate is then checked against the materialized bytes and the
    // snap is REDONE only when it was off by more than 2× in either
    // direction — estimates degrade on exotic inputs, and a wrong P is a
    // parallelism decision the guard bounds, never a correctness one.
    def pFor(bytes: BigInt): Int =
      if (bytes <= 0) sessionP
      else ((bytes - 1) / (2L << 20) + 1).min(BigInt(sessionP)).max(BigInt(1)).toInt
    // Input sizing, best source first: when every plan leaf is an
    // already-materialized snap (the checkpoint-fed callers), its block
    // bytes are EXACT and free; otherwise the optimizer's sizeInBytes —
    // a SERIALIZED-width estimate, measured 9-10× under the deserialized
    // Tungsten blocks on the order-chain graphs (est 1.6 MB vs 16.7 MB),
    // hence ×8 to land the one-shot guess inside the 2× guard band.
    def inBytes(df: DataFrame): BigInt =
      InternalSnap.materializedInputBytes(df)
        .map(BigInt(_))
        .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes * 8)
    val P0 = pFor(inBytes(edgesPrep).max(inBytes(statePrep)))
    val ls0 = sessionAt(P0)
    var e = InternalSnap.snapKeyed(edgesPrep, Seq(partKey), P0, Some(ls0))
    var cur = InternalSnap.snapKeyed(statePrep, Seq("id"), P0, Some(ls0))
    val P = {
      val bytes = Pregel.snapBytes(e, cur)
      val pReal = if (bytes == 0L) P0 else pFor(BigInt(bytes))
      if (pReal > 2 * P0 || P0 > 2 * pReal) pReal else P0
    }
    val ls = if (P == P0) ls0 else sessionAt(P)
    if (P != P0) {
      val e0 = e; val cur0 = cur
      e = InternalSnap.snapKeyed(e, Seq(partKey), P, Some(ls))
      cur = InternalSnap.snapKeyed(cur, Seq("id"), P, Some(ls))
      InternalSnap.free(e0)
      InternalSnap.free(cur0)
    }
    // One relaxation LAYER: triplet join → gated messages → frontier
    // fold → state update; returns the updated state WITH the message
    // column still attached (the caller observes or drops it).
    def relax(state: DataFrame): DataFrame = {
      val triSrc =
        if (!needSrc) e
        else e.join(
          state.select(col("id").as("_sid"), struct(col("*")).as("src"))
            .hint("shuffle_hash"),
          col("_esrc") === col("_sid"))
      val tri =
        if (!needDst) triSrc
        else triSrc.join(
          state.select(col("id").as("_did"), struct(col("*")).as("dst")),
          col("_edst") === col("_did"))
      val outbound =
        msgsToDst.map(m => tri.select(col("_edst").as("id"), m.as(Pregel.MsgCol))) ++
          msgsToSrc.map(m => tri.select(col("_esrc").as("id"), m.as(Pregel.MsgCol)))
      // One frontier-sized shuffle per layer: the message aggregation
      // (map-side combined). Its exchange lands at P partitions and the
      // fold stage also reads the state's checkpoint blocks, so AQE
      // cannot coalesce the read — the fold join is co-partitioned with
      // the state AS PLANNED and the state side never moves.
      val delivered = outbound.reduce(_ unionByName _)
        .where(col(Pregel.MsgCol).isNotNull)
        .groupBy("id").agg(agg.as(Pregel.MsgCol))
        .hint("shuffle_hash") // build the frontier, never the state
      stateCols.foldLeft(state.join(delivered, Seq("id"), "left")) {
        case (df, (n, _, update)) => df.withColumn(n, update)
      }
    }
    // Effective fuse width is SIZE-GATED (measured, r12): fusing k layers
    // re-reads the state/edge checkpoint blocks once per duplicated
    // reference (the post-shuffle fold chains that ReuseExchange cannot
    // dedupe), trading block-read bytes for saved per-round floors
    // (~0.1 s scheduling + snap job each). sf0.1 order chains
    // (state+edges ≈ 17 MB blocks): fuse-4 measured 4.1 s vs 5.4 s
    // unfused. The ×10 fixture (184 MB blocks): fuse-4 measured 133 s vs
    // 100 s per-layer-snapped — re-reads dominate. Break-even ≈ round
    // floor × block bandwidth / extra-reads ≈ 50 MB; the gate reads the
    // EXACT materialized bytes (no estimate) and larger state keeps the
    // r11 per-layer lazy-snap behavior ([[Pregel.fusable]]).
    //
    // Fusion also requires deterministic state-update, message and
    // aggregate expressions (ADVICE r12 #1): a fused layer is evaluated
    // once for both of its consumers only through ReuseExchange, while a
    // layer snap guarantees it. The check analyzes one layer.
    val fuseEff =
      if (hopBatch > 1 && Pregel.fusable(e, cur) &&
        relax(cur).queryExecution.analyzed.deterministic) layerFuse
      else 1
    var i = 0
    var active = true
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    while (active && i < maxIterations) {
      val t0 = System.nanoTime()
      // hopBatch relaxation layers compose into ONE action; convergence
      // is observed on the LAST layer (monotone fixpoint — see
      // setHopBatch). Within the superstep, groups of `layerFuse`
      // consecutive layers compose UNMATERIALIZED (see setLayerFuse:
      // the one exchange per layer is reference-identical on both of a
      // layer's consumers, so ReuseExchange computes it once and the
      // duplication is post-shuffle projection only); a LAZY local snap
      // lands at fuse-group boundaries, bounding the 2^f logical-plan
      // growth while keeping each group's layers co-partitioned as
      // planned (LogicalRDD carries the partitioning). Checkpoint row
      // blocks, not persist(): the columnar cache build measured ~7× a
      // whole superstep per layer.
      var body = relax(cur)
      var layerSnaps = List.empty[DataFrame]
      for (layer <- 2 to hopBatch) {
        body =
          if ((layer - 1) % fuseEff == 0) {
            val ck = InternalSnap.snap(body.drop(Pregel.MsgCol), eager = false)
            layerSnaps ::= ck
            relax(ck)
          } else relax(body.drop(Pregel.MsgCol))
      }
      val obs = Observation()
      val folded = body
        .observe(obs, sum(when(col(Pregel.MsgCol).isNotNull, 1L).otherwise(0L))
          .as("delivered"))
        .drop(Pregel.MsgCol)
      val next = InternalSnap.snapKeyed(folded, Seq("id"), P, Some(ls))
      // Round-2 plan, recorded per tag (`graft.Explain` prints it): the
      // steady-state shape — exchange-free co-partitioned joins, one
      // frontier shuffle, pruned endpoint states — either holds here or
      // doesn't, and `PregelSpec` pins it structurally. Planned before
      // the free below, which drops its inputs from the snap registry.
      if (i == 1) tag.foreach(graft.SessionCache.record(vertices.sparkSession,
        Pregel.PlansKind, _, folded.queryExecution.executedPlan.toString))
      // `next` is fully materialized — release the dead generations NOW
      // (layer snaps and the previous state): a long hop-batched run
      // otherwise accumulates every layer's blocks for its lifetime
      // (measured 30 GB of /tmp block files in one ×100 pass)
      layerSnaps.foreach(InternalSnap.free)
      InternalSnap.free(cur)
      // the eager checkpoint above already ran the plan; get() returns
      // the recorded metric without another action (null sum = no rows)
      val nDelivered =
        Option(obs.get("delivered")).map(_.asInstanceOf[Long]).getOrElse(0L)
      active = nDelivered != 0L
      rounds += ((nDelivered, (System.nanoTime() - t0) / 1e9))
      cur = next
      i += 1
    }
    tag.foreach(graft.SessionCache.record(vertices.sparkSession, Pregel.RunsKind, _, rounds.toSeq))
    InternalSnap.free(e)
    if (requireConverged && active) InternalSnap.free(cur) // refused: returns nothing
    require(!requireConverged || !active,
      s"Pregel did not converge in $maxIterations supersteps — messages " +
        "were still flowing; raise setMaxIter (rounds scale with graph " +
        "diameter) instead of consuming partial state")
    InternalSnap.reRootSnapped(cur, vertices.sparkSession)
  }
}

object Pregel {
  private[operators] val MsgCol = "_pregel_msg"

  /** The fuse gate's threshold on materialized bytes (measured, r12 —
    * see the fuse-gate note in [[Pregel.run]]).
    */
  private val FuseMaxBytes = 48L << 20

  /** The largest block-manager size among `snaps` (0 when unknown). */
  private def snapBytes(snaps: DataFrame*): Long =
    snaps.map(InternalSnap.materializedInputBytes(_).getOrElse(0L)).max

  /** The one fuse gate: whether state materialized as `snaps` is small
    * enough (known and at most 48 MiB of blocks) for fused layers' block
    * re-reads to cost less than the per-round floors they save. Used by
    * Pregel's own layer fusion and by callers sizing hop batches.
    */
  def fusable(snaps: DataFrame*): Boolean = {
    val bytes = snapBytes(snaps: _*)
    bytes > 0L && bytes <= FuseMaxBytes
  }

  private val RunsKind = "pregel-rounds"
  private val PlansKind = "pregel-plan"

  /** Per-tag per-superstep (delivered, seconds) of the most recent tagged
    * [[Pregel.run]] in `spark` — drained by `graft.Bench` into
    * `bench_last.json`'s `graph_rounds` so superstep-level regressions are
    * visible, not averaged away. Last-run-wins per tag; concurrent runs of
    * the SAME tag would interleave, so bench reads it after its
    * sequential rounds.
    */
  def lastRuns(spark: SparkSession): Map[String, Seq[(Long, Double)]] =
    graft.SessionCache.recorded(spark, RunsKind)

  /** Round-2 (steady-state) executed-plan string of the most recent
    * tagged run in `spark` — the structural evidence for the superstep
    * contract (scan/join/exchange counts) that job- or stage-count proxies
    * can't pin reliably across planner modes.
    */
  def lastPlans(spark: SparkSession): Map[String, String] =
    graft.SessionCache.recorded(spark, PlansKind)

  def apply(vertices: DataFrame, edges: DataFrame): Pregel =
    new Pregel(vertices, edges, Nil, Nil, Nil, None, 20, true, None, 1, 4)

  /** The sending edge's source-vertex column, inside message expressions. */
  def src(c: String): Column = col(s"src.$c")

  /** The sending edge's destination-vertex column. */
  def dst(c: String): Column = col(s"dst.$c")

  /** The edge's own column (weights, kinds…). */
  def edge(c: String): Column = col(s"edge.$c")

  /** Inside `aggMsgs`: the per-message value; inside `withVertexColumn`
    * updates: the aggregated message, null when none arrived.
    */
  def msg: Column = col(MsgCol)
}

package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

/** Connected components over an undirected edge list — the duplicate-
  * CLUSTERING step that turns near-dup PAIRS (LSH/jaccard output) into
  * groups with one canonical representative each (keep min doc_id, drop
  * the rest).
  *
  * Min-label propagation is a program on the one [[Pregel]] loop, as
  * connected components is in GraphX (`graphx/.../lib/
  * ConnectedComponents.scala`): the loop owns the state layout,
  * checkpointing, observed convergence, generation release and the loud
  * non-convergence failure. Dup clusters are shallow in practice
  * (near-clique neighborhoods), so it converges in a handful of
  * supersteps; [[starContract]] is the O(log n)-round alternative for
  * long chains.
  */
object Components {

  /** @return (id, label) — label = min id reachable from `id` over the
    *         symmetrized edges; only ids that appear in an edge are
    *         labeled (isolated rows need no clustering).
    * @param star switch to alternating star contraction ([[starContract]])
    *        for graphs whose components are long CHAINS rather than
    *        near-cliques: min-label needs diameter rounds, star
    *        contraction O(log n). Min-label stays the default — fewer
    *        shuffles per round, and dup clusters are shallow in practice.
    * @throws IllegalArgumentException if propagation has not converged
    *         after `maxIter` rounds (raise it for long-chain graphs, or
    *         pass star = true).
    */
  def labelPropagate(
      edges: DataFrame, a: String, b: String, maxIter: Int = 20,
      star: Boolean = false): DataFrame =
    if (star) starContract(edges, a, b, maxIter)
    else {
      // snapped: the four references below (vertices union ×2, edges
      // union ×2) would otherwise each replay the input's lineage
      val pairs = InternalSnap.snap(edges.select(col(a), col(b)))
      val vertices = pairs.select(col(a).as("id")).union(pairs.select(col(b))).distinct()
      val sym = pairs.select(col(a).as("src"), col(b).as("dst"))
        .union(pairs.select(col(b).as("src"), col(a).as("dst")))
      // sends gate on `src.improved` ("my label dropped last round";
      // everyone announces in round 1): the program reads source state
      // only, so each superstep joins one state table
      try Pregel(vertices, sym)
        .withVertexColumn("improved", lit(true),
          Pregel.msg.isNotNull && Pregel.msg < col("cc"))
        .withVertexColumn("cc", col("id"), least(col("cc"), Pregel.msg))
        .sendMsgToDst(when(Pregel.src("improved"), Pregel.src("cc")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIter(maxIter)
        .setTag("cc")
        .run()
        .select(col("id"), col("cc").as("label"))
      finally InternalSnap.free(pairs)
    }

  /** Alternating star contraction (the public large-star/small-star
    * algorithm family — Kiveris et al., "Connected Components in
    * MapReduce and Beyond"): each round hangs every node off the MINIMUM
    * of a neighborhood instead of moving labels one hop, so a chain of
    * length n resolves in O(log n) rounds where min-label needs n. The
    * per-round cost is higher (two groupBy+join phases vs one), which is
    * why min-label stays the default for the shallow near-clique graphs
    * LSH dup-pairs produce.
    *
    * Large-star: every neighbor v > u links to min(N(u) ∪ u). Small-star:
    * edges oriented (big → small); every smaller neighbor and the center
    * link to the minimum. Both phases preserve the component structure;
    * the fixed point is a star forest whose centers are the component
    * minima.
    *
    * Convergence detection stays one-action-per-round: the new edge set's
    * (count, XOR of xxhash64) fingerprint is an `Observation` on the
    * checkpointing action — order-independent, deterministic, no probe
    * job. Fingerprint equality standing in for set equality is the one
    * probabilistic step (~2^-64 per round); the final star-forest
    * `require` below would still catch a collision that stopped the loop
    * on a non-star edge set, loudly rather than silently.
    */
  private def starContract(
      edges: DataFrame, a: String, b: String, maxIter: Int): DataFrame = {
    // InternalSnap.snap: large-star references the edge set twice per
    // round, so carried stats estimates double in digit count every round
    import InternalSnap.snap
    val raw = edges.select(col(a).as("u"), col(b).as("v"))
    val nodes = snap(
      raw.select(col("u").as("id")).union(raw.select(col("v").as("id"))).distinct())
    var e = snap(raw.where(col("u") =!= col("v")).distinct())
    var prevFp: Option[(Long, Long)] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetrized neighborhood of every node
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lMin = sym.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      val large = sym.join(lMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: orient (big → small); center and all smaller
      // neighbors hang off the neighborhood minimum
      val oriented = large.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val sMin = oriented.groupBy("u").agg(min(col("v")).as("m"))
      val sj = oriented.join(sMin, "u")
      val small = sj.where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(sj.select(col("u"), col("m").as("v")).where(col("u") =!= col("m")))
        .distinct()
      val obs = Observation()
      // bit_xor, not sum: XOR of 64-bit hashes is order-independent and
      // cannot overflow under ANSI arithmetic (rows are distinct, so the
      // even-multiset-cancels caveat of XOR does not apply)
      val next = snap(small.observe(obs,
        count(lit(1L)).as("n"), bit_xor(xxhash64(col("u"), col("v"))).as("fp")))
      val fp = (Option(obs.get("n")).fold(0L)(_.asInstanceOf[Long]),
        Option(obs.get("fp")).fold(0L)(_.asInstanceOf[Long]))
      converged = prevFp.contains(fp)
      prevFp = Some(fp)
      InternalSnap.free(e)
      e = next
      i += 1
    }
    require(converged,
      s"starContract did not converge in $maxIter rounds — raise maxIter " +
        "instead of consuming partial labels")
    // edges now point child → component root; nodes without a parent
    // (roots, and ids that only appeared in self-loops) label themselves
    val asg = e.groupBy(col("u")).agg(min(col("v")).as("lbl"))
    val labels = snap(
      nodes.join(asg, nodes("id") === asg("u"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("label")))
    // loud star-forest check: every assigned label must itself be a root
    // (label(label) == label) — a partial contraction cannot sneak out
    val roots = labels.select(col("id").as("rid"), col("label").as("rlbl"))
    val bad = labels.join(roots, col("label") === col("rid"))
      .where(col("rlbl") =!= col("label")).count()
    require(bad == 0,
      s"starContract terminated on a non-star edge set ($bad chained " +
        "labels) — this should be unreachable; report the input graph")
    labels
  }
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InternalSnap

/** k-core decomposition by iterative peeling — the degree-threshold
  * subgraph primitive of the GraphX capability class (cohesive-subgraph
  * mining, graph sparsification before community detection, spam/bot
  * core extraction). The k-core is the maximal subgraph in which every
  * vertex has degree >= k; peeling — repeatedly delete vertices of
  * degree < k — reaches it in at most `depth` rounds, where depth is
  * the graph's degeneracy-peel depth (Matula & Beck 1983).
  *
  * Each round is ONE declarative plan over the cached symmetric edge
  * list: two semi-joins restrict edges to live endpoints, a map-side-
  * combinable count computes live degrees, and the threshold filter
  * yields the next live set — O(m) work per round, shuffles keyed by
  * vertex, nothing driver-sized ever collected (the loop reads one
  * COUNT per round to detect the fixpoint, the same convergence probe
  * as [[Pregel]]'s observed message count). Live sets snap through
  * `InternalSnap.snap` so lineage and stats stay flat across rounds, and
  * each generation is freed once the next has materialized.
  *
  * Scale (100 TB): work per round tracks the LIVE edge count, which is
  * monotone non-increasing; peel depth is a graph property (not a data
  * size), and the loud maxIter refusal is the same Θ(diameter) contract
  * as Pregel's — see the SSSP guidance in [[Pregel]]'s scaladoc.
  */
object KCore {

  /** Peel `edges` (symmetric, distinct (u, v) BIGINT pairs) to the
    * k-core. Returns one row per core vertex: (id, core_deg).
    */
  def run(edges: DataFrame, k: Int, maxIter: Int = 60): DataFrame =
    runWithRounds(edges, k, maxIter)._1

  /** As [[run]], also returning the number of peel rounds executed
    * (spec/observability surface).
    */
  def runWithRounds(edges: DataFrame, k: Int, maxIter: Int = 60): (DataFrame, Int) = {
    val e = InternalSnap.snap(edges.select(col("u"), col("v")))
    var alive = InternalSnap.snap(e.select(col("u").as("id")).distinct())
    var n = alive.count()
    var rounds = 0
    var converged = false
    try {
      while (!converged) {
        rounds += 1
        require(rounds <= maxIter,
          s"k-core peel did not converge in $maxIter rounds — raise maxIter " +
            "(peel depth is a graph property; see KCore scaladoc)")
        val live = e
          .join(alive.select(col("id").as("au")), col("u") === col("au"), "left_semi")
          .join(alive.select(col("id").as("av")), col("v") === col("av"), "left_semi")
        val deg = live.groupBy(col("u").as("id")).agg(count(lit(1)).as("core_deg"))
        val next = InternalSnap.snap(deg.filter(col("core_deg") >= k))
        InternalSnap.free(alive) // `next` is materialized: eager snap
        alive = next
        val n2 = next.count()
        converged = n2 == n
        n = n2
      }
      (alive, rounds)
    } finally {
      if (!converged) InternalSnap.free(alive)
      InternalSnap.free(e)
    }
  }
}

package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.classic.{Dataset, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions.col

/** The one place that materializes or releases a frame, and the one
  * file that touches `private[sql]` API (hence the package).
  *
  * Reliability is derived, not passed: a snap is a reliable checkpoint
  * exactly when `sparkContext.getCheckpointDir` is set, and an
  * executor-local `localCheckpoint` otherwise (the rule MLlib/GraphX
  * `PeriodicCheckpointer` and ALS follow).
  *
  * Every snap re-roots the checkpoint's `LogicalRDD` leaf with its
  * carried statistics CAPPED. `Dataset.checkpoint`/`localCheckpoint`
  * deliberately carry the origin plan's ESTIMATED `Statistics` through
  * the produced [[LogicalRDD]] (SPARK-39834) so broadcast decisions
  * survive a checkpoint. In a driver-loop iterative algorithm that
  * estimate compounds: a round that references its state twice (a
  * Pregel triplet join, large-star's edge self-pair) SQUARES the carried
  * `BigInt` every round, so its digit count DOUBLES per round and by
  * round ~10 the driver grinds Karatsuba multiplications on numbers with
  * thousands of digits inside `SizeInBytesOnlyStatsPlanVisitor`
  * (observed: minutes at 15k rows).
  *
  * Two public escape hatches both overshoot:
  *   - `createDataFrame(ck.rdd, schema)` resets stats but pays one extra
  *     Spark job plus an InternalRow→Row→InternalRow pass per round and
  *     forgets the checkpoint's physical partitioning;
  *   - resetting to `None` (session default = `Long.MaxValue`) is free
  *     but marks genuinely-small state as huge, demoting the per-round
  *     broadcast join to a two-exchange shuffle join — one extra AQE
  *     stage job per round (the Components job-count spec caught both).
  *
  * The cap instead copies the checkpoint's own `LogicalRDD` leaf with
  * the carried estimate CAPPED at `Long.MaxValue`: below the cap the
  * estimate is untouched (small state keeps broadcasting, job count
  * unchanged), and the cap bounds the BigInt at 19 digits so squaring
  * per round can never wedge the optimizer (cap² ≈ 10³⁸ re-caps at the
  * next snap). Same InternalRow RDD, same `outputPartitioning` /
  * `outputOrdering` / constraints — zero additional work at any scale.
  */
object InternalSnap {

  private val Cap = BigInt(Long.MaxValue)

  /** RDD ids of live graft-snapped checkpoints — the [[SnapScanStrategy]]
    * gate: only these scans get the canonicalization-fixed physical node,
    * so every other LogicalRDD in the session plans exactly as stock
    * Spark. [[free]] forgets an id with its blocks.
    */
  private val snapRddIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def isSnapRdd(id: Int): Boolean = snapRddIds.contains(id)

  /** Checkpoint `df` — reliable under a checkpoint dir, executor-local
    * otherwise — and return its bare `LogicalRDD` leaf. A reliable
    * checkpoint is always eager: a lazy one is never written when the
    * next eager snap consumes it (`RDD.doCheckpoint` stops at the first
    * marked RDD it meets).
    */
  private def checkpoint(df: DataFrame, eager: Boolean): LogicalRDD = {
    val ck = (if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(eager)).asInstanceOf[Dataset[Row]]
    ck.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other =>
        throw new IllegalStateException(s"checkpoint did not produce a LogicalRDD: $other")
    }
  }

  /** `l` re-rooted in `target` with `part` declared and its statistics
    * capped at `Long.MaxValue`.
    */
  private def reLeaf(l: LogicalRDD, target: SparkSession, part: Partitioning): DataFrame = {
    val s = l.computeStats()
    val capped = Statistics(
      sizeInBytes = s.sizeInBytes.min(Cap),
      rowCount = s.rowCount.map(_.min(Cap)),
      attributeStats = s.attributeStats,
      isRuntime = s.isRuntime)
    Dataset.ofRows(
      target,
      LogicalRDD(l.output, l.rdd, part, l.outputOrdering, l.isStreaming, l.stream)(
        target, Some(capped), Some(l.constraints)))
  }

  /** Materialize `df` and return a frame whose plan is a fresh scan of
    * the materialized blocks — O(1) lineage, capped stats, no cost beyond
    * the checkpoint's own job (rows stay in Tungsten format, the
    * checkpoint's physical partitioning survives for downstream joins).
    * `eager = false` defers the write to the first action that reads it
    * (Pregel's layer snap); under a checkpoint dir the snap is eager
    * regardless.
    */
  def snap(df: DataFrame, eager: Boolean = true): DataFrame = {
    val l = checkpoint(df, eager)
    reLeaf(l, df.sparkSession.asInstanceOf[SparkSession], l.outputPartitioning)
  }

  /** [[snap]] with a GUARANTEED hash layout: checkpoint `df` behind an
    * explicit `repartition(n, keys)` and DECLARE `HashPartitioning(keys,
    * n)` on the rebuilt leaf — the piece `LogicalRDD.fromDataset`'s
    * best-effort capture loses under AQE (an `AdaptiveSparkPlan`'s
    * partitioning isn't final when the checkpoint node is built, so every
    * post-checkpoint join re-exchanges state the loop just placed). The
    * iterative loops' "state never moves" contract rests on this.
    *
    * Safe by construction: the explicit `repartition(n, keys)` is a
    * `REPARTITION_BY_NUM` shuffle, which AQE never coalesces and skew-join
    * never splits, so the physical layout IS `HashPartitioning(keys, n)`
    * when the checkpoint materializes; declaring it merely tells
    * `EnsureRequirements` the truth. (If the child already satisfies the
    * partitioning the optimizer may elide the shuffle — also truthful.)
    * The result is planned in `in` when given (a loop session).
    */
  def snapKeyed(
      df: DataFrame, keys: Seq[String], n: Int,
      in: Option[org.apache.spark.sql.SparkSession] = None): DataFrame = {
    val l = checkpoint(df.repartition(n, keys.map(col): _*), eager = true)
    val attrs = keys.map(k =>
      l.output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"snapKeyed: no output column '$k' in ${l.output}")))
    snapRddIds.add(l.rdd.id) // route through SnapScanStrategy (reuse fix)
    reLeaf(l, in.getOrElse(df.sparkSession).asInstanceOf[SparkSession],
      HashPartitioning(attrs, n))
  }

  /** Release `df` now instead of at the ContextCleaner's GC sweep: drop
    * its cache-manager entry (a `persist`ed frame) and unpersist every
    * checkpointed `LogicalRDD` leaf under it (`Dataset.unpersist` alone is
    * a no-op on a snapped frame). An iterative loop that snaps per round
    * (worse, per hop-batch LAYER) otherwise accumulates every
    * generation's blocks for the run's lifetime — measured 30 GB of /tmp
    * block files in one ×100 hop-batched SSSP pass. Only call on frames
    * whose consumers have fully materialized (the blocks cannot be
    * recomputed — checkpointing truncated the lineage). Reliable
    * checkpoint FILES stay in the checkpoint dir; only block storage
    * frees, and the snap registry forgets the leaf's id.
    */
  def free(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed.foreach {
      case l: LogicalRDD if l.rdd.checkpointData.isDefined =>
        l.rdd.unpersist(blocking = false)
        snapRddIds.remove(l.rdd.id)
      case _ => ()
    }
  }

  /** A cloned session for DRIVER-LOOP bodies (same SparkContext, shared
    * state, copied conf) with adaptive execution OFF and the shuffle
    * partition count pinned to the loop's chosen parallelism: inside an
    * iterative superstep the plan shape is fixed and pre-placed by
    * construction (declared co-partitioning, explicit shuffle-hash hints,
    * one fixed-count exchange), so per-round AQE buys nothing — no join
    * strategy to revise, no partition count to coalesce (the loop's
    * exchanges are REPARTITION-pinned), no skew-split applicable to
    * checkpoint-scan joins — while costing a re-optimization pass and an
    * extra stage-job round-trip per materialization. Pinning
    * `shuffle.partitions` keeps every in-loop exchange aligned with the
    * declared state layout, so nothing ever re-partitions. The caller's
    * session is untouched; re-root the final result with
    * [[reRootSnapped]].
    */
  def loopSession(df: DataFrame, numPartitions: Int): org.apache.spark.sql.SparkSession = {
    val s = df.asInstanceOf[Dataset[Row]].sparkSession.cloneSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", numPartitions.toString)
    s
  }

  /** Block-manager bytes of ALL materialized-RDD leaves under `df`'s
    * plan, when EVERY leaf is one (a checkpointed/snapped input) and has
    * known storage — the exact input size of a frame derived from
    * materialized state, available without a job. `None` when any leaf is
    * a live source (parquet scan, range …) or its blocks are unknown (a
    * reliable checkpoint lives in the checkpoint dir, not the block
    * manager) — callers fall back to optimizer estimates.
    */
  def materializedInputBytes(df: DataFrame): Option[Long] = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val leaves = ds.queryExecution.analyzed.collectLeaves()
    if (leaves.isEmpty) return None
    val sizes = leaves.map {
      case l: LogicalRDD =>
        ds.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => i.memSize + i.diskSize)
          .getOrElse(-1L)
      case _ => -1L
    }
    if (sizes.forall(_ > 0L)) Some(sizes.sum) else None
  }

  /** Canonicalization-safe declared partitioning: Spark's `RDDScanExec`
    * canonicalizes its `output` but NOT the declared `outputPartitioning`
    * / `outputOrdering`, so two analyzer-deduplicated references to the
    * SAME snapped RDD (fresh exprIds on the second occurrence) never
    * compare `sameResult` — which silently disables `ReuseExchange` for
    * every exchange whose subtree contains a snap scan. A fused Pregel
    * superstep (k layers, no intermediate snap) relies on exactly that
    * reuse: each layer's message-aggregation exchange appears once per
    * consumer of the layer and must be computed once. [[normalizedPart]]
    * is the missing normalization, used by [[SnapScanExec]].
    */
  private[graft] def normalizedPart(
      p: Partitioning, output: Seq[Attribute]): Partitioning = p match {
    case e: Expression =>
      QueryPlan.normalizeExpressions(e, output).asInstanceOf[Partitioning]
    case other => other
  }

  /** Re-root a SNAPPED frame (a bare `LogicalRDD` leaf) into `session`,
    * preserving partitioning/stats/constraints — hands a loop's final
    * state back to the caller's session so downstream composition and
    * actions run under the caller's own configuration.
    */
  def reRootSnapped(
      df: DataFrame, session: org.apache.spark.sql.SparkSession): DataFrame =
    df.asInstanceOf[Dataset[Row]].queryExecution.analyzed match {
      case l: LogicalRDD =>
        reLeaf(l, session.asInstanceOf[SparkSession], l.outputPartitioning)
      case _ => df
    }
}

/** Physical scan for graft-SNAPPED checkpoints — execution-identical to
  * Spark's `RDDScanExec` (same unsafe-projection iterator, same codegen
  * input path, same row-count metric), with the canonicalization gap
  * closed: `doCanonicalize` normalizes the DECLARED partitioning and
  * ordering against the node's own output, so deduplicated references to
  * one snap compare `sameResult` and `ReuseExchangeAndSubquery` can
  * dedupe the identical exchanges above them (see
  * [[InternalSnap.normalizedPart]]). Planned only for RDD ids registered
  * by [[InternalSnap.snapKeyed]] — every other `LogicalRDD`
  * keeps stock planning.
  */
case class SnapScanExec(
    output: Seq[Attribute],
    rdd: RDD[InternalRow],
    override val outputPartitioning: Partitioning,
    override val outputOrdering: Seq[SortOrder])
  extends LeafExecNode with org.apache.spark.sql.execution.InputRDDCodegen {

  // one token: CodegenSupport derives generated-variable prefixes from
  // nodeName, and a space produces uncompilable Java identifiers
  override val nodeName: String = "GraftSnapScan"

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    rdd.mapPartitionsWithIndexInternal { (index, iter) =>
      val proj = UnsafeProjection.create(schema)
      proj.initialize(index)
      iter.map { r =>
        numOutputRows += 1
        proj(r)
      }
    }
  }

  override def inputRDD: RDD[InternalRow] = rdd
  override protected val createUnsafeProjection: Boolean = true

  override def simpleString(maxFields: Int): String =
    s"$nodeName${org.apache.spark.sql.catalyst.util.truncatedString(
      output, "[", ",", "]", maxFields)}"

  override protected def doCanonicalize(): SparkPlan = {
    val normOut = output.map(QueryPlan.normalizeExpressions(_, output))
    copy(
      output = normOut,
      outputPartitioning = InternalSnap.normalizedPart(outputPartitioning, output),
      outputOrdering = outputOrdering.map(QueryPlan.normalizeExpressions(_, output)))
  }
}

/** Planner strategy routing graft-snapped `LogicalRDD`s to
  * [[SnapScanExec]]; everything else falls through to Spark's own
  * strategies. Injected by `graft.GraftExtensions`.
  */
object SnapScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case l: LogicalRDD if !l.isStreaming && InternalSnap.isSnapRdd(l.rdd.id) =>
      SnapScanExec(l.output, l.rdd, l.outputPartitioning, l.outputOrdering) :: Nil
    case _ => Nil
  }
}

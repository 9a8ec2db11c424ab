package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.ExpandExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed time interval in epoch milliseconds. */
final case class Span(start: Long, end: Long) {
  def ms: Long = math.max(0L, end - start)
}

object Span {
  /** Length of the union of `xs`, clipped to `within`. */
  def unionMs(xs: Iterable[Span], within: Span): Long = {
    val clipped = xs.map(s => Span(math.max(s.start, within.start), math.min(s.end, within.end)))
      .filter(s => s.end > s.start).toSeq.sortBy(_.start)
    var total = 0L
    var cur: Span = null
    clipped.foreach { s =>
      if (cur == null) cur = s
      else if (s.start <= cur.end) cur = Span(cur.start, math.max(cur.end, s.end))
      else { total += cur.ms; cur = s }
    }
    if (cur != null) total += cur.ms
    total
  }
}

/** Everything the tracer learned about one member execution. */
final class Execution(val id: String, val member: String, val round: Int, val wall: Span,
    val build: Span, val seconds: Double, val failed: Boolean) {
  val phases = mutable.ArrayBuffer.empty[(String, Span)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val rules = mutable.Map.empty[String, (Long, Long, Long)] // ns, runs, effective
  val plan = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

final class JobRec(val jobId: Int, val group: String, val submitted: Long) {
  @volatile var ended: Long = -1L
  val stages = mutable.ArrayBuffer.empty[StageRec]
}

final class StageRec(val stageId: Int, val attempt: Int, val numTasks: Int,
    val submitted: Long, val completed: Long)

/** Task-metric sums for one job group. */
final class TaskSums {
  var tasks, failed, runMs, cpuNs, gcMs, deserMs, delayMs = 0L
  var shWriteBytes, shWriteNs, shReadBytes, fetchWaitMs, shRecords = 0L
  var spill, peakExec, inputRecords = 0L
  def add(m: org.apache.spark.executor.TaskMetrics, info: TaskInfo): Unit = {
    tasks += 1
    if (info.failed || info.killed) failed += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      deserMs += m.executorDeserializeTime
      delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shWriteNs += m.shuffleWriteMetrics.writeTime
      shReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      shRecords += m.shuffleReadMetrics.recordsRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peakExec = math.max(peakExec, m.peakExecutionMemory)
      inputRecords += m.inputMetrics.recordsRead
    }
  }
}

/** Watches one session through Spark's public listener APIs only:
  * `SparkListener` (jobs, stages, tasks, block updates, SQL execution
  * starts), `QueryExecutionListener` (the planning tracker's phases and
  * rules, and the final plan) and `CodegenMetrics`; streaming runs add each
  * query's own progress reports. Spans stay in memory and are written out
  * once, at exit.
  *
  * Jobs are tied to a member execution by the job group the harness sets
  * around each call; query executions by the wall-clock instant they
  * started, which is unambiguous because batch clients run one member at a
  * time.
  */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private val sums = new ConcurrentHashMap[String, TaskSums]()
  // start times by SQL execution id: an id can start more than once
  private val execStarts = new ConcurrentHashMap[Long, ConcurrentLinkedQueue[Long]]()
  // (arrival time, start estimate from the duration, query execution)
  private val qes = new ConcurrentLinkedQueue[(Long, Long, QueryExecution)]()
  /** Cached RDD blocks: bytes by block id, and (time, id, bytes) as each appeared. */
  private val blocks = new ConcurrentHashMap[String, Long]()
  private val blockEvents = new ConcurrentLinkedQueue[(Long, String, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val j = new JobRec(e.jobId, group, e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.ended = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageToJob.get(i.stageId)).foreach { j =>
        j.synchronized {
          j.stages += new StageRec(i.stageId, i.attemptNumber(), i.numTasks,
            i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val group = Option(stageToJob.get(e.stageId)).map(_.group).getOrElse("")
      val s = sums.computeIfAbsent(group, _ => new TaskSums)
      s.synchronized(s.add(e.taskMetrics, e.taskInfo))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val bytes = b.memSize + b.diskSize
        val key = b.blockId.name
        if (b.storageLevel.isValid && bytes > 0) {
          if (!blocks.containsKey(key)) blockEvents.add((System.currentTimeMillis(), key, bytes))
          blocks.put(key, bytes)
        } else blocks.remove(key)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStarts.computeIfAbsent(s.executionId, _ => new ConcurrentLinkedQueue[Long]()).add(s.time)
      case _ =>
    }
  }

  private[perfbench] def onQueryExecution(qe: QueryExecution, durationNs: Long): Unit = {
    val now = System.currentTimeMillis()
    qes.add((now, now - durationNs / 1000000L, qe))
  }

  @volatile private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    Tracer.current = this
    attached = true
  }

  /** Stops watching, after the events already queued have arrived. */
  def detach(): Unit = if (attached) {
    settle()
    sc.removeSparkListener(listener)
    Tracer.current = null
    attached = false
  }

  /** Codegen counters: (compile ns, compiles). */
  def codegen: (Long, Long) =
    (WholeStageCodegenExec.codeGenTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Bytes held by cached RDD blocks right now. */
  def storageBytes: Long = blocks.values().asScala.map(_.longValue).sum

  /** Lets queued listener events arrive: waits until nothing new shows up
    * for `quietMs`, bounded by `maxMs`.
    */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = (jobs.size, qes.size, blockEvents.size)
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(25)
      val now = (jobs.size, qes.size, blockEvents.size)
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  def taskSums(group: String): TaskSums = Option(sums.get(group)).getOrElse(new TaskSums)

  /** Blocks that appeared inside `span`: (count, bytes). */
  def blocksIn(span: Span): (Long, Long) = {
    val in = blockEvents.asScala.filter { case (t, _, _) => t >= span.start && t <= span.end }
    (in.size.toLong, in.map(_._3).sum)
  }

  /** Attaches jobs, planning phases, rules and plan shape to `execs`. */
  def attribute(execs: Seq[Execution]): Unit = {
    val byId = execs.map(e => e.id -> e).toMap
    jobs.values().asScala.foreach { j =>
      byId.get(j.group).foreach(e => e.jobs += j)
    }
    val sorted = execs.sortBy(_.wall.start).toArray
    def owner(t: Long): Option[Execution] = {
      // last execution that started at or before t, if t lies inside it
      var lo = 0; var hi = sorted.length - 1; var found = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sorted(mid).wall.start <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found >= 0 && t <= sorted(found).wall.end) Some(sorted(found)) else None
    }
    qes.asScala.foreach { case (arrived, fallbackStart, qe) =>
      // the latest start of this execution id before its report arrived
      val t = Option(execStarts.get(qe.id)).flatMap(_.asScala.filter(_ <= arrived).maxOption)
        .getOrElse(fallbackStart)
      owner(t).foreach { e =>
        shape(qe.executedPlan, e.plan)
        qe.tracker.rules.foreach { case (name, r) =>
          if (Tracer.graftRules.exists(name.endsWith)) {
            val (ns, n, eff) = e.rules.getOrElse(name, (0L, 0L, 0L))
            e.rules(name) = (ns + r.totalTimeNs, n + r.numInvocations, eff + r.numEffectiveInvocations)
          }
        }
      }
      qe.tracker.phases.foreach { case (phase, p) =>
        owner(p.startTimeMs).foreach(e => e.phases += (phase -> Span(p.startTimeMs, p.endTimeMs)))
      }
    }
  }

  private def shape(plan: SparkPlan, counts: mutable.Map[String, Long]): Unit = {
    def bump(k: String): Unit = counts(k) += 1
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case s: QueryStageExec => walk(s.plan); return
        case _: ReusedExchangeExec => bump("plan.reused_exchanges"); return
        case x: ShuffleExchangeExec =>
          bump("plan.exchanges")
          if (x.outputPartitioning == SinglePartition || x.outputPartitioning.numPartitions == 1)
            bump("plan.single_partition")
        case _: BroadcastExchangeExec => bump("plan.exchanges")
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bump("plan.broadcast_joins")
        case _: SortMergeJoinExec => bump("plan.sort_merge_joins")
        case _: ExpandExec => bump("plan.expands")
        case _: WindowExec => bump("plan.windows")
        case _: WholeStageCodegenExec => bump("codegen.wscg_stages")
        case r: AQEShuffleReadExec =>
          if (r.isCoalescedRead) bump("plan.aqe_coalesced")
          if (r.hasSkewedPartition) bump("plan.aqe_skew_splits")
        case _ =>
      }
      if (p.getClass.getSimpleName == "SnapScanExec") bump("plan.snap_scans")
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so that every
  * session of the context reports, including the child sessions some
  * members plan in; forwards to the attached [[Tracer]], if any.
  */
class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Tracer.current).foreach(_.onQueryExecution(qe, durationNs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Tracer.current).foreach(_.onQueryExecution(qe, 0L))
}

object Tracer {
  @volatile private[perfbench] var current: Tracer = null

  /** The optimizer rules the engine injects (GraftExtensions). */
  val graftRules: Seq[String] =
    Seq("FoldDotProduct", "BitmapDistinct", "DistinctThenCount", "MultiDistinctSplit")

  val planKeys: Seq[String] = Seq("plan.exchanges", "plan.reused_exchanges", "plan.single_partition",
    "plan.broadcast_joins", "plan.sort_merge_joins", "plan.expands", "plan.windows",
    "plan.snap_scans", "plan.aqe_coalesced", "plan.aqe_skew_splits")
}

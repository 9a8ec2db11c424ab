package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Turns what the [[Tracer]] saw into the per-layer metrics, the span
  * file and the per-member plan-shape counts. Unless a name says
  * otherwise, a metric is a mean per traced member execution (batch) or
  * per committed micro-batch (stream).
  */
object Layers {

  /** Every per-layer metric name, in report order. */
  val names: Seq[String] = Seq(
    "queries.build_ms", "queries.build_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "optimizer.rule_ms", "optimizer.rule_runs", "optimizer.rule_effective_ratio",
    "codegen.compile_ms", "codegen.compiles", "codegen.wscg_stages", "codegen.miss_ratio",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.delay_ms",
    "scheduler.driver_gap_ms", "scheduler.tasks_failed",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms", "executor.deserialize_ms",
    "executor.busy_ratio",
    "shuffle.write_bytes", "shuffle.write_ms", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.records_read",
    "memory.spill_bytes", "memory.peak_exec_bytes") ++ Tracer.planKeys ++ Seq(
    "materialize.blocks", "materialize.block_bytes", "materialize.storage_mb",
    "session_cache.build_ms",
    "stream.add_batch_ms", "stream.planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms",
    "state.rows_total", "state.memory_bytes", "state.commit_ms", "state.update_ms",
    "state.rows_dropped_late",
    "trace.overhead_ratio", "trace.overlap_ratio",
    "host.loadavg_1m", "host.steal_s", "host.calibration_ms")

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def phaseMs(e: Execution, phase: String): Double =
    e.phases.collect { case (p, s) if p == phase => s.ms.toDouble }.sum

  private def jobSpans(e: Execution): Seq[Span] =
    e.jobs.toSeq.map(j => Span(j.submitted, if (j.ended > 0) j.ended else e.wall.end))

  /** Wall time of `e` not covered by its build, planning phases or jobs. */
  def driverGapMs(e: Execution): Double =
    e.wall.ms - Span.unionMs(Seq(e.build) ++ e.phases.map(_._2) ++ jobSpans(e), e.wall)

  private def hostMetrics(host: Map[String, Any]): Map[String, Double] = {
    def d(k: String) = host(k).asInstanceOf[Double]
    Map("host.loadavg_1m" -> d("loadavg_1m_end"), "host.steal_s" -> d("steal_s"),
      "host.calibration_ms" -> (d("calibration_ms_start") + d("calibration_ms_end")) / 2)
  }

  private def taskMetrics(sums: Seq[TaskSums], n: Int, busyWallMs: Double, cpus: Int): Map[String, Double] = {
    def per(f: TaskSums => Long) = if (n == 0) 0.0 else sums.map(f).sum.toDouble / n
    Map(
      "scheduler.tasks" -> per(_.tasks), "scheduler.delay_ms" -> per(_.delayMs),
      "scheduler.tasks_failed" -> sums.map(_.failed).sum.toDouble,
      "executor.run_ms" -> per(_.runMs), "executor.cpu_ms" -> per(_.cpuNs) / 1e6,
      "executor.gc_ms" -> per(_.gcMs), "executor.deserialize_ms" -> per(_.deserMs),
      "executor.busy_ratio" ->
        (if (busyWallMs <= 0) 0.0 else sums.map(_.runMs).sum / (busyWallMs * cpus)),
      "shuffle.write_bytes" -> per(_.shWriteBytes), "shuffle.write_ms" -> per(_.shWriteNs) / 1e6,
      "shuffle.read_bytes" -> per(_.shReadBytes), "shuffle.fetch_wait_ms" -> per(_.fetchWaitMs),
      "shuffle.records_read" -> per(_.shRecords),
      "memory.spill_bytes" -> per(_.spill),
      "memory.peak_exec_bytes" -> (if (sums.isEmpty) 0.0 else sums.map(_.peakExec).max.toDouble))
  }

  /** Per-layer metrics of a batch run, the plan counts per member, and the
    * span file `spans.json` in `work`.
    */
  def batch(t: Tracer, cold: Seq[Execution], traced: Seq[Execution], timed: Seq[Execution],
      rounds: Seq[(Boolean, Double, Int)], cg0: (Long, Long), cg1: (Long, Long),
      tracedCg: (Long, Long), cpus: Int, host: Map[String, Any],
      work: String): (Map[String, Double], Map[String, Map[String, Long]], Map[String, Map[String, Double]]) = {
    val ok = traced.filterNot(_.failed)
    val n = ok.size
    def m(f: Execution => Double) = mean(ok.map(f))
    val rules = ok.flatMap(_.rules.values)
    val runs = rules.map(_._2).sum
    val wscg = ok.map(_.plan("codegen.wscg_stages")).sum
    val tracedWallMs = rounds.filter(_._1).map(_._2 * 1e3).sum
    val perExec = (traced: Boolean) => {
      val rs = rounds.filter(_._1 == traced)
      rs.map(_._2).sum / math.max(1, rs.map(_._3).sum)
    }
    val warm = timed.filterNot(_.failed).groupBy(_.member)
      .map { case (k, es) => k -> Harness.quantile(es.map(_.seconds), 0.5) }
    val cacheBuildMs = cold.filterNot(_.failed).map { e =>
      val (blocks, _) = t.blocksIn(e.wall)
      if (blocks > 0 && warm.contains(e.member)) math.max(0.0, e.seconds - warm(e.member)) * 1e3
      else 0.0
    }.sum
    // wall = build + catalyst phases + jobs + driver gap - overlap, where
    // overlap is time two of those parts share (planning inside a build,
    // AQE re-planning while jobs run)
    def parts(e: Execution) = Map("wall_ms" -> e.wall.ms.toDouble, "build_ms" -> e.build.ms.toDouble,
      "catalyst_ms" -> e.phases.map(_._2.ms).sum.toDouble,
      "jobs_ms" -> Span.unionMs(jobSpans(e), e.wall).toDouble, "driver_gap_ms" -> driverGapMs(e))
    def overlapMs(p: Map[String, Double]) =
      p("build_ms") + p("catalyst_ms") + p("jobs_ms") + p("driver_gap_ms") - p("wall_ms")
    val overlap = ok.map { e => val p = parts(e); overlapMs(p) / math.max(1.0, p("wall_ms")) }
    val accounting = ok.groupBy(_.member).map { case (member, es) =>
      val ps = es.map(parts)
      val avg = ps.head.keys.map(k => k -> mean(ps.map(_(k)))).toMap
      member -> (avg + ("overlap_ms" -> overlapMs(avg)))
    }
    val layers = Map(
      "queries.build_ms" -> m(_.build.ms.toDouble),
      "queries.build_jobs" -> m(e => e.jobs.count(j => j.submitted <= e.build.end).toDouble),
      "catalyst.analysis_ms" -> m(phaseMs(_, "analysis")),
      "catalyst.optimization_ms" -> m(phaseMs(_, "optimization")),
      "catalyst.planning_ms" -> m(phaseMs(_, "planning")),
      "optimizer.rule_ms" -> m(_.rules.values.map(_._1).sum / 1e6),
      "optimizer.rule_runs" -> m(_.rules.values.map(_._2).sum.toDouble),
      "optimizer.rule_effective_ratio" -> (if (runs == 0) 0.0 else rules.map(_._3).sum.toDouble / runs),
      "codegen.compile_ms" -> (cg1._1 - cg0._1) / 1e6,
      "codegen.compiles" -> (cg1._2 - cg0._2).toDouble,
      "codegen.wscg_stages" -> m(_.plan("codegen.wscg_stages").toDouble),
      "codegen.miss_ratio" -> (if (wscg == 0) 0.0 else tracedCg._2.toDouble / wscg),
      "scheduler.jobs" -> m(_.jobs.size.toDouble),
      "scheduler.stages" -> m(_.jobs.map(_.stages.size).sum.toDouble),
      "scheduler.driver_gap_ms" -> m(driverGapMs),
      "materialize.blocks" -> m(e => t.blocksIn(e.wall)._1.toDouble),
      "materialize.block_bytes" -> m(e => t.blocksIn(e.wall)._2.toDouble),
      "materialize.storage_mb" -> t.storageBytes / 1e6,
      "session_cache.build_ms" -> cacheBuildMs,
      "trace.overhead_ratio" -> (if (perExec(false) > 0) perExec(true) / perExec(false) else 0.0),
      "trace.overlap_ratio" -> mean(overlap)) ++
      Tracer.planKeys.map(k => k -> m(_.plan(k).toDouble)) ++
      taskMetrics(ok.map(e => t.taskSums(e.id)), n, tracedWallMs, cpus) ++
      hostMetrics(host)
    writeSpans(work, cold ++ traced)
    val plans = ok.groupBy(_.member).map { case (member, es) =>
      member -> Tracer.planKeys.map(k => k -> es.last.plan(k)).toMap
    }
    (complete(layers), plans, accounting)
  }

  /** Per-layer metrics of a stream run's capacity phase: `phase` covers
    * the phase (its jobs share the query's run id as job group), `batches`
    * are its committed data batches after the first.
    */
  def stream(t: Tracer, phase: Execution,
      batches: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], cpus: Int,
      host: Map[String, Any]): Map[String, Double] = {
    val n = math.max(1, batches.size)
    def dur(k: String) = mean(batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      mean(batches.map(_.stateOperators.map(f).sum.toDouble))
    val layers = Map(
      "catalyst.analysis_ms" -> phaseMs(phase, "analysis") / n,
      "catalyst.optimization_ms" -> phaseMs(phase, "optimization") / n,
      "catalyst.planning_ms" -> phaseMs(phase, "planning") / n,
      "codegen.wscg_stages" -> phase.plan("codegen.wscg_stages").toDouble / n,
      "scheduler.jobs" -> phase.jobs.size.toDouble / n,
      "scheduler.stages" -> phase.jobs.map(_.stages.size).sum.toDouble / n,
      "stream.add_batch_ms" -> dur("addBatch"), "stream.planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"), "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "state.rows_total" -> state(_.numRowsTotal), "state.memory_bytes" -> state(_.memoryUsedBytes),
      "state.commit_ms" -> state(_.commitTimeMs), "state.update_ms" -> state(_.allUpdatesTimeMs),
      "state.rows_dropped_late" -> state(_.numRowsDroppedByWatermark),
      "materialize.storage_mb" -> t.storageBytes / 1e6) ++
      Tracer.planKeys.map(k => k -> phase.plan(k).toDouble / n) ++
      taskMetrics(Seq(t.taskSums(phase.id)), n, phase.wall.ms.toDouble, cpus) ++
      hostMetrics(host)
    complete(layers)
  }

  /** Every name in [[names]], zero where the run has no such layer. */
  def complete(m: Map[String, Double]): Map[String, Double] =
    names.map(k => k -> m.getOrElse(k, 0.0)).toMap

  /** Writes the span tree: `query` spans with `queries.build`, catalyst
    * phase and `job` children, each job with its `stage` children; a
    * query's self time is its `driver_gap_ms`.
    */
  def writeSpans(work: String, execs: Seq[Execution]): Unit = {
    val spans = execs.map { e =>
      val children = mutable.ArrayBuffer[Map[String, Any]](
        Map("name" -> "queries.build", "start" -> e.build.start, "end" -> e.build.end))
      e.phases.foreach { case (p, s) =>
        children += Map("name" -> s"catalyst.$p", "start" -> s.start, "end" -> s.end)
      }
      e.jobs.sortBy(_.jobId).foreach { j =>
        children += Map("name" -> "job", "job_id" -> j.jobId, "start" -> j.submitted, "end" -> j.ended,
          "children" -> j.stages.sortBy(_.stageId).map(s => Map("name" -> "stage",
            "stage_id" -> s.stageId, "attempt" -> s.attempt, "tasks" -> s.numTasks,
            "start" -> s.submitted, "end" -> s.completed)))
      }
      Map("name" -> "query", "id" -> e.id, "start" -> e.wall.start, "end" -> e.wall.end,
        "failed" -> e.failed, "driver_gap_ms" -> driverGapMs(e), "children" -> children)
    }
    Files.writeString(Paths.get(work, "spans.json"), Harness.json(spans) + "\n")
  }
}

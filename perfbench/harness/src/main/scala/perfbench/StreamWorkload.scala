package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.Streams

/** The `stream` workload: re-delivered events through
  * `Streams.dedupStream` into `Streams.tumblingCounts`, on the engine's
  * default (RocksDB) state store, in two phases, one after the other.
  *
  *  - open loop: the harness adds a fixed number of events every tick to a
  *    `MemoryStream`, at one fixed rate well below capacity. Each event's
  *    time is its due time on that schedule, so its latency (commit time
  *    of the batch that carried it minus its due time) includes any time
  *    it waited. (The `rate` source only offers whole seconds of data,
  *    which would add up to a second to every sample.)
  *  - capacity: closed loop on `rate-micro-batch`, which emits a fixed
  *    number of rows per batch, as fast as batches commit.
  *
  * Both phases write through `foreachBatch` into an in-memory table of
  * the latest row per window and event type; the gate compares each table
  * with the same operators run as a batch query over the same input.
  */
object StreamWorkload {

  private val Types = Seq("click", "error", "purchase", "signup", "view")

  /** Rows per capacity batch (32,000 events, each delivered twice). On
    * the 4-core reference machine a batch took 0.88 s at 16,000 rows,
    * 0.92 s at 64,000, 1.2 s at 128,000 and 1.5 s at 200,000 (median
    * trigger time, lightly loaded host). 64,000 is the largest size that
    * still commits at least five batches after batch 0 in the 8.1 s
    * capacity phase (`--seconds 18`) when the host is loaded: at 128,000
    * batches took 1.6-2 s there and only three to five were measured.
    */
  val CapacityRows = 64000

  /** Open loop: events per tick (each delivered twice) and tick length,
    * 5,000 events or 10,000 rows/s, about a seventh of the capacity
    * phase's 70,000 rows/s.
    */
  val TickEvents = 250
  val TickMs = 50L

  /** Open-loop ticks due in the first 4 s of the schedule are warm-up,
    * not sampled: the new query's batches take up to twice as long at
    * first and settle after four or five batches.
    */
  val WarmupMs = 4000L

  /** Event `i` of a deterministic stream: its id, user, type and value. */
  private def shape(idx: org.apache.spark.sql.Column, ts: org.apache.spark.sql.Column): DataFrame => DataFrame =
    _.select(idx.as("event_id"), ts.as("ts"), pmod(idx, lit(1000)).as("user_id"),
      element_at(array(Types.map(lit): _*), (pmod(idx, lit(Types.size)) + 1).cast("int")).as("event_type"),
      pmod(idx, lit(100)).cast("double").as("value"))

  /** Event time of capacity event `i`: one second per batch of
    * `CapacityRows / 2`, from 2024-01-01 (an event at the initial
    * watermark, epoch 0, would count as late).
    */
  private def capacityTs(i: org.apache.spark.sql.Column) =
    timestamp_millis(lit(1704067200000L) + (i / (CapacityRows / 2)).cast("long") * 1000)

  /** `Streams.dedupStream` feeding `Streams.tumblingCounts`' aggregation.
    * The aggregation is spelled out because `tumblingCounts` declares its
    * own watermark and Spark rejects a second watermark on one stream; the
    * dedup's watermark on `ts` bounds both operators' state.
    */
  private def pipeline(events: DataFrame): DataFrame =
    Streams.dedupStream(events, "10 seconds")
      .groupBy(window(col("ts"), "5 seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("total"))

  /** Latest aggregate per (window start, event type), fed by foreachBatch. */
  private final class Table {
    val rows = new ConcurrentHashMap[(Long, String), (Long, Double)]()
    val commitMs = new ConcurrentHashMap[Long, Long]()
    def sink(df: DataFrame, batchId: Long): Unit = {
      df.collect().foreach { r =>
        rows.put((r.getAs[Timestamp]("ws").getTime, r.getAs[String]("event_type")),
          (r.getAs[Long]("cnt"), r.getAs[Double]("total")))
      }
      commitMs.put(batchId, System.currentTimeMillis())
    }
    def asMap: Map[(Long, String), (Long, Double)] = rows.asScala.toMap
  }

  private def expected(df: DataFrame): Map[(Long, String), (Long, Double)] =
    pipeline(df).collect().map { r =>
      (r.getAs[Timestamp]("ws").getTime, r.getAs[String]("event_type")) ->
        (r.getAs[Long]("cnt"), r.getAs[Double]("total"))
    }.toMap

  private def start(df: DataFrame, table: Table, name: String, ckpt: String): StreamingQuery =
    df.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0L))
      .queryName(name)
      .foreachBatch((b: DataFrame, id: Long) => table.sink(b, id))
      .start()

  /** Data batches of `q` in batch order, from its own progress history. */
  private def dataBatches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  def run(a: Harness.Args): Map[String, Any] = {
    val (spark, setupS) = Harness.setUp(a)
    val host = new Harness.Host
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val errors = mutable.ArrayBuffer.empty[String]
    // the open loop runs first, so its first batch is the JVM's first
    // (cold_cpu_s, the JVM's CPU seconds until its commit, as for the batch
    // cold pass) and the capacity phase leaves it no background work; each
    // phase lasts its share of `seconds` from its query's first commit, and
    // the open loop gets the larger share, as its first WarmupMs are not
    // sampled
    val capS = a.seconds * 0.45
    val openS = a.seconds - capS

    // open-loop phase
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[Streams.Event] = Encoders.product[Streams.Event]
    val input = MemoryStream[Streams.Event]
    val due = mutable.LinkedHashMap.empty[Long, Long] // memory-stream offset -> due time (ms)
    val sent = mutable.ArrayBuffer.empty[Streams.Event]
    val openTable = new Table
    val openStart = System.currentTimeMillis()
    val openCpu0 = Harness.cpuS()
    val openQuery = start(pipeline(input.toDF()), openTable, "perfbench-open-loop", s"${a.work}/ckpt-open")
    def firstCommit(t: Table) = t.commitMs.asScala.values.minOption
    var tick = 0
    def send(dueMs: Long): Unit = {
      val evs = (0 until TickEvents).map { j =>
        val id = tick.toLong * TickEvents + j
        Streams.Event(id, new Timestamp(dueMs), id % 1000, Types((id % Types.size).toInt), (id % 100).toDouble)
      }
      sent ++= evs
      val off = input.addData(evs ++ evs) // every event is delivered twice
      due(off.json.toLong) = dueMs
      tick += 1
    }
    // one tick starts the cold first batch; the schedule starts at its commit
    send(openStart)
    while (firstCommit(openTable).isEmpty && openQuery.isActive) Thread.sleep(5)
    val coldCpuS = Harness.cpuS() - openCpu0
    val coldS = firstCommit(openTable).map(c => (c - openStart) / 1e3).getOrElse(Double.NaN)
    val genStart = firstCommit(openTable).getOrElse(openStart)
    val ticks = (openS * 1000 / TickMs).toInt
    val late = mutable.ArrayBuffer.empty[Long] // how late each tick was added (ms)
    (0 until ticks).takeWhile(_ => openQuery.isActive).foreach { i =>
      val dueMs = genStart + i * TickMs
      val wait = dueMs - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      send(dueMs)
      late += System.currentTimeMillis() - dueMs
    }
    openQuery.processAllAvailable()
    openQuery.stop()
    openQuery.exception.foreach(e => errors += s"open loop: ${e.getMessage}".take(400))
    val sampleFrom = genStart + WarmupMs
    // latency per event: commit time of the batch that carried it minus
    // its due time. All events of a tick share both, so one sample per
    // tick gives the per-event distribution, after the warm-up.
    val batchOfTick = dataBatches(openQuery).flatMap { p =>
      val from = Option(p.sources(0).startOffset).map(_.toLong).getOrElse(-1L)
      val to = p.sources(0).endOffset.toLong
      ((from + 1) to to).map(_ -> p.batchId)
    }.toMap
    val lat = due.toSeq.flatMap { case (off, dueMs) =>
      for (b <- batchOfTick.get(off); c <- Option(openTable.commitMs.get(b)) if dueMs >= sampleFrom)
        yield (c - dueMs) / 1e3
    }

    // capacity phase
    val capTable = new Table
    val capSrc = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", (CapacityRows / 2).toString)
      .option("numPartitions", a.cpus.toString)
      .option("advanceMillisPerBatch", "1000")
      .load()
    val capEvents = shape(col("value"), capacityTs(col("value")))(
      capSrc.select(col("value"), explode(array(lit(0), lit(1))).as("copy")))
    val capStart = System.currentTimeMillis()
    val capQuery = start(pipeline(capEvents), capTable, "perfbench-capacity", s"${a.work}/ckpt-capacity")
    while (capTable.commitMs.isEmpty && capQuery.isActive) Thread.sleep(5)
    Thread.sleep((capS * 1000).toLong)
    capQuery.stop()
    val capSpan = Span(capStart, System.currentTimeMillis())
    capQuery.exception.foreach(e => errors += s"capacity: ${e.getMessage}".take(400))
    // batch 0 of the new query still pays first-use costs (about twice a
    // later batch's time)
    val capBatches = dataBatches(capQuery).filter(_.batchId > 0)
    val committed = capTable.commitMs.asScala.keys.toSeq
    // rows committed (each source row is delivered twice) over the summed
    // trigger time of those batches; batches per second as one over the
    // median interval between their commits (batch 0's commit starts the
    // first), so one disturbed batch does not move it
    val rowsPerS = 2.0 * capBatches.map(_.numInputRows).sum /
      (capBatches.map(_.durationMs.get("triggerExecution").longValue).sum / 1e3)
    val capCommits = capTable.commitMs.asScala.toSeq.sortBy(_._1).map(_._2)
    val batchesPerS = 1 / (Harness.quantile(capCommits.zip(capCommits.drop(1)).map {
      case (a, b) => (b - a) / 1e3 }, 0.5))

    // gate: each phase's table equals the batch pipeline over its input
    // rate-micro-batch batch b holds values [b, b + 1) * rowsPerBatch
    val capInput = (if (committed.isEmpty) 0L else committed.max + 1) * (CapacityRows / 2)
    val capExpected = expected(shape(col("id"), capacityTs(col("id")))(spark.range(capInput).toDF()))
    val openExpected = expected(spark.createDataset(sent.toSeq).toDF())
    def check(want: Map[(Long, String), (Long, Double)], got: Map[(Long, String), (Long, Double)]) = {
      val keys = (want.keySet ++ got.keySet).toSeq.sortBy(_._1)
      val diffs = keys.filter(k => want.get(k) != got.get(k)).take(3)
        .map(k => s"$k: batch ${want.get(k)} vs stream ${got.get(k)}")
      Map("ok" -> diffs.isEmpty, "rows" -> want.size, "diffs" -> diffs)
    }
    val gate = Map("capacity" -> check(capExpected, capTable.asMap),
      "open_loop" -> check(openExpected, openTable.asMap))
    val allBatches = capTable.commitMs.size + openTable.commitMs.size

    val e2e = Map(
      "setup_s" -> setupS,
      "cold_cpu_s" -> coldCpuS,
      "latency_p50_s" -> Harness.quantile(lat, 0.5),
      "latency_p75_s" -> Harness.quantile(lat, 0.75),
      "queries_per_s" -> batchesPerS,
      "rows_per_s" -> rowsPerS,
      "peak_rss_mb" -> Harness.peakRssMb())
    val hostRec = host.record()
    val layers = tracer.map { t =>
      t.settle()
      val phase = new Execution(capQuery.runId.toString, "capacity", 1, capSpan,
        Span(capSpan.start, capSpan.start), capSpan.ms / 1e3, failed = false)
      t.attribute(Seq(phase))
      Layers.stream(t, phase, capBatches, a.cpus, hostRec)
    }
    tracer.foreach(_.detach())
    val result = Map(
      "workload" -> a.workload, "kind" -> "stream", "seed" -> a.seed,
      "attempted" -> allBatches, "failed" -> errors.size, "errors" -> errors,
      "end_to_end" -> e2e, "latency_samples" -> lat.size, "cold_wall_s" -> coldS,
      "latency_p90_s" -> Harness.quantile(lat, 0.9),
      "generator_late_ms" -> Map("p50" -> Harness.quantile(late.map(_.toDouble).toSeq, 0.5),
        "max" -> (if (late.isEmpty) 0L else late.max)),
      "capacity_batches" -> capBatches.size, "open_loop_rate_events_per_s" -> TickEvents * 1000 / TickMs,
      "trigger_ms" -> Map("capacity" -> dataBatches(capQuery).map(_.durationMs.get("triggerExecution")),
        "open_loop" -> dataBatches(openQuery).map(_.durationMs.get("triggerExecution"))),
      "host" -> hostRec, "stream_gate" -> gate) ++
      layers.map(l => Map("per_layer" -> l)).getOrElse(Map.empty)
    Harness.dropSession(spark)
    result
  }
}

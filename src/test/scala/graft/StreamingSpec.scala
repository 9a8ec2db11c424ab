package graft

import java.sql.Timestamp

import graft.streaming.Streams
import graft.streaming.Streams.Event
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured-Streaming specs (SURVEY.md §5 StreamTest pattern): feed the
  * sf0.001 events through MemoryStream in micro-batches and assert the
  * incremental results equal the batch computation of the same graph.
  */
class StreamingSpec extends SparkSpecBase {

  private lazy val batchEvents: Seq[Event] = {
    val loaded = Tables.load(spark, sf, "events")
    // Loud one-line failure if a driver fixture regeneration changes the
    // physical timestamp flavor and the Tables.doLoad seam stops
    // normalizing it (r6: NTZ surfaced here as 17 ClassCastExceptions).
    assert(loaded.schema("ts").dataType == org.apache.spark.sql.types.TimestampType,
      s"Tables.load left events.ts as ${loaded.schema("ts").dataType}; " +
        "expected TIMESTAMP — fix the Tables.doLoad normalization seam")
    val rows = loaded
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
    rows.map(r => Event(r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  private def runStream[T](name: String, mode: OutputMode,
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      chunks: Seq[Seq[Event]]): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = build(input.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  private def chunked(es: Seq[Event], n: Int = 8): Seq[Seq[Event]] = {
    val size = math.max(1, es.size / n)
    es.grouped(size).toSeq
  }

  test("streaming tumbling counts (complete mode) equal batch") {
    val got = runStream("t_tumb", OutputMode.Complete,
      df => Streams.tumblingCounts(df), chunked(batchEvents))
      .select("ws", "event_type", "cnt")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("NTZ event time: watermark rejects NTZ upstream; the load-seam LTZ normalization is the streaming path") {
    // Two halves of the engine's NTZ streaming contract (r7):
    // (a) Spark itself REFUSES TIMESTAMP_NTZ as a watermark column
    //     (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — pinned here so an
    //     upstream change that starts allowing it is noticed, and
    // (b) therefore normalizing NTZ inputs to LTZ at the load seam
    //     (Tables.doLoad, UTC session) is not merely a convenience: it is
    //     what makes an NTZ-encoded source watermarkable at all. The
    //     normalized column drives a watermarked windowed agg whose NTZ
    //     re-cast output matches the batch NTZ twin (queries/Ntz.scala).
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Event]
      input.toDF()
        .withColumn("tsn", col("ts").cast("timestamp_ntz"))
        .withWatermark("tsn", "10 minutes")
        .groupBy(window(col("tsn"), "1 hour")).count()
        .writeStream.format("memory").queryName("t_ntz_reject")
        .outputMode(OutputMode.Append).start()
    }
    assert(e.getCondition == "EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE",
      s"expected the NTZ watermark refusal, got: ${e.getMessage.take(200)}")

    def graph(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .selectExpr("unix_micros(CAST(CAST(window.start AS TIMESTAMP_NTZ) AS TIMESTAMP)) AS ws_us", "cnt")
    val got = runStream("t_tumb_ntzpath", OutputMode.Append,
      graph, chunked(batchEvents))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .selectExpr("unix_micros(CAST(CAST(window.start AS TIMESTAMP_NTZ) AS TIMESTAMP)) AS ws_us", "cnt")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Append emits only watermark-closed windows; the final window may
    // stay open when the stream drains.
    assert(got.subsetOf(want), s"stream emitted rows batch never produced: ${got -- want}")
    assert(want.size - got.size <= 1,
      s"more than the final window failed to close: got ${got.size} of ${want.size}")
  }

  test("stream-static dim enrichment (complete mode) equals batch and keeps zero join state") {
    // The dim: user_id -> segment, a STATIC DataFrame resolved once.
    val dim = Tables.load(spark, sf, "events")
      .select(col("user_id")).distinct()
      .withColumn("segment", concat(lit("seg_"), pmod(col("user_id"), lit(3))))
    val got = runStream("t_dimjoin", OutputMode.Complete,
      df => Streams.enrichWithDim(df, dim), chunked(batchEvents))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val want = Streams.enrichWithDim(
      Tables.load(spark, sf, "events")
        .select("event_id", "ts", "user_id", "event_type", "value"), dim)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    // Plan check: a static side never plans the symmetric stateful join —
    // only the streaming AGGREGATION holds state.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.enrichWithDim(input.toDF(), dim)
      .writeStream.format("memory").queryName("t_dimplan").outputMode(OutputMode.Complete)
      .start()
    try {
      input.addData(batchEvents.take(10)); q.processAllAvailable()
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StreamingSymmetricHashJoin"),
        s"static side planned as stateful join:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"dim not broadcast:\n$plan")
    } finally q.stop()
  }

  // Compact synthetic timeline for dedup-state tests: the fixture's first
  // 120 events span DAYS, so with a 10-minute watermark any re-delivery
  // would be discarded as LATE DATA before dedup state is even consulted —
  // masking the mechanism under test. One event per second keeps every
  // re-delivery inside the watermark horizon.
  private def synthEvents(n: Int): Seq[Event] = {
    val t0 = 1700000000000L
    (0 until n).map(i => Event(i.toLong, new Timestamp(t0 + i * 1000L),
      (i % 7).toLong, if (i % 3 == 0) "purchase" else "click", i * 1.0))
  }

  test("dropDuplicatesWithinWatermark dedups re-deliveries with drifted timestamps") {
    // The 4.x watermark-relative dedup variant: unlike dropDuplicates on
    // (id, ts), a re-delivery whose TIMESTAMP moved (retry after delay —
    // the at-least-once-source reality) still dedups, because state is
    // keyed on id alone and retained one watermark interval. The 120
    // events span 2 minutes, so the +1s drifted batch is comfortably
    // within the 10-minute horizon — a plain (id, ts) dedup WOULD emit
    // the 30 drifted rows and fail this count.
    val es = synthEvents(120)
    val drifted = es.take(30).map(e =>
      e.copy(ts = new Timestamp(e.ts.getTime + 1000))) // same ids, moved ts
    val got = runStream("t_dedup_wm", OutputMode.Append,
      df => df.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id"),
      chunked(es, 4) :+ drifted)
    assert(got.count() == es.size,
      s"drifted re-deliveries not deduped: ${got.count()} vs ${es.size}")
  }

  test("streaming content dedup keeps one row per normalized text digest") {
    // The ingest-pipeline shape: duplicate documents (exact + whitespace/
    // case variants) re-delivered across micro-batches with drifted
    // timestamps must all collapse onto the first-seen digest.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val texts = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).take(100)
    val t0 = 1700000000000L
    def doc(id: Long, txt: String, offSec: Long) =
      (id, new java.sql.Timestamp(t0 + offSec * 1000), txt)
    val batch1 = texts.map { case (id, tx) => doc(id, tx, id % 60) }
    val batch2 = texts.take(40).map { case (id, tx) =>
      doc(id + 100000, tx.toUpperCase + "  ", 60 + id % 60) } // drifted near-dups
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Streams.dedupDocStream(input.toDF().toDF("doc_id", "ts", "text"))
      .writeStream.format("memory").queryName("t_docdedup")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(batch1.toSeq); q.processAllAvailable()
      input.addData(batch2.toSeq); q.processAllAvailable()
      val kept = spark.table("t_docdedup")
      val norm = (t: String) => t.toLowerCase.replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim
      val distinctDigests = texts.map(t => norm(t._2)).distinct.length
      assert(kept.count() == distinctDigests,
        s"${kept.count()} kept vs $distinctDigests distinct normalized texts")
      // every survivor is a batch-1 row: the drifted variants all deduped
      assert(kept.filter(col("doc_id") >= 100000L).count() == 0)
    } finally q.stop()
  }

  test("illegal streaming plans are rejected up front (UnsupportedOperationChecker)") {
    // SURVEY §7.6b: output-mode legality must fail at ANALYSIS time, not
    // silently emit wrong results batches later.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def startIllegal(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        mode: OutputMode) = {
      val input = MemoryStream[Event]
      val q = build(input.toDF()).writeStream
        .format("memory").queryName("t_illegal").outputMode(mode).start()
      try { input.addData(batchEvents.take(5)); q.processAllAvailable() }
      finally q.stop()
    }
    // un-watermarked aggregate in APPEND mode: windows can never finalize
    intercept[Exception] {
      startIllegal(df => df.groupBy(window(col("ts"), "1 hour")).count(), OutputMode.Append)
    }
    // global ORDER BY on a stream outside COMPLETE mode
    intercept[Exception] {
      startIllegal(df => df.orderBy(col("ts")), OutputMode.Append)
    }
    // plain DISTINCT-style aggregation in UPDATE is fine — sanity check the
    // harness rejects only the illegal shapes
    startIllegal(df => df.groupBy(col("event_type")).count(), OutputMode.Update)
  }

  test("streaming dedup removes duplicate event_ids across micro-batches") {
    // Synthetic compact timeline (200 events over ~3.3 min): the re-fed
    // batch is genuinely WITHIN the 10-minute watermark, so the emitted
    // rows can only be deduped by dropDuplicates STATE — not by the
    // late-data filter (which is what the fixture's multi-day span would
    // have exercised instead).
    val es = synthEvents(200)
    val withDups = chunked(es, 4) :+ es.take(50) // re-feed within watermark
    val got = runStream("t_dedup", OutputMode.Append,
      df => Streams.dedupStream(df), withDups)
    assert(got.count() == es.size)
    assert(got.select("event_id").distinct().count() == es.size)
  }

  test("stream-stream purchase-click join equals batch join") {
    val got = runStream("t_join", OutputMode.Append,
      df => Streams.purchaseClickJoin(df).select("p_id", "c_id"), chunked(batchEvents))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
  }

  test("StreamingQueryListener observes start, per-batch row counts, and termination") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    // the ops-monitoring surface a production pipeline wires to metrics:
    // every declared streaming graph emits progress rows through this API
    val started = new java.util.concurrent.atomic.AtomicInteger
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val inputRows = new java.util.concurrent.atomic.AtomicLong
    // scope every event to THIS query (by name / its runIds): the shared
    // session's listener bus may still deliver queued events of earlier
    // streams after addListener, and the terminated event carries only
    // the runId
    val runIds = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == "t_listener") { runIds.add(e.runId); started.incrementAndGet() }
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == "t_listener") inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (runIds.contains(e.runId)) terminated.incrementAndGet()
    }
    spark.streams.addListener(listener)
    try {
      runStream("t_listener", OutputMode.Append,
        df => df.select("event_id"), chunked(batchEvents.take(64)))
      // listener events are delivered asynchronously after stop()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while ((started.get == 0 || terminated.get == 0 || inputRows.get < 64) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      assert(started.get >= 1, "no QueryStartedEvent")
      assert(terminated.get >= 1, "no QueryTerminatedEvent")
      assert(inputRows.get == 64,
        s"progress row counts must sum to the input size, got ${inputRows.get}")
    } finally spark.streams.removeListener(listener)
  }

  test("stream-stream LEFT SEMI join emits each matched purchase once, equals batch") {
    // semi joins keep symmetric state like inner but project only the left
    // side and must emit a matched purchase EXACTLY once even when several
    // clicks fall in its interval — the dedup is the operator's contract
    val rows = runStream("t_join_semi", OutputMode.Append,
      df => Streams.purchaseClickJoin(df, "left_semi").select("p_id"), chunked(batchEvents))
      .collect().map(_.getLong(0)).toSeq
    assert(rows.size == rows.distinct.size,
      s"semi join emitted duplicates: ${rows.size} rows, ${rows.distinct.size} distinct")
    val ev = Tables.load(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"),
        "left_semi")
      .select("p_id")
      .collect().map(_.getLong(0)).toSet
    assert(rows.toSet == want)
  }

  test("streaming session_window (append) emits watermark-closed sessions equal to batch") {
    val sentinel = Event(-1L, new Timestamp(batchEvents.last.ts.getTime + 10L * 24 * 3600 * 1000),
      -999L, "view", 0.0)
    val got = runStream("t_sw", OutputMode.Append,
      df => Streams.sessionWindows(df), chunked(batchEvents) :+ Seq(sentinel))
      .filter(col("user_id") =!= -999L)
      .select("user_id", "ss", "cnt")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("stream-stream join state stays watermark-bounded (evicted, not cumulative)") {
    // The 100-TB streaming claim made empirical: after the whole input is
    // processed in ts order, the symmetric-hash-join state holds only the
    // watermark horizon (10/20 min + the 10-min range), not the history.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = Streams.purchaseClickJoin(input.toDF())
      .writeStream.format("memory").queryName("t_state_bound")
      .outputMode(OutputMode.Append).start()
    try {
      chunked(batchEvents, 16).foreach { c => input.addData(c); q.processAllAvailable() }
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty, "no stateful operator reported progress")
      val stateRows = state.map(_.numRowsTotal).sum
      val joinInput = batchEvents.count(e => e.event_type == "purchase" || e.event_type == "click")
      assert(stateRows > 0, "join kept no state at all — nothing was buffered")
      assert(stateRows < joinInput / 2,
        s"state $stateRows vs $joinInput join-side inputs — watermark is not evicting")
    } finally q.stop()
  }

  test("multiple watermarks: the global watermark is the MIN across inputs") {
    // Two watermarked inputs unioned into one aggregation: a window may
    // only close when BOTH inputs' watermarks have passed it (default
    // multipleWatermarkPolicy=min) — the slowest source gates emission.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val fast = MemoryStream[Event]
    val slow = MemoryStream[Event]
    val df = fast.toDF().withWatermark("ts", "10 minutes")
      .unionByName(slow.toDF().withWatermark("ts", "10 minutes"))
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))
    val q = df.writeStream.format("memory").queryName("t_multiwm")
      .outputMode(OutputMode.Append).start()
    try {
      val t0 = batchEvents.head.ts.getTime
      def ev(offMin: Long) =
        Event(offMin, new Timestamp(t0 + offMin * 60000L), 1L, "view", 0.0)
      // fast races 5 hours ahead; slow stays at t0 — nothing may close yet
      fast.addData(Seq(ev(0), ev(300)))
      slow.addData(Seq(ev(1)))
      q.processAllAvailable()
      assert(spark.table("t_multiwm").count() == 0,
        "window closed although the slow input's watermark had not passed it")
      // slow catches up to t0+200min: global wm = t0+190min — only the
      // early windows (holding ev(0) and ev(1)) close; ev(200)/ev(300)'s
      // own windows stay open.
      slow.addData(Seq(ev(200)))
      q.processAllAvailable()
      val closed = spark.table("t_multiwm").collect().map(_.getLong(1)).toSeq
      assert(closed.nonEmpty, "first window did not close after the slow input advanced")
      assert(closed.sum == 2, s"closed windows should hold the 2 early events, got $closed")
    } finally q.stop()
  }

  test("streaming dynamic-gap session_window (append) equals batch") {
    // Gap depends on each event's own type (purchase 60m, else 30m) —
    // merge semantics are interval-union, not a constant-gap lag compare.
    val sentinel = Event(-1L, new Timestamp(batchEvents.last.ts.getTime + 10L * 24 * 3600 * 1000),
      -999L, "view", 0.0)
    val got = runStream("t_swdyn", OutputMode.Append,
      df => Streams.sessionWindowsDynamic(df), chunked(batchEvents) :+ Seq(sentinel))
      .filter(col("user_id") =!= -999L)
      .select("user_id", "ss", "cnt")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(
        session_window(col("ts"),
          when(col("event_type") === "purchase", "60 minutes").otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("session_window.start"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("checkpoint recovery: restart resumes exactly-once (no reprocessing)") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("graft-ckpt-in").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    val schema = ev.schema
    val seen = java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]())
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    def start() = spark.readStream.schema(schema).json(inDir)
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select("event_id").collect().map(_.getLong(0))
        total.addAndGet(ids.length)
        ids.foreach(id => seen.add(id)): Unit
      }
      .start()
    ev.limit(120).write.mode("append").json(inDir)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val afterFirst = total.get()
    // new files + restart from the same checkpoint: the WAL (OffsetSeqLog/
    // CommitLog) must skip everything already committed
    ev.orderBy(col("event_id").desc).limit(80).write.mode("append").json(inDir)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(afterFirst == 120, s"first run processed $afterFirst")
    assert(total.get() == 200, s"reprocessing detected: ${total.get()} rows total")
    // Stronger than row counts: the processed id SET must equal the input
    // id set — a restart that reprocessed committed rows while skipping an
    // equal number of new ones keeps total==200 but breaks this.
    import scala.jdk.CollectionConverters._
    val inputIds = spark.read.schema(schema).json(inDir)
      .select("event_id").collect().map(_.getLong(0))
    assert(total.get() == inputIds.length)
    assert(seen.asScala.toSet == inputIds.toSet,
      s"processed ids diverge from input ids by ${(seen.asScala.toSet -- inputIds.toSet).size} extra / ${(inputIds.toSet -- seen.asScala.toSet).size} missing")
  }

  test("chained stateful operators: streaming dedup feeding windowed aggregation") {
    val es = batchEvents.take(400)
    val withDups = chunked(es, 4) :+ es.take(80)
    val got = runStream("t_chain", OutputMode.Append,
      df => Streams.dedupStream(df) // already watermarked on ts
        .groupBy(window(col("ts"), "1 hour")).count()
        .select(col("window.start").as("ws"), col("count")),
      withDups)
    // append mode withholds windows not yet passed by the watermark; every
    // emitted window must match the batch count over the DEDUPED input
    val want = spark.createDataFrame(spark.sparkContext.parallelize(es.map(e =>
        org.apache.spark.sql.Row(e.event_id, e.ts))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType))))
      .groupBy(window(col("ts"), "1 hour")).count()
      .select(col("window.start").as("ws"), col("count"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val gotRows = got.collect().map(r => r.getTimestamp(0) -> r.getLong(1))
    assert(gotRows.nonEmpty, "no windows emitted")
    gotRows.foreach { case (ws, n) =>
      assert(want.get(ws).contains(n), s"window $ws: got $n want ${want.get(ws)}")
    }
  }

  test("chained stateful operators: stream-stream join feeding windowed aggregation equals batch") {
    // TWO stateful operators in one graph — SymmetricHashJoin state then
    // windowed-agg state. The agg's input watermark is the join's OUTPUT
    // watermark (input watermark minus the join's interval bound), the
    // per-operator propagation Spark 3.4+ added; a window may only emit
    // once THAT delayed watermark passes it, so matching batch exactly on
    // every emitted window is the semantics under test. Sentinels a day
    // ahead (non-matching users) push the final watermark past all data.
    val es = synthEvents(600) // 10-minute span, users 0..6, p/c interleaved
    val far = new Timestamp(es.last.ts.getTime + 24L * 3600 * 1000)
    val sentinels = Seq(
      Event(-1L, far, -999L, "purchase", 0.0),
      Event(-2L, far, -998L, "click", 0.0))
    val fed = chunked(es, 6) :+ sentinels
    val got = runStream("t_chain_joinagg", OutputMode.Append,
      df => Streams.purchaseClickJoin(df)
        .groupBy(window(col("p_ts"), "2 minutes"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("cnt")),
      fed)
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val all = (es ++ sentinels).toDF()
    val p = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = all.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .groupBy(window(col("p_ts"), "2 minutes")).agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("cnt"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "no windows emitted by the join→agg chain")
    // every data window must have emitted (sentinel watermark passed all
    // of them) and match the batch count exactly
    want.filterNot(_._1.getTime >= far.getTime - 2 * 60 * 1000).foreach {
      case (ws, n) =>
        assert(got.get(ws).contains(n), s"window $ws: got ${got.get(ws)} want $n")
    }
    got.foreach { case (ws, n) =>
      assert(want.get(ws).contains(n), s"spurious window $ws=$n not in batch")
    }
  }

  test("chained stateful operators: streaming dedup feeding stream-stream join equals batch") {
    // dedup state feeding join state: re-delivered events (at-least-once
    // source) must be dropped BEFORE the symmetric join, or every re-fed
    // purchase/click would re-emit its matches downstream — the chain IS
    // the exactly-once ingest shape. Equality with the batch join over
    // DISTINCT events proves both stores compose.
    val es = synthEvents(400)
    val withDups = chunked(es, 4) :+ es.take(100) // re-feed within watermark
    // The join CANNOT call withWatermark again downstream of the dedup:
    // redefining a watermark below a stateful operator is disallowed once
    // multiple stateful operators are permitted (Spark pins this —
    // [STREAM_FAILED] "Redefining watermark is disallowed"). The legal
    // chain derives BOTH join sides from the dedup's output, whose single
    // upstream watermark tag propagates through the projections into
    // p_ts/c_ts and drives the join's state eviction.
    val got = runStream("t_chain_dedupjoin", OutputMode.Append,
      df => {
        val dd = Streams.dedupStream(df)
        val p = dd.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"))
        val c = dd.filter(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        p.join(c,
            col("p_user") === col("c_user") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
              col("c_ts") <= col("p_ts"))
          .select("p_id", "c_id")
      },
      withDups)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == got.distinct.size,
      s"re-fed events re-emitted join matches: ${got.size} rows, ${got.distinct.size} distinct")
    import spark.implicits._
    val all = es.toDF()
    val p = all.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
    val c = all.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val want = p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select("p_id", "c_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.toSet == want)
  }

  test("Update output mode emits per-batch deltas; last update per key equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 200L * 24 * 3600 * 1000 // midnight, so windows align
    def ev(id: Long, offsetMin: Long, typ: String) =
      Event(id, new Timestamp(t0 + offsetMin * 60000), 1L, typ, 1.0)
    // same 1h window fed across two batches (second stays inside the
    // 10-min watermark), then a far batch closes it
    val feed = Seq(
      Seq(ev(1, 5, "click"), ev(2, 10, "click"), ev(3, 12, "view")),
      Seq(ev(4, 20, "click")),
      Seq(ev(5, 180, "view")))
    val input = MemoryStream[Event]
    // (batchId, ws, event_type, cnt) for every Update-mode emission
    val emissions = scala.collection.mutable.ArrayBuffer.empty[(Long, Timestamp, String, Long)]
    val q = Streams.tumblingCounts(input.toDF())
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.select("ws", "event_type", "cnt").collect().foreach(r =>
          emissions.synchronized {
            emissions += ((id, r.getTimestamp(0), r.getString(1), r.getLong(2)))
          }): Unit
      }
      .start()
    try {
      feed.foreach { c => input.addData(c); q.processAllAvailable() }
      q.processAllAvailable()
    } finally q.stop()
    val want = spark.createDataset(feed.flatten)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = emissions.groupBy { case (_, ws, et, _) => (ws, et) }
      .map { case (k, es) => k -> es.maxBy(_._1)._4 } // last emission per key
    assert(got == want, "last Update emission per key must equal the batch count")
    // Update mode's point vs Complete/Append: the still-open window re-emits
    // with the grown count when batch 2 extends it (cnt 2 then 3)
    val clickKey = emissions.filter(e => e._3 == "click").map(e => (e._1, e._4)).sorted
    assert(clickKey.map(_._2) == Seq(2L, 3L),
      s"expected the click window to emit cnt=2 then cnt=3; got $clickKey")
  }

  test("stream-stream left-outer join: null-padded row emits only after watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 100L * 24 * 3600 * 1000 // arbitrary base instant
    def ev(id: Long, offsetMin: Long, user: Long, typ: String) =
      Event(id, new Timestamp(t0 + offsetMin * 60000), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = Streams.purchaseClickJoin(input.toDF(), "left_outer")
      .select("p_id", "c_id")
      .writeStream.format("memory").queryName("t_lojoin").outputMode(OutputMode.Append)
      .start()
    try {
      // P1 has a click 5 min earlier (matches); P2 has none
      input.addData(Seq(ev(10, 0, 1, "click"), ev(11, 5, 1, "purchase"), ev(12, 5, 2, "purchase")))
      q.processAllAvailable()
      val early = spark.table("t_lojoin")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(early == Set((11L, Some(10L))),
        s"before watermark passes, only the matched row may emit; got $early")
      // advance BOTH sides' watermarks past P2's state-expiry bound
      input.addData(Seq(ev(98, 120, 9, "purchase"), ev(99, 120, 9, "click")))
      q.processAllAvailable()
      q.processAllAvailable()
      val late = spark.table("t_lojoin")
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(late.contains((12L, None)),
        s"unmatched purchase must emit null-padded after the watermark passes; got $late")
    } finally q.stop()
  }

  test("stream-stream right-outer join preserves unmatched clicks with null purchase side") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 100L * 24 * 3600 * 1000
    def ev(id: Long, offsetMin: Long, user: Long, typ: String) =
      Event(id, new Timestamp(t0 + offsetMin * 60000), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = Streams.purchaseClickJoin(input.toDF(), "right_outer")
      .select("p_id", "c_id")
      .writeStream.format("memory").queryName("t_rojoin").outputMode(OutputMode.Append)
      .start()
    try {
      // click 10 matches purchase 11; click 13 (user 3) has no purchase
      input.addData(Seq(ev(10, 0, 1, "click"), ev(11, 5, 1, "purchase"), ev(13, 0, 3, "click")))
      q.processAllAvailable()
      input.addData(Seq(ev(98, 120, 9, "purchase"), ev(99, 120, 9, "click")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("t_rojoin")
        .collect().map(r => (Option(r.get(0)), r.getLong(1))).toSet
      assert(got.contains((Some(11L), 10L)), s"matched row missing: $got")
      assert(got.contains((None, 13L)),
        s"unmatched click must emit null-padded after watermark: $got")
    } finally q.stop()
  }

  test("stream-stream full-outer join preserves unmatched rows on both sides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 100L * 24 * 3600 * 1000
    def ev(id: Long, offsetMin: Long, user: Long, typ: String) =
      Event(id, new Timestamp(t0 + offsetMin * 60000), user, typ, 1.0)
    val input = MemoryStream[Event]
    val q = Streams.purchaseClickJoin(input.toDF(), "full_outer")
      .select("p_id", "c_id")
      .writeStream.format("memory").queryName("t_fojoin").outputMode(OutputMode.Append)
      .start()
    try {
      // matched pair (user 1); lone purchase (user 2); lone click (user 3)
      input.addData(Seq(ev(10, 0, 1, "click"), ev(11, 5, 1, "purchase"),
        ev(12, 5, 2, "purchase"), ev(13, 0, 3, "click")))
      q.processAllAvailable()
      input.addData(Seq(ev(98, 120, 9, "purchase"), ev(99, 120, 9, "click")))
      q.processAllAvailable()
      q.processAllAvailable()
      val got = spark.table("t_fojoin")
        .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
      assert(got.contains((Some(11L), Some(10L))), s"matched row missing: $got")
      assert(got.contains((Some(12L), None)), s"unmatched purchase missing: $got")
      assert(got.contains((None, Some(13L))), s"unmatched click missing: $got")
    } finally q.stop()
  }

  test("transformWithState sessionization matches batch session_window") {
    import spark.implicits._
    val sentinel = Event(-1L, new Timestamp(batchEvents.last.ts.getTime + 10L * 24 * 3600 * 1000),
      -999L, "view", 0.0)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionizeTWS(input.toDS())
      .writeStream.format("memory").queryName("t_tws").outputMode(OutputMode.Append).start()
    try {
      chunked(batchEvents, 8).foreach { c => input.addData(c); q.processAllAvailable() }
      input.addData(Seq(sentinel)); q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_tws").filter(col("user_id") =!= -999L)
      .select("user_id", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("ss_us"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(got == want)
  }

  test("transformWithState MapState/ListState catalog matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.userCatalogTWS(input.toDS())
      .writeStream.format("memory").queryName("t_catalog")
      .outputMode(OutputMode.Update).start()
    try {
      chunked(batchEvents, 6).foreach { c => input.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val table = spark.table("t_catalog")
    // counts are monotone per (user, type) without TTL, so the final
    // MapState value is the max emitted update
    val got = table.groupBy("user_id", "event_type").agg(max("cnt").as("cnt"))
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    val want = Tables.load(spark, sf, "events")
      .groupBy("user_id", "event_type").count()
      .collect().map(r => ((r.getLong(0), r.getString(1)), r.getLong(2))).toMap
    assert(got == want, "MapState per-type counts diverge from batch groupBy")
    // the ListState buffer is append-only: its final length is the user's
    // total event count
    val gotBuf = table.groupBy("user_id").agg(max("buffered").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wantBuf = Tables.load(spark, sf, "events").groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotBuf == wantBuf, "ListState buffer lengths diverge from batch counts")
  }

  test("state TTL expires untouched MapState/ListState entries between batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, user: Long, typ: String) =
      Event(id, new Timestamp(1000L * id), user, typ, 1.0)
    // a finite TTL forces TimeMode.ProcessingTime, where the engine keeps
    // scheduling no-data batches to run evictions — the query never
    // quiesces, so processAllAvailable would block forever; poll the sink
    // for the expected row instead.
    def awaitRow(cnt: Long, buf: Long): Unit = {
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (spark.table("t_catalog_ttl")
               .filter(col("cnt") === cnt && col("buffered") === buf).isEmpty) {
        assert(System.nanoTime() < deadline, s"sink never saw (cnt=$cnt, buf=$buf)")
        Thread.sleep(100)
      }
    }
    val input = MemoryStream[Event]
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofMillis(300))
    val q = Streams.userCatalogTWS(input.toDS(), ttl)
      .writeStream.format("memory").queryName("t_catalog_ttl")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(Seq(ev(1, 7, "click"), ev(2, 7, "click")))
      awaitRow(2L, 2L)
      Thread.sleep(1200) // well past the 300 ms TTL — batch-1 state expires
      input.addData(Seq(ev(3, 7, "click")))
      awaitRow(1L, 1L)
    } finally q.stop()
    val rows = spark.table("t_catalog_ttl")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch 1 saw both clicks: count 2, buffer 2
    assert(rows.contains((7L, "click", 2L, 2L)), s"batch-1 state missing: $rows")
    // batch 2 must observe EXPIRED state: count restarts at 1, buffer at 1.
    // Were TTL ignored, it would emit (7, click, 3, 3) instead.
    assert(rows.contains((7L, "click", 1L, 1L)), s"TTL did not expire state: $rows")
    assert(!rows.exists(_._3 == 3L), s"TTL ignored — count kept growing: $rows")
  }

  test("native parquet file-stream sink is exactly-once across restart (manifest-committed)") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("graft-fsink-in").toString
    val outDir = Files.createTempDirectory("graft-fsink-out").toString + "/data"
    val ckpt = Files.createTempDirectory("graft-fsink-ckpt").toString
    val ev = Tables.load(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    val schema = ev.schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).json(inDir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ev.limit(120).write.mode("append").json(inDir)
    runOnce()
    // restart from the same checkpoint with more input: FileStreamSink's
    // _spark_metadata manifest must commit each batch exactly once
    ev.orderBy(col("event_id").desc).limit(80).write.mode("append").json(inDir)
    runOnce()
    assert(new java.io.File(outDir, "_spark_metadata").exists(),
      "FileStreamSink manifest missing — not the native file sink path")
    val back = spark.read.parquet(outDir) // manifest-aware read
    assert(back.count() == 200, s"expected exactly 200 rows, got ${back.count()}")
    assert(back.select("event_id").distinct().count() == 200)
  }

  test("ProcessingTime and Once triggers drive micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // ProcessingTime: periodic micro-batches (TriggerExecutor loop)
    val in1 = MemoryStream[Event]
    val q1 = Streams.tumblingCounts(in1.toDF())
      .writeStream.format("memory").queryName("t_ptrig").outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try {
      in1.addData(batchEvents.take(100))
      q1.processAllAvailable()
      assert(spark.table("t_ptrig").count() > 0)
    } finally q1.stop()
    // Once: exactly one micro-batch, then self-terminate
    val in2 = MemoryStream[Event]
    in2.addData(batchEvents.take(100))
    val q2 = Streams.tumblingCounts(in2.toDF())
      .writeStream.format("memory").queryName("t_once").outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .start()
    q2.awaitTermination()
    assert(spark.table("t_once").count() > 0)
  }

  test("flatMapGroupsWithState sessionization matches batch session_window") {
    import spark.implicits._
    // sentinel far-future event forces the watermark past every real
    // session so event-time timeouts flush them all
    val sentinel = Event(-1L, new Timestamp(batchEvents.last.ts.getTime + 10L * 24 * 3600 * 1000),
      -999L, "view", 0.0)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = Streams.sessionizeFMGWS(input.toDS())
      .writeStream.format("memory").queryName("t_sess").outputMode(OutputMode.Append).start()
    try {
      chunked(batchEvents, 8).foreach { c => input.addData(c); q.processAllAvailable() }
      input.addData(Seq(sentinel)); q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_sess").filter(col("user_id") =!= -999L)
      .select("user_id", "session_start_us", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = Tables.load(spark, sf, "events")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("ss_us"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(got == want)
  }

  test("console sink drives micro-batches (ConsoleSinkProvider path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = input.toDF()
      .writeStream.format("console").option("numRows", "3").option("truncate", "true")
      .start()
    try {
      input.addData(batchEvents.take(20))
      q.processAllAvailable()
      assert(q.recentProgress.exists(_.numInputRows > 0),
        "console sink processed no rows")
    } finally q.stop()
  }

  test("per-row ForeachWriter sink receives every row with open/process/close lifecycle") {
    // The reference's fourth sink surface (ForeachWriterProvider,
    // SURVEY §2.1): per-row delivery with a per-partition-per-epoch
    // open/close contract — unlike foreachBatch, which hands over whole
    // DataFrames. Collected through a concurrent set keyed by event_id.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Event]
    val q = input.toDF().select("event_id", "user_id")
      .writeStream.outputMode("append")
      .foreach(new org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
        var opened = false
        def open(partitionId: Long, epochId: Long): Boolean = { opened = true; true }
        def process(row: org.apache.spark.sql.Row): Unit = {
          assert(opened, "process() before open()")
          StreamingSpec.foreachSeen.add(row.getLong(0))
        }
        def close(errorOrNull: Throwable): Unit = ()
      })
      .start()
    try {
      StreamingSpec.foreachSeen.clear()
      val rows = batchEvents.take(50)
      input.addData(rows)
      q.processAllAvailable()
      val got = {
        val it = StreamingSpec.foreachSeen.iterator()
        val b = Set.newBuilder[Long]
        while (it.hasNext) b += it.next()
        b.result()
      }
      assert(got == rows.map(_.event_id).toSet,
        s"foreach saw ${got.size} of ${rows.size} rows")
    } finally q.stop()
  }

  test("sessionizers merge late-but-within-watermark events like batch session_window") {
    // Regression for the ADVICE r3 merge bug: a later micro-batch delivers
    // rows BEHIND the session's lastUs (and one behind its startUs) that are
    // still above the watermark. The min/max union must neither move lastUs
    // backward (premature close timer) nor lose the earlier session_start.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def at(sec: Long) = new Timestamp(sec * 1000L)
    // batch 1: session (10000s .. 10300s); watermark after it = 10300-600 = 9700s
    val b1 = Seq(Event(1, at(10000), 1, "click", 1.0), Event(2, at(10300), 1, "view", 2.0))
    // batch 2: both rows are late w.r.t. lastUs yet above the 9700s watermark;
    // 9900s even precedes session_start. All gaps < 30 min -> ONE session.
    val b2 = Seq(Event(3, at(10100), 1, "click", 3.0), Event(4, at(9900), 1, "view", 4.0))
    val sentinel = Seq(Event(-1, at(10L * 24 * 3600 + 20000), -999L, "view", 0.0))
    val all = (b1 ++ b2).toDS()
    val want = all
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("ss_us"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2).toInt)).toSet
    assert(want == Set((1L, 9900L * 1000000, 4))) // sanity: batch merges all four
    for ((nm, graph) <- Seq[(String, Dataset[Event] => Dataset[Streams.SessionOut])](
        "t_late_fmgws" -> (ds => Streams.sessionizeFMGWS(ds)),
        "t_late_tws" -> (ds => Streams.sessionizeTWS(ds)))) {
      val input = MemoryStream[Event]
      val q = graph(input.toDS())
        .writeStream.format("memory").queryName(nm).outputMode(OutputMode.Append).start()
      try {
        Seq(b1, b2, sentinel).foreach { c => input.addData(c); q.processAllAvailable() }
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(nm).filter(col("user_id") =!= -999L)
        .select("user_id", "session_start_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want, s"$nm diverged from batch session_window: $got vs $want")
    }
  }

  test("SpaceSaving heavy hitters: bounded state, error bounds, hot items guaranteed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def ev(id: Long, user: Long) =
      Event(id, new Timestamp(1000L * id), user, "view", 1.0)
    // every user ≡ 1 (mod 4) → all traffic lands in shard 1; two hot
    // users dominate while 6 cold users churn through a capacity-4 sketch
    val users = List.fill(30)(1L) ++ List.fill(20)(5L) ++
      Seq(9L, 13L, 17L, 21L, 25L, 29L).flatMap(List.fill(2)(_))
    // deterministic interleave, ids in feed order (the sketch's sort key)
    val feed = new scala.util.Random(42).shuffle(users)
      .zipWithIndex.map { case (u, i) => ev(i + 1L, u) }
    val trueCnt = feed.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
    val n = feed.size.toLong

    val input = MemoryStream[Event]
    val q = Streams.heavyHittersTWS(input.toDS(), shards = 4, capacity = 4)
      .writeStream.format("memory").queryName("t_heavy")
      .outputMode(OutputMode.Update).start()
    try {
      // three batches — the sketch must persist/evict across state commits
      feed.grouped((feed.size + 2) / 3).foreach { c =>
        input.addData(c); q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table("t_heavy")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.forall(_._1 == 1L), "all traffic should hit shard 1")
    // the FINAL sketch = rows from the last batch (max n_shard)
    val lastN = rows.map(_._5).max
    assert(lastN == n, s"shard processed $lastN of $n items")
    val sketch = rows.filter(_._5 == lastN).map(r => r._2 -> ((r._3, r._4))).toMap
    assert(sketch.size <= 4, s"sketch exceeded capacity: $sketch")
    // SpaceSaving bounds: cnt overestimates, cnt - err underestimates
    sketch.foreach { case (item, (cnt, err)) =>
      val t = trueCnt.getOrElse(item, 0L)
      assert(cnt >= t, s"item $item: est $cnt < true $t")
      assert(cnt - err <= t, s"item $item: lower bound ${cnt - err} > true $t")
    }
    // any item with true count > n/capacity must be tracked — both hot
    // users qualify (30, 20 > 62/4)
    trueCnt.filter(_._2 > n / 4).keys.foreach { hot =>
      assert(sketch.contains(hot), s"hot item $hot (true ${trueCnt(hot)}) not tracked in $sketch")
    }
  }

  test("streaming funnel (transformWithState) equals the batch q_ev_funnel stages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val es = batchEvents // ts-ordered feed — the equivalence precondition
    val input = MemoryStream[Event]
    val q = Streams.funnelTWS(input.toDS())
      .writeStream.format("memory").queryName("t_funnel_tws")
      .outputMode(OutputMode.Append).start()
    try {
      chunked(es).foreach { c => input.addData(c); q.processAllAvailable() }
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("t_funnel_tws")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap

    // batch mirror: the q_ev_funnel stage CTEs over the same events
    es.toDS().createOrReplaceTempView("t_funnel_in")
    val want = spark.sql("""
      WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM t_funnel_in
                 WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.ts) AS t2
            FROM t_funnel_in e JOIN v ON v.user_id = e.user_id
            WHERE e.event_type = 'click' AND e.ts > v.t1
              AND e.ts <= v.t1 + INTERVAL 1 DAY GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS t3
            FROM t_funnel_in e JOIN c ON c.user_id = e.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.t2
              AND e.ts <= c.t2 + INTERVAL 1 DAY GROUP BY e.user_id)
      SELECT user_id, 1 AS stage, unix_micros(t1) AS at_us FROM v
      UNION ALL SELECT user_id, 2, unix_micros(t2) FROM c
      UNION ALL SELECT user_id, 3, unix_micros(t3) FROM p""")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == want,
      s"streaming funnel diverged from batch: ${got.size} vs ${want.size} transitions")
    assert(want.count(_._1._2 == 3) > 0, "fixture should complete some funnels")
  }

  test("dedup into 5 s windows on RocksDB restarts from its checkpoint: equals batch, checksums kept") {
    // perfbench's stream shape under the engine's state store conf: 3
    // batches, stop, restart from the same checkpoint, 2 more. Commits write
    // changelogs only (no snapshot is due before version 10), so the
    // restart rebuilds every state store by replaying them, each verified
    // against Spark's checksum sidecar.
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft-restart-in").toUri.toString
    val ckptDir = Files.createTempDirectory("graft-restart-ckpt")
    val first = StreamingSpec.runFileStream(spark, in, ckptDir.toUri.toString, 0 until 3)
    val second = StreamingSpec.runFileStream(spark, in, ckptDir.toUri.toString, 3 until 5)
    val got = first.counts ++ second.counts
    val want = StreamingSpec.counts(StreamingSpec.dedupCounts(spark.read.parquet(in)))
    assert(want.size == 5 * 5, s"fixture should fill 5 windows x 5 types: ${want.size}")
    assert(got == want, s"restarted stream diverged from batch: ${(got.toSet diff want.toSet).take(5)}")
    // 2 stateful operators x 4 shuffle partitions, each with a committed
    // changelog per batch that wrote state
    val logs = StreamingSpec.stateFiles(ckptDir, "changelog")
    assert(logs.map(_.getParent).distinct.size == 2 * 4, s"state partitions with changelogs: ${logs.map(_.getParent).distinct}")
    val bare = logs.filterNot(z => Files.exists(z.resolveSibling(z.getFileName.toString + ".crc")))
    assert(bare.isEmpty, s"committed changelogs without a checksum sidecar: $bare")
    // the first batch the restarted query ran (an idle trigger reports no
    // state operators); the aggregation's save store reuses the version its
    // restore store loaded, so the replays show on one operator
    val replayed = second.progress.find(_.stateOperators.nonEmpty).toSeq.flatMap(_.stateOperators)
      .map(_.customMetrics.get("rocksdbNumReplayChangelogFiles").longValue).sum
    assert(replayed > 0, "the restarted query rebuilt its state without replaying a changelog")
  }

  test("RocksDB checkpoints restart across the changelog switch, both directions: equals batch") {
    // checkpoints written before changelog checkpointing became the default
    // hold only snapshot zips; a store must load either format
    import java.nio.file.Files
    def session(changelog: Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", changelog.toString)
      s
    }
    for (changelogFirst <- Seq(false, true)) {
      val in = Files.createTempDirectory("graft-switch-in").toUri.toString
      val ckptDir = Files.createTempDirectory("graft-switch-ckpt")
      val first = StreamingSpec.runFileStream(session(changelogFirst), in, ckptDir.toUri.toString, 0 until 3)
      val (zips, logs) = (StreamingSpec.stateFiles(ckptDir, "zip"), StreamingSpec.stateFiles(ckptDir, "changelog"))
      assert(if (changelogFirst) zips.isEmpty && logs.nonEmpty else zips.nonEmpty && logs.isEmpty,
        s"changelog=$changelogFirst wrote ${zips.size} zips, ${logs.size} changelogs")
      val second = StreamingSpec.runFileStream(session(!changelogFirst), in, ckptDir.toUri.toString, 3 until 5)
      val want = StreamingSpec.counts(StreamingSpec.dedupCounts(spark.read.parquet(in)))
      assert(first.counts ++ second.counts == want, s"changelog $changelogFirst -> ${!changelogFirst} diverged from batch")
    }
  }

  test("state data source reads checkpointed streaming state offline (state-metadata + statestore)") {
    // The ops surface for debugging a deployed stateful pipeline: after
    // the query stops, its checkpoint remains queryable as BATCH tables —
    // `state-metadata` lists the stateful operators, `statestore` returns
    // the key/value state rows — with NO streaming query running.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("graft-statesrc").toString
    val es = batchEvents.take(64)
    val input = MemoryStream[Event]
    val q = input.toDF()
      .groupBy($"event_type").agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("t_state_src")
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .start()
    try {
      chunked(es, 4).foreach { c => input.addData(c); q.processAllAvailable() }
      q.processAllAvailable()
    } finally q.stop()

    val meta = spark.read.format("state-metadata").load(ckpt)
    val metaRows = meta.select("operatorId", "operatorName", "stateStoreName")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(metaRows.exists { case (id, name, store) =>
      id == 0L && name == "stateStoreSave" && store == "default" },
      s"state-metadata should list the aggregation's stateStoreSave operator: ${metaRows.toSeq}")

    val state = spark.read.format("statestore").load(ckpt)
    // schema: key struct (group key), value struct (agg buffer), partition_id
    val valueField = state.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fields.find(_.dataType == org.apache.spark.sql.types.LongType)
      .getOrElse(fail("no LongType agg buffer column in statestore value"))
    val got = state
      .select(col("key.event_type"), col(s"value.`${valueField.name}`").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = es.groupBy(_.event_type).view.mapValues(_.size.toLong).toMap
    assert(got == want,
      s"offline statestore read must equal the fed per-type counts: $got vs $want")
  }
}

object StreamingSpec {
  /** Sink for the ForeachWriter test — static so the serialized writer and
    * the test observe the same set (local mode = one JVM).
    */
  val foreachSeen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** perfbench's `stream` pipeline: dedup re-deliveries under a 10 s
    * watermark, then 5 s tumbling counts and sums per event type.
    */
  def dedupCounts(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Streams.dedupStream(events, "10 seconds")
      .groupBy(window(col("ts"), "5 seconds"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("total"))

  type Counts = Map[(Long, String), (Long, Double)]

  /** What [[runFileStream]] saw: the latest row per (window, type) and the
    * query's progress reports, oldest first.
    */
  case class FileRun(counts: Counts, progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  def counts(df: org.apache.spark.sql.DataFrame): Counts =
    df.collect().map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

  /** Input file `b`: events `200b .. 200b+199`, 40 per second of event time
    * from 2024-01-01, each delivered twice, plus the previous file's last
    * 20 again (cross-batch duplicates, still inside the watermark).
    */
  def eventFile(b: Int): Seq[Event] = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    def ev(id: Long) = Event(id, new Timestamp(1704067200000L + id / 40 * 1000), id % 1000,
      types((id % types.size).toInt), (id % 100).toDouble)
    val fresh = (200L * b until 200L * (b + 1)).map(ev)
    fresh ++ fresh ++ (200L * b - 20 until 200L * b).filter(_ >= 0).map(ev)
  }

  /** Runs [[dedupCounts]] in update mode on the RocksDB store over the
    * parquet files under `in`, checkpointed at `ckpt`: writes each of
    * `files` as one parquet file and lets it commit as its own micro-batch,
    * then stops.
    */
  def runFileStream(spark: org.apache.spark.sql.SparkSession, in: String, ckpt: String,
      files: Seq[Int]): FileRun = {
    val enc = org.apache.spark.sql.Encoders.product[Event]
    val latest = new java.util.concurrent.ConcurrentHashMap[(Long, String), (Long, Double)]()
    val q = dedupCounts(spark.readStream.schema(enc.schema).parquet(in))
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        counts(b).foreach { case (k, v) => latest.put(k, v) }
      }
      .start()
    try files.foreach { b =>
      spark.createDataset(eventFile(b))(enc).coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()
    q.exception.foreach(e => throw e)
    import scala.jdk.CollectionConverters._
    FileRun(latest.asScala.toMap, q.recentProgress.toSeq)
  }

  /** Committed RocksDB state files `N.<ext>` under a checkpoint. */
  def stateFiles(ckpt: java.nio.file.Path, ext: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(ckpt.resolve("state")).iterator().asScala
      .filter(p => p.getFileName.toString.matches(s"\\d+\\.$ext")).toSeq
  }
}

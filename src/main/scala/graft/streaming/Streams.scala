package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout,
  ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig,
  ValueState}

/** Structured-Streaming operator layer (SURVEY.md §2.9, M2 — the
  * BASELINE.json "Structured Streaming optimization" focus).
  *
  * Everything is expressed as incremental queries over unbounded tables:
  * watermark + windowed aggregation, streaming dedup, stream-stream join
  * with a range condition (state bounded on both sides), and arbitrary
  * per-key state via flatMapGroupsWithState. The graphs are source-
  * agnostic (they take any DataFrame with the events schema), so the same
  * code runs from MemoryStream in tests, file/rate sources locally, and
  * Kafka in production.
  *
  * The Sol delta (reference `core/.../scheduler/DAGScheduler.scala:190-238`,
  * `Executor.scala:380-460` — overlap communication with compute) maps at
  * this layer to: RocksDB state store (bounded heap at 100 TB state),
  * watermark-bounded state eviction, AQE-coalesced shuffle partitions per
  * micro-batch, and `maxFilesPerTrigger`/`maxOffsetsPerTrigger` micro-batch
  * sizing — configured in [[graft.Engine]], tuned here per operator.
  */
object Streams {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  final case class SessionOut(
      user_id: Long, session_start_us: Long, n_events: Int, total_value: Double)

  final case class SessState(startUs: Long, lastUs: Long, n: Int, total: Double)

  /** Tumbling 1h windowed counts with a 10-minute watermark: the state
    * store holds only windows newer than (max event time − 10 min);
    * append-mode emission finalizes a window exactly once.
    */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("total"))

  /** Session windows (30-min gap) per user — state merges adjacent
    * sessions and closes on watermark advance.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("cnt"), col("total"))

  /** Dynamic-gap session windows: each event carries its own gap
    * (purchases hold the session open 60 min, everything else 30), the
    * `session_window(col, gapExpr)` form. State-merge semantics are the
    * interval-union of [ts, ts+gap) per key — same construction as the
    * batch oracle in [[graft.queries.Ev]] (q_ev_session_dyn).
    */
  def sessionWindowsDynamic(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(
        session_window(col("ts"),
          when(col("event_type") === "purchase", "60 minutes")
            .otherwise("30 minutes")),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("cnt"))

  /** Streaming dedup on event_id; watermark bounds the dedup state. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id", "ts")

  /** Streaming CONTENT dedup for an ingest pipeline: normalize text
    * (lowercase, collapsed whitespace — the q_dedup_norm rule), digest it,
    * and keep first-seen digests within the watermark horizon
    * (`dropDuplicatesWithinWatermark`, so re-deliveries with drifted
    * timestamps still dedup). State = one digest per distinct document in
    * the horizon — the text itself never enters the state store.
    */
  def dedupDocStream(docs: DataFrame, watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("digest", // the q_dedup_norm fingerprint rule, verbatim
        md5(trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("digest")

  /** Stream-stream join: purchases enriched with clicks of the same user
    * at most 10 minutes earlier. Watermarks on BOTH sides + the range
    * condition let StreamingSymmetricHashJoinExec evict state (reference
    * `StreamingSymmetricHashJoinExec.scala:126`) — unbounded state
    * otherwise.
    *
    * `joinType = "left_outer"` adds watermark-driven null emission: a
    * purchase with no matching click is held in state and emitted
    * null-padded only once the watermark guarantees no click can still
    * arrive (reference `StreamingSymmetricHashJoinExec.scala:173-180`) —
    * the timing users must understand: outer rows are LATE by one
    * watermark delay, never early.
    */
  def purchaseClickJoin(events: DataFrame, joinType: String = "inner"): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "20 minutes")
    purchases.join(
      clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") <= col("p_ts"),
      joinType)
  }

  /** Stream-static join: the streaming fact enriched with a static
    * dimension and aggregated per dim attribute. Unlike stream-stream
    * joins this needs NO symmetric state — the static side is planned as
    * an ordinary (broadcast) join inside every micro-batch, so state cost
    * is zero and the dim can be refreshed by re-resolving the DataFrame.
    * The production dim-enrichment shape at any stream volume.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .join(broadcast(dim), Seq("user_id"), "left")
      .groupBy(col("segment"))
      // Exact.dsum, not sum(double): incremental state merge order differs
      // from batch merge order, so a double total drifts in the last ulp
      // between the two — the exact unit-sum is bit-identical in both.
      .agg(count(lit(1)).as("cnt"), graft.Exact.dsum(col("value"), 2).as("total"))

  /** Timestamp → epoch micros (getTime alone truncates to ms). */
  private[streaming] def micros(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000L + ts.getNanos / 1000

  /** One key's rows in feed order, (µs, event_id): the post-shuffle
    * iterator order is not the feed order.
    */
  private[streaming] def inFeedOrder(rows: Iterator[Event]): Seq[Event] =
    rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))

  /** Sessionization with arbitrary per-key state (flatMapGroupsWithState,
    * event-time timeout): emits a session when the gap is exceeded or the
    * watermark passes. State per key is O(1) (counters + bounds), the
    * required shape for billions of keys.
    */
  def sessionizeFMGWS(events: Dataset[Event], gapUs: Long = 30 * 60 * 1000000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, rows: Iterator[Event], state: GroupState[SessState])
        : Iterator[SessionOut] =
      if (state.hasTimedOut) {
        val out = state.getOption.map(Sessionize.close(userId, _))
        state.remove()
        out.iterator
      } else {
        val (cur, closed) = Sessionize.merge(userId, state.getOption, rows, gapUs)
        cur.foreach { c =>
          state.update(c)
          state.setTimeoutTimestamp(Sessionize.closesAtMs(c, gapUs))
        }
        closed.iterator
      }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** The same sessionization on the 4.x `transformWithState` API
    * (SURVEY.md §2.9 — the successor of mapGroupsWithState; lineage:
    * reference `FlatMapGroupsWithStateExec.scala:46`). Differences that
    * matter at scale: typed state handles (`ValueState`) live in the
    * state store per-field instead of one opaque blob, and timers are
    * first-class (register/delete) instead of one implicit timeout per
    * key. Semantics here are identical to [[sessionizeFMGWS]], which the
    * spec asserts by equivalence against batch `session_window`.
    */
  final class SessionProcessor(gapUs: Long)
      extends StatefulProcessor[Long, Event, SessionOut] {
    @transient private var sess: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState](
        "sess", Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event], timers: TimerValues): Iterator[SessionOut] = {
      val prior = if (sess.exists()) Some(sess.get()) else None
      val (cur, closed) = Sessionize.merge(userId, prior, rows, gapUs)
      cur.foreach { c =>
        sess.update(c)
        // one live timer per key: drop the stale one, arm at session close
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer(Sessionize.closesAtMs(c, gapUs))
      }
      closed.iterator
    }

    override def handleExpiredTimer(
        userId: Long, timers: TimerValues, timer: ExpiredTimerInfo): Iterator[SessionOut] =
      if (sess.exists()) {
        val cur = sess.get()
        sess.clear()
        Iterator.single(Sessionize.close(userId, cur))
      } else Iterator.empty
  }

  def sessionizeTWS(events: Dataset[Event], gapUs: Long = 30 * 60 * 1000000L)
      : Dataset[SessionOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] =
      Encoders.product[SessionOut]
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(
        new SessionProcessor(gapUs),
        TimeMode.EventTime(),
        OutputMode.Append())
  }

  final case class CatalogOut(
      user_id: Long, event_type: String, cnt: Long, buffered: Long)

  /** The COMPOSITE state kinds of transformWithState (SURVEY §2.9 —
    * arbitrary per-key state, the modern FlatMapGroupsWithStateExec bar):
    * a per-user catalog holding a `MapState` (event_type → running count;
    * point lookups/updates hit ONE map entry in the state store, not a
    * deserialize-modify-write of a whole blob — the property that keeps
    * wide per-key catalogs viable at 100 TB state) and a `ListState`
    * (append-only event-id buffer; appends are O(delta), reads stream).
    * Both carry the same `TTLConfig` — pass a finite TTL and entries
    * UNTOUCHED for that long expire without any user code, the state-
    * hygiene contract for keys that go quiet forever (abandoned users).
    * Emits, per user×type touched in a micro-batch, the updated count and
    * the buffer length — so a spec can equivalence-check the final counts
    * against a batch groupBy and observe TTL expiry as a count reset.
    */
  final class UserCatalogProcessor(ttl: TTLConfig)
      extends StatefulProcessor[Long, Event, CatalogOut] {
    @transient private var counts: MapState[String, Long] = _
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      counts = getHandle.getMapState[String, Long](
        "typeCounts", Encoders.STRING, Encoders.scalaLong, ttl)
      recent = getHandle.getListState[Long]("recentIds", Encoders.scalaLong, ttl)
    }

    override def handleInputRows(
        userId: Long, rows: Iterator[Event], timers: TimerValues): Iterator[CatalogOut] = {
      val evs = rows.toSeq
      evs.foreach { e =>
        val cur =
          if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
      }
      recent.appendList(evs.map(_.event_id).toArray)
      val buffered = recent.get().size.toLong
      evs.map(_.event_type).distinct.iterator
        .map(t => CatalogOut(userId, t, counts.getValue(t), buffered))
    }
  }

  /** Per-user catalog over [[UserCatalogProcessor]]. State TTL is a
    * processing-time contract (evict what hasn't been TOUCHED lately,
    * independent of event-time watermarks), so a finite TTL requires
    * `TimeMode.ProcessingTime` — and in that mode the micro-batch engine
    * keeps scheduling NO-DATA batches to run evictions, so the query
    * never quiesces and `processAllAvailable` must not be used to drive
    * it (poll the sink instead). Without a TTL the catalog runs in
    * `TimeMode.None` and behaves like any data-driven streaming agg.
    */
  def userCatalogTWS(
      events: Dataset[Event], ttl: TTLConfig = TTLConfig.NONE): Dataset[CatalogOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[CatalogOut] =
      Encoders.product[CatalogOut]
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(
        new UserCatalogProcessor(ttl),
        timeMode,
        OutputMode.Update())
  }

  /** One funnel-stage transition: `stage` 1 = first view, 2 = click
    * within the deadline after it, 3 = purchase within the deadline after
    * that; `at_us` = the stage's event time.
    */
  final case class FunnelOut(user_id: Long, stage: Int, at_us: Long)

  private[streaming] final case class FunnelState(stage: Int, lastUs: Long)

  /** Streaming twin of the batch funnel query (`q_ev_funnel`): a per-user
    * monotone state machine — view → click ≤ deadline after the first
    * view → purchase ≤ deadline after that click — held as ONE tiny
    * `ValueState[(stage, lastUs)]` per user, emitting a row per stage
    * transition. For a ts-ordered feed the greedy machine computes
    * exactly the batch semantics ("earliest qualifying event after the
    * previous stage"), which the spec asserts by equivalence; rows inside
    * a micro-batch are sorted by (ts, event_id) because the post-shuffle
    * iterator order is not the feed order.
    *
    * Scale: state per user is two primitives regardless of history
    * length, transitions are O(events); this is the shape product-
    * analytics funnels run at 100 TB — no per-user event list is ever
    * buffered (contrast a window-function batch funnel, which sorts each
    * user's full history).
    */
  final class FunnelProcessor(deadlineUs: Long)
      extends StatefulProcessor[Long, Event, FunnelOut] {
    @transient private var st: ValueState[FunnelState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelState](
        "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

    override def handleInputRows(
        userId: Long, rows: Iterator[Event], timers: TimerValues): Iterator[FunnelOut] = {
      var cur = if (st.exists()) st.get() else FunnelState(0, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
      for (e <- inFeedOrder(rows)) {
        val us = micros(e.ts)
        val advance = cur.stage match {
          case 0 => e.event_type == "view"
          case 1 => e.event_type == "click" &&
            us > cur.lastUs && us <= cur.lastUs + deadlineUs
          case 2 => e.event_type == "purchase" &&
            us > cur.lastUs && us <= cur.lastUs + deadlineUs
          case _ => false
        }
        if (advance) {
          cur = FunnelState(cur.stage + 1, us)
          out += FunnelOut(userId, cur.stage, us)
        }
      }
      st.update(cur)
      out.iterator
    }
  }

  def funnelTWS(
      events: Dataset[Event],
      deadlineUs: Long = 24L * 3600 * 1000000L): Dataset[FunnelOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[FunnelOut] =
      Encoders.product[FunnelOut]
    events
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .transformWithState(
        new FunnelProcessor(deadlineUs),
        TimeMode.None(),
        OutputMode.Append())
  }

  /** One sketch entry: `cnt` is an OVERestimate of `item`'s true count in
    * `shard` (`cnt - err` a lower bound); `n_shard` = items the shard has
    * processed so far, so a reader can select the final batch's sketch
    * (max n_shard per shard) and know the error scale (≤ n_shard/capacity).
    */
  final case class HeavyOut(shard: Long, item: Long, cnt: Long, err: Long, n_shard: Long)

  private[streaming] final case class SSEntry(cnt: Long, err: Long)

  /** Streaming heavy hitters with BOUNDED state — the SpaceSaving summary
    * (Metwally et al. 2005, public): per shard, at most `capacity` map
    * entries regardless of how many distinct items flow; a new item
    * beyond capacity evicts the current minimum and inherits its count
    * as its overestimate `err`. Guarantees (both spec-asserted against
    * exact batch counts): every tracked `cnt` bounds the true count from
    * above and `cnt - err` from below, and ANY item with true count
    * > n/capacity is guaranteed tracked.
    *
    * This is the capability the unbounded [[UserCatalogProcessor]] map
    * cannot claim: its state grows with key cardinality, this sketch's
    * state is a constant — the "trending items over an unbounded key
    * space" shape. Scale: shards partition the item space (hash), each
    * shard's sketch is O(capacity); SpaceSaving summaries MERGE (sum
    * counts, capacity-trim keeping largest — err adds), so a 1000-
    * executor deployment runs per-shard sketches exactly like this and
    * a tiny batch-side merge serves the global top-k; per-item cost is
    * O(capacity) at the spec's toy capacity and O(log capacity) with
    * the paper's min-heap when capacity is large.
    */
  final class HeavyHittersProcessor(capacity: Int)
      extends StatefulProcessor[Long, Event, HeavyOut] {
    @transient private var entries: MapState[Long, SSEntry] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      entries = getHandle.getMapState[Long, SSEntry](
        "ss", Encoders.scalaLong, Encoders.product[SSEntry], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        shard: Long, rows: Iterator[Event], timers: TimerValues): Iterator[HeavyOut] = {
      val local = scala.collection.mutable.Map.empty[Long, SSEntry]
      entries.iterator().foreach { p => local(p._1) = p._2 }
      var n = if (seen.exists()) seen.get() else 0L
      // feed order for a deterministic sketch (same contract as
      // FunnelProcessor)
      for (e <- inFeedOrder(rows)) {
        val item = e.user_id
        n += 1
        local.get(item) match {
          case Some(SSEntry(c, err)) => local(item) = SSEntry(c + 1, err)
          case None if local.size < capacity => local(item) = SSEntry(1L, 0L)
          case None =>
            val (mk, SSEntry(mc, _)) =
              local.minBy { case (k, SSEntry(c, _)) => (c, k) }
            local -= mk
            local(item) = SSEntry(mc + 1, mc)
        }
      }
      entries.clear()
      local.foreach { case (k, v) => entries.updateValue(k, v) }
      seen.update(n)
      local.iterator.map { case (k, SSEntry(c, err)) => HeavyOut(shard, k, c, err, n) }
    }
  }

  /** Sharded SpaceSaving heavy hitters over [[HeavyHittersProcessor]]. */
  def heavyHittersTWS(
      events: Dataset[Event], shards: Int = 4, capacity: Int = 4): Dataset[HeavyOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[HeavyOut] =
      Encoders.product[HeavyOut]
    events
      .groupByKey(_.user_id % shards)(Encoders.scalaLong)
      .transformWithState(
        new HeavyHittersProcessor(capacity),
        TimeMode.None(),
        OutputMode.Update())
  }
}

/** The one gap-merge loop of both sessionizers. A serializable holder,
  * not a method on [[Streams]]: flatMapGroupsWithState ships its
  * function to executors, and a call into `object Streams` would make
  * that closure capture the non-serializable `Streams$` module.
  */
private[streaming] object Sessionize extends Serializable {
  import Streams.{Event, SessionOut, SessState, inFeedOrder, micros}

  def close(userId: Long, s: SessState): SessionOut =
    SessionOut(userId, s.startUs, s.n, s.total)

  /** Event-time ms at which `s` closes: the timeout/timer both arm. */
  def closesAtMs(s: SessState, gapUs: Long): Long = (s.lastUs + gapUs) / 1000 + 1

  /** Fold one key's `rows`, in (µs, event_id) order, into its open
    * session `prior`.
    * @return the open session after the last row (None only when there
    *         was neither a prior session nor a row) and the sessions the
    *         rows closed, in order.
    */
  def merge(userId: Long, prior: Option[SessState], rows: Iterator[Event], gapUs: Long)
      : (Option[SessState], Seq[SessionOut]) = {
    var cur = prior
    val closed = Seq.newBuilder[SessionOut]
    for (e <- inFeedOrder(rows)) {
      val us = micros(e.ts)
      cur = cur match {
        case Some(c) if us - c.lastUs < gapUs => // strict <, matching session_window
          // min/max union: a late-but-within-watermark row from a later
          // micro-batch merges without moving lastUs backward or losing
          // an earlier startUs (ADVICE r3). With gap >= watermark delay
          // such a row can never be a separate EARLIER session (it would
          // need ts < startUs - gap, below the watermark), so the union
          // is exactly batch session_window's.
          Some(SessState(math.min(c.startUs, us), math.max(c.lastUs, us),
            c.n + 1, c.total + e.value))
        case open =>
          open.foreach(closed += close(userId, _))
          Some(SessState(us, us, 1, e.value))
      }
    }
    (cur, closed.result())
  }
}

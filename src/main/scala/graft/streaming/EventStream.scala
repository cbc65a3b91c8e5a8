package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Open-session state for [[EventStream.sessionize]] — top-level (not
  * nested/private) so the streaming state-store encoder's generated code
  * can construct and read it. */
final case class SessionState(startMicros: Long, lastMicros: Long,
    nEvents: Int, sumValue: Double)

/** Structured Streaming slice over the `events` table (SURVEY §7.9).
  *
  * The reference is batch-only; these operators give the engine the
  * streaming surface the contract asks for: windowed aggregation with
  * watermarks, and custom session state via flatMapGroupsWithState. Each
  * transform is defined against a DataFrame so the same code serves
  * `spark.read` (batch parity tests) and `spark.readStream`.
  *
  * Event time: every operator here takes `ts` as LONG EPOCH MICROS, the
  * unit [[tsMicros]] gives it at the scan (`Relational.t` for batch
  * reads, [[runStreamingCounts]] for the parquet stream) and the unit
  * the DuckDB oracles read as `epoch_us(ts)`. No operator converts it.
  */
object EventStream {

  /** The events `ts` column as LONG EPOCH MICROS. The parquet carries
    * `timestamp[us]` (read as TimestampNTZType); sessions run in UTC, so
    * `unix_micros` equals DuckDB's `epoch_us(ts)`. A pure projection, so
    * it serves streaming sources too. */
  def tsMicros(events: DataFrame): DataFrame =
    events.withColumn("ts", unix_micros(col("ts").cast("timestamp")))

  /** events with a proper timestamp column `ets` beside the micros `ts`. */
  def withTs(events: DataFrame): DataFrame =
    events.withColumn("ets", timestamp_micros(col("ts")))

  /** The split point of the two event-time halves: the earliest micros
    * `m` with `2·m >= min(ts) + max(ts)`, so `ts < m` is the first half
    * exactly when the oracles' nanos midpoint `500·(min + max)` puts an
    * event there (an event at the floor of an odd sum's half stays in
    * the first half). One bounded 1-row gather. */
  def midpointMicros(events: DataFrame): Long = {
    val b = events.agg(min("ts"), max("ts")).head()
    Math.floorDiv(b.getLong(0) + b.getLong(1) + 1, 2L)
  }

  /** Tumbling-window counts + sums per event_type with a 10-minute
    * watermark. Works on a batch or streaming events DataFrame. */
  def tumblingCounts(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    withTs(events)
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  // `ets` carries the event-time watermark metadata — it must survive into
  // the grouped Dataset for EventTimeTimeout to be legal in streaming mode
  final case class EventIn(user_id: Long, etsMicros: Long, value: Double,
      ets: java.sql.Timestamp)
  final case class SessionOut(user_id: Long, startMicros: Long, endMicros: Long,
      nEvents: Int, sumValue: Double)

  /** Gap-based sessionization (30-min inactivity) with
    * flatMapGroupsWithState — emits a session when the gap is exceeded.
    *
    * Batch mode: Spark runs the state function once per group with all
    * rows; every closed session plus the final open one is emitted and no
    * state survives the call.
    *
    * Streaming mode (`events.isStreaming`): the open session is KEPT in
    * state across micro-batches — emitting it eagerly would split and
    * double-count sessions that span micro-batches. It is closed either by
    * a later event beyond the gap, or by an event-time timeout once the
    * watermark passes `last + gap` (so every session is emitted exactly
    * once). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val gapMicros = gapMinutes.toLong * 60 * 1000000
    val withW =
      if (streaming) withTs(events).withWatermark("ets", s"$gapMinutes minutes")
      else withTs(events)
    val typed = withW.select(
      col("user_id"), col("ts").as("etsMicros"), col("value"),
      col("ets")).as[EventIn]

    def fn(userId: Long, rows: Iterator[EventIn],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (streaming && state.hasTimedOut) {
        // watermark passed last + gap with no new events: close the session
        val st = state.get
        state.remove()
        return Iterator(SessionOut(userId, st.startMicros, st.lastMicros, st.nEvents, st.sumValue))
      }
      val sorted = rows.toSeq.sortBy(_.etsMicros)
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var cur = state.getOption
      sorted.foreach { e =>
        cur match {
          case Some(st) if e.etsMicros - st.lastMicros <= gapMicros =>
            cur = Some(st.copy(lastMicros = e.etsMicros,
              nEvents = st.nEvents + 1, sumValue = st.sumValue + e.value))
          case Some(st) =>
            out += SessionOut(userId, st.startMicros, st.lastMicros, st.nEvents, st.sumValue)
            cur = Some(SessionState(e.etsMicros, e.etsMicros, 1, e.value))
          case None =>
            cur = Some(SessionState(e.etsMicros, e.etsMicros, 1, e.value))
        }
      }
      if (streaming) {
        // keep the open session; arm an event-time timeout to close it
        cur.foreach { st =>
          state.update(st)
          state.setTimeoutTimestamp((st.lastMicros + gapMicros) / 1000)
        }
      } else {
        // batch: flush the open session (no further micro-batches)
        cur.foreach { st =>
          out += SessionOut(userId, st.startMicros, st.lastMicros, st.nEvents, st.sumValue)
          state.remove()
        }
      }
      out.iterator
    }

    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  /** Sliding-window counts: every event lands in window_/slide overlapping
    * windows (1 h / 30 min -> 2). Same watermark/decimal-sum discipline as
    * [[tumblingCounts]]; windows are epoch-aligned, so the oracle can
    * enumerate each event's `window/slide` start offsets in integer ms. */
  def slidingCounts(events: DataFrame, window_ : String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    withTs(events)
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,2)")).cast("double").as("sum_value"))
      .select(unix_millis(col("window.start")).as("ws_ms"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessionization via Spark's built-in `session_window`
    * aggregation — the declarative face of [[sessionize]]: same 30-min-gap
    * session semantics, but expressed as a groupBy so Catalyst plans the
    * merge (UpdatingSessionsExec + partial aggregation) instead of custom
    * state code. Emits (user_id, start_us, end_us, n_events) with event-
    * time bounds (min/max event, NOT window end = last + gap). Works on a
    * batch or (watermarked, append-mode) streaming DataFrame; on batch the
    * result is row-identical to [[sessionize]] — both are oracle-checked
    * against the same gap-islands SQL (qs02/qs03).
    *
    * Boundary note: session_window's end is EXCLUSIVE (an event at exactly
    * `last + gap` opens a new session) while [[sessionize]] continues on
    * `diff <= gap`; the two differ only for events landing on the exact
    * microsecond boundary (none exist in the test data at any SF — checked
    * before wiring both to the same oracle). */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val t0 = withTs(events)
    val t = if (events.isStreaming)
      t0.withWatermark("ets", s"$gapMinutes minutes") else t0
    t.groupBy(col("user_id"), session_window(col("ets"), s"$gapMinutes minutes"))
      .agg(min(col("ts")).as("start_us"),
        max(col("ts")).as("end_us"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("start_us"), col("end_us"), col("n_events"))
  }

  /** Exact dedup over a stream: watermark-bounded duplicate drop on the id
    * column (`dropDuplicatesWithinWatermark` — state for ids older than
    * the watermark is evicted, so state size is bounded by the watermark
    * window rather than the stream's lifetime; the non-streaming path is a
    * plain `dropDuplicates`). The streaming face of
    * [[graft.operators.Dedup.exactGroups]]'s batch semantics. */
  final case class FunnelEvent(user_id: Long, event_type: String,
    etsMicros: Long, ets: java.sql.Timestamp)
  final case class FunnelState(step: Int, anchorUs: Long)
  final case class FunnelTransition(user_id: Long, step: Int, stage: String,
    us: Long)

  /** Per-user funnel TRANSITIONS — the streaming face of [[funnel]]: a
    * row (user_id, step, stage, us) the moment a user advances to a
    * stage, emitted in append mode. Same semantics as the batch chain
    * (anchor at the first stage-1 event; each later stage needs its
    * event strictly after the previous match and within
    * `windowMinutes`); the same state function runs both modes. Late
    * events older than the user's current anchor are ignored — the
    * documented streaming approximation (exact under in-order delivery).
    *
    * State is BOUNDED in streaming mode: one (step, anchor) pair per
    * user currently mid-funnel, evicted by an event-time timeout once
    * the watermark (`lateness` behind max event time) passes
    * `anchor + window` — a lapsed attempt can never advance (every
    * in-window event is behind the watermark), so keeping it would grow
    * state monotonically with distinct users. Completed users keep a
    * TOMBSTONE under the same timeout: a post-completion stage-1 event
    * inside the attempt's window is ignored (as batch's single-anchor
    * pass would), not re-anchored. Consequence: only after an attempt's
    * window has fully passed the watermark — lapsed or completed — can
    * a LATER stage-1 event start a NEW attempt, so an in-order replay
    * emits the batch transitions (per-user prefixes are identical) PLUS
    * possibly new-attempt transitions that all postdate
    * `anchor + window`; both properties are spec-checked.
    *
    * `funnel`'s per-stage counts are `groupBy(step) count` over this. */
  def funnelTransitions(events: DataFrame, stages: Seq[String],
      windowMinutes: Long = 2880,
      lateness: String = "10 minutes"): Dataset[FunnelTransition] = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val winUs = windowMinutes * 60L * 1000000L
    val stageIdx = stages.zipWithIndex.toMap
    val base = withTs(events)
    val withW = if (streaming) base.withWatermark("ets", lateness) else base
    val typed = withW
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        col("ts").as("etsMicros"), col("ets"))
      .as[FunnelEvent]

    def fn(userId: Long, rows: Iterator[FunnelEvent],
        state: GroupState[FunnelState]): Iterator[FunnelTransition] = {
      if (streaming && state.hasTimedOut) {
        // watermark passed anchor + window: the attempt is dead weight
        state.remove()
        return Iterator.empty
      }
      val out = scala.collection.mutable.ArrayBuffer[FunnelTransition]()
      var cur = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
      rows.toSeq.sortBy(e => (e.etsMicros, stageIdx(e.event_type))).foreach { e =>
        if (cur.step < stages.size) {
          val want = stages(cur.step)
          if (e.event_type == want &&
              (cur.step == 0 ||
                (e.etsMicros > cur.anchorUs && e.etsMicros <= cur.anchorUs + winUs))) {
            cur = FunnelState(cur.step + 1, e.etsMicros)
            out += FunnelTransition(userId, cur.step, want, e.etsMicros)
          }
        }
      }
      if (cur.step > 0 && cur.step < stages.size) {
        state.update(cur)
        if (streaming)
          // evict once the watermark passes the attempt's window; clamp
          // above the current watermark (arming at-or-behind it throws)
          state.setTimeoutTimestamp(math.max(
            (cur.anchorUs + winUs) / 1000, state.getCurrentWatermarkMs() + 1))
      } else if (streaming && cur.step >= stages.size) {
        // COMPLETED: keep a tombstone (step == stages.size blocks every
        // later event) until the watermark passes the attempt's window,
        // so a post-completion stage-1 event inside the window cannot
        // re-anchor a new attempt — within one invocation the loop
        // already ignores post-completion events; the tombstone extends
        // that guarantee across micro-batches, matching batch's
        // single-anchor pass. anchorUs here is the LAST match's time,
        // >= the attempt anchor, so the tombstone never dies early.
        state.update(cur)
        state.setTimeoutTimestamp(math.max(
          (cur.anchorUs + winUs) / 1000, state.getCurrentWatermarkMs() + 1))
      } else state.remove() // never anchored (batch: or funnel complete)
      out.iterator
    }

    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  final case class KmvWinEvent(wstartUs: Long, h: String,
    ets: java.sql.Timestamp)
  final case class KmvWinState(hashes: List[String])
  final case class KmvWindowEstimate(wstart_us: Long, n_hashes: Int,
    est_distinct: Double)

  /** Tumbling-window KMV distinct sketch with EMIT-ON-CLOSE semantics —
    * the streaming face of [[graft.operators.Sketches.kmvDistinct]]
    * keyed by window: per window, state is the bottom-`k` distinct md5
    * hashes (O(k) however many events the window sees — the mergeable
    * KMV summary IS the state), and the estimate row
    * (wstart_us, n_hashes, est_distinct) is emitted exactly once, when
    * the watermark passes the window end (event-time timeout), so
    * append mode gets one final row per window instead of per-batch
    * revisions. Batch inputs emit every window directly in one pass —
    * same code path, same estimate function
    * ([[graft.operators.Sketches.kmvEstimateFromSorted]]), so a
    * replay's closed windows are bit-identical to the batch answer (the
    * qx05 oracle). Late events inside `lateness` still merge (the
    * timeout fires only after the watermark — lagging by `lateness` —
    * passes the window end); later ones are dropped by the watermark. */
  def kmvDistinctWindowed(events: DataFrame, valueCol: String,
      windowMinutes: Long = 60, k: Int = 64,
      lateness: String = "10 minutes"): Dataset[KmvWindowEstimate] = {
    require(k >= 2, "k >= 2")
    require(windowMinutes >= 1, "windowMinutes >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val winUs = windowMinutes * 60L * 1000000L
    val base = withTs(events)
    val withW = if (streaming) base.withWatermark("ets", lateness) else base
    val typed = withW.select(
        (col("ts") - pmod(col("ts"), lit(winUs))).as("wstartUs"),
        md5(col(valueCol).cast("string")).as("h"),
        col("ets")) // the watermark column must survive into the grouping
      .as[KmvWinEvent]

    def fn(wstart: Long, rows: Iterator[KmvWinEvent],
        state: GroupState[KmvWinState]): Iterator[KmvWindowEstimate] = {
      if (streaming && state.hasTimedOut) {
        val hs = state.get.hashes
        state.remove()
        return Iterator.single(KmvWindowEstimate(wstart, hs.size,
          graft.operators.Sketches.kmvEstimateFromSorted(hs, k)))
      }
      val cur = state.getOption.map(_.hashes).getOrElse(Nil)
      val merged = (cur ++ rows.map(_.h)).distinct.sorted.take(k)
      if (streaming) {
        state.update(KmvWinState(merged))
        // close once the watermark passes the window end; clamp above
        // the current watermark (arming at-or-behind it throws)
        state.setTimeoutTimestamp(math.max(
          (wstart + winUs) / 1000, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      } else Iterator.single(KmvWindowEstimate(wstart, merged.size,
        graft.operators.Sketches.kmvEstimateFromSorted(merged, k)))
    }

    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_.wstartUs)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  /** Windowed rate-spike detection — the monitoring face of
    * [[tumblingCounts]]: per (window, event_type), the count relative to
    * the trailing mean of the previous `trailing` OBSERVED windows of
    * that type, as an integer ratio
    * `n · trailing · scale div trailing_sum`. Rows without a full
    * trailing history are suppressed (no partial-mean false alarms).
    * Returns (wstart_us, event_type, n, trail_sum, spike_ratio_scaled).
    *
    * Scale shape: one count aggregation on the (window, type) key and a
    * lag window over the COUNTS table (windows × types rows — tiny
    * however large the stream); nothing touches raw events twice. */
  def rateSpikes(events: DataFrame, windowMinutes: Long = 60,
      trailing: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(trailing >= 1 && trailing <= 100, s"trailing out of range: $trailing")
    require(scale >= 1 && scale <= 1000000000000L)
    val winUs = windowMinutes * 60L * 1000000L
    val counts = events
      .select((col("ts") - pmod(col("ts"), lit(winUs))).as("wstart_us"),
        col("event_type"))
      .groupBy("wstart_us", "event_type")
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("wstart_us")
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("trail_sum", sum("n").over(w))
      .withColumn("trail_n", count(lit(1)).over(w))
      .filter(col("trail_n") === trailing)
      .select(col("wstart_us"), col("event_type"), col("n"), col("trail_sum"),
        expr(s"(n * $trailing * ${scale}L) div greatest(1L, trail_sum)")
          .as("spike_ratio_scaled"))
  }

  final case class CmsWinEvent(wstartUs: Long, b0: Int, b1: Int,
    ets: java.sql.Timestamp)
  final case class CmsWinState(counts: Array[Long])
  final case class CmsWindowCounter(wstart_us: Long, i: Int, b: Int, c: Long)

  /** Tumbling-window Count-Min sketch with EMIT-ON-CLOSE semantics — the
    * streaming face of [[graft.operators.Sketches.cmsHeavyHitters]]'s
    * counter pass, keyed by window: per window the state is the fixed
    * 2×`width` counter array (O(d·w) longs however many events the
    * window sees — the mergeable CMS IS the state; counters are
    * order-independent sums, so any replay lands on identical values),
    * and the nonzero counters (wstart_us, i, b, c) ship exactly once
    * when the watermark passes the window end. This is the
    * production "ship the sketch, probe offline" pattern: heavy-hitter
    * probes join candidate values against the emitted counter table
    * (the qs09 gate does exactly that in the same query). Bucket i of
    * row r is the qx06 formula: 52-bit prefix of `md5('c<r>_' || v)`
    * mod width — depth fixed at 2 by the typed event shape. Batch
    * inputs emit every window's counters directly in one pass through
    * the same code path. */
  def cmsCountersWindowed(events: DataFrame, valueCol: String,
      windowMinutes: Long = 60, width: Int = 64,
      lateness: String = "10 minutes"): Dataset[CmsWindowCounter] = {
    require(width >= 2 && width <= 4096, s"width out of range: $width")
    require(windowMinutes >= 1, "windowMinutes >= 1")
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val winUs = windowMinutes * 60L * 1000000L
    val base = withTs(events)
    val withW = if (streaming) base.withWatermark("ets", lateness) else base
    def bucket(i: Int) =
      (conv(substring(md5(concat(lit(s"c${i}_"), col(valueCol).cast("string"))),
        1, 13), 16, 10).cast("long") % width).cast("int")
    val typed = withW.select(
        (col("ts") - pmod(col("ts"), lit(winUs))).as("wstartUs"),
        bucket(0).as("b0"), bucket(1).as("b1"),
        col("ets")) // the watermark column must survive into the grouping
      .as[CmsWinEvent]

    def emit(wstart: Long, counts: Array[Long]): Iterator[CmsWindowCounter] =
      counts.iterator.zipWithIndex.collect { case (c, j) if c > 0 =>
        CmsWindowCounter(wstart, j / width, j % width, c)
      }
    def fn(wstart: Long, rows: Iterator[CmsWinEvent],
        state: GroupState[CmsWinState]): Iterator[CmsWindowCounter] = {
      if (streaming && state.hasTimedOut) {
        val cs = state.get.counts
        state.remove()
        return emit(wstart, cs)
      }
      val counts = state.getOption.map(_.counts)
        .getOrElse(Array.fill(2 * width)(0L))
      rows.foreach { e =>
        counts(e.b0) += 1
        counts(width + e.b1) += 1
      }
      if (streaming) {
        state.update(CmsWinState(counts))
        state.setTimeoutTimestamp(math.max(
          (wstart + winUs) / 1000, state.getCurrentWatermarkMs() + 1))
        Iterator.empty
      } else emit(wstart, counts)
    }

    val timeout =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_.wstartUs)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(fn)
  }

  /** Stream-stream interval join (click attribution): every `rightType`
    * event pairs with each same-user `leftType` event it follows within
    * `windowMinutes` — (user_id, left_us, right_us, value = the right
    * event's). Works identically on batch and streaming inputs; in
    * streaming BOTH sides get a `lateness` watermark and the join
    * condition is the time-range Spark needs to bound stream-stream join
    * state: each side's buffered rows are dropped once the other side's
    * watermark passes their window, so state ∝ events inside one
    * window + lateness, never the stream. A self-join of one stream
    * (left and right filtered from the same source) is supported — the
    * qs08 gate runs exactly that shape over a MemoryStream replay.
    *
    * Scale shape: one equi-join on user_id with the range as a residual
    * predicate — both sides hash-partition on the same key; no window
    * function, no cross product. */
  def intervalJoin(events: DataFrame, leftType: String, rightType: String,
      windowMinutes: Long = 30, lateness: String = "10 minutes"): DataFrame = {
    val streaming = events.isStreaming
    def side(tpe: String, tag: String): DataFrame = {
      val base = withTs(events).filter(col("event_type") === tpe)
      val w = if (streaming) base.withWatermark("ets", lateness) else base
      w.select(col("user_id").as(s"${tag}_uid"), col("ets").as(s"${tag}_ets"),
        col("ts").as(s"${tag}_us"), col("value").as(s"${tag}_value"))
    }
    side(leftType, "l").join(side(rightType, "r"),
        col("l_uid") === col("r_uid") &&
          col("r_ets") >= col("l_ets") &&
          col("r_ets") <= col("l_ets") + expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("l_uid").as("user_id"), col("l_us").as("left_us"),
        col("r_us").as("right_us"), col("r_value").as("value"))
  }

  /** The LEFT OUTER face of [[intervalJoin]] — unattributed-impression
    * accounting: every `leftType` event emits, matched `rightType`
    * events attach, and an UNMATCHED left emits with NULL right columns
    * only once the watermark proves no match can still arrive (left
    * state expires past `l_ets + window + lateness`). That
    * watermark-gated null emission is the semantics a batch left join
    * gets for free and a stream must EARN — which is exactly what the
    * qs18 replay verifies against the batch-oracle answer. Same
    * bounded-state time condition as the inner form; same output schema
    * with right columns nullable.
    *
    * Scale shape: identical to [[intervalJoin]] — both sides
    * watermarked, the range condition bounds each side's state to the
    * window + lateness horizon; state is per-key-per-window, never
    * unbounded. */
  def intervalJoinOuter(events: DataFrame, leftType: String,
      rightType: String, windowMinutes: Long = 30,
      lateness: String = "10 minutes"): DataFrame = {
    val streaming = events.isStreaming
    def side(tpe: String, tag: String): DataFrame = {
      val base = withTs(events).filter(col("event_type") === tpe)
      val w = if (streaming) base.withWatermark("ets", lateness) else base
      w.select(col("user_id").as(s"${tag}_uid"), col("ets").as(s"${tag}_ets"),
        col("ts").as(s"${tag}_us"), col("value").as(s"${tag}_value"))
    }
    side(leftType, "l").join(side(rightType, "r"),
        col("l_uid") === col("r_uid") &&
          col("r_ets") >= col("l_ets") &&
          col("r_ets") <= col("l_ets") + expr(s"INTERVAL $windowMinutes MINUTES"),
        "left_outer")
      .select(col("l_uid").as("user_id"), col("l_us").as("left_us"),
        col("r_us").as("right_us"), col("r_value").as("value"))
  }

  /** Stream-static blocklist filter — the ingest-time abuse/compliance
    * gate: drop every event whose key appears in a static blocklist
    * dimension (banned users, opted-out accounts, known-bot IPs) as a
    * LEFT ANTI join. Stateless: each micro-batch anti-joins against the
    * broadcast blocklist — no watermark, no state store, exactly the
    * semantics of the batch anti join the oracle replays. The
    * complement of [[enrichStatic]]'s stream-static left join.
    *
    * Scale shape: blocklist deduped then broadcast once per batch
    * (dimension-sized by contract); the event stream never shuffles. */
  def filterBlocklist(events: DataFrame, blocklist: DataFrame,
      eventKey: String, blockKey: String): DataFrame =
    events.join(
      broadcast(blocklist.select(col(blockKey)).distinct()),
      col(eventKey) === col(blockKey), "left_anti")

  /** Ordered conversion funnel over N stages: stage 1 anchors at each
    * user's earliest stage-1 event; every later stage matches its
    * earliest event STRICTLY after the previous stage's match and within
    * `windowMinutes` of it. Returns one row per stage:
    * (step, stage, users).
    *
    * Scale shape: each stage is filter + groupBy(user_id) min + an
    * equi-join back on user_id — the entire chain hash-partitions on the
    * same key, so Catalyst plans one exchange layout end to end and the
    * per-stage relations shrink monotonically (a stage never has more
    * rows than the one before). No window function ever scans the raw
    * event stream. */
  def funnel(events: DataFrame, stages: Seq[String],
      windowMinutes: Long = 2880): DataFrame = {
    require(stages.size >= 2, "a funnel needs at least 2 stages")
    require(stages.distinct.size == stages.size, "stages must be distinct")
    val winUs = windowMinutes * 60L * 1000000L
    val ev = events.select(col("user_id"), col("event_type"),
      col("ts").as("us"))
    val first = ev.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min("us").as("t"))
    val reached = stages.tail.scanLeft(first) { (prev, st) =>
      ev.filter(col("event_type") === st)
        .join(prev.select(col("user_id"), col("t").as("pt")), "user_id")
        .filter(col("us") > col("pt") && col("us") <= col("pt") + winUs)
        .groupBy("user_id").agg(min("us").as("t"))
    }
    reached.zip(stages).zipWithIndex.map { case ((df, st), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("step"), lit(st).as("stage"), col("users"))
    }.reduce(_ unionAll _).orderBy("step")
  }

  /** Weekly retention cohorts — the product-analytics matrix: cohort =
    * each user's first-activity epoch-week; cell (cohort_wk, week_offset)
    * counts that cohort's users active `offset` weeks later. Shape: both
    * the first-seen aggregate and the distinct-activity relation key on
    * user_id, so the join reuses one partitioning; weeks are integer
    * epoch arithmetic (identical in any engine). */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"),
        expr("ts div 604800000000").as("wk"))
      .distinct()
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  /** First/last-touch conversion attribution: every `convType` event is
    * attributed to the touches (any OTHER event of the same user) that
    * happened STRICTLY before it and within `lookbackMinutes`. One row
    * per conversion — (conv_id, user_id, ts_us, n_touches, first_touch,
    * first_ts_us, last_touch, last_ts_us) — conversions with no touch in
    * the window survive with n_touches 0 and null touch columns, so
    * revenue accounting stays total. Ties on timestamp break by
    * event_id, making both endpoints engine-deterministic.
    *
    * SCALE SHAPE: the conversion×touch pair relation is built with
    * [[graft.operators.RangeJoin.intervalOverlapJoin]] — (user, time-bin)
    * hash keys bound work per task by rows-per-bin instead of the
    * quadratic per-user blowup of a raw range predicate (binSize = the
    * lookback, so each conversion replicates into ≤ 2 bins). First/last
    * endpoints come from ONE lexicographic min/max-of-struct aggregation
    * on conv_id — no window function ever scans the pair relation — and
    * the conversions relation rejoins via shuffle-hash on the same key. */
  def attribution(events: DataFrame, convType: String,
      lookbackMinutes: Long = 1440): DataFrame = {
    require(lookbackMinutes >= 1, s"lookbackMinutes >= 1: $lookbackMinutes")
    val lookbackUs = lookbackMinutes * 60L * 1000000L
    val convs = events.filter(col("event_type") === convType)
      .select(col("event_id").as("conv_id"), col("user_id"), col("ts"))
    val touches = events.filter(col("event_type") =!= convType)
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("touch_type"), col("ts").as("tts"))
      .withColumn("tend", col("tts"))
    val pairs = graft.operators.RangeJoin.intervalOverlapJoin(
      convs.withColumn("ws", col("ts") - lit(lookbackUs))
        .withColumn("we", col("ts") - 1),
      touches, "ws", "we", "tts", "tend",
      binSize = lookbackUs, keys = Seq("user_id"))
    val agg = pairs.groupBy("conv_id")
      .agg(count(lit(1)).as("n_touches"),
        min(struct(col("tts"), col("touch_id"), col("touch_type"))).as("ft"),
        max(struct(col("tts"), col("touch_id"), col("touch_type"))).as("lt"))
    convs.join(agg.hint("shuffle_hash"), Seq("conv_id"), "left")
      .select(col("conv_id"), col("user_id"),
        col("ts").as("ts_us"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("ft.touch_type").as("first_touch"),
        col("ft.tts").as("first_ts_us"),
        col("lt.touch_type").as("last_touch"),
        col("lt.tts").as("last_ts_us"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence — the "what happens after X" view behind next-action
    * prediction, journey analysis, and bot detection (bots have
    * unnaturally peaked rows). Per (event_type, next_type): the
    * transition count and its row-conditional probability in ppm
    * (`n·scale div Σ_row n`, integer-exact). Sequence order is
    * (ts, event_id) within each user — the id tie-break makes
    * simultaneous events deterministic; each user's last event has no
    * successor and drops out.
    *
    * Scale shape: one window (lead) over the user partitioning — the
    * same single shuffle every per-user sequence op here pays — then a
    * count aggregation whose output is |types|² at most; row totals
    * rejoin broadcast (types are low-cardinality by construction). */
  def transitionMatrix(events: DataFrame, scale: Long = 1000000L): DataFrame = {
    require(scale >= 1 && scale <= 1000000000L, s"scale out of range: $scale")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val counts = events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum("n").as("row_n"))
    counts.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("next_type"), col("n"),
        expr(s"(n * ${scale}L) div row_n").as("p_ppm"))
  }

  /** Peak concurrency per day — the sweep-line answer to "how many users
    * were active at once": each user's daily activity interval
    * [first event, last event] contributes +1 at its start and −1 at its
    * end; the running sum over the day's endpoint sequence is the live
    * concurrency, and its maximum (with the EARLIEST time it is reached)
    * is the day's peak. Endpoint ties resolve starts-before-ends
    * (`delta DESC` in the order), so touching intervals count as
    * overlapping; peers under the default RANGE window frame share one
    * cumulative value, making the running sum deterministic in any
    * engine. Returns (day, n_intervals, peak, t_peak_us), day =
    * micros div 86 400 000 000, times in epoch micros.
    *
    * Scale shape: one (user, day) min/max aggregation builds the O(U·D)
    * interval relation; the sweep is a cumulative-sum window PARTITIONED
    * BY DAY — per-partition work ∝ that day's active users, never a
    * global sort. Intervals cannot cross partitions by construction
    * (clamped to their day), so no carry-in pass is needed; the final
    * per-day aggregation reads the windowed relation once. */
  def peakConcurrency(events: DataFrame): DataFrame = {
    val iv = events
      .select(col("user_id"), col("ts").as("tus"))
      .withColumn("day", expr("tus div 86400000000"))
      .groupBy("user_id", "day")
      .agg(min("tus").as("s"), max("tus").as("e"))
    val pts = iv.select(col("day"), col("s").as("t"), lit(1L).as("delta"))
      .unionAll(iv.select(col("day"), col("e").as("t"), lit(-1L).as("delta")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("day").orderBy(col("t"), col("delta").desc)
    pts.withColumn("conc", sum("delta").over(w))
      .groupBy("day")
      .agg((count(lit(1)) / 2).cast("long").as("n_intervals"),
        max(struct(col("conc").as("conc"), (-col("t")).as("negt"))).as("__pk"))
      .select(col("day"), col("n_intervals"),
        col("__pk.conc").as("peak"), (-col("__pk.negt")).as("t_peak_us"))
  }

  /** Half-life-decayed popularity per event_type — the "trending now"
    * ranking that forgets old traffic: events bucket into
    * `windowMinutes` windows, and a bucket `a` half-lives old contributes
    * `n·scale >> a` (power-of-two decay — engine-exact where `exp(-λt)`
    * is not; DuckDB replays the shifts digit-for-digit). The reference
    * time is the corpus's own newest bucket, so the score is a pure
    * function of the event set. Returns
    * (event_type, n_total, decayed_scaled) with decayed_scaled =
    * Σ_buckets (n·scale) >> min(age_buckets div halflifeBuckets, 62).
    *
    * Scale shape: one (type, bucket) count aggregation collapses the
    * stream to a counts table of |types| × |buckets| rows; the global
    * newest bucket is a one-row aggregate cross-joined in (broadcast);
    * the decay fold re-aggregates the tiny counts table. Raw events are
    * scanned exactly once. */
  def decayedCounts(events: DataFrame, windowMinutes: Long = 60,
      halflifeBuckets: Int = 24, scale: Long = 1000000L): DataFrame = {
    require(halflifeBuckets >= 1 && halflifeBuckets <= 10000)
    require(scale >= 1 && scale <= 1000000000000L)
    val winUs = windowMinutes * 60L * 1000000L
    val counts = events
      .select(expr(s"ts div ${winUs}L").as("bucket"),
        col("event_type"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
    val ref = counts.agg(max("bucket").as("ref_bucket"))
    counts.join(broadcast(ref))
      .withColumn("age_hl",
        expr(s"least((ref_bucket - bucket) div $halflifeBuckets, 62L)"))
      .groupBy("event_type")
      .agg(sum("n").as("n_total"),
        sum(expr(s"shiftright(n * ${scale}L, cast(age_hl as int))"))
          .as("decayed_scaled"))
      .orderBy(col("decayed_scaled").desc, col("event_type"))
  }

  /** Per-user behavioral fingerprint — the rate-limit / bot-detection
    * view: event count, distinct event types, activity span, minimum
    * inter-arrival gap (ties broken by event_id so the gap sequence is
    * deterministic), and the hottest minute (max events in any one
    * minute bucket). `bot` fires when the user ever acted faster than
    * `minGapUs` between consecutive events or packed `burstPerMin`+
    * events into a minute — machine cadence, not human. Single-event
    * users keep a NULL gap and can only flag on the burst rule.
    *
    * Scale shape: everything keys on user_id — the lag window, the
    * per-(user, minute) bucket counts, and the final aggregation all
    * reuse the one user partitioning; output is O(users). */
  def botSignals(events: DataFrame, minGapUs: Long = 1000000L,
      burstPerMin: Long = 10L): DataFrame = {
    require(minGapUs >= 0 && burstPerMin >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val base = events
      .select(col("user_id"), col("event_id"), col("ts").as("tus"),
        col("event_type"))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
    val perUser = base.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("event_type")).as("n_types"),
      (max("tus") - min("tus")).as("span_us"),
      min("gap_us").as("min_gap_us"))
    val burst = base
      .groupBy(col("user_id"), expr("tus div 60000000").as("minute"))
      .agg(count(lit(1)).as("m"))
      .groupBy("user_id").agg(max("m").as("max_per_min"))
    perUser.join(burst, "user_id")
      .select(col("user_id"), col("n_events"), col("n_types"), col("span_us"),
        col("min_gap_us"), col("max_per_min"),
        (coalesce(col("min_gap_us") < minGapUs, lit(false)) ||
          col("max_per_min") >= burstPerMin).cast("int").as("bot"))
  }

  /** Time-in-state per event type — how long users DWELL in each state
    * before their next action (the engagement/abandonment read behind
    * session design): each event's dwell is the gap to the SAME user's
    * next event (ties broken by event_id), attributed to the state being
    * left; a user's last event has no successor and drops out. Returns
    * per event_type: (event_type, n_stays, total_dwell_us,
    * mean_dwell_us = total div n, max_dwell_us).
    *
    * Scale shape: one lead window on the user partitioning — the same
    * single shuffle every per-user sequence op here pays — then a
    * |types|-row aggregation. */
  def dwellTimes(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("ts").as("tus"),
        col("event_type"))
      .withColumn("dwell_us", lead(col("tus"), 1).over(w) - col("tus"))
      .filter(col("dwell_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_stays"), sum("dwell_us").as("total_dwell_us"),
        max("dwell_us").as("max_dwell_us"))
      .select(col("event_type"), col("n_stays"), col("total_dwell_us"),
        expr("total_dwell_us div n_stays").as("mean_dwell_us"),
        col("max_dwell_us"))
  }

  /** Frequent journey mining — the top event-type PATHS of length
    * `pathLen` users actually walk (the [[transitionMatrix]] is the
    * order-1 view; this surfaces whole flows like browse>click>purchase):
    * consecutive same-user runs via stacked leads ((ts, event_id)
    * order), counted and ranked (count desc, path asc). Returns
    * (path, n, rank) for the top `topK`.
    *
    * Scale shape: one multi-lead window on the user partitioning (the
    * shared per-user-sequence shuffle), a count groupBy bounded by
    * |types|^pathLen, and a TakeOrdered top-k. `pathLen` is capped —
    * the path-space blowup is the caller's lever, not a surprise. */
  def topPaths(events: DataFrame, pathLen: Int = 3,
      topK: Int = 20): DataFrame = {
    require(pathLen >= 2 && pathLen <= 6, s"pathLen out of range: $pathLen")
    require(topK >= 1 && topK <= 10000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val steps = (1 until pathLen).foldLeft(
      events.select(col("user_id"), col("event_id"),
        col("ts").as("tus"), col("event_type").as("t0"))) {
      (acc, i) => acc.withColumn(s"t$i", lead(col("t0"), i).over(w))
    }
    val full = steps.filter((1 until pathLen)
      .map(i => col(s"t$i").isNotNull).reduce(_ && _))
    val path = concat_ws(">", (0 until pathLen).map(i => col(s"t$i")): _*)
    val ranked = full.select(path.as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("path"))))
    ranked.filter(col("rank") <= topK)
  }

  /** RFM segmentation — the classic lifecycle cut (recency, frequency,
    * monetary) over one event type: per user, micros since their last
    * `eventType` event (reference = the corpus's newest such event, so
    * the result is a pure function of the event set), the count, and the
    * exact decimal(30,2) value sum (order-independent where a double sum
    * is not); each dimension quintiles via ntile(5) with a total
    * (metric, user_id) order, and `segment` concatenates the three
    * scores (higher = more recent / more frequent / bigger spender).
    * Returns (user_id, recency_us, freq, monetary, r_q, f_q, m_q,
    * segment).
    *
    * Scale shape: one filter + user-key aggregation; the three ntile
    * windows rank the USER SUMMARY (one row per user), not events — the
    * T11 summary-sort discipline. Reference time is a one-row broadcast. */
  def rfmSegments(events: DataFrame,
      eventType: String = "purchase"): DataFrame = {
    val base = events.filter(col("event_type") === eventType)
      .select(col("user_id"), col("ts").as("tus"), col("value"))
    val ref = broadcast(base.agg(max("tus").as("ref_tus")))
    val perUser = base.groupBy("user_id")
      .agg(max("tus").as("last_tus"), count(lit(1)).as("freq"),
        sum(col("value").cast("decimal(30,2)")).as("mon"))
      .crossJoin(ref)
      .withColumn("recency_us", col("ref_tus") - col("last_tus"))
    def q(c: String) = ntile(5).over(org.apache.spark.sql.expressions.Window
      .orderBy(col(c), col("user_id")))
    perUser
      .withColumn("r_q", q("last_tus")) // older last purchase -> lower score
      .withColumn("f_q", q("freq"))
      .withColumn("m_q", q("mon"))
      .select(col("user_id"), col("recency_us"), col("freq"),
        col("mon").cast("double").as("monetary"),
        col("r_q"), col("f_q"), col("m_q"),
        concat(col("r_q"), col("f_q"), col("m_q")).as("segment"))
  }

  /** Session bounce/exit accounting — per ENTRY event type, how many
    * sessions start there and how many go nowhere (the landing-page
    * health read): sessions are `gapMinutes`-inactivity runs per user
    * (the same rule as [[sessionize]], spelled as a cumulative
    * new-session flag so any SQL engine replays it), entry/exit are the
    * first/last events in (time, event_id) order, and a bounce is a
    * single-event session. Returns per entry type: (entry_type,
    * n_sessions, n_bounces, bounce_ppm, n_exits_here = sessions that
    * also END on this type).
    *
    * Scale shape: the lag flag, the cumulative session id, and the
    * first/last window all run on the ONE user partitioning; the final
    * aggregation reads the per-session relation (one row per session). */
  def bounceRates(events: DataFrame, gapMinutes: Long = 30): DataFrame = {
    require(gapMinutes >= 1, "gapMinutes >= 1")
    val gapUs = gapMinutes * 60L * 1000000L
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val sessions = events
      .select(col("user_id"), col("event_id"), col("ts").as("tus"),
        col("event_type"))
      .withColumn("new_s",
        when(col("tus") - lag(col("tus"), 1).over(wOrd) > gapUs, 1L)
          .otherwise(when(lag(col("tus"), 1).over(wOrd).isNull, 1L)
            .otherwise(0L)))
      .withColumn("sid", sum("new_s").over(wCum))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"),
        min(struct(col("tus"), col("event_id"), col("event_type")))
          .getField("event_type").as("entry_type"),
        max(struct(col("tus"), col("event_id"), col("event_type")))
          .getField("event_type").as("exit_type"))
    sessions.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        coalesce(sum(when(col("n_events") === 1, 1L)), lit(0L))
          .as("n_bounces"),
        coalesce(sum(when(col("exit_type") === col("entry_type"), 1L)),
          lit(0L)).as("n_exits_here"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounces"),
        expr("(n_bounces * 1000000L) div n_sessions").as("bounce_ppm"),
        col("n_exits_here"))
  }

  /** CUSUM change-point detection — WHERE did each event type's rate
    * shift (the [[rateSpikes]] monitor says "a window spiked"; this says
    * "the level changed at t and by how much"): over the type's observed
    * `windowMinutes` buckets with counts x₁…xₙ, deviations are scaled by
    * n to stay integer (devᵢ = n·xᵢ − Σx ∝ xᵢ − mean), S = the running
    * deviation sum, and the CUSUM drawup S − min(S so far) peaks at the
    * end of the most sustained upward level shift. Returns per type:
    * (event_type, n_windows, peak_drawup, w_at_peak_us) — peak_drawup
    * is in n-scaled count units (divide by n for events); the earliest
    * peak wins ties. Downward shifts are the same query on negated
    * counts — deliberately not duplicated here.
    *
    * Scale shape: one (type, bucket) count aggregation collapses the
    * stream; the two cumulative windows and the final max run over the
    * counts table (windows × types rows), partitioned by type. */
  def changePoints(events: DataFrame,
      windowMinutes: Long = 60): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    val counts = events
      .select((col("ts") - pmod(col("ts"), lit(winUs)))
        .as("w"), col("event_type"))
      .groupBy("event_type", "w").agg(count(lit(1)).as("x"))
    val stats = counts.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("w")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    counts.join(broadcast(stats), "event_type")
      .withColumn("dev", expr("n * x - sx"))
      .withColumn("s", sum("dev").over(wCum))
      .withColumn("runmin", min("s").over(wCum))
      .withColumn("drawup", col("s") - col("runmin"))
      .groupBy("event_type")
      .agg(max("n").as("n_windows"),
        max(struct(col("drawup").as("d"), (-col("w")).as("negw"))).as("__pk"))
      .select(col("event_type"), col("n_windows"),
        col("__pk.d").as("peak_drawup"), (-col("__pk.negw")).as("w_at_peak_us"))
  }

  /** Integer least-squares trend — is each event type's volume growing
    * or shrinking, as a number ([[changePoints]] finds WHERE the level
    * moved; this fits HOW FAST it drifts): over the type's observed
    * `windowMinutes` buckets with x = bucket index and y = count,
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * in milli-events-per-window via engine-portable floor division (the
    * numerator is signed). A single-window type has den = 0 AND num = 0
    * — slope reports 0 via the guard. Returns
    * (event_type, n_windows, num, den, slope_milli).
    *
    * Scale shape: one (type, bucket) count aggregation collapses the
    * stream; the regression moments are one more |types|-row partial
    * agg. Nothing else. */
  def trendSlopes(events: DataFrame,
      windowMinutes: Long = 1440): DataFrame = {
    val winUs = windowMinutes * 60L * 1000000L
    events
      .select(expr(s"ts div ${winUs}L").as("x"), col("event_type"))
      .groupBy("event_type", "x").agg(count(lit(1)).as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_windows"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", expr("n_windows * sxy - sx * sy"))
      .withColumn("den", expr("n_windows * sxx - sx * sx"))
      .select(col("event_type"), col("n_windows"), col("num"), col("den"),
        expr("(num * 1000L - pmod(num * 1000L, greatest(1L, den))) div " +
          "greatest(1L, den)").as("slope_milli"))
  }

  /** Behavioral diversity per user — the Gini-Simpson index 1 − Σpᵢ²
    * over the user's event-type mix, in integer ppm (the ln()-free
    * diversity measure entropy can't give cross-engine): 0 = the user
    * only ever does one thing (bot smell), → 1 − 1/k = uniform across k
    * types. simpson_ppm = 10⁶ − Σnₜ²·10⁶ div n². Returns
    * (user_id, n_events, n_types, simpson_ppm).
    *
    * Scale shape: one (user, type) count aggregation, then a user-key
    * re-agg on the same partitioning; output is O(users). */
  def behaviorDiversity(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type").agg(count(lit(1)).as("nt"))
      .groupBy("user_id")
      .agg(sum("nt").as("n_events"), count(lit(1)).as("n_types"),
        sum(col("nt") * col("nt")).as("ssq"))
      .select(col("user_id"), col("n_events"), col("n_types"),
        expr("1000000L - (ssq * 1000000L) div (n_events * n_events)")
          .as("simpson_ppm"))

  /** Log₂-bucketed inter-arrival histogram per event type — the latency
    * spectrum behind [[botSignals]]' thresholds (humans live in the
    * seconds-to-minutes octaves, machines in the sub-second ones): each
    * same-user gap (micros, (ts, event_id) order) lands in octave
    * `length(bin(gap))` = ⌊log₂ gap⌋ + 1 — the BINARY-STRING-LENGTH
    * trick both engines compute identically, no float log. Zero gaps
    * take octave 0. Returns (event_type, octave, n, pct_ppm of the
    * type's gaps).
    *
    * Scale shape: one lag window on the user partitioning, one
    * (type, octave)-bounded count agg, type totals rejoin broadcast. */
  def interArrivalHistogram(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    val gaps = events
      .select(col("user_id"), col("event_id"), col("ts").as("tus"),
        col("event_type"))
      .withColumn("gap_us", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("octave",
        when(col("gap_us") <= 0, 0L)
          .otherwise(length(bin(col("gap_us"))).cast("long")))
    val counts = gaps.groupBy("event_type", "octave")
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("octave"), col("n"),
        expr("(n * 1000000L) div tot").as("pct_ppm"))
  }

  final case class UserFeatIn(user_id: Long, tus: Long, cents: Long)
  final case class UserFeatState(n: Long, lastTus: Long, sumCents: Long)
  final case class UserFeatOut(user_id: Long, n_events: Long,
    last_tus: Long, sum_cents: Long)

  /** Online per-user feature maintenance — the streaming feature-store
    * pattern: per user, the running (event count, last-seen micros,
    * exact money sum in CENTS — decimal-derived integers, so stream and
    * batch agree digit-for-digit). Batch inputs compute the same
    * features as one aggregation; streaming inputs keep one
    * `UserFeatState` per user in `mapGroupsWithState` (Update mode) and
    * re-emit a user's CURRENT feature row each micro-batch that touches
    * them — the serving table upserts by user_id. Counters are
    * order-independent sums and max, so any replay/split of the input
    * converges to the identical state (spec-pinned batch ≡ 3-batch
    * replay).
    *
    * Scale shape: state = one small case class per ACTIVE user;
    * batch path is one user-key aggregation. */
  def runningUserFeatures(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"),
        col("ts").as("tus"),
        (col("value").cast("decimal(30,2)") * 100).cast("long").as("cents"))
      .as[UserFeatIn]
    if (!events.isStreaming) {
      typed.groupBy("user_id").agg(count(lit(1)).as("n_events"),
        max("tus").as("last_tus"), sum("cents").as("sum_cents"))
    } else {
      typed.groupByKey(_.user_id)
        .mapGroupsWithState[UserFeatState, UserFeatOut](
          GroupStateTimeout.NoTimeout) { (uid, rows, state) =>
          val prev = state.getOption.getOrElse(UserFeatState(0L, Long.MinValue, 0L))
          val next = rows.foldLeft(prev) { (st, r) =>
            UserFeatState(st.n + 1, math.max(st.lastTus, r.tus),
              st.sumCents + r.cents)
          }
          state.update(next)
          UserFeatOut(uid, next.n, next.lastTus, next.sumCents)
        }.toDF()
    }
  }

  /** Conversion latency — the funnel-TIMING companion to [[funnel]]'s
    * counts: per user, the gap from their FIRST `fromType` event to
    * their first `toType` event at-or-after it; the distribution ships
    * as exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont` — the qp04 parity) plus count and max. One row:
    * (n_converted, p25_us, p50_us, p75_us, p90_us, max_us).
    *
    * Scale shape: two user-key min-aggregations (the second over the
    * at-or-after filter on the same partitioning) and one global
    * percentile aggregate over the O(users) latency relation. */
  def conversionLatency(events: DataFrame, fromType: String = "signup",
      toType: String = "purchase"): DataFrame = {
    val base = events
      .select(col("user_id"), col("ts").as("tus"),
        col("event_type"))
    val from = base.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("tus").as("s"))
    val lat = base.filter(col("event_type") === toType)
      .join(from, "user_id")
      .filter(col("tus") >= col("s"))
      .groupBy("user_id").agg((min("tus") - first("s")).as("latency_us"))
    lat.agg(count(lit(1)).as("n_converted"),
      expr("percentile(latency_us, 0.25)").as("p25_us"),
      expr("percentile(latency_us, 0.5)").as("p50_us"),
      expr("percentile(latency_us, 0.75)").as("p75_us"),
      expr("percentile(latency_us, 0.9)").as("p90_us"),
      max("latency_us").as("max_us"))
  }

  /** Weekday seasonality profile — per event type, how the volume
    * spreads over the days of the week (dow 0 = Monday, from pure epoch
    * arithmetic `(days + 3) % 7` — 1970-01-01 was a Thursday; no
    * calendar/timezone functions to disagree cross-engine), each day's
    * share in ppm and its deviation from the uniform 1/7 (142857 ppm).
    * Returns (event_type, dow, n, share_ppm, dev_ppm).
    *
    * Scale shape: one (type, dow) count aggregation (≤ 7·|types| rows);
    * type totals rejoin broadcast. */
  def weekdayProfile(events: DataFrame): DataFrame = {
    val counts = events
      .select(col("event_type"),
        expr("(ts div 86400000000 + 3) % 7").as("dow"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("event_type").agg(sum("n").as("tot"))
    counts.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        expr("(n * 1000000L) div tot").as("share_ppm"))
      .withColumn("dev_ppm", abs(col("share_ppm") - 142857L))
  }

  /** Point-in-time feature extraction — the leakage-safe training-table
    * builder (feature-store "PIT correctness"): for every event of
    * `labelType`, features computed ONLY from the same user's STRICTLY
    * EARLIER events under the total order (ts, event_id): prior counts
    * per behavior type, prior count of the label type itself, and the
    * microseconds since the user's previous event (−1 for a user's first
    * event). A model trained on these rows can never see the future.
    * Returns (event_id, user_id, ts_us, prior_views, prior_clicks,
    * prior_errors, prior_purchases, us_since_prev).
    *
    * Scale shape: ONE cumulative window per user (hash-partitioned by
    * user_id, sorted inside the partition) computes every feature —
    * adding a feature adds a window agg on the SAME window frame, not a
    * join and not a second shuffle. No self-join against history. */
  def pitFeatures(events: DataFrame,
      labelType: String = "purchase"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def prior(tpe: String) =
      coalesce(sum(when(col("event_type") === tpe, 1L).otherwise(0L)).over(w),
        lit(0L))
    events
      .select(col("event_id"), col("user_id"),
        col("ts").as("tus"), col("event_type"))
      .withColumn("prior_views", prior("view"))
      .withColumn("prior_clicks", prior("click"))
      .withColumn("prior_errors", prior("error"))
      .withColumn("prior_purchases", prior(labelType))
      .withColumn("us_since_prev",
        coalesce(col("tus") - max("tus").over(w), lit(-1L)))
      .filter(col("event_type") === labelType)
      .select(col("event_id"), col("user_id"), col("tus").as("ts_us"),
        col("prior_views"), col("prior_clicks"), col("prior_errors"),
        col("prior_purchases"), col("us_since_prev"))
  }

  /** Cohort LTV curves — revenue per signup cohort by week offset, with
    * the running total a growth team actually plots: users cohort by the
    * epoch-week of their FIRST signup; every purchase lands in
    * (cohort_week, purchase_week − cohort_week); revenue accumulates in
    * exact decimal (order-independent) and emits as double. Returns
    * (cohort_week, week_offset, n_buyers, revenue, cum_revenue).
    *
    * Scale shape: one groupBy for cohorts, one shuffled join purchases →
    * cohort (both sides hash-partitioned on user_id), one (cohort,
    * offset) aggregation, then a window over the TINY aggregate table
    * (≤ cohorts × weeks rows) for the cumulative. */
  def ltvCohorts(events: DataFrame): DataFrame = {
    val base = events.select(col("user_id"),
      expr("ts div 604800000000").as("wk"),
      col("event_type"), col("value"))
    val cohorts = base.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("wk").as("cohort_week"))
    val per = base.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .groupBy(col("cohort_week"), (col("wk") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_buyers"),
        sum(col("value").cast("decimal(30,4)")).as("rev_dec"))
    val cum = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort_week").orderBy("week_offset")
    per.select(col("cohort_week"), col("week_offset"), col("n_buyers"),
        col("rev_dec").cast("double").as("revenue"),
        sum("rev_dec").over(cum).cast("double").as("cum_revenue"))
  }

  /** Event-time disorder audit — the measurement that SIZES a watermark
    * (how late do events actually arrive, per type?): with `event_id` as
    * the arrival-order proxy (monotone ingest sequence), an event is
    * LATE when its event time precedes the running max event time among
    * the same user's earlier-arriving events; its lateness is that
    * deficit in µs. Per event type:
    * (event_type, n, n_late, late_ppm, max_late_us, sum_late_us) —
    * `max_late_us` is the smallest watermark that would lose nothing.
    *
    * Scale shape: one cumulative-max window per user (hash-partitioned
    * on user_id), then one count aggregation per type. No joins. */
  def disorderAudit(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("user_id"),
        col("ts").as("tus"), col("event_type"))
      .withColumn("late_us",
        greatest(coalesce(max("tus").over(w) - col("tus"), lit(0L)), lit(0L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(when(col("late_us") > 0, 1L)), lit(0L)).as("n_late"),
        max("late_us").as("max_late_us"),
        sum("late_us").as("sum_late_us"))
      .withColumn("late_ppm", expr("(n_late * 1000000L) div n"))
      .select("event_type", "n", "n_late", "late_ppm", "max_late_us",
        "sum_late_us")
  }

  /** Seasonality-adjusted volume anomaly — daily event counts judged
    * against their own weekday's baseline (a Saturday dip is not an
    * incident; a Tuesday at Saturday volume is): per (event_type, day),
    * deviation from the mean observed count of that type's same weekday,
    * in ppm of the baseline — `dev_ppm = |n·den·10⁶ div num − 10⁶|`
    * where num/den are the (type, dow) sum and day-count. Rows over
    * `thresholdPpm` are the anomalies. Returns
    * (event_type, day, dow, n, base_num, base_den, dev_ppm), flagged
    * days only, all integer arithmetic (epoch-day dow, no calendar
    * functions).
    *
    * Scale shape: one (type, day) count pass, one (type, dow) rollup of
    * that (≤ 7·|types| rows, broadcast back), one filter. */
  def seasonalAnomaly(events: DataFrame,
      thresholdPpm: Long = 300000L): DataFrame = {
    require(thresholdPpm >= 0, s"thresholdPpm out of range: $thresholdPpm")
    val daily = events
      .select(col("event_type"),
        expr("ts div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(day + 3) % 7"))
    val base = daily.groupBy("event_type", "dow")
      .agg(sum("n").as("base_num"), count(lit(1)).as("base_den"))
    daily.join(broadcast(base), Seq("event_type", "dow"))
      .withColumn("dev_ppm",
        abs(expr("(n * base_den * 1000000L) div base_num") - 1000000L))
      .filter(col("dev_ppm") > thresholdPpm)
      .select("event_type", "day", "dow", "n", "base_num", "base_den",
        "dev_ppm")
  }

  /** Conversion-time CDF — the curve behind "how long until signups
    * convert" (the discrete, integer-exact face of a survival analysis):
    * per whole-day offset from each user's first signup, how many users
    * converted AT that offset, cumulatively, and the share of ALL
    * signups converted within it. Returns
    * (day_offset, n_new, cum_converted, cdf_ppm).
    *
    * Scale shape: two per-user min aggregations, one ≤span-days groupBy,
    * one cumulative window over that tiny table, one 1-row signup-count
    * broadcast. */
  def conversionCurve(events: DataFrame, fromType: String = "signup",
      toType: String = "purchase"): DataFrame = {
    val base = events
      .select(col("user_id"), col("ts").as("tus"),
        col("event_type"))
    val from = base.filter(col("event_type") === fromType)
      .groupBy("user_id").agg(min("tus").as("s"))
    val nSignups = broadcast(from.agg(count(lit(1)).as("n_signups")))
    val perDay = base.filter(col("event_type") === toType)
      .join(from, "user_id")
      .filter(col("tus") >= col("s"))
      .groupBy("user_id").agg(min(expr("(tus - s) div 86400000000"))
        .as("day_offset"))
      .groupBy("day_offset").agg(count(lit(1)).as("n_new"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    perDay
      .withColumn("cum_converted", sum("n_new").over(w))
      .crossJoin(nSignups)
      .select(col("day_offset"), col("n_new"), col("cum_converted"),
        expr("(cum_converted * 1000000L) div n_signups").as("cdf_ppm"))
  }

  /** Seasonal-naive forecast backtest — the accuracy floor every real
    * forecast must beat (predict today = same weekday last week), scored
    * on the corpus itself: per event type, over every day with a
    * week-ago observation, the WAPE (weighted absolute percentage error)
    * in ppm. Returns
    * (event_type, n_days, sum_abs_err, sum_actual, wape_ppm).
    *
    * Scale shape: one (type, day) count pass; the backtest is a
    * self-equi-join on (type, day − 7) over the tiny daily table. */
  def naiveBacktest(events: DataFrame, lagDays: Int = 7): DataFrame = {
    require(lagDays >= 1, s"lagDays out of range: $lagDays")
    val daily = events
      .select(col("event_type"),
        expr("ts div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val pred = daily.select(col("event_type"),
      (col("day") + lagDays).as("day"), col("n").as("pred"))
    daily.join(pred, Seq("event_type", "day"))
      .select(col("event_type"), abs(col("n") - col("pred")).as("ae"),
        col("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum("ae").as("sum_abs_err"),
        sum("n").as("sum_actual"))
      .withColumn("wape_ppm",
        expr("(sum_abs_err * 1000000L) div greatest(1L, sum_actual)"))
  }

  /** DAU / trailing-WAU / stickiness — the engagement dashboard's
    * backbone: per epoch-day, the distinct daily actives, the distinct
    * actives over the trailing 7 days, and DAU/WAU stickiness in ppm.
    * The trailing-window distinct does NOT re-scan 7 days per day: each
    * (user, active-day) fact fans out to the ≤ 7 future days it keeps
    * alive, and WAU is a plain distinct count per target day. Only days
    * with at least one active user appear. Returns
    * (day, dau, wau, stickiness_ppm).
    *
    * Scale shape: one (user, day) distinct; DAU one groupBy; WAU an
    * explode by the CONSTANT window length + distinct + groupBy.
    * Fan-out = 7×, independent of data volume or skew. */
  def dauWau(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1 && windowDays <= 370,
      s"windowDays out of range: $windowDays")
    val ud = events
      .select(col("user_id"),
        expr("ts div 86400000000").as("day")).distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + (windowDays - 1)))
          .as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    // only real activity days (the explode also creates the windowDays-1
    // ghost days after the last event)
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("(dau * 1000000L) div wau").as("stickiness_ppm"))
  }

  /** Deterministic A/B assignment + outcome readout — the experiment
    * table with the assignment a re-run can reproduce (md5 of the user
    * id, salted per experiment — no RNG, no assignment log to lose):
    * per arm, exposed users, converters (any `convType` event), and the
    * conversion rate in ppm. Returns (arm, n_users, n_converted,
    * conv_ppm) with arm ∈ {'A','B'}.
    *
    * Scale shape: one distinct over (user, converted-flag aggregates) —
    * a per-user groupBy — then a 2-row arm rollup. The assignment is a
    * pure per-row hash. */
  def abAssignment(events: DataFrame, convType: String = "purchase",
      salt: String = "exp1"): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(max(when(col("event_type") === convType, 1L).otherwise(0L))
        .as("converted"))
      .withColumn("arm",
        when(conv(substring(md5(concat(lit(s"ab_${salt}_"),
          col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
      .withColumn("conv_ppm", expr("(n_converted * 1000000L) div n_users"))
  }

  /** Markov baseline accuracy — how predictable is the NEXT event from
    * the current one alone (the majority-class baseline any sequence
    * model must beat, measured on the same corpus the [[transitionMatrix]]
    * was counted from): per state, the most frequent successor (count
    * tie broken by successor name), and the share of transitions it
    * explains. Returns (prev, top_next, top_count, total, acc_ppm).
    *
    * Scale shape: successor extraction is one lead window per user;
    * bigram counts one groupBy; the per-state argmax a rank window over
    * the |states|² count table. */
  def markovAccuracy(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("tus", "event_id")
    val bi = events
      .select(col("user_id"), col("event_id"),
        col("ts").as("tus"), col("event_type").as("prev"))
      .withColumn("next", lead("prev", 1).over(w))
      .filter(col("next").isNotNull)
      .groupBy("prev", "next").agg(count(lit(1)).as("c"))
    val rk = org.apache.spark.sql.expressions.Window
      .partitionBy("prev").orderBy(col("c").desc, col("next"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy("prev")
    bi.withColumn("total", sum("c").over(tot))
      .withColumn("r", row_number().over(rk))
      .filter(col("r") === 1)
      .select(col("prev"), col("next").as("top_next"),
        col("c").as("top_count"), col("total"),
        expr("(c * 1000000L) div total").as("acc_ppm"))
  }

  /** Alert debouncing — coalesce [[seasonalAnomaly]]'s flagged days into
    * EPISODES (ops pages on incidents, not on every anomalous sample):
    * consecutive flagged days of one event type merge via the
    * gaps-and-islands identity (day − row_number is constant inside a
    * run). Per episode:
    * (event_type, start_day, end_day, n_days, peak_dev_ppm).
    *
    * Scale shape: the input is the (tiny) flagged-day table; one
    * row_number window per type and one (type, island) aggregate. */
  def alertEpisodes(events: DataFrame,
      thresholdPpm: Long = 100000L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
    seasonalAnomaly(events, thresholdPpm)
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("event_type", "island")
      .agg(min("day").as("start_day"), max("day").as("end_day"),
        count(lit(1)).as("n_days"), max("dev_ppm").as("peak_dev_ppm"))
      .select("event_type", "start_day", "end_day", "n_days", "peak_dev_ppm")
  }

  /** Source freshness audit — the data-SLA staleness table (which feeds
    * are behind?): per event type, first/last event time, span, the lag
    * behind the NEWEST event anywhere, and the row count. Returns
    * (event_type, first_us, last_us, span_us, lag_us, n).
    *
    * Scale shape: one min/max/count aggregation per type; the global
    * newest timestamp is a one-row broadcast rejoined to the tiny
    * per-type table. */
  def freshnessLag(events: DataFrame): DataFrame = {
    val per = events
      .select(col("event_type"), col("ts").as("tus"))
      .groupBy("event_type")
      .agg(min("tus").as("first_us"), max("tus").as("last_us"),
        count(lit(1)).as("n"))
    val global = broadcast(per.agg(max("last_us").as("gmax")))
    per.crossJoin(global)
      .select(col("event_type"), col("first_us"), col("last_us"),
        (col("last_us") - col("first_us")).as("span_us"),
        (col("gmax") - col("last_us")).as("lag_us"), col("n"))
  }

  /** Frequency-capped sampling — the heavy-user down-sampler a training
    * pipeline runs so one bot or power user cannot dominate the corpus
    * (the per-author cap in LLM data curation): each user keeps at most
    * `cap` events, chosen by md5 rank (a pure function of event ids —
    * any engine, any partitioning, any day draws the SAME sample).
    * Returns the per-type attrition report:
    * (event_type, n_before, n_after, kept_ppm).
    *
    * Scale shape: one rank window per user (hash-partitioned on
    * user_id, partition size = that user's row count), one count
    * aggregation. The sample itself (rank <= cap) is a filter on the
    * same frame — callers wanting rows instead of the report take it
    * before the final groupBy. */
  def freqCappedSample(events: DataFrame, cap: Int = 50): DataFrame = {
    require(cap >= 1, s"cap out of range: $cap")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy("h", "event_id")
    events
      .select(col("event_id"), col("user_id"), col("event_type"),
        md5(concat(lit("fc_"), col("event_id").cast("string"))).as("h"))
      .withColumn("rk", row_number().over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_before"),
        coalesce(sum(when(col("rk") <= cap, 1L)), lit(0L)).as("n_after"))
      .withColumn("kept_ppm", expr("(n_after * 1000000L) div n_before"))
  }

  /** Watermark loss sweep — for each candidate watermark, how many
    * events a streaming job would DROP (arrive later than the watermark
    * allows), per type ([[disorderAudit]] sizes the lossless watermark;
    * this prices the lossy ones): lateness is the per-user
    * running-max deficit in arrival (event_id) order. Returns
    * (event_type, watermark_us, n_events, n_dropped, drop_ppm), one row
    * per (type, candidate).
    *
    * Scale shape: ONE cumulative-max window pass computes lateness; the
    * sweep explodes each event into the candidate list (constant
    * fan-out) and counts. */
  def watermarkSweep(events: DataFrame,
      candidatesUs: Seq[Long] = Seq(0L, 1000000L, 10000000L, 60000000L,
        600000000L)): DataFrame = {
    require(candidatesUs.nonEmpty, "candidatesUs must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val late = events
      .select(col("event_id"), col("user_id"),
        col("ts").as("tus"), col("event_type"))
      .withColumn("late_us",
        greatest(coalesce(max("tus").over(w) - col("tus"), lit(0L)), lit(0L)))
    val cand = array(candidatesUs.map(lit): _*)
    late
      .select(col("event_type"), col("late_us"),
        explode(cand).as("watermark_us"))
      .groupBy("event_type", "watermark_us")
      .agg(count(lit(1)).as("n_events"),
        coalesce(sum(when(col("late_us") > col("watermark_us"), 1L)),
          lit(0L)).as("n_dropped"))
      .withColumn("drop_ppm", expr("(n_dropped * 1000000L) div n_events"))
  }

  /** Power-user curve — the engagement histogram (how many users were
    * active exactly k distinct days): per user, distinct epoch-days with
    * any event; then days_active → n_users. Returns
    * (days_active, n_users) — the L28-style curve for the data's span.
    *
    * Scale shape: distinct on (user, day) then two partial-aggregated
    * groupBys, each on its natural key; nothing driver-side. */
  def activityHistogram(events: DataFrame): DataFrame =
    events
      .select(col("user_id"),
        expr("ts div 86400000000").as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("days_active"))
      .groupBy("days_active").agg(count(lit(1)).as("n_users"))

  def dedupEvents(events: DataFrame, idCol: String = "event_id",
      watermark: String = "10 minutes"): DataFrame = {
    val t = withTs(events).withWatermark("ets", watermark)
    if (events.isStreaming) t.dropDuplicatesWithinWatermark(idCol)
    else t.dropDuplicates(idCol)
  }

  /** Error-budget burn-rate monitor — the SRE multi-window alert (a
    * short window catches fast burns, a long window keeps the alert from
    * flapping; page only when BOTH exceed the budget): per hour,
    * trailing error-rate ppm over the short and long windows (RANGE
    * frames over the hour value, so silent hours count as elapsed time,
    * not skipped rows) and the page flag
    * `short_ppm > 2·budget AND long_ppm > budget`. Returns
    * (hr, err_short, tot_short, err_long, tot_long, short_ppm,
    * long_ppm, page).
    *
    * Scale shape: the corpus collapses to hourly (errors, total) counts
    * first; both trailing windows ride ONE hour-ordered sort over the
    * span-bounded hourly relation (the qa22/qw10 span contract). */
  def burnRate(events: DataFrame, budgetPpm: Long = 50000L,
      shortHours: Int = 1, longHours: Int = 6): DataFrame = {
    require(budgetPpm >= 1 && shortHours >= 1 && longHours > shortHours,
      s"bad burn config: $budgetPpm/$shortHours/$longHours")
    val hourly = events
      .select(expr("ts div 3600000000").as("hr"),
        (col("event_type") === "error").cast("long").as("e"))
      .groupBy("hr")
      .agg(count(lit(1)).as("tot"), coalesce(sum("e"), lit(0L)).as("err"))
    val W = org.apache.spark.sql.expressions.Window
    def trailing(h: Int) = W.orderBy("hr").rangeBetween(-(h - 1L), 0L)
    hourly
      .withColumn("err_short", sum("err").over(trailing(shortHours)))
      .withColumn("tot_short", sum("tot").over(trailing(shortHours)))
      .withColumn("err_long", sum("err").over(trailing(longHours)))
      .withColumn("tot_long", sum("tot").over(trailing(longHours)))
      .withColumn("short_ppm",
        expr("(err_short * 1000000L) div greatest(1L, tot_short)"))
      .withColumn("long_ppm",
        expr("(err_long * 1000000L) div greatest(1L, tot_long)"))
      .withColumn("page",
        (col("short_ppm") > 2 * budgetPpm &&
          col("long_ppm") > budgetPpm).cast("long"))
      .select("hr", "err_short", "tot_short", "err_long", "tot_long",
        "short_ppm", "long_ppm", "page")
  }

  /** Growth-accounting grid — the canonical weekly user-growth
    * decomposition (every active user is exactly one of new / retained /
    * resurrected; churn reads forward): per activity week,
    * (wk, n_active, n_new, n_retained, n_resurrected, n_churned_next)
    * where new = first-ever week, retained = also active the previous
    * week, resurrected = active before but not the previous week, and
    * churned_next = active this week with no activity next week
    * (reported 0 for the final observed week — its churn is unknowable
    * yet, not zero; the column reads with that boundary).
    *
    * Scale shape: the corpus collapses to DISTINCT (user, week) first;
    * everything after is two windows on the user key and one
    * weeks-sized groupBy. The global last week is a 1-row broadcast. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events
      .select(col("user_id"),
        expr("(ts div 86400000000) div 7").as("wk"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("wk")
    val maxWk = broadcast(uw.agg(max("wk").as("last_wk")))
    uw.withColumn("first_wk", min("wk").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("prev_wk", lag("wk", 1).over(w))
      .withColumn("next_wk", lead("wk", 1).over(w))
      .crossJoin(maxWk)
      .select(col("wk"),
        (col("wk") === col("first_wk")).cast("long").as("is_new"),
        (col("prev_wk") === col("wk") - 1).cast("long").as("is_ret"),
        (col("prev_wk").isNotNull && col("prev_wk") < col("wk") - 1)
          .cast("long").as("is_res"),
        (col("wk") < col("last_wk") &&
          (col("next_wk").isNull || col("next_wk") > col("wk") + 1))
          .cast("long").as("is_churn"))
      .groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        coalesce(sum("is_new"), lit(0L)).as("n_new"),
        coalesce(sum("is_ret"), lit(0L)).as("n_retained"),
        coalesce(sum("is_res"), lit(0L)).as("n_resurrected"),
        coalesce(sum("is_churn"), lit(0L)).as("n_churned_next"))
  }

  /** Exact windowed distinct counts — the precise face of qx05's KMV
    * estimate: per tumbling window, the EXACT number of distinct
    * `valueCol` values, streaming-correct via two watermark-bounded
    * stages (dedup on (window, value) with
    * `dropDuplicatesWithinWatermark` — state for closed windows is
    * reclaimed — then a windowed count in append mode). Use this when
    * per-window cardinalities fit state (users per hour); use the KMV
    * sketch when they don't. Batch frames take the equivalent
    * distinct + groupBy path: stream ≡ batch ≡ oracle.
    * Output: (wstart_us, n_distinct).
    *
    * Scale shape: streaming state = one row per (open window, distinct
    * value) plus the window counts; batch = one distinct + one groupBy
    * on the window key. */
  def distinctWindowed(events: DataFrame, valueCol: String,
      window_ : String = "1 hour", lateness: String = "10 minutes"): DataFrame = {
    // window struct computed BEFORE the watermark declaration: a window
    // over an already-watermarked column inherits the event-time tag and
    // the downstream aggregation would see two event-time columns
    val t = withTs(events)
      .select(window(col("ets"), window_).as("w"),
        col(valueCol).as("__v"), col("ets"))
      .withWatermark("ets", lateness)
    val deduped =
      if (events.isStreaming) t.dropDuplicatesWithinWatermark("w", "__v")
      else t.dropDuplicates("w", "__v")
    // the dedup-key window struct inherits the event-time tag — drop it
    // so `ets` is the stream's single event-time column, then recompute
    // the (identical) window for the aggregation: the surviving ets is
    // an arbitrary member of its window, so the recomputed window and
    // the distinct count are deterministic
    deduped.drop("w")
      .groupBy(window(col("ets"), window_))
      .agg(count(lit(1)).as("n_distinct"))
      .select(unix_micros(col("window.start")).as("wstart_us"),
        col("n_distinct"))
  }

  /** Zero-traffic outage scan — the missing-data windows in an event
    * stream (a pipeline that silently dropped a feed shows up as minute
    * gaps long before any metric alert): distinct active minutes, then
    * every gap of at least `minMissing` consecutive silent minutes
    * becomes one row (gap_start_min, gap_end_min, missing_minutes),
    * minutes as epoch-minute longs. Complements qw08 (which debounces
    * alert EPISODES); this finds the silence itself.
    *
    * Scale shape: the corpus collapses to DISTINCT minutes first — the
    * window then runs over a relation bounded by the TIME SPAN (one row
    * per active minute), not by event volume; at 100 TB over a year
    * that is ≤ ~526 k rows, a deliberate bounded single-partition sort
    * (same contract as the span-days CDF window). */
  def outageScan(events: DataFrame, minMissing: Int = 1): DataFrame = {
    require(minMissing >= 1, s"minMissing out of range: $minMissing")
    val minutes = events
      .select(expr("ts div 60000000").as("m")).distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy("m")
    minutes.withColumn("prev", lag("m", 1).over(w))
      .filter(col("prev").isNotNull &&
        col("m") - col("prev") > minMissing.toLong)
      .select((col("prev") + 1L).as("gap_start_min"),
        (col("m") - 1L).as("gap_end_min"),
        (col("m") - col("prev") - 1L).as("missing_minutes"))
  }

  /** Stream-static dimension enrichment — the serving-side join every
    * event pipeline runs first (attach the user's segment/region to each
    * event as it arrives): a BROADCAST left join of the event stream
    * against a static dimension table. Works identically on a batch or
    * streaming events frame; on a stream it is Structured Streaming's
    * stream-static join — stateless, append-mode, no watermark needed
    * (the static side is re-broadcast per micro-batch, so a dim refresh
    * between batches is picked up — the semantics production relies on).
    * Unmatched events keep NULL dim columns (left join — an unknown
    * user is a real, reportable case, not a dropped event).
    *
    * Scale shape: dim must be broadcast-sized (segments, geos, SKUs —
    * dimension tables, not fact tables); the stream side never
    * shuffles. */
  def enrichStatic(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String, dimCols: Seq[String]): DataFrame = {
    require(dimCols.nonEmpty, "enrichStatic needs dimension columns")
    val d = dim.select(col(dimKey).cast("long").as(eventKey) +:
      dimCols.map(col): _*)
    events.withColumn(eventKey, col(eventKey).cast("long"))
      .join(broadcast(d), Seq(eventKey), "left_outer")
  }

  /** Run `tumblingCounts` as a real streaming query over the parquet dir
    * (memory sink, processed synchronously); returns the materialized
    * result for comparison against the batch plan. Complete mode: with a
    * single micro-batch, append mode would hold every window open behind
    * the watermark. */
  def runStreamingCounts(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // the file source needs a directory; glob-filter to the events table
    val stream = tsMicros(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir))
    val q = tumblingCounts(stream).writeStream
      .outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** CUPED variance-reduced experiment readout — Deng, Xu, Kohavi & Walker,
    * WSDM 2013 ("Improving the sensitivity of online controlled
    * experiments"): per user, X = pre-period activity (events before
    * `splitMicros`), Y = experiment-period activity; arms from the
    * [[abAssignment]] md5 coin; theta = cov(X,Y)/var(X) over ALL users;
    * the adjusted metric Y − θ(X − X̄) keeps each arm's mean comparison
    * unbiased while shrinking its variance by the pre-period correlation
    * — the smaller sample a significant readout needs. Every moment is
    * an exact BIGINT sum of per-user counts; theta, the adjusted means,
    * and the variance-reduction ratio are doubles over those exact
    * integers, floored to micro/ppm — identical in any engine (var(X)=0
    * degenerates to theta = 0, unadjusted). One row per arm:
    * (arm, n_users, sum_x, sum_y, theta_ppm, mean_y_micros,
    * mean_cuped_micros, reduction_ppm).
    *
    * Scale shape: ONE user groupBy builds (x, y) with map-side combine;
    * ONE arm groupBy folds the five arm moments; the 1-row pooled-moment
    * relation broadcasts into the 2-row arm table. No second pass over
    * raw events — var(Y−θX) expands through the moments. */
  def cuped(events: DataFrame, splitMicros: Long,
      salt: String = "exp1"): DataFrame = {
    val perUser = events
      .groupBy("user_id")
      .agg(sum(when(col("ts") < splitMicros, 1L).otherwise(0L)).as("x"),
        sum(when(col("ts") >= splitMicros, 1L).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(conv(substring(md5(concat(lit(s"ab_${salt}_"),
          col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
    val pooled = broadcast(perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy")))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("sum_x"),
        sum("y").as("sum_y"), sum(col("x") * col("x")).as("axx"),
        sum(col("y") * col("y")).as("ayy"),
        sum(col("x") * col("y")).as("axy"))
      .crossJoin(pooled)
      .withColumn("varx_g", expr(
        "cast(sxx as double) / n - (cast(sx as double) / n) * (cast(sx as double) / n)"))
      .withColumn("theta", expr("""case when varx_g <= 0.0d then 0.0d
        |else (cast(sxy as double) / n -
        |  (cast(sx as double) / n) * (cast(sy as double) / n)) / varx_g
        |end""".stripMargin))
      .withColumn("mx", expr("cast(sum_x as double) / n_users"))
      .withColumn("my", expr("cast(sum_y as double) / n_users"))
      .withColumn("vy", expr(
        "cast(ayy as double) / n_users - my * my"))
      .withColumn("vx", expr(
        "cast(axx as double) / n_users - mx * mx"))
      .withColumn("cxy", expr(
        "cast(axy as double) / n_users - mx * my"))
      .withColumn("vc", expr(
        "vy - 2.0d * theta * cxy + theta * theta * vx"))
      .select(col("arm"), col("n_users"), col("sum_x"), col("sum_y"),
        expr("cast(floor(theta * 1000000.0d) as bigint)").as("theta_ppm"),
        expr("cast(floor(my * 1000000.0d) as bigint)").as("mean_y_micros"),
        expr("""cast(floor((my - theta * (mx - cast(sx as double) / n))
          |  * 1000000.0d) as bigint)""".stripMargin)
          .as("mean_cuped_micros"),
        expr("""cast(floor(1000000.0d * (1.0d -
          |  case when vy <= 0.0d then 1.0d else vc / vy end))
          |as bigint)""".stripMargin).as("reduction_ppm"))
  }

  /** Calibration audit (reliability table + ECE) — Naeini et al., AAAI
    * 2015 framing: the Mann-Whitney AUC (qa21) measures whether a score
    * RANKS positives above negatives; this measures
    * whether the score's VALUE means what it says (a 0.30 bucket should
    * convert 30% of the time). The "model" is the honest baseline a
    * feature table supports: a view-count → purchase-rate table learned on
    * the pre-`splitMicros` half, applied to post-split users, compared
    * against their actual post-split outcomes. Rates live as integer ppm
    * from birth, so every bin moment is an exact BIGINT sum — no
    * order-dependent float anywhere, identical in any engine. Output: one
    * row per predicted-rate decile (bin "b00".."b10") with
    * (n_users, conf_ppm, acc_ppm, gap_ppm), plus an "overall" row whose
    * gap_ppm IS the expected calibration error Σ nᵦ·|accᵦ−confᵦ| / N
    * (computed from exact integers, floored once).
    *
    * Scale shape: two per-user groupBys (train/test halves) with map-side
    * combine; the rate table is ≤ maxBucket+1 rows and broadcast-joins
    * onto test users; the global-fallback rate is a 1-row broadcast; the
    * bin rollup is ≤ 11 rows. No second pass over raw events. */
  def calibration(events: DataFrame, splitMicros: Long,
      maxBucket: Int = 20): DataFrame = {
    require(maxBucket >= 1 && maxBucket <= 1000,
      s"maxBucket out of range: $maxBucket")
    def half(pred: org.apache.spark.sql.Column): DataFrame = events.filter(pred)
      .groupBy("user_id")
      .agg(least(sum(when(col("event_type") === "view", 1L).otherwise(0L)),
        lit(maxBucket.toLong)).as("fb"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val rates = half(col("ts") < splitMicros)
      .groupBy("fb").agg(count(lit(1)).as("n_tr"), sum("y").as("pos_tr"))
      .select(col("fb"), expr("(1000000L * pos_tr) div n_tr").as("rate_ppm"))
    val fallback = broadcast(half(col("ts") < splitMicros)
      .agg(count(lit(1)).as("n_g"), sum("y").as("pos_g"))
      .select(expr("(1000000L * pos_g) div greatest(1L, n_g)").as("g_ppm")))
    val scored = half(col("ts") >= splitMicros)
      .join(broadcast(rates), Seq("fb"), "left_outer")
      .crossJoin(fallback)
      .select(col("y"),
        coalesce(col("rate_ppm"), col("g_ppm")).as("pred_ppm"))
    val bins = scored
      .groupBy(expr("pred_ppm div 100000").as("b"))
      .agg(count(lit(1)).as("n_users"), sum("pred_ppm").as("sum_pred"),
        sum("y").as("pos"))
      .select(col("b"), col("n_users"),
        expr("sum_pred div n_users").as("conf_ppm"),
        expr("(1000000L * pos) div n_users").as("acc_ppm"))
      .withColumn("gap_ppm", abs(col("conf_ppm") - col("acc_ppm")))
    val overall = bins.agg(
      coalesce(sum("n_users"), lit(0L)).as("n_users"),
      expr("sum(n_users * conf_ppm) div greatest(1L, sum(n_users))")
        .as("conf_ppm"),
      expr("sum(n_users * acc_ppm) div greatest(1L, sum(n_users))")
        .as("acc_ppm"),
      expr("sum(n_users * gap_ppm) div greatest(1L, sum(n_users))")
        .as("gap_ppm"))
    bins.select(concat(lit("b"), lpad(col("b").cast("string"), 2, "0"))
        .as("bin"), col("n_users"), col("conf_ppm"), col("acc_ppm"),
        col("gap_ppm"))
      .unionByName(overall.select(lit("overall").as("bin"), col("n_users"),
        col("conf_ppm"), col("acc_ppm"), col("gap_ppm")))
  }

  /** Discrete survival curve with right-censoring — the Kaplan-Meier
    * lifetime question ("how long do users stay?") a plain churn rate
    * answers wrongly, because users still active at the observation edge
    * have not churned, they are CENSORED: dropping them biases lifetimes
    * short, counting them as churned biases rates high. Per user,
    * observed lifetime = days between first and last event; a user whose
    * last event is within `horizonDays` of the corpus edge is censored
    * (leaves the risk set at their lifetime without a churn event). Per
    * distinct lifetime d: the risk set n_risk (users observed ≥ d days),
    * churn events at d, the discrete hazard λ_d = events/n_risk in
    * integer ppm, and the Nelson-Aalen cumulative hazard Σ_{d'≤d} λ_d' —
    * an ordered integer cumulative sum, engine-exact where a cumulative
    * PRODUCT (classic KM survival) would need exp/ln and lose
    * cross-engine bit parity. Output ordered by duration_days:
    * (duration_days, n_users, n_churned, n_risk, hazard_ppm,
    * cum_hazard_ppm).
    *
    * Scale shape: ONE user groupBy (min/max ts with map-side combine), a
    * 1-row corpus-edge broadcast, then a duration-days rollup; both
    * windows ride the ≤ span-days relation (the qw10/qa22 bounded-span
    * window class — a year is ~366 rows at any corpus size). */
  def survivalCurve(events: DataFrame, horizonDays: Int = 7): DataFrame = {
    require(horizonDays >= 1 && horizonDays <= 3650,
      s"horizonDays out of range: $horizonDays")
    val day = 86400L * 1000000L
    val perUser = events.groupBy("user_id")
      .agg(min("ts").as("first_ts"), max("ts").as("last_ts"))
    val edge = broadcast(perUser.agg(max("last_ts").as("g_max")))
    val durations = perUser.crossJoin(edge)
      .select(expr(s"(last_ts - first_ts) div ${day}L").as("duration_days"),
        when(col("last_ts") < col("g_max") - lit(horizonDays * day), 1L)
          .otherwise(0L).as("churned"))
      .groupBy("duration_days")
      .agg(count(lit(1)).as("n_users"), sum("churned").as("n_churned"))
    val wRisk = org.apache.spark.sql.expressions.Window
      .orderBy("duration_days")
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy("duration_days")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    durations
      .withColumn("n_risk", sum("n_users").over(wRisk))
      .withColumn("hazard_ppm", expr("(1000000L * n_churned) div n_risk"))
      .withColumn("cum_hazard_ppm", sum("hazard_ppm").over(wCum))
  }

  /** Hourly autocorrelation — "is this traffic periodic, and at what
    * period?" answered with exact arithmetic: the hourly volume series
    * (DENSIFIED — silent hours are zeros, not gaps; an ACF over a
    * gap-compressed series sees fake periodicity) paired with itself at
    * each requested lag, Pearson's r per lag in the corrMatrix output
    * convention (r²·10⁶ + sign over exact BIGINT moments, zero-variance
    * → NULL). Lag 24 ≫ lag 1 means daily seasonality; 168 means weekly.
    * Returns (lag_hours, n_pairs, r2_ppm, sgn) per requested lag.
    *
    * Scale shape: ONE hour-key count groupBy collapses raw events; the
    * dense series, the lag windows, and the single moment aggregate all
    * ride the ≤ span-hours relation (the qw10/qa22 span contract —
    * ~8 760 rows/year at ANY corpus size). */
  def autocorrelation(events: DataFrame,
      lags: Seq[Int] = Seq(1, 24, 168)): DataFrame = {
    require(lags.nonEmpty && lags.forall(l => l >= 1 && l <= 100000),
      s"lags out of range: $lags")
    val hours = events
      .select(expr("ts div 3600000000").as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
    val bounds = hours.agg(min("h").as("lo"), max("h").as("hi"))
    val dense = bounds.select(explode(expr("sequence(lo, hi)")).as("h"))
      .join(hours, Seq("h"), "left_outer")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("h")
    var lagged = dense
    lags.foreach { l =>
      lagged = lagged.withColumn(s"x_$l", lag("c", l).over(w)) }
    val aggs = lags.flatMap { l =>
      val x = col(s"x_$l")
      Seq(count(x).as(s"n_$l"),
        sum(when(x.isNotNull, col("c"))).as(s"sy_$l"),
        sum(x).as(s"sx_$l"),
        sum(when(x.isNotNull, col("c") * col("c"))).as(s"syy_$l"),
        sum(x * x).as(s"sxx_$l"),
        sum(col("c") * x).as(s"sxy_$l"))
    }
    val rows = lags.map { l =>
      def d(n: String) = col(s"${n}_$l").cast("double")
      val cov = d("n") * d("sxy") - d("sx") * d("sy")
      val vv = (d("n") * d("sxx") - d("sx") * d("sx")) *
        (d("n") * d("syy") - d("sy") * d("sy"))
      struct(lit(l.toLong).as("lag_hours"), col(s"n_$l").as("n_pairs"),
        when(vv === 0d, lit(null).cast("long"))
          .otherwise(floor(cov * cov / vv * 1e6).cast("long")).as("r2_ppm"),
        signum(cov).cast("long").as("sgn"))
    }
    lagged.agg(aggs.head, aggs.tail: _*)
      .select(inline(array(rows: _*)))
      .orderBy("lag_hours")
  }

  /** Delta-method CI for a RATIO metric — Deng, Knoblich & Lu, KDD
    * 2018: revenue-per-event, clicks-per-session and friends are ratios
    * of SUMS whose denominator varies per user, so the naive per-user
    * t-interval is simply wrong; the delta method expands
    * var(Σy/Σn) ≈ (σ²_y − 2R·σ_yn + R²·σ²_n) / (k·n̄²) over per-user
    * (y, n) pairs. Beside [[cuped]]'s variance reduction, this is
    * the other half of a trustworthy experiment readout. Per
    * [[abAssignment]] arm: (arm, k_users, sum_y_micros, sum_n,
    * ratio_ppm, se_ppm, ci_lo_ppm, ci_hi_ppm) at ±1.96·SE — every
    * moment an exact BIGINT (y in micro-units), the expansion one fixed
    * IEEE tree.
    *
    * Scale shape: ONE per-user groupBy with map-side combine, then a
    * 2-row arm rollup carrying the five cross-moments. */
  def ratioMetricCi(events: DataFrame, numType: String = "purchase",
      salt: String = "exp1"): DataFrame = {
    val perUser = events
      .select(col("user_id"),
        when(col("event_type") === numType,
          (col("value").cast("decimal(30,6)") * 1000000)
            .cast("long")).otherwise(0L).as("y"))
      .groupBy("user_id")
      .agg(sum("y").as("yu"), count(lit(1)).as("nu"))
      .withColumn("arm",
        when(conv(substring(md5(concat(lit(s"ab_${salt}_"),
          col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 2 === 0, "A").otherwise("B"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("k"),
        sum("yu").as("sy"), sum("nu").as("sn"),
        sum(col("yu").cast("decimal(38,0)") * col("yu")).as("syy"),
        sum(col("nu").cast("decimal(38,0)") * col("nu")).as("snn"),
        sum(col("yu").cast("decimal(38,0)") * col("nu")).as("syn"))
      .select(col("arm"), col("k").as("k_users"),
        col("sy").as("sum_y_micros"), col("sn").as("sum_n"),
        expr("sy div greatest(sn, 1L)").as("ratio_ppm"),
        expr("""cast(floor(sqrt(greatest(0.0d,
          |  ((cast(syy as double) / k
          |      - (cast(sy as double) / k) * (cast(sy as double) / k))
          |    - 2.0d * (cast(sy as double) / cast(sn as double))
          |      * (cast(syn as double) / k
          |        - (cast(sy as double) / k) * (cast(sn as double) / k))
          |    + (cast(sy as double) / cast(sn as double))
          |      * (cast(sy as double) / cast(sn as double))
          |      * (cast(snn as double) / k
          |        - (cast(sn as double) / k) * (cast(sn as double) / k)))
          |  / (cast(k as double)
          |    * (cast(sn as double) / k) * (cast(sn as double) / k))))
          |) as bigint)""".stripMargin).as("se_ppm"))
      .withColumn("ci_lo_ppm", expr("ratio_ppm - cast(ceil(1.96d * se_ppm) as bigint)"))
      .withColumn("ci_hi_ppm", expr("ratio_ppm + cast(ceil(1.96d * se_ppm) as bigint)"))
      .orderBy("arm")
  }

  final case class RateLimitIn(user_id: Long, event_id: Long, tus: Long)
  final case class RateLimitState(level: Long, lastTus: Long)
  final case class RateLimitOut(user_id: Long, event_id: Long, tus: Long,
    accepted: Boolean, level_after: Long)

  /** Per-user token-bucket rate limiting — the quota/abuse-control
    * operator every ingest front door runs, as a replayable event-time
    * computation: each user owns a bucket of `capacity` tokens refilled
    * at `refillPerSec` tokens/second of EVENT time; each event takes one
    * token or is marked throttled. All arithmetic is integer
    * micro-tokens (1 token = 10⁶; refillPerSec tokens/s ≡ refillPerSec
    * micro-tokens/µs), so the decision sequence replays digit-identically
    * anywhere. Buckets start full; the fold orders each user's events by
    * (event time, event_id). Emits one decision row per event:
    * (user_id, event_id, tus, accepted, level_after).
    *
    * Batch inputs fold each user's full history in one pass; streaming
    * inputs keep (level, last_tus) per user in `flatMapGroupsWithState`
    * (Append) and fold each micro-batch — equal to the batch fold when
    * batches arrive in event-time order per user (the qs12 replay
    * discipline; qs13's disorder audit sizes how true that is), pinned
    * by the batch ≡ 3-batch-replay spec.
    *
    * Scale shape: state = two longs per ACTIVE user; the batch path is
    * one groupByKey fold over each user's own rows (per-user history
    * must fit an executor — the per-key sequential-semantics floor; cap
    * upstream with a time window when users are unbounded). */
  def rateLimit(events: DataFrame, capacity: Long = 3,
      refillPerSec: Long = 1): DataFrame = {
    require(capacity >= 1 && capacity <= 1000000L, s"capacity: $capacity")
    require(refillPerSec >= 0 && refillPerSec <= 1000000L,
      s"refillPerSec: $refillPerSec")
    val capMicro = capacity * 1000000L
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("user_id"), col("event_id"),
        col("ts").as("tus")).as[RateLimitIn]
    def fold(st0: RateLimitState, rs: Seq[RateLimitIn])
        : (RateLimitState, Seq[RateLimitOut]) = {
      var st = st0
      val out = Seq.newBuilder[RateLimitOut]
      rs.sortBy(r => (r.tus, r.event_id)).foreach { r =>
        // overflow guard: a multi-year gap times refillPerSec can exceed
        // 2^63 BEFORE the min() caps it (Spark would wrap silently,
        // DuckDB would error — the worst kind of divergence). Capping the
        // gap at capMicro/r + 1 keeps the product <= capMicro + r while
        // provably saturating the bucket exactly when the raw product
        // would have.
        val gap = math.max(0L, r.tus - st.lastTus)
        val gain =
          if (refillPerSec == 0L) 0L
          else math.min(gap, capMicro / refillPerSec + 1L) * refillPerSec
        val lvl =
          if (st.lastTus == Long.MinValue) capMicro
          else math.min(capMicro, st.level + gain)
        val acc = lvl >= 1000000L
        val after = if (acc) lvl - 1000000L else lvl
        st = RateLimitState(after, r.tus)
        out += RateLimitOut(r.user_id, r.event_id, r.tus, acc, after)
      }
      (st, out.result())
    }
    if (!events.isStreaming) {
      typed.groupByKey(_.user_id).flatMapGroups { (_, it) =>
        fold(RateLimitState(capMicro, Long.MinValue), it.toSeq)._2.iterator
      }.toDF()
    } else {
      typed.groupByKey(_.user_id)
        .flatMapGroupsWithState[RateLimitState, RateLimitOut](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, rows, state) =>
          val prev = state.getOption
            .getOrElse(RateLimitState(capMicro, Long.MinValue))
          val (next, out) = fold(prev, rows.toSeq)
          state.update(next)
          out.iterator
        }.toDF()
    }
  }

  /** Minimum-detectable-effect readout — the experiment-DESIGN half
    * [[fdrGate]] assumes away: for every metric panel (event type),
    * given today's arm sizes and pooled per-user reach, the smallest
    * absolute rate delta a two-sided α=5 % test would detect with 80 %
    * power: MDE = (z₀.₉₇₅ + z₀.₈) · √(p(1−p)(1/n_a + 1/n_b)), the
    * z-constant sum inlined as the single literal 2.8016 (a pre-added
    * literal parses to the same double everywhere; adding 1.96d +
    * 0.8416d at runtime could differ by an ulp from an engine that
    * folds the sum in decimal first) so the whole expression is one
    * fixed IEEE tree over exact BIGINT counts —
    * engine-identical digits. "Can this experiment even see the lift
    * you're hoping for?" answered per metric BEFORE launch. Returns
    * (metric, n_a, n_b, x, p_ppm, mde_ppm) ordered by metric.
    *
    * Scale shape: the [[fdrGate]] reach pipeline — one (metric, user,
    * arm) distinct + a metric groupBy; arm totals are a 1-row
    * broadcast; the MDE projection runs on the |metrics|-row table. */
  def powerReadout(events: DataFrame, salt: String = "exp1"): DataFrame = {
    val armed = events
      .select(col("user_id"), col("event_type"),
        (conv(substring(md5(concat(lit(s"ab_${salt}_"),
          col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 2 === 0).as("arm"))
    val tot = broadcast(armed.select("user_id", "arm").distinct()
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("nb")))
    armed.select(col("event_type").as("metric"), col("user_id")).distinct()
      .groupBy("metric").agg(count(lit(1)).as("x"))
      .crossJoin(tot)
      .select(col("metric"), col("na").as("n_a"), col("nb").as("n_b"),
        col("x"),
        expr("(x * 1000000L) div greatest(na + nb, 1L)").as("p_ppm"),
        expr("""case when na = 0 or nb = 0 then cast(null as bigint)
          |  else cast(floor(1000000.0d * (2.8016d * sqrt(
          |    (cast(x as double) / cast(na + nb as double))
          |    * (1.0d - cast(x as double) / cast(na + nb as double))
          |    * (1.0d / cast(na as double) + 1.0d / cast(nb as double))
          |  ))) as bigint) end""".stripMargin).as("mde_ppm"))
      .orderBy("metric")
  }

  /** Benjamini–Hochberg FDR gate over a metric panel (JRSS-B 1995) —
    * the multiple-testing discipline every "we moved 40 metrics!"
    * experiment readout needs: test each event type's per-user reach
    * between the two [[abAssignment]] arms, then admit only the
    * discoveries the step-up rule p₍ᵢ₎ ≤ i·α/m allows. The per-metric
    * score is the exact-integer two-proportion z²
    * (n·Δ² / (n_a·n_b·x·(n−x)), Δ = x_a·n_b − x_b·n_a) and the p-value
    * proxy is Chebyshev's distribution-free bound p ≤ 1/z² — loose but
    * assumption-free and, like everything here, engine-exact: the ratio
    * is one fixed IEEE expression over exact BIGINT factors, and the BH
    * comparison p_ppm·m ≤ α_ppm·i is pure integer arithmetic. Returns
    * per metric (metric, n_a, n_b, x_a, x_b, p_ppm, rnk, discovery),
    * ranked by (p_ppm, metric).
    *
    * Scale shape: one distinct over (metric, user, arm) then a
    * metric-keyed count groupBy; the arm totals and metric count m are
    * 1-row broadcasts; the BH scan is a rank window + max over the
    * |metrics|-row table. Raw events are scanned twice (user table +
    * reach table), never joined row-level. */
  def fdrGate(events: DataFrame, alphaPpm: Long = 50000L,
      salt: String = "exp1"): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L, s"alphaPpm: $alphaPpm")
    val armed = events
      .select(col("user_id"), col("event_type"),
        (conv(substring(md5(concat(lit(s"ab_${salt}_"),
          col("user_id").cast("string"))), 1, 13), 16, 10)
          .cast("long") % 2 === 0).as("arm"))
    val tot = broadcast(armed.select("user_id", "arm").distinct()
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("nb")))
    val x = armed.select(col("event_type").as("metric"), col("user_id"),
        col("arm")).distinct()
      .groupBy("metric")
      .agg(sum(when(col("arm"), 1L).otherwise(0L)).as("xa"),
        sum(when(!col("arm"), 1L).otherwise(0L)).as("xb"))
    val m = broadcast(x.agg(count(lit(1)).as("m")))
    // Chebyshev p <= 1/z^2 in ppm; degenerate panels (empty arm, zero or
    // full reach, zero effect) carry no evidence -> p_ppm = 1e6. The
    // double ratio is ONE fixed expression over exact BIGINT factors —
    // identical IEEE digits on any engine (the corrMatrix contract).
    val scored = x.crossJoin(tot).crossJoin(m)
      .withColumn("p_ppm", expr(
        """case when na = 0 or nb = 0 or (xa + xb) = 0
          |    or (xa + xb) = (na + nb) or (xa * nb - xb * na) = 0
          |  then 1000000L
          |  else cast(floor(least(1000000.0d,
          |    (1000000.0d * (cast(na as double) * cast(nb as double))
          |      * cast(xa + xb as double)
          |      * cast(na + nb - xa - xb as double))
          |    / (cast(na + nb as double)
          |      * cast(xa * nb - xb * na as double)
          |      * cast(xa * nb - xb * na as double)))) as bigint)
          |end""".stripMargin))
    val wr = org.apache.spark.sql.expressions.Window
      .orderBy("p_ppm", "metric")
    val ranked = scored.withColumn("rnk", row_number().over(wr).cast("long"))
    val kstar = broadcast(ranked
      .filter(col("p_ppm") * col("m") <= lit(alphaPpm) * col("rnk"))
      .agg(coalesce(max("rnk"), lit(0L)).as("kstar")))
    ranked.crossJoin(kstar)
      .select(col("metric"), col("na").as("n_a"), col("nb").as("n_b"),
        col("xa").as("x_a"), col("xb").as("x_b"), col("p_ppm"), col("rnk"),
        (col("rnk") <= col("kstar")).as("discovery"))
      .orderBy("rnk")
  }
}

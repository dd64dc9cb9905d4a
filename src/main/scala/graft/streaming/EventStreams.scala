package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time processing over the events table — batch and streaming faces
  * of the same transformations (SURVEY.md §2.10: the reference has no
  * streaming; this is the north-star streaming surface, built the Spark way:
  * one declarative transform applied to either a batch frame or a
  * `readStream` frame with a watermark).
  */
object EventStreams {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionAssign(user_id: Long, event_id: Long, session_id: Long)
  case class DebounceAssign(user_id: Long, event_type: String,
      event_id: Long, keep: Boolean)

  /** Session gap: events further apart than this start a new session. */
  val SessionGapUs: Long = 1800L * 1000000L // 30 min in microseconds

  /** Epoch-micros of an event-time column, NTZ-tolerant: `unix_micros` is
    * LTZ-only, and a parquet TIMESTAMP(MICROS) without isAdjustedToUTC now
    * reads as TIMESTAMP_NTZ (Spark 4 NTZ inference over the regenerated
    * testdata). The cast re-declares naive wall time as an instant in the
    * session zone — every entry point pins UTC, so this equals DuckDB's
    * `epoch_us` of the same naive column; on an LTZ column it's a no-op. */
  def tsMicros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unix_micros(c.cast(org.apache.spark.sql.types.TimestampType))

  /** Tumbling hourly counts per event type. Works unchanged on a batch frame
    * or a watermarked streaming frame (append mode emits finalized windows). */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming face: parquet file source → 1h watermark → hourly counts. */
  def hourlyTypeCountsStream(spark: SparkSession, path: String): DataFrame = {
    val schema = graft.schema.Schemas.events
    hourlyTypeCounts(
      spark.readStream.schema(schema).parquet(path).withWatermark("ts", "1 hour"))
  }

  /** [[slidingActivityCounts]] with the sketch distinct — the form a stream
    * (or an exactness-indifferent 100 TB batch) runs. */
  def slidingActivityCountsSketch(events: DataFrame): DataFrame =
    slidingCounts(events, exactDistinct = false)

  /** Sliding-window activity: 1-hour windows advancing every 15 minutes —
    * the overlap-smoothed rate monitor. Spark's `window(ts, len, slide)`
    * materializes the ≤ len/slide window assignments per event as a
    * generator inside the scan stage (never a windows×events join), then
    * ONE keyed agg; every event lands in exactly 4 epoch-aligned windows,
    * which is what the oracle replays via the 15-minute grid. */
  def slidingActivityCounts(events: DataFrame): DataFrame =
    slidingCounts(events, exactDistinct = true)

  private def slidingCounts(events: DataFrame, exactDistinct: Boolean): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("__w"))
      .agg(count(lit(1)).as("n_events"),
        (if (exactDistinct) count_distinct(col("user_id"))
         else approx_count_distinct(col("user_id"), 0.02)).as("n_users"))
      .select(date_format(col("__w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n_events"), col("n_users"))

  /** Stream-static dimension enrichment: each event joined to its user's
    * static attributes (customer dims keyed by custkey). In Structured
    * Streaming a stream-static equi-join is STATELESS — the static side is
    * (re)broadcast per micro-batch, nothing is buffered in state — so this
    * is the scale-safe way to attach dimensions to an event stream; the
    * batch face is the identical transform. Left join: events from unknown
    * users pass through with null dims. */
  def enrichWithUsers(events: DataFrame, users: DataFrame): DataFrame =
    events.join(
        broadcast(users.select(col("c_custkey").as("user_id"),
          col("c_mktsegment"), col("c_nationkey"))),
        Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), col("c_nationkey"), col("value"))

  /** Streaming exact dedup: drop replayed event ids arriving within the
    * watermark horizon — the streaming face of Dedup.exactAssign for
    * at-least-once sources. State per id is dropped once the watermark
    * passes, so state size tracks the horizon, not the stream. */
  def dedupEventsStream(events: DataFrame, horizon: String = "1 hour"): DataFrame =
    events.withWatermark("ts", horizon).dropDuplicatesWithinWatermark("event_id")

  /** Purchase→click attribution: every purchase joined to ALL of the same
    * user's clicks in the preceding `horizonMinutes` — the interval-join
    * shape ad attribution and conversion tracking run. One declarative
    * transform, two faces:
    *   - batch: an ordinary key + time-range join;
    *   - streaming ([[attributeStream]]): a watermarked STREAM-STREAM join —
    *     Structured Streaming buffers each side only within the watermark ±
    *     the interval bound, so state tracks the horizon, not the stream.
    * Output: (purchase_id, user_id, purchase_s, click_id, click_s). */
  def attributePurchases(purchases: DataFrame, clicks: DataFrame,
      horizonMinutes: Int = 60): DataFrame = {
    val p = purchases.select(col("event_id").as("purchase_id"),
      col("user_id"), col("ts").as("__pts"))
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("__cts"))
    p.join(c, p("user_id") === c("user_id") &&
        col("__cts") <= col("__pts") &&
        col("__cts") >= col("__pts") - expr(s"INTERVAL $horizonMinutes MINUTES"))
      .select(col("purchase_id"), p("user_id"),
        date_format(col("__pts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_s"),
        col("click_id"),
        date_format(col("__cts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("click_s"))
  }

  /** The stream-stream face of [[attributePurchases]]: both sides
    * watermarked, the join condition carrying the event-time bounds that
    * let the engine expire buffered rows. */
  def attributeStream(purchases: DataFrame, clicks: DataFrame,
      horizonMinutes: Int = 60, watermark: String = "1 hour"): DataFrame =
    attributePurchases(
      purchases.withWatermark("ts", watermark),
      clicks.withWatermark("ts", watermark), horizonMinutes)

  /** Batch sessionization: a new session starts when the gap to the user's
    * previous event exceeds [[SessionGapUs]]. Pure window functions —
    * deterministic (ties ordered by event_id) and oracle-replayable.
    * Output: (user_id, event_id, session_id 1..n per user). */
  def sessionizeBatch(events: DataFrame): DataFrame =
    sessionAssignments(events)
      .select(col("user_id"), col("event_id"), col("session_id"))

  /** [[sessionizeBatch]] carrying ts/event_type through — ONE scan for
    * consumers (path mining) that need the event payload per session;
    * the assignment logic lives only here. */
  def sessionAssignments(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prevTs = lag(tsMicros(col("ts")), 1).over(w)
    val isNew = when(prevTs.isNull ||
      tsMicros(col("ts")) - prevTs > SessionGapUs, 1L).otherwise(0L)
    events
      .withColumn("session_id",
        sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("session_id"))
  }

  /** Streaming sessionization: per-user state (last event time, session
    * counter) via flatMapGroupsWithState. Within a micro-batch the group's
    * events are sorted by event time before folding, so replaying a batch
    * through the stream matches [[sessionizeBatch]] when arrivals respect
    * the watermark. */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[(Long, Long)]) =>
          var (lastUs, sid) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            // epoch µs: getTime carries ms (incl. the nanos' ms part); add sub-ms µs
            val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
            if (lastUs == Long.MinValue || us - lastUs > SessionGapUs) sid += 1
            lastUs = us
            SessionAssign(userId, e.event_id, sid)
          }
          state.update((lastUs, sid))
          out.iterator
      }
  }

  /** Streaming debounce — the stateful face of the batch lag-form rate
    * limiter (`events_debounce`): per (user, type) the state is the last
    * event's µs timestamp (kept OR dropped — the lag form compares
    * against the previous EVENT, not the previous survivor), and an event
    * is kept iff it is the group's first or ≥ `gapUs` after the previous
    * one. Within a micro-batch the group's events fold in (ts, event_id)
    * order, so replaying a batch through the stream matches the batch
    * window when arrivals respect the watermark. State is one (Long) per
    * live (user, type) key. */
  def debounceStream(events: Dataset[Event],
      gapUs: Long = DebounceGapUs): Dataset[DebounceAssign] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[Long, DebounceAssign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: (Long, String), it: Iterator[Event], state: GroupState[Long]) =>
          var lastUs = state.getOption.getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val us = e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
            val keep = lastUs == Long.MinValue || us - lastUs >= gapUs
            lastUs = us
            DebounceAssign(key._1, key._2, e.event_id, keep)
          }
          state.update(lastUs)
          out.iterator
      }
  }

  /** The batch debounce's gap: events of the same (user, type) closer
    * than this to their predecessor are dropped. */
  val DebounceGapUs: Long = 300000000L // 5 minutes

  /** Native session windows (`session_window`, gap-merged event-time
    * windows — Spark's built-in streaming sessionization; the
    * flatMapGroupsWithState face above is the custom-state teaching twin).
    * Semantics pinned by the oracle: two events share a session iff their
    * windows overlap, i.e. a gap ≥ the window gap SPLITS (boundary
    * exclusive — note the ≥ vs sessionizeBatch's >). Works unchanged on a
    * watermarked stream (append mode emits closed sessions). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        tsMicros(col("__w.start")).as("start_us"),
        tsMicros(col("__w.end")).as("end_us"),
        col("n_events"))

  /** [[sessionWindows]] with a PER-EVENT gap (Spark's dynamic
    * session_window): purchases hold the session open for 60 minutes,
    * everything else 30. The semantics are union-of-intervals — each
    * event contributes [t, t+gap), overlapping intervals merge — so an
    * early long-gap event can bridge PAST a later short-gap one; the
    * oracle replays exactly that with a running max of reach
    * (break ⟺ t ≥ max of previous t+gap, half-open). */
  def sessionWindowsDynamicGap(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"),
        when(col("event_type") === "purchase", lit("60 minutes"))
          .otherwise(lit("30 minutes"))).as("__w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        tsMicros(col("__w.start")).as("start_us"),
        tsMicros(col("__w.end")).as("end_us"),
        col("n_events"))

  /** Funnel steps in order; a step counts only at-or-after the previous
    * step's first completion. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  case class FunnelState(times: Seq[Long])
  case class FunnelRow(user_id: Long, t1_us: java.lang.Long,
      t2_us: java.lang.Long, t3_us: java.lang.Long, furthest_step: Long)

  /** Ordered funnel (view → click → purchase): per user, the FIRST time of
    * each step at-or-after the previous step's first time; users enter at
    * step 1. Each stage is a filtered keyed agg plus a keyed equi-join on
    * `user_id` — at 100 TB every shuffle shares the same key, so AQE reuses
    * the exchange across stages, and no stage ever sorts or windows the
    * full event log. */
  def funnelBatch(events: DataFrame, steps: Seq[String] = FunnelSteps): DataFrame = {
    require(steps.nonEmpty)
    val first = events.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(tsMicros(col("ts"))).as("t1_us"))
    val all = steps.tail.zipWithIndex.foldLeft(first) { case (acc, (st, i)) =>
      val prev = s"t${i + 1}_us"
      val cur = s"t${i + 2}_us"
      val nxt = events.filter(col("event_type") === st)
        .select(col("user_id"), tsMicros(col("ts")).as("__m"))
        .join(acc.select(col("user_id"), col(prev)), "user_id")
        .filter(col("__m") >= col(prev))
        .groupBy("user_id").agg(min(col("__m")).as(cur))
      acc.join(nxt, Seq("user_id"), "left")
    }
    val reached = steps.indices.drop(1)
      .map(i => when(col(s"t${i + 1}_us").isNotNull, 1L).otherwise(0L))
      .foldLeft(lit(1L))(_ + _)
    all.select(col("user_id") +:
      steps.indices.map(i => col(s"t${i + 1}_us")) :+
      reached.as("furthest_step"): _*)
  }

  /** Streaming face of [[funnelBatch]]: per-user state = the first-completion
    * time of each step so far. Within a micro-batch the group's events fold
    * in (ts, event_id) order, so one-batch replay matches the batch face
    * exactly (the parity contract sessionizeStream set); the emitted row is
    * the user's CURRENT funnel standing after the batch (update-in-place
    * semantics — downstream sinks key on user_id). */
  def funnelStream(events: Dataset[Event],
      steps: Seq[String] = FunnelSteps): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          val times = state.getOption
            .map(_.times.toArray).getOrElse(Array.fill(steps.size)(Long.MinValue))
          // sort by MICROSECONDS (the unit the fold and the batch face
          // compare in) — a millisecond sort key would reorder
          // sub-millisecond event pairs and break one-batch parity
          def us(e: Event): Long =
            e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
          it.toSeq.sortBy(e => (us(e), e.event_id)).foreach { e =>
            stepIdx.get(e.event_type).foreach { i =>
              val t = us(e)
              val prevDone = i == 0 || times(i - 1) != Long.MinValue
              if (times(i) == Long.MinValue && prevDone &&
                  (i == 0 || t >= times(i - 1))) times(i) = t
            }
          }
          state.update(FunnelState(times.toSeq))
          if (times(0) == Long.MinValue) Iterator.empty
          else {
            def t(i: Int): java.lang.Long =
              if (i < times.length && times(i) != Long.MinValue) times(i) else null
            val furthest = times.takeWhile(_ != Long.MinValue).length.toLong
            Iterator.single(FunnelRow(userId, t(0), t(1), t(2), furthest))
          }
      }
  }
}

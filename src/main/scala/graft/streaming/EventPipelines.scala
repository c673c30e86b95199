package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

import graft.sources.Tables

/** Event-stream processing. Each operator exists twice with identical
  * semantics: a batch twin (driver-verifiable against the DuckDB oracle)
  * and a Structured Streaming form (readStream/watermark/state), tested
  * with MemoryStream in StreamingSpec.
  */
object EventPipelines {

  /** st1 (batch twin): tumbling 1-hour event-time window per event type.
    * Window + partial aggregation → one shuffle keyed by (window, type).
    */
  def windowedCountsBatch(t: Tables): DataFrame =
    t.events
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** st1 (streaming): same plan over a stream, 30-minute watermark bounds
    * state; append mode emits each window once it is final.
    */
  def windowedCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Streaming SLIDING event-time windows — q32's trailing moving
    * aggregation live: `window(ts, "7 days", "1 day")` assigns each
    * event to the 7 overlapping day-aligned windows it falls in, the
    * watermark bounds state to windows still open, and append mode
    * emits each (window, type) row once final. A window ENDING at day
    * d+1 covers days [d−6, d] — exactly batch q32's trailing frame for
    * day d, StreamingSpec-verified equal on the aligned grain. Per-row
    * fan-out is windows-per-slide (7), state is one aggregate buffer
    * per open (window, type) — never raw events.
    */
  def slidingWindowStream(events: DataFrame, size: String = "7 days",
      slide: String = "1 day", watermarkDelay: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(
        count(lit(1)).as("win_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("win_value_raw"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col("event_type"), col("win_events"),
        round(col("win_value_raw"), 2).as("win_value"))

  /** Streaming windowed DISTINCT-user counts via the deterministic HLL
    * sketch: the aggregate's 2^p-byte buffer is exactly the per-window
    * state Structured Streaming keeps, so distinct counting over an
    * endless stream runs in bounded memory per (window, type) — an exact
    * streaming COUNT(DISTINCT) would hold every user id seen. The sketch
    * is merge-order independent, so the streaming estimate equals the
    * batch estimate over the same rows EXACTLY (spec-asserted).
    */
  def windowedDistinctUsersStream(events: DataFrame, p: Int = 8): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        graft.functions.GraftFunctions.hll_distinct(col("user_id"), p).as("est_users"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("est_users"), col("n"))

  /** Streaming windowed per-key FREQUENCY sketch via the Count-Min
    * plane (t15's kernel): the d·w-long counter plane is the entire
    * per-window state — keyed counting over an endless stream in fixed
    * memory where an exact per-key count would hold every key seen.
    * Elementwise-sum merges are order independent, so the streamed
    * sketch BYTES equal the batch sketch over the same rows exactly
    * (spec-asserted), and any key can be probed later with
    * `cms_estimate` — including keys nobody listed up front, which is
    * what the sketch buys over a streaming groupBy(key).
    */
  def windowedFreqSketchStream(events: DataFrame, d: Int = 4, w: Int = 256): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        graft.functions.GraftFunctions.cms_sketch(col("user_id"), d, w).as("sk"),
        count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("sk"), col("n"))

  /** st2 (batch twin): sessionization with a 30-minute inactivity gap —
    * lag → new-session flag → running sum = session index → per-session
    * rollup. Two window passes over one (user_id)-keyed shuffle.
    */
  def sessionizeBatch(t: Tables, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull or
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_timestamp(col("ts"))).as("start_epoch"),
        (max(unix_timestamp(col("ts"))) - min(unix_timestamp(col("ts")))).as("duration_sec"))
      .orderBy(col("user_id"), col("session_id"))
  }

  case class SessionEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)
  case class SessionState(sessionId: Long, nEvents: Long, startMillis: Long, lastMillis: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long, start_epoch: Long, duration_sec: Long)

  /** st2 (streaming): the same session semantics as explicit keyed state —
    * `flatMapGroupsWithState` with an event-time timeout: a session closes
    * either when a later event for the same user exceeds the gap, or when
    * the watermark passes its gap deadline (no per-key polling — state is
    * O(1) per active user, the scalable pattern for 100 TB streams).
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapMinutes: Int = 30,
      watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          def close(s: SessionState): SessionOut =
            SessionOut(userId, s.sessionId, s.nEvents, s.startMillis / 1000, (s.lastMillis - s.startMillis) / 1000)
          if (state.hasTimedOut) {
            val s = state.get
            // keep a counter-only marker (nEvents == 0) so the user's NEXT
            // session continues the numbering — removing state entirely
            // would restart at session_id 1 and collide with earlier
            // emitted keys. O(1) per ever-seen user; no timeout set, so
            // the marker is inert until the user reappears.
            state.update(SessionState(s.sessionId + 1, 0, 0L, 0L))
            Iterator(close(s))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption.filter(_.nEvents > 0)
            var nextId = state.getOption.map(s => if (s.nEvents > 0) s.sessionId + 1 else s.sessionId)
              .getOrElse(1L)
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastMillis <= gapMs =>
                  cur = Some(s.copy(nEvents = s.nEvents + 1, lastMillis = math.max(s.lastMillis, t)))
                case Some(s) =>
                  closed += close(s)
                  cur = Some(SessionState(s.sessionId + 1, 1, t, t))
                case None =>
                  cur = Some(SessionState(nextId, 1, t, t))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire when the watermark passes the inactivity deadline
              val deadline = math.max(s.lastMillis + gapMs, state.getCurrentWatermarkMs() + 1)
              state.setTimeoutTimestamp(deadline)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming dedup: exactly-once per event_id within the watermark
    * horizon (the streaming form of the reference's idempotent loads).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes").dropDuplicates("event_id")

  /** Stream-stream interval join: attribute each purchase to the same
    * user's click within the preceding attribution window. Watermarks on
    * BOTH sides + the time-range join condition let Spark bound the
    * buffered state (clicks older than the window + watermark delay are
    * evicted) — the only shape where an unbounded two-stream join stays
    * O(window) in state at 100 TB/day rates.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 30, delay: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", delay)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value").as("purchase_value"), col("ts").as("purchase_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_value"), col("click_ts"), col("purchase_ts"))
  }

  /** Streaming idempotent upsert into a parquet warehouse table — the
    * streaming twin of the reference's post-race incremental load:
    * each micro-batch merges last-write-wins by key via
    * [[graft.etl.Pipeline.merge]] inside `foreachBatch`. Restart-safe:
    * replayed batches collapse into the same keys (merge is idempotent),
    * which is the exactly-once recipe for non-transactional sinks.
    *
    * With `partitionCol` set, each micro-batch rewrites ONLY the
    * partitions it touches ([[graft.etl.Pipeline.mergeIntoPartitioned]])
    * — without it, every micro-batch reads and rewrites the WHOLE
    * target, which stops being viable once the table dwarfs a batch.
    * The partition value of a key must be STABLE under upsert (derive it
    * from the business key or an immutable event time): an update that
    * moved a key to a new partition value would leave the stale row
    * alive in its old, untouched partition.
    */
  /** Streaming incremental-rollup maintenance — q31's aggregate-level
    * refresh as a stream: each micro-batch computes its PARTIALS
    * (counts, decimal sums, HLL sketches per event type) and merges
    * them into a [[graft.etl.SnapshotTable]] via `overwriteWith`, so
    * the maintained state equals the batch rollup over everything that
    * has arrived while history rows are never rescanned — per batch the
    * work is (batch partials + state merge), state-table-sized, not
    * history-sized. `overwriteWith` re-derives on conflict, so a racing
    * maintainer (backfill job, second stream) composes instead of
    * clobbering; every refresh is a version (time-travel to any past
    * state). The estimator is read OFF the stored partials
    * ([[readRollup]]), q25's stored-sketch pattern.
    */
  def incrementalRollupStream(events: DataFrame, tableRoot: String, checkpoint: String,
      p: Int = 6): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val delta = rollupPartials(batch.toDF(), p).localCheckpoint(true)
        if (!delta.isEmpty) {
          val table = new graft.etl.SnapshotTable(spark, tableRoot)
          table.overwriteWith { existing =>
            existing match {
              case Some(state) => mergeRollupPartials(state.unionByName(delta), p)
              case None => delta
            }
          }
          ()
        }
      }
      .start()

  /** Per-group mergeable partials of the q31 rollup (one batch's or the
    * whole stored state's): counts, DECIMAL sums (exact under re-merge),
    * binary HLL sketches.
    */
  def rollupPartials(events: DataFrame, p: Int = 6): DataFrame = {
    import graft.functions.GraftFunctions.hll_sketch
    events.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_events"),
      // pinned to the widest precision up front: re-merged sums would
      // otherwise widen 28,4 → 38,4 across versions and the stored
      // table's schema would drift between refreshes
      sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4)))
        .cast(org.apache.spark.sql.types.DecimalType(38, 4)).as("sum_v"),
      hll_sketch(col("user_id"), p).as("sk"))
  }

  private def mergeRollupPartials(partials: DataFrame, p: Int): DataFrame = {
    import graft.functions.GraftFunctions.hll_merge
    partials.groupBy(col("event_type")).agg(
      sum(col("n_events")).as("n_events"),
      sum(col("sum_v")).as("sum_v"),
      hll_merge(col("sk"), p).as("sk"))
  }

  /** The presentation read of the maintained state — q31's output shape
    * from the stored partials.
    */
  def readRollup(spark: org.apache.spark.sql.SparkSession, tableRoot: String): DataFrame = {
    import graft.functions.GraftFunctions.hll_estimate
    new graft.etl.SnapshotTable(spark, tableRoot).read()
      .select(col("event_type"), col("n_events"),
        col("sum_v").cast("double").as("sum_value"),
        round(hll_estimate(col("sk")), 2).as("est_users"))
      .orderBy(col("event_type"))
  }

  case class StateEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp, event_type: String)
  case class Scd2State(seq: Long, eventType: String, fromMillis: Long)
  case class Scd2Closed(user_id: Long, seq: Long, event_type: String,
    valid_from_ms: Long, valid_to_ms: Long)

  /** Streaming TYPE-2 SCD maintenance — the q33 twin as live CDC state
    * tracking: one small state record per user (current state + its
    * start + version number); a state CHANGE emits the closed interval
    * and advances the record; the open interval lives only in state
    * (exactly a warehouse's "current" dimension row). Within a batch
    * events sort by (ts, event_id) — q33's total order; ACROSS batches
    * the feed must deliver each user's events in order (the upsert-log
    * contract; out-of-order feeds need a watermark buffer in front).
    */
  def scd2Stream(events: Dataset[StateEvent]): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Closed](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[StateEvent], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Scd2Closed]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if s.eventType == e.event_type => // same state: no-op
              case Some(s) =>
                closed += Scd2Closed(userId, s.seq, s.eventType, s.fromMillis, t)
                cur = Some(Scd2State(s.seq + 1, e.event_type, t))
              case None =>
                cur = Some(Scd2State(1L, e.event_type, t))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  case class ClickEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)
  case class LastClick(eventId: Long, tsMicros: Long)
  case class Attribution(event_id: Long, user_id: Long, click_id: Option[Long],
    gap_us: Option[Long], value: Double)

  /** Streaming LAST-TOUCH attribution — the q34 twin as live state:
    * one (last click id, time) record per user; an arriving click
    * advances it, an arriving purchase emits its attribution against
    * the CURRENT record (click strictly earlier — a same-instant click
    * does not attribute, q34's strict as-of). Within a batch events
    * sort by (ts, event_id); across batches the feed must deliver each
    * user's events in order (scd2Stream's contract). The batch q15
    * as-of machinery needs the full click history; the stream needs 16
    * bytes per user — the state-size argument for running attribution
    * at the edge.
    */
  def attributionStream(events: Dataset[ClickEvent]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[ClickEvent], state: GroupState[LastClick]) =>
          def micros(ts: java.sql.Timestamp): Long =
            ts.getTime / 1000 * 1000000L + ts.getNanos / 1000L
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var last = state.getOption
          val out = Seq.newBuilder[Attribution]
          sorted.foreach { e =>
            val m = micros(e.ts)
            e.event_type match {
              case "click" =>
                // ties at one instant resolve to the max event_id, q34's rule
                if (!last.exists(l => l.tsMicros > m ||
                    (l.tsMicros == m && l.eventId > e.event_id)))
                  last = Some(LastClick(e.event_id, m))
              case "purchase" =>
                val prior = last.filter(_.tsMicros < m) // strict
                out += Attribution(e.event_id, userId,
                  prior.map(_.eventId), prior.map(m - _.tsMicros), e.value)
              case _ => // views and other types don't touch attribution state
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  def upsertStream(events: DataFrame, targetPath: String, checkpoint: String,
      keys: Seq[String] = Seq("event_id"), versionCol: String = "ts",
      partitionCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        partitionCol match {
          case Some(pc) =>
            graft.etl.Pipeline.mergeIntoPartitioned(
              spark, targetPath, batch.toDF(), keys, Some(versionCol), pc)
            ()
          case None =>
            val existing =
              if (java.nio.file.Files.exists(java.nio.file.Paths.get(targetPath)))
                Some(graft.sources.ParquetSource.read(spark, targetPath))
              else None
            val merged = graft.etl.Pipeline
              .merge(existing, batch.toDF(), keys, Some(versionCol))
              .localCheckpoint(true)
            merged.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(targetPath)
            ()
        }
      }
      .start()
}

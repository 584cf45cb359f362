package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming: per-user session windows via
  * flatMapGroupsWithState (gap-based sessionization — the canonical
  * stateful-op shape the reference's batch model cannot express).
  * Works identically over a bounded file stream (tests) and a live one.
  */
object Sessionize {

  final case class Event(user_id: Long, ts_ms: Long, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class Session(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Int)
  /** Watermarked event for the reordering fold: the raw timestamp
    * column survives so Spark can compute the watermark. */
  final case class WSEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_ms: Long)
  /** Reordering state: the open session (if any) plus the hold-back
    * buffer of event times and the fold line (everything at-or-under
    * `flushed_ms` is already folded — a straggler there is dropped). */
  final case class RSess(open: Option[SessionState], flushed_ms: Long,
      buf: Seq[Long])

  /** One event through the gap rule — the single spelling shared by
    * the in-order and reordering folds (two copies of the three-branch
    * step is how twins drift). Returns (the session the event CLOSED,
    * if the gap elapsed, and the updated open state). */
  private def gapStep(cur: Option[SessionState], tsMs: Long,
      gapMs: Long): (Option[SessionState], SessionState) = cur match {
    case Some(s) if tsMs - s.last <= gapMs =>
      (None, SessionState(s.start, tsMs, s.n + 1))
    case Some(s) => (Some(s), SessionState(tsMs, tsMs, 1))
    case None => (None, SessionState(tsMs, tsMs, 1))
  }

  /** Close a session after `gapMs` of inactivity. A session is emitted
    * when a later event (or a downstream heartbeat/sentinel) proves the
    * gap elapsed — no wall-clock timeouts, so results are deterministic
    * and `processAllAvailable` terminates on bounded inputs. (A live
    * deployment would add EventTimeTimeout + watermark to also flush
    * trailing sessions on idle streams.) */
  def sessionize(events: Dataset[Event], gapMs: Long)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Event],
         state: GroupState[SessionState]) =>
          // events within a micro-batch arrive unordered → sort
          val sorted = rows.toSeq.sortBy(_.ts_ms)
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val (c, nc) = gapStep(cur, e.ts_ms, gapMs)
            c.foreach(s => closed += Session(user, s.start, s.last, s.n))
            cur = Some(nc)
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** OUT-OF-ORDER-tolerant sessionization — [[sessionize]] with a
    * watermark-bounded reordering buffer, the third member of the
    * reordering family next to [[FunnelStream.stagesReordered]] and
    * [[IngestStream.runScd2ToBatchReordered]]: [[sessionize]] sorts
    * within a micro-batch but cross-batch in-order delivery is an
    * implicit precondition — a late event from an earlier time
    * arriving a batch later splits or wrongly extends sessions. Here
    * arriving event times are HELD per user until the event-time
    * watermark (max seen − `latenessMs`) passes them, then folded in
    * exact time order through the SAME [[gapStep]] the in-order fold
    * uses; additionally a session closes ON THE WATERMARK itself once
    * `wm − last > gap` — every event at-or-under the watermark is
    * already folded and every unseen event is strictly later, so
    * nothing can extend it (the in-order fold must wait for the next
    * event to prove the gap; the watermark proves it without one,
    * which is also what flushes TRAILING sessions on stream close).
    * Within-lateness disorder therefore yields the exact
    * [[sessionizeBatch]] session set (spec-pinned on adversarially
    * shuffled staging); beyond-window stragglers drop
    * deterministically. State = the open session plus one lateness
    * window of event times per user — bounded by rate × lateness,
    * never by history. Flush timing rides EventTimeTimeout so buffers
    * drain on watermark advance without further per-user events.
    *
    * Input must carry `user_id` and `ts` (timestamp). */
  def sessionizeReordered(events: org.apache.spark.sql.DataFrame,
      gapMs: Long, latenessMs: Long): Dataset[Session] = {
    require(gapMs > 0, s"gap must be positive: $gapMs")
    require(latenessMs >= 0, s"lateness must be non-negative: $latenessMs")
    val spark = events.sparkSession
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ev = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        unix_millis(col("ts")).as("ts_ms"))
      .withWatermark("ts", s"$latenessMs milliseconds")
      .as[WSEvent]
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[RSess, Session](
          OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[WSEvent], state: GroupState[RSess]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val s0 = state.getOption
            .getOrElse(RSess(None, Long.MinValue, Seq.empty))
          val fresh = rows.map(_.ts_ms).filter(_ > s0.flushed_ms).toSeq
          val (ripe, hold) = (s0.buf ++ fresh).partition(_ <= wmMs)
          val closed = Seq.newBuilder[Session]
          var cur = s0.open
          ripe.sorted.foreach { t =>
            val (c, nc) = gapStep(cur, t, gapMs)
            c.foreach(s => closed += Session(u, s.start, s.last, s.n))
            cur = Some(nc)
          }
          // close on the watermark: every event <= wm is folded and
          // every unseen event is > wm, so wm - last > gap is final
          cur match {
            case Some(s) if wmMs - s.last > gapMs =>
              closed += Session(u, s.start, s.last, s.n)
              cur = None
            case _ => ()
          }
          state.update(RSess(cur, math.max(s0.flushed_ms, wmMs), hold))
          // re-arm while anything is pending: buffered events OR an
          // open session that only the advancing watermark can close
          if (hold.nonEmpty || cur.nonEmpty)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          closed.result().iterator
      }
  }

  /** Bounded run of [[sessionizeReordered]] over (possibly
    * adversarially time-shuffled) staged event files: drain sentinels
    * sit `lateness + gap + 2` s past the max real event time so the
    * final watermark closes every trailing session
    * ([[FunnelStream.withDrainStaging]]); the sentinel's own session
    * is excluded by its reserved user id. Emits the full closed
    * session set — schema-identical to [[sessionizeBatch]], so the
    * two share an oracle. */
  def runSessionizeToBatchReordered(spark: SparkSession, path: String,
      gapMs: Long, latenessMs: Long,
      maxFilesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    FunnelStream.withDrainStaging(spark, path,
        drainAdvanceUs = (latenessMs + gapMs + 2000L) * 1000L) { staged =>
      val qn = s"graft_sessooo_${System.nanoTime()}"
      StreamRun.drain(spark, StreamRun.Source(staged,
          EventsStream.eventsFileSchema, maxFilesPerTrigger),
        sessionizeReordered(_, gapMs, latenessMs).toDF())(
        StreamRun.memory(qn, "append"))
      // the memory sink's view holds every row until dropped
      try spark.table(qn)
        .filter(col("user_id") =!= FunnelStream.SentinelUser)
        .select(col("user_id"), col("start_ms"), col("end_ms"),
          col("n_events"))
        .localCheckpoint()
      finally spark.catalog.dropTempView(qn)
    }
  }

  /** Batch twin for differential testing: same gap semantics with a
    * window-function pipeline (lag → session boundary → cumulative id →
    * group). */
  def sessionizeBatch(spark: SparkSession, events: Dataset[Event],
      gapMs: Long): Dataset[Session] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms")
    events.toDF()
      .withColumn("prev", lag($"ts_ms", 1).over(w))
      .withColumn("new_session",
        when($"prev".isNull || $"ts_ms" - $"prev" > gapMs, 1).otherwise(0))
      .withColumn("session_id",
        sum($"new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"session_id")
      .agg(min($"ts_ms").as("start_ms"), max($"ts_ms").as("end_ms"),
        count(lit(1)).cast("int").as("n_events"))
      .select($"user_id", $"start_ms", $"end_ms", $"n_events")
      .as[Session]
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** STREAMING funnel progression — the conversion face of the custom-
  * state family ([[Sessionize]] is its session-window sibling): each
  * user's funnel stage is a tiny state machine ((t1, prev, stage), 20
  * bytes) advanced per micro-batch via mapGroupsWithState, so a live
  * product stream answers "how many users have reached checkout
  * TODAY" per trigger without ever rescanning history — the batch
  * [[graft.ops.Events.funnel]] costs one pass per step over the full
  * event table every time it is asked.
  *
  * Semantics contract: the state machine replays the batch operator's
  * earliest-completion greedy EXACTLY — provided per-user event-time
  * order is preserved ACROSS batches (within a batch the group
  * iterator is sorted here). Out-of-order cross-batch delivery can
  * under-advance a stage the batch operator would have credited —
  * the same order-dependence the SCD2 fold documents — so the catalog
  * oracle stages the stream as ordered files and the spec pins the
  * multi-batch fold ≡ batch equality under time-split staging (the
  * in-order shape a replayed log or watermarked upstream produces).
  * For streams that VIOLATE the in-order precondition,
  * [[stagesReordered]] buys the same batch equality for any disorder
  * bounded by a lateness window, at the watermark costs (output lag,
  * a lateness window of per-user buffered state).
  */
object FunnelStream {

  final case class FEvent(user_id: Long, ts_us: Long, event_type: String)
  final case class FState(t1: Long, prev: Long, stage: Int)
  final case class FProgress(user_id: Long, stage: Int)
  /** Watermarked event: the raw timestamp column survives so Spark
    * can compute the watermark; `ts_us` is what the machine folds. */
  final case class WEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, event_type: String)
  /** Buffered not-yet-folded event (user key lives on the group). */
  final case class BEv(ts_us: Long, event_type: String)
  /** Reordering state: the machine plus the hold-back buffer and the
    * fold line (`flushed_us` — everything at-or-under it is already
    * folded, so a straggler at-or-under it can never be inserted). */
  final case class RState(t1: Long, prev: Long, stage: Int,
      flushed_us: Long, buf: Seq[BEv])

  /** The greedy earliest-completion step — ONE spelling shared by the
    * in-order and reordering folds (two copies of a 5-line state
    * machine is how twins drift). */
  private def advance(st: FState, tsUs: Long, eventType: String,
      steps: Seq[String], horizonUs: Option[Long]): FState =
    if (st.stage == 0) {
      if (eventType == steps.head) FState(tsUs, tsUs, 1) else st
    } else if (st.stage < steps.length &&
        eventType == steps(st.stage) &&
        tsUs > st.prev &&
        horizonUs.forall(h => tsUs <= st.t1 + h)) {
      FState(st.t1, tsUs, st.stage + 1)
    } else st

  /** Per-user stage progression: 0 = not entered, i = reached step i.
    * Stage is monotone nondecreasing across emissions, so the final
    * per-user value is the max over the run's update-mode output. */
  def stages(events: Dataset[FEvent], steps: Seq[String],
      horizonUs: Option[Long]): Dataset[FProgress] = {
    require(steps.nonEmpty, "funnel: steps must be non-empty")
    require(horizonUs.forall(_ > 0), s"horizon must be positive")
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FState, FProgress](GroupStateTimeout.NoTimeout) {
        (u: Long, rows: Iterator[FEvent], state) =>
          var st = state.getOption.getOrElse(FState(0L, 0L, 0))
          // within a batch the iterator is unordered → sort; equal
          // timestamps are order-insensitive here (at most one equal-ts
          // event can advance: the next needs ts STRICTLY > prev)
          rows.toSeq.sortBy(_.ts_us).foreach { e =>
            st = advance(st, e.ts_us, e.event_type, steps, horizonUs)
          }
          state.update(st)
          FProgress(u, st.stage)
      }
  }

  /** OUT-OF-ORDER-tolerant stage progression — [[stages]] with a
    * watermark-bounded reordering buffer, lifting the per-user
    * in-order cross-batch delivery precondition the plain fold
    * documents: arriving events are HELD per user until the event-time
    * watermark (max seen event time − `lateness`) passes them, then
    * folded in exact event-time order, so any delivery disorder
    * bounded by the lateness window yields BIT-IDENTICAL results to
    * the batch operator (spec-pinned on adversarially shuffled
    * staging). The two costs are the standard watermark trade: output
    * lags one lateness window behind arrival, and per-user state holds
    * one lateness window of events instead of 20 bytes — bounded by
    * per-user event rate × lateness, never by history. Stragglers
    * beyond the window (at-or-under the fold line) are DROPPED, the
    * standard watermark contract; within the bound nothing ever lands
    * there. Flush timing rides EventTimeTimeout, so a user's buffer
    * drains when the GLOBAL watermark advances even if that user
    * receives no further events.
    *
    * Input must carry `user_id`, `ts` (timestamp), `event_type`. */
  def stagesReordered(events: DataFrame, steps: Seq[String],
      horizonUs: Option[Long], latenessSeconds: Long): Dataset[FProgress] = {
    require(steps.nonEmpty, "funnel: steps must be non-empty")
    require(horizonUs.forall(_ > 0), s"horizon must be positive")
    require(latenessSeconds >= 0,
      s"lateness must be non-negative: $latenessSeconds")
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events
      .select(col("user_id").cast("long").as("user_id"), col("ts"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withWatermark("ts", s"$latenessSeconds seconds")
      .as[WEvent]
    ev.groupByKey(_.user_id)
      .mapGroupsWithState[RState, FProgress](
          GroupStateTimeout.EventTimeTimeout) {
        (u: Long, rows: Iterator[WEvent], state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val s0 = state.getOption
            .getOrElse(RState(0L, 0L, 0, Long.MinValue, Seq.empty))
          // the fold line is this KEY's last flush; the exec already
          // filters rows under the GLOBAL watermark, this guard makes
          // the boundary deterministic either way
          val fresh = rows.filter(_.ts_us > s0.flushed_us)
            .map(e => BEv(e.ts_us, e.event_type)).toSeq
          val (ripe, hold) = (s0.buf ++ fresh).partition(_.ts_us <= wmUs)
          var st = FState(s0.t1, s0.prev, s0.stage)
          ripe.sortBy(_.ts_us).foreach { e =>
            st = advance(st, e.ts_us, e.event_type, steps, horizonUs)
          }
          state.update(RState(st.t1, st.prev, st.stage,
            math.max(s0.flushed_us, wmUs), hold))
          // re-arm on every invocation that leaves a buffer: fire as
          // soon as the watermark moves again (a stale armed timeout
          // after a full drain is a harmless empty-buffer no-op)
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          FProgress(u, st.stage)
      }
  }

  /** Bounded run → the batch funnel report (step_idx, step, users,
    * permille) — schema-identical to [[graft.ops.Events.funnel]], so
    * the two share an oracle. `path` may be a single parquet file's
    * directory staging or a multi-file directory; with
    * `maxFilesPerTrigger = 1` each file is one micro-batch in
    * modification-time order. */
  def runFunnelToBatch(spark: SparkSession, path: String,
      steps: Seq[String], horizonSeconds: Option[Long],
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    runBounded(spark, path, steps, maxFilesPerTrigger,
      excludeUser = None) { src =>
      import spark.implicits._
      stages(
        src.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type")).as[FEvent],
        steps, horizonSeconds.map(_ * 1000000L)).toDF()
    }

  /** User id reserved for the drain sentinel — negative ids never
    * occur in real event streams here; its single far-future event
    * advances the watermark past every real event so held buffers
    * flush, and it is excluded from the report. */
  val SentinelUser: Long = Long.MinValue

  /** Bounded run of [[stagesReordered]]: stages the (possibly
    * adversarially time-shuffled) files of `path` into a fresh
    * directory in modification-time order, appends a drain-sentinel
    * file whose single [[SentinelUser]] event sits `lateness + 2` s
    * past the max real event time — the stream-close marker a real
    * deployment's upstream emits — so the final no-data micro-batches
    * fire every EventTimeTimeout and drain every buffer. Same report
    * schema as [[graft.ops.Events.funnel]]. */
  def runFunnelToBatchReordered(spark: SparkSession, path: String,
      steps: Seq[String], horizonSeconds: Option[Long],
      latenessSeconds: Long,
      maxFilesPerTrigger: Option[Int] = None): DataFrame =
    withDrainStaging(spark, path,
        drainAdvanceUs = (latenessSeconds + 2L) * 1000000L) { stagedDir =>
      runBounded(spark, stagedDir, steps, maxFilesPerTrigger,
        excludeUser = Some(SentinelUser)) { src =>
        stagesReordered(src, steps, horizonSeconds.map(_ * 1000000L),
          latenessSeconds).toDF()
      }
    }

  /** Shared drain staging for the reordering folds (funnel here,
    * sessionize in [[Sessionize.runSessionizeToBatchReordered]]):
    * copies `path`'s parquet files into a fresh directory preserving
    * modification-time order, then appends TWO drain-sentinel files —
    * single [[SentinelUser]] events `drainAdvanceUs` past the max real
    * event time. Two because watermarks take effect in the NEXT batch:
    * the first advances the watermark past every real event (and past
    * whatever close horizon the caller folded into `drainAdvanceUs`),
    * the second's data batch then fires every armed EventTimeTimeout —
    * no reliance on no-data micro-batch scheduling. The staged
    * directory is removed after `run`. */
  private[streaming] def withDrainStaging[T](spark: SparkSession,
      path: String, drainAdvanceUs: Long)(run: String => T): T = {
    val maxRow = spark.read.schema(EventsStream.eventsFileSchema)
      .parquet(path).agg(max(unix_micros(col("ts")))).collect().head
    // empty / all-null-ts staging makes the max NULL — fail with the
    // actual problem instead of an opaque NPE off getLong
    require(!maxRow.isNullAt(0),
      s"withDrainStaging: no non-null event timestamps under $path — " +
        "cannot place drain sentinels")
    val maxTs = maxRow.getLong(0)
    val staged = java.nio.file.Files.createTempDirectory("graft_fdrain")
    try {
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .sortBy(p => (p.toFile.lastModified(), p.toString))
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = staged.resolve(f.getFileName)
        java.nio.file.Files.copy(f, dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() - (files.length + 2 - i) * 60000L): Unit
      }
      import spark.implicits._
      val drainUs = maxTs + drainAdvanceUs
      Seq(1, 2).foreach { d =>
        val sentinelDir = staged.resolve(s"zz_drain_tmp$d")
        Seq((0L, new java.sql.Timestamp((drainUs + d * 1000000L) / 1000L),
            SentinelUser, "drain", 0.0, ""))
          .toDF("event_id", "ts", "user_id", "event_type", "value",
            "props")
          .coalesce(1).write.parquet(sentinelDir.toString)
        val part = java.nio.file.Files.list(sentinelDir).toArray
          .map(_.toString).filter(_.endsWith(".parquet")).head
        val dst = staged.resolve(s"zz_drain$d.parquet")
        java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() + d * 60000L): Unit
        graft.core.Fs.deleteRecursively(sentinelDir)
      }
      run(staged.toString)
    } finally graft.core.Fs.deleteRecursively(staged)
  }

  /** Report assembly for the two funnel folds: drain the pipeline into
    * a memory sink, then build the (step_idx, step, users, permille)
    * report off the monotone per-user max stage; the sink's view is
    * dropped once its rows are read. */
  private def runBounded(spark: SparkSession, path: String,
      steps: Seq[String], maxFilesPerTrigger: Option[Int],
      excludeUser: Option[Long])(
      pipeline: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val qn = s"graft_funnel_${System.nanoTime()}"
    StreamRun.drain(spark, StreamRun.Source(path,
      EventsStream.eventsFileSchema, maxFilesPerTrigger), pipeline)(
      StreamRun.memory(qn, "update"))
    // stage is monotone per user: the final value is the max emission
    val emissions = excludeUser.fold(spark.table(qn))(u =>
      spark.table(qn).filter(col("user_id") =!= u))
    val byStage = try emissions
      .groupBy("user_id").agg(max(col("stage")).as("stage"))
      .groupBy("stage").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    finally spark.catalog.dropTempView(qn)
    val counts = steps.indices.map(i =>
      byStage.filter(_._1 >= i + 1).values.sum)
    val first = counts.head
    steps.zipWithIndex.map { case (s, i) =>
      (i + 1, s, counts(i),
        if (first == 0) 0L else counts(i) * 1000L / first)
    }.toDF("step_idx", "step", "users", "permille")
  }
}

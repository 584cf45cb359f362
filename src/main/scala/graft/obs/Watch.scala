package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did while one block of driver code ran: the jobs, stages,
  * tasks and micro-batches it started, their task time, GC and shuffle,
  * the part of the wall time no task was running, and the plans of its
  * actions. The one place the dev tools and specs watch Spark from; no
  * engine path calls it.
  *
  * The listener bus is asynchronous, so a watch drains it before it
  * registers (no earlier event lands in the report) and after the body
  * (every event of the body has landed), and unregisters its listeners
  * whether or not the body throws. */
object Watch {

  /** One job: the `spark.jobGroup.id` it ran under and its span in
    * epoch ms (a job still running at the end of the watch ends there). */
  final case class Job(group: Option[String], startMs: Long, endMs: Long)

  /** One successful action: Spark's name for it (`collect`, `count`, …)
    * and its query execution. */
  final case class Action(name: String, qe: QueryExecution)

  /** @param idleMs the part of `wallMs` during which no task was
    *   running, from the union of the task intervals: the driver,
    *   planning and scheduling floor. Overlapping jobs count once.
    * @param batches streaming micro-batches (query progress events)
    * @param sqlPlans the physical plan description of every SQL
    *   execution started, checkpoint materializations included */
  final case class Report(wallMs: Long, jobs: Seq[Job], stages: Int,
      tasks: Int, batches: Int, taskMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, idleMs: Long,
      actions: Seq[Action], sqlPlans: Seq[String])

  def apply[A](spark: SparkSession)(body: => A): (A, Report) = {
    val rec = new Recorder
    val sc = spark.sparkContext
    GraftColumnBridge.drainListeners(spark)
    try {
      sc.addSparkListener(rec.scheduler)
      spark.listenerManager.register(rec.queries)
      spark.streams.addListener(rec.streams)
      val t0 = System.currentTimeMillis()
      val a = body
      val t1 = System.currentTimeMillis()
      GraftColumnBridge.drainListeners(spark)
      (a, rec.report(t0, t1))
    } finally {
      sc.removeSparkListener(rec.scheduler)
      spark.listenerManager.unregister(rec.queries)
      spark.streams.removeListener(rec.streams)
    }
  }

  /** The three listeners of one watch, writing into one lock. */
  private final class Recorder {
    private val jobStart = mutable.LinkedHashMap.empty[Int, (Option[String], Long)]
    private val jobEnd = mutable.Map.empty[Int, Long]
    private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    private val actions = mutable.ArrayBuffer.empty[Action]
    private val sqlPlans = mutable.ArrayBuffer.empty[String]
    private var stages, tasks, batches = 0
    private var taskMs, gcMs, shuffleRead, shuffleWrite = 0L

    val scheduler: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        Recorder.this.synchronized { jobStart(e.jobId) = (group, e.time) }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Recorder.this.synchronized { jobEnd(e.jobId) = e.time }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Recorder.this.synchronized { stages += 1 }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Recorder.this.synchronized {
          tasks += 1
          taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          Option(e.taskMetrics).foreach { m =>
            taskMs += m.executorRunTime
            gcMs += m.jvmGCTime
            shuffleRead += m.shuffleReadMetrics.totalBytesRead
            shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          }
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          Recorder.this.synchronized { sqlPlans += s.physicalPlanDescription }
        case _ =>
      }
    }

    val queries: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        Recorder.this.synchronized { actions += Action(f, qe) }
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        Recorder.this.synchronized { batches += 1 }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }

    def report(t0: Long, t1: Long): Report = synchronized {
      // busy = the union of the task intervals clipped to [t0, t1]
      var busy = 0L
      var cur = t0
      taskSpans.sortBy(_._1).foreach { case (launch, finish) =>
        val lo = math.max(launch, cur)
        val hi = math.min(finish, t1)
        if (hi > lo) { busy += hi - lo; cur = hi }
      }
      val jobs = jobStart.toSeq.map { case (id, (group, start)) =>
        Job(group, start, jobEnd.getOrElse(id, t1))
      }
      Report(t1 - t0, jobs, stages, tasks, batches, taskMs, gcMs,
        shuffleRead, shuffleWrite, t1 - t0 - busy, actions.toSeq,
        sqlPlans.toSeq)
    }
  }
}

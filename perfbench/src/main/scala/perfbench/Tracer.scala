package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer spans and counters, recorded from outside the engine.
  *
  * A span is opened around a call into one engine module. The innermost
  * open span's name is set as a Spark local property on the calling
  * thread (threads the engine spawns inherit it), so the SparkListener
  * can attribute every job, task, shuffle byte and failed task to the
  * span that caused it. Spans nest; a span's self time excludes its
  * children. Everything is kept in memory and read once at the end.
  *
  * While `enabled` is false every span call is a plain passthrough: an
  * untraced pass executes the same code with no property, no listener
  * and no bookkeeping.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  @volatile private var enabled = false

  private final class Acc {
    var selfNs = 0L; var jobs = 0L; var taskMs = 0L; var shuffleBytes = 0L
    val segments = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  }
  private val accs = mutable.LinkedHashMap.empty[String, Acc]
  private def acc(name: String) = accs.getOrElseUpdate(name, new Acc)

  // open spans: (name, start of the current self segment in ns and ms)
  private val stack = mutable.Stack.empty[(String, Long, Long)]

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)] // launch, finish ms
  @volatile var failedTasks = 0L
  @volatile var inputBytes = 0L
  @volatile var writeFiles = 0L
  @volatile var writeBytes = 0L

  private def closeSegment(): Unit = if (stack.nonEmpty) {
    val (name, ns, ms) = stack.top
    val a = acc(name)
    a.selfNs += System.nanoTime() - ns
    a.segments += ((ms, System.currentTimeMillis()))
  }
  private def setProperty(): Unit =
    spark.sparkContext.setLocalProperty(SpanKey,
      if (stack.isEmpty) null else stack.top._1)

  def begin(name: String): Unit = if (enabled) {
    closeSegment()
    stack.push((name, System.nanoTime(), System.currentTimeMillis()))
    setProperty()
  }

  def end(): Unit = if (enabled) {
    closeSegment()
    stack.pop()
    if (stack.nonEmpty) {
      val (n, _, _) = stack.pop()
      stack.push((n, System.nanoTime(), System.currentTimeMillis()))
    }
    setProperty()
  }

  /** Close the innermost span and open `name` in its place. */
  def switchTo(name: String): Unit = if (enabled) { end(); begin(name) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else { begin(name); try body finally end() }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .getOrElse(Unattributed)
      e.stageIds.foreach(stageSpan.put(_, s))
      Tracer.this.synchronized { acc(s).jobs += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).getOrElse(Unattributed)
      val info = e.taskInfo
      Tracer.this.synchronized {
        val a = acc(s)
        a.taskMs += info.duration
        tasks += ((info.launchTime, info.finishTime))
        if (e.taskMetrics != null) {
          val m = e.taskMetrics
          a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          inputBytes += m.inputMetrics.bytesRead
        }
        if (!info.successful) failedTasks += 1
      }
    }
  }

  private val writeListener = new QueryExecutionListener {
    private def writes(plan: SparkPlan): Unit = plan.foreach {
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        Tracer.this.synchronized {
          writeFiles += m.get("numFiles").map(_.value).getOrElse(0L)
          writeBytes += m.get("numOutputBytes").map(_.value).getOrElse(0L)
        }
      // an eagerly run command's plan hangs off the result node
      case c: CommandResultExec => writes(c.commandPhysicalPlan)
      case _ =>
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      writes(qe.executedPlan)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(writeListener)
  }

  def detach(): Unit = if (enabled) {
    enabled = false
    org.apache.spark.perfbench.Bus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(writeListener)
  }

  /** Per-span (self s, jobs, task ms, idle ms, shuffle MB). Idle is the
    * part of the span's self time during which no task was running: the
    * driver and scheduler floor. Read after [[detach]]. */
  def spans: Map[String, Map[String, Double]] = synchronized {
    val sorted = tasks.sortBy(_._1).toIndexedSeq
    def busyMs(lo: Long, hi: Long): Long = {
      var busy = 0L; var cur = lo
      sorted.iterator.takeWhile(_._1 < hi).foreach { case (a, b) =>
        val s = math.max(a, cur); val e = math.min(b, hi)
        if (e > s) { busy += e - s; cur = e }
      }
      busy
    }
    accs.map { case (name, a) =>
      val idle = a.segments.map { case (lo, hi) => (hi - lo) - busyMs(lo, hi) }.sum
      name -> Map(
        "s" -> a.selfNs / 1e9,
        "jobs" -> a.jobs.toDouble,
        "task_ms" -> a.taskMs.toDouble,
        "idle_ms" -> idle.toDouble,
        "shuffle_mb" -> a.shuffleBytes / MB)
    }.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed = "unattributed"
  val MB: Double = 1024.0 * 1024.0
}

/** Streaming progress, read in both modes: `triggerExecution` and input
  * rows are the stream workload's end-to-end figures; the per-phase
  * split and state size are its per-layer figures. */
final class StreamStats extends StreamingQueryListener {
  import StreamingQueryListener._
  val triggerMs = mutable.ArrayBuffer.empty[Double]
  val phaseMs = mutable.LinkedHashMap.empty[String, Double]
  var batches = 0L
  var inputRows = 0L
  var stateBytesPeak = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    Option(d.get("triggerExecution")).foreach(v => triggerMs += v.doubleValue)
    StreamStats.Phases.foreach { k =>
      phaseMs(k) = phaseMs.getOrElse(k, 0.0) +
        Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
    }
    batches += 1
    inputRows += p.numInputRows
    stateBytesPeak = math.max(stateBytesPeak,
      p.stateOperators.map(_.memoryUsedBytes).sum)
  }

  def reset(): Unit = synchronized {
    triggerMs.clear(); phaseMs.clear(); batches = 0; inputRows = 0
    stateBytesPeak = 0
  }
}

object StreamStats {
  val Phases: Seq[String] = Seq("queryPlanning", "getBatch", "addBatch",
    "walCommit", "commitOffsets", "latestOffset")
}

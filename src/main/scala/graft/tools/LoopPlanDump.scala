package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core.GraftSession
import graft.queries.Catalog

/** Dev tool: runs catalog queries and dumps, for EVERY action each
  * one emits, the optimized logical plan, the physical plan before
  * AQE and the executed plan — the per-round plan shape of iterative
  * operators (power loops, HITS, k-core, connected components,
  * classifier epochs, BPE rounds) that the final frame's explain
  * cannot show. Each query's file ends with its job count and an MD5
  * of its sorted result rows, so the dumps of two checkouts diff
  * directly once exprIds (`#123`) and `plan_id=` are stripped.
  *
  *   runMain graft.tools.LoopPlanDump <sfDir> <outDir> <query>...
  *
  * Runs `local[SPARK_GRAFT_CPUS]` (default: the available processors),
  * one session for all queries, in the order given. */
object LoopPlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: LoopPlanDump <sfDir> <outDir> <query>...")
    val Array(dir, outDir) = args.take(2)
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS")
      .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
          d: Long): Unit =
        plans.add(s"\n========== action=$f ==========\n" +
          s"-- optimized --\n${qe.optimizedPlan}\n" +
          s"-- physical --\n${qe.sparkPlan}\n" +
          s"-- executed --\n${qe.executedPlan}"): Unit
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    })
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- args.drop(2)) {
      GraftColumnBridge.drainListeners(spark)
      plans.clear(); jobs.set(0)
      val rows = Catalog.byName(name).fn(spark, dir).collect()
        .map(_.toString).sorted
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      // the listener bus is async: drain it so no plan or job is lost
      GraftColumnBridge.drainListeners(spark)
      import scala.jdk.CollectionConverters._
      val out = java.nio.file.Paths.get(outDir, s"$name.txt")
      java.nio.file.Files.writeString(out, plans.asScala.mkString("\n") +
        s"\n\n[summary] jobs=${jobs.get} rows=${rows.length} md5=$md5\n")
      println(s"[loop-plan-dump] $name: ${plans.size} plans, " +
        s"${jobs.get} jobs, ${rows.length} rows, md5 $md5 -> $out")
    }
    spark.stop()
  }
}

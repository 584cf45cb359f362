package graft.tools

import graft.core.GraftSession
import graft.obs.Watch
import graft.queries.Catalog

/** Dev tool: runs catalog queries and dumps, for EVERY action each
  * one emits, the optimized logical plan, the physical plan before
  * AQE and the executed plan — the per-round plan shape of iterative
  * operators (power loops, HITS, k-core, connected components,
  * classifier epochs, BPE rounds) that the final frame's explain
  * cannot show. Each query's file ends with its job count and an MD5
  * of its sorted result rows; `tools/plandiff.py` compares the dumps
  * of two checkouts.
  *
  * With `--runs N`, each query is then timed N more times (a `count`
  * of its frame, same session) and one line per run goes to stdout:
  * wall, jobs, stages, tasks, summed task time and GC, idle (the part
  * of the wall no task was running) and shuffle read/write. Task time
  * up, GC up or idle up with task time flat tell apart slower tasks, a
  * pausing JVM and a growing driver/scheduler floor.
  *
  *   runMain graft.tools.LoopPlanDump [--runs N] <sfDir> <outDir> <query>...
  *
  * Runs `local[SPARK_GRAFT_CPUS]` (default: the available processors),
  * one session for all queries, in the order given. */
object LoopPlanDump {
  def main(argv: Array[String]): Unit = {
    val (runs, args) = argv.toList match {
      case "--runs" :: n :: rest => (n.toInt, rest)
      case rest => (0, rest)
    }
    require(args.length >= 3,
      "usage: LoopPlanDump [--runs N] <sfDir> <outDir> <query>...")
    val dir :: outDir :: names = args
    val spark = GraftSession.local(sys.env.get("SPARK_GRAFT_CPUS")
      .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val fn = Catalog.byName(name).fn
      val (rows, r) = Watch(spark)(
        fn(spark, dir).collect().map(_.toString).sorted)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rows.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val plans = r.actions.map { case Watch.Action(f, qe) =>
        s"\n========== action=$f ==========\n" +
          s"-- optimized --\n${qe.optimizedPlan}\n" +
          s"-- physical --\n${qe.sparkPlan}\n" +
          s"-- executed --\n${qe.executedPlan}"
      }
      val out = java.nio.file.Paths.get(outDir, s"$name.txt")
      java.nio.file.Files.writeString(out, plans.mkString("\n") +
        s"\n\n[summary] jobs=${r.jobs.size} rows=${rows.length} md5=$md5\n")
      println(s"[loop-plan-dump] $name: ${plans.size} plans, " +
        s"${r.jobs.size} jobs, ${rows.length} rows, md5 $md5 -> $out")
      (1 to runs).foreach { i =>
        val (_, d) = Watch(spark)(fn(spark, dir).count())
        def s(ms: Long) = f"${ms / 1000.0}%.3fs"
        def mb(b: Long) = f"${b / 1048576.0}%.1fMB"
        println(s"diag $name run$i wall=${s(d.wallMs)} " +
          s"jobs=${d.jobs.size} stages=${d.stages} tasks=${d.tasks} " +
          s"taskTime=${s(d.taskMs)} gc=${s(d.gcMs)} idle=${s(d.idleMs)} " +
          s"shufR=${mb(d.shuffleReadBytes)} shufW=${mb(d.shuffleWriteBytes)}")
      }
    }
    spark.stop()
  }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.{GraftSession, Tables}

/** The benchmark's JVM side: one closed-loop client in one JVM.
  *
  * Sets up the session several times, runs untimed warm-up passes,
  * then runs whole passes of the workload until `--seconds` of timed
  * work have elapsed (at least one pass), checking every op's output
  * outside the timed window. With `--trace 1` one untraced pass is timed
  * just before the traced window.
  * Everything measured goes to the `--out` JSON file; `run.py` turns it
  * into metrics.
  */
object Main {

  /** The catalog workload's ops: short read-only queries across
    * sections, one iterative loop and one stateful stream. Every query
    * returns a small result: collecting and checking a large one (the
    * enrich queries return whole tables) costs more than the query. */
  val CatalogQueries: Seq[String] = Seq("q_cube_orders", "q_semi_anti_join",
    "q_window_lag", "q_except_setop", "q_verify_counts", "q_pagerank",
    "q_stream_kmv")

  val Setups = 3

  final case class Op(name: String, pass: Int, ns: Long, cpuNs: Long,
      error: Option[String])

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Runs `body`: its outcome, the wall time and the CPU time of the whole
    * JVM meanwhile, in ns. */
  private def timed[T](body: => T): (scala.util.Try[T], Long, Long) = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = scala.util.Try(body)
    (r, System.nanoTime() - t0, os.getProcessCpuTime - c0)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val sf = a("sf")
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val out = a("out")
    // the JIT is still warming the driver's code through the second
    // chain-day or catalog pass; timings settle from the third
    val warmupPasses = 2
    require(Seq("chain_day_etl", "catalog_queries").contains(workload),
      s"unknown workload $workload")

    // --- set-up, timed Setups times: session plus warm-up scan ----------
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = ArrayBuffer.empty[Double]
    val sessionS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 until Setups).foreach { i =>
      // the first set-up is timed from JVM start
      val t0 = if (i == 0)
        System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L
      else System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val s0 = System.nanoTime()
      spark = GraftSession.local(cores)
      sessionS += (System.nanoTime() - s0) / 1e9
      Tables.registerAll(spark, sf)
      spark.sql("SELECT count(*), max(o_totalprice) FROM orders").collect()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val stream = new StreamStats
    spark.streams.addListener(stream)
    val tracer = new Tracer(spark)
    val tmpDir = new File(System.getProperty("java.io.tmpdir"))
    new File(work).mkdirs()
    val rng = new scala.util.Random(seed)

    // --- the workload as a sequence of passes ---------------------------
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val runPass: Int => Seq[Op] = workload match {
      case "chain_day_etl" =>
        val abi = new String(java.nio.file.Files.readAllBytes(
          new File(a("abi")).toPath), "UTF-8")
        val chain = new ChainDay(spark, sf, a("raw"), work, abi, tracer)
        val order = rng.shuffle((0 until ChainDay.Days).toList)
        val days = ArrayBuffer.empty[Map[String, Any]]
        var tokensSoFar = 0L
        extra("chain") = Map("days" -> days, "seed" -> seed,
          "day_count" -> ChainDay.Days, "parse_dir" -> chain.parseWarehouse)
        // timed passes take the seed's day order from its start, warm-up
        // passes from its end
        (pass: Int) => {
          val k = order(if (pass < 0) ChainDay.Days + pass else pass % ChainDay.Days)
          val rawRows = (ChainDay.RawResources :+ "prices")
            .map(r => r -> chain.rawRows((r, k))).toMap
          tokensSoFar += rawRows("tokens")
          val tokensBefore = chain.tokensBytes
          val (res, ns, cpu) = timed(chain.run(k))
          // warm-up days only have the verifier's results checked: the
          // row-count checks cost 15 jobs a day
          val err = res match {
            case scala.util.Failure(e) => Some(s"day $k: $e")
            case scala.util.Success((verified, parsed)) =>
              val bad =
                if (pass < 0) ChainDay.verifyFailures(verified)
                else chain.check(k, rawRows, tokensSoFar, verified, parsed)
              if (bad.isEmpty) None else Some(s"day $k: ${bad.mkString("; ")}")
          }
          if (pass >= 0) days += Map("k" -> k,
            "ds" -> ChainDay.dateOf(k).toString,
            "raw_rows" -> rawRows.values.sum,
            "raw_bytes" -> chain.rawBytes(k),
            "written_bytes" -> chain.writtenBytes(k, tokensBefore))
          Seq(Op(s"day_$k", pass, ns, cpu, err))
        }
      case _ =>
        val names = rng.shuffle(CatalogQueries)
        val ops = new CatalogOps(spark, sf, s"$work/results", tracer)
        extra("oracle_sql") = ops.oracles(names)
        extra("dump_dir") = s"$work/results"
        (pass: Int) => names.map { n =>
          val (r, ns, cpu) = timed(ops.run(n))
          Op(n, pass, ns, cpu, r match {
            case scala.util.Failure(e) => Some(s"$n: $e")
            case scala.util.Success((rows, schema)) => ops.check(n, rows, schema)
          })
        }
    }

    def passNs(ops: Seq[Op]) = ops.map(_.ns).sum
    val warm = ArrayBuffer.empty[Op]
    (1 to warmupPasses).foreach(i => warm ++= runPass(-i))
    // after two warm-up passes one untraced pass is the traced window's
    // baseline for bench.trace_overhead_s
    val untracedPass = if (trace) {
      val ops = runPass(-warmupPasses - 1); warm ++= ops; passNs(ops)
    } else 0L

    // --- the timed window -----------------------------------------------
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gc.map(_.getCollectionTime).sum
    val scratch0 = Files.bytes(new File(work)) + Files.bytes(tmpDir)
    val gc0 = gcMs
    stream.reset()
    if (trace) tracer.attach()
    val ops = ArrayBuffer.empty[Op]
    var pass = 0
    while (pass == 0 || ops.map(_.ns).sum < seconds * 1e9) {
      ops ++= runPass(pass)
      pass += 1
    }
    org.apache.spark.perfbench.Bus.drain(spark)
    tracer.detach()
    val gcWindowMs = gcMs - gc0
    val scratch1 = Files.bytes(new File(work)) + Files.bytes(tmpDir)

    val result = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "passes" -> pass,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "untimed_ops" -> warm.size,
      "untimed_errors" -> warm.flatMap(_.error),
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "ms" -> o.ns / 1e6, "cpu_ms" -> o.cpuNs / 1e6,
        "error" -> o.error.orNull)),
      "stream" -> stream.synchronized(Map(
        "trigger_ms" -> stream.triggerMs.toList, "input_rows" -> stream.inputRows,
        "batches" -> stream.batches, "phase_ms" -> stream.phaseMs.toMap,
        "state_mb" -> stream.stateBytesPeak / Tracer.MB)),
      "rss_peak_mb" -> vmHwmMb,
      "box" -> Map("cores" -> cores,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / Tracer.MB,
        "java_io_tmpdir" -> tmpDir.getCanonicalPath,
        "spark_local_dir" -> spark.sparkContext.getConf.get("spark.local.dir", ""),
        "spark_master" -> spark.sparkContext.master,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "passes_share_jvm" -> true),
      "scratch_mb" -> (scratch1 - scratch0) / Tracer.MB,
      "gc_ms" -> gcWindowMs.toDouble)
    result ++= extra
    if (trace) result ++= Map(
      "spans" -> tracer.spans,
      "failed_tasks" -> tracer.failedTasks,
      "input_mb" -> tracer.inputBytes / Tracer.MB,
      "write_files" -> tracer.writeFiles,
      "write_mb" -> tracer.writeBytes / Tracer.MB,
      "untraced_pass_s" -> untracedPass / 1e9)
    spark.stop()
    java.nio.file.Files.write(new File(out).toPath,
      Json.write(result).getBytes("UTF-8"))
  }

  private def vmHwmMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

/** Minimal JSON rendering for the result file. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def java(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> java(x) }.asJava
    case s: Iterable[_] => s.map(java).toSeq.asJava
    case o: Option[_] => o.map(java).orNull
    case x: AnyRef => x
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }
  def write(v: Any): String = mapper.writeValueAsString(java(v))
}

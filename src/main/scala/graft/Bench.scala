package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main. Two modes:
  *
  *  - PARENT (the driver's invocation, no selection env set): forks
  *    the suite across `SPARK_GRAFT_BENCH_SHARDS` (default 3) batch
  *    child JVMs plus ONE dedicated streaming shard, run SEQUENTIALLY,
  *    each a fresh JVM + SparkSession over a stable hash-assigned
  *    slice of the catalog (see [[shardOf]]), and merges their
  *    artifacts into the usual one-line JSON. Why: the single-JVM calibration
  *    spread breached the 1.3 quiet bar two rounds running (1.49 →
  *    1.85) as the suite grew past 150 queries — heap/code-cache/GC
  *    state accumulated over ~20 minutes of queries lands on whoever
  *    runs late. A fresh JVM per ~50-query shard resets that, and
  *    each shard carries its own calibration bracket, so a co-tenant
  *    contention window is localized to the shard it hit instead of
  *    poisoning one giant capture. Falls back to inline single-JVM if
  *    forking fails, so the official artifact always appears.
  *  - INLINE (child shards via `SPARK_GRAFT_BENCH_SHARD=i:n`, or the
  *    targeted `SPARK_GRAFT_BENCH_ONLY` adjudication knob): the
  *    original two-pass/min protocol with calibration brackets.
  *
  * The merged (or inline) one-line JSON is also best-effort written to
  * `bench/self_capture.json`, because the official per-round artifact
  * tail-truncates to 2 000 chars and only ~70/157 query timings
  * survive in it — the file keeps the full machine-readable capture
  * in-repo for round-over-round comparison.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would silently filter to nothing and the
    // adjudication artifact would read "measured, nothing wrong" —
    // fail loudly on unknowns instead (this is a human-driven knob;
    // the driver never sets it)
    only.foreach { sel =>
      val unknown = sel -- SparkEntry.queries.map(_._1).toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    val shard = sys.env.get("SPARK_GRAFT_BENCH_SHARD").map { s =>
      val parts = s.split(":")
      (parts(0).toInt, parts(1).toInt)
    }
    val line =
      if (shard.isEmpty && only.isEmpty) runSharded()
      else runInline(only, shard)
    println(line)
    // full artifact survives the driver's tail truncation in-repo —
    // FULL captures only: a BENCH_ONLY slice must not clobber the
    // official capture file with a two-query artifact
    if (shard.isEmpty && only.isEmpty) writeCapture(line)
  }

  /** Best-effort in-repo copy of a full-catalog artifact line. Called
    * for every intermediate line too (preliminary pre-retry merge,
    * post-retry merge, final) — the newest full line wins, so a killed
    * run leaves the most refined capture it reached. */
  private def writeCapture(line: String): Unit = {
    try {
      val dir = java.nio.file.Paths.get("bench")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.write(dir.resolve("self_capture.json"),
        (line + "\n").getBytes("UTF-8"))
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Stable shard assignment: stateful STREAMING queries live in
    * their own dedicated shard (index n — micro-batch engines carry
    * checkpoint/state-store churn that co-resident batch timings
    * should not absorb), and every other query lands on
    * hash(name) % n — invariant under catalog growth, unlike the old
    * round-robin over Map iteration order, where 13 new r15 queries
    * silently reshuffled every query's shard, co-residents, and
    * execution order (one suspected mechanism of the r15 shared-slice
    * drag). Within a shard, execution order is name-sorted. */
  private def shardOf(name: String, n: Int): Int =
    if (name.startsWith("q_stream")) n
    else (name.hashCode & 0x7fffffff) % n

  /** Parent mode: sequential child JVMs over stable slices.
    *
    * SELF-HEALING: a shard whose own calibration spread breaches the
    * quiet bar (default 1.3, `SPARK_GRAFT_BENCH_SPREAD_BAR`) was run
    * inside a co-tenant contention window — its elevated per-query
    * readings are box noise, not code. Three consecutive rounds of
    * verdict time went to manually adjudicating exactly such shards,
    * so the instrument now defends itself: the contaminated shard is
    * RE-RUN (fresh child JVM, up to `SPARK_GRAFT_BENCH_RETRIES` = 2
    * extra attempts), the LOWEST-SPREAD attempt's readings are merged
    * into the official artifact, and every attempt's spread is
    * recorded in that shard's calibration object
    * (`"spreads":[…],"attempts":N`) plus the full discarded lines in
    * `bench/shard_retries.log` — both readings stay inspectable, the
    * artifact carries the quiet one. A shard with a FAILED probe
    * (spread −1) is not retried: that is a code signal, not noise.
    *
    * FLOOR-GATED: the serial-floor probe is the same defense for the
    * OTHER noise class (r16: three of four captures burned under
    * 81–103 ms serial floors vs the 33–44 ms healthy band, probe-flat
    * and spread-quiet — the drift inflates round-count-dominated
    * queries ~linearly in their job count). A shard's floor metric is
    * max(min(start, end), mid): the quieter EDGE probe (if even that
    * is hot, the loud window covered the whole attempt) combined with
    * the MID-capture sample added in r19 — three r18 queries rode a
    * lift that rose after the start probe and decayed before the end
    * probe into a gate-PASS final with non-discounting rechecks, the
    * gate's one measured blind spot; the mid probe sits between the
    * two passes, inside that window. A shard whose metric breaches
    * `SPARK_GRAFT_BENCH_FLOOR_BAR_MS` (default 60) is re-run under
    * the same bounded-retry budget, best attempt = first by
    * (floor-gate pass, then spread). The merged artifact stamps the
    * decision as `"floor_gate":{"bar_ms":…,"worst_floor_ms":…,
    * "pass":…}` — a committed round-final with `"pass":false` means
    * the box never went quiet within the retry budget, and its
    * absolute numbers need floor-normalized reading (SCALE.md's
    * calibration-probe protocol). */
  private def runSharded(): String = {
    val n = sys.env.get("SPARK_GRAFT_BENCH_SHARDS").map(_.toInt)
      .getOrElse(3)
    val bar = sys.env.get("SPARK_GRAFT_BENCH_SPREAD_BAR")
      .map(_.toDouble).getOrElse(1.3)
    val floorBar = sys.env.get("SPARK_GRAFT_BENCH_FLOOR_BAR_MS")
      .map(_.toDouble).getOrElse(60.0)
    val retries = sys.env.get("SPARK_GRAFT_BENCH_RETRIES")
      .map(_.toInt).getOrElse(2)
    // WALL BUDGET (r21): the r20 official capture died at its caller's
    // timeout (rc 124) with zero parseable output — the retry machinery
    // is unbounded in wall time on a loud box (59 discarded attempts
    // logged that round). The bench now (a) stops RETRYING once elapsed
    // exceeds 70% of `SPARK_GRAFT_BENCH_BUDGET` seconds (default 3000 —
    // under the driver's ~3600 s kill with headroom for sbt startup),
    // (b) skips the regression RECHECK child past 85%, and (c) prints
    // the full-catalog merged line as soon as every shard has run once
    // — the caller parses the LAST {"metric"… line, so a kill during
    // retries/rechecks now degrades the artifact instead of zeroing it.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(3000.0)
    val t0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0) / 1e9
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = java.nio.file.Paths
        .get(System.getProperty("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
      val cp = System.getProperty("java.class.path")
      def runChild(env: (String, String), what: String): String = {
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", cp, "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put(env._1, env._2)
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        val code = p.waitFor()
        val line = out.linesIterator
          .filter(_.startsWith("{\"metric\"")).toSeq.lastOption
        require(code == 0 && line.nonEmpty,
          s"bench $what exited $code with no artifact line")
        line.get
      }
      def runOnce(i: Int): String =
        runChild("SPARK_GRAFT_BENCH_SHARD" -> s"$i:$n", s"shard $i/$n")
      def spreadOf(line: String): Double =
        "\"spread\":(-?[0-9.]+)".r.findFirstMatchIn(line)
          .map(_.group(1).toDouble).getOrElse(-1.0)
      // the attempt's quieter serial-floor reading; a parse miss
      // reads as the SENTINEL -1 — still gate-pass (never block the
      // artifact on a format surprise) but visibly distinct in the
      // floor_gate object from a genuinely quiet box, so a
      // calibration-format drift cannot silently disable the noise
      // defense (worst_floor_ms:-1 = "the gate read nothing")
      val floorMiss = -1.0
      def floorOf(line: String): Double = {
        def g(k: String) = ("\"" + k + "\":(-?[0-9.]+)").r
          .findFirstMatchIn(line).map(_.group(1).toDouble)
        val edge = (g("floor_start_ms"), g("floor_end_ms")) match {
          case (Some(a), Some(b)) => math.min(a, b)
          case (a, b) => a.orElse(b).getOrElse(floorMiss)
        }
        // the MID probe gates on its own reading, not the edge min:
        // it samples INSIDE the capture window, where the r18 lift
        // class lived — a loud mid over quiet edges is exactly the
        // blind spot this closes. Missing mid (pre-r19 line) falls
        // back to the edge metric alone.
        g("floor_mid_ms").fold(edge)(mid =>
          if (edge == floorMiss) mid else math.max(edge, mid))
      }
      def gateOk(line: String): Boolean = floorOf(line) <= floorBar
      val discarded = scala.collection.mutable.ArrayBuffer.empty[String]
      // FIRST COMPLETE PASS: every shard runs exactly once before any
      // retry — so a full-catalog artifact exists (and is printed) as
      // early as possible. shards 0..n-1 are the hash-stable batch
      // slices; shard n is the dedicated streaming shard (see shardOf)
      val attempts = scala.collection.mutable.ArrayBuffer
        .tabulate(n + 1)(i => List(runOnce(i)))
      def isBad(line: String): Boolean =
        spreadOf(line) > bar || !gateOk(line)
      // the preliminary merged line: full catalog, first attempts,
      // floor-gated over those attempts. Printed (and best-effort
      // written) BEFORE retries/rechecks — the caller parses the LAST
      // artifact line, so later, quieter lines supersede this one and
      // a budget kill mid-retry keeps it.
      def stampGate(lines: Seq[String]): String = {
        val floors = lines.map(floorOf)
        val misses = floors.count(_ == floorMiss)
        val worstFloor = floors.max
        val missField =
          if (misses > 0) s""","floor_miss_shards":$misses""" else ""
        val floorGate = s""""floor_gate":{"bar_ms":${d2(floorBar)},"worst_floor_ms":${d2(worstFloor)}$missField,"pass":${worstFloor <= floorBar}}"""
        mergeShardLines(lines)
          .replace(""","sf":"""", s""",$floorGate,"sf":"""")
      }
      if (attempts.exists(a => isBad(a.head))) {
        val prelim = stampGate(attempts.map(_.head).toSeq)
        println(prelim)
        writeCapture(prelim)
        System.err.println("bench: preliminary full-catalog artifact " +
          "emitted (pre-retry) — retrying contaminated shards")
      }
      // RETRY PHASE, bounded by the wall budget: a shard whose latest
      // attempt breaches the spread or floor gate re-runs (up to
      // `retries` extra attempts) while elapsed wall stays under 70%
      // of the budget; past that the loud attempt ships (floor-gate
      // stamped false — readable, adjudicable, never absent).
      val retryDeadline = 0.70 * budgetSec
      for (i <- 0 to n) {
        while (isBad(attempts(i).head) && attempts(i).size <= retries &&
            elapsedSec < retryDeadline) {
          System.err.println(f"bench shard $i/$n spread " +
            f"${spreadOf(attempts(i).head)}%.2f (bar $bar%.2f) floor " +
            f"${floorOf(attempts(i).head)}%.1f ms (bar $floorBar%.1f) " +
            s"— re-running (attempt ${attempts(i).size + 1})")
          attempts(i) ::= runOnce(i)
        }
        if (isBad(attempts(i).head) && attempts(i).size <= retries)
          System.err.println(f"bench shard $i/$n still loud but " +
            f"elapsed ${elapsedSec}%.0f s > ${retryDeadline}%.0f s " +
            s"(70% of budget $budgetSec) — keeping best attempt")
      }
      val shardLines = (0 to n).map { i =>
        val ordered = attempts(i).reverse // arrival order
        // floor-gate first, spread second: a quiet-floor attempt beats
        // any loud-floor one regardless of spread ordering
        val best = ordered.minBy(l => (!gateOk(l), spreadOf(l)))
        ordered.filter(_ ne best).foreach { l =>
          discarded += s"shard $i/$n discarded: $l"
        }
        // stamp the retry history into the shard's (flat) calibration
        // object so the merged artifact is self-describing
        val line =
          if (ordered.size == 1) best
          else {
            val hist = ordered.map(l => d2(spreadOf(l)))
              .mkString("[", ",", "]")
            val fhist = ordered.map(l => d2(floorOf(l)))
              .mkString("[", ",", "]")
            best.replaceFirst("\"calibration\":\\{",
              s""""calibration":{"attempts":${ordered.size},"spreads":$hist,"floors_ms":$fhist,""")
          }
        System.err.println(s"bench shard $i/$n done " +
          s"(${ordered.size} attempt(s), " +
          f"spread ${spreadOf(best)}%.2f, " +
          f"floor ${floorOf(best)}%.1f ms)")
        line
      }
      // the merged artifact records the gate decision once, over the
      // SELECTED attempts: pass=false = the box never went quiet
      // within the retry budget for at least one shard. A shard whose
      // calibration failed to parse (sentinel) is stamped separately:
      // pass with floor_miss_shards>0 means "quiet as far as the gate
      // could READ", not "measured quiet".
      if (discarded.nonEmpty) {
        try {
          val dir = java.nio.file.Paths.get("bench")
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.write(dir.resolve("shard_retries.log"),
            (discarded.mkString("", "\n", "\n")).getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.APPEND)
        } catch { case scala.util.control.NonFatal(_) => () }
      }
      // per-query floor-NOW for the adjusted metric: the floor probes
      // of the shard that produced the query's reading (max of the
      // capture's three samples — the largest lift the floor can
      // explain; a genuine task-time regression survives any floor
      // discount, a job-floor-class reading discounts itself)
      val shardFloorOf: String => Double = name => {
        val i = shardOf(name, n)
        if (i >= 0 && i < shardLines.size)
          floorProbeVals(shardLines(i)) match {
            case Nil => -1.0
            case xs  => xs.max
          }
        else -1.0
      }
      // post-retry merged line, printed BEFORE the recheck child: the
      // recheck can only refine per-query readings, and a kill during
      // it must not cost the round its full-catalog artifact
      val merged = stampGate(shardLines)
      println(merged)
      writeCapture(merged)
      applyRegressionRechecks(
        merged,
        shardFloorOf,
        names => runChild("SPARK_GRAFT_BENCH_ONLY" -> names.mkString(","),
          s"recheck(${names.size})"),
        allowRecheck = () => {
          val ok = elapsedSec < 0.85 * budgetSec
          if (!ok) System.err.println(f"bench: skipping regression " +
            f"recheck — elapsed ${elapsedSec}%.0f s > 85%% of budget " +
            f"$budgetSec%.0f s")
          ok
        })
    } catch {
      case scala.util.control.NonFatal(t) =>
        // never lose the official artifact to a forking problem
        System.err.println(
          s"bench: shard fork failed (${t.getMessage}); running inline")
        runInline(None, None)
    }
  }

  /** Merge child one-line JSONs. The format is OURS (flat inner
    * objects, no nested braces), so bounded substring extraction is
    * exact — no JSON library on the main classpath. */
  private def mergeShardLines(lines: Seq[String]): String = {
    def inner(line: String, key: String, open: Char,
        close: Char): Option[String] = {
      val k = "\"" + key + "\":" + open
      val s = line.indexOf(k)
      if (s < 0) None
      else Some(line.substring(s + k.length,
        line.indexOf(close, s + k.length)))
    }
    val qs = lines.flatMap(inner(_, "queries", '{', '}'))
      .filter(_.nonEmpty).mkString(",")
    val js = lines.flatMap(inner(_, "jobs", '{', '}'))
      .filter(_.nonEmpty).mkString(",")
    val errs = lines.flatMap(inner(_, "errors", '[', ']'))
      .filter(_.nonEmpty)
    val failed = lines.map(l =>
      "\"failed\":(\\d+)".r.findFirstMatchIn(l)
        .map(_.group(1).toInt).getOrElse(0)).sum
    val totals = lines.map(l =>
      "\"value\":(-?[0-9.]+)".r.findFirstMatchIn(l)
        .map(_.group(1).toDouble).getOrElse(Double.NaN))
    val total =
      if (failed > 0 || totals.exists(v => v.isNaN || v < 0)) -1.0
      else totals.sum
    val cals = lines.map(inner(_, "calibration", '{', '}').getOrElse(""))
    val spreads = cals.flatMap(c =>
      "\"spread\":(-?[0-9.]+)".r.findFirstMatchIn(c)
        .map(_.group(1).toDouble))
    val maxSpread = if (spreads.isEmpty) -1.0 else spreads.max
    val sf = lines.headOption.flatMap(inner(_, "sf", '"', '"'))
      .getOrElse("")
    val errJson =
      if (errs.isEmpty) ""
      else errs.mkString(""""errors":[""", ",", "],")
    val calJson = cals.map("{" + _ + "}")
      .mkString(s""""calibration":{"spread":${d2(maxSpread)},"shards":[""",
        ",", "]}")
    s"""{"metric":"total","value":${jNum(total)},"unit":"sec","failed":$failed,"queries":{$qs},"jobs":{$js},$errJson$calJson,"sf":"$sf"}"""
  }

  /** CROSS-ROUND per-query regression detection (the class shard-
    * spread self-healing cannot see: a shard can read perfectly quiet
    * while one query inside it runs 2× its last-round self — r15
    * shipped two such readings on untouched code). After the shards
    * merge, every query is diffed against its per-query MIN across
    * the last three committed round-final artifacts
    * (`bench/self_r*.json`; override with a single-file
    * `SPARK_GRAFT_BENCH_REF`; silently skipped when none exist) —
    * min-of-rounds, because a regression that itself shipped in the
    * newest artifact would otherwise become the baseline and hide
    * (exactly r15's pagerank/multiprobe readings). Queries reading
    * > 1.5× their reference AND > 0.5 s
    * are RE-RUN together in one fresh child JVM (its own quiet
    * calibration bracket), the per-query min of shard and recheck
    * readings merges into the artifact (more samples of the same
    * code — the min-of-passes protocol, extended), the headline total
    * is recomputed, and a `"regressions"` object records ref / shard /
    * recheck for each so the adjudication is readable from the
    * artifact alone. Since r20 each entry also carries the query's
    * measured JOB COUNT and a floor-ADJUSTED ratio `adj` = min over
    * readings of (wall − jobs × max(0, floorNow − refFloor)) / ref,
    * where floorNow is the reading's own capture's worst serial-floor
    * probe and refFloor the quietest probe across the reference
    * artifacts: the job-floor class (task time flat, wall ≈ jobs ×
    * floor) self-discounts mechanically — `adj` ≲ 1.3 reads
    * "floor-priced" — while a genuine task-time regression keeps
    * `adj` ≈ its raw ratio under any floor discount. */
  /** All `floor_*_ms` probe readings present in a one-line artifact
    * (or a single shard's line). */
  private def floorProbeVals(line: String): Seq[Double] =
    """"floor_(?:start|mid|end)_ms":(-?[0-9.]+)""".r
      .findAllMatchIn(line).map(_.group(1).toDouble)
      .filter(_ >= 0).toSeq

  private def applyRegressionRechecks(merged: String,
      shardFloorOf: String => Double,
      recheck: Seq[String] => String,
      allowRecheck: () => Boolean = () => true): String = {
    val refPaths = sys.env.get("SPARK_GRAFT_BENCH_REF")
      .map(Seq(_)).getOrElse {
        val dir = new java.io.File("bench")
        Option(dir.listFiles()).toSeq.flatten
          .filter(f => f.getName.matches("self_r\\d+\\.json"))
          .sortBy(f => f.getName.stripPrefix("self_r")
            .stripSuffix(".json").toInt)
          .takeRight(3).map(_.getPath)
      }
    val qre = """"(q[A-Za-z0-9_]*|q1_agg)":(-?[0-9.]+)""".r
    def queriesOf(line: String): Map[String, Double] = {
      val k = "\"queries\":{"
      val s = line.indexOf(k)
      if (s < 0) Map.empty
      else qre.findAllMatchIn(
        line.substring(s + k.length, line.indexOf('}', s + k.length)))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    def jobsOfLine(line: String): Map[String, Int] = {
      val k = "\"jobs\":{"
      val s = line.indexOf(k)
      if (s < 0) Map.empty
      else """"(q[A-Za-z0-9_]*|q1_agg)":(\d+)""".r.findAllMatchIn(
        line.substring(s + k.length, line.indexOf('}', s + k.length)))
        .map(m => m.group(1) -> m.group(2).toInt).toMap
    }
    try {
      val refTexts = refPaths.map(p => new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        "UTF-8"))
      // per-query MIN across the reference artifacts (see scaladoc)
      val ref = refTexts.map(queriesOf)
        .foldLeft(Map.empty[String, Double]) { (acc, qs) =>
          (acc.keySet ++ qs.keySet).map { k =>
            k -> math.min(acc.getOrElse(k, Double.MaxValue),
              qs.getOrElse(k, Double.MaxValue))
          }.toMap
        }
      // the quietest serial-floor probe any reference artifact ever
      // recorded — the baseline the floor-ADJUSTED metric discounts
      // against (see the regr map below)
      val refFloor = refTexts.flatMap(floorProbeVals) match {
        case Nil => -1.0
        case xs  => xs.min
      }
      // per-query MIN job count across the references (r20 verdict #7
      // guard: `adj` subtracts jobs × floor-lift, so a reading whose
      // JOB COUNT grew — a plan regression — would get a BIGGER
      // discount; stamping ref_jobs and flagging >20% growth keeps the
      // metric from discounting a real regression). Pre-r20 references
      // carry no jobs object — the guard is simply absent then.
      val refJobs = refTexts.map(jobsOfLine)
        .foldLeft(Map.empty[String, Int]) { (acc, js) =>
          (acc.keySet ++ js.keySet).map { k =>
            k -> math.min(acc.getOrElse(k, Int.MaxValue),
              js.getOrElse(k, Int.MaxValue))
          }.toMap
        }
      if (ref.isEmpty) return merged
      val cur = queriesOf(merged)
      val offenders = cur.collect {
        case (name, v) if v > 0.5 &&
            ref.get(name).exists(r => r > 0 && v > 1.5 * r) => name
      }.toSeq.sorted
      if (offenders.isEmpty) return merged
      // budget guard (r21): the recheck is a whole fresh child JVM —
      // when the wall budget is nearly spent, the merged line (already
      // printed) must remain the artifact rather than risk the kill
      if (!allowRecheck()) return merged
      System.err.println(s"bench: ${offenders.size} quer" +
        s"${if (offenders.size == 1) "y reads" else "ies read"} >1.5x " +
        s"the min-of(${refPaths.mkString(", ")}) reference - " +
        s"rechecking in a fresh JVM: " + offenders.mkString(", "))
      val reLine = recheck(offenders)
      val re = queriesOf(reLine)
      // the recheck child stamps its own calibration (floor + gc
      // probes) like any shard; carry it next to the regressions so a
      // floor-inflated recheck discounts itself from the artifact
      // alone (r16: a 2.27 s recheck of a 1.33 s query adjudicated
      // only because the driver's separate capture happened to be
      // quiet)
      val reCal = {
        val k = "\"calibration\":{"
        val s = reLine.indexOf(k)
        if (s < 0) "" else {
          val e = reLine.indexOf('}', s + k.length)
          s""","recheck_cal":${reLine.substring(s + k.length - 1, e + 1)}"""
        }
      }
      var line = merged
      // with failures present the headline "value" is not a clean sum
      // of per-query times, so leave BOTH the total and the per-query
      // entries untouched (substituting one without the other would
      // ship an artifact whose numbers disagree with each other) —
      // the regressions object still records every recheck reading
      val hadFail = "\"failed\":(\\d+)".r.findFirstMatchIn(merged)
        .exists(_.group(1).toInt > 0)
      val shardJobs = jobsOfLine(merged)
      val reJobs = jobsOfLine(reLine)
      val reFloor = floorProbeVals(reLine) match {
        case Nil => -1.0
        case xs  => xs.max
      }
      // floor-ADJUSTED reading (r19 verdict #2 — the adjudication gap
      // the mid-probe left): wall − jobs × max(0, floorNow − refFloor)
      // — the LARGEST share of the reading the measured floor lift can
      // explain for this query's job count. A job-floor-class entry
      // (task time flat, wall ≈ jobs × floor) self-discounts to ~its
      // reference; a genuine task-time regression survives any floor
      // discount. Clamped at 0; NaN when jobs or a probe is missing
      // (pre-r20 references carry no job counts — not needed: only
      // CURRENT jobs and the refs' floor probes enter).
      def adj(v: Double, jobs: Option[Int], floorNow: Double): Double =
        if (v.isNaN || v < 0 || jobs.isEmpty || floorNow < 0 ||
            refFloor < 0) Double.NaN
        else math.max(0.0,
          v - jobs.get * math.max(0.0, floorNow - refFloor) / 1000.0)
      val regr = offenders.map { name =>
        val shardV = cur(name)
        val reV = re.getOrElse(name, Double.NaN)
        val best = if (reV.isNaN || reV < 0) shardV
                   else math.min(shardV, reV)
        if (!hadFail && best < shardV)
          line = line.replace(s""""$name":${jNum(shardV)}""",
            s""""$name":${jNum(best)}""")
        val adjs = Seq(
          adj(shardV, shardJobs.get(name), shardFloorOf(name)),
          adj(reV, reJobs.get(name), reFloor)).filterNot(_.isNaN)
        val jb = reJobs.get(name).orElse(shardJobs.get(name))
        val adjField =
          if (adjs.nonEmpty && ref(name) > 0)
            s""","jobs":${jb.get},"adj":${d2(adjs.min / ref(name))}"""
          else jb.map(j => s""","jobs":$j""").getOrElse("")
        // jobs-grew guard: a >20% job-count growth is a PLAN regression
        // the floor discount must not absolve — flagged so the entry
        // reads loud even when adj ≲ 1.3
        val guard = (jb, refJobs.get(name)) match {
          case (Some(j), Some(rj)) if rj > 0 && rj != Int.MaxValue =>
            s""","ref_jobs":$rj""" +
              (if (j > 1.2 * rj) s""","jobs_grew":true""" else "")
          case _ => ""
        }
        s""""$name":{"ref":${jNum(ref(name))},"shard":${jNum(shardV)},"recheck":${jNum(reV)}$adjField$guard}"""
      }.mkString("{", ",", "}")
      // headline total = sum of the (possibly updated) per-query mins
      val newTotal = queriesOf(line).values.filter(_ >= 0).sum
      if (!hadFail)
        line = line.replaceFirst("\\{\"metric\":\"total\",\"value\":-?[0-9.]+",
          s"""{"metric":"total","value":${jNum(newTotal)}""")
      line.replace(""","sf":"""",
        s""","regressions":$regr$reCal,"sf":"""")
    } catch {
      case scala.util.control.NonFatal(t) =>
        System.err.println(s"bench: regression recheck failed " +
          s"(${t.getMessage}) - keeping the merged artifact as-is")
        merged
    }
  }

  /** Locale-pinned decimal formatting for every number that lands in
    * the artifact JSON: the f"" interpolator uses the JVM default
    * locale, and a comma-decimal locale would emit `"spread":1,33` —
    * silently corrupting the artifact this instrument exists to keep
    * self-describing. Locale.ROOT everywhere a digit reaches JSON. */
  private def d2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  private def jNum(v: Double): String =
    if (v.isNaN) "-1"
    else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Inline mode: the two-pass/min protocol over the (possibly
    * sliced) suite in THIS JVM. */
  private def runInline(only: Option[Set[String]],
      shard: Option[(Int, Int)]): String = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // Shuffle/spill files on tmpfs when available: 32 concurrent
    // tasks creating+renaming+deleting shuffle files serialize on the
    // ext4 journal of this box's virtio disk — measured ~2.5x on the
    // 32-task-stage floor (85 -> 33 ms with tmpfs), a single-box
    // artifact that a cluster's NVMe local dirs don't have. Benchmark
    // data at sf0.1 is MBs, so RAM-backed shuffle is safe here; spill
    // beyond RAM is not a concern the bench harness needs to survive.
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      builder.config("spark.local.dir", "/dev/shm/graft-spark-local")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    warmup(spark, sfDir)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    // per-query JOB COUNTS (r19 verdict #2): the denominator of the
    // floor-adjusted regression metric — a round-count-dominated
    // query's wall is ~ jobs × serial floor, so the regression
    // adjudicator can subtract the measured floor LIFT × jobs and
    // emit a ratio the box noise cannot inflate. Counted by a Watch
    // around the pass-1 sample, whose bus drains fall outside the
    // timed window.
    val jobsOf = scala.collection.mutable.Map.empty[String, Int]
    // NaN on failure — never the elapsed time of the exception path. A
    // crashing query must not masquerade as a fast timing (and with the
    // min-across-passes merge below, one failing pass must not win the
    // min for a query that succeeded in the other pass).
    def time(tag: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      catch {
        case t: Throwable =>
          errors += s"$tag: ${t.getClass.getSimpleName}"
          Double.NaN
      }
    }
    // Timings on a 32-thread shared box are vulnerable to two distinct
    // noise sources, each with its own defense:
    //  (1) per-query GC/JIT jitter (a single pause is a 3x swing on a
    //      sub-second query) — defended by an immediate within-pass
    //      repeat for queries whose first sample reads under 2 s;
    //  (2) sustained co-tenant contention windows lasting minutes —
    //      back-to-back reps of one query BOTH land inside the window,
    //      so min-of-2 does not defend (this poisoned one round's
    //      official capture 2-14x). Defended by running the WHOLE suite
    //      twice and taking the per-query min ACROSS passes: the two
    //      samples of any query are now separated by a full suite
    //      (~minutes), so a contention window cannot cover both.
    // A fixed calibration query timed at suite start / between passes /
    // end is emitted in the JSON: its spread is ~1x on a quiet box, so
    // a contaminated run is self-identifying from the artifact alone.
    // A single first sample decides the within-pass repeat, and a GC
    // pause swings a sub-second query past 1 s (3x observed) — so the
    // repeat threshold sits at 2 s: borderline 1-2 s samples also get
    // min-of-2, and only genuinely multi-second queries run once per
    // pass. NaN (failure) never repeats; min with NaN keeps NaN.
    // name-sorted for a STABLE within-shard execution order across
    // rounds (Map iteration order reshuffles whenever the catalog
    // grows); shard membership via the stable shardOf assignment
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
      .filter { case (name, _) =>
        shard.forall { case (i, n) => shardOf(name, n) == i } }
    def runPass(tag: String): Map[String, Double] =
      suite.map { case (name, fn) =>
        // job counts are deterministic per query — counted in pass 1
        // only (the p2/repeat samples would just re-measure the same
        // number while paying the bus drains again)
        val t1 = if (tag != "p1") time(s"$name/$tag", fn) else {
          val (t, r) = graft.obs.Watch(spark)(time(s"$name/$tag", fn))
          if (!t.isNaN) jobsOf(name) = r.jobs.size
          t
        }
        val t = if (t1.isNaN || t1 > 2.0) t1
                else math.min(t1, time(s"$name/$tag-rep", fn))
        System.err.println(f"bench [$tag] $name%-30s $t%8.3f s")
        name -> t
      }.toMap
    // calibration probes take min-of-2 like any other sub-2 s query:
    // the spread exists to flag MINUTES-long co-tenant contention
    // windows (which cover both back-to-back samples), not a single GC
    // pause or residual JIT on the start probe — r11's full-suite
    // spread read 1.49 purely start-loaded (0.347 → 0.233) from the
    // latter.
    def calProbe(tag: String): Double = {
      val a = time(tag, calibration)
      if (a.isNaN) a else math.min(a, time(s"$tag-rep", calibration))
    }
    // The scan probe above measures parallel throughput; this one
    // measures the SERIAL driver path (plan → submit → 1-task job →
    // collect), which the scan probe is blind to — r15's artifact
    // showed scan probes at parity with r14 while every round-count-
    // dominated query read 1.5-3x, and the mechanism (a ~2x drift of
    // exactly this floor) was only visible via ad-hoc measurement.
    // Stamped per shard so the next drift adjudicates from artifacts.
    def floorProbe(): Double = {
      (1 to 5).foreach(_ => spark.range(1).count())
      val t0 = System.nanoTime()
      (1 to 20).foreach(_ => spark.range(1).count())
      (System.nanoTime() - t0) / 20e6 // per-action ms
    }
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gc0 = gcMs
    val calStart = calProbe("cal-start")
    val floorStart = floorProbe()
    val pass1 = runPass("p1")
    val calMid = calProbe("cal-mid")
    // MID-capture serial-floor sample (r18 gate blind spot): a floor
    // lift that rises after the start probe and decays before the end
    // probe sat invisibly inside the capture window three rounds in a
    // row — this point sample sits between the two passes, inside the
    // window the edge probes bracket but cannot see into
    val floorMid = floorProbe()
    val pass2 = runPass("p2")
    val calEnd = calProbe("cal-end")
    val floorEnd = floorProbe()
    val gcDelta = gcMs - gc0
    def mergeMin(a: Double, b: Double): Double =
      if (a.isNaN) b else if (b.isNaN) a else math.min(a, b)
    val results = pass1.map { case (name, a) =>
      val b = pass2(name)
      val best = mergeMin(a, b)
      System.err.println(f"bench $name%-30s $best%8.3f s  (p1 $a%.3f / p2 $b%.3f)")
      name -> best
    }
    // Spread = max(mid, end) / min(start, mid, end). The START probe
    // is reported but excluded from the NUMERATOR: in a fresh JVM it
    // measures residual JIT — reproducibly ~1.8x the suite-hot floor
    // on an idle box even after the stabilizing warm loop, because the
    // floor needs shared infrastructure (shuffle writers, codegen
    // runtime, column readers) that only the suite itself compiles —
    // not box conditions, and it start-loaded the r11/r12 spreads into
    // false contamination signals. It still participates in the
    // DENOMINATOR, so a contention window inflating the run relative
    // to a clean start is caught. A window covering the whole run
    // (flat elevated probes) is the one shape the ratio cannot see:
    // for that, compare the probe FLOOR (min) against its historical
    // ~0.19-0.23 s value on this box at sf0.1.
    val cals = Seq(calStart, calMid, calEnd)
    val calSpread =
      if (cals.min > 0) math.max(calMid, calEnd) / cals.min else -1.0
    // millisecond precision keeps the one-line JSON compact (~half the
    // full-double length) so the driver's tail capture can't truncate
    // it; the totals value sits at the HEAD of the line and "sf" stays
    // the FINAL key for the same reason. This stays the FINAL (and
    // only) stdout line.
    // A query that failed in BOTH passes carries -1 in "queries" (JSON
    // has no NaN), is excluded from the total, and its exception names
    // appear in "errors" — a failed query can never deflate the total.
    // JSON has no NaN: every double goes through j() so a failed probe
    // renders -1, keeping the one-line artifact parseable.
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + jNum(v)
    }.mkString("{", ",", "}")
    // A query failing BOTH passes would silently deflate a sum-of-passing
    // total (a totals-only consumer would read the broken run as a
    // speedup), so the headline value self-invalidates to -1 whenever any
    // query failed; "failed":N plus "errors" carry the detail.
    val failed = results.values.count(_.isNaN)
    val total = if (failed > 0) Double.NaN else results.values.sum
    val errJson =
      if (errors.isEmpty) ""
      else errors.map("\"" + _ + "\"").mkString(""""errors":[""", ",", "],")
    val calSpreadJ = if (calSpread.isNaN) "-1" else d2(calSpread)
    val cal = s""""calibration":{"start":${jNum(calStart)},"mid":${jNum(calMid)},"end":${jNum(calEnd)},"spread":$calSpreadJ,"floor_start_ms":${d2(floorStart)},"floor_mid_ms":${d2(floorMid)},"floor_end_ms":${d2(floorEnd)},"gc_ms":$gcDelta}"""
    // per-query job counts ride EARLY in the line (right after
    // "queries"): the driver's official artifact keeps only the TAIL
    // 2000 chars, and the adjudication objects (calibration,
    // floor_gate, regressions, sf) must survive the truncation —
    // bench/self_capture.json keeps the whole line
    val jjs = jobsOf.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${jNum(total)},"unit":"sec","failed":$failed,"queries":$qs,"jobs":$jjs,$errJson$cal,"sf":"$sfDir"}"""
    spark.stop()
    line
  }

  /** Fixed-cost probe: full lineitem scan + hash aggregate. Cheap enough
    * to run three times per suite, heavy enough (~0.2-0.5 s at sf0.1)
    * that co-tenant CPU contention shows up as a multiplied wall time
    * rather than vanishing into scheduler noise. */
  private def calibration(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.core.Tables
    Tables.df(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("q"), avg(col("l_extendedprice")).as("p"))
  }

  /** JIT/codegen/shuffle warmup on a NON-benchmarked synthetic pipeline
    * (parquet scan → join → agg → window → custom expression) so the
    * first timed query doesn't absorb one-time infrastructure cost. */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    import graft.core.{GraftSession, Tables}
    GraftSession.tune(spark)
    try {
      val li = Tables.df(spark, sfDir, "lineitem").limit(10000)
      val p = Tables.df(spark, sfDir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)))
        .count()
      Tables.df(spark, sfDir, "documents").limit(100)
        .select(graft.ops.TextAnalysis.fingerprint(col("text"))).count()
      // Warm the array-lambda codegen family (cosine fold, signature
      // bands, array_contains CC probes): the embedding/image
      // dedup/ANN queries otherwise pay the catalog's most expensive
      // first-compile inside their timed window — BenchDiag measured
      // 51.7 s of summed task time on q_embed_dedup_clusters' COLD
      // run vs 2.5 s warmed, and the 2.0–2.5 s readings that kept
      // q_image_dedup_clusters on the regression list for four
      // rounds are exactly this class (SCALE.md r20). 300 rows keep
      // the warm pass sub-second.
      graft.ops.Similarity.lshNearDup(
        Tables.df(spark, sfDir, "embeddings").limit(300), 0.9).count()
      // JIT the generated code for the ABI decode expressions (codegen'd
      // via doGenCode since round 3 — this warms the janino compile).
      val abi =
        """{"name":"W","type":"event","inputs":[
          {"indexed":false,"name":"v","type":"uint256"}]}"""
      spark.range(2000).select(
        graft.abi.AbiDecode.event(abi,
          array(lit("0x00")),
          unhex(lpad(hex(col("id")), 64, "0"))).as("d"))
        .select(col("d.v")).count()
      // Warm the Structured Streaming machinery (micro-batch engine,
      // file stream source, symmetric-hash-join state stores, streaming
      // codegen) on a 200-row synthetic stream: measured ~4.5-15 s of
      // one-time JVM cost that otherwise lands on whichever streaming
      // query runs first in pass 1 (observed as a 17 s p1 outlier on
      // q_stream_interval_join in round 8). In production a stream runs
      // for days and this cost amortizes to zero — keeping it out of
      // the timed window measures the steady state.
      val evDir = java.nio.file.Files.createTempDirectory("graft_warm_ev")
      try {
        spark.range(200).select(
          col("id").as("event_id"),
          (lit(1700000000000000000L) + col("id") * 1000000000L).as("ts"),
          (col("id") % 20).as("user_id"),
          when(col("id") % 2 === 0, "view").otherwise("click")
            .as("event_type"),
          col("id").cast("double").as("value"),
          lit("{}").as("props"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$evDir/out")
        // boundedRun stages a single parquet FILE, so hand it the part
        // file, not the directory
        val part = new java.io.File(s"$evDir/out").listFiles()
          .find(_.getName.endsWith(".parquet")).get.getPath
        graft.streaming.EventsStream.runViewClickToBatch(spark,
          part, s"graft_warm_${System.nanoTime()}").count()
      } finally graft.core.Fs.deleteRecursively(evDir)
    } catch { case _: Throwable => () }
    // Run the calibration plan UNTIMED until its timing STABILIZES
    // (two consecutive non-improving runs, ≤10 attempts) so calStart
    // doesn't pay codegen + cold parquet read + residual JIT: with a
    // single untimed run, a FRESH child JVM's start probe still read
    // ~2.5x its own mid/end probes (C2 hasn't finished compiling the
    // scan/agg hot loops after one execution), and the contamination
    // signal false-positived on every sharded capture. Own try: an
    // earlier warmup failure (e.g. a missing documents table) must not
    // skip this step.
    try {
      // stop when the latest run sits within 15% of the best seen
      // twice in a row — a shallow monotone JIT decline (0.40, 0.30,
      // 0.28, …) fools a prev-vs-next check long before the hot loops
      // are actually compiled
      var best = Double.MaxValue
      var stable = 0
      var i = 0
      while (i < 15 && stable < 2) {
        val t0 = System.nanoTime()
        calibration(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        if (t <= best * 1.15) stable += 1 else stable = 0
        best = math.min(best, t)
        i += 1
      }
    } catch { case _: Throwable => () }
  }
}

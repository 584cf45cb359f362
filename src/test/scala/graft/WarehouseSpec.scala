package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Graph, Quality, Scd, Sketch, Stats}

/** Hand-case and property specs for the warehouse/governance family
  * (SCD2 merge, PageRank, count-min sketch, k-anonymous release, MAD
  * outlier QC) — the engine-level contracts behind the
  * `WarehouseQueries` oracles.
  */
class ScdSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val book = Seq("valid_from", "valid_to", "is_current")

  test("all four merge branches: close+reopen, no-op, insert, " +
      "pass-through (open and history)") {
    val current = Seq(
      ("A", "s1", "2024-01-01", null.asInstanceOf[String], true),
      ("B", "s2", "2024-01-01", null.asInstanceOf[String], true),
      ("C", "s3", "2024-01-01", null.asInstanceOf[String], true),
      // closed history for A: must pass through untouched
      ("A", "s0", "2023-01-01", "2024-01-01", false))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq(
      ("A", "s1x"), // changed -> close + reopen
      ("B", "s2"),  // identical -> no-op
      ("E", "s9"))  // brand-new key -> insert
      .toDF("k", "attr")
    val out = Scd.scd2Merge(current, updates, "k", Seq("attr"),
        "2024-02-01")
      .as[(String, String, String, Option[String], Boolean)]
      .collect().toSet
    assert(out === Set(
      ("A", "s0", "2023-01-01", Some("2024-01-01"), false), // history
      ("A", "s1", "2024-01-01", Some("2024-02-01"), false), // closed
      ("A", "s1x", "2024-02-01", None, true),               // reopened
      ("B", "s2", "2024-01-01", None, true),                // no-op
      ("C", "s3", "2024-01-01", None, true),                // untouched
      ("E", "s9", "2024-02-01", None, true)))               // insert
  }

  test("exactly one open version per key after merge; key count = " +
      "old keys + new keys") {
    val current = Seq(
      ("A", "s1", "2024-01-01", null.asInstanceOf[String], true),
      ("B", "s2", "2024-01-01", null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq(("A", "sX"), ("E", "s9")).toDF("k", "attr")
    val out = Scd.scd2Merge(current, updates, "k", Seq("attr"),
      "2024-02-01")
    val opens = out.filter(col("is_current"))
      .groupBy("k").agg(count(lit(1)).as("c"))
    assert(opens.filter(col("c") =!= 1).count() == 0)
    assert(opens.count() == 3) // A, B, E
  }

  test("null-safe change detection: null->value and value->null are " +
      "changes; null->null is a no-op") {
    val current = Seq(
      ("A", null.asInstanceOf[String], "2024-01-01",
        null.asInstanceOf[String], true),
      ("B", "v", "2024-01-01", null.asInstanceOf[String], true),
      ("C", null.asInstanceOf[String], "2024-01-01",
        null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq(
      ("A", "now-set"),            // null -> value: change
      ("B", null.asInstanceOf[String]), // value -> null: change
      ("C", null.asInstanceOf[String])) // null -> null: no-op
      .toDF("k", "attr")
    val out = Scd.scd2Merge(current, updates, "k", Seq("attr"),
      "2024-02-01")
    // A and B each closed + reopened; C untouched
    assert(out.filter(col("k") === "A").count() == 2)
    assert(out.filter(col("k") === "B").count() == 2)
    assert(out.filter(col("k") === "C").count() == 1)
    val cRow = out.filter(col("k") === "C").select("is_current")
      .as[Boolean].head()
    assert(cRow)
  }

  test("pointInTime: boundary semantics — date == valid_from joins the " +
      "NEW version, date == valid_to the NEXT; gaps yield NULLs") {
    val dim = Seq(
      ("A", "v1", "2024-01-01", "2024-02-01", false),
      ("A", "v2", "2024-02-01", null.asInstanceOf[String], true),
      ("B", "w1", "2024-03-01", null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val facts = Seq(
      (1L, "A", "2024-01-01"), // == v1.valid_from -> v1
      (2L, "A", "2024-01-31"), // inside v1
      (3L, "A", "2024-02-01"), // == v1.valid_to -> v2 (half-open)
      (4L, "A", "2023-12-31"), // before all versions -> NULL
      (5L, "B", "2024-02-15"), // before B existed -> NULL
      (6L, "C", "2024-02-15")) // key never in dim -> NULL
      .toDF("fid", "ck", "d")
    val out = Scd.pointInTime(facts, dim, "ck", "d", "k", Seq("attr"))
      .select(col("fid"), col("attr"))
      .as[(Long, Option[String])].collect().toMap
    assert(out === Map(1L -> Some("v1"), 2L -> Some("v1"),
      3L -> Some("v2"), 4L -> None, 5L -> None, 6L -> None))
  }

  test("pointInTime: exactly one output row per fact (disjoint SCD2 " +
      "intervals can't fan out)") {
    val dim = Seq(
      ("A", "v1", "2024-01-01", "2024-02-01", false),
      ("A", "v2", "2024-02-01", null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val facts = (1 to 50).map(i =>
      (i.toLong, "A", if (i % 2 == 0) "2024-01-15" else "2024-03-01"))
      .toDF("fid", "ck", "d")
    val out = Scd.pointInTime(facts, dim, "ck", "d", "k", Seq("attr"))
    assert(out.count() == 50)
    assert(out.groupBy("fid").agg(count(lit(1)).as("c"))
      .filter(col("c") =!= 1).count() == 0)
  }

  test("streaming SCD2 fold over two ordered micro-batches equals " +
      "chaining scd2Merge in arrival order (version chains across " +
      "batches)") {
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    val initial = Seq(
      ("A", "s1", "2024-01-01", null.asInstanceOf[String], true),
      ("B", "s2", "2024-01-01", null.asInstanceOf[String], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    // batch 1 changes A; batch 2 changes A AGAIN and inserts C — the
    // double-change produces a two-link version chain only a
    // sequential fold can build
    val b1 = Seq(("A", "s1x")).toDF("k", "attr")
    val b2 = Seq(("A", "s1y"), ("C", "s3")).toDF("k", "attr")
    val staged = java.nio.file.Files.createTempDirectory("graft_sscd_mb")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sscd_w")
    try {
      b1.coalesce(1).write.parquet(tmp.resolve("b1").toString)
      b2.coalesce(1).write.parquet(tmp.resolve("b2").toString)
      def part(sub: String) = java.nio.file.Files
        .list(tmp.resolve(sub)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val p1 = staged.resolve("b1.parquet")
      val p2 = staged.resolve("b2.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part("b1")), p1)
      java.nio.file.Files.copy(java.nio.file.Paths.get(part("b2")), p2)
      // FileStreamSource orders by modification time — force b1 first
      p1.toFile.setLastModified(p2.toFile.lastModified() - 60000L)
      val dates = Seq("2024-02-01", "2024-03-01")
      val got = graft.streaming.IngestStream.runScd2ToBatch(spark,
          staged.toString, initial, "k", Seq("attr"),
          i => dates(i.toInt),
          StructType(Seq(StructField("k", StringType),
            StructField("attr", StringType))),
          maxFilesPerTrigger = Some(1))
        .as[(String, String, String, Option[String], Boolean)]
        .collect().toSet
      val want = Scd.scd2Merge(
          Scd.scd2Merge(initial, b1, "k", Seq("attr"), "2024-02-01"),
          b2, "k", Seq("attr"), "2024-03-01")
        .as[(String, String, String, Option[String], Boolean)]
        .collect().toSet
      assert(got === want)
      // the cross-batch chain is really there: A has three versions
      assert(got.count(_._1 == "A") == 3)
      assert(got.contains(("A", "s1y", "2024-03-01", None, true)))
      assert(got.contains(("C", "s3", "2024-03-01", None, true)))
    } finally {
      graft.core.Fs.deleteRecursively(staged.toFile)
      graft.core.Fs.deleteRecursively(tmp.toFile)
    }
  }

  test("tracked-column order and bookkeeping columns survive merge") {
    val current = Seq(("A", "x", 1L, "2024-01-01",
        null.asInstanceOf[String], true))
      .toDF("k", "a1", "a2", "valid_from", "valid_to", "is_current")
    val updates = Seq(("A", "x", 2L)).toDF("k", "a1", "a2")
    val out = Scd.scd2Merge(current, updates, "k", Seq("a1", "a2"),
      "2024-02-01")
    assert(out.columns.toSeq === Seq("k", "a1", "a2") ++ book)
    // a2 changed -> close + reopen
    assert(out.count() == 2)
  }
}

class GraphSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  /** 4-cycle: every node out-degree 1, no dangling — mass is conserved
    * up to floor truncation. */
  private def cycle4 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    .toDF("src", "dst")

  test("cycle graph: symmetric ranks, mass conserved within floor loss") {
    val scale = 1000000L
    val r = Graph.pageRank(cycle4, "src", "dst", iterations = 8,
      scale = scale).as[(Long, Long)].collect().toMap
    assert(r.size == 4)
    // symmetry: the cycle is vertex-transitive, all ranks equal
    assert(r.values.toSet.size == 1)
    val total = r.values.sum
    // floor losses: seed split (< n) + per round per node: damping
    // div (< 1) + share div (< 1 per edge)
    val bound = 4 + 8 * (4 + 4)
    assert(total <= scale && total >= scale - bound,
      s"total mass $total vs scale $scale")
  }

  test("dangling node leaks its damped mass; ranks stay >= teleport base") {
    // 0 -> 1 -> 2, node 2 dangling
    val e = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(e, "src", "dst", iterations = 4,
      scale = 300000L).as[(Long, Long)].collect().toMap
    val base = (100L - 85L) * (300000L / 3) / 100L
    assert(r.size == 3)
    assert(r.values.forall(_ >= base))
    assert(r.values.sum < 300000L) // dangling leak is real
    // 2 receives from 1 and gives nothing: strictly the richest
    assert(r(2L) > r(1L) && r(1L) > r(0L))
  }

  test("isolated node earns teleport mass only when the universe " +
      "includes it (nodesOpt)") {
    val nodes = Seq(0L, 1L, 2L, 9L).toDF("node") // 9 is isolated
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val without = Graph.pageRank(e, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(!without.contains(9L))
    val withIso = Graph.pageRank(e, "src", "dst", iterations = 3,
      nodesOpt = Some(nodes)).as[(Long, Long)].collect().toMap
    val base = (100L - 85L) * (1000000L / 4) / 100L
    assert(withIso(9L) == base) // teleport only, every round
  }

  test("precomputed nNodesOpt reproduces the counted result exactly") {
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val a = Graph.pageRank(cycle4, "src", "dst", iterations = 5,
      nodesOpt = Some(nodes)).as[(Long, Long)].collect().toSet
    val b = Graph.pageRank(cycle4, "src", "dst", iterations = 5,
      nodesOpt = Some(nodes), nNodesOpt = Some(4L))
      .as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("rotating checkpoints: at most one persisted RDD survives the " +
      "call (the returned final round), loop rounds and inputs freed") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = Graph.pageRank(cycle4, "src", "dst", iterations = 8)
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    // 8 iterations + nodes + eDeg would be 10 without rotation; the
    // contract is: only the returned frame's checkpoint remains
    assert(leaked.size <= 1, s"leaked ${leaked.size} persisted RDDs")
    graft.core.Checkpoints.release(r)
  }

  test("a checkpointed caller universe outlives pageRank, trustRank " +
      "and hits: they release only the checkpoints they made") {
    val sc = spark.sparkContext
    val nodes = Seq(0L, 1L, 2L, 3L, 9L).toDF("node").localCheckpoint()
    val mine = graft.core.Checkpoints.rddsOf(nodes).map(_.id)
    assert(mine.nonEmpty)
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "pageRank + count" -> (() => Graph.pageRank(cycle4, "src", "dst",
        iterations = 3, nodesOpt = Some(nodes), nNodesOpt = Some(5L))),
      "pageRank" -> (() => Graph.pageRank(cycle4, "src", "dst",
        iterations = 3, nodesOpt = Some(nodes))),
      "trustRank" -> (() => Graph.trustRank(cycle4, "src", "dst",
        Seq(0L).toDF("s"), iterations = 3, nodesOpt = Some(nodes))),
      "hits + count" -> (() => Graph.hits(cycle4, "src", "dst",
        iterations = 3, nodesOpt = Some(nodes), nNodesOpt = Some(5L))),
      "hits" -> (() => Graph.hits(cycle4, "src", "dst",
        iterations = 3, nodesOpt = Some(nodes))))
    runs.foreach { case (name, run) =>
      val r = run()
      assert(r.count() == 5, name)
      assert(mine.forall(sc.getPersistentRDDs.contains),
        s"$name released the caller's universe")
      graft.core.Checkpoints.release(r)
    }
    assert(nodes.count() == 5)
    graft.core.Checkpoints.release(nodes)
  }

  test("deterministic across runs") {
    val e = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 2L))
      .toDF("src", "dst")
    val a = Graph.pageRank(e, "src", "dst").as[(Long, Long)]
      .collect().toSet
    val b = Graph.pageRank(e, "src", "dst").as[(Long, Long)]
      .collect().toSet
    assert(a === b)
  }

  test("trustRank: nodes unreachable from every seed hold exactly " +
      "zero mass; seeds carry at least the teleport base") {
    // two components: 0->1->2 (seeded at 0) and 8->9 (no seed)
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (8L, 9L), (9L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(0L).toDF("s")
    val r = Graph.trustRank(e, "src", "dst", seeds, iterations = 6,
      scale = 900000L).as[(Long, Long)].collect().toMap
    assert(r(8L) == 0L && r(9L) == 0L)
    val base = (100L - 85L) * 900000L / 100L // one seed: r0 = scale
    assert(r(0L) >= base)
    assert(r(1L) > 0L && r(2L) > 0L) // trust flows along links
    assert(r.values.sum <= 900000L)
  }

  test("trustRank: seeds outside the node universe are ignored; " +
      "no surviving seed is an error") {
    val e = Seq((0L, 1L)).toDF("src", "dst")
    val r = Graph.trustRank(e, "src", "dst",
      Seq(0L, 777L).toDF("s"), iterations = 2)
      .as[(Long, Long)].collect().toMap
    // 777 is outside: the whole teleport mass splits over {0} only
    assert(r(0L) > 0L)
    intercept[IllegalArgumentException] {
      Graph.trustRank(e, "src", "dst", Seq(777L).toDF("s"))
    }
  }

  test("trustRank with ALL nodes as seeds reproduces pageRank exactly") {
    val nodes = Seq(0L, 1L, 2L, 3L).toDF("node")
    val pr = Graph.pageRank(cycle4, "src", "dst", iterations = 5,
      nodesOpt = Some(nodes)).as[(Long, Long)].collect().toSet
    val tr = Graph.trustRank(cycle4, "src", "dst", nodes,
      iterations = 5, nodesOpt = Some(nodes))
      .as[(Long, Long)].collect().toSet
    assert(pr === tr)
  }
}

class SketchSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.select(col("r").cast("long"), col("bucket").cast("long"),
        col("c").cast("long"))
      .as[(Long, Long, Long)].collect()
      .map { case (r, b, c) => (r, b) -> c }.toMap

  test("merge algebra: cell-wise sum of part sketches equals the " +
      "sketch of the union") {
    val a = Seq("x y z", "x x", "w").toDF("text")
    val b = Seq("y y", "z w q", "x").toDF("text")
    val union = a.unionAll(b)
    val merged = cells(Sketch.mergeCmsTables(
      Sketch.cmsTable(a, "text", depth = 4, width = 32),
      Sketch.cmsTable(b, "text", depth = 4, width = 32)))
    val direct = cells(Sketch.cmsTable(union, "text", depth = 4,
      width = 32))
    assert(merged === direct)
  }

  test("est >= exact for every token, and equality when the grid is " +
      "collision-free") {
    val docs = Seq("a b c", "a a d", "b e").toDF("text")
    // width 1024, 5 tokens: collisions essentially impossible
    val hh = Sketch.cmsHeavyHitters(docs, "text", depth = 4,
      width = 1024, k = 100).as[(String, Long, Long)].collect()
    assert(hh.length == 5)
    assert(hh.forall { case (_, est, exact) => est == exact })
    // width 2 forces collisions: estimates inflate but never deflate
    val hh2 = Sketch.cmsHeavyHitters(docs, "text", depth = 2,
      width = 2, k = 100).as[(String, Long, Long)].collect()
    assert(hh2.forall { case (_, est, exact) => est >= exact })
    assert(hh2.exists { case (_, est, exact) => est > exact })
  }

  test("heavy-hitter output is ordered by estimate desc with " +
      "deterministic token tie-break, capped at k") {
    val docs = Seq(("t1 " * 5) + ("t2 " * 3) + "t3 t4").toDF("text")
    val hh = Sketch.cmsHeavyHitters(docs, "text", k = 3)
      .as[(String, Long, Long)].collect()
    assert(hh.length == 3)
    assert(hh.map(_._1).take(2).toSeq === Seq("t1", "t2"))
    assert(hh(2)._1 == "t3") // t3/t4 tie on 1 -> lexicographic
    val ests = hh.map(_._2)
    assert(ests.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("bad dimensions rejected") {
    val d = Seq("x").toDF("text")
    intercept[IllegalArgumentException] {
      Sketch.cmsTable(d, "text", depth = 0, width = 16)
    }
    intercept[IllegalArgumentException] {
      Sketch.cmsTable(d, "text", depth = 4, width = 1)
    }
  }

  test("per-group grid equals the global grid run on each group's " +
      "slice: the bucket is a function of the token alone") {
    val docs = Seq(("s1", "x y z x"), ("s1", "y"), ("s2", "x q"),
      ("s2", "q q w")).toDF("src", "text")
    val grouped = Sketch.cmsTableBy(docs, "text", "src", depth = 4,
        width = 32)
      .select(col("src"), col("r").cast("long"),
        col("bucket").cast("long"), col("c").cast("long"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (g, r, b, c) => (g, r, b) -> c }.toMap
    val perSlice = Seq("s1", "s2").flatMap { g =>
      cells(Sketch.cmsTable(docs.filter(col("src") === g), "text",
        depth = 4, width = 32))
        .map { case ((r, b), c) => (g, r, b) -> c }
    }.toMap
    assert(grouped === perSlice)
  }

  test("grouped streaming fold (q_stream_cms_range): streamed day " +
      "grids equal the direct batch grouped grid bit for bit") {
    val docs = (1L to 90L)
      .map(i => (i % 4, s"w${i % 7} w${i % 3} tail", i))
      .toDF("day", "text", "id")
    val staged = java.nio.file.Files.createTempDirectory("graft_cmsg")
    try {
      (0 until 3).foreach(i =>
        docs.filter(col("id") % 3 === i).select("day", "text")
          .coalesce(1).write.mode("append").parquet(staged.toString))
      val streamed = graft.streaming.IngestStream.runCmsByToBatch(
        spark, staged.toString, "text", "day", 4, 32,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))),
        maxFilesPerTrigger = Some(1))
      val direct = Sketch.cmsTableBy(docs, "text", "day", depth = 4,
        width = 32)
      def keyed(g: org.apache.spark.sql.DataFrame) =
        g.select(col("day").cast("long"), col("r").cast("long"),
            col("bucket").cast("long"), col("c").cast("long"))
          .as[(Long, Long, Long, Long)].collect()
          .map { case (d, r, b, c) => (d, r, b) -> c }.toMap
      assert(keyed(streamed) === keyed(direct))
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("run*ToBatch release handle: releasing the returned state " +
      "after materializing derived results is safe and frees the " +
      "stranded blocks") {
    // the documented retention contract (IngestStream scaladoc): the
    // returned frame IS the fold's final localCheckpoint — a
    // long-lived session drops the groups×cells blocks by passing it
    // to Checkpoints.release AFTER everything derived is materialized
    val docs = (1L to 60L)
      .map(i => (i % 3, s"w${i % 5} w${i % 2}", i))
      .toDF("day", "text", "id")
    val staged = java.nio.file.Files.createTempDirectory("graft_rel")
    try {
      docs.select("day", "text").coalesce(1)
        .write.mode("append").parquet(staged.toString)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val state = graft.streaming.IngestStream.runCmsByToBatch(
        spark, staged.toString, "text", "day", 4, 32,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      // derive + MATERIALIZE (its own checkpoint truncates the lineage
      // back to the state frame), then release the state
      val derived = state.groupBy("day")
        .agg(sum(col("c")).as("mass")).localCheckpoint()
      val expect = derived.as[(Long, Long)].collect().toMap
      graft.core.Checkpoints.release(state)
      // the state's blocks are gone; only the derived checkpoint holds
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1, s"leaked ${leaked.size} persisted RDDs")
      // and the derived frame still reads correctly after the release
      assert(derived.as[(Long, Long)].collect().toMap === expect)
      graft.core.Checkpoints.release(derived)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("streaming persisted cells (q_stream_cells_persisted): the " +
      "sink-landed dt table equals the direct batch grouped grid " +
      "bit for bit, one directory per day") {
    val docs = (1L to 90L)
      .map(i => (i % 4, s"w${i % 7} w${i % 3} tail", i))
      .toDF("day", "text", "id")
    val staged = java.nio.file.Files.createTempDirectory("graft_scps")
    val sink = java.nio.file.Files.createTempDirectory("graft_scpk")
    try {
      (0 until 3).foreach(i =>
        docs.filter(col("id") % 3 === i)
          .select(col("day"), col("id").as("v"))
          .coalesce(1).write.mode("append").parquet(staged.toString))
      graft.streaming.IngestStream.runRankGridByToSink(
        spark, staged.toString, sink.toString, col("v"), col("day"),
        depth = 2, width = 64,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("day",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.LongType))),
        maxFilesPerTrigger = Some(1))
      // one dt=… directory per day key
      val dirs = sink.toFile.listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("dt=")).sorted
      assert(dirs.toSeq === Seq("dt=0", "dt=1", "dt=2", "dt=3"))
      def keyed(g: org.apache.spark.sql.DataFrame, dc: String) =
        g.select(col(dc).cast("long"), col("level").cast("long"),
            col("r").cast("long"), col("bucket").cast("long"),
            col("c").cast("long"))
          .as[(Long, Long, Long, Long, Long)].collect().toSet
      val persisted = keyed(spark.read.parquet(sink.toString), "dt")
      val direct = keyed(Sketch.rankGridBy(
        docs.withColumn("_day", col("day")), col("id"), Seq("_day"),
        depth = 2, width = 64), "_day")
      assert(persisted === direct)
    } finally {
      graft.core.Fs.deleteRecursively(staged.toFile)
      graft.core.Fs.deleteRecursively(sink.toFile)
    }
  }

  test("streaming persisted CMS and KMV cells: each sink-landed dt " +
      "table equals its direct batch build bit for bit — the " +
      "deployment loop closed for all three synopses") {
    val docs = (1L to 90L)
      .map(i => (i % 4, s"w${i % 7} w${i % 3} tail", i))
      .toDF("day", "text", "id")
    val staged = java.nio.file.Files.createTempDirectory("graft_sck")
    val sink = java.nio.file.Files.createTempDirectory("graft_sckw")
    try {
      (0 until 3).foreach(i =>
        docs.filter(col("id") % 3 === i)
          .select(col("day"), col("text"), col("id"))
          .coalesce(1).write.mode("append").parquet(staged.toString))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("day",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))
      graft.streaming.IngestStream.runCmsByToSink(
        spark, staged.toString, s"$sink/cms", "text", "day",
        depth = 4, width = 32, schema = schema,
        maxFilesPerTrigger = Some(1))
      graft.streaming.IngestStream.runKmvToSink(
        spark, staged.toString, s"$sink/kmv", "id", k = 8,
        dayCol = "day", schema = schema, maxFilesPerTrigger = Some(1))
      // CMS: persisted grouped grid ≡ direct batch cmsTableBy
      def cmsKeyed(g: org.apache.spark.sql.DataFrame, dc: String) =
        g.select(col(dc).cast("long"), col("r").cast("long"),
            col("bucket").cast("long"), col("c").cast("long"))
          .as[(Long, Long, Long, Long)].collect()
          .map { case (d, r, b, c) => (d, r, b) -> c }.toMap
      assert(cmsKeyed(spark.read.parquet(s"$sink/cms"), "dt") ===
        cmsKeyed(Sketch.cmsTableBy(docs, "text", "day", depth = 4,
          width = 32), "day"))
      // KMV: persisted day synopses ≡ direct batch kmvSynopsis
      def kmvKeyed(g: org.apache.spark.sql.DataFrame, dc: String) =
        g.select(col(dc).cast("long"), col("kmv"))
          .as[(Long, Seq[Long])].collect()
          .map { case (d, s) => d -> s.toList }.toMap
      assert(kmvKeyed(spark.read.parquet(s"$sink/kmv"), "dt") ===
        kmvKeyed(Sketch.kmvSynopsis(docs, "id", 8, Seq("day")), "day"))
      // one dt=… directory per day key, both sinks
      Seq("cms", "kmv").foreach { t =>
        val dirs = new java.io.File(s"$sink/$t").listFiles()
          .filter(_.isDirectory).map(_.getName)
          .filter(_.startsWith("dt=")).sorted
        assert(dirs.toSeq === Seq("dt=0", "dt=1", "dt=2", "dt=3"))
      }
    } finally {
      graft.core.Fs.deleteRecursively(staged.toFile)
      graft.core.Fs.deleteRecursively(sink.toFile)
    }
  }

  test("streaming day-cell retention: state stays at retainDays " +
      "slices however long the history, surviving slices are " +
      "bit-identical to the unbounded fold's") {
    def keyed(g: org.apache.spark.sql.DataFrame) =
      g.select(col("day").cast("long"), col("r").cast("long"),
          col("bucket").cast("long"), col("c").cast("long"))
        .as[(Long, Long, Long, Long)].collect()
        .map { case (d, r, b, c) => (d, r, b) -> c }.toMap
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("day",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    // every day arrives in EVERY batch (contiguous id chunks), so
    // retained days accumulate contributions across all batches —
    // pinning that compaction drops whole slices and never rewrites
    // a survivor mid-fold
    def run(nDays: Long, retain: Int) = {
      val docs = (1L to 10L * nDays)
        .map(i => (i % nDays, s"w${i % 7} w${i % 3} tail", i))
        .toDF("day", "text", "id")
      val staged =
        java.nio.file.Files.createTempDirectory("graft_ret")
      try {
        (0 until 5).foreach(i =>
          docs.filter(((col("id") - 1) / (2 * nDays))
              .cast("long") === i)
            .select("day", "text")
            .coalesce(1).write.mode("append").parquet(staged.toString))
        val st = graft.streaming.IngestStream.runCmsByToBatch(
          spark, staged.toString, "text", "day", 4, 32, schema,
          maxFilesPerTrigger = Some(1), retainDays = Some(retain))
        (keyed(st), docs)
      } finally graft.core.Fs.deleteRecursively(staged.toFile)
    }
    val (st20, docs20) = run(20, 4)
    // horizon: exactly the newest 4 distinct days survive
    assert(st20.keySet.map(_._1) === Set(16L, 17L, 18L, 19L))
    // surviving slices carry their FULL cross-batch counts: equal the
    // direct (unbounded) grouped grid restricted to those days
    val direct = Sketch.cmsTableBy(docs20.filter(col("day") >= 16),
      "text", "day", depth = 4, width = 32)
    assert(st20 === direct.select(col("day").cast("long"),
        col("r").cast("long"), col("bucket").cast("long"),
        col("c").cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (d, r, b, c) => (d, r, b) -> c }.toMap)
    // state is FLAT in history length: double the day span, same
    // retention → same slice count
    val (st40, _) = run(40, 4)
    assert(st40.keySet.map(_._1) === Set(36L, 37L, 38L, 39L))
  }

  test("range read path (q_cms_range): per-day grids filtered to a " +
      "subrange and merged answer identically to the monolithic " +
      "grid/probe on the sliced corpus") {
    val docs = (1L to 120L)
      .map(i => (i % 6, s"w${i % 11} w${i % 4} tail"))
      .toDF("day", "text")
    val inRange = col("day") >= 2 && col("day") < 5
    val perDay = Sketch.cmsTableBy(docs, "text", "day", depth = 4,
      width = 32)
    val merged = Sketch.mergeCmsTables(perDay.filter(inRange)
      .select(col("r"), col("bucket"), col("c")))
    val slice = docs.filter(inRange)
    assert(cells(merged) ===
      cells(Sketch.cmsTable(slice, "text", depth = 4, width = 32)))
    val viaGrid = Sketch.cmsHeavyHittersFromGrid(slice, "text",
      merged, depth = 4, width = 32, k = 100)
      .as[(String, Long, Long)].collect().toSeq
    val monolithic = Sketch.cmsHeavyHitters(slice, "text", depth = 4,
      width = 32, k = 100).as[(String, Long, Long)].collect().toSeq
    assert(viaGrid === monolithic)
  }

  test("persisted day cells through PartitionedWriter.overwriteDays: " +
      "dt-partitioned, range read prunes as PartitionFilters, re-run " +
      "of one day replaces only that day") {
    // the 100 TB read path made literal, through the REAL sink:
    // cells written via the multi-day dynamic-overwrite cell sink,
    // re-read with the range predicate — the scan must prune
    // DIRECTORIES (PartitionFilters), not filter rows, the merged
    // survivors must be the monolithic grid of the sliced corpus,
    // and re-landing ONE day's cells must replace exactly that
    // day's directory (the day-wise idempotence contract)
    val docs = (1L to 120L)
      .map(i => (i % 6, s"w${i % 11} w${i % 4} tail"))
      .toDF("day", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_cells")
    try {
      graft.write.PartitionedWriter.overwriteDays(
        Sketch.cmsTableBy(docs, "text", "day", depth = 4, width = 32),
        dir.toString, "day")
      val cellsBack = spark.read.parquet(dir.toString)
        .filter(col("dt") >= 2 && col("dt") < 5)
      val pf = cellsBack.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PartitionFilters"))
        .getOrElse("")
      assert(pf.contains("dt"), s"range not in PartitionFilters: $pf")
      // the pruned scan touches 3 of the 6 day directories — read the
      // scan's own numFiles metric after an action, the ground truth
      // of what partition pruning actually admitted
      cellsBack.queryExecution.executedPlan.execute().count()
      val numFiles = cellsBack.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
      assert(numFiles === 3L,
        s"expected 3 pruned day files read, got $numFiles")
      val merged = Sketch.mergeCmsTables(
        cellsBack.select(col("r"), col("bucket"), col("c")))
      assert(cells(merged) === cells(Sketch.cmsTable(
        docs.filter(col("day") >= 2 && col("day") < 5), "text",
        depth = 4, width = 32)))
      // day-wise idempotence: re-land day 3 with DIFFERENT cells; the
      // re-read range grid must equal days {2,4} as before + new day 3
      val redo = docs.filter(col("day") === 3)
        .withColumn("text", concat(col("text"), lit(" extra")))
      graft.write.PartitionedWriter.overwriteDays(
        Sketch.cmsTableBy(redo, "text", "day", depth = 4, width = 32),
        dir.toString, "day")
      val after = Sketch.mergeCmsTables(
        spark.read.parquet(dir.toString)
          .filter(col("dt") >= 2 && col("dt") < 5)
          .select(col("r"), col("bucket"), col("c")))
      val expect = Sketch.mergeCmsTables(
        Sketch.cmsTable(docs.filter(col("day") === 2 ||
          col("day") === 4), "text", depth = 4, width = 32),
        Sketch.cmsTable(redo, "text", depth = 4, width = 32))
      assert(cells(after) === cells(expect))
      // retention vacuum: keep the newest 2 day directories; the
      // survivors' cells are untouched bytes and answer as before
      val dropped = graft.write.PartitionedWriter.vacuumDays(
        spark, dir.toString, keepDays = 2)
      assert(dropped === Seq("0", "1", "2", "3"))
      val left = spark.read.parquet(dir.toString)
      assert(left.select("dt").distinct()
        .as[Long].collect().toSet === Set(4L, 5L))
      assert(cells(Sketch.mergeCmsTables(left.filter(col("dt") === 4)
          .select(col("r"), col("bucket"), col("c")))) ===
        cells(Sketch.cmsTable(docs.filter(col("day") === 4), "text",
          depth = 4, width = 32)))
      // idempotent re-run drops nothing
      assert(graft.write.PartitionedWriter.vacuumDays(
        spark, dir.toString, keepDays = 2).isEmpty)
    } finally graft.core.Fs.deleteRecursively(dir.toFile)
  }

  test("vacuumDays: missing root THROWS (never a silent full-" +
      "retention no-op), mixed-width integer keys order numerically, " +
      "and the null partition sorts oldest") {
    // a wrong path must be an error — the java.io.File spelling
    // silently returned empty on any non-local FS and on typos alike
    val gone = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_vac").toFile,
      "never_written")
    intercept[IllegalArgumentException] {
      graft.write.PartitionedWriter.vacuumDays(
        spark, gone.toString, keepDays = 1)
    }
    // mixed-width integer day keys: dt=9 is OLDER than dt=10 by
    // value, though "9" > "10" as strings — retention must keep the
    // numerically newest; and dt=__HIVE_DEFAULT_PARTITION__ (the
    // null-day partition) must never squat in the newest window
    val dir = java.nio.file.Files.createTempDirectory("graft_vac2")
    try {
      Seq("dt=8", "dt=9", "dt=10", "dt=11",
          "dt=__HIVE_DEFAULT_PARTITION__").foreach { d =>
        val p = dir.resolve(d)
        java.nio.file.Files.createDirectory(p)
        java.nio.file.Files.writeString(p.resolve("part-0.parquet"), "x")
      }
      val dropped = graft.write.PartitionedWriter.vacuumDays(
        spark, dir.toString, keepDays = 2)
      assert(dropped === Seq("__HIVE_DEFAULT_PARTITION__", "8", "9"))
      val left = Option(dir.toFile.listFiles()).toSeq.flatten
        .map(_.getName).sorted
      assert(left === Seq("dt=10", "dt=11"))
      // mixing date- and integer-typed keys has no meaningful
      // cross-type retention order — rejected loudly
      java.nio.file.Files.createDirectory(dir.resolve("dt=2024-01-07"))
      intercept[IllegalArgumentException] {
        graft.write.PartitionedWriter.vacuumDays(
          spark, dir.toString, keepDays = 2)
      }
    } finally graft.core.Fs.deleteRecursively(dir.toFile)
  }

  test("shuffled face (q_heavy_hitters_join) returns exactly the " +
      "broadcast face's rows") {
    val docs = (1L to 80L)
      .map(i => (s"s${i % 3}", s"w${i % 9} w${i % 4} tail"))
      .toDF("src", "text")
    val a = Sketch.cmsHeavyHittersBy(docs, "text", "src", 4, 32, 5)
      .as[(String, String, Long, Long)].collect().toSet
    val b = Sketch.cmsHeavyHittersByJoin(docs, "text", "src", 4, 32, 5)
      .as[(String, String, Long, Long)].collect().toSet
    assert(a === b)
  }

  test("per-group heavy hitters: est >= exact within each group's " +
      "grid, <= k rows per group, groups rank independently") {
    val docs = Seq(("s1", ("a " * 5) + ("b " * 3) + "c"),
      ("s2", ("z " * 9) + "a")).toDF("src", "text")
    val hh = Sketch.cmsHeavyHittersBy(docs, "text", "src",
        depth = 4, width = 1024, k = 2)
      .as[(String, String, Long, Long)].collect()
    assert(hh.count(_._1 == "s1") == 2 && hh.count(_._1 == "s2") == 2)
    assert(hh.forall { case (_, _, est, exact) => est >= exact })
    // collision-free width: per-group top tokens are the exact ones
    val bySrc = hh.groupBy(_._1)
      .view.mapValues(_.sortBy(r => (-r._3, r._2)).map(_._2).toSeq).toMap
    assert(bySrc("s1") === Seq("a", "b"))
    assert(bySrc("s2") === Seq("z", "a"))
    // s2's lone 'a' (count 1) must not inherit s1's five
    assert(hh.find(r => r._1 == "s2" && r._2 == "a").get._4 == 1L)
  }

  test("streaming fold over one-file micro-batches equals the direct " +
      "batch grid bit for bit (cell-wise additive, order-free)") {
    val docs = (1L to 90L).map(i => (i, s"w${i % 7} w${i % 3} tail"))
      .toDF("doc_id", "text")
    val staged = java.nio.file.Files.createTempDirectory("graft_cmss")
    try {
      (0 until 3).foreach(i =>
        docs.filter(col("doc_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString))
      val streamed = cells(graft.streaming.IngestStream.runCmsToBatch(
        spark, staged.toString, "text", 4, 32,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))),
        maxFilesPerTrigger = Some(1)))
      val direct = cells(Sketch.cmsTable(docs, "text", depth = 4,
        width = 32))
      assert(streamed === direct)
      // every token instance lands once per grid row: 90 docs x 3
      // tokens x depth 4
      assert(streamed.values.sum == 1080L)
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }
}

/** Contracts behind `q_rank_quantiles`: the dyadic rank grid is a
  * pure cell-wise-additive function of the input multiset (merge and
  * partitioning cannot change a counter — the property KLL's
  * order-dependent compaction cannot give), the driver-side walk twin
  * is byte-identical to the Catalyst chain, and the estimate's rank
  * error on a collision-light fixture stays inside the CMS envelope
  * against [[graft.ops.Stats.exactQuantiles]].
  */
class RankSketchSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val D = 2
  private val W = 8192

  /** Runs `body` under a job group of its own and returns each SQL
    * execution's ReusedExchange node count — the DIRECT plan-shape
    * probe backing the job-count pins below (r19 advice: a job-count
    * drift alone is undiagnosable; a planner change that drops the
    * reuse should fail naming the missing node) — and the jobs of that
    * group. Reads the SQL execution-start plans rather than the
    * actions' so checkpoint materializations inside the walk are
    * captured too. */
  private def walkCounts(body: => Unit): (Seq[Int], Int) = {
    val sc = spark.sparkContext
    val group = s"walk-jobpin-${System.nanoTime()}"
    sc.setJobGroup(group, "join-walk job-count pin")
    val r = try graft.obs.Watch(spark)(body)._2 finally sc.clearJobGroup()
    (r.sqlPlans.map("ReusedExchange".r.findAllIn(_).size),
      r.jobs.count(_.group.contains(group)))
  }

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.select(col("level").cast("long"), col("r").cast("long"),
        col("bucket").cast("long"), col("c").cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (l, r, b, c) => (l, r, b) -> c }.toMap

  // deterministic wide-domain fixture: value v*9973+17 repeated
  // (v % 5 + 1) times, v in [0, 1000) -> n = 3000, 1000 distinct
  private def fixture = (0 until 1000)
    .flatMap(v => Seq.fill(v % 5 + 1)(v * 9973L + 17L)).toDF("x")

  test("merge algebra: cell-wise sum of part grids IS the union's " +
      "grid; repartitioning cannot move a counter") {
    val a = Seq(5L, 9L, 9L, 1L << 40).toDF("x")
    val b = Seq(5L, 7L, (1L << 40) + 3L).toDF("x")
    val merged = cells(Sketch.mergeRankGrids(
      Sketch.rankGrid(a, col("x"), D, W),
      Sketch.rankGrid(b, col("x"), D, W)))
    val direct = cells(Sketch.rankGrid(a.unionAll(b), col("x"), D, W))
    assert(merged === direct)
    val u = fixture
    assert(cells(Sketch.rankGrid(u.repartition(7), col("x"), D, W)) ===
      cells(Sketch.rankGrid(u.repartition(3), col("x"), D, W)))
  }

  test("daily-lifecycle path (q_rank_merge_days): grids built per " +
      "partition key via rankGridBy, key dropped, merged cell-wise " +
      "equal the monolithic corpus grid") {
    val df = fixture.withColumn("day", pmod(col("x"), lit(7)))
    val byDay = Sketch.rankGridBy(df, col("x"), Seq("day"), D, W)
    val merged = cells(Sketch.mergeRankGrids(
      byDay.select(col("level"), col("r"), col("bucket"), col("c"))))
    assert(merged === cells(Sketch.rankGrid(df, col("x"), D, W)))
  }

  test("distributed join walk (q_rank_quantiles_join) is bit-" +
      "identical to the collected grouped walk, including under " +
      "forced collisions and inflated-sibling descents") {
    // width 64 over ~600 distinct values per group saturates buckets:
    // estimates inflate, walkers take early/late children — the
    // branchy paths where a relational re-spelling would drift
    val df = (0 until 1800).map { i =>
      (s"g${i % 3}", i.toLong * 7919L + (i % 3) * 1000003L)
    }.toDF("grp", "x")
    val ps = Seq(10, 250, 500, 750, 990, 1000)
    val narrow = Sketch.rankGridBy(df, col("x"), Seq("grp"), D, 64)
    def keyed(r: org.apache.spark.sql.DataFrame) =
      r.as[(String, Long, Long)].collect().toSet
    assert(keyed(Sketch.rankQuantilesByJoin(narrow, Seq("grp"), ps,
        D, 64)) ===
      keyed(Sketch.rankQuantilesBy(narrow, Seq("grp"), ps, D, 64)))
    // and at the catalog's real width on the wide fixture
    val wide = Sketch.rankGridBy(df, col("x"), Seq("grp"), D, W)
    assert(keyed(Sketch.rankQuantilesByJoin(wide, Seq("grp"), ps,
        D, W)) ===
      keyed(Sketch.rankQuantilesBy(wide, Seq("grp"), ps, D, W)))
    // a 120-group domain crosses the walk's fuse threshold (fan >
    // 100k rows), exercising the SEQUENTIAL single-level branch —
    // both descent orders must stay bit-identical to the collected
    // walk
    val dfBig = (0 until 4800).map { i =>
      (s"g${i % 120}", i.toLong * 7919L + (i % 120) * 1000003L)
    }.toDF("grp", "x")
    val big = Sketch.rankGridBy(dfBig, col("x"), Seq("grp"), D, 64)
    assert(keyed(Sketch.rankQuantilesByJoin(big, Seq("grp"), ps,
        D, 64)) ===
      keyed(Sketch.rankQuantilesBy(big, Seq("grp"), ps, D, 64)))
  }

  test("fused join walk shares one broadcast per checkpoint window " +
      "(ReusedExchange fires): job count stays window-shaped, not " +
      "round-shaped") {
    // the FUSED branch joins the checkpoint window's 4-level slice
    // and its probe `level` is a genuine column (explode over hi/lo),
    // so the two rounds of one checkpoint plan carry canonically
    // identical broadcast subtrees and ReuseExchange builds ONE — 4
    // broadcast builds per walk, not 8. (The sequential branch gets
    // the same reuse by carrying the window-top level as checkpoint
    // DATA — `_lvl` — so its per-round level can't constant-fold;
    // its own job pin is the next test.) Regression pin: job count
    // on a fused-branch fixture, measured against the same walk with
    // the per-pair slice (+4 jobs).
    val df = (0 until 1800).map { i =>
      (s"g${i % 3}", i.toLong * 7919L + (i % 3) * 1000003L)
    }.toDF("grp", "x")
    val big = Sketch.rankGridBy(df, col("x"), Seq("grp"), D, 64)
      .localCheckpoint() // build outside the counted window
    val (reuse, cur) = walkCounts {
      Sketch.rankQuantilesByJoin(big, Seq("grp"), Seq(500), D, 64)
        .collect(): Unit
    }
    info(s"fused walk ReusedExchange counts per plan: $reuse")
    // direct plan-shape pin behind the job count: each fused
    // checkpoint window's plan must actually carry the reuse node
    assert(reuse.exists(_ >= 1),
      "no executed plan in the fused walk carried a ReusedExchange " +
        "node — the cross-round broadcast reuse is gone (job-count " +
        s"drift would follow); per-plan counts: $reuse")
    // measured 17 on this fixture with the shared window build (plan
    // inspection: each 2-round checkpoint plan holds 1 BroadcastExchange
    // + 1 ReusedExchange); losing the reuse adds one build per plan
    // (+4 → 21). The bound splits the two with planner-drift slack.
    assert(cur > 0 && cur <= 19,
      s"fused join walk submitted $cur jobs")
    graft.core.Checkpoints.release(big)
  }

  test("sequential join walk shares one broadcast per checkpoint " +
      "window (ReusedExchange on the _lvl spelling fires): job " +
      "count stays window-shaped, not level-shaped") {
    // the SEQUENTIAL branch's reuse rides the `_lvl` checkpoint
    // column: the per-round probe level is `_lvl - offset` — data,
    // not a literal — so Catalyst cannot fold it into the build side
    // and the four rounds of one checkpoint plan share ONE
    // window-slice broadcast (4 builds per walk, not 16). A planner
    // change that re-folds `_lvl` would silently cost 12 broadcasts
    // back; this pin makes that loud. 120 groups × 1 permille = 120
    // walkers → fused fan 122 880 rows > the 100k fuse threshold, so
    // the walk takes the sequential single-level branch.
    val df = (0 until 4800).map { i =>
      (s"g${i % 120}", i.toLong * 7919L + (i % 120) * 1000003L)
    }.toDF("grp", "x")
    val big = Sketch.rankGridBy(df, col("x"), Seq("grp"), D, 64)
      .localCheckpoint() // build outside the counted window
    val (reuse, cur) = walkCounts {
      Sketch.rankQuantilesByJoin(big, Seq("grp"), Seq(500), D, 64)
        .collect(): Unit
    }
    info(s"sequential walk ReusedExchange counts per plan: $reuse")
    // direct plan-shape pin (r19 advice): the `_lvl` reuse means each
    // 4-round checkpoint plan shares ONE window broadcast across its
    // levels — at least one executed plan must carry 3 ReusedExchange
    // nodes; a planner change that re-folds `_lvl` fails HERE with
    // the node named, not as an opaque job-count drift
    assert(reuse.exists(_ >= 3),
      "no executed plan in the sequential walk carried >= 3 " +
        "ReusedExchange nodes — the `_lvl` cross-round broadcast " +
        s"reuse is gone; per-plan counts: $reuse")
    info(s"sequential join walk submitted $cur jobs")
    // measured 18 on this fixture with the shared `_lvl` window build
    // (4 checkpoint plans, each 1 BroadcastExchange + 3
    // ReusedExchange; one job is AQE planning at the grid checkpoint,
    // which is DELIBERATELY built under AQE — a preserved grid
    // partitioning kills exactly this reuse, see the Sketch
    // checkpoint comment); losing the reuse re-builds per level
    // (+12 → 30). The bound splits the two with planner-drift slack.
    assert(cur > 0 && cur <= 23,
      s"sequential join walk submitted $cur jobs")
    graft.core.Checkpoints.release(big)
  }

  test("rolling-window walk (q_rank_rolling): each window end's " +
      "quantiles equal the monolithic walk over that window's slice; " +
      "leading days carry partial windows; dataless days are absent") {
    import java.sql.Date
    // days 1,2,3,5 populated (day 4 missing): value day*100 + i
    val rows = for {
      d <- Seq(1, 2, 3, 5); i <- 0 until 40
    } yield (Date.valueOf(f"2024-03-0$d"), d * 100L + i)
    val df = rows.toDF("day", "x")
    val byDay = Sketch.rankGridBy(df, col("x"), Seq("day"), D, W)
    val rolling = Sketch.rankRollingQuantiles(byDay, "day", 3,
        Seq(500, 1000), D, W)
      .as[(Date, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).toMap)
      .toMap
    // window ends = exactly the populated days
    assert(rolling.keySet ===
      Seq(1, 2, 3, 5).map(d => Date.valueOf(f"2024-03-0$d")).toSet)
    // each window end ≡ the monolithic walk over its trailing 3 days
    for (d <- Seq(1, 2, 3, 5)) {
      val lo = d - 2
      val slice = df.filter(col("day") >= Date.valueOf(
        f"2024-03-0${math.max(lo, 1)}%d") &&
        col("day") <= Date.valueOf(f"2024-03-0$d"))
      val mono = Sketch.rankQuantiles(
          Sketch.rankGrid(slice, col("x"), D, W), Seq(500, 1000), D, W)
        .as[(Long, Long)].collect().toMap
      assert(rolling(Date.valueOf(f"2024-03-0$d")) === mono,
        s"window end day $d diverges from its monolithic slice walk")
    }
  }

  test("driver-side walk twin replays the Catalyst bucket chain " +
      "byte-identically across the prefix domain") {
    val probes = Seq(0L, 1L, 15L, 16L, 255L, 48271L, 2147483646L,
      2147483647L, 2147483648L, 4294967296L, (1L << 45) + 12345L,
      (1L << 62) + 987654321L, Long.MaxValue)
    val pairs = for { p <- probes; rr <- Seq(0L, 1L, 17L, 31L) }
      yield (p, rr)
    val viaSpark = pairs.toDF("prefix", "rr")
      .select(col("prefix"), col("rr"),
        Sketch.rankBucket(col("prefix"), col("rr"), W).as("b"))
      .as[(Long, Long, Long)].collect()
    viaSpark.foreach { case (p, rr, b) =>
      assert(b == Sketch.rankBucketLocal(p, rr, W),
        s"bucket twin diverges at prefix=$p rr=$rr")
    }
  }

  test("rank-error envelope vs exactQuantiles on a collision-light " +
      "fixture; estimates are nondecreasing in p") {
    val df = fixture
    val n = 3000L
    val ps = Seq(10, 100, 250, 500, 750, 900, 990, 1000)
    val grid = Sketch.rankGrid(df, col("x"), D, W)
    val est = Sketch.rankQuantiles(grid, ps, D, W)
      .as[(Long, Long)].collect().sortBy(_._1)
    assert(est.map(_._1).toSeq === ps.map(_.toLong))
    // nondecreasing: a larger target can only descend at same-or-
    // later children against the same grid
    assert(est.map(_._2).sliding(2).forall(w => w(0) <= w(1)))
    val exact = Stats.exactQuantiles(df, col("x"), ps)
      .as[(Long, Long)].collect().toMap
    est.foreach { case (p, q) =>
      val target = (p * n + 999L) / 1000L
      val rank = df.filter(col("x") <= q).count()
      // CMS overestimates only -> the walk can land early or (via an
      // inflated earlier sibling) late; with ~1000 prefixes/level in
      // 8192 buckets x depth 2, per-node inflation is rare and small.
      // 2% of n (60) is 12x the deterministic seed-free worst reading
      // on this fixture (|rank-target| <= 5 across ps).
      assert(math.abs(rank - target) <= n / 50,
        s"p=$p q=$q rank=$rank target=$target (exact=${exact(p)})")
    }
  }

  test("n is recoverable from the level-15 r=0 slice; NULLs are " +
      "excluded; empty and all-NULL inputs yield empty results") {
    val df = Seq(Some(3L), None, Some(77L), Some(3L)).toDF("x")
    val g = Sketch.rankGrid(df, col("x"), D, W)
    val n = g.filter(col("level") === 15 && col("r") === 0)
      .agg(sum(col("c"))).as[Long].collect().head
    assert(n == 3L) // the NULL never entered the grid
    val empty = Sketch.rankQuantiles(
      Sketch.rankGrid(Seq.empty[Long].toDF("x"), col("x"), D, W),
      Seq(500), D, W)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq === Seq("permille", "q_est"))
  }

  test("guards: negative values raise at scan time; bad dims and " +
      "permilles rejected eagerly") {
    intercept[IllegalArgumentException] {
      Sketch.rankGrid(Seq(1L).toDF("x"), col("x"), depth = 0, width = W)
    }
    intercept[IllegalArgumentException] {
      Sketch.rankGrid(Seq(1L).toDF("x"), col("x"), depth = D, width = 8)
    }
    intercept[IllegalArgumentException] {
      Sketch.rankQuantiles(
        Sketch.rankGrid(Seq(1L).toDF("x"), col("x"), D, W),
        Seq(0), D, W)
    }
    val neg = intercept[Exception] {
      Sketch.rankGrid(Seq(-1L).toDF("x"), col("x"), D, W).count()
    }
    assert(neg.getMessage.contains("non-negative") ||
      neg.getCause != null)
  }

  test("streaming fold over one-file micro-batches equals the direct " +
      "batch grid bit for bit, and so do the quantiles off it") {
    val df = (1L to 600L).map(i => (i, i * 9973L + 17L))
      .toDF("event_id", "x")
    val staged = java.nio.file.Files.createTempDirectory("graft_rnks")
    try {
      (0 until 3).foreach(i =>
        df.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString))
      val streamed = graft.streaming.IngestStream.runRankGridToBatch(
        spark, staged.toString, col("x"), D, W,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("x",
            org.apache.spark.sql.types.LongType))),
        maxFilesPerTrigger = Some(1))
      val direct = Sketch.rankGrid(df, col("x"), D, W)
      assert(cells(streamed) === cells(direct))
      val qs = Sketch.rankQuantiles(streamed, Seq(250, 500, 750), D, W)
        .as[(Long, Long)].collect().toSeq
      val qd = Sketch.rankQuantiles(direct, Seq(250, 500, 750), D, W)
        .as[(Long, Long)].collect().toSeq
      assert(qs === qd)
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("grouped streaming fold (q_stream_rank_range): streamed day " +
      "cells equal the direct batch grouped grid bit for bit") {
    import java.sql.Timestamp
    // 600 rows over 4 days, scattered across 3 micro-batch files by id
    val df = (1L to 600L).map { i =>
      (i, Timestamp.valueOf(s"2024-06-0${(i % 4) + 1} 0${i % 10}:0" +
        s"${i % 6}:00"))
    }.toDF("event_id", "ts")
    val staged = java.nio.file.Files.createTempDirectory("graft_rnkg")
    try {
      (0 until 3).foreach(i =>
        df.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString))
      val streamed = graft.streaming.IngestStream.runRankGridByToBatch(
        spark, staged.toString, unix_micros(col("ts")),
        to_date(col("ts")), D, W,
        schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))),
        maxFilesPerTrigger = Some(1))
      val direct = Sketch.rankGridBy(
        df.withColumn("_day", to_date(col("ts"))),
        unix_micros(col("ts")), Seq("_day"), D, W)
      def keyed(g: org.apache.spark.sql.DataFrame) =
        g.select(col("_day").cast("string"), col("level").cast("long"),
            col("r").cast("long"), col("bucket").cast("long"),
            col("c").cast("long"))
          .as[(String, Long, Long, Long, Long)].collect()
          .map { case (d, l, r, b, c) => (d, l, r, b) -> c }.toMap
      assert(keyed(streamed) === keyed(direct))
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("per-group grids and walks equal the global sketch run on " +
      "each group's slice in isolation; empty groups are absent") {
    val df = (0 until 900).map { i =>
      (s"g${i % 3}", i.toLong * 7919L + (i % 3) * 1000003L)
    }.toDF("grp", "x")
    val ps = Seq(100, 500, 900)
    val grouped = Sketch.rankQuantilesBy(
      Sketch.rankGridBy(df, col("x"), Seq("grp"), D, W),
      Seq("grp"), ps, D, W)
      .as[(String, Long, Long)].collect().toSet
    val perSlice = (0 until 3).flatMap { gi =>
      Sketch.rankQuantiles(
        Sketch.rankGrid(df.filter(col("grp") === s"g$gi"), col("x"),
          D, W), ps, D, W)
        .as[(Long, Long)].collect()
        .map { case (p, q) => (s"g$gi", p, q) }
    }.toSet
    assert(grouped === perSlice && grouped.size == 9)
    // a group whose values are all NULL never enters the grid
    val withNull = df.unionByName(
      Seq(("gN", Option.empty[Long])).toDF("grp", "x"))
    val g2 = Sketch.rankQuantilesBy(
      Sketch.rankGridBy(withNull, col("x"), Seq("grp"), D, W),
      Seq("grp"), ps, D, W)
      .as[(String, Long, Long)].collect()
    assert(!g2.exists(_._1 == "gN") && g2.length == 9)
  }

  test("maxGroups guard: an over-bound group domain fails before the " +
      "grid collect, naming the distributed alternative") {
    val wide = (0L until 25L).map(i => (s"g$i", i * 17L)).toDF("grp", "x")
    val grid = Sketch.rankGridBy(wide, col("x"), Seq("grp"), D, W)
    val err = intercept[IllegalArgumentException] {
      Sketch.rankQuantilesBy(grid, Seq("grp"), Seq(500), D, W,
        maxGroups = 10)
    }
    assert(err.getMessage.contains("more than 10 groups") &&
      err.getMessage.contains("rankQuantilesByJoin"))
    // at the bound: the walk proceeds, one row per (group, permille)
    assert(Sketch.rankQuantilesBy(grid, Seq("grp"), Seq(500), D, W,
      maxGroups = 25).count() == 25L)
  }
}

class KAnonSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("threshold edge: group of exactly k publishes, k-1 suppresses " +
      "into the residual; released total is exact") {
    val rows = Seq.fill(3)(("seg1", "c1")) ++ // k=3: published
      Seq.fill(2)(("seg2", "c2")) ++          // 2 < k: suppressed
      Seq.fill(4)(("seg3", "c3"))             // 4 >= k: published
    val out = Quality.kAnonymousRelease(rows.toDF("seg", "cohort"),
        Seq("seg", "cohort"), k = 3)
      .as[(String, String, Long)].collect().toSet
    assert(out === Set(
      ("seg1", "c1", 3L), ("seg3", "c3", 4L), ("*", "*", 2L)))
  }

  test("sub-k residual is published as documented (single suppressed " +
      "group below k)") {
    val rows = Seq.fill(5)(("a", "x")) ++ Seq(("b", "y"))
    val out = Quality.kAnonymousRelease(rows.toDF("q1", "q2"),
        Seq("q1", "q2"), k = 3)
      .as[(String, String, Long)].collect().toSet
    assert(out.contains(("*", "*", 1L))) // residual of 1 < k: intended
  }

  test("NULL quasi values mask into the residual class, never a " +
      "publishable NULL group") {
    val rows = Seq.fill(5)((null.asInstanceOf[String], "c")) ++
      Seq.fill(3)(("s", "c"))
    val out = Quality.kAnonymousRelease(rows.toDF("seg", "cohort"),
        Seq("seg", "cohort"), k = 3)
      .as[(String, String, Long)].collect().toSet
    // the NULL group is >= k but its seg is the mask: it reads as
    // ('*', 'c') — quasi info in the remaining column still publishes
    assert(out === Set(("*", "c", 5L), ("s", "c", 3L)))
  }

  test("a literal '*' quasi VALUE is rejected, not silently merged") {
    val rows = Seq.fill(4)(("*", "c"))
    val ex = intercept[Exception] {
      Quality.kAnonymousRelease(rows.toDF("seg", "cohort"),
        Seq("seg", "cohort"), k = 3).collect()
    }
    assert(ex.getMessage != null)
  }
}

class LDiverseSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("diversity threshold edge: exactly l distinct sensitive values " +
      "publishes, l-1 suppresses even with many rows (homogeneity)") {
    val rows =
      // group A: 6 rows, 3 distinct sensitive -> publishes at k=3,l=3
      Seq(("A", "s1"), ("A", "s1"), ("A", "s2"), ("A", "s2"),
        ("A", "s3"), ("A", "s3")) ++
      // group B: 8 rows but only 2 sensitive values -> suppressed
      Seq.fill(4)(("B", "t1")) ++ Seq.fill(4)(("B", "t2")) ++
      // group C: diverse but only 2 rows -> fails k
      Seq(("C", "u1"), ("C", "u2"))
    val out = graft.ops.Quality.lDiverseRelease(
        rows.toDF("seg", "sens"), Seq("seg"), "sens", k = 3, l = 3)
      .as[(String, Long, Long)].collect().toSet
    // residual: B's 8 rows + C's 2 rows, sensitive {t1,t2,u1,u2}
    assert(out === Set(("A", 6L, 3L), ("*", 10L, 4L)))
  }

  test("l=1 reduces to kAnonymousRelease's row sets (diversity never " +
      "binds)") {
    val rows = Seq.fill(3)(("a", "x", "s1")) ++
      Seq.fill(2)(("b", "y", "s2")) ++ Seq.fill(4)(("c", "z", "s1"))
    val df = rows.toDF("q1", "q2", "sens")
    val ld = graft.ops.Quality.lDiverseRelease(df, Seq("q1", "q2"),
        "sens", k = 3, l = 1)
      .select("q1", "q2", "n_rows")
      .as[(String, String, Long)].collect().toSet
    val ka = graft.ops.Quality.kAnonymousRelease(
        df.select(col("q1"), col("q2")), Seq("q1", "q2"), k = 3)
      .as[(String, String, Long)].collect().toSet
    assert(ld === ka)
  }

  test("NULL sensitive counts as one distinct value; sensitive " +
      "column may not be quasi") {
    val rows = Seq(("a", null.asInstanceOf[String]), ("a", "s1"),
      ("a", "s1"))
    val out = graft.ops.Quality.lDiverseRelease(
        rows.toDF("seg", "sens"), Seq("seg"), "sens", k = 2, l = 2)
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(("a", 3L, 2L))) // {NULL, s1} = 2 distinct
    intercept[IllegalArgumentException] {
      graft.ops.Quality.lDiverseRelease(rows.toDF("seg", "sens"),
        Seq("seg", "sens"), "sens", k = 2, l = 2)
    }
  }
}

class WinsorizeSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("hand case: p05/p95 type-1 thresholds clip the tails, middle " +
      "values untouched, every row survives") {
    // xs = 1..20: lo rank (50*20+999)//1000 = 1 -> v=1; hi rank
    // (950*20+999)//1000 = 19 -> v=19
    val df = (1 to 20).map(i => (i.toLong, i.toLong)).toDF("k", "x")
    val out = graft.ops.Stats.winsorize(df, "k", col("x"), 50, 950)
      .as[(Long, Long, Long)].collect()
      .map { case (k, x, w) => k -> ((x, w)) }.toMap
    assert(out.size == 20)
    assert(out(20L) == ((20L, 19L))) // clipped down to hi
    assert(out(1L) == ((1L, 1L)))    // at the lo threshold already
    assert(out(10L) == ((10L, 10L))) // untouched
  }

  test("asymmetric tails: extreme outlier pulled to threshold; " +
      "clipped range is [lo, hi] for every non-null row") {
    val df = ((1 to 99).map(i => (i.toLong, 10L)) :+ (100L, 100000L))
      .toDF("k", "x")
    val out = graft.ops.Stats.winsorize(df, "k", col("x"), 100, 900)
    val bad = out.filter(col("x_wins") < 10L || col("x_wins") > 10L)
    // p10 = p90 = 10 on this mass -> everything clips to exactly 10
    assert(bad.count() == 0)
    assert(out.count() == 100)
  }

  test("NULL values pass through unclipped; bad permille bounds " +
      "rejected") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("k", "x")
    val out = graft.ops.Stats.winsorize(df, "k", col("x"), 200, 800)
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (k, x, w) => k -> ((x, w)) }.toMap
    assert(out(2L) == ((None, None)))
    assert(out.size == 3)
    intercept[IllegalArgumentException] {
      graft.ops.Stats.winsorize(df, "k", col("x"), 900, 100)
    }
  }
}

class MadOutliersSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("all-constant series: MAD = 0 and nothing is flagged") {
    val s = (1 to 20).map(i => (s"d$i", 100L)).toDF("day", "x")
    val out = Stats.madOutliers(s, "day", col("x"), nMads = 3)
      .as[(String, Long, Long, Long, Boolean)].collect()
    assert(out.length == 20)
    assert(out.forall { case (_, x, med, mad, flag) =>
      x == 100L && med == 100L && mad == 0L && !flag })
  }

  test("constant series + one spike: MAD stays 0, only the spike " +
      "is flagged (the Hampel degenerate case)") {
    val s = ((1 to 10).map(i => (s"d$i", 50L)) :+ ("spike", 51L))
      .toDF("day", "x")
    val out = Stats.madOutliers(s, "day", col("x"), nMads = 3)
      .as[(String, Long, Long, Long, Boolean)].collect()
    val flagged = out.filter(_._5).map(_._1).toSet
    assert(flagged === Set("spike")) // |51-50| = 1 > 3*0
  }

  test("hand-computed median and MAD on a small odd series") {
    // xs = 1,2,3,4,100 -> med 3; adevs = 2,1,0,1,97 -> mad 1
    val s = Seq(("a", 1L), ("b", 2L), ("c", 3L), ("d", 4L),
      ("e", 100L)).toDF("k", "x")
    val out = Stats.madOutliers(s, "k", col("x"), nMads = 3)
      .as[(String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a")._3 == 3L && out("a")._4 == 1L)
    // flag: |x-3| > 3*1 -> only 100
    assert(out.values.filter(_._5).map(_._1).toSet === Set("e"))
  }
}

class TCloseSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  // corpus: A = 6x+2y (TVD 1/28 from global), B = 4x (TVD 3/14),
  // C = 1x+1y (fails k) -> global 11x+3y over N=14
  private def corpus = (
    Seq.fill(6)(("A", "x")) ++ Seq.fill(2)(("A", "y")) ++
    Seq.fill(4)(("B", "x")) ++ Seq(("C", "x"), ("C", "y"))
  ).toDF("seg", "sens")

  test("skewness attack: diverse-but-skewed group fails t while the " +
      "near-global group publishes (hand-checked integer algebra)") {
    // A: sum|c*N - C*n| = |84-88| + |28-24| = 8; 8000 <= 2*100*8*14
    // B: |56-44| + absent-y fold 3*4 = 24; 24000 > 11200 -> suppress
    val out = graft.ops.Quality.tCloseRelease(corpus, Seq("seg"),
        "sens", k = 3, tPermille = 100)
      .as[(String, Long)].collect().toSet
    assert(out === Set(("A", 8L), ("*", 6L)))
  }

  test("loosening t to 300 admits the skewed group; the sub-k group " +
      "still folds") {
    val out = graft.ops.Quality.tCloseRelease(corpus, Seq("seg"),
        "sens", k = 3, tPermille = 300)
      .as[(String, Long)].collect().toSet
    assert(out === Set(("A", 8L), ("B", 4L), ("*", 2L)))
  }

  test("t = 1000 never binds (group TVD < 1 by inclusion): row sets " +
      "reduce to kAnonymousRelease") {
    val rows = Seq.fill(3)(("a", "w", "s1")) ++
      Seq.fill(2)(("b", "y", "s2")) ++ Seq.fill(4)(("c", "z", "s1"))
    val df = rows.toDF("q1", "q2", "sens")
    val tc = graft.ops.Quality.tCloseRelease(df, Seq("q1", "q2"),
        "sens", k = 3, tPermille = 1000)
      .as[(String, String, Long)].collect().toSet
    val ka = graft.ops.Quality.kAnonymousRelease(
        df.select(col("q1"), col("q2")), Seq("q1", "q2"), k = 3)
      .as[(String, String, Long)].collect().toSet
    assert(tc === ka)
  }

  test("t = 0 publishes only groups exactly at the global " +
      "distribution; NULL sensitive is a countable value; sensitive " +
      "may not be quasi; bad tPermille rejected") {
    // D and E both exactly 2:1 x:null -> global 2:1, TVD 0 for both
    val rows = Seq(("D", "x"), ("D", "x"), ("D", null),
      ("E", "x"), ("E", "x"), ("E", null))
    val out = graft.ops.Quality.tCloseRelease(
        rows.toDF("seg", "sens"), Seq("seg"), "sens",
        k = 2, tPermille = 0)
      .as[(String, Long)].collect().toSet
    assert(out === Set(("D", 3L), ("E", 3L)))
    intercept[IllegalArgumentException] {
      graft.ops.Quality.tCloseRelease(rows.toDF("seg", "sens"),
        Seq("seg", "sens"), "sens", k = 2, tPermille = 100)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Quality.tCloseRelease(rows.toDF("seg", "sens"),
        Seq("seg"), "sens", k = 2, tPermille = 1001)
    }
  }
}

class HitsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("hand case, two Jacobi rounds at scale 1000: {1,2}->3->4") {
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    // n=4, r0=250. Round 1: araw(3)=500, araw(4)=250, Ta=750;
    // hraw(1)=hraw(2)=hraw(3)=250, Th=750 -> a=(0,0,666,333),
    // h=(333,333,333,0). Round 2: araw(3)=666, araw(4)=333, Ta=999;
    // hraw(1)=hraw(2)=666, hraw(3)=333, Th=1665 ->
    // a(3)=666000//999=666, a(4)=333, h(1)=h(2)=666000//1665=400,
    // h(3)=200 -- every division a floor division.
    val r = Graph.hits(e, "src", "dst", iterations = 2, scale = 1000L)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(r === Map(1L -> (400L, 0L), 2L -> (400L, 0L),
      3L -> (200L, 666L), 4L -> (0L, 333L)))
  }

  test("sinks hold exactly zero hub mass, sources zero authority; " +
      "per-vector mass is scale within floor loss") {
    val e = Seq((1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L))
      .toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", iterations = 6)
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(r(4L)._1 == 0L && r(5L)._1 == 0L) // no out-edges: hub 0
    assert(r(1L)._2 == 0L && r(2L)._2 == 0L) // no in-edges: auth 0
    val (hs, as_) = (r.values.map(_._1).sum, r.values.map(_._2).sum)
    assert(hs <= 1000000L && hs >= 1000000L - r.size)
    assert(as_ <= 1000000L && as_ >= 1000000L - r.size)
  }

  test("4-cycle is a fixed point: every node holds scale/n of both " +
      "vectors every round") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
      .toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", iterations = 7)
      .as[(Long, Long, Long)].collect()
    assert(r.length == 4)
    assert(r.forall { case (_, h, a) => h == 250000L && a == 250000L })
  }

  test("isolated node in an explicit universe holds (0, 0); " +
      "deterministic across runs; empty edges and scale < n rejected") {
    val e = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val nodes = Seq(0L, 1L, 9L).toDF("node")
    val r = Graph.hits(e, "src", "dst", iterations = 3,
      nodesOpt = Some(nodes), nNodesOpt = Some(3L))
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(r(9L) === (0L, 0L))
    val again = Graph.hits(e, "src", "dst", iterations = 3,
      nodesOpt = Some(nodes), nNodesOpt = Some(3L))
      .as[(Long, Long, Long)].collect()
      .map { case (n, h, a) => n -> (h, a) }.toMap
    assert(r === again)
    intercept[IllegalArgumentException] {
      Graph.hits(spark.emptyDataset[(Long, Long)].toDF("src", "dst"),
        "src", "dst")
    }
    intercept[IllegalArgumentException] {
      Graph.hits(e, "src", "dst", scale = 1L,
        nodesOpt = Some(nodes)) // r0 = 1/3 = 0
    }
  }

  test("rotating checkpoints: at most one persisted RDD survives " +
      "beyond the edge-list checkpoint lifecycle") {
    val sc = spark.sparkContext
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet
    val r = Graph.hits(e, "src", "dst", iterations = 8)
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size} persisted RDDs")
    graft.core.Checkpoints.release(r)
  }
}

class EventsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("funnel hand case: order is enforced strictly, counts and " +
      "permille floor-divide") {
    val ev = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      (2L, "click", ts("2024-01-02 09:00:00")), // before the view
      (2L, "view", ts("2024-01-02 10:00:00")),
      (2L, "purchase", ts("2024-01-02 11:00:00")),
      (3L, "view", ts("2024-01-03 10:00:00")),
      (3L, "purchase", ts("2024-01-03 11:00:00")), // before the click
      (3L, "click", ts("2024-01-03 12:00:00")),
      (4L, "click", ts("2024-01-04 10:00:00")) // never viewed
    ).toDF("u", "t", "at")
    val out = Events.funnel(ev, "u", "t", "at",
      Seq("view", "click", "purchase"))
      .as[(Int, String, Long, Long)].collect().toList
    assert(out === List((1, "view", 3L, 1000L), (2, "click", 2L, 666L),
      (3, "purchase", 1L, 333L)))
  }

  test("earliest-completion greedy: the first qualifying step-2 event " +
      "is taken, keeping a step-3 event feasible") {
    val ev = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")),
      (1L, "purchase", ts("2024-01-01 12:00:00")),
      (1L, "click", ts("2024-01-01 13:00:00"))
    ).toDF("u", "t", "at")
    val out = Events.funnel(ev, "u", "t", "at",
      Seq("view", "click", "purchase"))
      .as[(Int, String, Long, Long)].collect()
    assert(out.map(_._3).toList === List(1L, 1L, 1L))
  }

  test("horizon gates steps 2..k against the step-1 time: inside-" +
      "boundary included (<=), outside excluded, equality-with-t1 " +
      "excluded (strict order)") {
    val ev = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00")), // exactly t1 + 3600s
      (2L, "view", ts("2024-01-01 10:00:00")),
      (2L, "click", ts("2024-01-01 11:00:01")), // past the horizon
      (3L, "view", ts("2024-01-01 10:00:00")),
      (3L, "click", ts("2024-01-01 10:00:00")) // == t1: not after
    ).toDF("u", "t", "at")
    val out = Events.funnel(ev, "u", "t", "at", Seq("view", "click"),
      horizonSeconds = Some(3600L))
      .as[(Int, String, Long, Long)].collect()
    assert(out.map(_._3).toList === List(3L, 1L))
  }

  test("nobody reaches step 1: zero users, zero permille everywhere; " +
      "repeated step types demand distinct strictly-ordered events") {
    val ev = Seq((1L, "click", ts("2024-01-01 10:00:00")))
      .toDF("u", "t", "at")
    val out = Events.funnel(ev, "u", "t", "at", Seq("view", "click"))
      .as[(Int, String, Long, Long)].collect()
    assert(out.toList === List((1, "view", 0L, 0L), (2, "click", 0L, 0L)))
    val two = Seq(
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "view", ts("2024-01-01 11:00:00")),
      (2L, "view", ts("2024-01-01 10:00:00"))
    ).toDF("u", "t", "at")
    val rep = Events.funnel(two, "u", "t", "at", Seq("view", "view"))
      .as[(Int, String, Long, Long)].collect()
    assert(rep.map(_._3).toList === List(2L, 1L))
    intercept[IllegalArgumentException] {
      Events.funnel(ev, "u", "t", "at", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Events.funnel(ev, "u", "t", "at", Seq("view"),
        horizonSeconds = Some(0L))
    }
  }

  test("funnel leaves no persisted RDDs behind (rotating + final " +
      "release; the result is driver-built)") {
    val sc = spark.sparkContext
    val ev = Seq((1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 11:00:00"))).toDF("u", "t", "at")
    val before = sc.getPersistentRDDs.keySet
    Events.funnel(ev, "u", "t", "at", Seq("view", "click")).count()
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("retention hand case: Monday-start ISO weeks, per-week dedup, " +
      "gap weeks absent") {
    // 2024-01-01 is a Monday
    val ev = Seq(
      (1L, ts("2024-01-03 10:00:00")), // cohort 2024-01-01, offset 0
      (1L, ts("2024-01-10 10:00:00")), // offset 1
      (1L, ts("2024-01-11 10:00:00")), // offset 1 again: dedup
      (1L, ts("2024-01-22 10:00:00")), // offset 3 (week 2 skipped)
      (2L, ts("2024-01-09 10:00:00")), // cohort 2024-01-08, offset 0
      (3L, ts("2024-01-07 23:59:59")), // Sunday: cohort 2024-01-01
      (3L, ts("2024-01-08 00:00:00"))  // Monday: offset 1
    ).toDF("u", "at")
    val out = Events.retentionMatrix(ev, "u", "at")
      .as[(String, Long, Long)].collect().toSet
    assert(out === Set(
      ("2024-01-01", 0L, 2L), // users 1 and 3 in their first week
      ("2024-01-01", 1L, 2L), // both active the following week
      ("2024-01-01", 3L, 1L),
      ("2024-01-08", 0L, 1L)))
  }
}

class KmvSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Sketch

  test("below k distinct the synopsis is complete and the estimate " +
      "IS the exact count; synopsis is sorted, distinct, <= k") {
    val df = (1L to 40L).flatMap(v => Seq(("g", v), ("g", v)))
      .toDF("grp", "v") // every value twice
    val syn = Sketch.kmvSynopsis(df, "v", k = 64, Seq("grp"))
      .as[(String, Array[Long])].collect().head._2
    assert(syn.length == 40)
    assert(syn.toSeq == syn.toSeq.sorted && syn.distinct.length == 40)
    val est = Sketch.kmvDistinct(df, "v", k = 64, Seq("grp"))
      .as[(String, Long, Long)].collect().head
    assert(est._2 == 40L && est._3 == 40L)
  }

  test("duplicate insensitivity: a 10x-duplicated corpus yields the " +
      "identical synopsis and estimate") {
    val once = (1L to 500L).map(("g", _)).toDF("grp", "v")
    val many = (1L to 500L).flatMap(v =>
      Seq.fill(10)(("g", v))).toDF("grp", "v")
    val a = Sketch.kmvSynopsis(once, "v", 32, Seq("grp"))
      .as[(String, Array[Long])].collect().head._2
    val b = Sketch.kmvSynopsis(many, "v", 32, Seq("grp"))
      .as[(String, Array[Long])].collect().head._2
    assert(a.toSeq === b.toSeq)
  }

  test("merge algebra: merging two parts' synopses equals the union's " +
      "synopsis, including overlapping values") {
    val k = 32
    val pa = (1L to 500L).map(("g", _)).toDF("grp", "v")
    val pb = (300L to 800L).map(("g", _)).toDF("grp", "v")
    val union = pa.unionByName(pb)
    val merged = Sketch.mergeKmvSynopses(k, Seq("grp"),
        Sketch.kmvSynopsis(pa, "v", k, Seq("grp")),
        Sketch.kmvSynopsis(pb, "v", k, Seq("grp")))
      .as[(String, Array[Long])].collect().head._2
    val direct = Sketch.kmvSynopsis(union, "v", k, Seq("grp"))
      .as[(String, Array[Long])].collect().head._2
    assert(merged.toSeq === direct.toSeq)
  }

  test("range read path (q_kmv_range): per-day synopses filtered to " +
      "a subrange and merged globally equal the slice's direct " +
      "synopsis") {
    val k = 32
    val df = (1L to 900L).map(v => (v % 9, v)).toDF("day", "v")
    val inRange = col("day") >= 3 && col("day") < 7
    val perDay = Sketch.kmvSynopsis(df, "v", k, Seq("day"))
    val merged = Sketch.mergeKmvSynopses(k, Seq.empty,
        perDay.filter(inRange).select(col("kmv")))
      .as[Array[Long]].collect().head
    val direct = Sketch.kmvSynopsis(df.filter(inRange)
        .withColumn("g", lit(1)), "v", k, Seq("g"))
      .as[(Int, Array[Long])].collect().head._2
    assert(merged.toSeq === direct.toSeq)
  }

  test("rolling read path (q_kmv_rolling): fanned-merged day synopses " +
      "equal each window's direct synopsis estimate, including " +
      "trailing window ends past the last data day") {
    import java.sql.Date
    val k = 16
    val rows = for {
      (d, vs) <- Seq(1 -> (1L to 30L), 2 -> (20L to 50L),
        4 -> (10L to 15L))
      v <- vs
    } yield (Date.valueOf(s"2024-05-0$d"), v)
    val df = rows.toDF("day", "v")
    val perDay = Sketch.kmvSynopsis(df, "v", k, Seq("day"))
    val rolled = Sketch.kmvRollingDistinct(perDay, "day", 3, k)
      .as[(Date, Long)].collect().toMap
    // ALL fan-out window ends emitted: days 1..6 (4+2 trailing)
    assert(rolled.keySet ===
      (1 to 6).map(d => Date.valueOf(s"2024-05-0$d")).toSet)
    for (e <- 1 to 6) {
      val lo = math.max(e - 2, 1)
      val slice = df.filter(
        col("day") >= Date.valueOf(s"2024-05-0$lo") &&
          col("day") <= Date.valueOf(s"2024-05-0$e"))
      val direct = Sketch.kmvDistinct(slice.withColumn("g", lit(1)),
          "v", k, Seq("g"))
        .as[(Int, Long, Long)].collect().head._2
      assert(rolled(Date.valueOf(s"2024-05-0$e")) === direct,
        s"window end day $e diverges from its direct synopsis")
    }
  }

  test("estimate tracks the exact count within the k=64 error " +
      "envelope on 2000 distinct values, per group") {
    val df = (1L to 2000L).flatMap(v =>
      Seq(("a", v), ("b", v * 7 + 1))).toDF("grp", "v")
    val out = Sketch.kmvDistinct(df, "v", k = 64, Seq("grp"))
      .as[(String, Long, Long)].collect()
    assert(out.length == 2)
    out.foreach { case (g, est, exact) =>
      assert(exact == 2000L)
      // deterministic given the fixed hash; ~2/sqrt(k) = 25% is the
      // loose public bound, both groups land well inside it
      assert(math.abs(est - exact) <= 500, s"$g: est $est vs $exact")
    }
  }

  test("streaming fold over one-file micro-batches equals the direct " +
      "batch synopsis (order-independent lossless merge)") {
    val df = (1L to 900L).map(v => (v, v % 3, s"g${v % 2}"))
      .toDF("event_id", "v", "grp")
    val staged = java.nio.file.Files.createTempDirectory("graft_kmvs")
    try {
      (0 until 3).foreach(i =>
        df.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString))
      val streamed = graft.streaming.IngestStream.runKmvToBatch(spark,
          staged.toString, "v", k = 16, Seq("grp"),
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("v",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("grp",
              org.apache.spark.sql.types.StringType))),
          maxFilesPerTrigger = Some(1))
        .as[(String, Array[Long])].collect()
        .map(r => r._1 -> r._2.toSeq).toMap
      val direct = Sketch.kmvSynopsis(df, "v", 16, Seq("grp"))
        .as[(String, Array[Long])].collect()
        .map(r => r._1 -> r._2.toSeq).toMap
      assert(streamed === direct)
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("NULL values are ignored like count_distinct; k < 2 rejected") {
    val df = Seq(("g", Some(1L)), ("g", None), ("g", Some(2L)))
      .toDF("grp", "v")
    val est = Sketch.kmvDistinct(df, "v", k = 8, Seq("grp"))
      .as[(String, Long, Long)].collect().head
    assert(est._2 == 2L && est._3 == 2L)
    intercept[IllegalArgumentException] {
      Sketch.kmvDistinct(df, "v", k = 1, Seq("grp"))
    }
  }

  private type Overlap =
    (Long, Long, Long, Long, Long, Long, Long, Long)

  test("overlap below k is integer-exact: complete synopses make " +
      "inclusion-exclusion land on the true intersection and Jaccard") {
    val a = (1L to 30L).map(Tuple1(_)).toDF("v")
    val b = (21L to 50L).map(Tuple1(_)).toDF("v")
    val r = Sketch.kmvOverlap(a, b, "v", k = 64)
      .as[Overlap].collect().head
    assert(r === ((30L, 30L, 50L, 10L, 200L, 30L, 30L, 10L)))
  }

  test("identical corpora read Jaccard 1000; disjoint corpora clamp " +
      "the intersection at 0 (never negative) even above k") {
    val a = (1L to 30L).map(Tuple1(_)).toDF("v")
    val same = Sketch.kmvOverlap(a, a, "v", k = 64)
      .as[Overlap].collect().head
    assert(same._4 == 30L && same._5 == 1000L && same._8 == 30L)
    // above k on both sides, zero true overlap: floor estimates may
    // make a+b-u negative — the clamp is the contract
    val c = (1000L to 1400L).map(Tuple1(_)).toDF("v")
    val d = (5000L to 5400L).map(Tuple1(_)).toDF("v")
    val disj = Sketch.kmvOverlap(c, d, "v", k = 16)
      .as[Overlap].collect().head
    assert(disj._4 >= 0L && disj._5 >= 0L && disj._8 == 0L)
  }

  test("overlap matrix below k is integer-exact per pair, ordered " +
      "group_a < group_b, C(G,2) rows") {
    // g1 = 1..30, g2 = 21..50 (10 shared), g3 = 100..110 (disjoint)
    val df = ((1L to 30L).map(("g1", _)) ++ (21L to 50L).map(("g2", _))
      ++ (100L to 110L).map(("g3", _))).toDF("grp", "v")
    val out = Sketch.kmvOverlapMatrix(df, "grp", "v", k = 64)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7)))
      .toMap
    assert(out.keySet === Set(("g1", "g2"), ("g1", "g3"), ("g2", "g3")))
    assert(out(("g1", "g2")) === ((30L, 30L, 50L, 10L, 200L)))
    assert(out(("g1", "g3")) === ((30L, 11L, 41L, 0L, 0L)))
    assert(out(("g2", "g3")) === ((30L, 11L, 41L, 0L, 0L)))
  }

  test("above k, every matrix cell equals the pairwise kmvOverlap " +
      "report on the same slices — one algebra, two spellings") {
    val df = ((1L to 500L).map(("a", _)) ++ (300L to 900L).map(("b", _))
      ++ (800L to 1400L).map(("c", _))).toDF("grp", "v")
    val cells = Sketch.kmvOverlapMatrix(df, "grp", "v", k = 32)
      .as[(String, String, Long, Long, Long, Long, Long)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7)))
      .toMap
    for (Seq(ga, gb) <- Seq("a", "b", "c").combinations(2)) {
      val pair = Sketch.kmvOverlap(df.filter(col("grp") === ga),
          df.filter(col("grp") === gb), "v", k = 32)
        .select(col("est_a"), col("est_b"), col("est_union"),
          col("est_intersection"), col("jaccard_permille"))
        .as[(Long, Long, Long, Long, Long)].collect().head
      assert(cells((ga, gb)) === pair, s"pair ($ga, $gb)")
    }
  }

  test("overlap estimate tracks the exact intersection within the " +
      "k=64 envelope above k") {
    val a = (1L to 2000L).map(Tuple1(_)).toDF("v")
    val b = (1001L to 3000L).map(Tuple1(_)).toDF("v")
    val r = Sketch.kmvOverlap(a, b, "v", k = 64)
      .as[Overlap].collect().head
    assert(r._6 == 2000L && r._7 == 2000L && r._8 == 1000L)
    // union est error compounds through inclusion-exclusion; 3x the
    // single-sketch envelope is the loose deterministic bound here
    assert(math.abs(r._4 - 1000L) <= 750L, s"est_inter ${r._4}")
    assert(r._4 == r._1 + r._2 - r._3 || r._4 == 0L)
  }

  test("maxGroups guard: a group domain past the bound fails loudly " +
      "before the driver collect; at the bound it passes") {
    val df = (0L until 40L).map(i => (s"g$i", i)).toDF("grp", "v")
    val err = intercept[IllegalArgumentException] {
      Sketch.kmvOverlapMatrix(df, "grp", "v", k = 8, maxGroups = 10)
    }
    assert(err.getMessage.contains("more than 10 groups") &&
      err.getMessage.contains("join-probe"))
    // exactly at the bound: passes, C(40,2) rows
    assert(Sketch.kmvOverlapMatrix(df, "grp", "v", k = 8,
      maxGroups = 40).count() == 780L)
  }
}

class TriangleSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def counts(e: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.triangleCounts(e.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap

  test("K4: four triangles, every node in three") {
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    assert(counts(k4) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("bowtie: the shared corner counts both triangles") {
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L),
      (0L, 3L), (3L, 4L), (4L, 0L))
    assert(counts(e) ===
      Map(0L -> 2L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("triangle-free graphs yield no rows: a path and a star " +
      "(hub wedges exist but never close)") {
    assert(counts(Seq((0L, 1L), (1L, 2L), (2L, 3L))).isEmpty)
    assert(counts((1L to 20L).map(i => (0L, i))).isEmpty)
  }

  test("normalization: duplicates, reversals, and self-loops do not " +
      "change counts") {
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L),
      (0L, 2L), (0L, 0L), (2L, 2L), (0L, 1L))
    assert(counts(messy) === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("no persisted RDDs leak beyond the returned checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = Graph.triangleCounts(
      Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"),
      "src", "dst")
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size}")
    graft.core.Checkpoints.release(r)
  }
}

class RollingActiveSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand case at windowDays = 2: fan-out, per-window dedup, " +
      "absent idle days") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00")),
      (1L, ts("2024-01-01 17:00:00")), // same user+day: one pair
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-02 09:00:00"))
    ).toDF("u", "at")
    val out = Events.rollingActive(ev, "u", "at", windowDays = 2)
      .as[(String, Long)].collect().toMap
    // day1: u1 | day2: u1(from d1)+u2 | day3: u1+u2(from d2) | day4: u1
    assert(out === Map("2024-01-01" -> 1L, "2024-01-02" -> 2L,
      "2024-01-03" -> 2L, "2024-01-04" -> 1L))
  }

  test("windowDays = 1 is plain daily actives; a user active on " +
      "consecutive days counts once per report day at any window") {
    val ev = Seq(
      (1L, ts("2024-01-01 09:00:00")),
      (1L, ts("2024-01-02 09:00:00")),
      (2L, ts("2024-01-01 10:00:00"))
    ).toDF("u", "at")
    val daily = Events.rollingActive(ev, "u", "at", windowDays = 1)
      .as[(String, Long)].collect().toMap
    assert(daily === Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
    val w7 = Events.rollingActive(ev, "u", "at", windowDays = 7)
      .as[(String, Long)].collect().toMap
    // u1 is active on d1 and d2 but every report day counts it ONCE
    assert(w7("2024-01-02") == 2L && w7("2024-01-08") == 1L)
    assert(w7.values.max == 2L)
    intercept[IllegalArgumentException] {
      Events.rollingActive(ev, "u", "at", windowDays = 0)
    }
  }
}

class TransitionSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand case: per-user sequences, cross-user independence, " +
      "permille floor division") {
    val ev = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 1L),
      (1L, "b", ts("2024-01-01 11:00:00"), 2L),
      (1L, "a", ts("2024-01-01 12:00:00"), 3L),
      (2L, "a", ts("2024-01-01 10:30:00"), 4L), // no cross-user pair
      (2L, "c", ts("2024-01-01 11:30:00"), 5L),
      (3L, "a", ts("2024-01-01 09:00:00"), 6L) // singleton: no pairs
    ).toDF("u", "t", "at", "id")
    val out = Events.transitionMatrix(ev, "u", "t", "at", "id")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    // from a: a->b once, a->c once -> permille 500 each
    assert(out === Map(("a", "b") -> (1L, 500L),
      ("a", "c") -> (1L, 500L), ("b", "a") -> (1L, 1000L)))
  }

  test("simultaneous events order by the tiebreak column, not " +
      "arrival order") {
    val t0 = ts("2024-01-01 10:00:00")
    val ev = Seq((1L, "y", t0, 2L), (1L, "x", t0, 1L), (1L, "z", t0, 3L))
      .toDF("u", "t", "at", "id")
    val out = Events.transitionMatrix(ev, "u", "t", "at", "id")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2)).toSet
    assert(out === Set(("x", "y"), ("y", "z")))
  }
}

class TopPathsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand case: paths truncate at pathLen, shorter histories " +
      "contribute whole, top-k orders by (users desc, path)") {
    val ev = Seq(
      // two users sharing a>b>c (u1 has a 4th event — truncated away)
      (1L, "a", ts("2024-01-01 10:00:00"), 1L),
      (1L, "b", ts("2024-01-01 10:01:00"), 2L),
      (1L, "c", ts("2024-01-01 10:02:00"), 3L),
      (1L, "d", ts("2024-01-01 10:03:00"), 4L),
      (2L, "a", ts("2024-01-01 11:00:00"), 5L),
      (2L, "b", ts("2024-01-01 11:01:00"), 6L),
      (2L, "c", ts("2024-01-01 11:02:00"), 7L),
      // one user with a 2-step history: full shorter path
      (3L, "a", ts("2024-01-01 12:00:00"), 8L),
      (3L, "b", ts("2024-01-01 12:01:00"), 9L),
      // one singleton
      (4L, "z", ts("2024-01-01 13:00:00"), 10L)
    ).toDF("u", "t", "at", "id")
    val out = Events.topPaths(ev, "u", "t", "at", "id", pathLen = 3,
      k = 10).as[(String, Long)].collect().toSeq
    assert(out === Seq(("a>b>c", 2L), ("a>b", 1L), ("z", 1L)))
    // k caps the report at the most common paths
    val top1 = Events.topPaths(ev, "u", "t", "at", "id", 3, 1)
      .as[(String, Long)].collect().toSeq
    assert(top1 === Seq(("a>b>c", 2L)))
  }

  test("simultaneous first events order by the tiebreak; ties on " +
      "count break lexicographically by path") {
    val t0 = ts("2024-01-01 10:00:00")
    val ev = Seq(
      (1L, "y", t0, 2L), (1L, "x", t0, 1L), // x before y via tiebreak
      (2L, "p", t0, 3L), (2L, "q", t0, 4L)
    ).toDF("u", "t", "at", "id")
    val out = Events.topPaths(ev, "u", "t", "at", "id", pathLen = 2,
      k = 10).as[(String, Long)].collect().toSeq
    assert(out === Seq(("p>q", 1L), ("x>y", 1L)))
  }

  test("guards: pathLen and k must be positive") {
    val ev = Seq((1L, "a", ts("2024-01-01 10:00:00"), 1L))
      .toDF("u", "t", "at", "id")
    intercept[IllegalArgumentException] {
      Events.topPaths(ev, "u", "t", "at", "id", pathLen = 0, k = 1)
    }
    intercept[IllegalArgumentException] {
      Events.topPaths(ev, "u", "t", "at", "id", pathLen = 1, k = 0)
    }
  }
}

class KCoreSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def core(e: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graph.kCore(e.toDF("src", "dst"), "src", "dst", k)
      .as[(Long, Long)].collect().toMap

  test("deep peel: a pendant chain unravels one node per round while " +
      "the clique core survives with within-core degrees") {
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    val chain = Seq((3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val out = core(k4 ++ chain, k = 2)
    // node 3's degree drops back to 3 only after the whole chain peels
    assert(out === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
  }

  test("cycle survives k=2 exactly at degree 2; a tree has no 2-core") {
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L))
    assert(core(cyc, 2) ===
      Map(0L -> 2L, 1L -> 2L, 2L -> 2L, 3L -> 2L))
    val tree = Seq((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L))
    val empty = Graph.kCore(tree.toDF("src", "dst"), "src", "dst", 2)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq === Seq("node", "core_degree"))
  }

  test("already-stable graph returns immediately; duplicates, " +
      "reversals, and self-loops are normalized away") {
    assert(core(Seq((7L, 8L)), 1) === Map(7L -> 1L, 8L -> 1L))
    val messy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L),
      (0L, 0L), (0L, 1L))
    assert(core(messy, 2) === Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    intercept[IllegalArgumentException] {
      core(Seq((0L, 1L)), 0)
    }
  }

  test("no persisted RDDs leak beyond the returned core") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val r = Graph.kCore(
      Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst"),
      "src", "dst", 2)
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size}")
    graft.core.Checkpoints.release(r)
  }
}

class KmvBufferPropertySpec extends AnyFunSuite {
  import graft.ops.KmvBuffer

  test("randomized algebra: folding adds equals sorted-distinct-take-k, " +
      "and any split merges to the same synopsis (associativity + " +
      "dedup across parts)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small value domain FORCES duplicate and cross-part collisions
    val genVals = Gen.listOf(Gen.chooseNum(0L, 40L))
    val prop = Prop.forAll(genVals, Gen.chooseNum(2, 12),
        Gen.chooseNum(0, 100)) { (vs, k, cutPct) =>
      def fold(xs: Seq[Long]): Array[Long] =
        xs.foldLeft(Array.emptyLongArray)(KmvBuffer.add(_, _, k))
      val want = vs.distinct.sorted.take(k)
      val whole = fold(vs).toSeq
      val cut = vs.length * cutPct / 100
      val (a, b) = vs.splitAt(cut)
      val merged = KmvBuffer.merge(fold(a), fold(b), k).toSeq
      whole == want && merged == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("merge handles asymmetric and oversized inputs: empty sides " +
      "truncate to k, shared extremes dedup") {
    val a = Array(1L, 2L, 3L, 4L, 5L)
    assert(KmvBuffer.merge(a, Array.emptyLongArray, 3).toSeq ==
      Seq(1L, 2L, 3L))
    assert(KmvBuffer.merge(Array.emptyLongArray, a, 3).toSeq ==
      Seq(1L, 2L, 3L))
    assert(KmvBuffer.merge(a, a, 10).toSeq == a.toSeq)
  }
}

/** Randomized differential specs for the round-14 analytics family:
  * each operator vs an independent brute-force Scala reference, on
  * small domains that force ties, simultaneity, and deep peels. */
class AnalyticsPropertySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.scalacheck.{Gen, Prop, Test => SCTest}

  private def ts(s: Long) = new java.sql.Timestamp(s * 1000L)

  test("funnel vs brute force: random streams, duplicate timestamps, " +
      "with and without horizon") {
    val genEv = Gen.listOfN(30, for {
      u <- Gen.chooseNum(0L, 4L)
      t <- Gen.oneOf("a", "b", "c")
      at <- Gen.chooseNum(0L, 19L) // collisions likely
    } yield (u, t, at))
    val prop = Prop.forAll(genEv, Gen.option(Gen.chooseNum(2L, 8L))) {
      (evs, hOpt) =>
      val steps = Seq("a", "b", "c")
      // reference: greedy earliest completion per user
      def reach(u: Long): Int = {
        val mine = evs.filter(_._1 == u)
        val t1s = mine.filter(_._2 == "a").map(_._3)
        if (t1s.isEmpty) return 0
        val t1 = t1s.min
        var prev = t1
        var k = 1
        for (s <- steps.tail) {
          val cand = mine.filter(e => e._2 == s && e._3 > prev &&
            hOpt.forall(h => e._3 <= t1 + h)).map(_._3)
          if (cand.nonEmpty && k == steps.indexOf(s)) {
            prev = cand.min; k += 1
          }
        }
        k
      }
      val users = evs.map(_._1).distinct
      val want = steps.indices.map(i =>
        users.count(u => reach(u) >= i + 1).toLong)
      val df = evs.map { case (u, t, at) => (u, t, ts(at)) }
        .toDF("u", "t", "at")
      val got = graft.ops.Events.funnel(df, "u", "t", "at", steps,
          horizonSeconds = hOpt)
        .orderBy("step_idx").as[(Int, String, Long, Long)]
        .collect().map(_._3).toSeq
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("kCore vs brute-force peel on random multigraphs") {
    val genEdges = Gen.listOfN(20,
      Gen.zip(Gen.chooseNum(0L, 7L), Gen.chooseNum(0L, 7L)))
    val prop = Prop.forAll(genEdges, Gen.chooseNum(1, 3)) { (es, k) =>
      val und = es.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      var alive = und.flatMap(e => Seq(e._1, e._2)).distinct.toSet
      var changed = true
      while (changed && alive.nonEmpty) {
        val deg = und.filter(e => alive(e._1) && alive(e._2))
          .flatMap(e => Seq(e._1, e._2)).groupBy(identity)
          .view.mapValues(_.size.toLong).toMap
        val next = alive.filter(n => deg.getOrElse(n, 0L) >= k)
        changed = next != alive
        alive = next
      }
      val finalDeg = und.filter(e => alive(e._1) && alive(e._2))
        .flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val want = alive.map(n => n -> finalDeg.getOrElse(n, 0L)).toMap
      val got =
        if (es.isEmpty) Map.empty[Long, Long]
        else graft.ops.Graph.kCore(es.toDF("src", "dst"),
          "src", "dst", k).as[(Long, Long)].collect().toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("hits vs an exact integer reference on random graphs") {
    val genEdges = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 5L)))
      .map(_.filter(e => e._1 != e._2).distinct)
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(genEdges, Gen.chooseNum(1, 4)) { (es, iters) =>
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val scale = 100000L
      val r0 = scale / nodes.size
      var h = nodes.map(_ -> r0).toMap
      var a = nodes.map(_ -> r0).toMap
      for (_ <- 1 to iters) {
        val araw = nodes.map(v =>
          v -> es.filter(_._2 == v).map(e => h(e._1)).sum).toMap
        val hraw = nodes.map(u =>
          u -> es.filter(_._1 == u).map(e => a(e._2)).sum).toMap
        val ta = araw.values.sum
        val th = hraw.values.sum
        a = nodes.map(v => v -> (if (ta == 0) 0L
          else araw(v) * scale / ta)).toMap
        h = nodes.map(u => u -> (if (th == 0) 0L
          else hraw(u) * scale / th)).toMap
      }
      val got = graft.ops.Graph.hits(es.toDF("src", "dst"),
          "src", "dst", iterations = iters, scale = scale)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      got == nodes.map(n => n -> (h(n), a(n))).toMap
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }
}

class BenfordSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("hand case: exact dev arithmetic with absent digits folded") {
    // group g: values 1, 1, 2 -> c_1=2, c_2=1, n=3
    // dev = |2000-903| + |1000-528| + sum_{d>=3} b_d*3
    //     = 1097 + 472 + 3*(125+97+79+67+58+51+46) = 1569 + 1569
    val df = Seq(("g", 1.4), ("g", 1.9), ("g", 2.0)).toDF("s", "v")
    val out = graft.ops.Stats.benfordQc(df, Seq("s"), col("v"), 300L)
      .as[(String, Long, Long, Boolean)].collect().head
    assert(out === (("g", 3L, 3138L, false))) // 3138 > 2*300*3 = 1800
  }

  test("log-spread data passes the gate; uniform data fails it; " +
      "|value| < 1 and NULL are excluded; negative values count by " +
      "absolute part") {
    // Benford-ish: 2^k for k = 0..59 is the classic log-uniform set
    val ben = (0 until 60).map(k => ("ben", math.pow(2.0, k)))
    val uni = (1 to 600).map(i => ("uni", i.toDouble))
    val noise = Seq(("ben", 0.4), ("ben", Double.NaN * 0 + 0.0),
      ("uni", -250.0)) // -250 lands in uni's digit-2 bucket
    val df = (ben ++ uni ++ noise).toDF("s", "v")
    val out = graft.ops.Stats.benfordQc(df, Seq("s"), col("v"), 100L)
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("ben")._2 == 60L) // the two sub-1 rows excluded
    assert(out("ben")._4, s"2^k set should pass: dev=${out("ben")._3}")
    assert(out("uni")._2 == 601L) // -250 included via abs
    assert(!out("uni")._4, s"uniform should fail: dev=${out("uni")._3}")
  }

  test("contract checks: empty groupCols and bad tPermille rejected") {
    val df = Seq(("g", 1.0)).toDF("s", "v")
    intercept[IllegalArgumentException] {
      graft.ops.Stats.benfordQc(df, Seq.empty, col("v"), 100L)
    }
    intercept[IllegalArgumentException] {
      graft.ops.Stats.benfordQc(df, Seq("s"), col("v"), 1001L)
    }
  }
}

class FunnelStreamSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Stage events as one parquet file per slice, modification-time
    * ordered (the ScdSpec discipline), and run the bounded stream. */
  private def runStaged(ev: org.apache.spark.sql.DataFrame,
      slices: Seq[org.apache.spark.sql.Column],
      steps: Seq[String], horizon: Option[Long]): Map[Int, Long] = {
    val staged = java.nio.file.Files.createTempDirectory("graft_fspec")
    val tmp = java.nio.file.Files.createTempDirectory("graft_fspec_w")
    try {
      val base = System.currentTimeMillis()
      slices.zipWithIndex.foreach { case (keep, i) =>
        val d = tmp.resolve(s"b$i")
        ev.filter(keep).coalesce(1).write.parquet(d.toString)
        val part = java.nio.file.Files.list(d).toArray
          .map(_.toString).filter(_.endsWith(".parquet")).head
        val dst = staged.resolve(s"b$i.parquet")
        java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
        dst.toFile.setLastModified(
          base - (slices.length + 1 - i) * 60000L): Unit
      }
      graft.streaming.FunnelStream.runFunnelToBatch(spark,
          staged.toString, steps, horizon,
          maxFilesPerTrigger = Some(1))
        .as[(Int, String, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
    } finally {
      graft.core.Fs.deleteRecursively(staged)
      graft.core.Fs.deleteRecursively(tmp)
    }
  }

  test("cross-batch state continuation: a user entering the funnel in " +
      "batch 1 completes it in batch 3; per-batch isolation would " +
      "miss every multi-batch conversion") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 11:00:00"), "view"),
      (1L, ts("2024-01-02 10:00:00"), "click"),
      (1L, ts("2024-01-03 10:00:00"), "purchase"),
      (2L, ts("2024-01-03 11:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
      .select(col("user_id"), col("ts"), col("event_type"),
        lit(0L).as("event_id"), lit(0.0).as("value"),
        lit("").as("props"))
      .select("event_id", "ts", "user_id", "event_type", "value",
        "props")
    val slices = Seq(
      col("ts") < lit("2024-01-02").cast("timestamp"),
      col("ts") >= lit("2024-01-02").cast("timestamp") &&
        col("ts") < lit("2024-01-03").cast("timestamp"),
      col("ts") >= lit("2024-01-03").cast("timestamp"))
    val got = runStaged(ev, slices, Seq("view", "click", "purchase"),
      None)
    assert(got === Map(1 -> 2L, 2 -> 2L, 3 -> 1L))
  }

  test("time-split multi-batch fold equals the batch operator on the " +
      "sf0.001 events table, horizon on") {
    val ev = graft.core.Tables.df(spark, sf, "events")
    val slices = Seq(
      col("ts") < lit("2024-01-15").cast("timestamp"),
      col("ts") >= lit("2024-01-15").cast("timestamp"))
    val steps = Seq("view", "click", "purchase")
    val got = runStaged(ev, slices, steps, Some(604800L))
    val want = graft.ops.Events.funnel(ev, "user_id", "event_type",
        "ts", steps, horizonSeconds = Some(604800L))
      .as[(Int, String, Long, Long)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got === want)
  }
}

/** The out-of-order contract (r14 verdict #4): the plain funnel fold
  * documents per-user in-order cross-batch delivery as a
  * precondition; real event streams violate it. These specs feed
  * TIME-SHUFFLED micro-batches and pin that (a) the plain fold really
  * does diverge there — the precondition is load-bearing, not
  * paranoia — and (b) `stagesReordered`'s watermark-bounded
  * reordering buffer restores exact batch equality for any disorder
  * within the lateness window, while a straggler BEYOND the window is
  * dropped deterministically (the standard watermark contract).
  */
class FunnelReorderSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  private val steps = Seq("view", "click", "purchase")

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def toEventsDf(rows: Seq[(Long, java.sql.Timestamp, String)]) =
    rows.toDF("user_id", "ts", "event_type")
      .select(lit(0L).as("event_id"), col("ts"), col("user_id"),
        col("event_type"), lit(0.0).as("value"), lit("").as("props"))

  /** Stage each slice as one file, mtime-ordered, in a fresh dir. */
  private def staged(ev: org.apache.spark.sql.DataFrame,
      slices: Seq[org.apache.spark.sql.Column]): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_oospec")
    val tmp = java.nio.file.Files.createTempDirectory("graft_oospec_w")
    val base = System.currentTimeMillis()
    slices.zipWithIndex.foreach { case (keep, i) =>
      val d = tmp.resolve(s"b$i")
      ev.filter(keep).coalesce(1).write.parquet(d.toString)
      val part = java.nio.file.Files.list(d).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(
        base - (slices.length + 2 - i) * 60000L): Unit
    }
    graft.core.Fs.deleteRecursively(tmp)
    dir
  }

  private def report(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
    df.as[(Int, String, Long, Long)].collect().map(r => r._1 -> r._3).toMap

  // u1's click is delivered one batch AFTER its purchase (disorder
  // 15 min < the 20 min lateness); u2 arrives in order; u3 only views
  private val fixture = Seq(
    (1L, ts("2024-01-01 10:00:00"), "view"),
    (2L, ts("2024-01-01 10:01:00"), "view"),
    (3L, ts("2024-01-01 10:03:00"), "view"),
    (1L, ts("2024-01-01 10:20:00"), "purchase"),
    (2L, ts("2024-01-01 10:12:00"), "click"),
    (1L, ts("2024-01-01 10:05:00"), "click"),
    (2L, ts("2024-01-01 10:22:00"), "purchase"))
  private val slices = Seq(
    col("ts") <= lit("2024-01-01 10:03:00").cast("timestamp"),
    col("ts").isin(ts("2024-01-01 10:20:00"), ts("2024-01-01 10:12:00")),
    col("ts").isin(ts("2024-01-01 10:05:00"), ts("2024-01-01 10:22:00")))

  test("the in-order fold's precondition is load-bearing: shuffled " +
      "delivery under-advances; the reordering buffer restores exact " +
      "batch equality") {
    val ev = toEventsDf(fixture)
    val want = report(graft.ops.Events.funnel(
      ev, "user_id", "event_type", "ts", steps))
    assert(want === Map(1 -> 3L, 2 -> 2L, 3 -> 2L))
    val dir = staged(ev, slices)
    try {
      val plain = report(graft.streaming.FunnelStream.runFunnelToBatch(
        spark, dir.toString, steps, None, maxFilesPerTrigger = Some(1)))
      // u1's late-delivered click lands AFTER its purchase was seen:
      // the plain machine can reach click (stage 2) but never credits
      // the purchase it already consumed-and-ignored
      assert(plain === Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
      val reordered = report(
        graft.streaming.FunnelStream.runFunnelToBatchReordered(
          spark, dir.toString, steps, None, latenessSeconds = 1200L,
          maxFilesPerTrigger = Some(1)))
      assert(reordered === want)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("a straggler beyond the lateness window is dropped " +
      "deterministically, never mis-inserted below the fold line") {
    // u4's view is delivered in batch 3 with 40 min of disorder —
    // past the 20 min window, so it must vanish: the result equals
    // the batch operator run WITHOUT the straggler, and never the
    // with-straggler report (which would credit u4 a first step)
    val straggler = (4L, ts("2024-01-01 09:40:00"), "view")
    val ev = toEventsDf(fixture :+ straggler)
    // u4 rides ONLY the last batch (slice 0's ts predicate would
    // otherwise catch its 09:40 event too and deliver it twice)
    val slices4 = Seq(slices(0) && col("user_id") =!= 4L, slices(1),
      slices(2) || col("user_id") === 4L)
    val dir = staged(ev, slices4)
    try {
      val reordered = report(
        graft.streaming.FunnelStream.runFunnelToBatchReordered(
          spark, dir.toString, steps, None, latenessSeconds = 1200L,
          maxFilesPerTrigger = Some(1)))
      assert(reordered === Map(1 -> 3L, 2 -> 2L, 3 -> 2L))
      val withStraggler = report(graft.ops.Events.funnel(
        ev, "user_id", "event_type", "ts", steps))
      assert(withStraggler === Map(1 -> 4L, 2 -> 2L, 3 -> 2L))
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("adversarial round-robin staging of the sf0.001 events table " +
      "equals the batch operator, horizon on") {
    val ev = graft.core.Tables.df(spark, sf, "events")
    // event_id % 4 staging scatters every user's history across all
    // four batches in arbitrary time order; lateness = the full table
    // span, so everything is within-window disorder
    val slices = (0 until 4).map(i => col("event_id") % 4 === i)
    val dir = staged(ev, slices)
    try {
      val want = report(graft.ops.Events.funnel(ev, "user_id",
        "event_type", "ts", steps, horizonSeconds = Some(604800L)))
      val got = report(
        graft.streaming.FunnelStream.runFunnelToBatchReordered(
          spark, dir.toString, steps, Some(604800L),
          latenessSeconds = 40L * 86400L, maxFilesPerTrigger = Some(1)))
      assert(got === want)
      assert(want(1) > 0L) // non-vacuous: the funnel is populated
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("trigger-size invariance: 1, 4, and all-12 files per " +
      "micro-batch produce the identical report; the per-batch floor " +
      "amortizes instead of multiplying") {
    // the 100 TB streaming claim is "few LARGE micro-batches": the
    // maxFilesPerTrigger=1 spelling in the catalog maximizes batch
    // COUNT to exercise cross-batch state; this pins that the fold is
    // invariant in how files group into triggers (12 -> 3 -> 1
    // batches), so production may run large triggers and pay the
    // micro-batch scheduling floor once per big batch. Walls measured
    // at sf0.1 live in SCALE.md (timing asserts are box noise).
    val ev = graft.core.Tables.df(spark, sf, "events")
    val slices = (0 until 12).map(i => col("event_id") % 12 === i)
    val dir = staged(ev, slices)
    try {
      val want = report(graft.ops.Events.funnel(ev, "user_id",
        "event_type", "ts", steps, horizonSeconds = Some(604800L)))
      val reports = Seq(Some(1), Some(4), None).map(trigger =>
        report(graft.streaming.FunnelStream.runFunnelToBatchReordered(
          spark, dir.toString, steps, Some(604800L),
          latenessSeconds = 40L * 86400L,
          maxFilesPerTrigger = trigger)))
      assert(reports.forall(_ === want) && want(1) > 0L)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("PROPERTY: any batch assignment of random events, folded " +
      "under full-span lateness, equals the batch funnel") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val types = Seq("view", "click", "purchase")
    val genCase = Gen.listOfN(25, for {
      u <- Gen.chooseNum(0L, 3L)
      sec <- Gen.chooseNum(0L, 7200L)
      t <- Gen.oneOf(types)
      b <- Gen.chooseNum(0, 2)
    } yield (u, sec, t, b))
    val base = 1704067200000L
    val prop = Prop.forAll(genCase) { evs =>
      val rows = evs.zipWithIndex.map { case ((u, sec, t, _), i) =>
        (u, new java.sql.Timestamp(base + sec * 1000L), t, i.toLong)
      }
      val ev = rows.toDF("user_id", "ts", "event_type", "idx")
        .select(col("idx").as("event_id"), col("ts"), col("user_id"),
          col("event_type"), lit(0.0).as("value"), lit("").as("props"))
      val want = report(graft.ops.Events.funnel(
        ev, "user_id", "event_type", "ts", steps))
      val byBatch = (0 until 3).map(b =>
        evs.zipWithIndex.collect {
          case ((_, _, _, `b`), i) => i.toLong
        })
      val slices = byBatch.map(ids =>
        if (ids.isEmpty) lit(false) else col("event_id").isin(ids: _*))
      val dir = staged(ev, slices)
      try {
        val got = report(
          graft.streaming.FunnelStream.runFunnelToBatchReordered(
            spark, dir.toString, steps, None,
            latenessSeconds = 7300L, maxFilesPerTrigger = Some(1)))
        got == want
      } finally graft.core.Fs.deleteRecursively(dir)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}

class FunnelDurationsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand case: floor-second durations of completers only, exact " +
      "type-1 quantiles; horizon excludes a would-be completer") {
    val ev = Seq(
      // completer in 90 min = 5400s
      (1L, "view", ts("2024-01-01 10:00:00")),
      (1L, "click", ts("2024-01-01 10:30:00")),
      (1L, "purchase", ts("2024-01-01 11:30:00")),
      // completer in 10s
      (2L, "view", ts("2024-01-02 09:00:00")),
      (2L, "click", ts("2024-01-02 09:00:05")),
      (2L, "purchase", ts("2024-01-02 09:00:10")),
      // non-completer (no purchase): excluded
      (3L, "view", ts("2024-01-03 09:00:00")),
      (3L, "click", ts("2024-01-03 09:10:00")),
      // purchase beyond the 2h horizon: excluded
      (4L, "view", ts("2024-01-04 09:00:00")),
      (4L, "click", ts("2024-01-04 09:10:00")),
      (4L, "purchase", ts("2024-01-04 11:30:00"))
    ).toDF("u", "t", "at")
    val out = Events.funnelDurations(ev, "u", "t", "at",
        Seq("view", "click", "purchase"),
        permilles = Seq(500, 1000), horizonSeconds = Some(7200L))
      .as[(Long, Long)].collect().toMap
    // durations {10, 5400}: p500 -> rank 1 -> 10, p1000 -> 5400
    assert(out === Map(500L -> 10L, 1000L -> 5400L))
  }

  test("no completers yields an empty frame; fewer than two steps " +
      "rejected") {
    val ev = Seq((1L, "view", ts("2024-01-01 10:00:00")))
      .toDF("u", "t", "at")
    val out = Events.funnelDurations(ev, "u", "t", "at",
      Seq("view", "click"), permilles = Seq(500))
    assert(out.count() == 0)
    intercept[IllegalArgumentException] {
      Events.funnelDurations(ev, "u", "t", "at", Seq("view"),
        permilles = Seq(500))
    }
  }
}

class LinearAttributionSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.ops.Events

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("hand case: equal split with the remainder on the latest " +
      "touch; window excludes stale touches; per-conversion totals " +
      "are exactly 1000") {
    val ev = Seq(
      // purchase at 12:00 with 3 in-window touches: 333/333/334
      (1L, 10L, "view", ts("2024-01-01 10:00:00")),
      (2L, 10L, "click", ts("2024-01-01 11:00:00")),
      (3L, 10L, "view", ts("2024-01-01 11:30:00")), // latest: +1
      (4L, 10L, "purchase", ts("2024-01-01 12:00:00")),
      // out-of-window touch (25h before): no credit
      (5L, 20L, "view", ts("2024-01-01 09:00:00")),
      (6L, 20L, "purchase", ts("2024-01-02 10:30:00")),
      // conversion with ONE touch: full 1000
      (7L, 30L, "click", ts("2024-01-03 10:00:00")),
      (8L, 30L, "purchase", ts("2024-01-03 10:05:00"))
    ).toDF("id", "u", "t", "at")
    val out = Events.linearAttribution(ev, "id", "u", "t", "at",
        "purchase", Seq("view", "click"), windowSeconds = 86400L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // view: 333 + 334 = 667 on 1 conversion, 2 touches
    // click: 333 on purchase A + 1000 on purchase B
    assert(out === Map(
      "view" -> (667L, 1L, 2L),
      "click" -> (1333L, 2L, 2L)))
  }

  test("equal-timestamp touches: the remainder goes to the highest " +
      "event_id deterministically; conversion type may not be a " +
      "touch type") {
    val t0 = ts("2024-01-01 10:00:00")
    val ev = Seq(
      (1L, 5L, "view", t0), (2L, 5L, "view", t0), (3L, 5L, "view", t0),
      (9L, 5L, "purchase", ts("2024-01-01 11:00:00"))
    ).toDF("id", "u", "t", "at")
    val out = Events.linearAttribution(ev, "id", "u", "t", "at",
        "purchase", Seq("view"), 86400L)
      .as[(String, Long, Long, Long)].collect().head
    assert(out === (("view", 1000L, 1L, 3L)))
    intercept[IllegalArgumentException] {
      Events.linearAttribution(ev, "id", "u", "t", "at",
        "purchase", Seq("purchase", "view"), 86400L)
    }
  }
}

/** Second randomized batch: the remaining event operators vs
  * brute-force references (dates straddle ISO-week and month
  * boundaries by construction). */
class EventsPropertySpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.scalacheck.{Gen, Prop, Test => SCTest}

  // seconds offset into January 2024 (starts Monday 2024-01-01)
  private def ts(sec: Long) =
    new java.sql.Timestamp(1704067200000L + sec * 1000L)
  private def day(sec: Long): java.time.LocalDate =
    java.time.LocalDate.of(2024, 1, 1).plusDays(sec / 86400L)

  test("retentionMatrix vs brute force over random sparse activity") {
    val genEv = Gen.listOfN(40, for {
      u <- Gen.chooseNum(0L, 5L)
      s <- Gen.chooseNum(0L, 86400L * 34 - 1) // spills into February
    } yield (u, s))
    val prop = Prop.forAll(genEv) { evs =>
      val want = {
        val first = evs.groupBy(_._1).view.mapValues(_.map(_._2).min)
        val cohortOf = first.mapValues(s =>
          day(s).`with`(java.time.DayOfWeek.MONDAY)).toMap
        evs.map { case (u, s) =>
          val cw = cohortOf(u)
          val ww = day(s).`with`(java.time.DayOfWeek.MONDAY)
          (cw.toString,
            java.time.temporal.ChronoUnit.DAYS.between(cw, ww) / 7, u)
        }.distinct.groupBy(p => (p._1, p._2))
          .view.mapValues(_.size.toLong).toMap
      }
      val got = graft.ops.Events.retentionMatrix(
          evs.map { case (u, s) => (u, ts(s)) }.toDF("u", "at"),
          "u", "at")
        .as[(String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("rollingActive vs brute force at random window sizes") {
    val genEv = Gen.listOfN(30, for {
      u <- Gen.chooseNum(0L, 4L)
      s <- Gen.chooseNum(0L, 86400L * 12 - 1)
    } yield (u, s))
    val prop = Prop.forAll(genEv, Gen.chooseNum(1, 5)) { (evs, w) =>
      val pairs = evs.map { case (u, s) => (day(s), u) }.distinct
      val want = pairs
        .flatMap { case (d, u) =>
          (0 until w).map(o => (d.plusDays(o).toString, u)) }
        .distinct.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val got = graft.ops.Events.rollingActive(
          evs.map { case (u, s) => (u, ts(s)) }.toDF("u", "at"),
          "u", "at", windowDays = w)
        .as[(String, Long)].collect().toMap
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("transitionMatrix vs brute force with heavy timestamp " +
      "collisions (tiebreak column decides)") {
    val genEv = Gen.listOfN(24, for {
      u <- Gen.chooseNum(0L, 2L)
      t <- Gen.oneOf("a", "b", "c")
      s <- Gen.chooseNum(0L, 5L) // few values: many collisions
    } yield (u, t, s))
    val prop = Prop.forAll(genEv) { evs0 =>
      val evs = evs0.zipWithIndex
        .map { case ((u, t, s), i) => (u, t, s, i.toLong) }
      val want = evs.groupBy(_._1).values.flatMap { seq =>
        val ordered = seq.sortBy(e => (e._3, e._4)).map(_._2)
        ordered.zip(ordered.drop(1))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wantNorm = want.map { case ((f, t), c) =>
        val n = want.collect { case ((`f`, _), v) => v }.sum
        (f, t) -> ((c, c * 1000L / n))
      }
      val got = graft.ops.Events.transitionMatrix(
          evs.map { case (u, t, s, i) => (u, t, ts(s), i) }
            .toDF("u", "t", "at", "id"),
          "u", "t", "at", "id")
        .as[(String, String, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
      got == wantNorm
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }
}

/** The SCD2 half of the out-of-order contract (r14 verdict #4): the
  * plain streaming fold stamps effective dates by ARRIVAL order, so
  * shuffled delivery corrupts the history; `runScd2ToBatchReordered`
  * lets each update carry its own effective date and folds strictly
  * by date behind a lateness watermark. Pinned here: within-window
  * disorder yields the exact in-date-order rebuild; beyond-window
  * stragglers are dropped deterministically (lateness 0 is the
  * everything-is-a-straggler control).
  */
class Scd2ReorderSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import org.apache.spark.sql.types.{StringType, StructField, StructType}

  private type Version = (String, String, String, Option[String], Boolean)

  private val initial = Seq(
    ("A", "a1", "2024-01-01", null.asInstanceOf[String], true),
    ("B", "b1", "2024-01-01", null.asInstanceOf[String], true),
    ("C", "c1", "2024-01-01", null.asInstanceOf[String], true),
    ("D", "d1", "2024-01-01", null.asInstanceOf[String], true))
  private def initialDf = initial
    .toDF("k", "attr", "valid_from", "valid_to", "is_current")

  private val updSchema = StructType(Seq(StructField("k", StringType),
    StructField("attr", StringType), StructField("eff", StringType)))

  // delivery order (files) vs effective order (eff): A's 01-02 update
  // arrives AFTER its 01-04 one, C's 01-03 after B's… — max disorder
  // 2 days, inside the 3-day lateness window
  private val files = Seq(
    Seq(("A", "a3", "2024-01-04"), ("C", "c2", "2024-01-02")),
    Seq(("A", "a2", "2024-01-02"), ("B", "b2", "2024-01-03")),
    Seq(("C", "c3", "2024-01-03"), ("D", "d2", "2024-01-05")))

  private def stage(fs: Seq[Seq[(String, String, String)]]): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_scdoo")
    val tmp = java.nio.file.Files.createTempDirectory("graft_scdoo_w")
    val base = System.currentTimeMillis()
    fs.zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("k", "attr", "eff").coalesce(1)
        .write.parquet(tmp.resolve(s"b$i").toString)
      val part = java.nio.file.Files.list(tmp.resolve(s"b$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(base - (fs.length + 1 - i) * 60000L): Unit
    }
    graft.core.Fs.deleteRecursively(tmp)
    dir
  }

  /** The in-date-order batch rebuild: one scd2Merge per distinct
    * effective date, ascending — the reference the fold must hit. */
  private def chainRef(upd: Seq[(String, String, String)]): Set[Version] =
    upd.map(_._3).distinct.sorted
      .foldLeft(initialDf) { (cur, d) =>
        Scd.scd2Merge(cur,
          upd.filter(_._3 == d).map(u => (u._1, u._2)).toDF("k", "attr"),
          "k", Seq("attr"), d)
      }.as[Version].collect().toSet

  private def run(dir: java.nio.file.Path, lateness: Int): Set[Version] =
    graft.streaming.IngestStream.runScd2ToBatchReordered(spark,
        dir.toString, initialDf, "k", Seq("attr"), "eff", lateness,
        updSchema, maxFilesPerTrigger = Some(1))
      .as[Version].collect().toSet

  test("within-window disorder folds into the exact in-date-order " +
      "rebuild: version chains link by effective date, not arrival") {
    val dir = stage(files)
    try {
      val got = run(dir, lateness = 3)
      val want = chainRef(files.flatten)
      assert(got === want)
      // A's chain is effective-date-ordered despite reversed arrival:
      // a1 closed 01-02, a2 closed 01-04, a3 open
      assert(got.filter(_._1 == "A") === Set[Version](
        ("A", "a1", "2024-01-01", Some("2024-01-02"), false),
        ("A", "a2", "2024-01-02", Some("2024-01-04"), false),
        ("A", "a3", "2024-01-04", None, true)))
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("lateness 0 drops every under-the-line straggler " +
      "deterministically — the on-time subset's rebuild, exactly") {
    val dir = stage(files)
    try {
      val got = run(dir, lateness = 0)
      // batch 0 merges through 01-04 immediately, so the later
      // arrivals dated 01-02/01-03 are beyond-window stragglers
      val onTime = Seq(("A", "a3", "2024-01-04"),
        ("C", "c2", "2024-01-02"), ("D", "d2", "2024-01-05"))
      assert(got === chainRef(onTime))
      assert(got !== chainRef(files.flatten))
    } finally graft.core.Fs.deleteRecursively(dir)
  }
}

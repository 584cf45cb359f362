package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Decontaminate, Dedup, Pack}

class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSession._

  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("stars, chains, and singleton pairs resolve to min-id components") {
    val got = components(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),     // chain 1-2-3-4
      (10L, 11L), (10L, 12L), (10L, 13L), // star at 10
      (20L, 21L)))                        // simple pair
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("a long chain converges (pointer jumping, not diameter rounds)") {
    // diameter 60 ≫ maxIter 25: plain neighbour propagation would fail
    val chain = (0L until 60L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == 61 && got.values.forall(_ == 0L))
  }

  test("no persisted RDDs leak beyond the returned labels") {
    import spark.implicits._
    val sc = spark.sparkContext
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val before = sc.getPersistentRDDs.keySet
    val r = Dedup.connectedComponents(chain, "a", "b")
    r.count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"leaked ${leaked.size}")
    graft.core.Checkpoints.release(r)
    // the did-not-converge failure releases everything it made
    val before2 = sc.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "a", "b", maxIter = 1)
    }
    assert((sc.getPersistentRDDs.keySet -- before2).isEmpty)
  }

  test("representatives keep one doc per cluster plus all unpaired docs") {
    import spark.implicits._
    val docs = (1L to 10L).map(i => (i, s"d$i")).toDF("id", "t")
    // chain 1-2-3, pair 5-6; 4,7..10 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val kept = Dedup.representatives(docs, pairs, "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L, 9L, 10L))
  }

  test("two rings merge when bridged") {
    val ringA = (0L until 5L).map(i => (i, (i + 1) % 5))
    val ringB = (10L until 15L).map(i => (i, 10L + (i + 1 - 10) % 5))
    assert(components(ringA ++ ringB).values.toSet == Set(0L, 10L))
    assert(components(ringA ++ ringB :+ (4L, 12L)).values.toSet == Set(0L))
  }
}

class DecontaminateSpec extends AnyFunSuite {
  import TestSession._

  test("train docs sharing an n-gram with eval are flagged; others kept") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "an entirely different sentence with no overlap at all"),
      (3L, "short doc"), // < n tokens → no grams → never flagged
      (4L, "ends with quick brown fox jumps")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (100L, "they saw the quick brown fox jumps away")
    ).toDF("doc_id", "text")

    val flags = Decontaminate.flag(train, eval, "doc_id", "text", n = 4)
      .select("doc_id", "contaminated")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> false, 4L -> true))

    val kept = Decontaminate.clean(train, eval, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
    // clean preserves the input schema
    assert(Decontaminate.clean(train, eval, "doc_id", "text", 4)
      .columns.toSeq == Seq("doc_id", "text"))

    // graded overlap, hand-computed: doc 1 has 6 distinct 4-grams of
    // which 2 appear in eval; doc 4 has 3 with 1 hit; doc 2 has 6 with
    // 0; doc 3 (< 4 tokens) has no gram evidence → NULL, not 0
    val scores = Decontaminate.overlapScore(train, eval,
        "doc_id", "text", n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(scores == Map(
      1L -> ((6L, 2L, Some(2.0 / 6.0))),
      2L -> ((6L, 0L, Some(0.0))),
      3L -> ((0L, 0L, None)),
      4L -> ((3L, 1L, Some(1.0 / 3.0)))))
  }
}

class BloomDecontaminateSpec extends AnyFunSuite {
  import TestSession._

  test("bloom flag ⊇ exact flag (no false negatives), and at a roomy " +
      "mBits the two agree exactly on the sf corpus") {
    val docs = graft.core.Tables.df(spark, sf, "documents")
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val ev = docs.filter(col("doc_id") % 7 === 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "contaminated").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val exact = toMap(Decontaminate.flag(train, ev, "doc_id", "text", 4))
    // tight bitset: superset property must hold regardless of FP rate
    val tight = toMap(Decontaminate.bloomFlag(train, ev,
      "doc_id", "text", 4, mBits = 1 << 14, k = 3))
    assert(exact.keySet == tight.keySet)
    assert(exact.forall { case (id, c) => !c || tight(id) },
      "a truly contaminated doc escaped the bloom filter")
    // roomy bitset: FP probability ≈ occupancy³ ≈ 1e-9 per gram here —
    // any disagreement would be a probe-arithmetic bug, not chance
    val roomy = toMap(Decontaminate.bloomFlag(train, ev,
      "doc_id", "text", 4, mBits = 1 << 24, k = 3))
    assert(roomy == exact)
  }

  test("probe plan is map-only: no join, no exchange, no generate") {
    val docs = graft.core.Tables.df(spark, sf, "documents")
    val flagged = Decontaminate.bloomFlag(
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text", 4)
    val plan = flagged.queryExecution.executedPlan.toString
    Seq("Exchange", "Join", "Generate").foreach(op =>
      assert(!plan.contains(op), s"probe plan must not $op:\n$plan"))
  }

  test("edge contracts: short, null-text docs and empty eval sets " +
      "never flag (false, not NULL)") {
    import spark.implicits._
    val train = Seq((1L, "too short"), (2L, "a b c d e f g"),
        (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val evEmpty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Decontaminate.bloomFlag(train, evEmpty, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // null text must read false like the other no-evidence cases —
    // exists() over a null shingle array is NULL, and a NULL flag
    // would drop the doc from BOTH sides of a contaminated/clean
    // split downstream
    assert(got == Map(1L -> false, 2L -> false, 3L -> false))
  }

  test("BloomProbe.contains: every inserted hash is found; positions " +
      "are k distinct cells") {
    val mBits = 1 << 12
    val hashes = Array.tabulate(200)(i => (i * 2654435761L).toInt + 17)
    val bits = new Array[Long](mBits >>> 6)
    hashes.foreach(h => graft.ops.BloomProbe.positions(h, mBits, 3)
      .foreach(p => bits((p >>> 6).toInt) |= (1L << p)))
    assert(hashes.forall(h =>
      graft.ops.BloomProbe.contains(bits, mBits, 3, h)))
    // odd-stride double hashing ⇒ the 3 positions are pairwise distinct
    hashes.foreach { h =>
      val ps = graft.ops.BloomProbe.positions(h, mBits, 3)
      assert(ps.distinct.length == 3, s"degenerate positions for $h")
    }
  }
}

class ChunkSpec extends AnyFunSuite {
  import TestSession._

  test("chunks cover the doc exactly; stride reassembles the original") {
    import spark.implicits._
    val text = ('a' to 'z').mkString * 10 // 260 chars
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = Pack.chunkDocs(docs, "doc_id", "text", 100, 40)
      .collect().map(r => r.getLong(1) -> r.getString(2)).sortBy(_._1)
    // stride 60: starts 0,60,120,180 → 4 chunks, last is 80 chars
    assert(chunks.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(chunks.init.forall(_._2.length == 100))
    assert(chunks.last._2.length == 80)
    // dropping the 40-char overlap from chunks 1.. reassembles the doc
    val rebuilt = chunks.head._2 + chunks.tail.map(_._2.drop(40)).mkString
    assert(rebuilt == text)
  }

  test("edge cases: short doc, exact fit, one-past, empty, null") {
    import spark.implicits._
    val docs = Seq(
      (1L, Option("x" * 50)),   // < max → 1 chunk
      (2L, Option("x" * 100)),  // == max → 1 chunk
      (3L, Option("x" * 101)),  // one past → 2 chunks
      (4L, Option("")),         // empty → none
      (5L, Option.empty[String]) // null → none
    ).toDF("doc_id", "text")
    val got = Pack.chunkDocs(docs, "doc_id", "text", 100, 40)
      .groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L))
  }
}

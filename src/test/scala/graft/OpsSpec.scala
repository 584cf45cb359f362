package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{GraftSession, Tables}
import graft.ops.{Dedup, Similarity}
import graft.queries.DedupQueries
import graft.sources.EvmFixtures
import graft.verify.Verifier

/** Shared local session for operator suites (one per JVM — suites reuse). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // bucketed-index specs saveAsTable; keep the warehouse out of
      // the repo working tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_spec_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

class HashBucketSpec extends AnyFunSuite {
  import TestSession._

  test("writer and reader derive identical buckets (pruning consistency)") {
    // the parse path must re-derive the same bucket the enrich writer
    // materialized, or partition pruning silently reads nothing
    val ev = Tables.df(spark, sf, "events")
    val enriched = graft.enrich.Enrich.logs(
      EvmFixtures.logs(ev), EvmFixtures.blocksForLogs(ev))
    val reDerived = enriched
      .withColumn("rb", graft.functions.hashBucket(col("address")))
      .filter(col("rb") =!= col("address_hash"))
    assert(reDerived.count() == 0)
  }

  test("buckets are within [0, 10)") {
    val ev = Tables.df(spark, sf, "events")
    val enriched = graft.enrich.Enrich.logs(
      EvmFixtures.logs(ev), EvmFixtures.blocksForLogs(ev))
    val bad = enriched.filter(
      col("address_hash") < 0 || col("address_hash") >= 10 ||
        col("selector_hash") < 0 || col("selector_hash") >= 10)
    assert(bad.count() == 0)
  }
}

class DedupSpec extends AnyFunSuite {
  import TestSession._

  test("minhash LSH finds near-duplicates, not only exact ones") {
    val c = DedupQueries.corpus(spark, sf)
    val cands = Dedup.minhashCandidates(c, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // near-dup pairs: (d, d+200000) for d%10==5 — text differs by 3
    // appended tokens, jaccard ≈ (n-3)/(n+3) ≈ 0.9 → most must surface
    val nearIds = (0 until 500).filter(_ % 10 == 5).map(_.toLong)
    val found = nearIds.count(d => cands.contains((d, d + 200000)))
    assert(found >= nearIds.size / 2,
      s"only $found of ${nearIds.size} near-dup pairs surfaced")
  }

  test("incremental dedup: batch-internal firsts, seen copies dropped") {
    import spark.implicits._
    val seen = Seq("already ingested text").toDF("t")
      .select(md5(col("t").cast("binary")).as("text_md5"))
    val batch = Seq(
      (10L, "already ingested text"), // exact copy of the corpus → drop
      (11L, "novel text a"),          // new → keep
      (13L, "novel text a"),          // batch-internal dup → loses to 11
      (12L, "novel text b")           // new → keep
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, seen, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(11L, 12L))
  }

  test("span novelty: copies score 0, novel text 1, splices the " +
      "exact fraction, short docs NULL") {
    import spark.implicits._
    val a = (1 to 12).map(i => s"a$i").mkString(" ") // 12 tokens
    val b = (1 to 12).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, a),                                // fully novel → 1.0
      (2L, a),                                // exact copy → 0.0
      (3L, b + " " + a),                      // b-half novel, a-half not
      (4L, "too short now"),                  // 3 < w tokens → NULL
      (5L, null.asInstanceOf[String])         // null text → NULL row,
                                              // not dropped (the
                                              // oracle carries it too)
    ).toDF("doc_id", "text")
    val got = Dedup.spanNovelty(docs, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got.size == 5)
    assert(got(1L) == ((Some(9L), Some(1.0))))
    assert(got(2L) == ((Some(9L), Some(0.0))))
    // doc 3: 21 windows; novel = b-internal (9) + the 3 bridge
    // windows mixing b/a tokens; the 9 pure-a windows first occurred
    // in doc 1 → 12/21
    assert(got(3L) == ((Some(21L), Some(12.0 / 21.0))))
    assert(got(4L) == ((None, None)))
    assert(got(5L) == ((None, None)))
  }

  test("cross-source dup matrix counts unordered source pairs") {
    import spark.implicits._
    val t1 = "the quick brown fox jumps over the lazy dog tonight"
    val t2 = "completely different sentence with no shared shingles here"
    val docs = Seq(
      (1L, t1, "web"),   // dup of 2 (cross-source) and 3 (same-source)
      (2L, t1, "books"),
      (3L, t1, "web"),
      (4L, t2, "web"),   // no partner
      (5L, t2 + " x", "books"), // near-dup of 4 across sources
      (6L, t1, null)     // unattributed dup of 1/2/3: must surface as
                         // (null, src), NOT fold into (src, src)
    ).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(docs, "doc_id", "text",
        "source", 3, 0.8)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // pairs: (1,2) web/books, (1,3) web/web, (2,3) books/web, (4,5)
    // web/books — unordered keys fold both cross-source orientations;
    // doc 6 contributes (null,books) ×1 and (null,web) ×2 — a
    // least/greatest spelling would have miscounted these as
    // (books,books)/(web,web)
    assert(got == Map(
      ("books", "web") -> 3L,
      ("web", "web") -> 1L,
      (null, "books") -> 1L,
      (null, "web") -> 2L))
    // precomputed-pair overload ≡ self-contained (same pair frame in,
    // same matrix out) — diagnostic callers reuse an existing pair
    // join instead of paying the Jaccard candidate join twice
    val pairs = Dedup.ngramJaccardPairs(
      docs.select(col("doc_id"), col("text")), "doc_id", "text", 3, 0.8)
    val got2 = Dedup.crossSourceDupMatrix(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got2 == got)
  }

  test("canonical dedup groups case/punctuation/whitespace variants; " +
      "genuinely different texts stay apart") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!  How are you?"),
      (2L, "hello world how are you"),      // canonical twin of 1
      (3L, "HELLO   world, how are\tyou"),  // tabs + runs + case
      (4L, "hello world how are you today") // different content
    ).toDF("doc_id", "text")
    val got = Dedup.canonicalExact(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 3L, 4L -> 1L), s"got $got")
    // canonicalText contract directly
    val c = docs.select(Dedup.canonicalText(col("text"))).collect()
      .map(_.getString(0))
    assert(c(0) == "hello world how are you" && c(0) == c(1) &&
      c(1) == c(2))
  }

  test("corpusDiff: added/removed/changed statuses, unchanged and " +
      "both-null-text docs drop out") {
    import spark.implicits._
    val oldSnap = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"),
      (4L, null.asInstanceOf[String]), (5L, "delta")).toDF("doc_id", "text")
    val newSnap = Seq((2L, "beta"), (3L, "gamma prime"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]),
      (6L, "zeta")).toDF("doc_id", "text")
    val got = Dedup.corpusDiff(oldSnap, newSnap, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 1 removed; 2 unchanged (dropped); 3 changed; 4 null→null
    // unchanged (dropped — same absent content); 5 text→null changed;
    // 6 added
    assert(got == Map(1L -> "removed", 3L -> "changed",
      5L -> "changed", 6L -> "added"))
  }

  test("vocab drift: one-sided words surface with zero on the other " +
      "side, fixed-point frequencies are exact") {
    import spark.implicits._
    val a = Seq((1L, "x x x y"), (2L, "x y z")).toDF("doc_id", "text")
    val b = Seq((3L, "y y w")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.vocabDrift(a, b, col("text"), 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // totals: a = 7 tokens, b = 3. fp = n*1e6 div tot
    assert(got("x") == ((4L, 0L, 571428L, 0L, 571428L)))
    assert(got("w") == ((0L, 1L, 0L, 333333L, 333333L)))
    assert(got("y") == ((2L, 2L, 285714L, 666666L, 380952L)))
    assert(got("z") == ((1L, 0L, 142857L, 0L, 142857L)))
  }

  test("cluster size histogram: chain cluster counted once, " +
      "singleton row covers the unclustered remainder") {
    import spark.implicits._
    // docs 1-2-3 chain into ONE size-3 cluster; 4-5 a size-2 pair;
    // 6,7 unclustered → histogram {3:1, 2:1, 1:2}
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a_id", "b_id")
    val got = Dedup.clusterSizeHistogram(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(3L -> ((1L, 3L)), 2L -> ((1L, 2L)),
      1L -> ((2L, 2L))))
    // fully-clustered corpus: no size-1 row at all, not a zero row
    val all = Dedup.clusterSizeHistogram(
      docs.filter(col("doc_id") <= 5), "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(all == Set(3L, 2L))
  }

  test("span dedup removes repeated spans with different surroundings") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over"), // all windows first → kept
      (2L, "a b the quick brown fox c d"),    // quotes a span of doc 1
      (3L, "x y z w1 x y z"),                 // within-doc repeat
      (4L, null),                             // null passes through
      (5L, "aa bb"),                          // shorter than w → untouched
      (6L, "the quick brown fox jumps over")  // exact copy → fully removed
    ).toDF("doc_id", "text")
    // hand-computed at w=3: doc 2's windows at pos 2 ("the quick
    // brown") and 3 ("quick brown fox") are non-first (doc 1 owns
    // them) → cover tokens 2..5; doc 3's "x y z"@4 repeats @0 →
    // covers tokens 4..6; doc 6 repeats every window of doc 1 →
    // covers all 6 tokens → empty string
    val got = Dedup.spanDedup(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("the quick brown fox jumps over", 0L)),
      2L -> (("a b c d", 4L)),
      3L -> (("x y z w1", 3L)),
      4L -> ((null, 0L)),
      5L -> (("aa bb", 0L)),
      6L -> (("", 6L))))
  }

  test("representativesBy keeps the highest-priority copy, min id on " +
      "ties, min-id fallback when no member has a priority") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 20.0), // chain {1,2,3} → keeper 2
      (4L, 5.0), (5L, 5.0),               // tie {4,5} → min id 4
      (6L, 1.0),                          // unpaired → kept
      (7L, Double.NaN), (8L, Double.NaN)  // no usable priority → comp 7
    ).toDF("id", "pri")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (7L, 8L))
      .toDF("a_id", "b_id")
    val kept = Dedup.representativesBy(docs, pairs, "id", col("pri"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L, 7L), s"survivors $kept")
    // same clusters under the min-id rule differ exactly on cluster 1
    val minId = Dedup.representatives(docs, pairs, "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 4L, 6L, 7L), s"min-id survivors $minId")
  }

  test("rolling window hash equals the direct per-window fold") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.ops.{MinHashArray, RollingWindowHash}
    val B = 0x9E3779B97F4A7C15L // must match RollingWindowHash.B
    // deterministic pseudo-random token hashes
    val th = (0 until 200).map(i =>
      MinHashArray.mix(i.toLong * 0x9E37L + 7)).toArray
    for (w <- Seq(2, 5, 50, 200)) {
      val rolled = RollingWindowHash.compute(new GenericArrayData(th), w)
        .toLongArray()
      val direct = (0 to th.length - w).map { i =>
        var h = 0L
        var j = i
        while (j < i + w) { h = h * B + th(j.toInt); j += 1 }
        h
      }
      assert(rolled.sameElements(direct), s"w=$w rolling != direct")
    }
    // shorter than the window → empty array, not null
    assert(graft.ops.RollingWindowHash.compute(
      new GenericArrayData(th.take(3)), 4).numElements() == 0)
  }

  test("incremental dedup: null-text rows are excluded, not survivors") {
    import spark.implicits._
    // unfiltered, md5(null) = null never matches the index and every
    // null-text row's group would survive the anti join — while the
    // SQL oracle's `fp NOT IN (...)` drops null fps: the operator must
    // exclude them explicitly (documented null contract)
    val seen = Seq("already ingested text").toDF("t")
      .select(md5(col("t").cast("binary")).as("text_md5"))
    val batch = Seq[(Long, String)](
      (20L, null), (21L, "novel text"), (22L, null)
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, seen, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(21L))
  }

  test("incremental near-dup candidates equal full-corpus LSH candidates") {
    // the equivalence contract: batch-vs-index ∪ batch-internal band
    // collisions must be exactly the full-corpus minhashCandidates
    // pairs that touch the batch (signatures are per-row, so splitting
    // the corpus cannot change any band key)
    val docs = Tables.df(spark, sf, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text")
    val seen = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val seenBands = Dedup.lshBands(
      Dedup.minhashSignature(seen, "doc_id", "text", 3, 16), 16, 4)
    val inc = Dedup.incrementalNearDupCandidates(batch, seenBands,
        "doc_id", "text")
      .collect().map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.toSet
    val seenIds = seen.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      .filterNot(p => seenIds(p._1) && seenIds(p._2))
    assert(inc == expected)
  }

  test("incremental near-dup below 1.0 drops near copies, keeps novel") {
    import spark.implicits._
    val seen = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val batch = Seq[(Long, String)](
      // near copy of doc 1: 8 of 9 shingles shared, Jaccard 8/9 ≈ 0.889
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
      (11L, "uno dos tres quatro cinco seis siete ocho nueve diez"),
      (12L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (13L, null)
    ).toDF("doc_id", "text")
    val seenBands = Dedup.lshBands(
      Dedup.minhashSignature(seen, "doc_id", "text", 3, 16), 16, 4)
    val got = Dedup.incrementalNearDup(batch, seenBands, seen,
        "doc_id", "text", minJaccard = 0.7)
      .collect().map(_.getLong(0)).toSet
    // 10 verifies near doc 1 (0.889 ≥ 0.7), 12 is an exact copy, 13 is
    // null text (excluded, not a survivor) — only the novel doc stays
    assert(got == Set(11L))
  }

  test("similarity thresholds: exact boundary pairs survive the prefix") {
    import spark.implicits._
    // containment EXACTLY at threshold: A has 10 unigram shingles, 7 in
    // B → C(A→B) = 7/10 = 0.7. The prefix bound must admit it — a
    // double-rounded ceil(10·0.7) landing at 8 would shorten A's prefix
    // and could drop the pair before the exact verify sees it
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, "a1 a2 a3 a4 a5 a6 a7 b1 b2 b3 b4 b5")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, "doc_id", "text", 1, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(c.contains((1L, 2L, 0.7)), s"boundary pair dropped: ${c.toSeq}")
    // Jaccard EXACTLY at threshold: |A∩B| = 2, union 4 → J = 0.5
    val jd = Seq((1L, "x y a"), (2L, "x y b")).toDF("doc_id", "text")
    val j = Dedup.ngramJaccardPairs(jd, "doc_id", "text", 1, 0.5)
      .collect().map(r => r.getDouble(5))
    assert(j.sameElements(Array(0.5)), s"boundary Jaccard pair: ${j.toSeq}")
    // thresholds that are not short decimals are rejected loudly, not
    // silently approximated (the rational decode contract)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(docs, "doc_id", "text", 1, 0.1234567)
    }
  }

  test("containment catches quote-inclusion that symmetric Jaccard misses") {
    import spark.implicits._
    val docs = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"), // the containing doc
      (2L, "w3 w4 w5 w6 w7"),                 // fully quoted inside 1
      (3L, "w3 w4 w5 x1 x2")                  // only 1 of 3 shingles hits
    ).toDF("doc_id", "text")
    // hand-computed with n=3: doc 2 has 3 shingles, all in doc 1 →
    // C(2→1) = 3/3 = 1.0; reverse C(1→2) = 3/8; C(3→1) = 1/3
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map((2L, 1L) -> ((3L, 3L, 1.0))))
    // symmetric Jaccard at the same threshold sees nothing:
    // J(1,2) = 3/8 — the union is dominated by the long side
    assert(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.6)
      .count() == 0)
  }

  test("unitDedup first-occurrence order survives >2^20 units in one doc") {
    import spark.implicits._
    // doc 0 carries a marker unit at position 2^20+5; doc 1 repeats the
    // same marker at position 0. Global first-occurrence order is
    // (doc id, pos) lexicographic, so doc 0's copy must win — under the
    // retired packed-long key (did·2²⁰ + pos) doc 1's okey (1·2²⁰) was
    // SMALLER than doc 0's (2²⁰+5) and silently crowned the wrong
    // winner. No sf-scale oracle can reach this row count; this pins it.
    val nFill = (1 << 20) + 5
    val doc0 = (Seq.fill(nFill)("filler") :+ "marker").mkString(". ")
    val doc1 = "marker. novel tail"
    val df = Seq((0L, doc0), (1L, doc1)).toDF("doc_id", "text")
    val out = Dedup.unitDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(0L) == "filler. marker",
      s"doc 0 lost its globally-first marker: '${out(0L).take(80)}'")
    assert(out(1L) == "novel tail")
  }

  test("simhash of near-dup is closer than unrelated docs") {
    val c = DedupQueries.corpus(spark, sf)
    val sigs = c.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearHams = (0 until 500).filter(_ % 10 == 5)
      .map(d => ham(sigs(d.toLong), sigs(d.toLong + 200000)))
    val unrelatedHams = (0 until 100)
      .map(d => ham(sigs(d.toLong), sigs((d + 101).toLong)))
    assert(nearHams.sum.toDouble / nearHams.size <
      unrelatedHams.sum.toDouble / unrelatedHams.size)
  }
}

class SimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("ivfPqEncodeBatch: frozen quantizers make appends stable, " +
      "codes well-formed, junk excluded") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 7 =!= 3)
    val batch1 = emb.filter(col("vec_id") % 7 === 3 &&
      col("vec_id") % 2 === 0)
    val batchAll = emb.filter(col("vec_id") % 7 === 3)
    def enc(b: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqEncodeBatch(b, base)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getSeq[Int](2).toList))).toMap
    val e1 = enc(batch1)
    val eAll = enc(batchAll)
    // append stability: a bigger batch never re-keys earlier rows
    // (quantizers are frozen — the property that makes this an
    // APPEND, not a rebuild)
    assert(e1.nonEmpty && e1.forall { case (id, v) => eAll(id) == v })
    // well-formed: m codebook entries, all within ksub; cells are
    // base centroid ids
    val centIds = base.filter(col("vec_id") % 50 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    eAll.values.foreach { case (cId, code) =>
      assert(centIds.contains(cId))
      assert(code.length == 16 && code.forall(c => c >= 0 && c < 64))
    }
    // determinism
    assert(enc(batchAll) == eAll)
    // junk routing: null / wrong-dim / zero-norm batch rows vanish
    val junk = Seq(
      (900001L, null.asInstanceOf[Array[Float]]),
      (900002L, Array.fill(3)(1.0f)),
      (900003L, Array.fill(64)(0.0f))
    ).toDF("vec_id", "embedding")
    assert(Similarity.ivfPqEncodeBatch(junk, base).count() == 0)
    // stride guard: a centroidEvery no base id divides must fail
    // loudly — the crossJoin against zero centroids would otherwise
    // append NOTHING and the caller would read it as "batch indexed"
    val oddBase = base.filter(col("vec_id") % 2 === 1)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfPqEncodeBatch(batch1, oddBase, centroidEvery = 2)
    }
    assert(ex.getMessage.contains("centroidEvery"))
  }

  test("ivfPqEncodeBatch appends exactly the rows the ivfPqTopK index " +
      "stores for the same ids") {
    // the append path derives its quantizers from unit(base), the index
    // path from spread(unit(corpus)); both must yield the same cells and
    // codes, or appended rows drift from a full rebuild
    val emb = Tables.df(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 7 =!= 3)
    val batch = base.filter(col("vec_id") % 5 === 1)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2).toList)).toSet
    val appended = rows(Similarity.ivfPqEncodeBatch(batch, base))
    val ids = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    val stored = rows(Similarity.ivfPqIndexRows(base)).filter(r => ids(r._1))
    assert(appended.nonEmpty)
    assert(appended == stored)
  }

  test("kmeans: each Lloyd round does not increase the spherical " +
      "objective, centroids stay unit, stride guard fires") {
    val emb = Tables.df(spark, sf, "embeddings")
    def objective(cents: org.apache.spark.sql.DataFrame): Double = {
      // the full normalized corpus, via the operator's own pipeline
      // (seedEvery=1, iters=0 → every indexable unit vector)
      val corpus = Similarity.kmeansCentroids(emb, 1, iters = 0)
        .select(col("c_id").as("id"), col("cu").as("u"))
      corpus.crossJoin(broadcast(cents))
        .withColumn("s", Similarity.dot(col("u"), col("cu")))
        .groupBy(col("id")).agg(max(col("s")).as("best"))
        .agg(avg(lit(1.0) - col("best"))).collect()(0).getDouble(0)
    }
    val seeds = Similarity.kmeansCentroids(emb, 500, iters = 0)
    val one = Similarity.kmeansCentroids(emb, 500, iters = 1)
    val two = Similarity.kmeansCentroids(emb, 500, iters = 2)
    val (o0, o1, o2) = (objective(seeds), objective(one), objective(two))
    assert(o1 <= o0 + 1e-9 && o2 <= o1 + 1e-9, s"objective $o0 $o1 $o2")
    // centroids are unit length after an update round
    val norms = one.select(Similarity.dot(col("cu"), col("cu")).as("n2"))
      .collect().map(_.getDouble(0))
    norms.foreach(n2 => assert(math.abs(n2 - 1.0) < 1e-9, s"norm2 $n2"))
    // same centroid count as the seed slice, ids preserved
    assert(two.select("c_id").collect().map(_.getLong(0)).toSet ==
      seeds.select("c_id").collect().map(_.getLong(0)).toSet)
    val ex = intercept[IllegalArgumentException] {
      Similarity.kmeansCentroids(
        emb.filter(col("vec_id") % 2 === 1), seedEvery = 2, iters = 1)
    }
    assert(ex.getMessage.contains("seedEvery"))
  }

  test("kmeans centroids vs stride centroids at equal count: IVF " +
      "recall does not degrade (and the adaptive cells measurably " +
      "help or tie on this clustered corpus)") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5).localCheckpoint()
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, brute, 5)
        .agg(avg(col("recall_at_k"))).collect()(0).getDouble(0)
    val stride = meanRecall(Similarity.ivfTopK(emb, qs, 5,
      centroidEvery = 25))
    val km = Similarity.kmeansCentroids(emb, seedEvery = 25, iters = 2)
      .select(col("c_id"), col("cu").as("c_vec"))
    val adaptive = meanRecall(Similarity.ivfTopKWithCentroids(
      emb, qs, 5, km))
    info(s"IVF recall@5: stride $stride vs kmeans $adaptive")
    assert(adaptive >= stride - 1e-9,
      s"kmeans cells degraded recall: $adaptive < $stride")
  }

  test("kCenterSelect: hand-verified farthest-point trajectory, " +
      "early stop when codes exhaust, degenerate vectors excluded") {
    import spark.implicits._
    // quantized: 1→[127,0], 2→[0,127], 3→[-127,0], 4→[90,90]
    // greedy from seed 1: picks 3 (d²=254²=64516), then 2 (32258),
    // then 4 (min over {1,3,2} = d² to 1 = 37²+90²=9469)
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.0f)), (4L, Seq(0.7071f, 0.7071f)),
      (5L, Seq(0.0f, 0.0f))) // zero norm: excluded
      .toDF("vec_id", "embedding")
    val got = Similarity.kCenterSelect(pts, 4)
      .orderBy("sel_round").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 0L), (3L, 2L, 64516L),
      (2L, 3L, 32258L), (4L, 4L, 9469L)))
    // k larger than the distinct-code count: stops after the corpus
    // is exhausted (every remaining point at distance 0), never
    // re-selects a center
    val dup = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val s = Similarity.kCenterSelect(dup, 3).collect()
    assert(s.length === 2 &&
      s.map(_.getLong(0)).toSet === Set(1L, 3L))
    // checkpoint rotation: the greedy loop must leave NO pinned
    // blocks behind (localCheckpoint registers outside the
    // CacheManager — at corpus scale k leaked copies would evict the
    // cluster's working set)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Similarity.kCenterSelect(pts, 4).collect()
    val leaked =
      spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty,
      s"kCenterSelect leaked persisted RDDs: $leaked")
    // assignment: closest selected center, distance ties to the
    // LOWEST round — point 4 sits at d²=9469 from both center 1
    // (round 1) and center 2 (round 3) and must land on 1
    val asg = Similarity.kCenterAssign(pts,
        Similarity.kCenterSelect(pts, 3))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(asg === Map(
      1L -> ((1L, 1L, 0L)), 2L -> ((2L, 3L, 0L)),
      3L -> ((3L, 2L, 0L)), 4L -> ((1L, 1L, 9469L))))
  }

  test("kCenterSelect respects the Gonzalez 2x bound vs the optimal " +
      "discrete cover (exhaustive small instances)") {
    import spark.implicits._
    // fixed 2-D instances (no RNG): a ring, and two tight clusters
    // plus an outlier — shapes where greedy and optimal genuinely
    // differ
    val ring = (0 until 8).map(i => (i.toLong,
      Seq(math.cos(i * 0.785).toFloat, math.sin(i * 0.785).toFloat)))
    val clusters = Seq(
      (0L, Seq(1.0f, 0.02f)), (1L, Seq(1.0f, 0.05f)),
      (2L, Seq(0.98f, 0.0f)), (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(0.03f, 1.0f)), (5L, Seq(-0.9f, 0.4f)))
    // the operator's own quantization, replicated so radii are scored
    // over the SAME int8 codes the operator compares
    def q8(v: Seq[Float]): Seq[Long] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => math.floor(127.0 * (x / n) + 0.5).toLong)
    }
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    Seq(ring, clusters).foreach { pts =>
      val codes = pts.map { case (id, v) => id -> q8(v) }.toMap
      val k = 3
      val sel = Similarity.kCenterSelect(
          pts.toDF("vec_id", "embedding"), k)
        .collect().map(_.getLong(0)).toSeq
      def radius(cs: Seq[Long]): Long =
        codes.keys.map(p => cs.map(c => d2(codes(p), codes(c))).min).max
      val greedy = radius(sel)
      val opt = codes.keys.toSeq.combinations(k).map(radius).min
      // Gonzalez 1985: greedy DISTANCE <= 2x optimal, so squared <= 4x
      assert(greedy <= 4 * opt,
        s"greedy radius² $greedy exceeds 4x optimal $opt")
    }
  }

  test("recallAtK: hand case, dropped queries surface as 0, and the " +
      "IVF report agrees with a direct set computation") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("q_id", "n_id")
    // q1: both hit; q2: one hit (22 is a miss); q3: absent entirely
    // from the approx side — must report 0, not vanish
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 22L))
      .toDF("q_id", "n_id")
    val got = Similarity.recallAtK(approx, exact, 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == Map(1L -> ((2L, 1.0)), 2L -> ((1L, 0.5)),
      3L -> ((0L, 0.0))))
    // the cataloged IVF report must equal recall computed directly
    // from the two top-k sets
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5)
    val ivf = Similarity.ivfTopK(emb, qs, 5)
    val bSet = brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val iSet = ivf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val report = Similarity.recallAtK(ivf, brute, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    bSet.groupBy(_._1).foreach { case (q, rows) =>
      assert(report(q) == (rows & iSet).size.toLong)
    }
    // mean recall of 4-probe IVF on this corpus should be usable
    val mean = report.values.sum.toDouble / (report.size * 5)
    assert(mean >= 0.5, s"mean recall $mean")
  }

  test("LSH top-k recall vs brute force is usable") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, qs, 5, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall") // 4-plane buckets, 1/16 corpus
    // multi-probe (Hamming-1 query buckets) must dominate single-probe
    // recall: its candidate set is a strict superset per table. All
    // inputs and planes are deterministic, so these recalls are exact
    // reproducible numbers, not statistical.
    val multi = Similarity.lshTopK(emb, qs, 5, nPlanes = 4,
        multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallM = (brute & multi).size.toDouble / brute.size
    assert(recallM >= recall, s"multi-probe $recallM < single $recall")
    assert(recallM >= 0.5, s"multi-probe recall $recallM")
  }

  test("hard negatives: never same-label, k per query, and the IVF " +
      "scale path holds usable recall vs the exact twin") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.hardNegatives(emb, qs, 5)
    val rows = exact.collect()
    assert(rows.forall(r =>
      r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
    // every query has >=k differently-labeled candidates on this corpus
    val perQ = rows.groupBy(_.getAs[Long]("q_id")).view.mapValues(_.length)
    assert(perQ.values.forall(_ == 5), s"per-query counts: ${perQ.toMap}")
    // the negative set must differ from plain top-k where a same-label
    // vector was among the true top-5 (otherwise the filter is a no-op)
    val plain = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hard = rows.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    assert(hard != plain, "label filter changed nothing — fixture dead")
    val ivf = Similarity.hardNegativesIvf(emb, qs, 5)
      .collect()
    assert(ivf.forall(r =>
      r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
    val ivfSet = ivf.map(r =>
      (r.getAs[Long]("q_id"), r.getAs[Long]("n_id"))).toSet
    val recallHn = (hard & ivfSet).size.toDouble / hard.size
    assert(recallHn >= 0.5, s"hard-negative IVF recall $recallHn")
  }

  test("LSH near-dup finds every pair the all-pairs twin finds at sim=1") {
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.unionAll(
      emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    // all-pairs recall oracle (fine at spec scale, never at corpus scale)
    val a = corpus.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = corpus.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.999999)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDup(corpus, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "twin oracle found no injected duplicates")
    assert((exact -- lsh).isEmpty,
      s"identical-vector pairs missed by LSH blocking: ${(exact -- lsh).take(5)}")
  }

  test("semDedup: chains collapse to the min id, junk vectors are kept") {
    import spark.implicits._
    // a=(1,0,0), b=15° away, c=30° away: cos(a,b)=cos(b,c)=cos15°≈.966
    // ≥ t=.94 but cos(a,c)=cos30°≈.866 < t — a–b–c is a CHAIN, and the
    // whole component must resolve to ONE survivor (min id), not drop
    // b and c independently. d is orthogonal (kept); e is zero-norm
    // junk (bypasses clustering, kept).
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9659258f, 0.2588190f, 0.0f)),
      (2L, Array(0.8660254f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f)),
      (4L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    // centroidEvery=100: the only centroid is id 0 → one cell, so the
    // pair stage sees every indexable pair (the pure-CC semantics)
    val kept = Similarity.semDedup(rows, 0.94, centroidEvery = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L), s"survivors $kept")
  }

  test("semDedup fails loudly when the id space misses every centroid " +
      "stride; an empty corpus returns empty") {
    import spark.implicits._
    // odd-only ids with an even stride: zero centroids would silently
    // keep every duplicate — must be an ERROR, not a no-op dedup
    val odd = Seq((1L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedup(odd, 0.9, centroidEvery = 2)
    }
    assert(ex.getMessage.contains("centroidEvery"))
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(empty, 0.9).count() == 0)
  }

  test("semDedupWithCentroids: kmeans cells still co-locate and " +
      "remove every injected identical copy; junk vectors are kept") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.unionAll(emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionAll(Seq((900001L, null.asInstanceOf[Array[Float]]))
        .toDF("vec_id", "embedding"))
    val km = Similarity.kmeansCentroids(corpus, seedEvery = 25, iters = 2)
    val kept = Similarity.semDedupWithCentroids(corpus, 0.95, km)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // identical vectors route identically under ANY centroid set —
    // every +100000 copy must lose to its original's smaller id
    val survivingCopies = kept.filter(id => id >= 100000L && id != 900001L)
    assert(survivingCopies.isEmpty, s"surviving copies: $survivingCopies")
    assert(kept.contains(900001L), "junk vector must bypass and be kept")
  }

  test("semDedup hierarchical routing keeps survivor parity with the " +
      "flat formulation on the corpus") {
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.unionAll(
      emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    // the hierarchy is an assignment APPROXIMATION, but identical
    // vectors route identically at both levels, so every injected
    // exact-duplicate pair still co-locates — and on this corpus the
    // full survivor set must match the flat assignment exactly
    val hier = Similarity.semDedup(corpus, 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val flat = Similarity.semDedup(corpus, 0.95, superFactor = 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(hier == flat,
      s"hier-only=${(hier -- flat).take(5)} flat-only=${(flat -- hier).take(5)}")
  }

  test("semDedup fails loudly when the super stride misses every " +
      "centroid") {
    import spark.implicits._
    // ids 0..9: centroidEvery=1 keeps every id a centroid, but
    // superFactor=100 → stride 100 misses all of them except id 0…
    // so drop id 0: zero supers with live centroids must ERROR, not
    // silently keep every duplicate
    val rows = (1L to 9L).map(i => (i, Array(1.0f, 0.0f))).toDF(
      "vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.semDedup(rows, 0.9, centroidEvery = 1, superFactor = 100)
    }
    assert(ex.getMessage.contains("superStride"))
  }

  test("semDedup prunes exactly the injected duplicates on the corpus") {
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val injected = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
    val corpus = emb.unionAll(injected)
    val kept = Similarity.semDedup(corpus, 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val injectedIds = injected.select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // every injected copy shares a cell with its identical original
    // (equal sims, equal tie-break) and loses min-id resolution to it
    assert((kept & injectedIds).isEmpty,
      s"injected dups survived: ${(kept & injectedIds).take(5)}")
    assert(kept.nonEmpty && kept.subsetOf(
      emb.select("vec_id").collect().map(_.getLong(0)).toSet))
  }

  test("PQ/ADC + exact re-rank recall vs brute force is high") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query keeps exactly k rows, and the 10k-shortlist exact
    // re-rank recovers most of the exact top-k (deterministic inputs
    // and codebooks → this recall is an exact reproducible number;
    // 0.98 measured at sf0.01, floor set with slack for other SFs)
    assert(pq.size == brute.size)
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.8, s"PQ recall $recall")
    // determinism: a second run is bit-identical (fixed codebook, total
    // orders everywhere)
    val again = Similarity.pqTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pq)
  }

  test("PQ handles a corpus smaller than ksub (dynamic LUT stride)") {
    // with < ksub indexable vectors the codebook is corpus-sized; a
    // fixed-ksub LUT stride would read other subspaces' entries (or
    // null past the end) and return silently wrong neighbors — the
    // round-10 review catch. With 30 vectors the 10k shortlist covers
    // the whole corpus, so after exact re-rank PQ must equal brute
    // force EXACTLY.
    val emb = Tables.df(spark, sf, "embeddings")
      .filter(col("vec_id") < 30)
    val qs = emb.filter(col("vec_id") % 10 === 0)
    val pq = Similarity.pqTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // expected top-k built with pqTopK's OWN sim arithmetic — unit
    // vectors then dot, NOT bruteForceTopK's dot/(|q|·|n|), whose
    // extra division by a ~1±ulp norm could swap near-tied neighbors
    // and fail the exact (q_id, n_id, rank) equality spuriously
    def units(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      Similarity.normalized(df, "embedding")
        .filter(col("embedding_unit").isNotNull)
        .select(col("vec_id").as(a), col("embedding_unit").as(b))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("sim").desc, col("n_id"))
    val brute = units(qs, "q_id", "qu").crossJoin(units(emb, "n_id", "nu"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", Similarity.dot(col("qu"), col("nu")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("q_id"), col("n_id"), col("rank").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pq.nonEmpty && pq == brute)
  }

  test("int8-quantized top-k recall vs full precision is high") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val exact = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.bruteForceTopKInt8(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // int8 quantization perturbs each unit component by ≤ 1/254, so
    // top-k membership should survive almost everywhere; deterministic
    // inputs → this recall is an exact reproducible number
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall $recall")
    // every query keeps exactly k rows
    assert(quant.size == exact.size)
  }

  test("near-dup multi-probe dominates single-probe recall") {
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // near-MISS duplicates: every 10th vector gets a deterministically
    // perturbed copy (each component scaled by 1 ± ≤3%, cosine ≈ 0.9997
    // — above threshold, but unlike an exact copy not guaranteed to
    // share buckets, so single-probe blocking can genuinely miss it)
    val perturbed = emb.filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * (lit(1.0f) +
            (pmod(col("vec_id") + i, lit(7)) - lit(3)).cast("float") /
              lit(100.0f))).cast("float")).as("embedding"))
    val corpus = emb.unionAll(perturbed)
    val a = corpus.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = corpus.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val exact = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .withColumn("sim", Similarity.cosine(col("va"), col("vb")))
      .filter(col("sim") >= 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "perturbation produced no above-threshold pairs")
    def pairs(multiProbe: Boolean): Set[(Long, Long)] =
      Similarity.lshNearDup(corpus, 0.99, multiProbe = multiProbe)
        .select("a_id", "b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(multiProbe = false)
    val multi = pairs(multiProbe = true)
    // multi-probe's candidate set is a strict superset per table (the
    // probe array includes the original bucket), so its verified pairs
    // — and recall against the all-pairs twin — must dominate. All
    // planes are deterministic: exact reproducible numbers.
    assert((single -- multi).isEmpty,
      s"multi-probe lost pairs: ${(single -- multi).take(5)}")
    val recallS = (exact & single).size.toDouble / exact.size
    val recallM = (exact & multi).size.toDouble / exact.size
    assert(recallM >= recallS, s"multi-probe $recallM < single $recallS")
  }

  test("degenerate vectors are routed out of LSH candidate generation") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    // a junk block every real corpus carries: null vectors, zero
    // vectors (en masse — the mega-bucket scenario), wrong-length and
    // NaN-component vectors; all must stay out of every band
    val junkDf = (Seq(
        (800001L, Option.empty[Seq[Float]]),
        (800002L, Some(Seq(1.0f, 2.0f))),
        (800003L, Some(Seq.fill(dim)(Float.NaN)))
      ) ++ (0 until 500).map(i => (810000L + i, Some(Seq.fill(dim)(0.0f))))
      ).toDF("vec_id", "embedding")
    assert(junkDf.filter(
      Similarity.isIndexable(col("embedding"), dim)).count() == 0)
    assert(emb.filter(
      Similarity.isIndexable(col("embedding"), dim)).count() == emb.count())
    // near-dup pairs are bit-identical with and without the junk block
    // (any pair touching junk has null/NaN cosine — can never pass the
    // threshold — so exclusion-before-banding changes no result)
    val clean = Similarity.lshNearDup(emb, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val withJunk = Similarity.lshNearDup(emb.unionAll(junkDf), 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withJunk == clean)
    // and top-k neighbors are unchanged when the corpus carries junk —
    // for the WHOLE ANN family: without the shared junk filter,
    // Spark's NaN-ranks-first total ordering would put zero-norm
    // (0/0 = NaN cosine) neighbors at rank 1 in the exact and IVF
    // paths too, making the "exact baseline" disagree with LSH on
    // exactly the corpora where users need a trustworthy baseline
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val polluted = emb.unionAll(junkDf)
    for ((name, run) <- Seq[(String,
        (org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame))](
      "lsh" -> (c => Similarity.lshTopK(c, qs, 5, nPlanes = 4)),
      "brute" -> (c => Similarity.bruteForceTopK(c, qs, 5)),
      "ivf" -> (c => Similarity.ivfTopK(c, qs, 5)))) {
      val cleanK = run(emb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val junkK = run(polluted)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(junkK == cleanK, s"$name top-k changed under junk corpus")
    }
  }

  test("dim derivation survives a junk-MAJORITY head of consistent length") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // 300 junk rows of one consistent wrong length, all FIRST in
    // partition order: more than the old 256-row head sample, so the
    // r8 heuristic would have locked dim=2 and filtered the entire
    // real corpus out of banding. The widened head must see past the
    // block to the honest majority (the documented contract: honest
    // rows are the majority of the first DimSampleRows non-empties).
    val junkBlock = (0 until 300).map(i => (910000L + i, Seq(1.0f, 2.0f)))
      .toDF("vec_id", "embedding").coalesce(1)
    val polluted = junkBlock.unionAll(emb)
    assert(emb.count() > 300, "spec needs an honest majority")
    val clean = Similarity.lshNearDup(emb, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.lshNearDup(polluted, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == clean,
      s"junk-majority head changed near-dup pairs (clean=${clean.size}, " +
        s"got=${got.size})")
  }

  test("dim derivation survives a wrong-length junk vector arriving first") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // junk FIRST in partition order: a single-row-dim derivation would
    // lock dim=2, route the ENTIRE real corpus out of banding via
    // isIndexable(size === dim), and silently return empty results
    // (the r7-advice regression scenario). The sample-mode derivation
    // must shrug it off.
    val junkFirst = Seq(
      (900001L, Seq(1.0f, 2.0f)),
      (900002L, Seq(0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding").coalesce(1)
      .unionAll(emb)
    val clean = Similarity.lshNearDup(emb, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val polluted = Similarity.lshNearDup(junkFirst, 0.99)
      .select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(polluted == clean,
      s"junk-first corpus changed near-dup pairs (clean=${clean.size}, " +
        s"polluted=${polluted.size})")
    val qs = emb.filter(col("vec_id") % 100 === 0)
    val cleanK = Similarity.lshTopK(emb, qs, 5, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pollutedK = Similarity.lshTopK(junkFirst, qs, 5, nPlanes = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pollutedK == cleanK, "junk-first corpus changed top-k")
  }

  test("cosine of identical vectors is 1") {
    val emb = Tables.df(spark, sf, "embeddings").limit(5)
    val sims = emb.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    sims.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
  }

  test("normalize + int8 quantize: unit norm, range, inverse error") {
    import spark.implicits._
    val emb = Tables.df(spark, sf, "embeddings")
    val unit = Similarity.normalized(emb, "embedding")
    // every normalized vector has norm 1
    val norms = unit.filter(col("embedding_unit").isNotNull)
      .select(sqrt(aggregate(col("embedding_unit"), lit(0.0),
        (acc, x) => acc + x * x)).as("n"))
      .collect().map(_.getDouble(0))
    assert(norms.nonEmpty)
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-12))
    // zero and null vectors have no direction
    val degenerate = Seq(
      (1L, Some(Seq(0.0f, 0.0f))), (2L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    assert(Similarity.normalized(degenerate, "embedding")
      .filter(col("embedding_unit").isNotNull).count() == 0)
    // quantized components stay in [-127, 127] and invert to within
    // half a quantization step
    val rows = unit.filter(col("embedding_unit").isNotNull).limit(20)
      .select(col("embedding_unit").as("u"),
        Similarity.quantizeInt8(col("embedding_unit")).as("q"))
      .as[(Seq[Double], Seq[Int])].collect()
    rows.foreach { case (u, qs) =>
      qs.foreach(qv => assert(qv >= -127 && qv <= 127))
      u.zip(qs).foreach { case (x, qv) =>
        assert(math.abs(x - qv / 127.0) <= 0.5 / 127.0 + 1e-12) }
    }
  }

  test("dot product matches HOF fold bit-for-bit, incl. null semantics") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.5f, -2.25f, 3.0f)), Some(Seq(0.5f, 4.0f, -1.0f))),
      (Some(Seq(1.0f, Float.NaN)), Some(Seq(2.0f, 3.0f))), // NaN flows
      (Some(Seq(1.0f)), Some(Seq(2.0f, 3.0f))), // length mismatch → null
      (None, Some(Seq(1.0f))), // null array → null
      (Some(Seq.empty[Float]), Some(Seq.empty[Float])) // empty → 0.0
    ).toDF("a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val rows = df.select(
      Similarity.dot(col("a"), col("b")).as("fast"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      val fast = if (r.isNullAt(0)) null else java.lang.Double
        .doubleToRawLongBits(r.getDouble(0)).asInstanceOf[Any]
      val ref = if (r.isNullAt(1)) null else java.lang.Double
        .doubleToRawLongBits(r.getDouble(1)).asInstanceOf[Any]
      assert(fast == ref, s"fast=$fast ref=$ref in $r")
    }
  }

  test("MinHashArray equals the UDAF sketch on exploded input") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents").limit(50)
    val sh = graft.ops.Dedup.shingles(col("text"), 3)
    val viaExpr = docs.select(col("doc_id"),
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.ops.MinHashArray(
            org.apache.spark.sql.GraftColumnBridge.expression(sh), 16))
          .as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = udaf(new graft.ops.MinHashAggregator(16))
    val viaUdaf = docs.select(col("doc_id"), explode(sh).as("s"))
      .groupBy("doc_id").agg(agg(col("s")).as("mh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaExpr.keySet == viaUdaf.keySet)
    viaExpr.foreach { case (k, v) => assert(v == viaUdaf(k), s"doc $k") }
  }
}

class TextQualitySpec extends AnyFunSuite {
  import TestSession._

  test("BPE encode: hand cases under the leftmost-lowest-rank rule") {
    import spark.implicits._
    // expected values from an independent reference implementation of
    // the defined rule (one merge per step, leftmost occurrence of the
    // lowest-rank pair) over the 40-merge fixture:
    //   customer/filter → fully merged single tokens
    //   window → w in d ow   (no "d ow"/"in dow" merge in the prefix)
    //   stream → st r e a m  ("s t" is the only applicable merge)
    //   erin → er in ; zzz → z z z (nothing applies) ; a → a
    val docs = Seq(
      (0L, "customer window"),
      (1L, "stream erin zzz a"),
      (2L, "  double  spaced  "), // empty words dropped
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.bpeTokenize(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    assert(out(0L) == (5L, "customer w in d ow"), s"got ${out(0L)}")
    assert(out(1L) == (11L, "st r e a m er in z z z a"), s"got ${out(1L)}")
    assert(out(2L)._2 == "d o u b l e s p a c e d", s"got ${out(2L)}")
    assert(!out.contains(3L), "null text must be excluded, not tokenized")
  }

  test("tfidf keywords: hand-computed ranks on a known corpus") {
    import spark.implicits._
    // N=3; df: apple 1, banana 3, cherry 1 → idf_fp: 3e6 / 1e6 / 3e6.
    // d0: apple tf2·3e6 = 6e6 beats banana 1e6; d1: cherry 3e6 beats
    // banana 1e6; d2: banana only.
    val docs = Seq((0L, "apple banana apple"), (1L, "banana cherry"),
      (2L, "banana")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis
      .tfidfKeywords(docs, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(4)) -> (r.getString(1),
        r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      (0L, 1L) -> ("apple", 2L, 6000000L),
      (0L, 2L) -> ("banana", 1L, 1000000L),
      (1L, 1L) -> ("cherry", 1L, 3000000L),
      (1L, 2L) -> ("banana", 1L, 1000000L),
      (2L, 1L) -> ("banana", 1L, 1000000L)))
  }

  test("source report: hand-computed integer masses and ratios") {
    import spark.implicits._
    // s1: docs=2, chars=5+1, tokens=3+1, distinct=2+1 → dup=1,
    // frac=0.25, mean_chars=3.0; s2: "x  y" splits to 3 tokens
    // (double space → empty token), all distinct → dup=0
    val docs = Seq(("s1", "a a b"), ("s1", "c"), ("s2", "x  y"))
      .toDF("source", "text")
    val got = graft.ops.TextAnalysis.sourceReport(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    assert(got == Map(
      "s1" -> ((2L, 6L, 4L, 1L, 0.25, 3.0)),
      "s2" -> ((1L, 4L, 3L, 0L, 0.0, 4.0))))
  }

  test("zip-built bigrams and shingles equal the naive slice forms") {
    import spark.implicits._
    // the zip_with formulations must produce byte-identical strings to
    // transform(sequence, slice) — including empty tokens from double
    // spaces, 0/1/2-token docs, and docs shorter than n
    val docs = Seq("", "one", "a b", "a  b", "x y z w", "a b c",
      "t t t t t").toDF("text")
    def naive(n: Int) = {
      val toks = split(col("text"), " ")
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
    }
    for (n <- Seq(2, 3, 4)) {
      val got = docs.select(Dedup.shingles(col("text"), n).as("s"))
        .collect().map(_.getSeq[String](0).toList).toList
      val want = docs.select(naive(n).as("s"))
        .collect().map(_.getSeq[String](0).toList).toList
      assert(got == want, s"n=$n: $got != $want")
    }
  }

  test("bigram LM score separates gibberish from typical corpus text") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // a document the corpus LM has never seen vs one stitched from the
    // corpus' own most frequent bigrams
    val common = graft.ops.TextAnalysis.vocabulary(docs, col("text"), 6)
      .collect().map(_.getString(0))
    val typical = Seq.fill(30)(common).flatten.mkString(" ")
    val gibberish = (1 to 60).map(i => s"zzq${i}xw").mkString(" ")
    val corpus = docs.unionAll(
      Seq((900001L, gibberish), (900002L, typical)).toDF("doc_id", "text"))
    val scores = graft.ops.TextAnalysis
      .bigramLmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val corpusMean = docs.collect().map(r => scores(r.getLong(0))).sum /
      docs.count().toDouble
    assert(scores(900001L) < corpusMean,
      s"gibberish ${scores(900001L)} not below corpus mean $corpusMean")
    assert(scores(900002L) > corpusMean,
      s"typical ${scores(900002L)} not above corpus mean $corpusMean")
    // short/degenerate docs score 0 by definition, not by crash
    val degen = graft.ops.TextAnalysis.bigramLmScore(
        Seq((1L, "one"), (2L, ""), (3L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    degen.values.foreach { case (n, s) => assert(n == 0L && s == 0.0) }
  }

  test("DSIR resampling ranks target-like docs above corpus-typical " +
      "ones and its acceptance ramp clamps to all/none") {
    import spark.implicits._
    val docs = Tables.df(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val target = docs.filter(col("doc_id") % 7 === 0)
    // against a DISTINCTIVE target (its own vocabulary, unseen in
    // train), a doc written in the target's language must outscore
    // one the target has never seen (fp_t = 0 on every term) — the
    // selector's whole point. (A probe stitched by REPEATING corpus
    // text is the wrong construction: the probe's own 30× repetitions
    // count into the train-side LM — docs score against a corpus
    // containing themselves, a ≤1-count effect for natural docs but
    // dominant for a loop of one phrase.)
    val distinctTarget = (1 to 20).map(i =>
      (800000L + i, "qqa qqb qqc qqd qqe qqa qqb qqc qqd qqe"))
      .toDF("doc_id", "text")
    val targetish = Seq.fill(10)("qqa qqb qqc qqd qqe").mkString(" ")
    val offtarget = (1 to 50).map(i => s"zzq${i}xw").mkString(" ")
    val probe = train.unionAll(
      Seq((900001L, targetish), (900002L, offtarget)).toDF("doc_id", "text"))
    val scores = graft.ops.TextAnalysis
      .dsirResample(probe, distinctTarget, "doc_id", "text",
        -10000L, 12000L)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(scores(900001L) > 0.0 && scores(900002L) < 0.0 &&
        scores(900001L) > scores(900002L),
      s"target-language ${scores(900001L)} vs off-target ${scores(900002L)}")
    // ramp extremes: θ below the score floor keeps every doc with
    // bigram evidence; θ above the ceiling keeps none. Scores live in
    // (−10⁶, 10⁶) fp by construction (each term does)
    def keptSet(theta: Long) = graft.ops.TextAnalysis
      .dsirResample(train, target, "doc_id", "text", theta, 1000000L)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val withEvidence = graft.ops.TextAnalysis
      .dsirResample(train, target, "doc_id", "text", 0L, 1L)
      .filter(col("n_bigrams") > 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptSet(-2000000L) == withEvidence)
    assert(keptSet(2000000L).isEmpty)
    // deterministic: the same call twice yields the same kept set
    val once = graft.ops.TextAnalysis
      .dsirResample(train, target, "doc_id", "text", -10000L, 12000L)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val twice = graft.ops.TextAnalysis
      .dsirResample(train, target, "doc_id", "text", -10000L, 12000L)
      .filter(col("kept")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(once == twice && once.nonEmpty)
    // degenerate docs: no bigram evidence → score 0, never kept
    val degen2 = graft.ops.TextAnalysis.dsirResample(
        Seq((1L, "one"), (2L, ""), (3L, null.asInstanceOf[String]))
          .toDF("doc_id", "text"),
        target, "doc_id", "text", -2000000L, 1000000L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    degen2.values.foreach { case (n, k) => assert(n == 0L && !k) }
  }

  test("dsirResample fails loudly past the 64-bit keep-test bound " +
      "instead of silently wrapping the kept bit") {
    import spark.implicits._
    // at rampFp = 1e8 the guard bound is Long.Max/(1e6·1e8) = 92233
    // bigrams; a ~92k-token doc crosses it (all-distinct tokens, so
    // n_bigrams = n_tokens − 1)
    val big = (0 to 92300).map(i => s"t$i").mkString(" ")
    val train = Seq((1L, big)).toDF("doc_id", "text")
    val target = Seq((2L, "t1 t2 t3")).toDF("doc_id", "text")
    val e = intercept[Throwable] {
      graft.ops.TextAnalysis
        .dsirResample(train, target, "doc_id", "text", 0L, 100000000L)
        .collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("exceeds"),
      s"expected the overflow guard to fire, got: ${chain(e)}")
  }
}

class CurationParitySpec extends AnyFunSuite {
  import TestSession._

  test("q_curate_corpus_v2 equals chaining the public operator APIs") {
    // the cataloged composition must stay exactly what it advertises:
    // TextAnalysis.repetitionFeatures gate → TextAnalysis.redactPii →
    // Dedup.exact on the redacted text → Pack.sequencePack. This
    // recomposes the pipeline from ONLY those public APIs and demands
    // row equality, so the catalog query cannot drift into inlined
    // derivations that diverge from the operators it names.
    import graft.ops.{Dedup, Pack, TextAnalysis}
    val got = graft.queries.Catalog.byName("q_curate_corpus_v2")
      .fn(spark, sf).collect().map(_.toSeq).toSet
    val docs = Tables.df(spark, sf, "documents")
    val base = docs.select(col("doc_id"), col("n_chars"), col("text"),
      TextAnalysis.redactPii(concat(col("text"),
        lit(" contact bob@example.com or 10.0.0.7 tel 555-867-5309")))
        .as("rtext"))
    val quality = TextAnalysis.repetitionFeatures(base, col("text"))
      .filter(TextAnalysis.tokenCount(col("text")) >= 20 &&
        col("dup_token_frac") <= 0.6)
    val rep = Dedup.exact(quality, col("doc_id"), col("rtext"))
      .select(col("keep_id").as("doc_id"))
    val kept = quality.join(rep, "doc_id")
      .select(col("doc_id"), col("n_chars"))
    val expect = Pack.sequencePack(kept, "doc_id", "n_chars", 4096L)
      .collect().map(_.toSeq).toSet
    assert(expect.nonEmpty && got == expect)
  }

  test("q_curate_corpus equals chaining the public operator APIs") {
    // same drift guard for the v1 composition: quality filter →
    // eval-slice exclusion → Decontaminate.clean → Dedup.exact
    // representative → Sampling.weightedBySource → Pack.sequencePack.
    import graft.ops.{Decontaminate, Dedup, Pack, Sampling}
    val got = graft.queries.Catalog.byName("q_curate_corpus")
      .fn(spark, sf).collect().map(_.toSeq).toSet
    val docs = Tables.df(spark, sf, "documents")
    val meta = docs.select(col("doc_id").as("orig_id"),
      col("source"), col("n_chars"))
    val withMeta = DedupQueries.corpus(spark, sf)
      .withColumn("orig_id", col("doc_id") % 100000)
      .join(meta, "orig_id")
    val quality = withMeta.filter(
      graft.ops.TextAnalysis.tokenCount(col("text")) >= 20)
    val train = quality.filter(col("orig_id") % 7 =!= 0)
    val evalSet = docs.filter(col("doc_id") % 7 === 0)
    val decon = Decontaminate.clean(train, evalSet, "doc_id", "text", 4)
      .localCheckpoint()
    val rep = Dedup.exact(decon, col("doc_id"), col("text"))
      .select(col("keep_id").as("doc_id"))
    val kept = decon.join(rep, "doc_id")
    val sampled = Sampling.weightedBySource(kept, "doc_id", "source",
      graft.queries.PackQueries.mixtureWeights)
    val expect = Pack.sequencePack(sampled, "doc_id", "n_chars", 4096L)
      .collect().map(_.toSeq).toSet
    assert(expect.nonEmpty && got == expect)
  }
}

class VerifierSpec extends AnyFunSuite {
  import TestSession._

  test("constraintReport: hand-computed violations, nulls judged by " +
      "NotNull only, one row per constraint") {
    import spark.implicits._
    import graft.verify.Verifier._
    val df = Seq(
      (1L, Some("a"), Some(5.0)),
      (2L, None, Some(60.0)),   // null name; value out of range
      (2L, Some("b"), None),    // dup id; null value (NOT a range viol)
      (3L, Some("z"), Some(10.0)) // name outside OneOf
    ).toDF("id", "name", "v")
    val got = constraintReport(df, Seq(
        NotNull("name"), Unique(Seq("id")),
        InRange("v", 0.0, 50.0), OneOf("name", Seq("a", "b"))))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      "not_null(name)" -> ((1L, false)),
      "unique(id)" -> ((1L, false)),
      "in_range(v,0.0,50.0)" -> ((1L, false)),
      "one_of(name)" -> ((1L, false))))
    // a clean frame passes everything
    val clean = constraintReport(
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"),
      Seq(NotNull("name"), Unique(Seq("id")), InRange("v", 0.0, 50.0),
        OneOf("name", Seq("a", "b")))).collect()
    assert(clean.forall(_.getBoolean(2)))
  }

  test("Unique judges only fully-non-null keys: a NULL-keyed row is " +
      "NotNull's violation, not a uniqueness violation") {
    import spark.implicits._
    import graft.verify.Verifier._
    // one real duplicate (id 1 twice) + two NULL-keyed rows
    val df = Seq(Option(1L), Option(1L), None, None, Option(2L))
      .toDF("id")
    val got = constraintReport(df, Seq(Unique(Seq("id")), NotNull("id")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("unique(id)") === 1L)   // NOT 3: nulls don't charge
    assert(got("not_null(id)") === 2L) // nulls charged exactly once
    // a lone NULL-keyed row with no duplicates passes Unique
    val lone = constraintReport(
      Seq(Option(1L), None).toDF("id"), Seq(Unique(Seq("id"))))
      .collect().head
    assert(lone.getLong(1) === 0L && lone.getBoolean(2))
  }

  test("all five reference invariants hold on fixtures") {
    val li = Tables.df(spark, sf, "lineitem")
    val o = Tables.df(spark, sf, "orders")
    val ev = Tables.df(spark, sf, "events")
    val blocks = graft.enrich.Enrich.blocks(EvmFixtures.blocks(o))
    val txs = graft.enrich.Enrich.transactions(
      EvmFixtures.transactions(li), EvmFixtures.blocks(o),
      EvmFixtures.receipts(li))
    val logs = graft.enrich.Enrich.logs(
      EvmFixtures.logs(ev), EvmFixtures.blocksForLogs(ev))
    val traces = graft.enrich.Enrich.traces(
      EvmFixtures.traces(li), EvmFixtures.blocks(o))
    val results = Verifier.runAll(blocks, txs, logs, traces)
    // fixture root traces (l_linenumber%3==0, non-null hash) do NOT
    // equal tx count by construction — that invariant must FAIL here,
    // proving the check detects violations; the 4 have_latest pass
    assert(results.take(4).forall(_.isRight))
    assert(results.last.isLeft)
  }

  test("an empty logs frame fails exactly the logs invariant") {
    val li = Tables.df(spark, sf, "lineitem")
    val o = Tables.df(spark, sf, "orders")
    val ev = Tables.df(spark, sf, "events")
    val blocks = graft.enrich.Enrich.blocks(EvmFixtures.blocks(o))
    val txs = graft.enrich.Enrich.transactions(
      EvmFixtures.transactions(li), EvmFixtures.blocks(o),
      EvmFixtures.receipts(li))
    val logs = graft.enrich.Enrich.logs(
      EvmFixtures.logs(ev), EvmFixtures.blocksForLogs(ev))
    val traces = graft.enrich.Enrich.traces(
      EvmFixtures.traces(li), EvmFixtures.blocks(o))
    val full = Verifier.runAll(blocks, txs, logs, traces)
    val noLogs = Verifier.runAll(blocks, txs, logs.limit(0), traces)
    assert(noLogs(2) ==
      Left(Verifier.VerifyError("logs", "logs partition is empty")))
    assert(full(2).isRight)
    assert(noLogs.patch(2, Nil, 1) == full.patch(2, Nil, 1))
  }

  test("raise_error parity throws on empty input") {
    val empty = Tables.df(spark, sf, "lineitem").filter(lit(false))
    val probe = Verifier.raiseSql(spark, empty, 1, "empty partition")
    val e = intercept[Exception](probe.collect())
    assert(e.getMessage.contains("empty partition"))
  }

  test("raise_error parity passes on non-empty input") {
    val li = Tables.df(spark, sf, "lineitem")
    val rows = Verifier.raiseSql(spark, li, 1, "should not throw").collect()
    assert(rows.head.getInt(0) == 1)
  }
}

class StreamingSpec extends AnyFunSuite {
  import TestSession._

  test("streaming constraint fold over multiple micro-batches equals " +
      "the batch report (row-local constraints are algebraic)") {
    import graft.verify.Verifier._
    val ev = Tables.df(spark, sf, "events")
    val cs = Seq(NotNull("user_id"), InRange("value", 0.0, 50.0),
      OneOf("event_type", Seq("click", "view", "purchase", "signup")))
    val want = constraintReport(ev, cs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val staged = java.nio.file.Files.createTempDirectory("graft_sconsp")
    try {
      (0 until 3).foreach(i =>
        ev.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(staged.toString))
      val got = graft.streaming.IngestStream.runConstraintsToBatch(
          spark, staged.toString, cs,
          graft.streaming.EventsStream.eventsFileSchema,
          maxFilesPerTrigger = Some(1))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("streaming windowed agg equals batch twin") {
    // catalog queries render the decimal sum as its exact string; the
    // raw stream still carries DECIMAL(38,6) — compare via toString
    val batch = graft.queries.Catalog.byName("q_time_window_agg")
      .fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3))).toSet
    val stream = graft.streaming.EventsStream
      .runToBatch(spark, s"$sf/events.parquet", "spec_stream")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).toString)).toSet
    assert(stream == batch)
  }

  test("stream-static incremental dedup: surviving fp set equals the " +
      "batch twin; stream-internal dups collapse; kept id is a batch id") {
    import spark.implicits._
    val docs = graft.core.Tables.df(spark, sf, "documents")
    val seen = graft.ops.Dedup.exact(
        docs.filter(col("doc_id") % 5 =!= 0), col("doc_id"), col("text"))
      .select("text_md5")
    val batchTwin = graft.ops.Dedup.incrementalExact(
        docs.filter(col("doc_id") % 5 === 0), seen, "doc_id", "text")
      .collect().map(r => r.getString(1)).toSet
    val stream = graft.streaming.IngestStream.runDedupToBatch(spark,
        s"$sf/documents.parquet", seen, "spec_sidedup",
        pre = _.filter(col("doc_id") % 5 === 0))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(stream.map(_._1).toSet == batchTwin)
    // at most one emission per fingerprint, and every kept id belongs
    // to the streamed slice
    assert(stream.map(_._1).distinct.length == stream.length)
    assert(stream.forall(_._2 % 5 == 0))
    // stream-internal duplicate handling: a doubled batch (same texts
    // under new ids) must not grow the surviving fp set
    val dir2 = java.nio.file.Files.createTempDirectory("graft_dup_batch")
    try {
      val doubled = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      doubled.unionAll(doubled.withColumn("doc_id", col("doc_id") + 1000000L))
        .coalesce(1).write.mode("overwrite")
        .parquet(dir2.resolve("batch.parquet").toString)
      // the writer emits a DIRECTORY; stage its single part file
      val part = java.nio.file.Files.list(
          dir2.resolve("batch.parquet")).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val stream2 = graft.streaming.IngestStream.runDedupToBatch(spark,
          part, seen, "spec_sidedup2")
        .collect().map(_.getString(0)).toSet
      assert(stream2 == batchTwin)
    } finally graft.core.Fs.deleteRecursively(dir2)
  }

  test("stream-static incremental NEAR-dup: multi-batch ingest loop " +
      "equals the single-batch twin; later batches dedup against " +
      "earlier survivors") {
    import spark.implicits._
    // index: two ingested docs. stream, split across TWO micro-batch
    // files: file1 = {dup-of-ingested (drops), novel A (survives),
    // novel B (survives)}; file2 = {dup-of-file1's-survivor A (drops
    // — ONLY because the loop appended batch-1 survivors to the
    // index), novel C (survives), short-doc dup of ingested short
    // (drops via the sentinel path)}
    val seenDocs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "tiny doc")).toDF("doc_id", "text")
    val seenBands = graft.ops.Dedup.lshBands(
      graft.ops.Dedup.minhashSignature(seenDocs, "doc_id", "text", 3, 16),
      16, 4)
    val f1 = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "one two three four five"),
      (12L, "six seven eight nine ten")).toDF("doc_id", "text")
    val f2 = Seq(
      (20L, "one two three four five"),
      (21L, "eleven twelve thirteen fourteen"),
      (22L, "tiny doc")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_snear_mb")
    try {
      f1.coalesce(1).write.parquet(dir.resolve("b1").toString)
      f2.coalesce(1).write.parquet(dir.resolve("b2").toString)
      def part(sub: String): java.io.File = java.nio.file.Files
        .list(dir.resolve(sub)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).map(new java.io.File(_)).head
      val staged = java.nio.file.Files.createTempDirectory("graft_snear_s")
      val p1 = staged.resolve("b1.parquet")
      val p2 = staged.resolve("b2.parquet")
      java.nio.file.Files.copy(part("b1").toPath, p1)
      java.nio.file.Files.copy(part("b2").toPath, p2)
      // FileStreamSource orders files by modification time — force
      // b1 strictly earlier so maxFilesPerTrigger=1 yields the
      // intended batch sequence deterministically
      p1.toFile.setLastModified(p2.toFile.lastModified() - 60000L)
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val keptDf = graft.streaming.IngestStream.runNearDedupToBatch(spark,
          staged.toString, seenBands, seenDocs,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType))),
          maxFilesPerTrigger = Some(1))
      val kept = keptDf.collect().map(_.getLong(0)).toSet
      // only the returned survivor ids stay persisted: the band and doc
      // index checkpoints are freed when the stream ends
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= 1, s"leaked ${leaked.size}")
      graft.core.Checkpoints.release(keptDf)
      assert(kept == Set(11L, 12L, 21L), s"got $kept")
      // sequential ingest ≡ the single-batch twin over the union (at
      // minJaccard = 1.0 near-dup is set-equality, so batch
      // partitioning cannot change survivors; min-id and first-arrival
      // agree because earlier files carry smaller ids here)
      val single = graft.ops.Dedup.incrementalNearDup(
          f1.unionByName(f2), seenBands, seenDocs, "doc_id", "text")
        .collect().map(_.getLong(0)).toSet
      assert(kept == single, s"stream $kept != single-batch $single")
      graft.core.Fs.deleteRecursively(staged)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("streaming profile maintenance continues a WARM warehouse " +
      "profile: initial + streamed batches equals the direct profile " +
      "of everything") {
    import spark.implicits._
    val tok = size(split(col("text"), " "))
    // warehouse already profiled these before the stream started
    val history = Seq(
      (1L, "alpha beta gamma", "web"),
      (2L, "delta epsilon", "web"),
      (3L, "zeta eta theta iota", "books")).toDF("doc_id", "text", "source")
    val streamed = Seq(
      (10L, "kappa lambda", "web"),
      (11L, "alpha beta gamma", "web"),   // dup content: sketch unions
      (12L, "mu nu xi omicron pi", "news") // new source appears mid-stream
    ).toDF("doc_id", "text", "source")
    val initial = graft.ops.Stats.sourceProfile(history,
      "source", "text", tok, k = 4)
    val staged = java.nio.file.Files.createTempDirectory("graft_sprof_t")
    try {
      streamed.coalesce(1).write.mode("append").parquet(staged.toString)
      val got = graft.streaming.IngestStream.runProfileToBatch(spark,
          staged.toString, initial, "source", "text", k = 4,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("text",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType))))
      val direct = graft.ops.Stats.sourceProfile(
        history.unionByName(streamed), "source", "text", tok, k = 4)
      def m(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getSeq[Long](5).toList))).toMap
      assert(m(got) == m(direct) && m(got).keySet == Set("web", "books",
        "news"))
    } finally graft.core.Fs.deleteRecursively(staged.toFile)
  }

  test("stream-stream interval join equals batch interval join") {
    import org.apache.spark.sql.functions._
    val stream = graft.streaming.EventsStream
      .runViewClickToBatch(spark, s"$sf/events.parquet",
        s"graft_ssj_test_${System.nanoTime()}")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val ev = Tables.df(spark, sf, "events")
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        unix_micros(col("ts")).as("view_us"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"))
    val batch = v.join(c, col("user_id") === col("cu") &&
        col("click_us") >= col("view_us") &&
        col("click_us") <= col("view_us") + expr("21600000000"))
      .select("user_id", "view_id", "click_id", "view_us", "click_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(stream.nonEmpty && stream == batch)
  }
}

class MultimodalSpec extends AnyFunSuite {
  import TestSession._

  test("audio fingerprint: real decode, deterministic bits, junk → None") {
    import graft.ops.Multimodal
    val p = Multimodal.wavPayload(8000, 2, 300, seed = 17)
    val fp1 = Multimodal.audioFingerprint(p)
    assert(fp1.nonEmpty, "canonical PCM16 WAV must fingerprint")
    // byte-identical payload → identical bits (re-encode dedup case)
    assert(Multimodal.audioFingerprint(
      Multimodal.wavPayload(8000, 2, 300, seed = 17)) == fp1)
    // different waveform (other seed) → different bits on this fixture
    assert(Multimodal.audioFingerprint(
      Multimodal.wavPayload(8000, 2, 300, seed = 18)) != fp1)
    // sample-rate-only change keeps the waveform → same bits (the
    // perceptual contract: the grid reads samples, not the header rate)
    assert(Multimodal.audioFingerprint(
      Multimodal.wavPayload(16000, 2, 300, seed = 17)) == fp1)
    // torn payload and non-audio bytes → None, not an exception
    assert(Multimodal.audioFingerprint(p.take(30)).isEmpty)
    assert(Multimodal.audioFingerprint(
      "not audio at all".getBytes("UTF-8")).isEmpty)
  }

  test("audio delta fingerprint holds the ≤3 near-dup threshold with " +
      "margin: append edits flip 0 bits, in-window corruption ≤2, " +
      "NO distinct pair comes near it") {
    import graft.ops.Multimodal
    // the catalog corpus' payload recipe (full-id seed, ≥300 frames)
    def payload(id: Long, extra: Int): Array[Byte] =
      Multimodal.wavPayload(8000 + (id % 4).toInt * 4000,
        1 + (id % 2).toInt, 300 + (id % 400).toInt + extra, id.toInt)
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    val ids = 0L until 120L
    val base = ids.map(id =>
      id -> Multimodal.audioFingerprint(payload(id, 0)).get).toMap
    // one-frame append edits land beyond the 272-sample leading
    // window, so the flip count is STRUCTURALLY zero — asserted for
    // every id, not just the catalog's %10==5 slice
    ids.foreach { id =>
      val e = Multimodal.audioFingerprint(payload(id, 1)).get
      val d = ham(base(id), e)
      assert(d == 0, s"one-frame append edit of id=$id flipped $d bits")
    }
    // IN-window corruption: zero one sample inside frame 8 — only
    // that band's two adjacent deltas can flip (≤2); the 43 other
    // 16-sample frames' bits are untouched by absolute indexing
    ids.take(40).foreach { id =>
      val p = payload(id, 0)
      // sample 130 lives at pcm offset 44 (RIFF header) + 2·130
      val corrupted = p.clone()
      corrupted(44 + 260) = 0
      corrupted(44 + 261) = 0
      val d = ham(base(id),
        Multimodal.audioFingerprint(corrupted).get)
      assert(d <= 2, s"one-sample corruption of id=$id flipped $d bits")
    }
    // distinct docs: every cross pair far outside the threshold (the
    // r12 signature fused 578/650 ids at this threshold)
    val dists = for {
      a <- ids; b <- ids if a < b
    } yield ham(base(a), base(b))
    assert(dists.min > 3,
      s"distinct docs within near-dup threshold: min=${dists.min}")
    // ...and not marginally: the typical pair sits ~half the 64
    // delta bits apart
    val sorted = dists.sorted
    assert(sorted(sorted.length / 2) >= 16,
      s"median distinct-pair distance ${sorted(sorted.length / 2)}")
  }

  test("audio near-dup banding: exact re-encodes pair at Hamming 0 " +
      "through the banded join") {
    import spark.implicits._
    import graft.ops.Multimodal
    val hashes = (0L until 20L).flatMap { id =>
      val (hi, lo) = Multimodal.audioFingerprint(
        Multimodal.wavPayload(8000, 1, 100 + id.toInt * 7,
          seed = id.toInt * 13)).get
      // ids 0/5/10/15 get an exact re-encoded copy under +1000
      if (id % 5 == 0) Seq((id, hi, lo), (id + 1000L, hi, lo))
      else Seq((id, hi, lo))
    }.toDF("media_id", "afp_hi", "afp_lo")
    val pairs = Multimodal.aHashNearDupPairs(hashes, "media_id",
        "afp_hi", "afp_lo", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exact = pairs.filter(p => p._2 == p._1 + 1000L)
    assert(exact.map(_._1).toSet == Set(0L, 5L, 10L, 15L),
      s"re-encoded copies missed: ${exact.mkString(",")}")
    assert(exact.forall(_._3 == 0L), "identical bits must be Hamming 0")
  }

  test("binary pipeline: schema, partitioning, deterministic decode") {
    implicit val s = spark
    val docs = Tables.df(spark, sf, "documents")
    val media = graft.ops.Multimodal.fromDocuments(docs)
    val feats = graft.ops.Multimodal.extractFeatures(media, 4)
    assert(feats.rdd.getNumPartitions == 4)
    val rows = feats.collect()
    assert(rows.length == docs.count())
    // decode is deterministic: re-running yields identical checksums
    val again = graft.ops.Multimodal.extractFeatures(media, 2)
      .collect().map(f => f.media_id -> f.checksum).toMap
    rows.foreach(f => assert(again(f.media_id) == f.checksum))
  }

  test("aHash: near-identical images land within a small Hamming " +
      "distance, unrelated images ~32 bits apart; junk bytes → None") {
    import graft.ops.Multimodal
    // the catalog fixture's 3-round mixer (a single Lehmer round is
    // linear across ids and collapses images onto identical hashes)
    def g(id: Long)(j: Int): Int = {
      val u1 = ((id * 64 + j) % 2147483646L + 1) * 48271L % 2147483647L
      val u3 = (u1 ^ (u1 / 32768)) * 69621L % 2147483647L
      ((u3 ^ (u3 / 8192)) % 256L).toInt
    }
    val base = Multimodal.imageAHash(
      Multimodal.bmpPayload(g(7L), 8, 8)).get
    // perturb ONE pixel by one gray level — a re-encode / slight edit
    val tweaked = Multimodal.imageAHash(Multimodal.bmpPayload(
      j => if (j == 13) (g(7L)(13) + 1) min 255 else g(7L)(j), 8, 8)).get
    assert(Multimodal.aHashHamming(base, tweaked) <= 4,
      s"near-copy too far: ${Multimodal.aHashHamming(base, tweaked)}")
    // a different id draws an unrelated pseudorandom image: expected
    // ~half of the 64 bits differ
    val other = Multimodal.imageAHash(
      Multimodal.bmpPayload(g(9999L), 8, 8)).get
    assert(Multimodal.aHashHamming(base, other) >= 10,
      s"unrelated too close: ${Multimodal.aHashHamming(base, other)}")
    // a 16x16 upscale of the same content block-means back to the
    // same 8x8 cells → identical hash (scale invariance of aHash)
    val up = Multimodal.imageAHash(Multimodal.bmpPayload(
      j => { val y = j / 16; val x = j % 16; g(7L)((y / 2) * 8 + x / 2) },
      16, 16)).get
    assert(up == base, s"upscaled hash drifted: $up vs $base")
    assert(Multimodal.imageAHash("not an image".getBytes).isEmpty)
  }

  test("image payloads decode for real via ImageIO; bad bytes fall back") {
    import graft.ops.Multimodal
    import Multimodal.MediaRecord
    val s = spark; import s.implicits._
    val img = new java.awt.image.BufferedImage(7, 5,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(3, 2, 0xff00ff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val recs = Seq(
      MediaRecord(1L, png, "image/png"),
      MediaRecord(2L, Array[Byte](1, 2, 3), "image/png"), // torn payload
      MediaRecord(3L, png, "fake/en")) // non-image media_type: stub path
    val out = Multimodal.extractFeatures(recs.toDS(), 2)
      .collect().map(f => f.media_id -> f).toMap
    assert(out(1L).width == 7 && out(1L).height == 5 &&
      out(1L).n_frames == 1)
    // byte-derived fields come from the payload either way
    assert(out(1L).byte_len == png.length.toLong &&
      out(1L).checksum == Multimodal.fakeDecode(recs.head).checksum)
    assert(out(2L) == Multimodal.fakeDecode(recs(1)))
    assert(out(3L) == Multimodal.fakeDecode(recs(2)))
  }
}

class SkewJoinSpec extends AnyFunSuite {
  import TestSession._

  test("salted join equals plain join on skewed key") {
    val li = Tables.df(spark, sf, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"))
    val dim = Tables.df(spark, sf, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val plain = li.join(dim, "l_partkey")
      .groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.ops.SkewJoin.salted(li, dim, "l_partkey", 8)
      .groupBy("p_brand").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted count equals plain count") {
    val li = Tables.df(spark, sf, "lineitem")
    val plain = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.ops.SkewJoin.saltedCount(li, "l_returnflag", 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}

class IvfSpec extends AnyFunSuite {
  import TestSession._

  test("IVF top-k recall vs brute force is usable") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall")
  }

  test("IVF×PQ composition: recall floor and determinism") {
    val emb = Tables.df(spark, sf, "embeddings")
    val qs = emb.filter(col("vec_id") % 50 === 0)
    val brute = Similarity.bruteForceTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfPqTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query keeps exactly k rows; recall is bounded by the IVF
    // cell pruning (the ADC+re-rank inside reached cells is near-exact
    // — PQ alone measures 0.98), so the floor mirrors the ivf-alone
    // spec above
    assert(ivfpq.size == brute.size)
    val recall = (brute & ivfpq).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF×PQ recall $recall")
    val again = Similarity.ivfPqTopK(emb, qs, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == ivfpq)
  }
}

class SessionizeSpec extends AnyFunSuite {
  import TestSession._
  import graft.streaming.Sessionize

  test("stateful streaming sessionize equals batch twin") {
    import spark.implicits._
    val gap = 600000L
    val ev = Tables.df(spark, sf, "events")
      .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
        col("event_type"))
      .as[Sessionize.Event]
    val batch = Sessionize.sessionizeBatch(spark, ev, gap)
      .collect().toSet

    // stage events as a file stream; a far-future sentinel per user in a
    // SECOND batch forces every real session closed (incremental state
    // across micro-batches is exactly what this exercises)
    val dir = java.nio.file.Files.createTempDirectory("graft_sess")
      .toString
    ev.toDF().coalesce(1).write.mode("append").parquet(dir)
    val maxTs = ev.agg(max($"ts_ms")).first().getLong(0)
    val q = Sessionize.sessionize(
        spark.readStream.schema(ev.toDF().schema).parquet(dir)
          .as[Sessionize.Event], gap)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      ev.select($"user_id").distinct()
        .select($"user_id", lit(maxTs + 100 * gap).as("ts_ms"),
          lit("sentinel").as("event_type"))
        .coalesce(1).write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_out").as[Sessionize.Session]
      .filter($"end_ms" <= maxTs) // drop sentinel-only sessions
      .collect().toSet
    assert(streamed == batch)
  }
}

/** The sessionize half of the out-of-order contract: [[Sessionize
  * .sessionize]] sorts within a micro-batch but cross-batch in-order
  * delivery is an implicit precondition — these specs feed
  * time-shuffled micro-batches and pin that (a) the plain fold really
  * does diverge there, (b) `sessionizeReordered` restores the exact
  * batch session set for within-lateness disorder (including closing
  * idle/trailing sessions on the watermark itself), and (c) a
  * beyond-window straggler is dropped deterministically by the
  * watermark exec.
  */
class SessionizeReorderSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._
  import graft.streaming.Sessionize

  private val gap = 600000L // 10 min
  private val base = 1700000000000L

  // u1: A..B one session, C alone; u2: D..E one session. Delivery
  // shuffles u1's B into the batch AFTER C (25 min of disorder).
  private val A = base; private val B = base + 300000L
  private val C = base + 1800000L
  private val D = base + 60000L; private val E = base + 120000L
  private val fixture = Seq((1L, A), (2L, D), (1L, C), (2L, E), (1L, B))
  private val batches = Seq(Seq((1L, A), (2L, D)),
    Seq((1L, C), (2L, E)), Seq((1L, B)))

  private def eventsDf(rows: Seq[(Long, Long)]) =
    rows.toDF("user_id", "ts_ms")
      .select(lit(0L).as("event_id"),
        timestamp_millis(col("ts_ms")).as("ts"), col("user_id"),
        lit("view").as("event_type"), lit(0.0).as("value"),
        lit("").as("props"))

  private def stage(bs: Seq[Seq[(Long, Long)]]): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sesoo")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sesoo_w")
    val now = System.currentTimeMillis()
    bs.zipWithIndex.foreach { case (rows, i) =>
      eventsDf(rows).coalesce(1)
        .write.parquet(tmp.resolve(s"b$i").toString)
      val part = java.nio.file.Files.list(tmp.resolve(s"b$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(now - (bs.length + 1 - i) * 60000L): Unit
    }
    graft.core.Fs.deleteRecursively(tmp)
    dir
  }

  private def batchSessions(rows: Seq[(Long, Long)]) =
    Sessionize.sessionizeBatch(spark,
      rows.map { case (u, t) => (u, t, "view") }
        .toDF("user_id", "ts_ms", "event_type").as[Sessionize.Event],
      gap).collect().toSet

  test("the plain fold's in-order precondition is load-bearing: " +
      "shuffled delivery corrupts sessions; the reordering fold " +
      "restores the exact batch session set, trailing sessions " +
      "included") {
    val want = batchSessions(fixture)
    assert(want === Set(
      Sessionize.Session(1L, A, B, 2), Sessionize.Session(1L, C, C, 1),
      Sessionize.Session(2L, D, E, 2)))
    val dir = stage(batches)
    try {
      // plain fold, one file per batch: u1's late B EXTENDS the [C]
      // session backwards (B - C < 0 <= gap) instead of completing
      // [A, B] — only the A-singleton ever closes
      val qn = s"sess_plain_${System.nanoTime()}"
      val q = Sessionize.sessionize(
          spark.readStream.schema(
              graft.streaming.EventsStream.eventsFileSchema)
            .option("maxFilesPerTrigger", 1).parquet(dir.toString)
            .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
              col("event_type")).as[Sessionize.Event], gap)
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val plainClosed = spark.table(qn).as[Sessionize.Session]
        .collect().toSet
      assert(plainClosed === Set(Sessionize.Session(1L, A, A, 1)))
      // reordered fold, 30 min lateness covers the 25 min disorder
      val got = Sessionize.runSessionizeToBatchReordered(spark,
          dir.toString, gap, latenessMs = 1800000L,
          maxFilesPerTrigger = Some(1))
        .as[Sessionize.Session].collect().toSet
      assert(got === want)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("a straggler beyond the lateness window is dropped by the " +
      "watermark, deterministically") {
    // u3's lone event sits an hour before base but is delivered in
    // the LAST batch — 30 min lateness makes it sub-watermark there
    val straggler = (3L, base - 3600000L)
    val dir = stage(batches.init :+ (batches.last :+ straggler))
    try {
      val got = Sessionize.runSessionizeToBatchReordered(spark,
          dir.toString, gap, latenessMs = 1800000L,
          maxFilesPerTrigger = Some(1))
        .as[Sessionize.Session].collect().toSet
      assert(got === batchSessions(fixture)) // u3 vanished
      assert(batchSessions(fixture :+ straggler) !== got)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("adversarial round-robin staging of the sf0.001 events table " +
      "equals the batch twin exactly") {
    val ev = Tables.df(spark, sf, "events")
    val evt = ev.select(col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("event_type"))
      .as[Sessionize.Event]
    val want = Sessionize.sessionizeBatch(spark, evt, gap)
      .collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_sesoo3")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sesoo3_w")
    val now = System.currentTimeMillis()
    (0 until 4).foreach { i =>
      ev.filter(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(tmp.resolve(s"b$i").toString)
      val part = java.nio.file.Files.list(tmp.resolve(s"b$i")).toArray
        .map(_.toString).filter(_.endsWith(".parquet")).head
      val dst = dir.resolve(s"b$i.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(now - (6 - i) * 60000L): Unit
    }
    graft.core.Fs.deleteRecursively(tmp)
    try {
      val got = Sessionize.runSessionizeToBatchReordered(spark,
          dir.toString, gap, latenessMs = 40L * 86400000L,
          maxFilesPerTrigger = Some(1))
        .as[Sessionize.Session].collect().toSet
      assert(got === want)
      assert(want.nonEmpty)
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("PROPERTY: any batch assignment of random events, folded " +
      "under full-span lateness, equals the batch session set") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genCase = Gen.listOfN(25, for {
      u <- Gen.chooseNum(0L, 3L)
      sec <- Gen.chooseNum(0L, 7200L)
      b <- Gen.chooseNum(0, 2)
    } yield (u, sec, b))
    val prop = Prop.forAll(genCase) { evs =>
      val rows = evs.map { case (u, sec, _) => (u, base + sec * 1000L) }
      val want = batchSessions(rows)
      val bs = (0 until 3).map(b =>
        evs.collect { case (u, sec, `b`) => (u, base + sec * 1000L) })
      val dir = stage(bs)
      try {
        val got = Sessionize.runSessionizeToBatchReordered(spark,
            dir.toString, gap, latenessMs = 7300000L,
            maxFilesPerTrigger = Some(1))
          .as[Sessionize.Session].collect().toSet
        got == want
      } finally graft.core.Fs.deleteRecursively(dir)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }
}

class StatsSpec extends AnyFunSuite {
  import TestSession._
  import spark.implicits._

  test("exact quantiles: hand-computed type-1 ranks on a known domain") {
    // 1..100 once each: rank(p) = ceil(p·100/1000), v_at = rank
    val df = (1 to 100).toDF("x")
    val got = graft.ops.Stats.exactQuantiles(df, col("x"),
        Seq(100, 500, 990, 1000))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(100L -> 10L, 500L -> 50L, 990L -> 99L, 1000L -> 100L))
  }

  test("exact quantiles: duplicates, nulls and the ceiling edge") {
    // values [1,1,1,9] + a null (excluded): N=4; p500 → rank 2 → 1
    // (cum(1)=3 ≥ 2), p1000 → rank 4 → 9; p1 → rank ceil(0.004)=1 → 1
    val df = Seq[java.lang.Integer](1, 1, 1, 9, null).toDF("x")
    val got = graft.ops.Stats.exactQuantiles(df, col("x"), Seq(1, 500, 1000))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 500L -> 1L, 1000L -> 9L))
  }

  test("exact quantiles: cardinality contract violation fails loudly") {
    // a raw continuous column silently becomes a one-reducer sort of
    // the corpus without the guard — misuse must be an ERROR, not a
    // slow job. The guard rides the rank expression, so any action on
    // the result trips it.
    val df = (1 to 100).toDF("x")
    val ex = intercept[Exception] {
      graft.ops.Stats.exactQuantiles(df, col("x"), Seq(500),
        maxDistinct = 10).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("bounded-cardinality")),
      s"guard did not fire: $ex")
    // at or under the cap, values are unchanged
    val ok = graft.ops.Stats.exactQuantiles(df, col("x"), Seq(500),
      maxDistinct = 100).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(ok.toMap == Map(500L -> 50L))
  }

  test("binned quantiles bracket the exact quantile; degenerate range " +
      "collapses to a zero-width bin") {
    // 1000 distinct continuous values — exactQuantiles territory
    // violation by construction, binnedQuantiles' whole purpose
    val xs = (0 until 1000).map(i => 1.0 + i * 0.003)
    val df = xs.toDF("x")
    val got = graft.ops.Stats.binnedQuantiles(df, col("x"),
        Seq(500, 990), bits = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val sorted = xs.sorted
    for ((p, (bin, lo, hi)) <- got) {
      val exact = sorted((p.toInt * 1000 + 999) / 1000 - 1)
      assert(bin >= 0 && bin < 16, s"bin $bin out of range")
      assert(lo <= exact && exact <= hi,
        s"p=$p: exact $exact outside bracket [$lo, $hi]")
      // bracket width is the guaranteed error bound (max-min)/2^bits
      assert(hi - lo <= (sorted.last - sorted.head) / 16 + 1e-12)
    }
    // all-equal column: everything lands in bin 0, zero-width bracket
    val one = Seq.fill(10)(7.5).toDF("x")
    val deg = graft.ops.Stats.binnedQuantiles(one, col("x"), Seq(500))
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(deg.forall { case (b, lo, hi) => b == 0L && lo == 7.5 && hi == 7.5 })
  }

  test("threshold sweep: cumulative-from-top volumes, bottom bin " +
      "carries the corpus totals, null scores excluded") {
    // 4 bins over scores 0..1: docs at 0.0 (t=10), 0.3 (t=20),
    // 0.6 (t=40), 0.9 (t=80), 1.0 (t=160) — the max clamps into the
    // top bin alongside 0.9
    val rows: Seq[(Double, Long)] = Seq((0.0, 10L), (0.3, 20L),
      (0.6, 40L), (0.9, 80L), (1.0, 160L))
    val df = rows.toDF("s", "t")
      .unionByName(Seq((0.0, 5L)).toDF("s", "t")
        .select(lit(null).cast("double").as("s"), col("t")))
    val got = graft.ops.Stats.thresholdSweep(df, col("s"), col("t"),
        bits = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // bin → (thr_lo, n_docs, n_tokens, cum_docs, cum_tokens)
    assert(got == Map(
      3L -> ((0.75, 2L, 240L, 2L, 240L)),
      2L -> ((0.50, 1L, 40L, 3L, 280L)),
      1L -> ((0.25, 1L, 20L, 4L, 300L)),
      0L -> ((0.00, 1L, 10L, 5L, 310L))))
    // invariant the calibration read relies on: the lowest bin's
    // cumulative equals the corpus totals (keep-everything cutoff) —
    // the null-score row's 5 tokens never enter
    assert(got(0L)._4 == 5L && got(0L)._5 == 310L)
  }

  test("tagged multi-score sweep: per tag bit-identical to an " +
      "independent thresholdSweep of that column (incl. a NaN/null " +
      "score and a degenerate all-equal column)") {
    // two score columns with different ranges, one NaN in s1, one
    // null in s2, and s3 degenerate (all rows equal → bin 0)
    val rows: Seq[(Long, Double, Double, Double, Long)] = Seq(
      (1L, 0.0, 10.0, 7.5, 10L), (2L, 0.3, Double.NaN, 7.5, 20L),
      (3L, 0.6, 30.0, 7.5, 40L), (4L, 0.9, 40.0, 7.5, 80L),
      (5L, 1.0, 50.0, 7.5, 160L))
    val df = rows.toDF("id", "s1", "s2", "s3", "t")
      .withColumn("s2",
        when(col("id") === 4L, lit(null).cast("double"))
          .otherwise(col("s2")))
    val tags = Seq("a" -> col("s1"), "b" -> col("s2"),
      "c" -> col("s3"))
    val multi = graft.ops.Stats.thresholdSweepTagged(df, tags,
        col("t"), bits = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    val single = tags.flatMap { case (tag, c) =>
      graft.ops.Stats.thresholdSweep(df, c, col("t"), bits = 2)
        .collect()
        .map(r => (tag, r.getLong(0)) ->
          ((r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getLong(5))))
    }.toMap
    assert(multi === single)
  }

  test("quantile buckets: ~equal mass on a smooth score, monotone in " +
      "score, ties lump into one bucket") {
    import spark.implicits._
    val smooth = (0 until 1000).map(i => (i.toLong, i * 0.001))
      .toDF("doc_id", "s")
    val got = graft.ops.Stats.quantileBuckets(smooth, "doc_id",
        col("s"), nBuckets = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == (1L to 10L).toSet, s"buckets ${sizes.keySet}")
    // equal mass to bin granularity: 1000 docs over 1024 bins → each
    // decile within a couple of bins of 100
    sizes.values.foreach(n => assert(n >= 90 && n <= 110, s"sizes $sizes"))
    // monotone: a higher score never lands in a lower bucket
    val byScore = got.toSeq.sortBy(_._1).map(_._2)
    assert(byScore == byScore.sorted)
    // massive tie: 90% zeros land in ONE bucket together
    val tied = ((0 until 900).map(i => (i.toLong, 0.0)) ++
      (900 until 1000).map(i => (i.toLong, i * 0.001)))
      .toDF("doc_id", "s")
    val tb = graft.ops.Stats.quantileBuckets(tied, "doc_id", col("s"),
        nBuckets = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tb.filter(_._1 < 900).values.toSet.size == 1)
  }

  test("quantileBuckets accepts non-divisor nBuckets (CCNet " +
      "head/middle/tail tiers=3): near-equal mass, monotone") {
    import spark.implicits._
    val df = (0 until 999).map(i => (i.toLong, i * 0.001))
      .toDF("doc_id", "s")
    val got = graft.ops.Stats.quantileBuckets(df, "doc_id", col("s"),
        nBuckets = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val sizes = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(sizes.keySet == (1L to 3L).toSet, s"buckets ${sizes.keySet}")
    sizes.values.foreach(n =>
      assert(n >= 300 && n <= 366, s"tier sizes $sizes"))
    val byScore = got.toSeq.sortBy(_._1).map(_._2)
    assert(byScore == byScore.sorted)
  }

  test("per-group quantile buckets: each group tiered against its OWN " +
      "distribution, monotone within group") {
    import spark.implicits._
    // group a: scores 0..99; group b: 1000..1099 — a global tiering
    // would put ALL of a in the head and ALL of b in the tail
    val df = ((0 until 100).map(i => ("a", i.toLong, i * 1.0)) ++
      (0 until 100).map(i => ("b", 100L + i, 1000.0 + i)))
      .toDF("g", "doc_id", "s")
    val got = graft.ops.Stats.quantileBucketsBy(df, "g", "doc_id",
        col("s"), nBuckets = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getAs[Long]("bucket"))
      .toMap
    Seq("a", "b").foreach { g =>
      val ids = got.keys.filter(_._1 == g).map(_._2).toSeq.sorted
      val buckets = ids.map(i => got((g, i)))
      assert(buckets.toSet == Set(1L, 2L, 3L),
        s"group $g missing tiers: ${buckets.toSet}")
      assert(buckets == buckets.sorted, s"group $g not monotone")
      // near-equal mass per tier
      val sizes = buckets.groupBy(identity).view.mapValues(_.size)
      sizes.values.foreach(n => assert(n >= 30 && n <= 37, s"$g $sizes"))
    }
  }

  test("sourceProfile merge identity: folding disjoint shard profiles " +
      "equals profiling the union, sketch included; estimator is " +
      "usable at saturation and exact below k") {
    val docs = Tables.df(spark, sf, "documents")
    val tok = size(split(col("text"), " "))
    def key(r: org.apache.spark.sql.Row) =
      Option(r.getString(0)).getOrElse("∅") ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4),
          r.getSeq[Long](5).toList))
    val direct = graft.ops.Stats.sourceProfile(docs, "source", "text",
      tok, k = 8).collect().map(key).toMap
    val shards = (0 until 4).map(i =>
      graft.ops.Stats.sourceProfile(docs.filter(col("doc_id") % 4 === i),
        "source", "text", tok, k = 8))
    val merged = graft.ops.Stats.mergeProfiles(
      shards.reduce(_ unionByName _), "source", k = 8)
      .collect().map(key).toMap
    assert(merged == direct && direct.nonEmpty)
    // estimator (the shared integer Sketch.kmvEstimate): saturated
    // sketches estimate within 5x at k=8 — a SMOKE bound chosen so
    // fixture regeneration can't flake it (KMV stderr ~1/sqrt(k-1) ≈
    // 0.38 at this tiny k; ~25 docs/source here; accuracy tightens as
    // 1/sqrt(k) in production where k = 64+). Short sketches are
    // exact by construction — truth is the DISTINCT-HASH count, which
    // is precisely what the sketch summarizes.
    import spark.implicits._
    val est = graft.ops.Stats.sourceProfile(docs, "source", "text",
        tok, k = 8)
      .select(col("source"), size(col("kmv")).as("sk"),
        graft.ops.Sketch.kmvEstimate(col("kmv"), 8).as("est"))
      .join(docs.filter(col("text").isNotNull)
          .groupBy("source")
          .agg(countDistinct(
            hash(col("text")).cast("long").bitwiseAND(lit(0xFFFFFFFFL)))
            .as("truth")),
        Seq("source"))
      .collect()
    est.foreach { r =>
      val (sk, e, truth) = (r.getInt(1), r.getLong(2), r.getLong(3))
      if (sk < 8) assert(e == truth,
        s"${r.getString(0)}: short sketch must be exact ($e vs $truth)")
      else assert(e > truth / 5L && e < truth * 5L,
        s"${r.getString(0)}: est $e vs truth $truth")
    }
  }

  test("grouped binned quantiles: independent grids per group, null " +
      "group keeps its profile row") {
    val rows: Seq[(String, Double)] =
      (0 until 100).map(i => ("a", i.toDouble)) ++
        (0 until 5).map(i => ("b", 1000.0 + i)) :+
        (null.asInstanceOf[String], 5.0)
    val df = rows.toDF("g", "x")
    val got = graft.ops.Stats.binnedQuantilesBy(df, "g", col("x"), Seq(500))
      .collect().map(r => Option(r.getString(0)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == Set(Some("a"), Some("b"), None),
      s"groups ${got.keySet}")
    // group b's OWN narrow grid: p500 rank 3 → exact 1002, bracket
    // width (1004-1000)/1024 — far finer than a's 0..99 range allows
    val (_, bLo, bHi) = got(Some("b"))
    assert(bLo <= 1002.0 && 1002.0 <= bHi && bHi - bLo < 0.005,
      s"b bracket [$bLo, $bHi]")
    val (_, aLo, aHi) = got(Some("a"))
    assert(aLo <= 49.0 && 49.0 <= aHi, s"a bracket [$aLo, $aHi]")
    // a single-value null group degenerates to its zero-width bracket
    assert(got(None)._2 == 5.0 && got(None)._3 == 5.0)
  }

  test("temperatureMixture flattens a skewed source distribution " +
      "deterministically; the smallest source keeps everything") {
    import graft.ops.Sampling
    import spark.implicits._
    // A: 4 docs, B: 64 docs; α = 1/2 → rate_A/rate_B = sqrt(4/64)·16 =
    // 4, so A (smallest) normalizes to acceptance 1.0 and B to 0.25
    val docs = ((1L to 4L).map(i => (i, "A")) ++
      (101L to 164L).map(i => (i, "B"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureMixture(docs, "doc_id", "source", 1)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val bySrc = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(bySrc.getOrElse("A", 0) == 4, s"smallest source not fully kept: $bySrc")
    val b = bySrc.getOrElse("B", 0)
    // acceptance 0.25 over 64 deterministic hash draws: loose bounds
    assert(b > 4 && b < 40, s"B kept $b of 64 at acceptance 0.25")
    // pure function: a second run reproduces the exact row set
    val again = Sampling.temperatureMixture(docs, "doc_id", "source", 1)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == again.toSet)
  }

  test("assignSplit labels are a pure function of the id (no val→train " +
      "migration as the corpus grows)") {
    import graft.ops.Sampling
    val docs = Tables.df(spark, sf, "documents")
    val full = Sampling.assignSplit(docs, "doc_id", 100, 100)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(full.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(full.values.count(_ == "train") > full.size / 2,
      "train must be the bulk at 100/100 permille")
    // growth stability: assigning on a half-corpus snapshot must agree
    // with the full corpus on every shared doc
    val half = Sampling.assignSplit(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", 100, 100)
      .select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (id, s) => full(id) == s },
      "split labels changed between corpus snapshots")
  }

  test("grouped quantiles: independent ranks per group") {
    // g1 = [1,2,3,4]: p500 → rank 2 → 2, p1000 → 4; g2 = [10,10]:
    // both permilles land on 10
    val df = Seq(("g1", 1), ("g1", 2), ("g1", 3), ("g1", 4),
      ("g2", 10), ("g2", 10)).toDF("g", "x")
    val got = graft.ops.Stats.exactQuantilesBy(df, "g", col("x"),
        Seq(500, 1000))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(("g1", 500L) -> 2L, ("g1", 1000L) -> 4L,
      ("g2", 500L) -> 10L, ("g2", 1000L) -> 10L))
  }

  test("grouped quantiles: a NULL group key gets its own profile row") {
    // un-identified language is a real corpus slice; the group join is
    // null-safe (<=>), so NULL must behave exactly like any other key
    val df = Seq((Option("g1"), 1), (Option("g1"), 3),
      (Option.empty[String], 5), (Option.empty[String], 7)).toDF("g", "x")
    val got = graft.ops.Stats.exactQuantilesBy(df, "g", col("x"),
        Seq(500, 1000))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map((Some("g1"), 500L) -> 1L, (Some("g1"), 1000L) -> 3L,
      (None, 500L) -> 5L, (None, 1000L) -> 7L))
  }

  test("exact quantiles match the sorted-array definition (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // reference model: v_at(p) = sorted(l)(ceil(p·n/1000) − 1). Few
    // samples (each runs a Spark job), many permilles per sample.
    val gen = for {
      l <- Gen.nonEmptyListOf(Gen.chooseNum(-50, 50))
      ps <- Gen.listOfN(5, Gen.chooseNum(1, 1000))
    } yield (l, ps.distinct)
    val prop = Prop.forAll(gen) { case (l, ps) =>
      val sorted = l.sorted
      val expect = ps.map(p =>
        p.toLong -> sorted(((p.toLong * l.size + 999) / 1000 - 1).toInt)
          .toLong).toMap
      val got = graft.ops.Stats.exactQuantiles(l.toDF("x"), col("x"), ps)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      got == expect
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }
}

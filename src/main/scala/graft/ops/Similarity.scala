package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{GraftColumnBridge => CB}
import graft.functions.DotProductFold

/** Approximate-nearest-neighbor operators over an embedding column
  * (`array<float>`): brute-force cosine top-k as the exact baseline and
  * a random-hyperplane-LSH bucketed variant as the 100 TB path (bucket
  * join instead of full cross product; planes are deterministic
  * Lehmer-derived pseudo-randoms — reproducible with no driver-side
  * RNG state, and rebuildable in plain SQL for the cross-engine
  * oracle).
  *
  * All arithmetic is double (floats cast up before multiply) — IEEE
  * sequential fold, bit-identical to the DuckDB oracle formulation.
  */
object Similarity {

  /** Sequential-fold dot product of two float arrays in double —
    * codegen'd flat loop, bit-identical to the HOF formulation
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it replaces (same IEEE
    * accumulation order), ~50× cheaper inside O(n²) pair joins. */
  def dot(a: Column, b: Column): Column =
    CB.column(DotProductFold(CB.expression(a), CB.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))


  /** Shared spreading policy ([[Spread]]), unkeyed — pure per-row
    * cosine work, no keyed stage to co-locate. */
  private def spread(df: DataFrame): DataFrame = Spread(df)

  /** Exact brute-force top-k neighbors for a (small, broadcast) query
    * set against the full corpus. Ties broken by neighbor id. The junk
    * filter ([[isIndexable]]) keeps the exact path CONSISTENT with
    * lshTopK on a junk-bearing corpus: without it, Spark's NaN total
    * ordering ranks a zero-norm/NaN pair (sim = 0/0 = NaN) FIRST under
    * orderBy(sim.desc) — the exact baseline would then "beat" the LSH
    * path by returning garbage neighbors. On a clean corpus the filter
    * passes every row and results are bit-identical. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    exactTopK(corpus, queries, k, idCol, vecCol, None)

  /** Deterministic pseudo-random hyperplane component: Lehmer-style
    * multiplies mod 2³¹−1 INTERLEAVED WITH XOR-SHIFT steps over the
    * seed `plane·2¹⁶ + i`, scaled to [−1, 1). Two design constraints
    * meet here:
    *  - SQL-reproducible: every step fits a 64-bit integer with NO
    *    wrap-around multiplication (max product (2³¹−1)·69621 < 2⁴⁸),
    *    so a DuckDB oracle rebuilds the identical planes in plain
    *    BIGINT SQL (xor/division/modulo only); splitmix/xxhash-style
    *    mixers need mod-2⁶⁴ wrapping, which SQL engines reject as
    *    overflow. That is what upgrades the LSH queries from rows-only
    *    to full rows+schema+hash oracles.
    *  - NON-LINEAR: k pure Lehmer rounds compose to ONE multiply
    *    (×48271ᵏ mod p), making consecutive components an arithmetic
    *    progression — sawtooth "planes" whose buckets skew so badly on
    *    clustered corpora that the 64× ramp cell spilled past the
    *    box's disk (measured, round 10). The xor-shift between
    *    multiplies breaks the linearity; multiply–xorshift sandwiches
    *    are the standard public mixer shape (xorshift/splitmix
    *    family).
    * The scaling u/2³⁰ − 1 is exact in double (integer < 2³¹,
    * power-of-two divide), so both engines see bit-identical
    * components. */
  private[graft] def planeComponent(plane: Int, i: Int): Double = {
    var u = (plane.toLong * 65536L + i) % 2147483646L + 1L
    u = u * 48271L % 2147483647L
    u ^= u >>> 15
    u = u * 69621L % 2147483647L
    u ^= u >>> 13
    u = u * 16807L % 2147483647L
    u.toDouble / 1073741824.0 - 1.0
  }

  /** The plane for `plane`, materialized as a literal array<double> —
    * evaluated ONCE driver-side; the per-row work is a single codegen'd
    * [[DotProductFold]] per plane with sequential IEEE accumulation,
    * so bucket ids are reproducible bit-for-bit (see
    * [[planeComponent]]). */
  private def planeLiteral(plane: Int, dim: Int): Column =
    lit(Array.tabulate(dim)(i => planeComponent(plane, i)))

  /** Embedding dimensionality: the MODE of `size(vec)` over the first
    * [[DimSampleRows]] non-empty rows (one head job that stops after
    * that many rows — never a corpus scan). Uniform dims are the
    * contract for an embedding column, but a junk row can arrive
    * FIRST — and since [[isIndexable]] requires `size === dim`,
    * deriving dim from a single row would then filter the entire real
    * corpus out of candidate generation and silently return empty
    * results. Ties break toward the smaller dim, deterministically.
    *
    * CONTRACT (documented per round-8 verdict #5): honest vectors must
    * be the majority of the first `min(DimSampleRows, corpus)`
    * non-empty rows. A corpus whose head is majority-junk OF A
    * CONSISTENT WRONG LENGTH past that bound still misderives — at
    * that point "junk" outnumbers data and no cheap heuristic can
    * tell them apart; pre-filter such corpora (or pass vectors of the
    * right dim first). Junk of MIXED lengths never wins the mode, and
    * rows deviating from the modal dim are routed out by
    * [[isIndexable]] as before. */
  private[graft] val DimSampleRows = 4096

  private def vecDim(df: DataFrame, vecCol: String): Int = {
    val sizes = df.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .head(DimSampleRows).map(_.getInt(0))
    if (sizes.isEmpty) 0
    else sizes.groupBy(identity).maxBy { case (d, g) => (g.length, -d) }._1
  }

  /** True iff the vector can participate in sign-LSH candidate
    * generation: non-null, corpus-dimensional, with a strictly positive
    * finite norm. Junk — null vectors, wrong-length vectors (whose
    * plane projection is null via DotProductFold's length guard),
    * all-zero vectors, vectors with null/NaN components — must be
    * excluded for TWO reasons, and the second is correctness, not just
    * scale:
    *  - SCALE: every such vector projects to the sign-0 bit on EVERY
    *    plane and piles into one mega-bucket per table; at corpus
    *    scale a few million junk embeddings become a |bucket|²
    *    candidate blowup.
    *  - CORRECTNESS: Spark SQL orders NaN GREATER than every double
    *    (NaN total ordering), so a NaN cosine — e.g. any pair
    *    involving a zero-norm vector, 0/0 — would PASS
    *    `sim >= threshold` in [[lshNearDup]] and rank FIRST under
    *    `orderBy(sim.desc)` in [[lshTopK]]. The filter is a genuine
    *    bugfix, not a no-op. The WHOLE ANN family ([[bruteForceTopK]],
    *    [[ivfTopK]], [[lshTopK]], [[lshNearDup]]) applies it, so the
    *    exact baseline and the approximate paths agree on junk-bearing
    *    corpora and recall comparisons stay meaningful.
    * (Same sentinel design as the MinHash short-doc guard in Dedup.) */
  private[graft] def isIndexable(vec: Column, dim: Int): Column = {
    val n = norm(vec) // null for null vec, null components, length 0
    vec.isNotNull && size(vec) === dim && n > 0 && !isnan(n)
  }

  /** nPlanes-bit LSH bucket id from hyperplane signs (plane ids offset
    * per table so tables are independent). Bucket ids live in a Long,
    * so nPlanes is capped at 62 — far beyond need (the log₂-scaling
    * contract reaches ~48 planes at 2⁴⁰ vectors), but an uncapped 63+
    * would silently wrap `1L << p` into the sign bit and alias
    * buckets. */
  def lshBucket(vec: Column, nPlanes: Int, table: Int, dim: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"nPlanes must be in [1, 62], got $nPlanes")
    val bits: Seq[Column] = (0 until nPlanes).map { p =>
      val proj = dot(vec, planeLiteral(table * 1000 + p, dim))
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Per-row (table, bucket) pairs for nTables independent hash tables —
    * the standard recall lever for sign-LSH. */
  private def tableBuckets(vec: Column, nPlanes: Int, nTables: Int,
      dim: Int): Column =
    explode(array((0 until nTables).map(t =>
      struct(lit(t).as("t"), lshBucket(vec, nPlanes, t, dim).as("b"))): _*))

  // Shared stages: every ANN entry point below composes these, and each
  // decision is documented once, on the stage that makes it.

  /** Unit-vector head of the normalized paths (PQ, IVF×PQ, int8,
    * k-means, k-center): junk rows out ([[isIndexable]]), normalize
    * ([[normalized]]), rows without a direction out, then project the
    * id and the unit vector through `id` / `u` — `(id, u)` by
    * default. */
  private def unitVecs(df: DataFrame, dim: Int, idCol: String,
      vecCol: String, id: Column => Column = _.as("id"),
      u: Column => Column = _.as("u")): DataFrame =
    normalized(df.filter(isIndexable(col(vecCol), dim)), vecCol)
      .filter(col(s"${vecCol}_unit").isNotNull)
      .select(id(col(idCol)), u(col(s"${vecCol}_unit")))

  /** One side of a cosine pair stage: `(p_id, p_vec, p_norm)`, plus
    * `p_label` when a label column rides along. Norms are precomputed
    * per ROW, not per pair: sqrt(dot(v,v)) on the same list yields the
    * identical double, so results are unchanged while the per-pair work
    * drops from 3 array folds to 1. */
  private def side(df: DataFrame, p: String, idCol: String,
      vecCol: String, labelCol: Option[String] = None): DataFrame =
    df.select(Seq(col(idCol).as(s"${p}_id"), col(vecCol).as(s"${p}_vec"),
      norm(col(vecCol)).as(s"${p}_norm")) ++
      labelCol.map(l => col(l).as(s"${p}_label")): _*)

  /** Cosine between the rows of two [[side]] frames `a` and `b`. */
  private def sideCos(a: String, b: String): Column =
    dot(col(s"${a}_vec"), col(s"${b}_vec")) /
      (col(s"${a}_norm") * col(s"${b}_norm"))

  /** Top-k tail of every ranked path: number each query's scored
    * candidates by (sim desc, n_id) and keep the first k. `labelled`
    * carries the hard-negative label columns through. */
  private def rankTopK(scored: DataFrame, k: Int,
      labelled: Boolean = false): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id"))
    val ids = if (labelled) Seq("q_id", "q_label", "n_id", "n_label")
      else Seq("q_id", "n_id")
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(ids.map(col) :+ col("rank").cast("long").as("rank") :+
        col("sim"): _*)
  }

  /** Exact cosine top-k over [[side]]-shaped `q` × `n` pairs: self
    * pairs out, and same-label pairs too when `labelled` (hard
    * negatives), then [[rankTopK]]. */
  private def cosTopK(pairs: DataFrame, k: Int,
      labelled: Boolean): DataFrame = {
    val others = pairs.filter(col("q_id") =!= col("n_id"))
    val neg = if (labelled) others.filter(col("q_label") =!= col("n_label"))
      else others
    rankTopK(neg.withColumn("sim", sideCos("q", "n")), k, labelled)
  }

  /** The deterministic coarse quantizer's seed slice: every row whose id
    * is a multiple of `every` — no RNG, no iterative training, and
    * reproducible in plain SQL. */
  private def strideSlice(df: DataFrame, idCol: String,
      every: Long): DataFrame =
    df.filter(pmod(col(idCol), lit(every)) === 0)

  /** Fail loudly when a stride slice is empty but its population is
    * not: zero centroids mean zero cells, and the caller would silently
    * read "nothing assigned" (an empty append, a dedup that keeps every
    * duplicate) as a result. An empty population legitimately yields
    * empty output. At most two limit-1 probes. */
  private def requireStrideHits(slice: DataFrame, population: DataFrame,
      msg: => String): Unit =
    if (slice.isEmpty && !population.isEmpty)
      throw new IllegalArgumentException(msg)

  /** Stride centroids over a unit frame `(id, u)` → `(c_id, cu)`,
    * broadcast-sized and checkpointed: assignment, probes and guards all
    * read the small frame instead of re-running the scan lineage. */
  private def unitCentroids(emb: DataFrame, every: Long): DataFrame =
    strideSlice(emb, "id", every)
      .select(col("id").as("c_id"), col("u").as("cu"))
      .localCheckpoint()

  /** Nearest cell per vector: argmax sim ≡ argmin ns = −sim with `cid`
    * tie-break, as a partial-aggregatable `min(struct(ns, cid))`. −1.0·x
    * is exact in IEEE, so this is order-identical to the oracles'
    * ORDER BY sim DESC, cid (sub-ulp ties would need EQUAL doubles to
    * diverge). The |vectors|·#cells intermediate collapses map-side
    * before any exchange — no per-vector window sort. SKINNY: (id, ns,
    * cid) is projected BEFORE the aggregate, so vectors never ride the
    * agg buffer (a first(vec) formulation is array-payload churn
    * through the partial aggregate, measured superlinear on the kmeans
    * ramp — SCALE.md round 12); callers re-attach vectors by an id
    * equi-join where needed. `pairs` is vectors × candidate cells: a
    * broadcast cross or an equi-join. */
  private def nearestCell(pairs: DataFrame, id: String, sim: Column,
      cid: String = "c_id"): DataFrame =
    pairs.select(col(id), (lit(-1.0) * sim).as("ns"), col(cid))
      .groupBy(col(id))
      .agg(min(struct(col("ns"), col(cid))).getField(cid).as(cid))

  /** IVF×PQ cell assignment of unit vectors `(id, u)` against
    * [[unitCentroids]]: the [[nearestCell]] argmin. Spelled apart
    * because its Project emits (id, c_id, ns) where nearestCell's
    * emits (id, ns, c_id); merging would reorder that Project in the
    * IVF×PQ plans. */
  private def unitCells(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("ns", lit(-1.0) * dot(col("u"), col("cu")))
      .groupBy(col("id"))
      .agg(min(struct(col("ns"), col("c_id"))).getField("c_id").as("c_id"))

  /** Release discipline of the eager entry points (the
    * Dedup.containmentPairs shape): materialize the small result, then
    * free the corpus-sized cache and the checkpointed frames HERE — a
    * lazy return would leave a full corpus copy in executor storage
    * for the rest of a catalog run. Checkpointed frames need
    * [[graft.core.Checkpoints.release]]; Dataset.unpersist cannot
    * reach their blocks. `release = false` returns the LAZY frame — for
    * plan inspection (ExplainSpec pins shapes a checkpointed frame
    * would hide behind Scan ExistingRDD) — and leaves every frame
    * materialized for the caller to manage. `checkpointed` holds only
    * frames the entry point itself checkpointed: release frees every
    * LogicalRDD leaf of a frame's plan, and a lazy frame's leaves are
    * the caller's own checkpoints. */
  private def finish(out: DataFrame, release: Boolean,
      cached: Seq[DataFrame], checkpointed: Seq[DataFrame]): DataFrame =
    if (!release) out
    else {
      val o = out.localCheckpoint()
      cached.foreach(_.unpersist(blocking = false))
      checkpointed.foreach(graft.core.Checkpoints.release)
      o
    }

  /** PQ subspace width; dim must split into m equal subspaces. */
  private def subDim(dim: Int, m: Int): Int = {
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    dim / m
  }

  /** A frozen product quantizer (see [[pqCodebook]]): the checkpointed
    * codebook `cb`, its per-subspace rows `cbsub` (j, cid, cv, cn2), the
    * explode of `u` into (j, sv) subvectors, and `nCb`, the ACTUAL
    * centroid count. Encode, LUT build and ADC search are its
    * methods, so index, append and search derive codes identically. */
  private final class Pq(val cb: DataFrame, cbsub: DataFrame,
      subs: Column, m: Int, nCb: Int) {

    /** Encode `(id, u)` → `(id, code)`: argmin_cid ||sv − cv||² per
      * (vector, subspace). The score is the order-equivalent
      * |cv|² − 2·sv·cv (the |sv|² term is constant per (vector,
      * subspace) and drops out of the argmin), so the hot fold is the
      * codegen'd DotProductFold instead of an interpreted (a−b)² lambda
      * over the m·ksub-times-exploded corpus — the encode pass is the
      * dominant cost. The DuckDB oracles spell the IDENTICAL arithmetic,
      * so fp rounding of near-tied centroids agrees cross-engine by
      * construction. Winner via partial-aggregatable min(struct): the
      * exploded intermediate collapses map-side, no window sort. */
    def encode(vecs: DataFrame): DataFrame = {
      val d2 = col("cn2") - lit(2.0) * dot(col("sv"), col("cv"))
      vecs.select(col("id"), subs.as("s"))
        .select(col("id"), col("s.j"), col("s.sv"))
        .join(broadcast(cbsub), "j")
        .withColumn("d2", d2)
        .groupBy(col("id"), col("j"))
        .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("code_j"))
        .groupBy(col("id"))
        .agg(transform(sort_array(collect_list(struct(col("j"),
          col("code_j")))), x => x.getField("code_j")).as("code"))
    }

    /** Per-query lookup tables `(q_id, lut)`: lut[j·nCb + cid] =
      * dot(q_sub_j, cv). The query's own unit vector is NOT carried
      * here: it would ride every (query, corpus-vector) row through the
      * shortlist window's shuffle (~4·dim bytes against the ~30-byte ADC
      * payload, a 10-15× exchange inflation on the dominant pass).
      * [[search]] joins it back from the tiny broadcast query side
      * AFTER the ≤shortlist-per-query filter, where the re-rank needs
      * it. */
    def luts(q: DataFrame): DataFrame =
      q.select(col("id").as("q_id"), subs.as("s"))
        .select(col("q_id"), col("s.j"), col("s.sv"))
        .join(broadcast(cbsub), "j")
        .withColumn("lv", dot(col("sv"), col("cv")))
        .groupBy(col("q_id"))
        .agg(transform(sort_array(collect_list(struct(col("j"), col("cid"),
          col("lv")))), x => x.getField("lv")).as("lut"))

    /** ADC search + exact re-rank over candidate rows `(q_id, n_id, lut,
      * code)`: sim ≈ Σ_j lut[j·nCb + code_j] folded in j order
      * (sequential, bit-stable) over codes only — the memory-bound
      * pass — then the top `shortlist` per query by (adc, n_id) are
      * re-ranked exactly on unit vectors from `emb` / `q` (the query
      * vector rejoins only here, see [[luts]]). The LUT stride is the ACTUAL centroid count: a corpus with fewer
      * than ksub indexable vectors yields a shorter codebook, and
      * striding by the requested ksub would read other subspaces'
      * entries (or null past the end) and return silently wrong
      * neighbors. */
    def search(cands: DataFrame, emb: DataFrame, q: DataFrame, k: Int,
        shortlist: Int): DataFrame = {
      val adc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, j) => acc +
          element_at(col("lut"), (j * nCb + element_at(col("code"), j + 1))
            .cast("int") + 1))
      val shortW = Window.partitionBy(col("q_id"))
        .orderBy(col("adc").desc, col("n_id"))
      val short = cands.select(col("q_id"), col("n_id"), adc.as("adc"))
        .withColumn("sr", row_number().over(shortW))
        .filter(col("sr") <= shortlist)
      rankTopK(short
        .join(emb.select(col("id").as("n_id"), col("u").as("nu")), "n_id")
        .join(broadcast(q.select(col("id").as("q_id"), col("u").as("qu"))),
          "q_id")
        .withColumn("sim", dot(col("qu"), col("nu"))), k)
    }
  }

  /** PQ codebook over a unit frame `(id, u)`: per subspace j of `dsub`
    * components, the j-th subvector of the ksub vectors ranked first by
    * the Lehmer permutation [[Sampling.hashU31]] (a deterministic
    * pseudo-random sample — consecutive-id slices would inherit the
    * corpus' label clustering), cid by rank. The checkpoint job also
    * counts the ksub-row frame, which fixes the LUT stride (see
    * [[Pq.search]]). */
  private def pqCodebook(emb: DataFrame, m: Int, dsub: Int, ksub: Int,
      op: String): Pq = {
    val cbW = Window.orderBy(col("hk"), col("id"))
    // consumed by 2 joins: cut the lineage once
    val (cb, n) = graft.core.Checkpoints.counted(
      emb.withColumn("hk", Sampling.hashU31(col("id")))
        .orderBy(col("hk"), col("id")).limit(ksub)
        .withColumn("cid", row_number().over(cbW) - 1))
    val nCb = n.toInt
    require(nCb > 0, s"$op: no indexable vectors to build a codebook from")
    val subs = explode(array((0 until m).map(j =>
      struct(lit(j).as("j"),
        slice(col("u"), j * dsub + 1, dsub).as("sv"))): _*))
    val cbsub = cb.select(col("cid"), subs.as("s"))
      .select(col("cid"), col("s.j"), col("s.sv").as("cv"),
        dot(col("s.sv"), col("s.sv")).as("cn2"))
    new Pq(cb, cbsub, subs, m, nCb)
  }

  /** Hamming-1 multi-probe: each banded row's (t, b) plus every
    * single-bit flip of b, built from the materialized bucket id, so
    * the plane projections run once regardless of probe count. */
  private def hamming1(banded: DataFrame, id: String,
      nPlanes: Int): DataFrame = {
    val probes = array((col("b") +: (0 until nPlanes).map(p =>
      col("b").bitwiseXOR(lit(1L << p)))): _*)
    banded.select(col(id), col("t"), explode(probes).as("b"))
  }

  /** SemDeDup's within-cell pair stage over `(m_id, m_vec, m_norm,
    * c_id)` cells: self-join keyed on `c_id`, `a_id < b_id`, exact
    * cosine ≥ threshold — Σ|cell|² candidates, no all-pairs term. */
  private def cellPairs(cells: DataFrame, threshold: Double): DataFrame = {
    val x = cells.select(col("c_id"), col("m_id").as("a_id"),
      col("m_vec").as("va"), col("m_norm").as("na"))
    val y = cells.select(col("c_id"), col("m_id").as("b_id"),
      col("m_vec").as("vb"), col("m_norm").as("nb"))
    x.join(y, Seq("c_id")).filter(col("a_id") < col("b_id"))
      .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id")
  }

  /** Integer-exact squared L2 between int8 codes `v` and one literal
    * center: per-element (x−y)² ≤ 254² fits int, the running sum is
    * long. */
  private def int8D2(v: Column, center: Seq[Int]): Column =
    aggregate(
      zip_with(v, array(center.map(lit): _*), (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, e) => acc + e.cast("long"))

  /** IVF (inverted-file) ANN: a deterministic coarse quantizer —
    * centroids are a fixed slice of the corpus (every `centroidEvery`-th
    * vector) — assigns each vector to its nearest centroid cell; queries
    * probe the `nProbe` nearest cells. The 100 TB shape: cell assignment
    * is one broadcast-join pass, search touches |corpus|·nProbe/#cells
    * rows. Deterministic (no RNG, no iterative k-means) → reproducible.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 50, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    strideIvfTopK(corpus, queries, k, centroidEvery, nProbe, idCol, vecCol,
      None)

  /** [[ivfTopK]] against an EXPLICIT centroid frame (`c_id`, `c_vec`)
    * — the composition point for a data-adaptive coarse quantizer:
    * pass [[kmeansCentroids]]' output (renamed `cu` → `c_vec`) and
    * the same IVF search runs over tighter, k-means-fitted cells
    * (SimilaritySpec compares recall against the stride quantizer at
    * equal centroid count). The stride overload above delegates to
    * the same core, so the two paths cannot drift. The frame gets the
    * SAME junk filter the stride path applies to its slice: one
    * zero-norm/NaN centroid would otherwise rank first for every
    * vector under NaN-first ordering and swallow the whole corpus
    * into its cell. */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
      k: Int, centroidFrame: DataFrame, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    ivfTopKCore(corpus, queries, k,
      centroidFrame.select(col("c_id"), col("c_vec"))
        .filter(isIndexable(col("c_vec"), dim)),
      nProbe, idCol, vecCol, dim)
  }

  /** [[ivfTopKCore]] over [[strideSlice]] centroids `(c_id, c_vec)` of
    * the junk-filtered corpus — [[ivfTopK]] and [[hardNegativesIvf]]. */
  private def strideIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int, nProbe: Int, idCol: String, vecCol: String,
      negLabelCol: Option[String]): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val centroids = strideSlice(corpus.filter(isIndexable(col(vecCol), dim)),
        idCol, centroidEvery)
      .select(col(idCol).as("c_id"), col(vecCol).as("c_vec"))
    ivfTopKCore(corpus, queries, k, centroids, nProbe, idCol, vecCol, dim,
      negLabelCol)
  }

  private def ivfTopKCore(corpus: DataFrame, queries: DataFrame,
      k: Int, centroids: DataFrame, nProbe: Int,
      idCol: String, vecCol: String, dim: Int,
      negLabelCol: Option[String] = None): DataFrame = {
    // same junk filter as bruteForceTopK/lshTopK on both row sides
    val corpusC = corpus.filter(isIndexable(col(vecCol), dim))
    val queriesC = queries.filter(isIndexable(col(vecCol), dim))
    // the top-n cells by cosine, window-ranked: probes need n > 1, so
    // this is not the min(struct) argmin of nearestCell (its plan, and
    // the q_knn_ivf oracle, rank with a window)
    def nearestCells(df: DataFrame, id: String, vec: String, n: Int) = {
      val w = Window.partitionBy(col(id))
        .orderBy(col("c_sim").desc, col("c_id"))
      df.crossJoin(broadcast(centroids))
        .withColumn("c_sim", cosine(col(vec), col("c_vec")))
        .withColumn("c_rank", row_number().over(w))
        .filter(col("c_rank") <= n)
        .drop("c_vec", "c_sim", "c_rank")
    }
    val cells = nearestCells(
      side(spread(corpusC), "n", idCol, vecCol, negLabelCol),
      "n_id", "n_vec", 1)
    val probes = nearestCells(
      side(queriesC, "q", idCol, vecCol, negLabelCol),
      "q_id", "q_vec", nProbe)
    cosTopK(probes.join(cells, Seq("c_id")), k, negLabelCol.isDefined)
  }

  /** Hard-NEGATIVE mining for contrastive / retrieval training data:
    * for each query vector, the k most-similar corpus vectors with a
    * DIFFERENT label (Karpukhin et al. 2020's in-batch-negatives
    * upgrade: the negatives that look most like positives teach the
    * most). ORACLE TWIN — exact all-pairs scan, O(|q|·|corpus|) by
    * construction with the query side broadcast; production at corpus
    * scale is [[hardNegativesIvf]], which this formulation anchors in
    * SimilaritySpec. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    exactTopK(corpus, queries, k, idCol, vecCol, Some(labelCol))

  /** Broadcast-query × corpus cosine top-k: [[bruteForceTopK]], and
    * [[hardNegatives]] when a label column rides along. */
  private def exactTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String, vecCol: String,
      negLabelCol: Option[String]): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val c = side(spread(corpus).filter(isIndexable(col(vecCol), dim)), "n",
      idCol, vecCol, negLabelCol)
    val q = side(queries.filter(isIndexable(col(vecCol), dim)), "q",
      idCol, vecCol, negLabelCol)
    cosTopK(broadcast(q).crossJoin(c), k, negLabelCol.isDefined)
  }

  /** Scale path for [[hardNegatives]]: IVF cell routing (the
    * [[ivfTopK]] scaled-nlist contract) with the label-mismatch
    * predicate applied INSIDE the probed cells — so a query still
    * receives k negatives as long as its probed cells hold k
    * differently-labeled vectors. Per-query work is nProbe cells, not
    * the corpus; recall vs the exact twin is a SimilaritySpec
    * assertion, not an assumption. */
  def hardNegativesIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 50, nProbe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame =
    strideIvfTopK(corpus, queries, k, centroidEvery, nProbe, idCol, vecCol,
      Some(labelCol))

  /** ANN top-k: candidates = union over nTables of same-bucket rows,
    * dedup, exact cosine rank. At scale each table bucket holds
    * ~|corpus|/2^planes rows — a bucket join instead of a cross product;
    * recall grows with nTables at linear cost.
    *
    * `multiProbe` additionally probes every Hamming-1 neighbor of the
    * QUERY's bucket in each table (the multi-probe LSH idea from the
    * public literature): a near neighbor that landed one plane-sign
    * away is recovered without paying for another full table. The
    * extra cost is query-side only — nPlanes more (t, bucket) probe
    * rows per query row, generated from the already-computed bucket id
    * (no plane re-projection) — while the corpus index is untouched,
    * which is the side that matters at 100 TB.
    *
    * CONTRACT: `idCol` must be unique within each of `corpus` and
    * `queries`. Candidate dedup is on the (q_id, n_id) PAIR — the
    * shape that keeps vectors off the candidate shuffle — so a
    * duplicated id would re-multiply at the vector-fetch joins into
    * duplicate ranked rows consuming topK slots (the pre-r16 full-row
    * distinct collapsed them; pair dedup deliberately does not pay
    * for that). Every caller in this repo feeds a primary-key id;
    * dedup a non-unique corpus on id before indexing it. The corpus
    * is scanned twice by design (bucket stream + vector fetch): both
    * scans prune to (id, vec), and at scale the second is a
    * semi-join-sized fetch, far cheaper than letting vectors ride
    * every candidate row. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, nPlanes: Int,
      nTables: Int = 4, idCol: String = "vec_id",
      vecCol: String = "embedding", multiProbe: Boolean = false): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    // bucket stream: (id, t, b) only — vectors never ride the
    // candidate pipeline (see the dedup note below)
    val c = spread(corpus).filter(isIndexable(col(vecCol), dim))
      .select(col(idCol).as("n_id"),
        tableBuckets(col(vecCol), nPlanes, nTables, dim).as("tb"))
      .select(col("n_id"), col("tb.t"), col("tb.b"))
    val qBase = queries.filter(isIndexable(col(vecCol), dim))
      .select(col(idCol).as("q_id"),
        tableBuckets(col(vecCol), nPlanes, nTables, dim).as("tb"))
      .select(col("q_id"), col("tb.t"), col("tb.b"))
    val q = if (!multiProbe) qBase else hamming1(qBase, "q_id", nPlanes)
    // one row per vector for the post-dedup fetch joins
    val cVecs = side(spread(corpus).filter(isIndexable(col(vecCol), dim)),
      "n", idCol, vecCol)
    val qVecs = side(queries.filter(isIndexable(col(vecCol), dim)), "q",
      idCol, vecCol)
    // dedup multi-table collisions on the ID PAIR alone, then fetch
    // vectors for the surviving pairs (the embedNearDupLsh shape):
    // the distinct's shuffle carries two longs per candidate instead
    // of two full embedding vectors, and the row comparator is a long
    // compare instead of an array walk — at corpus scale the
    // candidate stream is the big side, so never move vectors with it
    val candidates = q.join(c, Seq("t", "b"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .distinct() // a pair may collide in several tables/probes
    rankTopK(candidates
      .join(qVecs, "q_id")
      .join(cVecs, "n_id")
      .withColumn("sim", sideCos("q", "n")), k)
  }

  /** Embedding near-duplicate pairs at corpus scale: sign-LSH blocking
    * (candidates = pairs sharing any table bucket) followed by an exact
    * cosine verify at `threshold`. The all-pairs crossJoin formulation
    * (`q_embed_neardup`) is this operator's recall oracle at test scale;
    * THIS is the shape to run on a real corpus — candidate volume is
    * Σ_buckets |bucket|² instead of |corpus|², and the verify join
    * fetches vectors only for surviving candidate pairs. Identical
    * vectors collide in every table, so exact duplicates have recall 1
    * by construction; raise `nTables` (linear cost) for near-miss
    * recall.
    *
    * `multiProbe` extends each row's probe set on ONE side of the
    * self-join with every Hamming-1 flip of its bucket id (same idea
    * as [[lshTopK]]'s query-side probing): a near-dup pair whose
    * buckets differ by exactly one plane sign is recovered without
    * another full table. Bit flips are symmetric — if flipping bit i
    * of x's bucket reaches y's bucket, the reverse flip reaches x —
    * so expanding one join side finds every Hamming-1 pair while the
    * other side (the corpus index, the side that matters at 100 TB)
    * stays exactly as wide as before; extra cost is nPlanes more
    * bare (t, b, id) probe rows per banded row, derived from the
    * already-computed bucket id with no plane re-projection. */
  def lshNearDup(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nPlanes: Int = 8, nTables: Int = 4,
      multiProbe: Boolean = false): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val c = spread(corpus)
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
    // candidates travel as bare id pairs — vectors join back only for
    // the verify, keeping the blocking shuffle narrow; degenerate
    // vectors never enter a band (see isIndexable)
    val bands = c.filter(isIndexable(col("vec"), dim))
      .select(col("id"),
        tableBuckets(col("vec"), nPlanes, nTables, dim).as("tb"))
      .select(col("id"), col("tb.t"), col("tb.b"))
    val probeSide = if (!multiProbe) bands else hamming1(bands, "id", nPlanes)
    val cands = probeSide.select(col("t"), col("b"), col("id").as("a_id"))
      .join(bands.select(col("t"), col("b"), col("id").as("b_id")),
        Seq("t", "b"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
    val va = c.select(col("id").as("a_id"), col("vec").as("va"),
      norm(col("vec")).as("na"))
    val vb = c.select(col("id").as("b_id"), col("vec").as("vb"),
      norm(col("vec")).as("nb"))
    cands.join(va, "a_id").join(vb, "b_id")
      .withColumn("sim",
        dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("sim") >= threshold)
      .select("a_id", "b_id", "sim")
  }

  /** Exact top-k over the int8-QUANTIZED corpus — the memory-bound ANN
    * shape at scale: both sides unit-normalize and quantize to
    * `round(127·x̂)` (see [[normalized]]/[[quantizeInt8]]), and
    * similarity is the integer dot product rescaled by 1/127². For
    * unit vectors that approximates the true cosine to ~1/127 per
    * component; storage and shuffle width drop 4-8× (the reason to
    * run this instead of [[bruteForceTopK]] when the corpus lives
    * quantized on disk). Everything here is deterministic and
    * engine-exact — floor-based quantization, integer products summed
    * exactly in double — so the whole operator differentials against
    * a DuckDB oracle (`q_knn_int8`), and the approximation quality is
    * pinned by a recall spec against the full-precision exact path.
    * Degenerate vectors (zero norm, null components, wrong dim) drop
    * out exactly as in the rest of the ANN family. */
  def bruteForceTopKInt8(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    def q8(df: DataFrame): DataFrame =
      unitVecs(df, dim, idCol, vecCol, identity, quantizeInt8(_).as("v8"))
    val c = spread(q8(corpus))
      .select(col(idCol).as("n_id"), col("v8").as("n_v8"))
    val q = q8(queries).select(col(idCol).as("q_id"), col("v8").as("q_v8"))
    rankTopK(broadcast(q).crossJoin(c)
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("sim", dot(col("q_v8"), col("n_v8")) / lit(127.0 * 127.0))
      .filter(col("sim").isNotNull), k) // dim-mismatch survivors
  }

  /** Product-quantization ANN with asymmetric-distance search and exact
    * re-rank (PQ/ADC, public literature: Jégou et al. 2011) — the
    * memory-bound ANN shape one step past [[bruteForceTopKInt8]]: the
    * scan side touches only an m-int CODE per vector (m·~1 byte vs
    * 4·dim raw, 16 codes vs 256 bytes here), and full vectors are
    * fetched only for the per-query shortlist re-rank.
    *
    * Deterministic stand-in for trained codebooks (same design stance
    * as [[ivfTopK]]'s fixed-slice quantizer — no RNG, no iterative
    * k-means, reproducible anywhere): per subspace j of dsub = dim/m
    * components, the codebook is the j-th subvector of the ksub
    * corpus vectors ranked first by the Lehmer permutation
    * [[Sampling.hashU31]] (a deterministic pseudo-random sample —
    * consecutive-id slices would inherit the corpus' label
    * clustering; measured recall@5 0.24 → 0.98 from this choice plus
    * re-rank). Encoding assigns each subvector to its nearest
    * centroid by squared L2 with cid tie-break, via a
    * partial-aggregatable `min(struct(d2, cid))` — the 1024×-row
    * encode intermediate collapses map-side, no window sort. Search
    * precomputes per-query lookup tables dot(q_sub_j, centroid) and
    * folds sim ≈ Σ_j lut[j·ksub + code_j] in j order (sequential,
    * bit-stable), takes the top `shortlist` per query by (sim, id),
    * and re-ranks those exactly on unit vectors. Every step is exact
    * double arithmetic with total-order tie-breaks, so the WHOLE
    * operator differentials against a DuckDB oracle (`q_knn_pq`).
    * Junk routing matches the rest of the ANN family. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 16, ksub: Int = 64, shortlistFactor: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      release: Boolean = true): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val dsub = subDim(dim, m)
    // consumed 3x (codebook build, the dominant encode scan, the
    // re-rank join) — cache the normalized corpus or each consumer
    // re-runs the parquet scan + junk filter + O(d) normalization
    val emb = spread(unitVecs(corpus, dim, idCol, vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val q = unitVecs(queries, dim, idCol, vecCol)
    val pq = pqCodebook(emb, m, dsub, ksub, "pqTopK")
    // ADC over every code: the tiny broadcast LUT side × all codes
    val cands = broadcast(pq.luts(q)).crossJoin(pq.encode(emb))
      .filter(col("q_id") =!= col("id"))
      .withColumnRenamed("id", "n_id")
    finish(pq.search(cands, emb, q, k, math.max(k, shortlistFactor * k)),
      release, cached = Seq(emb), checkpointed = Seq(pq.cb))
  }

  /** IVF×PQ ANN — the composed web-scale index shape (Jégou et al.
    * 2011, the same public reference as [[pqTopK]]): an IVF coarse
    * quantizer prunes WHICH vectors are scanned, PQ/ADC codes bound
    * WHAT the scan reads per vector. [[ivfTopK]] alone re-reads exact
    * vectors inside each probed cell; [[pqTopK]] alone ADC-scans every
    * code in the corpus; composed, the scan touches
    * |corpus|·(nProbe/#cells) CODES (m bytes each) — at 100 TB that is
    * the difference between a full-corpus pass per query batch and a
    * few-percent sample of a compressed column.
    *
    * SCALE CONTRACT (measured, SCALE.md round 11): #cells
    * (= |corpus|/`centroidEvery`) is a BUILD-TIME BUDGET chosen for
    * the target corpus, not a ratio to hold as the corpus grows —
    * cell assignment is a |corpus|×#cells distance pass, so growing
    * cells ∝ corpus (fixed `centroidEvery` under growth) turns
    * assignment QUADRATIC (the ramp's control row: exponent >1,
    * 64 s at 64×). Scale `centroidEvery` with the corpus to keep
    * #cells near the budget and every stage is linear; at true IVF
    * scale (≥10⁵ cells) real systems make assignment itself
    * approximate via a second-level quantizer — out of scope here,
    * the knob contract is the load-bearing part.
    *
    * Everything deterministic, composed from the two oracle-green
    * precedents: the coarse quantizer is [[ivfTopK]]'s fixed
    * `centroidEvery`-slice (here over UNIT vectors, so nearest-by-dot
    * ≡ nearest-by-cosine), codebooks/encode/LUT/ADC/re-rank are the
    * same [[Pq]] stages as [[pqTopK]]. Cell assignment ([[unitCells]])
    * is a partial-aggregatable
    * `min(struct(−dot, c_id))` — the encode pass's argmin discipline,
    * NOT a per-vector window sort: the corpus-side intermediate
    * (|corpus|·#centroids rows) collapses map-side before any
    * exchange. Queries probe their `nProbe` nearest cells; the ADC
    * scan is then an EQUI-join probes ⋈ codes on the cell id — the
    * broadcast-luts×codes cross product of [[pqTopK]] replaced by a
    * bucket join, exactly the [[lshTopK]] candidate-generation shape.
    * A neighbor whose cell no probe reaches is lost (that is the
    * approximation); the shortlist's exact re-rank repairs ranking
    * within reached cells, and the recall floor vs [[bruteForceTopK]]
    * is spec-pinned. Junk routing and the dynamic LUT stride follow
    * the family contract. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      centroidEvery: Int = 50, nProbe: Int = 4,
      m: Int = 16, ksub: Int = 64, shortlistFactor: Int = 10,
      idCol: String = "vec_id", vecCol: String = "embedding",
      release: Boolean = true): DataFrame = {
    val dim = vecDim(corpus, vecCol)
    val (emb, cents, pq) =
      ivfPqIndex(corpus, dim, centroidEvery, m, ksub, idCol, vecCol)
    val q = unitVecs(queries, dim, idCol, vecCol)
    // query→nProbe cells: unitCells' score, row_number over the tiny
    // query side (a window over |Q|·#centroids rows, not a corpus pass)
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(col("ns"), col("c_id"))
    val probes = q.select(col("id").as("q_id"), col("u").as("qu"))
      .crossJoin(broadcast(cents))
      .withColumn("ns", lit(-1.0) * dot(col("qu"), col("cu")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("c_id"))
    // THE composition point: the ADC scan reads only codes whose cell
    // some probe reaches — probes ⋈ cells is an equi-join on c_id, and
    // the (q_id, id) fan-out is |probed cells|·codes, not |Q|·|corpus|
    val cands = broadcast(probes)
      .join(unitCells(emb, cents).select(col("id").as("n_id"), col("c_id")),
        "c_id")
      .filter(col("q_id") =!= col("n_id"))
      .join(pq.encode(emb).select(col("id").as("n_id"), col("code")), "n_id")
      .join(broadcast(pq.luts(q)), "q_id")
    finish(pq.search(cands, emb, q, k, math.max(k, shortlistFactor * k)),
      release, cached = Seq(emb), checkpointed = Seq(pq.cb, cents))
  }

  /** [[ivfPqTopK]]'s index stage: the spread unit corpus, cached (the
    * centroid slice, cell assignment, codebook, encode and re-rank join
    * all read it), its stride centroids and its PQ codebook. */
  private def ivfPqIndex(corpus: DataFrame, dim: Int, centroidEvery: Int,
      m: Int, ksub: Int, idCol: String,
      vecCol: String): (DataFrame, DataFrame, Pq) = {
    val dsub = subDim(dim, m)
    val emb = spread(unitVecs(corpus, dim, idCol, vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = unitCentroids(emb, centroidEvery)
    (emb, cents, pqCodebook(emb, m, dsub, ksub, "ivfPqTopK"))
  }

  /** The `(idCol, c_id, code)` rows an IVF×PQ index stores for the unit
    * vectors `vecs`. */
  private def ivfPqRows(vecs: DataFrame, cents: DataFrame, pq: Pq,
      idCol: String): DataFrame =
    unitCells(vecs, cents).join(pq.encode(vecs), "id")
      .select(col("id").as(idCol), col("c_id"), col("code"))

  /** The rows [[ivfPqTopK]]'s index stage stores for `corpus` —
    * [[ivfPqEncodeBatch]] must append exactly these for a batch drawn
    * from the same corpus (SimilaritySpec). */
  private[graft] def ivfPqIndexRows(corpus: DataFrame,
      centroidEvery: Int = 50, m: Int = 16, ksub: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (emb, cents, pq) = ivfPqIndex(corpus, vecDim(corpus, vecCol),
      centroidEvery, m, ksub, idCol, vecCol)
    finish(ivfPqRows(emb, cents, pq, idCol), release = true,
      cached = Seq(emb), checkpointed = Seq(cents, pq.cb))
  }

  /** INCREMENTAL IVF×PQ index maintenance — assign + PQ-encode a new
    * embedding batch against quantizers derived from the EXISTING
    * corpus and FROZEN (the serving practice the composed index
    * implies: coarse cells and codebooks re-train rarely — offline —
    * while ingest appends daily; re-deriving them per batch would
    * both rescan the corpus and silently re-key every stored code).
    * Completes the incremental-ingest triple: exact dedup
    * ([[graft.ops.Dedup.incrementalExact]]), near-dup
    * ([[graft.ops.Dedup.incrementalNearDup]]), and now the ANN index.
    *
    * Returns (idCol, c_id, code): the rows a warehouse appends to its
    * codes table — search-side composition is unchanged ([[ivfPqTopK]]
    * over base∪appended reads the same (cell, code) shape).
    *
    * Scale shape: the base corpus contributes ONLY its two tiny
    * derived frames (the centroid slice and the ksub-row codebook —
    * both localCheckpointed, broadcast after); the batch is the only
    * corpus-scale input, touched in two map-only-normalized passes
    * (cell assignment vs broadcast centroids, subspace encode vs
    * broadcast codebook), each collapsing through a partial-aggregated
    * `min(struct)` argmin before any exchange. Nothing base-sized
    * shuffles. Assignment and encode are [[ivfPqTopK]]'s own stages
    * ([[unitCells]], [[Pq.encode]]), so appended codes are
    * bit-identical to what a full rebuild with the same quantizers
    * would store. */
  def ivfPqEncodeBatch(batch: DataFrame, base: DataFrame,
      centroidEvery: Int = 50, m: Int = 16, ksub: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding",
      release: Boolean = true): DataFrame = {
    val dim = vecDim(base, vecCol)
    val dsub = subDim(dim, m)
    // frozen quantizers from the base corpus: two small derived
    // frames, checkpointed (cut the base-scan lineage once) and
    // broadcast below. The base itself is scanned twice, map-only.
    val cents = unitCentroids(unitVecs(base, dim, idCol, vecCol),
      centroidEvery)
    val pq = pqCodebook(unitVecs(base, dim, idCol, vecCol), m, dsub, ksub,
      "ivfPqEncodeBatch")
    // the codebook sample is stride-independent, so it cannot catch a
    // stride that misses every base id (the semDedup guard, mirrored)
    requireStrideHits(cents, pq.cb,
      "ivfPqEncodeBatch: no base id is divisible by centroidEvery=" +
        s"$centroidEvery — the batch would assign to zero cells and " +
        "the append would be silently empty; pick a stride that " +
        "intersects the base id space")
    // the batch's two map-shaped passes (normalize is map-only; both
    // argmins partial-aggregate below their shuffle)
    finish(ivfPqRows(unitVecs(batch, dim, idCol, vecCol), cents, pq, idCol),
      release, cached = Nil, checkpointed = Seq(cents, pq.cb))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv 2303.09540, public): semantic
    * deduplication — cluster the embedding space with a coarse
    * quantizer, then within each cluster resolve every group of
    * vectors with pairwise cosine ≥ `threshold` down to one survivor.
    * Catches meaning-level duplicates (re-crawls, boilerplate
    * rewrites, translations embedded near-identically) that lexical
    * dedup (exact / MinHash / SimHash over tokens) cannot see.
    *
    * Spark shape, stage by stage:
    *   1. coarse cells — [[ivfTopK]]'s deterministic quantizer
    *      (centroids = every `centroidEvery`-th vector, nearest by
    *      cosine, ties by centroid id), assigned HIERARCHICALLY: each
    *      vector routes through a ∜n super-centroid slice and scans
    *      only its routed super-cell's centroids (see
    *      [[semDedupPairs]] for the full two-level contract — n^1.5
    *      compute and the √n centroid broadcast both die there). Every
    *      per-vector argmin collapses through a partial-aggregated
    *      `min(struct(-sim, c_id))` BEFORE its exchange, so only
    *      |corpus|-scale rows shuffle, never |corpus|·#centroids.
    *   2. within-cell pairs — self-join keyed on `c_id`, `a_id <
    *      b_id`, exact cosine ≥ threshold. Candidate volume is
    *      Σ|cell|²: bounded by the CELL-SIZE knob, so `#centroids
    *      must track corpus size` (the same measured scale contract
    *      as LSH plane count — SCALE.md). No all-pairs term anywhere.
    *   3. [[Dedup.representatives]] — connected components over the
    *      pair list (pairs-sized, tiny next to the corpus) and the
    *      min-id survivor per semantic group, so chains a–b–c
    *      collapse to ONE kept doc instead of over-deleting.
    * Returns the surviving rows of `corpus` (all columns).
    * Non-indexable vectors (null / wrong-dim / zero-norm / NaN) carry
    * no usable direction; they bypass clustering and are KEPT — same
    * junk sentinel stance as the whole ANN family ([[isIndexable]]).
    *
    * Both corpus-sized intermediates are localCheckpoint'd for the
    * self-join / CC reuse and released eagerly ([[graft.core
    * .Checkpoints]]); only the pairs frame outlives the call. */
  def semDedup(corpus: DataFrame, threshold: Double,
      centroidEvery: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding", superFactor: Int = 8,
      centProbe: Int = 2): DataFrame =
    Dedup.representatives(corpus,
      semDedupPairs(corpus, threshold, centroidEvery, idCol, vecCol,
        checkpoint = true, superFactor = superFactor,
        centProbe = centProbe),
      idCol)

  /** SemDeDup over an EXPLICIT centroid frame (`c_id`, `cu` — UNIT
    * vectors, [[kmeansCentroids]]' output shape): the paper-faithful
    * composition (Abbas et al. 2023 cluster with k-means; the default
    * [[semDedup]] stride-samples instead). Assignment is the flat
    * skinny argmin against the broadcast centroid set — flat is the
    * RIGHT shape here because a k-means centroid count is a
    * build-time BUDGET (the FAISS nlist contract), held fixed as the
    * corpus grows, so the n·#centroids term stays linear and the
    * broadcast stays KB-sized; the hierarchical routing in
    * [[semDedupPairs]] exists for stride-derived counts that track
    * √n. Within-cell pair resolution and the min-id survivor rule are
    * identical. Junk vectors bypass clustering and are kept. */
  def semDedupWithCentroids(corpus: DataFrame, threshold: Double,
      centroids: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val dim = vecDim(corpus, vecCol)
    val c = spread(corpus).filter(isIndexable(col(vecCol), dim))
    // the semDedupPairs stride guard, lifted to the explicit frame (an
    // empty kmeans input, a mis-filtered frame)
    requireStrideHits(centroids, c,
      "semDedupWithCentroids: empty centroid frame — every vector " +
        "would silently survive; pass a non-empty (c_id, cu) frame")
    val vecs = side(c, "m", idCol, vecCol)
    // cu is unit, so cos(v, cu) = dot(v, cu)/|v| — one division saved
    val assigned = nearestCell(
      vecs.crossJoin(broadcast(centroids.select(col("c_id"), col("cu")))),
      "m_id", dot(col("m_vec"), col("cu")) / col("m_norm"))
    val cells = vecs.join(assigned, "m_id").localCheckpoint()
    val pairs = finish(cellPairs(cells, threshold), release = true,
      cached = Nil, checkpointed = Seq(cells))
    Dedup.representatives(corpus, pairs, idCol)
  }

  /** [[semDedup]]'s pair stage. With `checkpoint` (the production
    * path) both corpus-sized intermediates are localCheckpoint'd for
    * the self-join / CC reuse and released eagerly once the (small)
    * pair list is materialized; without it the returned frame is one
    * lazily-planned tree — ExplainSpec asserts its shape (map-side
    * combined assignment, c_id equi-join, no cartesian).
    *
    * CELL ASSIGNMENT IS HIERARCHICAL (`superFactor` > 0, the
    * production default). The flat formulation — corpus ×
    * broadcast(centroids) nested loop — carries two terms that break
    * first at 100 TB under the `#centroids tracks corpus size` knob
    * contract (#centroids ≈ √n): an n·√n assignment compute term and
    * a √n-growth broadcast (10⁶ centroids × ~1 KB vector ≈ 1 GB per
    * executor). The two-level pass kills both:
    *
    *   1. SUPER-CENTROIDS — a second deterministic stride over the
    *      SAME id space (`centroidEvery · superFactor`), so supers ⊂
    *      centroids. Sizing contract: with #centroids tracking √n,
    *      `superFactor` should track ∜n so #supers ≈ ∜n — the only
    *      frame ever broadcast here, ~KBs where the flat broadcast
    *      was GBs.
    *   2. CENTROID ROUTING — every centroid joins its top-`centProbe`
    *      supers (window over the √n·∜n cross, sub-corpus). Boundary
    *      robustness is bought ON THE CHEAP SIDE: a vector probing
    *      only its single nearest super still finds any centroid that
    *      keeps that super among ITS top-`centProbe` — the multi-probe
    *      cost lands on √n rows, not n.
    *   3. VECTOR ROUTING — corpus × broadcast(supers), argmin as the
    *      same partial-aggregated `min(struct)` as the flat path:
    *      n·∜n compute, only n rows shuffle.
    *   4. CANDIDATE SCAN — vectors ⋈ routed centroids is an EQUI-JOIN
    *      on the super id (deliberately NOT broadcast: the centroid
    *      side is the √n frame the flat path broadcast; a shuffled
    *      hash/merge join keeps it partitioned), then the per-vector
    *      argmin over ~#centroids/#supers candidates, map-side
    *      combined. n·∜n compute, n-row-scale shuffle — the corpus
    *      shuffles once more than flat, but the within-cell pair join
    *      downstream shuffles it on c_id anyway, so the scale budget
    *      is unchanged while n^1.5 → n^1.25.
    *
    * Routing is approximate: a vector whose true nearest centroid
    * keeps NONE of the vector's routed super in its top-`centProbe`
    * is assigned to a second-best cell. Identical vectors still route
    * identically (equal sims, equal tie-breaks), so exact duplicates
    * always co-locate — the SemDeDup blocking guarantee that matters.
    * Every step is deterministic (cos desc, id asc total order), so
    * the WHOLE hierarchical operator still differentials against the
    * DuckDB oracle. `superFactor = 0` selects the flat formulation
    * (kept for the parity spec and small corpora whose centroid count
    * never grows). */
  private[graft] def semDedupPairs(corpus: DataFrame, threshold: Double,
      centroidEvery: Int, idCol: String, vecCol: String,
      checkpoint: Boolean, superFactor: Int = 8,
      centProbe: Int = 2): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(superFactor >= 0, s"superFactor must be >= 0, got $superFactor")
    require(centProbe >= 1, s"centProbe must be >= 1, got $centProbe")
    val dim = vecDim(corpus, vecCol)
    val c = spread(corpus).filter(isIndexable(col(vecCol), dim))
    val flat = superFactor == 0
    val centroids0 = side(strideSlice(c, idCol, centroidEvery), "c", idCol,
      vecCol)
    // hierarchical path consumes centroids once (the routing cross);
    // only the flat path's double consumption needs the checkpoint
    val centroids = if (checkpoint && flat)
      centroids0.localCheckpoint() else centroids0
    // an id space with NO multiple of centroidEvery (odd-only ids with
    // an even stride, re-keyed ids, …) would silently keep every
    // duplicate. Probed on the production path only — the
    // plan-inspection path (checkpoint=false) must stay action-free.
    if (checkpoint)
      requireStrideHits(centroids, c,
        s"semDedup: no corpus id is divisible by centroidEvery=" +
          s"$centroidEvery — every vector would silently survive; pick " +
          "a stride that intersects the id space")
    val vecs = side(c, "m", idCol, vecCol)
    // (cells, checkpointed frames the tail must release with them)
    val (cells0, ownCk) =
      if (flat) {
        // flat assignment: corpus × broadcast(centroids) — the spec
        // baseline; see the scaladoc for why production routes instead
        (vecs.crossJoin(broadcast(centroids))
          .withColumn("ns", lit(-1.0) * sideCos("m", "c"))
          .groupBy(col("m_id"))
          // m_vec/m_norm are constant within the group (keyed by m_id);
          // first() just carries them through the partial agg — a
          // different plan from nearestCell's skinny projection
          .agg(first(col("m_vec")).as("m_vec"),
            first(col("m_norm")).as("m_norm"),
            min(struct(col("ns"), col("c_id"))).getField("c_id").as("c_id")),
          Seq(centroids))
      } else {
        val superStride = centroidEvery.toLong * superFactor
        val sups0 = side(strideSlice(c, idCol, superStride), "s", idCol,
          vecCol)
        val sups = if (checkpoint) sups0.localCheckpoint() else sups0
        // same silent-keep-all failure mode one level up: centroids
        // exist but the super stride misses every one of them
        if (checkpoint)
          requireStrideHits(sups, centroids,
            "semDedup: no centroid id is divisible by superStride=" +
              s"$superStride (centroidEvery=$centroidEvery × superFactor=" +
              s"$superFactor) — every vector would silently survive; " +
              "shrink superFactor or pass superFactor=0 for flat " +
              "assignment")
        // centroid → its top-centProbe supers. Window over the
        // √n·∜n cross — the multi-probe boundary insurance priced on
        // the centroid side, never the corpus side. A super always
        // routes to itself first (cos=1, and an identical-vector twin
        // with a smaller id wins BOTH the centroid's and every
        // vector's tie-break, consistently), so each reachable s_id
        // keeps at least one candidate and the cells join below can
        // stay inner.
        val crW = Window.partitionBy(col("c_id"))
          .orderBy(col("ns"), col("s_id"))
        val centroute = centroids.crossJoin(broadcast(sups))
          .withColumn("ns", lit(-1.0) * sideCos("c", "s"))
          .withColumn("rnk", row_number().over(crW))
          .filter(col("rnk") <= centProbe)
          .select(col("s_id"), col("c_id"), col("c_vec"), col("c_norm"))
        // vector → single nearest super: n·∜n compute, n skinny rows
        // shuffled
        val vroute = nearestCell(vecs.crossJoin(broadcast(sups)), "m_id",
          sideCos("m", "s"), "s_id")
        // candidate scan: re-attach vectors by id, EQUI-join on s_id
        // (not broadcast — the centroid side is the √n-growth frame),
        // argmin over the routed super-cell's centroids only, then one
        // final id join builds the (id, vec, cell) frame the pair stage
        // consumes
        val assigned = nearestCell(
          vecs.join(vroute, "m_id").join(centroute, "s_id"), "m_id",
          sideCos("m", "c"))
        (vecs.join(assigned, "m_id")
          .select(col("m_id"), col("m_vec"), col("m_norm"), col("c_id")),
          Seq(sups))
      }
    val cells = if (checkpoint) cells0.localCheckpoint() else cells0
    finish(cellPairs(cells, threshold), checkpoint, cached = Nil,
      checkpointed = cells +: ownCk)
  }

  /** Deterministic SPHERICAL k-means (Lloyd's algorithm over unit
    * vectors; public — Dhillon & Modha 2001): the data-ADAPTIVE
    * centroid source for the coarse quantizers this file otherwise
    * seeds by id stride ([[semDedup]], [[ivfTopK]], [[ivfPqTopK]] —
    * the SemDeDup paper itself clusters with k-means). Seeds are the
    * stride slice (the existing deterministic contract), then `iters`
    * assign/update rounds; each round provably does not increase the
    * spherical objective Σ(1 − cos(u, c(u))) (spec-pinned), so even 2
    * rounds buy measurably tighter cells than raw strides.
    *
    * Engine-exact BY CONSTRUCTION, which is what makes a full oracle
    * possible for an iterative fp algorithm: the mean is NEVER a
    * floating-point sum (fp addition is order-sensitive, and Spark's
    * partial aggregation order is not even run-stable) — each member
    * component quantizes to the exact integer floor(u·2²⁴ + 0.5),
    * sums run as longs (order-free; |Σ| < 2⁴⁰ at 32 k members), and
    * only then does one exact-long double division + one fixed-order
    * renormalization fold produce the new centroid. Assignment
    * tie-breaks by centroid id; an empty cluster keeps its previous
    * centroid; a zero-norm mean (exact cancellation) likewise.
    *
    * Scale shape per round: one broadcast-centroid argmin over the
    * corpus ([[nearestCell]] — partial-aggregated below its
    * exchange) plus one (c_id, pos)-keyed
    * integer-sum aggregate whose shuffle is #centroids·dim rows.
    * Centroid count is a build-time budget (the FAISS nlist
    * contract): hold it fixed as the corpus grows and every round
    * stays linear. @return (c_id, cu: array<double>, unit length). */
  def kmeansCentroids(corpus: DataFrame, seedEvery: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(seedEvery >= 1, s"seedEvery must be >= 1, got $seedEvery")
    require(iters >= 0 && iters <= 8,
      s"iters must be in [0, 8] (each round is a corpus pass), got $iters")
    val dim = vecDim(corpus, vecCol)
    val base = unitVecs(spread(corpus), dim, idCol, vecCol).localCheckpoint()
    var cents = unitCentroids(base, seedEvery)
    requireStrideHits(cents, base,
      "kmeansCentroids: no indexable id is divisible by seedEvery=" +
        s"$seedEvery — pick a stride that intersects the id space")
    for (_ <- 0 until iters) {
      // skinny argmin, then re-attach u by an id equi-join for the
      // update stage
      val cells = nearestCell(base.crossJoin(broadcast(cents)), "id",
        dot(col("u"), col("cu")))
      val assign = base.join(cells, "id")
      val sums = assign.select(col("c_id"), posexplode(col("u")))
        .select(col("c_id"), col("pos"),
          floor(col("col") * lit(16777216.0) + lit(0.5)).cast("long")
            .as("q"))
        .groupBy(col("c_id"), col("pos"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      val means = sums
        .withColumn("m",
          col("sq").cast("double") / col("cnt").cast("double"))
        .groupBy(col("c_id"))
        .agg(transform(sort_array(collect_list(struct(col("pos"),
          col("m")))), x => x.getField("m")).as("mv"))
        .withColumn("nrm", sqrt(dot(col("mv"), col("mv"))))
        .select(col("c_id"),
          when(col("nrm") === 0.0, lit(null).cast("array<double>"))
            .otherwise(transform(col("mv"), x => x / col("nrm")))
            .as("cu2"))
      val next = cents.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("cu2"), col("cu")).as("cu"))
        .localCheckpoint()
      graft.core.Checkpoints.release(cents)
      cents = next
    }
    graft.core.Checkpoints.release(base)
    cents
  }

  /** Chunk→document embedding MEAN-POOLING, fixed-point exact — the
    * aggregation step after a long document is embedded chunk-wise
    * (the public sentence-transformers recipe). A double mean would
    * sum floats in partition order (non-deterministic across engines
    * and retries); instead each component is floor-quantized at 2^bits
    * (exact: floats are exact doubles, power-of-two scale), summed as
    * LONGS (order-free), and the mean is floor(sum/n) — with |sum| <
    * 2^50 the double division can never round across the ≥1 integer
    * gap, so both engines floor identically. Output is EXPLODED
    * (group, dim, n_chunks, sum_fp, pool_fp): one partial-agg'd
    * (group, dim)-keyed aggregate, no arrays through the shuffle —
    * the kmeans array-payload lesson applied. */
  def meanPoolFp(df: DataFrame, grpExpr: Column, vecCol: String,
      bits: Int = 20): DataFrame = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1,30], got $bits")
    val scale = (1L << bits).toDouble
    df.filter(col(vecCol).isNotNull)
      .select(grpExpr.as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("grp"), col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * scale).cast("long").as("xfp"))
      .groupBy(col("grp"), col("dim"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("xfp")).as("sum_fp"))
      .withColumn("pool_fp",
        floor(col("sum_fp").cast("double") / col("n_chunks").cast("double"))
          .cast("long"))
  }

  /** Unit-normalize the vector column into `<vecCol>_unit`
    * (array<double>). The norm is projected ONCE per row before the
    * per-element division — inlining `norm()` inside the transform
    * lambda would re-run the O(d) fold for every element (O(d²)/row).
    * Zero-norm and null vectors normalize to null: no direction. */
  def normalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__nrm", norm(col(vecCol)))
      .withColumn(s"${vecCol}_unit",
        when(col("__nrm").isNull || col("__nrm") === 0.0,
          lit(null).cast("array<double>"))
          .otherwise(transform(col(vecCol),
            x => x.cast("double") / col("__nrm"))))
      .drop("__nrm")

  /** Symmetric int8 quantization of a unit vector — the 4×-8× storage
    * compression step before embeddings are written at corpus scale:
    * q_i = floor(127·x_i + 0.5) ∈ [-127, 127] for x ∈ [-1, 1].
    * floor(+0.5) instead of round(): floor on doubles is engine-exact,
    * HALF_UP tie rules are not guaranteed to be. Pure per-row map. */
  def quantizeInt8(unit: Column): Column =
    transform(unit, x => floor(x * lit(127.0) + lit(0.5)).cast("int"))

  /** Greedy k-center diversity selection (farthest-point traversal,
    * Gonzalez 1985 — public algorithm) over int8-quantized unit
    * embeddings: the CORESET / diverse-subset primitive a curation
    * pipeline runs after dedup (the D4 recipe — Tirumala et al. 2023
    * — pairs SemDeDup with a diversity-aware selection pass; k-center
    * is its classical deterministic form). Start from the smallest
    * id, then k−1 times pick the point FARTHEST from the selected
    * set (max-min squared L2 over the int8 codes, ties to the
    * smallest id) — a 2-approximation of the optimal k-center cover.
    *
    * Fully deterministic and integer-exact (floor quantization +
    * integer squared distances, the q_knn_int8 stance), so the whole
    * greedy trajectory — which point is picked at every round —
    * replays in DuckDB (`q_kcenter_select`, the rounds unrolled as
    * chained CTEs).
    *
    * Scale shape: k rounds, each ONE map-only distance update against
    * a BROADCAST-LITERAL center (one dim-int array riding in the
    * plan) plus one TakeOrdered argmax (per-partition top-1, driver
    * merges #partitions rows); the working frame is localCheckpoint'd
    * per round so round i never replays rounds 1..i−1 — k·n total
    * work, not k²·n, and no corpus-sized shuffle anywhere. The
    * checkpoints ROTATE: localCheckpoint registers outside the
    * CacheManager (Dataset.unpersist is a no-op on it), so each
    * round's materialization is tracked through the SparkContext's
    * persistent-RDD registry and the previous round's blocks are
    * freed once the new copy exists — executor storage holds TWO
    * corpus-sized copies at any moment, not k (at corpus scale k
    * pinned copies would evict everything else on the cluster). The
    * driver holds k rows (the Pack shard-offset bounded-collect
    * budget); k is a sample-size knob (tens to hundreds), never
    * corpus-sized. Selection stops early if every remaining point is
    * at distance 0 (the corpus has ≤ selected distinct codes —
    * nothing left to diversify).
    *
    * @return (idCol, sel_round ∈ [1, k], d2_prev) — d2_prev is the
    * point's squared int8 distance to the previously-selected set at
    * pick time (0 for the seed); max d2_prev over rounds ≥ r bounds
    * the covering radius after round r−1. Requires an integral id. */
  def kCenterSelect(df: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val dim = vecDim(df, vecCol)
    val pts = unitVecs(df, dim, idCol, vecCol, _.cast("long").as("id"),
        quantizeInt8(_).as("v8"))
      .localCheckpoint()
    val seed = pts.orderBy(col("id")).limit(1).collect()
    require(seed.nonEmpty, "kCenterSelect: no indexable vectors")
    var centerVec = seed(0).getSeq[Int](1)
    val sel = scala.collection.mutable.ArrayBuffer(
      (seed(0).getLong(0), 1L, 0L))
    // rotate round checkpoints: materialize the new one, free the
    // previous round's blocks by its own LogicalRDD leaf (never a
    // registry diff, which could claim a concurrent job's RDDs)
    val rotate = new graft.core.Checkpoints.Rotating
    var cur = pts.withColumn("md", int8D2(col("v8"), centerVec))
    var round = 2
    var done = false
    while (round <= k && !done) {
      cur = rotate(cur)
      val nxt = cur.orderBy(col("md").desc, col("id")).limit(1).collect()
      if (nxt.isEmpty || nxt(0).getLong(2) == 0L) done = true
      else {
        sel += ((nxt(0).getLong(0), round.toLong, nxt(0).getLong(2)))
        centerVec = nxt(0).getSeq[Int](1)
        cur = cur.withColumn("md",
          least(col("md"), int8D2(col("v8"), centerVec)))
        round += 1
      }
    }
    // free the final round's blocks AND the quantized input — the
    // result is k driver rows, nothing downstream reads either
    rotate.releaseLast()
    graft.core.Checkpoints.release(pts)
    sel.toSeq.toDF(idCol, "sel_round", "d2_prev")
  }

  /** Nearest-center assignment against a [[kCenterSelect]] result —
    * the consumption half of the coreset: every indexable point gets
    * its closest selected center (integer-exact squared L2 over the
    * int8 codes, ties to the lowest round) plus the distance, giving
    * per-center occupancy (the cluster-balanced sampling weights) and
    * the realized covering radius (max d2 — the k-center objective)
    * in one output-sized aggregate away.
    *
    * Scale shape: the k centers are a BOUNDED k-row collect (the
    * same budget as the selection itself) folded into LITERAL
    * expressions — the argmin is a chain of k when/least columns
    * riding in whole-stage codegen, so the assignment is one
    * map-only pass: no join, no window, NO corpus shuffle anywhere.
    * Deterministic end to end, so the oracle replays it
    * (`q_kcenter_assign`).
    *
    * @return (idCol, center_id, center_round, d2) one row per
    * indexable point. */
  def kCenterAssign(df: DataFrame, selected: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dim = vecDim(df, vecCol)
    def q8(d: DataFrame): DataFrame =
      unitVecs(d, dim, idCol, vecCol, _.cast("long").as("__pid"),
        quantizeInt8(_).as("__v8"))
    // bounded: one row per selected center
    val cents = q8(df)
      .join(selected.select(col(idCol).cast("long").as("__cid"),
          col("sel_round").as("__round")),
        col("__pid") === col("__cid"))
      .select(col("__cid"), col("__round"), col("__v8"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
      .sortBy(_._2) // round-ascending, so strict '<' keeps the
                    // earliest round on distance ties
    require(cents.nonEmpty, "kCenterAssign: empty center set")
    var bestD2 = int8D2(col("__v8"), cents.head._3)
    var bestCid: Column = lit(cents.head._1)
    var bestRnd: Column = lit(cents.head._2)
    cents.tail.foreach { case (cid, rnd, v) =>
      val d = int8D2(col("__v8"), v)
      val better = d < bestD2
      bestCid = when(better, lit(cid)).otherwise(bestCid)
      bestRnd = when(better, lit(rnd)).otherwise(bestRnd)
      bestD2 = when(better, d).otherwise(bestD2)
    }
    q8(df).select(col("__pid").as(idCol), bestCid.as("center_id"),
      bestRnd.as("center_round"), bestD2.as("d2"))
  }

  /** Per-query recall@k of an approximate top-k result against an
    * exact one — the measurement that turns every ANN knob in this
    * file (nlist, nprobe, planes, shortlist) from a guess into a
    * number. Both inputs are (q_id, n_id, …) top-k frames (the shape
    * every *TopK here returns); output is one row per EXACT query:
    * (q_id, n_hits, recall_at_k) with n_hits = |approx ∩ exact| and
    * recall = n_hits/k. Queries the approximate index dropped
    * entirely (an empty probe set) still appear — with 0 — because
    * the exact side drives the join; silently missing queries are
    * precisely what a recall report exists to expose.
    *
    * Scale shape: both frames are |Q|·k rows by construction —
    * output-sized, never corpus-sized — so the anti-shape here would
    * be recomputing the inputs, not this join. Callers measuring an
    * expensive approximate frame should pass the SAME materialized
    * frame they serve from. */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    exact.select(col("q_id"), col("n_id"))
      .join(approx.select(col("q_id"), col("n_id"))
          .withColumn("__hit", lit(1L)),
        Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_at_k",
        col("n_hits").cast("double") / lit(k.toDouble))
  }
}

package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Checkpoints, Fixpoint}

/** Link-graph centrality for corpus curation: PageRank over a
  * domain/document link graph is the classic web-scale quality prior
  * (the public PageRank formulation, Brin & Page 1998 — used by
  * Common-Crawl-derived corpora to weight or gate domains before text
  * filters ever run).
  *
  * This is the FIXED-POINT INTEGER variant: ranks are scaled longs
  * (`scale` total mass units at seed), every division is a floor
  * division, and iteration count is fixed — so the result is exactly
  * reproducible on any engine (the oracle replays all iterations as a
  * recursive CTE; a libm-double PageRank would drift in the last ulp
  * across engines and summation orders). Floor truncation loses a few
  * mass units per node per round — irrelevant for ranking/weighting
  * (relative order is preserved at `scale` ≫ n) and the price of
  * engine-exactness, the same trade [[TextAnalysis.bigramLmScore]]
  * makes.
  *
  * Scale shape per iteration: one equi-join of the edge list with the
  * current rank table on the source id, then ONE partial-agg'd hash
  * aggregate over the union of the damped shares and the |V| teleport
  * seed rows — the aggregate closes the round, so there is no
  * per-round outer join and no per-round second broadcast build (r20;
  * the union rows carry (share, 0) / (0, base) and fold as
  * max(base) + d·Σshare div 100, bit-identical to the outer-join
  * spelling) — all linear in |E| + |V|. Out-degrees are joined ONCE onto the
  * edge list before the loop (they never change) and the rank table is
  * rotating-localCheckpointed each round, so executor storage holds two
  * |V|-sized copies at any moment (not `iterations`) and the logical
  * plan stays O(1) deep. Dangling nodes (no out-edges) simply leak
  * their damped mass — the standard simplification; ranks remain a
  * valid centrality order.
  *
  * The iterative members (PageRank, TrustRank, HITS, k-core) run
  * their rounds in a [[graft.core.Fixpoint]] scope: static plan,
  * loop-sized partitions, key-sorted edge layouts and rotating state,
  * all with one spelling shared by every iterative operator.
  */
object Graph {

  /** @param edges     distinct directed edges (self-loops and duplicate
    *                  edges should be removed by the caller — each row
    *                  carries one unit of out-share)
    * @param iterations fixed power-iteration count (8 ≈ converged for
    *                  ranking purposes on web-shaped graphs)
    * @param dampingPct damping factor in percent (the public 0.85)
    * @param scale     total mass in integer units at seed
    * @param nodesOpt  explicit node universe (one column); defaults to
    *                  the ids appearing in the edge list — pass it when
    *                  isolated nodes must still receive teleport mass
    * @param nNodesOpt precomputed `nodesOpt.count()` — pass it when the
    *                  caller already counted the universe: the universe
    *                  is then neither counted nor checkpointed again
    * @return (node, rank) — rank in integer mass units. The returned
    *         frame IS the final round's local checkpoint (|V| rows of
    *         executor-resident data, O(1)-deep plan); every
    *         intermediate round, the node universe and the
    *         degree-folded edge list are unpersisted before return. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, dampingPct: Int = 85,
      scale: Long = 1000000L, nodesOpt: Option[DataFrame] = None,
      nNodesOpt: Option[Long] = None): DataFrame = {
    val (nodes, prepNodes, eDeg, p, nNodes) =
      prepare(edges, srcCol, dstCol, nodesOpt, nNodesOpt)
    require(nNodes > 0, "pageRank: empty graph")
    val r0 = scale / nNodes
    val base = (100L - dampingPct) * r0 / 100L
    Fixpoint.scope(edges.sparkSession, p, allowBroadcast = false) { loop =>
      powerIterate(loop,
        nodes.select(col("node"), lit(base).as("base"), lit(r0).as("r0")),
        eDeg, iterations, dampingPct, prepNodes)
    }
  }

  /** Seeded-teleport PageRank — the public TrustRank formulation
    * (Gyöngyi, Garcia-Molina, Pedersen 2004): random-jump mass lands
    * ONLY on a trusted seed set, so rank measures proximity-to-trust
    * instead of raw link popularity — the curation prior that gates
    * spam-adjacent domains a plain PageRank still rewards. Nodes
    * unreachable from every seed hold exactly ZERO mass (integer
    * arithmetic, nothing to round). Same fixed-point contract,
    * per-iteration shape, and rotating-checkpoint storage bound as
    * [[pageRank]]; the seed set joins in once, broadcast-sized.
    *
    * @param seeds one-column frame of trusted node ids (deduplicated
    *              here; ids outside the node universe are ignored —
    *              their mass share would teleport to nowhere) */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iterations: Int = 8, dampingPct: Int = 85,
      scale: Long = 1000000L, nodesOpt: Option[DataFrame] = None)
      : DataFrame = {
    val (nodes, prepNodes, eDeg, p, _) =
      prepare(edges, srcCol, dstCol, nodesOpt)
    val s = seeds.toDF("node")
      .select(col("node").cast("long").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
      .withColumn("_seed", lit(true))
    val nSeeds = s.count()
    require(nSeeds > 0, "trustRank: no seed intersects the node universe")
    val r0 = scale / nSeeds
    val base = (100L - dampingPct) * r0 / 100L
    Fixpoint.scope(edges.sparkSession, p, allowBroadcast = false) { loop =>
      powerIterate(loop,
        nodes.join(broadcast(s), Seq("node"), "left")
          .select(col("node"),
            when(col("_seed"), lit(base)).otherwise(lit(0L)).as("base"),
            when(col("_seed"), lit(r0)).otherwise(lit(0L)).as("r0")),
        eDeg, iterations, dampingPct, prepNodes)
    }
  }

  /** HITS hubs-and-authorities (Kleinberg 1999, the public mutual-
    * reinforcement formulation): an authority is a node pointed at by
    * good hubs, a hub points at good authorities. PageRank's single
    * score conflates the two — a link directory can be a top hub while
    * carrying zero authority, and curation wants them apart (gate on
    * authority, spend crawl budget by hub).
    *
    * This is the JACOBI (simultaneous-update) variant under the same
    * fixed-point integer contract as [[pageRank]]: both vectors step
    * from the PREVIOUS round's values — aₜ = norm(Lᵀ h₍ₜ₋₁₎),
    * hₜ = norm(L a₍ₜ₋₁₎) — normalized to `scale` total mass by floor
    * division, so every value is a long and the oracle replays all
    * iterations in a recursive CTE (Kleinberg's sequential update
    * needs the freshly-normalized aₜ inside the same step — a nested
    * full-table aggregate no recursive CTE can express; the Jacobi
    * even/odd subsequences converge to the same principal vectors).
    * Normalizers come out of the SAME previous round — the authority
    * total is Σᵤ h₍ₜ₋₁₎(u)·outdeg(u), the hub total Σᵥ a₍ₜ₋₁₎(v)·indeg(v)
    * — so one (node, h, a) state frame per round suffices.
    *
    * Scale shape per iteration (r21): ONE equi-join pass of the edge
    * list against the |V|-sized state (state joined on src for h, then
    * on dst for a — two broadcast probes of the SAME state checkpoint),
    * each matched edge exploded into its two contribution rows
    * ((dst, h, 0) and (src, 0, a) — the pageRank union-agg shape), ONE
    * partial-agg'd groupBy, one outer join back to the universe —
    * linear in |E| + |V|, rotating-checkpointed like [[pageRank]] (two
    * |V|-sized copies resident, O(1)-deep plan). The normalizers are
    * the degree-weighted previous-round totals — Σ h·outdeg and
    * Σ a·indeg, EXACTLY the oracle's own spelling and bit-equal to
    * re-summing the raw frames (both sum the same multiset of longs) —
    * computed in one 2-scalar aggregate over the previous round's
    * |V|-row CHECKPOINT and carried as literals: the old spelling
    * broadcast each total separately, and each broadcast BUILD job
    * re-executed the full edge⨝state join + aggregate it normalized
    * (araw and hraw each computed TWICE per round, plus 2 driver build
    * jobs). Degrees are static, so they fold onto the state frame once
    * at seed. Overflow bound: raw·scale ≤ scale² and the normalizers
    * ≤ scale·maxdeg must fit a long — the default 10⁶ leaves 9 orders
    * of headroom.
    *
    * @return (node, hub, auth) in integer mass units; nodes with no
    *         out-edges hold hub = 0, nodes with no in-edges auth = 0. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 8, scale: Long = 1000000L,
      nodesOpt: Option[DataFrame] = None,
      nNodesOpt: Option[Long] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val (e, nEdges) = Checkpoints.counted(edges.select(
      col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")))
    require(nEdges > 0, "hits: empty edge list")
    val (nodes, prepNodes, nNodes) = universe(e, nodesOpt, nNodesOpt)
    val p = Fixpoint.loopPartitionsOf(math.max(nEdges, nNodes))
    val r0 = scale / nNodes
    require(r0 > 0, s"hits: scale $scale must be >= node count $nNodes")
    // degrees are loop-invariant: fold them onto the state frame ONCE
    // (outer joins sized by the ambient AQE session — the one-shot
    // prep discipline), so every round's normalizer totals read
    // straight off the previous round's checkpoint. outdeg counts ALL
    // out-edges (including ones to out-of-universe dsts) — that is
    // what makes Σ h·outdeg ≡ Σ araw exactly (see scaladoc).
    val odeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("od"))
    val ideg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("id"))
    val st0 = nodes
      .join(odeg, Seq("node"), "left").join(ideg, Seq("node"), "left")
      .select(col("node"), lit(r0).as("h"), lit(r0).as("a"),
        coalesce(col("od"), lit(0L)).as("od"),
        coalesce(col("id"), lit(0L)).as("id"))
      .localCheckpoint()
    prepNodes.foreach(Checkpoints.release)
    Fixpoint.scope(edges.sparkSession, p, allowBroadcast = false) { loop =>
    // the edge list laid out by EACH join key: both per-round state
    // joins ride a layout
    val eBySrc = loop.layout(e, "src")
    val eByDst = loop.layout(e, "dst")
    Checkpoints.release(e)
    val rotate = loop.rotating()
    var st = rotate.adopt(st0)
    for (_ <- 1 to iterations) {
      // normalizer totals off the |V|-row checkpoint — two scalars to
      // the driver (the bounded loop-control class, like every
      // fixpoint count()): aTot = Σ h·outdeg = Σ araw,
      // hTot = Σ a·indeg = Σ hraw, bit-equal to re-summing the raw
      // frames because long addition commutes and both sides sum the
      // same multiset (h(src) appears once per out-edge of src).
      val tots = st.agg(
        sum(col("h") * col("od")).as("_ta"),
        sum(col("a") * col("id")).as("_th")).head()
      val aTot = if (tots.isNullAt(0)) 0L else tots.getLong(0)
      val hTot = if (tots.isNullAt(1)) 0L else tots.getLong(1)
      // both raw vectors in ONE union-fed aggregate (the pageRank
      // union-agg fold — was 2 joins + 2 groupBys + 2 outer joins):
      // each layout-riding join emits its contribution rows —
      // (dst, h, 0) off the src-keyed copy, (src, 0, a) off the
      // dst-keyed one — and a single partial-agg'd groupBy closes
      // both vectors. Contribution multisets are the r20 spelling's
      // exactly (same inner joins, same sums).
      val hv = st.select(col("node").as("_sn"), col("h"))
      val av = st.select(col("node").as("_dn"), col("a"))
      val raws = eBySrc.join(hv, eBySrc("src") === hv("_sn"))
        .select(col("dst").as("node"), col("h").as("ac"),
          lit(0L).as("hc"))
        .unionAll(eByDst.join(av, eByDst("dst") === av("_dn"))
          .select(col("src").as("node"), lit(0L).as("ac"),
            col("a").as("hc")))
        .groupBy(col("node"))
        .agg(sum(col("ac")).as("araw"), sum(col("hc")).as("hraw"))
      // `x div 0` yields null exactly as the old `div _th` broadcast
      // spelling did when a vector total collapsed to zero
      st = rotate(st.select(col("node"), col("od"), col("id"))
        .join(raws, Seq("node"), "left")
        .select(col("node"),
          expr(s"coalesce(hraw, 0L) * ${scale}L div ${hTot}L").as("h"),
          expr(s"coalesce(araw, 0L) * ${scale}L div ${aTot}L").as("a"),
          col("od"), col("id")))
    }
    st
    }.select(col("node"), col("h"), col("a"))
  }

  /** Per-node triangle participation over an UNDIRECTED reading of the
    * edge list — the local clustering signal (spam farms and mirror
    * rings are triangle-dense; organic link neighborhoods are sparse),
    * the third member of the centrality family next to [[pageRank]]
    * and [[hits]].
    *
    * Algorithm: degree-ordered wedge closing (the public node-iterator
    * bound, Schank & Wagner 2005). Edges are canonicalized (self-loops
    * dropped, duplicates and reversals merged), then oriented from
    * lower to higher (degree, id) rank; each triangle is found exactly
    * once, as the wedge at its LOWEST-rank corner closed by an
    * oriented edge between the two higher corners. The join plan is
    * engine-exact — set operations only, no floats.
    *
    * Scale shape: the wedge self-join is keyed on the low corner, and
    * degree orientation caps every out-degree at O(√m) (a node of
    * degree d > √(2m) has < √(2m) higher-degree neighbors), so wedge
    * volume — the only super-linear intermediate — is bounded by
    * O(m^{3/2}) TOTAL and per-key by O(m), the classic bound that
    * makes the hub-skew of power-law graphs survivable: the raw
    * (un-oriented) wedge count at a degree-10⁶ hub is 10¹² pairs, the
    * oriented one at most 2m. The closing probe is an equi-join of
    * wedges against the oriented edge list on the (v, w) pair key.
    *
    * @return (node, triangles) — nodes in no triangle are absent. The
    *         returned frame is a local checkpoint (the corpus-sized
    *         intermediates are released before return). */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")) // also drops null endpoints
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
      .localCheckpoint() // consumed by deg + orientation
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
      .select(when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("dt")))
        .otherwise(
          struct(col("b").as("s"), col("a").as("t"), col("da").as("dt")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.dt").as("dt"))
      .localCheckpoint() // consumed by both wedge legs + the probe
    val wedges = oriented
      .select(col("s"), col("t").as("v"), col("dt").as("dv"))
      .join(oriented.select(col("s"), col("t").as("w"), col("dt").as("dw")),
        Seq("s"))
      // order the two high corners by the same rank, so each unordered
      // wedge appears once and matches the probe edge's orientation
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
    val out = wedges
      .join(oriented.select(col("s").as("v"), col("t").as("w")),
        Seq("v", "w"))
      .select(explode(array(col("s"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
      .localCheckpoint()
    Checkpoints.release(und)
    Checkpoints.release(oriented)
    out
  }

  /** k-core of the UNDIRECTED graph: the maximal subgraph in which
    * every node keeps degree ≥ k — the classic dense-cluster extractor
    * (Seidman 1983; link-farm cores survive where organic periphery
    * peels away), completing the centrality family ([[pageRank]],
    * [[hits]], [[triangleCounts]]).
    *
    * Algorithm: iterative peeling to the TRUE fixpoint — each round
    * drops every node whose degree among the survivors is < k; peeling
    * is confluent, so the result is unique and engine-exact (set
    * operations only). The oracle replays it as a recursive CTE that
    * emits a round only while the alive set strictly shrinks, with the
    * empty-core case resolved by a final stability check.
    *
    * Scale shape (r21 — the INCREMENTAL-DEGREE peel): the state frame
    * is (node, degree-among-survivors), seeded by one full degree
    * count and maintained by SUBTRACTION — each round counts, per
    * survivor, its edges into the just-removed set and subtracts,
    * instead of recounting every edge's two endpoints against the
    * alive set (the pre-r21 shape: two |E|-sized semi-join shuffles
    * per round, ~13 exchanges per fused round). The adjacency list
    * (both directions) is partitioned AND sorted by the NEIGHBOR key
    * once ([[Fixpoint.Scope.layout]]), so the per-round removed-
    * neighbor join runs with zero adj-side exchange and zero adj-side
    * sort; everything that shuffles per round is peel-STATE-sized
    * (the removed set, the per-survivor drop counts). Total edge
    * work is O(|E|) summed over ALL rounds — each edge is subtracted
    * exactly once, when its first endpoint is removed — versus
    * O(|E| × rounds) for the recount, the difference that dominates
    * on deep peels (pendant chains unravel one node per round).
    * Round count is the peeling depth, and the per-round driver
    * action is the termination test itself (one count), the same
    * inherent cost every fixpoint loop carries.
    *
    * @return (node, core_degree) — the members of the k-core with
    *         their within-core degree; empty when no k-core exists. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1: $k")
    // consumed once, by the adjacency build
    val (und, nUnd) = Checkpoints.counted(edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct())
    val p = Fixpoint.loopPartitionsOf(nUnd)
    Fixpoint.scope(edges.sparkSession, p, allowBroadcast = false) { loop =>
    val rotate = loop.rotating()
    // adjacency in both directions, laid out by the REMOVED-side key:
    // each round's join against the removed set scans it, never
    // shuffles it
    val adj = loop.layout(und.select(explode(array(
        struct(col("a").as("node"), col("b").as("other")),
        struct(col("b").as("node"), col("a").as("other")))).as("e"))
      .select(col("e.node").as("node"), col("e.other").as("other")),
      "other")
    Checkpoints.release(und)
    // ONE incremental peel step off a state frame of
    // (node, degree-among-current-survivors): split out the removed
    // nodes, count each survivor's edges into them, subtract. By
    // induction the maintained degree IS degrees-among-alive, so the
    // fixpoint and every intermediate alive set equal the recount
    // spelling's exactly (long arithmetic, set semantics).
    def peelOnce(st: DataFrame): DataFrame = {
      val rm = st.filter(col("core_degree") < k)
        .select(col("node").as("other"))
      val upd = adj.join(rm, Seq("other"))
        .groupBy(col("node")).agg(count(lit(1)).as("_drop"))
      st.filter(col("core_degree") >= k)
        .join(upd, Seq("node"), "left")
        .select(col("node"),
          (col("core_degree") - coalesce(col("_drop"), lit(0L)))
            .as("core_degree"))
    }
    // seed: the full degree count — every node of und appears in adj
    var state = rotate(adj.groupBy(col("node"))
      .agg(count(lit(1)).as("core_degree")))
    var n = state.count()
    var stable = n == 0
    while (!stable) {
      // TWO peel rounds per materialized frame (r20, the trustrank
      // round-fusion discipline): the peel is monotone (rounds only
      // remove nodes) and its fixed point is cadence-invariant, so
      // count-unchanged across a fused step still reads "stable"
      // exactly — peel(peel(A)) has A's count iff neither sub-round
      // removed anything. Halves the job+checkpoint floor the peel
      // pays per logical round; the inner step is recomputed once
      // inside the fused plan (the un-materialized sub-state is
      // referenced by both faces of the outer step — cheap here: the
      // inner step's inputs are the state checkpoint and the
      // exchange-free adj probe). Cadence stops at 2: each deeper
      // level doubles the un-checkpointed recomputation (the BPE
      // 2^cadence lesson).
      val next = rotate(peelOnce(peelOnce(state)))
      val m = next.count()
      stable = m == n || m == 0
      if (m == 0) {
        // peel hit bottom: the k-core is empty (confluence). A fresh
        // empty frame — the scope releases the last state, which this
        // frame does not read.
        state = adj.sparkSession.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          next.schema)
      } else state = next
      n = m
    }
    state
    }
  }

  /** Shared setup: normalized edge list with out-degree folded on +
    * the node universe ([[universe]]), each checkpointed ONCE with its
    * count delivered by the same job ([[Checkpoints.counted]]; the
    * one-shot unknown-cardinality joins run under the ambient AQE
    * session — sizing those is what AQE is for), plus the loop-sized
    * partition count p off the materialized invariants' counts. The
    * loop itself runs in a [[Fixpoint.scope]] of p partitions: every
    * per-round exchange is p-partitioned and the rounds between
    * checkpoints run as one job. (Local checkpoints taken under AQE do NOT preserve
    * physical partitioning in Spark 4.1 — a `Scan ExistingRDD` plans with
    * UnknownPartitioning, verified against the executed plan — so
    * there is deliberately no repartition-before-checkpoint here: it
    * would buy nothing and cost an |E| exchange.)
    * @return (nodes, prepNodes, eDeg, p, nNodes) — see [[universe]]
    *         for `nodes` and `prepNodes` */
  private def prepare(edges: DataFrame, srcCol: String, dstCol: String,
      nodesOpt: Option[DataFrame], nNodesOpt: Option[Long] = None)
      : (DataFrame, Option[DataFrame], DataFrame, Int, Long) = {
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val (nodes, prepNodes, nNodes) = universe(e, nodesOpt, nNodesOpt)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val (eDeg, nEdges) = Checkpoints.counted(e.join(deg, "src"))
    (nodes, prepNodes, eDeg,
      Fixpoint.loopPartitionsOf(math.max(nEdges, nNodes)), nNodes)
  }

  /** The node universe of the (src, dst) edge list `e` and its count.
    * A caller that passes both its universe and that universe's count
    * gets its own frame back unmaterialized: its one consumer (the
    * loop's seed-state checkpoint) reads it once, so a checkpoint of
    * it would be a job that saves nothing. Otherwise the universe
    * (caller's or src∪dst) is checkpointed and counted in one job.
    * A caller-supplied count only applies to a caller-supplied
    * universe (the derived src∪dst universe has no caller count).
    * @return (nodes, prepNodes, nNodes) — `prepNodes` is the
    *         checkpoint made HERE, the only one the caller may
    *         release: the caller's universe may itself read a
    *         checkpoint its owner still needs. */
  private def universe(e: DataFrame, nodesOpt: Option[DataFrame],
      nNodesOpt: Option[Long]): (DataFrame, Option[DataFrame], Long) = {
    val given = nodesOpt
      .map(_.toDF("node").select(col("node").cast("long").as("node")))
    (given, nNodesOpt) match {
      case (Some(nodes), Some(n)) => (nodes, None, n)
      case _ =>
        val (cp, n) = Checkpoints.counted(given.getOrElse(
          e.select(col("src").as("node"))
            .union(e.select(col("dst").as("node"))).distinct()))
        (cp, Some(cp), n)
    }
  }

  /** The fixed-point power loop over a per-node (base, r0) seeding —
    * constant for PageRank, seed-gated for TrustRank. `prepNodes` is
    * [[prepare]]'s own universe checkpoint, if it made one, released
    * as soon as the seeded frame (which subsumes it) is materialized;
    * the caller's universe is never released here. */
  private def powerIterate(loop: Fixpoint.Scope, seeded: DataFrame,
      eDeg: DataFrame, iterations: Int, dampingPct: Int,
      prepNodes: Option[DataFrame]): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0,100]: $dampingPct")
    val nodes = seeded.localCheckpoint()
    prepNodes.foreach(Checkpoints.release)
    val eSorted = loop.layout(eDeg, "src")
    Checkpoints.release(eDeg)
    val rotate = loop.rotating()
    var ranks = nodes.select(col("node"), col("r0").as("rank"))
    for (i <- 1 to iterations) {
      // ONE exchange, ZERO broadcasts per round (r20 union-agg fold +
      // r21 sorted edge layout): the damped share aggregation and the
      // teleport base fold in a single UNION-fed hash aggregate —
      // (node, share, 0) contribution rows union (node, 0, base) seed
      // rows, grouped once (the r20 fold that removed the per-round
      // `nodes LEFT JOIN contrib` broadcast build, identical integer
      // arithmetic: base + (d × Σshare) div 100, Σ over the same
      // share set, max(base) over exactly one non-zero row). The rank
      // join rides eSorted's layout.
      val next = eSorted
        .join(ranks, eSorted("src") === ranks("node"))
        .select(col("dst").as("node"),
          expr("rank div deg").as("share"), // true integer floor div
          lit(0L).as("base"))
        .unionAll(nodes.select(col("node"), lit(0L).as("share"),
          col("base")))
        .groupBy("node")
        .agg((max(col("base")) +
          expr(s"($dampingPct * sum(share)) div 100")).as("rank"))
      // checkpoint every SECOND round: two co-partitioned rounds
      // pipeline inside one materialization job (per-round driver
      // floor halves), while plan depth stays bounded at 2 rounds —
      // the static edge join never self-nests, so no analyzer blowup.
      // DEEPER fusion measured and refuted (r20 A/B at sf0.1): at
      // cadence 4 the un-checkpointed rank chain re-executes inside
      // each following round — q_trustrank jobs 32 → 29 but summed
      // task time 0.5 → 1.0 s and wall 1.8 → 2.5 s; cadence 2 pays
      // that re-execution exactly once.
      ranks = if (i % 2 == 0 || i == iterations) rotate(next) else next
    }
    // the final checkpoint IS the result; the loop-invariant inputs
    // are not referenced by it (checkpoints truncate lineage)
    Checkpoints.release(nodes)
    ranks
  }
}

package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (the public Cormode–Muthukrishnan 2005 structure):
  * a depth×width grid of counters; each item increments one counter
  * per row (chosen by d independent hashes) and reads back the MIN of
  * its d counters — an overestimate with error ≤ εN at probability
  * 1−δ for width = e/ε, depth = ln(1/δ).
  *
  * Why it earns a place next to the exact `vocabulary` top-k: the
  * sketch is a FIXED-SIZE (depth·width counters), MERGEABLE summary —
  * two sketches of two corpus halves sum cell-wise into the sketch of
  * the union (SketchSpec pins that algebra), so a 100 TB corpus or an
  * infinite stream folds into a few KB per source/day that can be
  * combined later, while the exact path must carry a vocabulary-sized
  * shuffle per question asked.
  *
  * Engine-exactness: the row hashes derive from the same unsigned
  * Spark-Murmur3 value the Bloom decontaminator replays in DuckDB
  * integer SQL, fanned to `depth` rows by Knuth multiplicative mixing
  * (2654435761 = ⌊2³²/φ⌋) and a Lehmer step (48271 mod 2³¹−1) — every
  * intermediate < 2⁶³, so the oracle rebuilds the exact grid and
  * reproduces every collision-inflated estimate.
  *
  * Scale shape: token counts partial-aggregate map-side (vocab-sized
  * shuffle — needed to weight the grid); the grid itself is
  * depth·width rows, BROADCAST back for the estimate probe, so the
  * min-of-d read is a map-only pass over the vocabulary. Nothing is
  * corpus-quadratic or driver-bound.
  */
object Sketch {

  /** Unsigned Spark-Murmur3 of a column — the [[Decontaminate]] Bloom
    * spelling, shared with [[Stats.sourceProfile]]'s content sketch
    * (both replay through `MurmurSql` in the oracle). Range
    * [0, 2³²) — never negative, which is what lets −1 serve as the
    * [[KmvAggregator]] null sentinel. */
  private[graft] def unsignedHash(c: Column): Column =
    hash(c).cast("long").bitwiseAND(lit(0xFFFFFFFFL))

  /** Row-r bucket for hash value u: Knuth-mix then Lehmer, mod width. */
  private def bucket(u: Column, r: Column, width: Int): Column =
    ((u + r * lit(2654435761L)) % lit(4294967296L) * lit(48271L)) %
      lit(2147483647L) % lit(width)

  /** Per-token exact counts (the grid weights and the report column). */
  private def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token").agg(count(lit(1)).as("exact"))

  private def tableFrom(tf: DataFrame, depth: Int, width: Int): DataFrame =
    tf.withColumn("u", unsignedHash(col("token")))
      .select(col("exact"), col("u"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket(col("u"), col("r"), width))
      .groupBy("r", "bucket").agg(sum(col("exact")).as("c"))

  /** The mergeable sketch: (r, bucket, c) — depth·width cells (empty
    * cells omitted; they merge as zero). Summing the cells of two
    * corpus parts' tables yields the table of their union. */
  def cmsTable(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims: $depth x $width")
    tableFrom(tokenCounts(df, textCol), depth, width)
  }

  /** Cell-wise merge of sketch tables built with identical dims. */
  def mergeCmsTables(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy("r", "bucket").agg(sum(col("c")).as("c"))

  /** [[mergeCmsTables]] under group keys: cell-wise merge of
    * [[cmsTableBy]] grids — the bucket is a function of the token
    * alone, so per-group grids share geometry and the merged frame is
    * the union's grouped grid exactly (the streaming per-day fold's
    * shape). */
  def mergeCmsTablesBy(groupCols: Seq[String],
      parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy((groupCols ++ Seq("r", "bucket")).map(col): _*)
      .agg(sum(col("c")).as("c"))

  /** Per-group token counts — [[tokenCounts]] with the group key. */
  private def tokenCountsBy(df: DataFrame, textCol: String,
      groupCol: String): DataFrame =
    df.select(col(groupCol).as("_g"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("_g", "token").agg(count(lit(1)).as("exact"))

  /** PER-GROUP count-min grids in one corpus pass — the grouped face
    * of [[cmsTable]], completing the synopsis trio's grouped story
    * (KMV groups via `kmvSynopsis(groupCols)`, rank via
    * [[rankGridBy]]): (groupCol, r, bucket, c), depth·width cells per
    * group. The bucket is a function of the token alone (the group
    * rides the cell key), so per-group grids over the same token
    * space share bucket geometry and merge cell-wise under the group
    * key. */
  def cmsTableBy(df: DataFrame, textCol: String, groupCol: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch dims: $depth x $width")
    tableFromBy(tokenCountsBy(df, textCol, groupCol), depth, width)
      .withColumnRenamed("_g", groupCol)
  }

  /** Grouped grid off a (_g, token, exact) frame — ONE spelling for
    * [[cmsTableBy]] and [[cmsHeavyHittersBy]]'s probe target. */
  private def tableFromBy(tf: DataFrame, depth: Int,
      width: Int): DataFrame =
    tf.withColumn("u", unsignedHash(col("token")))
      .select(col("_g"), col("exact"), col("u"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket(col("u"), col("r"), width))
      .groupBy("_g", "r", "bucket").agg(sum(col("exact")).as("c"))

  /** Per-group top-k heavy hitters by CMS estimate — [[cmsHeavyHitters]]
    * grouped: (groupCol, token, est, exact), ≤ k rows per group,
    * est ≥ exact within each group's grid. The per-group top-k is a
    * rank window capped at k, which Spark plans as WindowGroupLimit —
    * the map-side per-partition top-k before the exchange (the
    * sourceProfile precedent, ExplainSpec-pinned there).
    *
    * Contract: the per-group grid (groups × depth × width cells) is
    * BROADCAST to probe it without re-shuffling the token counts, so
    * the group domain must be DASHBOARD-SIZED (sources, event types,
    * days — the same bound [[rankQuantilesBy]] documents; at the
    * defaults each group costs 4·1024 cells ≈ 100 KB broadcast).
    * Unbounded group domains should use [[cmsHeavyHittersByJoin]],
    * the shuffled face. */
  def cmsHeavyHittersBy(df: DataFrame, textCol: String,
      groupCol: String, depth: Int = 4, width: Int = 1024,
      k: Int = 20): DataFrame =
    heavyHittersByImpl(df, textCol, groupCol, depth, width, k,
      broadcastGrid = true)

  /** [[cmsHeavyHittersBy]] for UNBOUNDED group domains — the shuffled
    * alternative its broadcast contract names: identical arithmetic
    * and output, but the per-group grid joins the probes on
    * (group, r, bucket) through an ordinary shuffle instead of a
    * broadcast, so the group domain can be arbitrarily large (both
    * sides are vocabulary-/grid-sized and partial-aggregate map-side;
    * the per-group top-k stays a WindowGroupLimit). The broadcast
    * face is the faster one for dashboard-sized domains. */
  def cmsHeavyHittersByJoin(df: DataFrame, textCol: String,
      groupCol: String, depth: Int = 4, width: Int = 1024,
      k: Int = 20): DataFrame =
    heavyHittersByImpl(df, textCol, groupCol, depth, width, k,
      broadcastGrid = false)

  /** ONE spelling for the two grouped heavy-hitter faces — only the
    * grid-side join strategy differs. */
  private def heavyHittersByImpl(df: DataFrame, textCol: String,
      groupCol: String, depth: Int, width: Int, k: Int,
      broadcastGrid: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = tokenCountsBy(df, textCol, groupCol).localCheckpoint()
    val probes = tf
      .withColumn("u", unsignedHash(col("token")))
      .select(col("_g"), col("token"), col("exact"), col("u"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket(col("u"), col("r"), width))
    val grid0 = tableFromBy(tf, depth, width)
      .withColumnRenamed("_g", "_gg")
    val grid = if (broadcastGrid) broadcast(grid0) else grid0
    probes
      .join(grid, probes("_g") === grid("_gg") &&
        probes("r") === grid("r") && probes("bucket") === grid("bucket"))
      .groupBy(col("_g"), col("token"))
      .agg(min(col("c")).as("est"), first(col("exact")).as("exact"))
      .withColumn("_rn", row_number().over(Window.partitionBy(col("_g"))
        .orderBy(col("est").desc, col("token"))))
      .filter(col("_rn") <= k)
      .select(col("_g").as(groupCol), col("token"), col("est"),
        col("exact"))
  }

  /** KMV (k-minimum-values) distinct-count synopsis per group — the
    * public bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al.
    * 2007): keep the k smallest DISTINCT hash values seen; if the k-th
    * smallest is u₍ₖ₎ over the 2³² hash space, the distinct count is
    * ≈ (k−1)·2³²/(u₍ₖ₎+1). Like [[cmsTable]] it is a FIXED-SIZE
    * MERGEABLE summary — the union's synopsis is the k smallest of
    * the two synopses' union (KmvSpec pins that algebra) — but it
    * answers COUNT DISTINCT instead of frequency, the pairing every
    * warehouse keeps (Theta/HLL next to CMS).
    *
    * Engine-exactness: values hash through the same unsigned
    * Spark-Murmur3 the Bloom/CMS paths replay in DuckDB
    * ([[graft.queries.MurmurSql.chainLong]]); the estimator is the
    * integer floor `(k−1)·2³² div (u₍ₖ₎+1)` — no doubles — and when
    * fewer than k distinct hashes exist the synopsis is complete and
    * the estimate is their exact count.
    *
    * Relation to the profile sketch: [[Stats.sourceProfile]]'s
    * distinct-content column IS this aggregator (it rode a rank-window
    * + double-estimator spelling until round 15; that superseded path
    * is deleted) — one KMV algebra, one estimator, everywhere.
    *
    * Scale shape: [[KmvAggregator]] is a typed `Aggregator`, so the
    * bounded k-long buffer partial-aggregates MAP-SIDE — the shuffle
    * carries one ≤k-length array per (partition, group), never the
    * distinct values themselves (the `count_distinct` twin the report
    * column carries is exactly the distinct-sized shuffle the sketch
    * exists to avoid at 100 TB — it rides along here only because the
    * report wants the error visible). */
  def kmvSynopsis(df: DataFrame, valueCol: String, k: Int,
      groupCols: Seq[String]): DataFrame = {
    require(k >= 2, s"kmv: k must be >= 2: $k")
    val agg = udaf(new KmvAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    // NULL values are ignored, matching count_distinct — a group with
    // no non-null values is absent from the output
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(agg(unsignedHash(col(valueCol))).as("kmv"))
  }

  /** Cell-wise merge of KMV synopses built with the same k: the k
    * smallest of the per-part minima — exactly the union's synopsis. */
  def mergeKmvSynopses(k: Int, groupCols: Seq[String],
      parts: DataFrame*): DataFrame = {
    val m = udaf(new KmvMergeAggregator(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Long]]())
    parts.reduce(_ unionByName _)
      .groupBy(groupCols.map(col): _*)
      .agg(m(col("kmv")).as("kmv"))
  }

  /** Rolling-window distinct estimate off day-keyed KMV synopses
    * ([[kmvSynopsis]] grouped on a DATE column): for every window-end
    * day, the distinct count of the trailing `windowDays`-day window —
    * "rolling 7-day actives" answered from ≤k-long day synopses, never
    * the (day, user)-distinct fan-out [[graft.ops.Events.rollingActive]]
    * shuffles (the exact twin rides along in `q_kmv_rolling` for error
    * visibility). Each day synopsis fans out to the ≤`windowDays`
    * window ends it covers (a synopses-sized explode) and merges via
    * the bottom-k algebra — the window's own synopsis exactly.
    *
    * Day-domain convention: ALL fan-out window ends are emitted,
    * including up to `windowDays−1` trailing days past the last data
    * day — matching [[graft.ops.Events.rollingActive]] ("every day
    * whose trailing window holds at least one active user"), which is
    * what the estimate pairs with. ([[rankRollingQuantiles]] instead
    * emits only days with data — a window-end quantile question;
    * each contract is documented at its definition.)
    * @return (dayCol: the window end, est_distinct). */
  def kmvRollingDistinct(perDay: DataFrame, dayCol: String,
      windowDays: Int, k: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val m = udaf(new KmvMergeAggregator(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Array[Long]]())
    perDay
      .withColumn("_off",
        explode(sequence(lit(0), lit(windowDays - 1))))
      .withColumn("_wday", date_add(col(dayCol), col("_off")))
      .groupBy(col("_wday"))
      .agg(m(col("kmv")).as("kmv"))
      .select(col("_wday").as(dayCol),
        kmvEstimate(col("kmv"), k).as("est_distinct"))
  }

  /** The integer-floor KMV estimate off a synopsis column: exact
    * below k, `(k−1)·2³² div (u₍ₖ₎+1)` at k. Shared by [[kmvDistinct]]
    * and the streaming fold's report. */
  def kmvEstimate(synCol: Column, k: Int): Column = {
    // (k−1)·2³² must stay in a long, so the bound is STRICT: at
    // k−1 == 2³¹ the numerator is exactly 2⁶³ and overflows signed —
    // unreachable at practical k, but the exactness claim below holds
    // for every k this require admits
    require(k >= 2 && (k - 1).toLong < (1L << 31),
      s"kmv estimate: k out of range: $k")
    // get() (0-indexed, null out-of-bounds) — element_at errors on
    // out-of-bounds under ANSI even on the never-taken branch
    val uk = get(synCol, lit(k - 1))
    val num = lit((k - 1).toLong * 4294967296L)
    val den = uk + lit(1L)
    // Column `/` is a DOUBLE division; its round-to-nearest can land
    // the truncated quotient one off the true integer floor once
    // (k−1)·2³² exceeds 2⁵³ ulp-wise (observed bound: den > 2²¹). The
    // two correction branches make the floor exact for ANY k: q₀ is
    // within ±1 of floor(num/den) (num < 2⁶³, den ≤ 2³², so q₀·den
    // cannot overflow), and one compare each way settles it — the
    // oracle's BIGINT `//` replays the result bit for bit.
    val q0 = (num / den).cast("long")
    val qf = when(q0 * den > num, q0 - 1)
      .when((q0 + 1) * den <= num, q0 + 1)
      .otherwise(q0)
    when(size(synCol) < k, size(synCol).cast("long")).otherwise(qf)
  }

  /** Cross-corpus overlap report off two KMV synopses — the
    * decontamination-adjacent question ("how many distinct values do
    * corpora A and B share?") answered from two bounded sketches
    * instead of a corpus-sized distinct join: the union synopsis is
    * [[mergeKmvSynopses]] of the parts (the exact algebra — KmvSpec),
    * `est_intersection` is inclusion–exclusion over the three
    * integer-floor estimates clamped at 0 (floor arithmetic can push
    * the difference one below zero on near-disjoint inputs), and
    * `jaccard_permille` is the integer floor `1000·inter div union`
    * (`div`, not `/` — the double quotient can cross an integer).
    * At 100 TB this is the shape that answers "how much of the eval
    * set leaked into this crawl slice" per (slice, benchmark) pair
    * from k longs per corpus, merged, never rescanned.
    *
    * Exact counterparts ride along for error visibility (they ARE
    * the distinct-sized join the sketch avoids — report-only, the
    * [[kmvDistinct]] exact-column precedent).
    *
    * @return ONE row: (est_a, est_b, est_union, est_intersection,
    *         jaccard_permille, exact_a, exact_b, exact_intersection).
    */
  def kmvOverlap(dfA: DataFrame, dfB: DataFrame, valueCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"kmv: k must be >= 2: $k")
    val sa = kmvSynopsis(dfA, valueCol, k, Seq.empty)
    val sb = kmvSynopsis(dfB, valueCol, k, Seq.empty)
    val su = mergeKmvSynopses(k, Seq.empty, sa, sb)
    val va = dfA.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("_v")).distinct()
    val vb = dfB.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("_v")).distinct()
    val ests = sa.select(kmvEstimate(col("kmv"), k).as("est_a"))
      .crossJoin(sb.select(kmvEstimate(col("kmv"), k).as("est_b")))
      .crossJoin(su.select(kmvEstimate(col("kmv"), k).as("est_union")))
      .crossJoin(va.agg(count(lit(1)).as("exact_a")))
      .crossJoin(vb.agg(count(lit(1)).as("exact_b")))
      .crossJoin(va.join(vb, Seq("_v"), "left_semi")
        .agg(count(lit(1)).as("exact_intersection")))
    ests
      .withColumn("est_intersection",
        greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
      .withColumn("jaccard_permille",
        when(col("est_union") === 0L, lit(0L))
          .otherwise(expr("(1000 * est_intersection) div est_union")))
      .select(col("est_a"), col("est_b"), col("est_union"),
        col("est_intersection"), col("jaccard_permille"),
        col("exact_a"), col("exact_b"), col("exact_intersection"))
  }

  /** Driver-side twin of [[kmvEstimate]] over a collected synopsis —
    * byte-identical integer arithmetic (exact below k, floor at k). */
  private[graft] def kmvEstimateLocal(syn: Array[Long], k: Int): Long =
    if (syn.length < k) syn.length.toLong
    else (k - 1).toLong * 4294967296L / (syn(k - 1) + 1L)

  /** All-pairs overlap matrix from per-group KMV synopses — the
    * contamination-matrix shape at 100 TB: ONE corpus pass builds G
    * bounded sketches ([[kmvSynopsis]], map-side partial agg), then
    * every pairwise estimate is free driver-side — G·k longs
    * collected (the dashboard-sized group contract
    * [[rankQuantilesBy]] documents), pairwise union synopses via the
    * local [[KmvBuffer.merge]] (the same algebra the distributed
    * merge aggregator runs), inclusion–exclusion + integer-floor
    * Jaccard per pair. "Which crawl slices share users/documents
    * with which benchmarks" costs one scan however many pairs.
    *
    * Pairs are emitted once, ordered `group_a < group_b` by the
    * groups' string rendering (matching the oracle's VARCHAR `<`);
    * no exact columns here — pairwise exact intersections are the G²
    * distinct joins the sketch exists to avoid ([[kmvOverlap]]
    * carries exacts for the single-pair error-visibility case).
    *
    * @return (group_a, group_b, est_a, est_b, est_union,
    *         est_intersection, jaccard_permille), one row per
    *         unordered group pair. */
  def kmvOverlapMatrix(df: DataFrame, groupCol: String,
      valueCol: String, k: Int, maxGroups: Int = 10000): DataFrame = {
    require(k >= 2, s"kmv: k must be >= 2: $k")
    val spark = df.sparkSession
    val gField = df.schema(groupCol)
    // the dashboard-sized-groups contract, ENFORCED (it was
    // documentation-only through r15): the collect below is G·k longs
    // and the output G² rows, so an unbounded group column must fail
    // loudly BEFORE the driver collect, not OOM it. The synopsis is
    // checkpointed ONCE (G bounded-size rows in EXECUTOR storage —
    // the guard protects the driver) so the guard count and the
    // collect share a single corpus pass.
    val synDf = kmvSynopsis(df, valueCol, k, Seq(groupCol))
      .localCheckpoint()
    val probe = synDf.limit(maxGroups + 1).count()
    if (probe > maxGroups) {
      graft.core.Checkpoints.release(synDf)
      throw new IllegalArgumentException(
        s"kmvOverlapMatrix: more than $maxGroups groups in '$groupCol' " +
          "— the all-pairs matrix collects G*k longs driver-side and " +
          "emits G^2 rows, a dashboard-sized-group contract. For " +
          "unbounded group domains keep the synopses distributed " +
          "(kmvSynopsis) and join-probe the pairs you need instead.")
    }
    // String.valueOf: a null group key is a real slice under the
    // kmvSynopsis/sourceProfile convention — render it "null" for the
    // sort (matching rankQuantilesBy) instead of NPE-ing the matrix
    val syn = synDf.collect()
      .map(r => r.get(0) -> r.getAs[scala.collection.Seq[Long]](1).toArray)
      .sortBy(r => String.valueOf(r._1))
    graft.core.Checkpoints.release(synDf)
    val rows = for {
      i <- syn.indices
      j <- (i + 1) until syn.length
    } yield {
      val (ga, sa) = syn(i)
      val (gb, sb) = syn(j)
      val ea = kmvEstimateLocal(sa, k)
      val eb = kmvEstimateLocal(sb, k)
      val eu = kmvEstimateLocal(KmvBuffer.merge(sa, sb, k), k)
      val inter = math.max(0L, ea + eb - eu)
      val jac = if (eu == 0L) 0L else 1000L * inter / eu
      org.apache.spark.sql.Row(ga, gb, ea, eb, eu, inter, jac)
    }
    val lt = org.apache.spark.sql.types.LongType
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        gField.copy(name = "group_a"), gField.copy(name = "group_b"),
        org.apache.spark.sql.types.StructField("est_a", lt),
        org.apache.spark.sql.types.StructField("est_b", lt),
        org.apache.spark.sql.types.StructField("est_union", lt),
        org.apache.spark.sql.types.StructField("est_intersection", lt),
        org.apache.spark.sql.types.StructField("jaccard_permille", lt))))
  }

  /** Distinct-count report per group: (groupCols…, est_distinct,
    * exact_distinct) with the integer-floor KMV estimate next to the
    * exact count. */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int,
      groupCols: Seq[String]): DataFrame = {
    require(k >= 2, s"kmv: k must be >= 2: $k")
    val agg = udaf(new KmvAggregator(k),
      org.apache.spark.sql.Encoders.scalaLong)
    df.filter(col(valueCol).isNotNull) // as in [[kmvSynopsis]]
      .groupBy(groupCols.map(col): _*)
      .agg(agg(unsignedHash(col(valueCol))).as("_syn"),
        count_distinct(col(valueCol)).as("exact_distinct"))
      .select(groupCols.map(col) ++ Seq(
        kmvEstimate(col("_syn"), k).as("est_distinct"),
        col("exact_distinct")): _*)
  }

  // ----- Dyadic rank sketch ---------------------------------------
  //
  // The third mergeable synopsis next to CMS (frequency) and KMV
  // (distinct): RANK/quantile over an UNBOUNDED non-negative long
  // domain — the one question [[Stats.exactQuantiles]]'s
  // bounded-cardinality contract cannot answer at 100 TB. The public
  // construction is Cormode–Muthukrishnan 2005 §4 (quantiles via
  // dyadic decomposition over a Count-Min grid): every value updates
  // one counter row per LEVEL of a 16-ary prefix tree (level ℓ cell =
  // hashed bucket of the value's 4ℓ-bit-truncated prefix), rank(v) =
  // the sum of ≤15 node estimates per level, and a quantile descends
  // the tree level by level. KLL compresses far tighter in theory,
  // but its compaction depends on ARRIVAL ORDER — under Spark's
  // nondeterministic partial-agg merge order the same corpus would
  // yield different (all individually valid) sketches, which kills
  // both run-to-run determinism and the differential oracle. The
  // dyadic grid is a pure cell-wise-ADDITIVE function of the input
  // multiset: build order, partitioning, and merge shape cannot
  // change a single counter, so DuckDB rebuilds the exact grid and
  // replays the exact descent ([[graft.queries]] `q_rank_quantiles`).
  //
  // The bucket mixer is a Lehmer–xorshift chain, NOT Murmur3: the
  // descent must hash PROBE prefixes that may not exist in the data
  // (their buckets still read collided mass), and the oracle computes
  // it inline inside a recursive CTE — pure integer arithmetic that
  // both engines and the driver-side walk spell identically (the
  // q_knn sign-LSH precedent: multiply-mod-p with xor interleave so
  // rounds don't collapse into one linear multiply).

  /** Shared Lehmer–xorshift cell index for a dyadic node: prefix +
    * row-index rr = level·depth + r → bucket ∈ [0, width). Every
    * intermediate stays under 2⁶³; `//` on non-negatives = the
    * unsigned shifts used here (oracle twin:
    * [[graft.queries.RankSketchSql.bucketExpr]]). */
  private[graft] def rankBucket(prefix: Column, rr: Column,
      width: Int): Column = {
    val a = (prefix % lit(2147483647L) + lit(1L)) * lit(48271L) %
      lit(2147483647L)
    val hi = shiftrightunsigned(prefix, 31)
    val m0 = (a * lit(65537L) + hi * lit(8191L) +
      rr * lit(2654435761L)) % lit(4294967296L)
    val m1 = m0.bitwiseXOR(shiftrightunsigned(m0, 16))
    val m2 = m1 * lit(48271L) % lit(2147483647L)
    val m3 = m2.bitwiseXOR(shiftrightunsigned(m2, 13))
    m3 % lit(width.toLong)
  }

  /** Driver-side twin of [[rankBucket]] for the quantile walk —
    * byte-identical arithmetic. */
  private[graft] def rankBucketLocal(prefix: Long, rr: Long,
      width: Int): Long = {
    val a = (prefix % 2147483647L + 1L) * 48271L % 2147483647L
    val hi = prefix >>> 31
    val m0 = (a * 65537L + hi * 8191L + rr * 2654435761L) % 4294967296L
    val m1 = m0 ^ (m0 >>> 16)
    val m2 = m1 * 48271L % 2147483647L
    val m3 = m2 ^ (m2 >>> 13)
    m3 % width
  }

  /** Build the mergeable rank grid over a NON-NEGATIVE long value
    * column: (level, r, bucket, c) — ≤ 16·depth·width cells however
    * large the corpus or its value domain. Negative values raise
    * (shift the domain first: ranks need a total order and the
    * prefix tree covers [0, 2⁶³)); NULLs are excluded (no order
    * position).
    *
    * Scale shape: ONE corpus pass — each row explodes to its 16
    * level-prefixes × depth rows, hashed to cells BEFORE the shuffle,
    * so the partial aggregate caps every map partition's contribution
    * at the grid size and the exchange carries cells, never values —
    * the distinct-value table [[Stats.exactQuantiles]] must shuffle
    * never exists here (ExplainSpec pins the single cell-key
    * exchange). Merging daily grids is cell-wise addition
    * ([[mergeRankGrids]]), the CMS algebra. */
  def rankGrid(df: DataFrame, value: Column, depth: Int = 2,
      width: Int = 2048): DataFrame = {
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8]: $depth")
    require(width >= 16 && width <= 65536,
      s"width must be in [16, 65536]: $width")
    val u = df.select(value.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .select(when(col("v") < 0, raise_error(lit(
        "rankGrid: values must be non-negative — shift the domain " +
          "into [0, 2^63) first")).cast("long"))
        .otherwise(col("v")).as("v"))
    val lvlPrefixes = array((0 until 16).map(l =>
      struct(lit(l).as("level"),
        shiftrightunsigned(col("v"), 4 * l).as("prefix"))): _*)
    u.select(explode(lvlPrefixes).as("lp"))
      .select(col("lp.level").as("level"), col("lp.prefix").as("prefix"),
        explode(array((0 until depth).map(lit(_)): _*)).as("r"))
      .select(col("level"), col("r"),
        rankBucket(col("prefix"),
          (col("level") * depth + col("r")).cast("long"), width)
          .as("bucket"))
      .groupBy("level", "r", "bucket")
      .agg(count(lit(1)).as("c"))
  }

  /** Cell-wise merge of rank grids built with identical dims — the
    * union's grid, exactly (addition is the whole algebra). */
  def mergeRankGrids(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy("level", "r", "bucket").agg(sum(col("c")).as("c"))

  /** [[mergeRankGrids]] under group keys: cell-wise merge of
    * [[rankGridBy]] grids — the group rides the cell key, so the
    * merged frame is the union's grouped grid exactly (the shape the
    * streaming per-day fold maintains). */
  def mergeRankGridsBy(groupCols: Seq[String],
      parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _)
      .groupBy((groupCols ++ Seq("level", "r", "bucket")).map(col): _*)
      .agg(sum(col("c")).as("c"))

  /** PER-GROUP rank grids in one corpus pass — the profile question
    * ("per-source length quantiles", "per-type latency percentiles")
    * at the grid's fixed cost per group: (groupCols…, level, r,
    * bucket, c), ≤ 16·depth·width cells PER GROUP however large each
    * group's slice or value domain. Same additive algebra as
    * [[rankGrid]] (merge = cell-wise sum under the group key), same
    * single partial-aggregated exchange — the map-side combine now
    * caps each partition's contribution at groups×grid instead of
    * grid.
    *
    * Pair with [[rankQuantilesBy]], whose driver-side walk collects
    * groups×grid cells — the contract is DASHBOARD-SIZED group
    * cardinality (sources, event types, days), the same bound
    * [[Stats.sourceProfile]] lives under. Unbounded group domains
    * should use [[rankQuantilesByJoin]], the distributed walk. */
  def rankGridBy(df: DataFrame, value: Column, groupCols: Seq[String],
      depth: Int = 2, width: Int = 2048): DataFrame = {
    require(groupCols.nonEmpty, "rankGridBy: groupCols must be " +
      "non-empty — use rankGrid for the global sketch")
    require(depth >= 1 && depth <= 8, s"depth must be in [1, 8]: $depth")
    require(width >= 16 && width <= 65536,
      s"width must be in [16, 65536]: $width")
    val u = df.select(groupCols.map(col) :+ value.cast("long").as("v"): _*)
      .filter(col("v").isNotNull)
      .withColumn("v", when(col("v") < 0, raise_error(lit(
        "rankGridBy: values must be non-negative — shift the domain " +
          "into [0, 2^63) first")).cast("long"))
        .otherwise(col("v")))
    val lvlPrefixes = array((0 until 16).map(l =>
      struct(lit(l).as("level"),
        shiftrightunsigned(col("v"), 4 * l).as("prefix"))): _*)
    u.select(groupCols.map(col) :+ explode(lvlPrefixes).as("lp"): _*)
      .select(groupCols.map(col) ++ Seq(
        col("lp.level").as("level"), col("lp.prefix").as("prefix"),
        explode(array((0 until depth).map(lit(_)): _*)).as("r")): _*)
      .select(groupCols.map(col) ++ Seq(col("level"), col("r"),
        rankBucket(col("prefix"),
          (col("level") * depth + col("r")).cast("long"), width)
          .as("bucket")): _*)
      .groupBy((groupCols ++ Seq("level", "r", "bucket")).map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Per-group type-1 permille quantiles off a [[rankGridBy]] grid —
    * [[rankQuantiles]]' walk run once per group over the bounded
    * collected cells (groups×grid rows — the dashboard-sized contract
    * documented there). Output (groupCols…, permille, q_est), groups
    * ordered by their key for determinism; a group absent from the
    * grid (no non-null values) is absent from the output. */
  def rankQuantilesBy(grid: DataFrame, groupCols: Seq[String],
      permilles: Seq[Int], depth: Int = 2,
      width: Int = 2048, maxGroups: Int = 10000): DataFrame = {
    require(groupCols.nonEmpty, "rankQuantilesBy: groupCols must be " +
      "non-empty — use rankQuantiles for the global walk")
    require(permilles.nonEmpty &&
      permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be within [1, 1000]: $permilles")
    val spark = grid.sparkSession
    val g = groupCols.length
    // dashboard-sized-groups contract, ENFORCED before the collect
    // (documentation-only through r15): the grid is groups×grid cells,
    // so an unbounded group column would make the collect unbounded.
    // The grid is checkpointed ONCE (executor storage, distributed)
    // so the guard count and the collect share one grid build instead
    // of re-executing the caller's corpus pass twice.
    val gridCp = grid.localCheckpoint()
    val probe = gridCp.select(groupCols.map(col): _*).distinct()
      .limit(maxGroups + 1).count()
    if (probe > maxGroups) {
      graft.core.Checkpoints.release(gridCp)
      throw new IllegalArgumentException(
        s"rankQuantilesBy: more than $maxGroups groups in " +
          s"${groupCols.mkString("(", ", ", ")")} — the grouped walk " +
          "collects groups*grid cells driver-side, a " +
          "dashboard-sized-group contract. For unbounded group " +
          "domains use rankQuantilesByJoin, the distributed walk.")
    }
    val rows = gridCp.collect()
    graft.core.Checkpoints.release(gridCp)
    val byGroup = rows.groupBy(r => (0 until g).map(r.get).toList)
    val out = byGroup.toSeq.sortBy(_._1.map(String.valueOf).mkString(" "))
      .flatMap { case (key, rs) =>
        val cells = rs.map(r =>
          (r.getInt(g), r.getInt(g + 1), r.getLong(g + 2)) ->
            r.getLong(g + 3)).toMap
        walkGrid(cells, permilles, depth, width).map { case (p, q) =>
          org.apache.spark.sql.Row.fromSeq(key ++ Seq(p, q))
        }
      }
    val schema = org.apache.spark.sql.types.StructType(
      groupCols.map(c => grid.schema(c)) ++ Seq(
        org.apache.spark.sql.types.StructField("permille",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("q_est",
          org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      schema)
  }

  /** The UNBOUNDED-group-domain walk — the distributed alternative
    * [[rankQuantilesBy]]'s maxGroups guard names: per-group permille
    * quantiles off a [[rankGridBy]] grid with NO driver collect of
    * cells. Walkers (one per group × permille) descend the 16-ary
    * prefix tree via bounded-fan joins against the grid's level
    * slices: the walker frame fans to its children × depth cells,
    * left-joins the grid (absent cell = 0), takes the per-child min
    * over r, and a per-walker cumulative-sum window picks the first
    * child whose running mass reaches the target (else 15) —
    * [[walkGrid]]'s inner loop re-expressed relationally (the same
    * integer mins and sums in the same order, so outputs are
    * bit-identical; RankSketchSpec pins both descent orders against
    * the collected walk and `q_rank_quantiles_join` shares the
    * grouped recursive-CTE oracle verbatim). Per-group n reads off
    * the level-15 r=0 slice.
    *
    * The DESCENT ORDER adapts to the fan size. While the whole
    * walker fan is floor-dominated (a task or two of rows), rounds
    * cost driver floors, not CPU — so the walk fuses TWO levels per
    * round (16² = 256 grandchildren (j1, j2) × both level slices;
    * two chained windows pick j1 off the upper level's running mass,
    * then j2 off j1's rebased mass): 8 rounds instead of 16 at an 8×
    * candidate multiplier that costs nothing when the fan is tiny.
    * Past ~100k fan rows the walk is CPU-shaped and descends ONE
    * level per round — candidates drop 16× while rounds only double.
    *
    * Scale shape: every walker frame is walkers-sized (groups ×
    * permilles — millions of groups are fine; the grid stays
    * distributed and is materialized once, each round joining only
    * its level slice(s)); grid and walkers are co-partitioned on the
    * GROUP columns, a subset of every round's join/agg/window keys,
    * so the descent runs exchange-free under the static loop plan,
    * checkpointed every 4 levels; group skew cannot exist by
    * construction (per-group cells are sketch-bounded, per-walker
    * fans fixed). Corpus-scale grid checkpoints are heap-safe: the
    * build checkpoint is serialized (scanned twice), the loop
    * checkpoint stays deserialized below ~16M cells (scanned 16
    * times) and serialized above. Locally the rounds pay the
    * per-job/per-stage floor, so for dashboard-sized group domains
    * [[rankQuantilesBy]]'s collected walk is the faster face — this
    * is the 100 TB one. */
  def rankQuantilesByJoin(grid: DataFrame, groupCols: Seq[String],
      permilles: Seq[Int], depth: Int = 2,
      width: Int = 2048): DataFrame = {
    require(groupCols.nonEmpty, "rankQuantilesByJoin: groupCols must " +
      "be non-empty — use rankQuantiles for the global walk")
    require(permilles.nonEmpty &&
      permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be within [1, 1000]: $permilles")
    import graft.core.{Checkpoints, Fixpoint}
    val spark = grid.sparkSession
    val gcols = groupCols.map(col)
    // the grid is the walk's one corpus-scale frame (cells ≈ rows×32
    // at full value diversity) — hold the BUILD checkpoint SERIALIZED
    // so memory pressure spills to disk instead of unrolling
    // deserialized row arrays into the heap (the 64× ramp cell OOMed
    // the 8 GB driver exactly there); it is scanned only twice (the
    // count and the repartition), so the deserialize cost is one-off
    val serLevel =
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val gCp0 = grid.localCheckpoint(true, serLevel)
    val ps = permilles.distinct.sorted
    // size the static loop plan by the LARGEST frame a round touches,
    // not the walker count alone: the exploded walker fan is walkers ×
    // 16·16·2·depth rows and each round joins two grid level slices
    // (grid/8 rows) — sizing by walkers alone put an 82M-cell per-user
    // grid (and its 196M-row fan) into ONE task at the 64× ramp cell
    // (983 s, measured) while leaving dashboard-sized domains at p=1
    val nWalkers = gCp0.select(gcols: _*).distinct().count() *
      ps.length
    // the fuse DECISION keys off the fused fan (would the 2-level
    // round still be floor-dominated?); the SIZING below uses the fan
    // of the branch actually taken — the sequential descent's real
    // per-round fan is 16·depth per walker, 32× below the fused one,
    // and sizing it by the fused multiplier handed large sequential
    // walks an oversized partition count (extra per-task floors every
    // round, 16 rounds deep)
    val fusedFanRows = nWalkers * 16L * 16L * 2L * depth
    val fuse = fusedFanRows <= 100000L
    val fanRows =
      if (fuse) fusedFanRows else nWalkers * 16L * depth
    // dense-stage sizing, NOT loopPartitionsOf's 4M shuffle-rows/task:
    // each round runs walker-partitioned window sorts plus a grid
    // join over the fan — CPU-dense work (p=1 put q_user_dashboard's
    // fan through single-task sorts: 17 s measured on a 32-core box;
    // p=4 still left 8× idle)
    val gridRows = gCp0.count()
    val p = Fixpoint.densePartitionsOf(spark, math.max(fanRows, gridRows))
    // the loop scans the grid once per broadcast build (16 per-level
    // slices on the sequential branch; 4 window slices on the fused
    // one — see the per-branch comments below) — hold it at the
    // LOOP's partition count, not the build's, or every scan pays
    // build-width task floors (617 → ~300 tasks measured).
    // Everything downstream (walkers included) must derive from THIS
    // checkpoint so the build-width one can release.
    // hold the loop's checkpoint deserialized while it fits
    // comfortably (a serialized copy re-pays decompress+deserialize
    // on every scan — ~50 s of task time on a 3.2M-cell grid,
    // measured), serialized only past ~16M cells (~1.6 GB
    // deserialized) where heap safety beats scan cost. The grid
    // rows are hashed by the GROUP COLUMNS for balance; the WALKER
    // side's exchange-freeness comes from its own in-plan
    // repartition below (every per-round key set — the pick
    // groupBy's, the two windows' (groups, permille) — is a superset
    // of gcols), while the grid side rides each round as a broadcast
    // build (reused per checkpoint window — see the checkpoint
    // comment below for why its partitioning must NOT be preserved)
    // and would pay a per-round slice exchange past the SMJ flip.
    // Safe against group skew by construction: a group's cells are
    // sketch-bounded (16·depth·width) and a walker's fan is fixed,
    // whatever the corpus put in the group.
    val loopLevel =
      if (gridRows <= 16000000L)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      else serLevel
    // DELIBERATELY checkpointed under AQE, which records
    // UnknownPartitioning into the LogicalRDD (the r19 classifier
    // lesson) — here that information LOSS is load-bearing. The grid
    // is referenced once per round inside a checkpoint-window plan;
    // the analyzer deduplicates the repeated LogicalRDD via
    // newInstance (fresh exprIds per reference), and a PRESERVED
    // HashPartitioning rides canonicalization with those per-
    // instance exprIds, so the four per-window broadcast subtrees
    // stop canonicalizing equal and ReuseExchange goes dead —
    // plan-probed r19: the static-planner spelling reads rx=0 and
    // re-builds per round (q_user_dashboard 30→41 jobs, 576→906
    // tasks, task time 93→155 s); this spelling reads 1 build + 3
    // ReusedExchange per window. Broadcast reuse is the MEASURED
    // win; the grid-side co-partitioning a preserved partitioning
    // would buy only matters past the corpus-scale SMJ flip, and
    // there it costs one grid-slice exchange per round — the same
    // price this spelling has always paid. Revisit only if Spark's
    // LogicalRDD canonicalization learns to normalize partitioning
    // expressions.
    val gCp = gCp0.repartition(p, gcols: _*)
      .localCheckpoint(true, loopLevel)
    Checkpoints.release(gCp0)
    val nPerGroup = gCp.filter(col("level") === 15 && col("r") === 0)
      .groupBy(gcols: _*).agg(sum(col("c")).as("_n"))
    val walkers0 = nPerGroup
      .withColumn("permille",
        explode(array(ps.map(p => lit(p.toLong)): _*)))
      .withColumn("target",
        expr("(permille * _n + 999) div 1000"))
      .select(gcols ++ Seq(col("permille"), col("target"),
        lit(0L).as("pfx"), lit(0L).as("base")): _*)
    // the 2-level fuse halves the round (= job-floor) count but
    // evaluates 16² grandchildren per round where the sequential
    // descent evaluates 2×16 — an 8× candidate-CPU multiplier that
    // only pays while the whole fan is floor-dominated (a task or
    // two). Past that the walk is CPU-shaped and the single-level
    // descent is the scale path: fanRows-per-round drops 16× while
    // rounds only double. Both orders are bit-identical —
    // RankSketchSpec pins fused ≡ sequential ≡ collected.
    // (`fuse` was decided above, before sizing, off the fused fan.)
    var w = walkers0
    // broadcast stays ON (the Fixpoint.scope default): each round's
    // slice join then broadcasts off the checkpoint's REAL size —
    // measured against the co-partitioned no-broadcast sort-merge
    // shape on the per-user domain, the broadcast plan wins (11.1 vs
    // 18.8 s; the SMJ pays per-round sorts of both sides where the
    // broadcast probe is hash lookups, and the build jobs overlap the
    // scan cost the SMJ pays anyway). At corpus scale the planner
    // flips to the shuffle join by size, which the co-partitioning
    // below makes exchange-free.
    val done = Fixpoint.scope(spark, p) { loop =>
      val rotate = loop.rotating()
      // hash the walkers exactly like the grid checkpoint: from here
      // every join, groupBy, and window in the descent is satisfied
      // by this one partitioning — no further exchange until the
      // result (Spark 4.1 localCheckpoint PRESERVES the child plan's
      // partitioning in its LogicalRDD, so it survives both the grid
      // and the walker checkpoints — verified by plan inspection)
      w = w.repartition(p, gcols: _*)
      if (!fuse) {
        // the sequential probe's level is per-round constant, so a
        // NAIVE window-slice join constant-folds back to per-level
        // builds (plan-verified — the optimizer strips `level` from
        // the keys and pushes the literal into the build side, and
        // nothing reuses). To get the fused branch's reuse here too,
        // the walkers carry the current checkpoint window's TOP level
        // as DATA (`_lvl`, materialized by the seed checkpoint and
        // decremented by 4 at each rotation): the per-round level is
        // then `_lvl − offset` — non-foldable, so `level` stays in
        // the join keys and the four rounds of one checkpoint plan
        // share a canonically identical window-slice broadcast
        // subtree that ReusedExchange builds ONCE: 4 grid scans +
        // broadcast builds per walk instead of 16 (the seed
        // checkpoint costs one extra walkers-sized job).
        var wl = rotate(w.withColumn("_lvl", lit(15)))
        var level = 15
        while (level >= 0) {
          val winLo = (level / 4) * 4
          val lvlCells = gCp
            .filter(col("level") >= winLo && col("level") <= winLo + 3)
            .select(gcols ++ Seq(col("level"), col("r"), col("bucket"),
              col("c")): _*)
          val byWalker = org.apache.spark.sql.expressions.Window
            .partitionBy(gcols :+ col("permille"): _*)
          val stepped = wl
            .withColumn("j",
              explode(array((0 until 16).map(i => lit(i.toLong)): _*)))
            .withColumn("cp", col("pfx") * 16 + col("j"))
            .withColumn("r",
              explode(array((0 until depth).map(lit(_)): _*)))
            // _lvl is the window top (winLo + 3); this round's level
            // derived from DATA keeps the key non-foldable
            .withColumn("level", col("_lvl") - lit(winLo + 3 - level))
            .withColumn("bucket", rankBucket(col("cp"),
              col("level").cast("long") * depth + col("r"), width))
            .join(lvlCells, groupCols ++ Seq("level", "r", "bucket"),
              "left")
            .groupBy(gcols ++ Seq(col("permille"), col("target"),
              col("pfx"), col("base"), col("_lvl"), col("j")): _*)
            .agg(min(coalesce(col("c"), lit(0L))).as("est"))
            .withColumn("S", sum(col("est")).over(byWalker
              .orderBy(col("j")).rowsBetween(
                org.apache.spark.sql.expressions.Window
                  .unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
            .withColumn("pick", min(when(
              col("base") + col("S") >= col("target"), col("j")))
              .over(byWalker))
            .filter(col("j") === coalesce(col("pick"), lit(15L)))
            .select(gcols ++ Seq(col("permille"), col("target"),
              (col("pfx") * 16 + col("j")).as("pfx"),
              (col("base") + col("S") - col("est")).as("base"),
              col("_lvl")): _*)
          wl = if (level % 4 == 0)
            rotate(stepped.withColumn("_lvl", col("_lvl") - lit(4)))
          else stepped
          level -= 1
        }
        w = wl.drop("_lvl")
      } else {
      var hi = 15
      while (hi >= 1) {
        val lo = hi - 1
        // join against the CHECKPOINT WINDOW's 4-level slice rather
        // than this round's (hi, lo) pair: the fused probe's level is
        // a genuine column (explode over hi/lo), so nothing folds,
        // and the two rounds of one checkpoint plan carry canonically
        // identical broadcast subtrees that ReuseExchange builds ONCE
        // — 4 builds + grid scans per walk instead of 8 (measured on
        // the catalog domain: q_rank_quantiles_join 24 → 20 jobs,
        // summed task time 37 → 19 s, wall 7.1 → 5.9 s warmed).
        // Off-round levels sit unmatched in the hash table; the level
        // key restricts matches to exactly the old pair slice.
        val winLo = (lo / 4) * 4
        val lvlCells = gCp
          .filter(col("level") >= winLo && col("level") <= winLo + 3)
          .select(gcols ++ Seq(col("level"), col("r"), col("bucket"),
            col("c")): _*)
        val byWalker = org.apache.spark.sql.expressions.Window
          .partitionBy(gcols :+ col("permille"): _*)
        def cum(ws: org.apache.spark.sql.expressions.WindowSpec) =
          ws.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        val stepped = w
          .withColumn("j1",
            explode(array((0 until 16).map(i => lit(i.toLong)): _*)))
          .withColumn("j2",
            explode(array((0 until 16).map(i => lit(i.toLong)): _*)))
          // one row per probed cell: level hi probes the child prefix
          // (j2-independent — the per-(j1,j2) min below just re-reads
          // it), level lo the grandchild's
          .withColumn("level", explode(array(lit(hi), lit(lo))))
          .withColumn("cp", when(col("level") === hi,
              col("pfx") * 16 + col("j1"))
            .otherwise((col("pfx") * 16 + col("j1")) * 16 + col("j2")))
          .withColumn("r",
            explode(array((0 until depth).map(lit(_)): _*)))
          .withColumn("bucket", rankBucket(col("cp"),
            col("level").cast("long") * depth + col("r"), width))
          .join(lvlCells, groupCols ++ Seq("level", "r", "bucket"),
            "left")
          .groupBy(gcols ++ Seq(col("permille"), col("target"),
            col("pfx"), col("base"), col("j1"), col("j2")): _*)
          .agg(
            min(when(col("level") === hi, coalesce(col("c"), lit(0L))))
              .as("estHi"),
            min(when(col("level") === lo, coalesce(col("c"), lit(0L))))
              .as("estLo"))
          // upper-level running mass: estHi repeats per j2, so add it
          // once per j1 (at its first pair row) — SL(j1) = Σ_{i<=j1}
          .withColumn("SL", sum(when(col("j2") === 0, col("estHi")))
            .over(cum(byWalker.orderBy(col("j1"), col("j2")))))
          .withColumn("pick1", min(when(
            col("base") + col("SL") >= col("target"), col("j1")))
            .over(byWalker))
          .filter(col("j1") === coalesce(col("pick1"), lit(15L)))
          // 16 rows per walker remain (the chosen j1's j2 fan); rebase
          // and replay the same pick one level down
          .withColumn("base1",
            col("base") + col("SL") - col("estHi"))
          .withColumn("S2", sum(col("estLo"))
            .over(cum(byWalker.orderBy(col("j2")))))
          .withColumn("pick2", min(when(
            col("base1") + col("S2") >= col("target"), col("j2")))
            .over(byWalker))
          .filter(col("j2") === coalesce(col("pick2"), lit(15L)))
          .select(gcols ++ Seq(col("permille"), col("target"),
            ((col("pfx") * 16 + col("j1")) * 16 + col("j2")).as("pfx"),
            (col("base1") + col("S2") - col("estLo")).as("base")): _*)
        w = if (lo % 4 == 0) rotate(stepped) else stepped
        hi -= 2
      }
      }
      w
    }
    // level 0 % 4 == 0, so the loop's last step ALWAYS checkpointed:
    // `done` reads an eager checkpoint whose lineage is truncated above gCp,
    // and the grid's executor blocks (groups×grid cells — large in
    // exactly the unbounded-group regime this walk targets) can go now
    // rather than living for the session.
    Checkpoints.release(gCp)
    done.select(gcols ++ Seq(col("permille"),
      col("pfx").as("q_est")): _*)
  }

  /** Rolling-window quantiles off a day-keyed grid ([[rankGridBy]] on
    * a DATE column): for every day present in the grid, the permille
    * quantiles of the trailing `windowDays`-day window ending that day
    * — "rolling 7-day p99 per day" answered ENTIRELY from persisted
    * day cells. The day grid is collected ONCE (days×grid cells — the
    * SAME bounded collect [[rankQuantilesBy]] makes, enforced by the
    * same maxGroups guard), each window's grid forms driver-side by
    * cell-wise sum over its ≤`windowDays` day slices (the union's
    * grid exactly, by additivity — the local-merge-same-algebra shape
    * [[kmvOverlapMatrix]] set), and the walk is the shared
    * [[walkGrid]] descent per window end. A distributed
    * fan-out-then-merge spelling was measured first and discarded:
    * it shuffled windowDays× the cells and materialized the grid
    * twice — ~107 MB shuffle and 3× the wall for the identical
    * bounded answer. Window ends exist only for days with data
    * (leading days carry partial windows — rolling over available
    * history).
    * @param dayCol a DateType column of `byDay`.
    * @return (dayCol: the window end, permille, q_est). */
  def rankRollingQuantiles(byDay: DataFrame, dayCol: String,
      windowDays: Int, permilles: Seq[Int], depth: Int = 2,
      width: Int = 2048, maxGroups: Int = 10000): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    require(permilles.nonEmpty &&
      permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be within [1, 1000]: $permilles")
    val spark = byDay.sparkSession
    val gridCp = byDay.select(col(dayCol), col("level"), col("r"),
      col("bucket"), col("c")).localCheckpoint()
    val probe = gridCp.select(col(dayCol)).distinct()
      .limit(maxGroups + 1).count()
    if (probe > maxGroups) {
      graft.core.Checkpoints.release(gridCp)
      throw new IllegalArgumentException(
        s"rankRollingQuantiles: more than $maxGroups days in " +
          s"$dayCol — the rolling walk collects days*grid cells " +
          "driver-side, a dashboard-sized-group contract. For " +
          "unbounded day domains keep the grid distributed " +
          "(rankGridBy) and walk with rankQuantilesByJoin instead.")
    }
    val rows = gridCp.collect()
    graft.core.Checkpoints.release(gridCp)
    // one deserialization pass into primitive arrays — the merge loop
    // below touches windowDays× the cells, so it must not box; cells
    // dense-index as ((level·depth + r)·width + bucket)
    val n = rows.length
    val dayOf = new Array[Long](n)
    val idxOf = new Array[Int](n)
    val cOf = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = rows(i)
      dayOf(i) = r.getDate(0).toLocalDate.toEpochDay
      idxOf(i) = (r.getInt(1) * depth + r.getInt(2)) * width +
        r.getLong(3).toInt
      cOf(i) = r.getLong(4)
      i += 1
    }
    val rowIdsByDay = Array.tabulate(n)(identity).groupBy(dayOf(_))
    val acc = new Array[Long](16 * depth * width)
    val out = rowIdsByDay.keySet.toSeq.sorted.flatMap { endEp =>
      // window accumulator reused across ends; counters are always
      // positive, so acc(ix) == 0 exactly means "untouched"
      val touched = scala.collection.mutable.ArrayBuffer.empty[Int]
      var off = 0
      while (off < windowDays) {
        rowIdsByDay.get(endEp - off).foreach { ids =>
          var j = 0
          while (j < ids.length) {
            val ix = idxOf(ids(j))
            if (acc(ix) == 0L) touched += ix
            acc(ix) += cOf(ids(j))
            j += 1
          }
        }
        off += 1
      }
      val cells = touched.iterator.map { ix =>
        ((ix / width / depth, ix / width % depth, (ix % width).toLong),
          acc(ix))
      }.toMap
      touched.foreach(ix => acc(ix) = 0L)
      val end = java.sql.Date.valueOf(
        java.time.LocalDate.ofEpochDay(endEp))
      walkGrid(cells, permilles, depth, width).map {
        case (p, q) => org.apache.spark.sql.Row(end, p, q)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      byDay.schema(dayCol),
      org.apache.spark.sql.types.StructField("permille",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("q_est",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      schema)
  }

  /** Type-1 permille quantiles off a rank grid: for each permille p,
    * descend the 16-ary prefix tree from the root — at each level
    * take the first child whose cumulative estimated mass reaches the
    * integer rank target (p·n + 999) div 1000, where each node's
    * estimate is the min of its `depth` grid cells (absent cell = 0)
    * — and the level-0 prefix reached IS the estimated quantile
    * value. Deterministic integer arithmetic end to end; the grid is
    * COLLECTED driver-side by design (≤ 16·depth·width rows — a
    * bounded, output-sized collect, the Pack shard-offset precedent),
    * so the walk costs 16 levels × 16 children of map lookups per
    * permille and zero cluster work beyond the grid build.
    *
    * Accuracy is the dyadic-CMS bound (rank error ≤ Σ per-level
    * collision mass; RankSketchSpec pins the envelope vs
    * [[Stats.exactQuantiles]] on a bounded fixture); the VALUE
    * returned is always an actually-representable point of the
    * domain walk, and with zero collisions it is exactly the type-1
    * quantile. @return (permille, q_est), empty when the grid is. */
  def rankQuantiles(grid: DataFrame, permilles: Seq[Int],
      depth: Int = 2, width: Int = 2048): DataFrame = {
    require(permilles.nonEmpty &&
      permilles.forall(p => p >= 1 && p <= 1000),
      s"permilles must be within [1, 1000]: $permilles")
    val spark = grid.sparkSession
    import spark.implicits._
    val cells = grid.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    walkGrid(cells, permilles, depth, width).toDF("permille", "q_est")
  }

  /** The descent itself — ONE spelling shared by the global and
    * per-group walks (and replayed by the oracle's recursive CTE):
    * for each permille, descend the 16-ary tree taking the first
    * child whose cumulative min-of-depth estimated mass reaches the
    * integer rank target. Empty when the grid (n) is. */
  private def walkGrid(cells: Map[(Int, Int, Long), Long],
      permilles: Seq[Int], depth: Int, width: Int): Seq[(Long, Long)] = {
    // every row contributes exactly one increment per level at each
    // r: the r=0 slice of any level sums to n — read it off the top
    val n = cells.collect { case ((15, 0, _), c) => c }.sum
    if (n == 0L) return Seq.empty
    def est(level: Int, prefix: Long): Long =
      (0 until depth).map(r => cells.getOrElse(
        (level, r,
          rankBucketLocal(prefix, level.toLong * depth + r, width)),
        0L)).min
    permilles.distinct.sorted.map { p =>
      val target = (p.toLong * n + 999L) / 1000L
      var pfx = 0L
      var base = 0L
      var level = 15
      while (level >= 0) {
        var j = 0
        var chosen = false
        while (!chosen) {
          val ej = est(level, pfx * 16 + j)
          if (base + ej >= target || j == 15) {
            pfx = pfx * 16 + j
            chosen = true
          } else {
            base += ej
            j += 1
          }
        }
        level -= 1
      }
      (p.toLong, pfx)
    }
  }

  /** The top-k probe off a (token, exact) vocabulary frame and a
    * prebuilt grid — ONE spelling for [[cmsHeavyHitters]] (grid built
    * here from the same frame) and [[cmsHeavyHittersFromGrid]] (grid
    * maintained elsewhere — merged daily cells, a streamed fold). */
  private def probeTopK(tf: DataFrame, grid: DataFrame, depth: Int,
      width: Int, k: Int): DataFrame =
    tf.withColumn("u", unsignedHash(col("token")))
      .select(col("token"), col("exact"), col("u"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", bucket(col("u"), col("r"), width))
      .join(broadcast(grid), Seq("r", "bucket"))
      .groupBy("token")
      .agg(min(col("c")).as("est"), first(col("exact")).as("exact"))
      .orderBy(col("est").desc, col("token"))
      .limit(k)

  /** Top-k heavy hitters by CMS estimate: (token, est, exact) with
    * est ≥ exact always (the sketch only over-counts), ordered and
    * tie-broken deterministically. */
  def cmsHeavyHitters(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 1024, k: Int = 20): DataFrame = {
    // grid and probes both consume the vocabulary frame — checkpoint
    // it once (vocab-sized, the same budget the TF-IDF path carries)
    // instead of re-running the corpus tokenize for each consumer
    val tf = tokenCounts(df, textCol).localCheckpoint()
    probeTopK(tf, tableFrom(tf, depth, width), depth, width, k)
  }

  /** [[cmsHeavyHitters]] against a grid the caller already holds —
    * the synopsis-warehouse read path: the grid is a merge of
    * persisted cells (daily partitions, a streamed fold), so the
    * probe costs one tokenize of `df` plus a depth·width broadcast,
    * never a grid rebuild. `df` supplies the candidate tokens and
    * their exact ride-along counts; `grid` must be (r, bucket, c)
    * built with the SAME depth/width/hash (cells merged via
    * [[mergeCmsTables]] qualify — the algebra makes them the
    * monolithic grid of the union). */
  def cmsHeavyHittersFromGrid(df: DataFrame, textCol: String,
      grid: DataFrame, depth: Int = 4, width: Int = 1024,
      k: Int = 20): DataFrame =
    probeTopK(tokenCounts(df, textCol), grid, depth, width, k)
}

/** Bounded bottom-k buffer shared by the two KMV aggregators: an
  * ascending sorted array of DISTINCT hash values, length ≤ k — the
  * whole synopsis is ≤ k longs however many rows fold into it. */
private[graft] object KmvBuffer {
  /** Insert one value, preserving sortedness/distinctness/cap. */
  def add(buf: Array[Long], h: Long, k: Int): Array[Long] = {
    val i = java.util.Arrays.binarySearch(buf, h)
    if (i >= 0) buf // already present
    else {
      val ip = -i - 1
      if (buf.length < k) {
        val out = new Array[Long](buf.length + 1)
        System.arraycopy(buf, 0, out, 0, ip)
        out(ip) = h
        System.arraycopy(buf, ip, out, ip + 1, buf.length - ip)
        out
      } else if (ip < k) { // displaces the current maximum
        val out = new Array[Long](k)
        System.arraycopy(buf, 0, out, 0, ip)
        out(ip) = h
        System.arraycopy(buf, ip, out, ip + 1, k - ip - 1)
        out
      } else buf
    }
  }

  /** Sorted-merge two synopses, dedup, keep the k smallest. */
  def merge(a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    if (a.isEmpty) return if (b.length <= k) b else b.take(k)
    if (b.isEmpty) return if (a.length <= k) a else a.take(k)
    val out = new Array[Long](math.min(k, a.length + b.length))
    var (i, j, n) = (0, 0, 0)
    while (n < k && (i < a.length || j < b.length)) {
      val v =
        if (j >= b.length || (i < a.length && a(i) <= b(j))) {
          val x = a(i); i += 1
          if (j < b.length && b(j) == x) j += 1 // dedup across parts
          x
        } else { val x = b(j); j += 1; x }
      out(n) = v; n += 1
    }
    if (n == out.length) out else out.take(n)
  }
}

/** Typed KMV aggregate over pre-hashed values: map-side partial
  * aggregation folds each partition's hashes into a ≤k-long buffer, so
  * the shuffle carries synopses, not values — the idiomatic Spark
  * sketch shape ([[MinHashAggregator]], SURVEY §7.4). */
class KmvAggregator(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Long, Array[Long], Array[Long]] {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  override def zero: Array[Long] = Array.emptyLongArray
  // negative input = the caller's NULL sentinel (unsigned hashes are
  // always in [0, 2³²)): callers that cannot pre-filter NULLs away —
  // sourceProfile folds the sketch inside the same groupBy that
  // counts null-text docs — encode them as −1, skipped here
  override def reduce(buf: Array[Long], h: Long): Array[Long] =
    if (h < 0) buf else KmvBuffer.add(buf, h, k)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    KmvBuffer.merge(a, b, k)
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

/** Merge-side twin: folds already-built synopses (e.g. per-source or
  * per-day parts) into the union's synopsis. */
class KmvMergeAggregator(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Array[Long], Array[Long], Array[Long]] {
  import org.apache.spark.sql.Encoder
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  override def zero: Array[Long] = Array.emptyLongArray
  override def reduce(buf: Array[Long], part: Array[Long]): Array[Long] =
    KmvBuffer.merge(buf, part, k)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    KmvBuffer.merge(a, b, k)
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    ExpressionEncoder[Array[Long]]()
}

package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Checkpoints

/** Streaming document ingest against a STATIC warehouse index — the
  * micro-batch spelling of [[graft.ops.Dedup.incrementalExact]]'s
  * daily-batch shape: documents stream in, fingerprint map-side,
  * first-occurrence-dedup within the stream (stateful, keyed on the
  * fingerprint), and anti-join the ingested corpus's fingerprint index
  * as a stream-static join — the static side never streams, never
  * shuffles per batch, and the stream side carries 8-byte-keyed rows
  * only. The batch twin is exactly `incrementalExact`; the surviving
  * FINGERPRINT SET is arrival-order-independent (each fp emits at most
  * once, membership depends only on content), which is what the
  * catalog oracle compares — the kept doc id is arrival-order within a
  * micro-batched stream and intentionally not part of the contract
  * (the batch operator's min-id rule needs a total order a stream
  * does not have).
  */
object IngestStream {

  /** Day-cell state compaction — the retention face of the streaming
    * synopsis warehouse: keep only the newest `retain` DISTINCT day
    * keys (any orderable day representation; NULL day keys never
    * survive), dropping older day slices WHOLE. Distinct-day
    * retention is the direct state bound — streamed state is
    * days×cells, so the compacted state is ≤ `retain` day slices
    * however sparse or dense the calendar — and it never rewrites a
    * surviving cell (spec-pinned: retained slices are bit-identical
    * to the uncompacted fold's). A late arrival older than the
    * horizon folds in and is dropped at the same step — the lateness
    * contract the rolling-window family already carries. The horizon
    * probe is one distinct+limit over the days dimension per fold
    * step: days-sized, never corpus-sized. */
  def compactToNewestDays(state: DataFrame, dayCol: String,
      retain: Option[Int]): DataFrame = retain match {
    case None => state
    case Some(nd) =>
      require(nd >= 1, s"retainDays must be >= 1: $nd")
      // NULL day keys never survive — filter them unconditionally
      // (they carry no horizon position), so an all-null state
      // compacts to empty rather than passing through whole
      val nn = state.filter(col(dayCol).isNotNull)
      val hs = nn.select(col(dayCol)).distinct()
        .orderBy(col(dayCol).desc).limit(nd)
        .agg(min(col(dayCol))).collect()
      if (hs.isEmpty || hs(0).isNullAt(0)) nn
      else nn.filter(col(dayCol) >= lit(hs(0).get(0)))
  }

  /** documents schema as stored. */
  val docsFileSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The streaming pipeline: null-text rows excluded (the
    * incrementalExact null contract), fingerprint, stream-internal
    * first-occurrence dedup, stream-static anti join. Output:
    * (fpCol, idCol) append rows — at most one per fingerprint. */
  def dedupAgainstIndex(docs: DataFrame, seenFps: DataFrame,
      idCol: String, textCol: String,
      fpCol: String = "text_md5"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(md5(col(textCol).cast("binary")).as(fpCol), col(idCol))
      .dropDuplicates(fpCol)
      .join(seenFps.select(col(fpCol)), Seq(fpCol), "left_anti")

  /** Bounded run → batch DataFrame (memory sink), for the correctness
    * gate. `pre` filters the raw stream (e.g. selecting the day's
    * batch slice out of a mixed file). */
  def runDedupToBatch(spark: SparkSession, path: String,
      seenFps: DataFrame, queryName: String,
      pre: DataFrame => DataFrame = identity): DataFrame = {
    StreamRun.bounded(spark, path, docsFileSchema,
      df => dedupAgainstIndex(pre(df), seenFps, "doc_id", "text"))(
      StreamRun.memory(queryName, "append"))
    spark.table(queryName)
  }

  /** Streaming NEAR-dup ingest — [[dedupAgainstIndex]]'s MinHash-band
    * sibling, completing the incremental trio's streaming face: each
    * micro-batch runs EXACTLY [[graft.ops.Dedup.incrementalNearDup]]
    * (band-index candidates → exact-Jaccard verify → survivors)
    * against the current index, then appends the survivors' band rows
    * and text to the index so later batches dedup against earlier
    * survivors — the production ingest loop, spelled with
    * `foreachBatch` (the Structured Streaming idiom for a stream
    * against an EVOLVING static side; a plain stream-static join
    * cannot express the per-doc "no candidate verified" aggregation
    * in append mode, and could never advance the index).
    *
    * Identical micro-batch logic means the oracle IS the batch
    * operator's: one staged file → one batch → survivors equal
    * [[graft.ops.Dedup.incrementalNearDup]] row for row; multi-batch
    * runs equal the sequential-ingest composition (spec-pinned
    * against the single-batch twin — at `minJaccard = 1.0` near-dup
    * is set-equality, an equivalence relation, so batch partitioning
    * cannot change the survivor classes; below 1.0 the usual
    * non-transitivity caveat applies, same stance as the batch
    * operator). Index state evolves as localCheckpoint'd frames with
    * the previous generation released per batch ([[graft.core
    * .Checkpoints]] discipline) — at warehouse scale the same loop
    * appends to the [[graft.write.IndexStore]] bucketed tables
    * instead.
    *
    * `seenDocs` must carry (idCol, textCol); ids across index and
    * stream must be disjoint (the ingest invariant). Returns the
    * accumulated survivor ids (idCol). */
  def runNearDedupToBatch(spark: SparkSession, path: String,
      seenBands: DataFrame, seenDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      schema: StructType = docsFileSchema,
      pre: DataFrame => DataFrame = identity,
      n: Int = 3, k: Int = 16, r: Int = 4, minJaccard: Double = 1.0,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.ops.Dedup
    val bands, docs, kept = new Checkpoints.Rotating
    bands(seenBands.select(col("doc"), col("band_id"), col("band_key")))
    docs(seenDocs.select(col(idCol), col(textCol)))
    StreamRun.drain(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger), pre)(
        StreamRun.eachBatch { b =>
      val batch = b.select(col(idCol), col(textCol))
      val survivors = Dedup.incrementalNearDup(batch, bands.last.get,
        docs.last.get, idCol, textCol, n, k, r, minJaccard)
      val survivorDocs = batch.filter(col(textCol).isNotNull)
        .join(survivors.select(col(idCol)), Seq(idCol), "left_semi")
        .localCheckpoint()
      bands(bands.last.get.unionByName(Dedup.lshBands(
        Dedup.minhashSignature(survivorDocs, idCol, textCol, n, k), k, r)))
      docs(docs.last.get.unionByName(survivorDocs))
      Checkpoints.release(survivorDocs)
      kept.last match {
        case None => kept.adopt(survivors)
        case Some(kd) =>
          kept(kd.unionByName(survivors)); Checkpoints.release(survivors)
      }
    })
    // the seen-corpus-sized indexes: the result does not read them
    bands.releaseLast(); docs.releaseLast()
    kept.last.getOrElse(seenDocs.select(col(idCol)).limit(0))
  }

  /** Streaming corpus-profile maintenance — the
    * [[graft.ops.Stats.sourceProfile]]/[[graft.ops.Stats.mergeProfiles]]
    * pair run as an ingest loop: each micro-batch is profiled
    * independently and FOLDED into the running profile (algebraic
    * fields re-aggregate, the KMV sketch unions by the k-smallest
    * rule), so the warehouse's corpus stats stay current without ever
    * rescanning ingested data — the streaming face of the merge
    * identity, which also makes the result batch-partitioning-
    * INVARIANT: however the stream is sliced into micro-batches, the
    * final profile equals the direct profile of everything ingested
    * (plus `initial`) — that is exactly what the catalog oracle
    * checks, with the stream deliberately staged as multiple files /
    * micro-batches. `initial` is the warehouse's existing profile
    * frame ([[graft.ops.Stats.sourceProfile]] schema; pass a
    * `limit(0)` profile to start cold). Per-batch state is two
    * profile-sized frames. */
  def runProfileToBatch(spark: SparkSession, path: String,
      initial: DataFrame, srcCol: String = "source",
      textCol: String = "text", k: Int = 16,
      schema: StructType = docsFileSchema,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.ops.Stats
    val prof = new Checkpoints.Rotating
    prof(initial)
    StreamRun.drain(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger))(
        StreamRun.eachBatch { b =>
      val p = Stats.sourceProfile(
        b.select(col(srcCol), col(textCol)), srcCol, textCol,
        size(split(col(textCol), " ")), k)
      prof(Stats.mergeProfiles(prof.last.get.unionByName(p), srcCol, k))
    })
    prof.last.get
  }

  /** STREAMING constraint monitoring — the data-quality face of the
    * incremental-maintenance family (exact dedup, near-dup, ANN
    * ingest, profiles, now constraints): every
    * [[graft.verify.Verifier.constraintReport]] metric is a violation
    * COUNT, i.e. algebraic, so per-micro-batch reports FOLD by
    * addition and the final report equals the batch report over
    * everything ingested — no rescan, ever, which is what lets a
    * 100 TB warehouse keep its quality dashboard current per ingest
    * batch instead of per full audit. Per-batch driver state is one
    * #constraints-row array.
    *
    * One caveat is inherent, not an implementation gap: `Unique`
    * folds as the sum of WITHIN-batch duplicate counts — cross-batch
    * duplicates need the fingerprint-index discipline
    * ([[dedupAgainstIndex]]) and are that operator's job; the
    * constraint is documented as per-batch uniqueness under
    * streaming. The catalog oracle stages the stream as ONE batch, so
    * the fold is exact there; multi-batch folding of the row-local
    * constraints is the spec's job. */
  def runConstraintsToBatch(spark: SparkSession, path: String,
      cs: Seq[graft.verify.Verifier.Constraint],
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.verify.Verifier
    val acc = scala.collection.mutable.Map.empty[String, Long]
    StreamRun.drain(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger))(
        StreamRun.eachBatch { b =>
      Verifier.constraintReport(b, cs).collect().foreach { r =>
        val k = r.getString(0)
        acc(k) = acc.getOrElse(k, 0L) + r.getLong(1)
      }
    })
    import spark.implicits._
    // constraint declaration order, not map order — deterministic
    cs.map(c => (c.name, acc.getOrElse(c.name, 0L)))
      .toDF("constraint_name", "violations")
      .withColumn("passed", col("violations") === 0L)
  }

  /** STREAMING KMV distinct-count maintenance — the cardinality face
    * of the incremental family: per micro-batch, build the batch's
    * per-group synopsis ([[graft.ops.Sketch.kmvSynopsis]]) and fold
    * it into the running one via the merge algebra
    * ([[graft.ops.Sketch.mergeKmvSynopses]]). The fold is
    * ORDER-INDEPENDENT and exactly lossless — merge(sketch(A),
    * sketch(B)) IS sketch(A ∪ B), KmvSpec — so the streamed synopsis
    * equals the batch synopsis over everything ingested, bit for bit,
    * at any batch slicing: a 100 TB warehouse keeps per-source
    * distinct-user counters current per ingest batch with k longs of
    * state per group and no rescan, ever. Per-batch driver-side state
    * is nothing. `retainDays`: see [[runCmsByToBatch]].
    *
    * @return (groupCols…, kmv) — feed
    *         [[graft.ops.Sketch.kmvEstimate]] for the count. */
  def runKmvToBatch(spark: SparkSession, path: String,
      valueCol: String, k: Int, groupCols: Seq[String],
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      retainDays: Option[Int] = None): DataFrame = {
    import graft.ops.Sketch
    require(retainDays.isEmpty || groupCols.size == 1,
      "runKmvToBatch: retainDays needs exactly one (day) group column")
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.kmvSynopsis(_, valueCol, k, groupCols),
        Sketch.mergeKmvSynopses(k, groupCols, _, _),
        groupCols.headOption, retainDays)
      .getOrElse(StreamRun.empty(spark, groupCols.map(c => schema(c)) :+
        StructField("kmv", ArrayType(LongType, containsNull = false))))
  }

  /** STREAMING SCD2 maintenance — the dimension-history face of the
    * incremental family: each micro-batch of dim updates folds into
    * the running SCD2 table via [[graft.ops.Scd.scd2Merge]], so the
    * warehouse's version history is current per ingest batch instead
    * of per nightly rebuild. Per-batch state is the dim itself; the
    * merge cost per batch is scd2Merge's single equi-join of the OPEN
    * slice with the batch.
    *
    * The SCD2 fold is ORDER-DEPENDENT (a key updated in two batches
    * gets two chained versions), unlike the profile/constraint folds —
    * so the catalog oracle stages the stream as ONE batch (where fold
    * ≡ batch merge exactly) and the multi-batch sequencing contract
    * (fold over n batches ≡ chaining scd2Merge n times in arrival
    * order) is spec-pinned with controlled batch staging
    * (`maxFilesPerTrigger = 1`, one file per batch).
    *
    * @param effectiveDateAt batch index (0-based arrival order) → the
    *        effective date stamped on that batch's closes/opens */
  def runScd2ToBatch(spark: SparkSession, path: String,
      initial: DataFrame, keyCol: String, trackedCols: Seq[String],
      effectiveDateAt: Long => String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val cur = new Checkpoints.Rotating
    cur(initial)
    var i = 0L
    StreamRun.drain(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger))(
        StreamRun.eachBatch { b =>
      if (!b.isEmpty) {
        cur(graft.ops.Scd.scd2Merge(cur.last.get, b, keyCol,
          trackedCols, effectiveDateAt(i)))
        i += 1
      }
    })
    cur.last.get
  }

  /** OUT-OF-ORDER-tolerant streaming SCD2 — [[runScd2ToBatch]] with a
    * watermark-bounded reordering buffer, lifting its in-arrival-order
    * precondition the same way [[graft.streaming.FunnelStream
    * .stagesReordered]] lifts the funnel's: each update row carries
    * its OWN effective date (`dateCol`, ISO `yyyy-MM-dd` — so date
    * order is string order), arriving rows are HELD until the date
    * watermark (max seen date − `latenessDays`) passes them, and held
    * rows fold into the dimension strictly by effective date — one
    * [[graft.ops.Scd.scd2Merge]] per ripe date, ascending. Any
    * delivery disorder within the lateness window therefore yields
    * BIT-IDENTICAL history to the in-date-order batch rebuild
    * (spec-pinned on adversarially shuffled staging); a straggler
    * at-or-under the highest already-merged date is DROPPED — merging
    * it would chain versions backwards — the standard watermark
    * contract. Requires at-most-one update per (key, effective date),
    * the same uniqueness [[graft.ops.Scd.scd2Merge]]'s full-outer
    * join already assumes per batch.
    *
    * Scale shape: the buffer is a lateness window of updates (never
    * history-sized); per-batch driver data is one max-date scalar
    * plus the ≤ window-days flush date list; each flush date costs
    * scd2Merge's single open⋈batch equi-join. */
  def runScd2ToBatchReordered(spark: SparkSession, path: String,
      initial: DataFrame, keyCol: String, trackedCols: Seq[String],
      dateCol: String, latenessDays: Int, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    require(latenessDays >= 0,
      s"latenessDays must be non-negative: $latenessDays")
    val cur, pending = new Checkpoints.Rotating
    cur(initial)
    var maxSeen = Option.empty[String]
    var mergedThrough = Option.empty[String]

    // fold every pending row with date <= upTo into the dimension,
    // ascending; retain the rest
    def flush(upTo: String): Unit = pending.last.foreach { p =>
      val ripe = p.filter(col(dateCol) <= upTo)
      val dates = ripe.select(col(dateCol)).distinct()
        .collect().map(_.getString(0)).sorted
      if (dates.nonEmpty) {
        dates.foreach { d =>
          cur(graft.ops.Scd.scd2Merge(cur.last.get,
            ripe.filter(col(dateCol) === d).drop(dateCol),
            keyCol, trackedCols, d))
        }
        pending(p.filter(col(dateCol) > upTo))
        // the drop line is the highest MERGED date, not the watermark:
        // a late arrival between the two is still safe to accept (it
        // folds after every already-merged date)
        mergedThrough = Some(dates.last)
      }
    }

    StreamRun.drain(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger))(
        StreamRun.eachBatch { b =>
      if (!b.isEmpty) {
        val fresh0 = b.select(
          (keyCol +: trackedCols :+ dateCol).map(col): _*)
        // beyond-lateness stragglers: merging them would chain a
        // version BEFORE one already written — drop, deterministically
        val fresh = mergedThrough.fold(fresh0)(mt =>
          fresh0.filter(col(dateCol) > mt))
        val bMax = b.agg(max(col(dateCol))).collect().head.getString(0)
        maxSeen = Some(maxSeen.fold(bMax)(m =>
          if (bMax > m) bMax else m))
        pending(pending.last.fold(fresh)(_.unionByName(fresh)))
        flush(java.time.LocalDate.parse(maxSeen.get)
          .minusDays(latenessDays.toLong).toString)
      }
    })
    flush("9999-12-31") // stream closed: drain the buffer
    pending.releaseLast()
    cur.last.get
  }

  /** The (r, bucket, c) cells of a CMS grid, and with `level` in front
    * a rank grid's — the empty results of their folds. */
  private val cmsCell = Seq(StructField("r", IntegerType, nullable = false),
    StructField("bucket", LongType), StructField("c", LongType))
  private val rankCell =
    StructField("level", IntegerType, nullable = false) +: cmsCell

  /** Per-`_day` rank grids of a micro-batch (`day` resolved on it). */
  private def rankGridByDay(value: Column, day: Column, depth: Int,
      width: Int): DataFrame => DataFrame = b =>
    graft.ops.Sketch.rankGridBy(b.withColumn("_day", day), value,
      Seq("_day"), depth, width)

  /** STREAMING CMS maintenance — the frequency face of the synopsis
    * trio's streaming story (KMV = [[runKmvToBatch]], rank grid =
    * [[runRankGridToBatch]]): per micro-batch, build the batch's
    * count-min table ([[graft.ops.Sketch.cmsTable]]) and fold it into
    * the running one cell-wise ([[graft.ops.Sketch.mergeCmsTables]]).
    * The grid is a cell-wise-ADDITIVE function of the input multiset,
    * so the fold is order-independent and exactly lossless — the
    * streamed grid equals the batch grid over everything ingested,
    * bit for bit, at any batch slicing: a 100 TB warehouse keeps its
    * token-frequency sketch current per ingest batch with
    * depth·width longs of state and no rescan, ever; per-batch
    * driver-side state is nothing.
    *
    * @return the folded (r, bucket, c) grid — probe it for estimates
    *         exactly as a batch-built table. */
  def runCmsToBatch(spark: SparkSession, path: String,
      textCol: String, depth: Int, width: Int, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.ops.Sketch
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.cmsTable(_, textCol, depth, width),
        Sketch.mergeCmsTables(_, _))
      .getOrElse(StreamRun.empty(spark, cmsCell))
  }

  /** [[runCmsToBatch]] under a group key (e.g. a staged day column) —
    * the CMS face of the streaming day-cell story: per micro-batch,
    * per-group grids ([[graft.ops.Sketch.cmsTableBy]]) fold into the
    * maintained cells via the grouped cell-wise merge; same additive
    * algebra, so the streamed grouped grid IS the batch `cmsTableBy`
    * bit for bit at any slicing. State: groups×depth·width cells.
    *
    * `retainDays = Some(n)` bounds the state HORIZON too: after each
    * fold step only the newest `n` distinct day keys survive (the
    * [[compactToNewestDays]] contract) — without it the day dimension
    * grows one slice per event-time day forever; with it the state is
    * ≤ n × depth·width cells however long the stream runs, and the
    * surviving days' cells are untouched (retention drops whole day
    * slices, never rewrites one — spec-pinned). */
  def runCmsByToBatch(spark: SparkSession, path: String,
      textCol: String, groupCol: String, depth: Int, width: Int,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      retainDays: Option[Int] = None): DataFrame = {
    import graft.ops.Sketch
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.cmsTableBy(_, textCol, groupCol, depth, width),
        Sketch.mergeCmsTablesBy(Seq(groupCol), _, _),
        Some(groupCol), retainDays)
      .getOrElse(StreamRun.empty(spark, schema(groupCol) +: cmsCell))
  }

  /** STREAMING rank-grid maintenance — the quantile face of the
    * synopsis trio's streaming story: per micro-batch, build the
    * batch's dyadic rank grid ([[graft.ops.Sketch.rankGrid]]) and
    * fold it cell-wise ([[graft.ops.Sketch.mergeRankGrids]]). Same
    * exactly-lossless order-independent algebra as the CMS fold (the
    * grid is additive in the input multiset), so streamed ≡ batch bit
    * for bit at any slicing — which is why the catalog query's oracle
    * is the DIRECT batch rank-sketch replay verbatim
    * (`RankSketchSql.oracle`): per-ingest-batch quantile maintenance
    * over an unbounded domain costs 16·depth·width longs of state and
    * no rescan.
    *
    * @param value resolved against each micro-batch (e.g.
    *        `unix_micros(col("ts"))`) — must be non-negative long.
    * @return the folded (level, r, bucket, c) grid — feed
    *         [[graft.ops.Sketch.rankQuantiles]]. */
  def runRankGridToBatch(spark: SparkSession, path: String,
      value: Column, depth: Int, width: Int, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import graft.ops.Sketch
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.rankGrid(_, value, depth, width), Sketch.mergeRankGrids(_, _))
      .getOrElse(StreamRun.empty(spark, rankCell))
  }

  /** [[runRankGridToBatch]] grouped on a derived day — the streaming
    * WRITE path of the synopsis warehouse: each micro-batch folds its
    * per-day grids ([[graft.ops.Sketch.rankGridBy]]) into the
    * maintained day cells via the grouped cell-wise merge. The same
    * additive algebra makes the fold order-independent and exactly
    * lossless per day — the streamed day cells ARE the batch
    * `rankGridBy` of the whole corpus bit for bit at any slicing, so
    * every day-cell consumer (range merge, rolling walk, per-day
    * quantiles) answers off a live stream identically to a batch
    * rebuild. State: days×grid cells, no rescan.
    *
    * @param day resolved against each micro-batch (e.g.
    *        `to_date(col("ts"))`); the returned column is `_day`.
    * `retainDays`: see [[runCmsByToBatch]] — newest-n-distinct-days
    * state horizon via [[compactToNewestDays]].
    *
    * @return the folded (_day, level, r, bucket, c) day cells. */
  def runRankGridByToBatch(spark: SparkSession, path: String,
      value: Column, day: Column, depth: Int, width: Int,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      retainDays: Option[Int] = None): DataFrame = {
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        rankGridByDay(value, day, depth, width),
        graft.ops.Sketch.mergeRankGridsBy(Seq("_day"), _, _),
        Some("_day"), retainDays)
      .getOrElse(StreamRun.empty(spark,
        StructField("_day", DateType) +: rankCell))
  }

  /** [[runRankGridByToBatch]] writing THROUGH the warehouse sink —
    * the deployment shape of the whole synopsis story: every
    * micro-batch folds into the maintained day cells AND re-lands the
    * TOUCHED days' current cells via
    * [[graft.write.PartitionedWriter.overwriteDays]] (dynamic per-day
    * overwrite: a day directory always holds that day's full
    * accumulated cells as of its last touching batch, and untouched
    * days are never rewritten). The on-disk dt=… cell table is
    * therefore query-current after every trigger, and any range
    * query answers from a PARTITION-PRUNED scan of it — the corpus
    * is never rescanned, and writes per trigger are
    * touched-days×cells, not history-sized. The fold state equals
    * the table at every step by construction (each day's cells are
    * written whole whenever they change); the catalog query pins
    * stream-persisted ≡ batch-built ≡ monolithic-on-slice through
    * the shared range oracle hash. */
  def runRankGridByToSink(spark: SparkSession, path: String,
      sinkPath: String, value: Column, day: Column, depth: Int,
      width: Int, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        rankGridByDay(value, day, depth, width),
        graft.ops.Sketch.mergeRankGridsBy(Seq("_day"), _, _),
        Some("_day"), landTo = Some(sinkPath))
      .foreach(Checkpoints.release)
  }

  /** [[runCmsByToBatch]] writing THROUGH the warehouse sink — the CMS
    * face of the persisted deployment loop [[runRankGridByToSink]]
    * opened: every micro-batch folds into the maintained per-day CMS
    * grids AND re-lands the TOUCHED days' current cells via
    * [[graft.write.PartitionedWriter.overwriteDays]] (dynamic per-day
    * overwrite off the merged state — a day directory always holds
    * that day's full accumulated grid as of its last touching batch;
    * untouched days are never rewritten). The on-disk dt=… cell table
    * is query-current after every trigger; a range's heavy hitters
    * answer from a PARTITION-PRUNED scan + cell-wise merge + probe,
    * zero corpus rescan, write cost touched-days×depth·width cells
    * per trigger. `groupCol` is the day key; it lands as the `dt`
    * partition column. */
  def runCmsByToSink(spark: SparkSession, path: String,
      sinkPath: String, textCol: String, groupCol: String, depth: Int,
      width: Int, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.ops.Sketch
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.cmsTableBy(_, textCol, groupCol, depth, width),
        Sketch.mergeCmsTablesBy(Seq(groupCol), _, _),
        Some(groupCol), landTo = Some(sinkPath))
      .foreach(Checkpoints.release)
  }

  /** [[runKmvToBatch]] (day-grouped) writing THROUGH the warehouse
    * sink — the KMV face of the persisted deployment loop, completing
    * it for all three synopses: per micro-batch the day-keyed
    * bottom-k synopses fold (bottom-k of the union — the KmvSpec
    * algebra, so the maintained state IS the batch synopsis of
    * everything ingested at any slicing) and the touched days'
    * current synopses re-land via
    * [[graft.write.PartitionedWriter.overwriteDays]]. A range's
    * distinct-count answers from a partition-pruned read of ≤k longs
    * per day directory; write cost is touched-days×k longs per
    * trigger. `dayCol` lands as the `dt` partition column. */
  def runKmvToSink(spark: SparkSession, path: String,
      sinkPath: String, valueCol: String, k: Int, dayCol: String,
      schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    import graft.ops.Sketch
    StreamRun.fold(spark,
        StreamRun.Source(path, schema, maxFilesPerTrigger),
        Sketch.kmvSynopsis(_, valueCol, k, Seq(dayCol)),
        Sketch.mergeKmvSynopses(k, Seq(dayCol), _, _),
        Some(dayCol), landTo = Some(sinkPath))
      .foreach(Checkpoints.release)
  }

  /** The trained quality gate DEPLOYED ON INGEST — the classifier's
    * streaming face, and deliberately the simplest one in this file:
    * [[graft.ops.Classifier.scoreExpr]] folds the literal weight map
    * over each row's own grams, so the gate is a stateless map-only
    * PROJECTION — no per-batch aggregation, no state store, no
    * shuffle, no static side. Batch-partitioning invariance is
    * structural (each row scores alone), so streamed scores equal the
    * batch scorer bit for bit whatever the trigger slicing — which is
    * why the catalog oracle is the batch spelling verbatim. At 100 TB
    * this is the production corpus gate: one expression riding the
    * ingest scan, weights re-broadcast only when retrained.
    * Output: (doc_id, score, kept = score > 0) append rows. */
  def runClassifierGateToBatch(spark: SparkSession, path: String,
      weights: Seq[(Int, Long)], buckets: Int,
      queryName: String): DataFrame = {
    StreamRun.bounded(spark, path, docsFileSchema,
      df => df.filter(col("text").isNotNull)
        .select(col("doc_id"),
          graft.ops.Classifier.scoreExpr(col("text"), weights,
            buckets).as("score"))
        .withColumn("kept", col("score") > 0))(
      StreamRun.memory(queryName, "append"))
    spark.table(queryName)
  }
}

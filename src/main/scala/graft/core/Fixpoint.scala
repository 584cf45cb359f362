package graft.core

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** The loop policy of every iterative operator (PageRank/TrustRank/
  * HITS power steps, k-core peel, connected-components pointer jumps,
  * classifier epochs, BPE merge rounds, the rank-sketch descent), in
  * one place: the static-plan scope, the loop's partition count, the
  * key-sorted layout of a loop invariant, and the rotating state
  * checkpoints with their release. Convergence tests and round bodies
  * stay with each operator — they are what differ between loops. */
object Fixpoint {

  /** Run `body` with AQE disabled, restoring the previous setting
    * after.
    *
    * AQE materializes every shuffle stage as its own job to re-plan
    * between stages, so a round with S exchanges costs S+1 driver job
    * cycles instead of 1 — measured 51 jobs for 8 PageRank rounds at
    * sf0.1, with the between-job driver floor (not task work)
    * dominating wall time. A loop's shape never changes between
    * rounds, so there is nothing for AQE to adapt: with the loop
    * invariants laid out by their join keys ([[Scope.layout]]) each
    * round is ONE job however many stages it has. At cluster scale
    * the trade reads the same — the per-job floor is driver RPC ×
    * executors, and it multiplies by the round count; skew belongs to
    * the one-time PREP joins, which callers keep outside the scope. */
  def withStaticPlan[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Loop-sized shuffle partition count off a KNOWN row count: ~4M
    * rows (~100-200 MB of long-tuple rows) per task. At test scale
    * this is 1 — a round's whole state fits one task and the
    * per-task/per-file floors vanish; at 10¹¹ rows it is tens of
    * thousands — the same number AQE would coalesce to, decided ONCE
    * instead of re-planned (at one driver job per exchange) per round. */
  def loopPartitionsOf(maxRows: Long): Int =
    math.min(math.max(1L, (maxRows + 3999999L) / 4000000L), 65536L).toInt

  /** Partition count for a loop whose rounds are CPU-dense passes
    * (classifier epochs, the rank-sketch descent's window sorts)
    * rather than shuffle-bound: ~1M rows per task at scale, with a
    * core-fill floor (default parallelism, bounded so tasks never
    * shrink below ~64k rows) that keeps a mid-size pass from running
    * a few tasks wide on a many-core box. Tiny inputs still land at
    * 1 — no added task floors. */
  def densePartitionsOf(spark: SparkSession, rows: Long): Int = {
    val coreFill = math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (rows + 65535L) / 65536L)
    math.min(math.max((rows + 999999L) / 1000000L,
      math.max(1L, coreFill)), 65536L).toInt
  }

  /** Run a loop under [[withStaticPlan]] with `partitions` shuffle
    * partitions, handing `body` a [[Scope]] that owns the loop's
    * checkpoints.
    *
    * The caller has already COUNTED its loop-invariant frames, so the
    * post-shuffle partition count is a one-time function of known
    * cardinality instead of AQE's per-stage re-plan.
    * `allowBroadcast = true` keeps size-based broadcast planning. Loop
    * state frames are local CHECKPOINTS, whose stats are their origin
    * plan's size estimate, not their materialized bytes (see the bloom
    * filter below): state born of a join reads as the product of its
    * sides and does not broadcast by size, however small it is; only
    * state whose origin estimate is small does. Pass false for loops
    * that join |V|-sized state against a [[Scope.layout]] (see there
    * for why that plan wins).
    *
    * The runtime bloom filter is off inside the scope. A checkpoint's
    * `LogicalRDD` carries its origin plan's size ESTIMATE, and a
    * join's estimate is the product of its sides', so a round-state
    * checkpoint reads as hundreds of GB to the planner however few
    * rows it holds. With broadcast off that makes every state scan a
    * bloom-filter application side: the optimizer builds a
    * `might_contain` filter from the other join side (a checkpoint
    * whose inherited origin constraints look like a selective filter)
    * in its own subquery job — one more driver job per round, to
    * prune rows the join itself drops right after.
    *
    * When the scope closes — normally or by an exception — every
    * layout and every rotating state's last checkpoint is released,
    * except checkpoints the frame `body` returns still reads: those
    * are handed to the caller. */
  def scope[T](spark: SparkSession, partitions: Int,
      allowBroadcast: Boolean = true)(body: Scope => T): T = {
    require(partitions >= 1,
      s"Fixpoint.scope: bad partition count $partitions")
    val kp = "spark.sql.shuffle.partitions"
    val kb = "spark.sql.autoBroadcastJoinThreshold"
    val kf = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val pp = spark.conf.get(kp)
    val pb = spark.conf.get(kb)
    val pf = spark.conf.get(kf)
    spark.conf.set(kp, partitions.toString)
    if (!allowBroadcast) spark.conf.set(kb, "-1")
    spark.conf.set(kf, "false")
    val s = new Scope(partitions)
    var out: Option[T] = None
    try {
      out = Some(withStaticPlan(spark)(body(s)))
      out.get
    } finally {
      s.close(out)
      spark.conf.set(kp, pp); spark.conf.set(kb, pb); spark.conf.set(kf, pf)
    }
  }

  /** One open loop: its layouts and rotating states, released when
    * [[scope]] closes. */
  final class Scope private[Fixpoint] (partitions: Int) {
    private val layouts = ArrayBuffer.empty[DataFrame]
    private val states = ArrayBuffer.empty[Checkpoints.Rotating]

    /** `df` hash-partitioned by `key` into the loop's partition count,
      * sorted by `key` within each partition, and checkpointed — the
      * layout of a loop INVARIANT (edge list, adjacency, feature
      * table) that every round joins or windows on `key`.
      *
      * It must be built here, under the static planner: a local
      * checkpoint taken under AQE records UnknownPartitioning (the
      * adaptive plan's partitioning is not stable at capture time),
      * so every round would re-shuffle and re-sort the invariant;
      * under the static planner the checkpoint keeps its
      * hashpartitioning and ordering, and each round's join runs
      * with zero invariant-side exchange and zero invariant-side sort
      * — only the round's state shuffles.
      *
      * That is why broadcast-off plus this layout beats broadcasting
      * the per-round state: broadcast-off WITHOUT the layout was
      * measured and refuted (r20, f42231b: a per-round sort-merge
      * re-sort of the whole edge list took q_trustrank's task time
      * from 1.1 to 2.2 s), and the layout removes exactly that cost.
      * What remains is the benefit: no per-round broadcast BUILD job
      * (a driver job per round that round fusion cannot remove —
      * q_trustrank read ~2.4 jobs per round, the k-core peel 158 jobs
      * before r20), and only |V|-sized state exchanges per round —
      * also the plan that survives 100×, where |V|-sized state was
      * never broadcastable.
      *
      * Released when the scope closes. */
    def layout(df: DataFrame, key: String): DataFrame = {
      val cp = df.repartition(partitions, col(key))
        .sortWithinPartitions(col(key)).localCheckpoint()
      layouts += cp
      cp
    }

    /** A rotating state checkpoint ([[Checkpoints.Rotating]]) whose
      * last round is released when the scope closes (unless the
      * returned frame reads it). */
    def rotating(): Checkpoints.Rotating = {
      val r = new Checkpoints.Rotating
      states += r
      r
    }

    private[Fixpoint] def close(result: Option[Any]): Unit = {
      val kept = result match {
        case Some(ds: Dataset[_]) => Checkpoints.rddsOf(ds).map(_.id).toSet
        case _ => Set.empty[Int]
      }
      (layouts ++ states.flatMap(_.last)).flatMap(Checkpoints.rddsOf)
        .filterNot(r => kept(r.id))
        .foreach(_.unpersist(blocking = false))
    }
  }
}

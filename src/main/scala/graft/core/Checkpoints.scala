package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.execution.LogicalRDD

/** Eager release of localCheckpoint'd frames.
  *
  * `Dataset.unpersist` only removes CacheManager entries created by
  * `persist()`/`cache()`. A `localCheckpoint()` persists the UNDERLYING
  * RDD directly (LocalRDDCheckpointData marks it MEMORY_AND_DISK), so
  * calling `unpersist` on the checkpointed Dataset is a silent no-op:
  * the blocks stay in executor storage until the frame becomes
  * unreachable AND a driver GC lets the ContextCleaner run — a
  * nondeterministic retention window that can hold a near-full corpus
  * copy across the rest of a catalog run.
  *
  * [[release]] frees the blocks deterministically by walking the
  * checkpointed frame's analyzed plan to the [[LogicalRDD]] leaf that
  * `Dataset.localCheckpoint` installed and unpersisting that RDD. After
  * release the frame is EXPLAIN-ONLY: its plan still analyzes (specs
  * can pin boundary shapes) but re-executing it would fail, because a
  * local checkpoint truncates lineage — there is nothing to recompute
  * from. Callers therefore release only frames whose data no consumer
  * will read again. */
object Checkpoints {
  def release(df: DataFrame): Unit =
    rddsOf(df).foreach(_.unpersist(blocking = false))

  /** `df` local-checkpointed, with its row count delivered by the SAME
    * job: an [[Observation]] on the checkpoint's plan, instead of a
    * `count()` afterwards — a second job (two under AQE) that only
    * re-scans what the checkpoint just wrote. */
  def counted(df: DataFrame): (DataFrame, Long) = {
    val o = Observation()
    val cp = df.observe(o, count(lit(1)).as("n")).localCheckpoint()
    (cp, o.get("n").asInstanceOf[Long])
  }

  /** The checkpointed RDDs `ds`'s analyzed plan reads. */
  def rddsOf(ds: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }

  /** Rotating checkpoint for iterative loops (PageRank, greedy
    * k-center): each call materializes the new round's frame and frees
    * the PREVIOUS round's blocks, so executor storage holds a bounded
    * number of copies instead of one per iteration.
    *
    * Tracking is by the checkpointed frame's OWN [[LogicalRDD]] leaf
    * (via [[release]]), never by diffing `sc.getPersistentRDDs` around
    * the checkpoint call — the registry delta claims, and would
    * unpersist, any RDD a CONCURRENT job happened to persist inside
    * the window. [[Rotating.releaseLast]] frees the final round too,
    * for loops whose result is driver-side rows rather than the last
    * frame. */
  final class Rotating {
    private var prev: Option[DataFrame] = None
    def apply(df: DataFrame): DataFrame = adopt(df.localCheckpoint())
    /** Take an already materialized checkpoint `cp` as the current
      * round (a seed checkpointed before the loop's scope opened): the
      * next rotation frees it. */
    def adopt(cp: DataFrame): DataFrame = {
      prev.foreach(release)
      prev = Some(cp)
      cp
    }
    def last: Option[DataFrame] = prev
    def releaseLast(): Unit = { prev.foreach(release); prev = None }
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core.{Checkpoints, Fs}

/** The one bounded-stream module: every streaming twin in this package
  * is driven by [[drain]], and every synopsis fold by [[fold]].
  *
  * Why 8 shuffle partitions: each shuffle partition of a stateful
  * stream owns a state store, and the fixed per-store setup (open,
  * commit, snapshot per trigger) dominates a bounded local run — so a
  * drain runs at 8 whatever the session's setting, and restores the
  * caller's value afterwards.
  *
  * Retention of a fold's state: the frame a fold returns IS its final
  * localCheckpoint — its synopsis-sized executor blocks stay persisted
  * until the caller passes it to [[graft.core.Checkpoints.release]],
  * AFTER everything derived from it is materialized (release-before-use
  * throws). Every earlier generation is released as the next one
  * lands. The catalog queries retain the final state for the query's
  * lifetime by design: it is synopsis-sized (days×cells at most, never
  * history-sized), and each invocation strands at most one. */
private[graft] object StreamRun {

  /** A bounded parquet file-stream directory; `maxFilesPerTrigger`
    * caps files per micro-batch (files are taken oldest-first), which
    * gives deterministic multi-batch sequencing. */
  final case class Source(path: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None)

  type Sink = DataStreamWriter[Row] => DataStreamWriter[Row]

  /** Drive `pipeline` over `src` into `sink` until the source is
    * exhausted: shuffle partitions at 8 for the run, a fresh checkpoint
    * directory under `java.io.tmpdir`, start, `processAllAvailable`,
    * then — also when the query fails — stop, restore the caller's
    * shuffle partitions and delete the checkpoint. */
  def drain(spark: SparkSession, src: Source,
      pipeline: DataFrame => DataFrame = identity)(sink: Sink): Unit = {
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val reader = spark.readStream.schema(src.schema)
      val in = src.maxFilesPerTrigger
        .fold(reader)(m => reader.option("maxFilesPerTrigger", m))
        .parquet(src.path)
      val q = sink(pipeline(in).writeStream)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable()
      finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      Fs.deleteRecursively(ckpt)
    }
  }

  /** [[drain]] over ONE parquet file: FileStreamSource reads
    * directories, so the file is staged alone into a temporary one. */
  def bounded(spark: SparkSession, file: String, schema: StructType,
      pipeline: DataFrame => DataFrame)(sink: Sink): Unit = {
    val f = java.nio.file.Paths.get(file)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.copy(f, dir.resolve(f.getFileName))
    try drain(spark, Source(dir.toString, schema), pipeline)(sink)
    finally Fs.deleteRecursively(dir)
  }

  /** Memory sink: the rows land in the temp view `queryName`. */
  def memory(queryName: String, mode: String): Sink =
    _.format("memory").queryName(queryName).outputMode(mode)

  /** `foreachBatch` sink: `fn` runs once per micro-batch. */
  def eachBatch(fn: Dataset[Row] => Unit): Sink =
    _.foreachBatch((b: Dataset[Row], _: Long) => fn(b))
      .outputMode("update")

  /** The synopsis fold: per non-empty micro-batch, `build` its
    * synopsis, merge it into the running state (`merge(state, batch)`),
    * keep the newest `retainDays` distinct `dayCol` keys
    * ([[IngestStream.compactToNewestDays]]) and checkpoint the result
    * as the new state, releasing the previous one. With `landTo` (and
    * `dayCol`) the days the batch touched are re-landed whole from the
    * new state via [[graft.write.PartitionedWriter.overwriteDays]]
    * (`dayCol` becomes the `dt` partition). Returns the final state
    * (see the retention note above), or `None` when no batch carried a
    * row. */
  def fold(spark: SparkSession, src: Source,
      build: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      dayCol: Option[String] = None, retainDays: Option[Int] = None,
      landTo: Option[String] = None): Option[DataFrame] = {
    val state = new Checkpoints.Rotating
    drain(spark, src)(eachBatch { b =>
      if (!b.isEmpty) {
        val p = build(b)
        val merged = state.last.fold(p)(merge(_, p))
        val cur = state(dayCol.fold(merged)(d =>
          IngestStream.compactToNewestDays(merged, d, retainDays)))
        for (sinkPath <- landTo; d <- dayCol) {
          // the batch's own synopsis is day-complete only for days it
          // alone covers; the merged state's slice always is
          val touched = p.select(col(d)).distinct()
          graft.write.PartitionedWriter.overwriteDays(
            cur.join(broadcast(touched), Seq(d), "left_semi"), sinkPath, d)
        }
      }
    })
    state.last
  }

  /** The typed empty result of a fold over a stream with no rows. */
  def empty(spark: SparkSession, fields: Seq[StructField]): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](),
      StructType(fields))
}

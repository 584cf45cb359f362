package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.obs.Watch
import graft.queries.Catalog
import graft.streaming.{IngestStream, StreamRun}

/** The bounded-stream module: the drain's cleanup contract, the folds'
  * empty results, the memory-sink views, and the micro-batch and job
  * counts of three catalog streams. */
class StreamRunSpec extends AnyFunSuite {
  import TestSession._

  /** Each frame of `rows` written as one parquet file into a fresh
    * directory. */
  private def staged(rows: Seq[DataFrame]): Path = {
    val dir = Files.createTempDirectory("graft_srun")
    rows.foreach(_.coalesce(1).write.mode("append").parquet(dir.toString))
    dir
  }

  test("a drain whose batch throws rethrows, restores the shuffle " +
      "partitions, stops the query and deletes its checkpoint") {
    import spark.implicits._
    val dir = staged((0 until 3).map(i => Seq(i.toLong).toDF("x")))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    var batches = 0
    var ckpt = Option.empty[Path]
    try {
      val e = intercept[StreamingQueryException] {
        StreamRun.drain(spark, StreamRun.Source(dir.toString,
            StructType(Seq(StructField("x", LongType))), Some(1)))(
          StreamRun.eachBatch { _ =>
            batches += 1
            if (batches == 1) ckpt = spark.streams.active.headOption.map(q =>
              Paths.get(new java.net.URI(q.asInstanceOf[StreamingQueryWrapper]
                .streamingQuery.resolvedCheckpointRoot)))
            if (batches == 2) throw new IllegalStateException("batch two")
          })
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("batch two")))
      assert(batches == 2)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
      assert(spark.streams.active.isEmpty)
      assert(ckpt.nonEmpty, "no checkpoint seen in the first batch")
      assert(!Files.exists(ckpt.get), s"${ckpt.get} survived the drain")
    } finally graft.core.Fs.deleteRecursively(dir)
  }

  test("the five ToBatch synopsis folds over a zero-row stream return " +
      "the columns and types of their non-empty runs") {
    import spark.implicits._
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("text", StringType),
      StructField("d", DateType), StructField("ts", TimestampType)))
    val rows = Seq((1L, "view", "a b c", "2024-01-01 10:00:00"),
        (2L, "click", "b c d", "2024-01-02 11:00:00"))
      .toDF("user_id", "event_type", "text", "t")
      .select(col("user_id"), col("event_type"), col("text"),
        to_date(col("t")).as("d"), col("t").cast("timestamp").as("ts"))
    val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    val full = staged(Seq(rows))
    val none = staged(Seq(empty))
    try {
      assert(Files.list(none).toArray.count(_.toString
        .endsWith(".parquet")) == 1)
      val value = unix_micros(col("ts"))
      val runners: Seq[(String, Path => DataFrame)] = Seq(
        "kmv" -> (p => IngestStream.runKmvToBatch(spark, p.toString,
          "user_id", 4, Seq("event_type"), schema)),
        "cms" -> (p => IngestStream.runCmsToBatch(spark, p.toString,
          "text", 2, 16, schema)),
        "cmsBy" -> (p => IngestStream.runCmsByToBatch(spark, p.toString,
          "text", "d", 2, 16, schema)),
        "rank" -> (p => IngestStream.runRankGridToBatch(spark, p.toString,
          value, 2, 16, schema)),
        "rankBy" -> (p => IngestStream.runRankGridByToBatch(spark,
          p.toString, value, to_date(col("ts")), 2, 16, schema)))
      def shape(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType)
        .toSeq
      runners.foreach { case (name, run) =>
        val got = run(none)
        val want = run(full)
        assert(got.count() == 0, name)
        assert(want.count() > 0, name)
        assert(shape(got) == shape(want), name)
      }
    } finally {
      graft.core.Fs.deleteRecursively(full)
      graft.core.Fs.deleteRecursively(none)
    }
  }

  test("funnel and sessionize runners drop their memory-sink views") {
    def leaked = spark.catalog.listTables().collect().map(_.name)
      .filter(n => n.startsWith("graft_funnel_") ||
        n.startsWith("graft_sessooo_")).toSeq
    Seq("q_stream_funnel", "q_stream_funnel_ooo", "q_stream_sessionize_ooo")
      .foreach { q =>
        Catalog.byName(q).fn(spark, sf).collect()
        assert(leaked.isEmpty, s"$q left $leaked")
      }
  }

  /** Micro-batches (query progress events) and Spark jobs of one catalog
    * query: its call plus the collect of its result. */
  private def counts(query: String): (Int, Int) = {
    // stream jobs run under the query's own job group: count them all
    val r = Watch(spark)(Catalog.byName(query).fn(spark, sf).collect())._2
    (r.batches, r.jobs.size)
  }

  test("catalog streams keep their micro-batch and job counts at sf0.001") {
    // (micro-batches, jobs) with every table schema already inferred:
    // a drain that adds or drops a trigger or an action moves them
    val want = Seq("q_stream_kmv" -> (3, 15),
      "q_stream_funnel_ooo" -> (6, 16), "q_stream_window_agg" -> (1, 2))
    // the table schemas are inferred once per JVM: warm them, so no pin
    // depends on which spec read a table first
    graft.core.Tables.names.foreach(graft.core.Tables.df(spark, sf, _))
    assert(want.map { case (q, _) => q -> counts(q) } == want)
  }
}

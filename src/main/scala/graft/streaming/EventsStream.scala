package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming extension (the reference is pure batch —
  * SURVEY §2.8): the same windowed aggregation as the batch twin
  * (`q_time_window_agg`), expressed over a file stream with a watermark.
  * Late data beyond the watermark is dropped instead of re-running a
  * day's DAG — the streaming analogue of the reference's idempotent
  * daily overwrite.
  */
object EventsStream {

  /** events schema as stored (ts is TIMESTAMP(MICROS); under the UTC
    * session this is the same instant DuckDB's naive read sees). */
  val eventsFileSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** 5-minute tumbling-window counts with a 10-minute watermark — the
    * streaming twin of the batch aggregation. `ts` is truncated to
    * seconds BEFORE the watermark so the window groups on the
    * watermarked attribute itself — wrapping the watermarked column in
    * an expression inside `window()` severs the event-time metadata and
    * append-mode sinks then reject the aggregation. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", date_trunc("second", col("ts")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 6))).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** SLIDING-window twin (10-minute span, 5-minute slide): every event
    * contributes to span/slide = 2 windows; state per key doubles
    * relative to the tumbling agg and is still watermark-bounded. Same
    * truncate-before-watermark discipline as [[windowedAgg]]. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", date_trunc("second", col("ts")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(38, 6))).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming stateful dedup: first occurrence per key wins — exact
    * (state grows with key cardinality, fine for entity-id keys; swap
    * in dropDuplicatesWithinWatermark when keys don't recur past a
    * horizon and state must stay bounded — that variant can re-emit a
    * key after expiry, so it has no batch-DISTINCT oracle). Output is
    * the distinct keys: bounded run ≡ batch `SELECT DISTINCT`. */
  def dedupKeys(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id")
      .select(col("user_id"))

  /** Bounded run of [[dedupKeys]] → batch DataFrame via memory sink. */
  def runDedupToBatch(spark: SparkSession, path: String,
      queryName: String): DataFrame =
    runStream(spark, path, queryName, dedupKeys, "append")

  /** Stream-stream interval join: each view pairs with the same user's
    * clicks landing within [view_ts, view_ts + 6h] — the attribution
    * join, streaming-native. Both sides carry a 12 h watermark and the
    * join condition bounds event-time distance, so Spark evicts a
    * side's state once the other side's watermark passes the bound —
    * state stays proportional to the 6 h horizon, not the stream
    * length. An INNER join emits a match as soon as both rows exist
    * (watermarks only govern eviction), so a bounded run emits exactly
    * the batch join. Output times as integer µs: engine-exact. */
  def viewClickJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", "12 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "12 hours")
    views.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 6 HOURS"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        unix_micros(col("view_ts")).as("view_us"),
        unix_micros(col("click_ts")).as("click_us"))
  }

  /** Bounded run of [[viewClickJoin]] → batch DataFrame (memory sink). */
  def runViewClickToBatch(spark: SparkSession, path: String,
      queryName: String): DataFrame =
    runStream(spark, path, queryName, viewClickJoin, "append")

  /** Run the streaming agg over a bounded file source to completion and
    * return the result as a batch DataFrame (memory sink). Used by the
    * correctness gate: output must equal the batch twin's. */
  def runToBatch(spark: SparkSession, path: String,
      queryName: String): DataFrame =
    runStream(spark, path, queryName, windowedAgg, "complete")

  def runSlidingToBatch(spark: SparkSession, path: String,
      queryName: String): DataFrame =
    runStream(spark, path, queryName, slidingAgg, "complete")

  private def runStream(spark: SparkSession, path: String,
      queryName: String, pipeline: DataFrame => DataFrame,
      mode: String): DataFrame = {
    StreamRun.bounded(spark, path, eventsFileSchema, pipeline)(
      StreamRun.memory(queryName, mode))
    spark.table(queryName)
  }
}

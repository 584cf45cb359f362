package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated TPC-H-ish testdata
  * (`/root/testdata/sf*`, see /root/repo/TESTDATA.md). One parquet file
  * per table; schemas are fixed by the generator (seed 42).
  *
  * At 100 TB these would be multi-file partitioned datasets; nothing here
  * assumes single-file inputs — `spark.read.parquet(dir)` works on
  * directories too.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def df(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts has shifted parquet flavor across generator versions:
    // TIMESTAMP(NANOS) (readable only as long via
    // spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    // isAdjustedToUTC=false) (which Spark 4 infers as TIMESTAMP_NTZ
    // unless inferTimestampNTZ is off — GraftSession disables it, but
    // driver-made sessions may not). Normalize both to TimestampType so
    // every operator sees one µs-precision UTC timestamp, matching the
    // DuckDB oracle's naive-timestamp read under a UTC session.
    if (name == "events") raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
    else raw
  }

  /** Register every table as a temp view so operators can mix the
    * DataFrame API with `spark.sql`. Cheap (lazy plans, no scan). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => df(spark, sfDir, n).createOrReplaceTempView(n))
}

/** Small filesystem helpers shared by the harnesses (Bench warmup,
  * ScaleRamp replica cleanup, query temp warehouses, streaming
  * checkpoints) — one recursive delete instead of a copy per call site.
  */
object Fs {
  def deleteRecursively(root: java.io.File): Unit = {
    Option(root.listFiles()).foreach(_.foreach(deleteRecursively))
    root.delete(): Unit
  }
  def deleteRecursively(p: java.nio.file.Path): Unit =
    deleteRecursively(p.toFile)
}

/** Central SparkSession factory: one place for the scale-minded defaults
  * (AQE on, shuffle partitions sized to the machine, UTC).
  */
object GraftSession {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's default 1 MB minPartitionSize floor is tuned for I/O-bound
      // stages; this engine's post-shuffle stages are often CPU-DENSE
      // (ABI decode ≈ 10-15 µs/row, hex fixture construction), so a
      // "small" 3 MB shuffle coalesced to 2-3 tasks serializes seconds
      // of decode CPU on an idle 32-core box (measured: the parse-slice
      // decode stage ran 2 tasks × 1.5 s instead of 32 × ~0.1 s). A 64 KB
      // floor lets parallelismFirst target default parallelism instead.
      // At 100 TB real partitions sit far above either floor, so this
      // only changes the small-shuffle + expensive-operator shape.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // FAIR so concurrent job submitters (core.Fanout's bounded pool)
      // share executors instead of head-of-line blocking behind one job
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Read tz-less parquet MICROS as TimestampType (UTC session), not
      // TIMESTAMP_NTZ: keeps unix_micros/window operators applicable and
      // matches DuckDB's naive-timestamp oracle read byte-for-byte.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate returns any pre-existing session, on which
    // withExtensions never ran — inject into the live registry too
    // (idempotent; fresh sessions get both, identical builders)
    GraftExtensions.registerInto(spark)
    spark
  }

  /** Idempotent session tuning for sessions we did not build (driver-made
    * sessions in Verify/Bench): set the semantics-critical confs only. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // see GraftSession.local: tz-less MICROS → TimestampType, not NTZ
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // see GraftSession.local: keep CPU-dense post-shuffle stages
    // parallel on small shuffles instead of coalescing to 2-3 tasks
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    // driver-made sessions never saw withExtensions — inject the SQL
    // functions into the live registry (idempotent)
    GraftExtensions.registerInto(spark)
    spark
  }
}

package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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

  /** The session confs that change what parquet schema inference
    * returns for the same file. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  /** (canonical path, inference confs) -> (length, mtime, schema). */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[String]), (Long, Long, StructType)]()

  /** `path`'s inferred parquet schema, inferred once per JVM for each
    * (file, inference confs): `spark.read.parquet` runs a Spark job
    * to read the footers on EVERY call — the largest share of a short
    * catalog query's driver floor. A rewritten file (new length or
    * mtime) is inferred again. Only the schema is memoized: each call
    * still builds a fresh relation, so self-joins keep distinct
    * exprIds. */
  private[graft] def schemaOf(spark: SparkSession, path: String)
      : StructType = {
    val p = new Path(path)
    val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p)
    val q = st.getPath.toUri
    val canonical =
      if (q.getScheme == "file") new java.io.File(q).getCanonicalPath
      else q.toString
    val key = (canonical, inferenceConfs.map(spark.conf.get))
    Option(schemas.get(key)) match {
      case Some((len, mtime, s))
          if len == st.getLen && mtime == st.getModificationTime => s
      case _ =>
        val s = spark.read.parquet(path).schema
        schemas.put(key, (st.getLen, st.getModificationTime, s))
        s
    }
  }

  def df(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val raw = spark.read.schema(schemaOf(spark, path)).parquet(path)
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

  /** Register `tables` (default: every table) as temp views so
    * operators can mix the DataFrame API with `spark.sql`. Cheap: lazy
    * plans, and no job once each file's schema is memoized. */
  def registerAll(spark: SparkSession, sfDir: String,
      tables: Seq[String] = names): Unit =
    tables.foreach(n => df(spark, sfDir, n).createOrReplaceTempView(n))
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

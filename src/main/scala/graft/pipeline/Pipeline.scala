package graft.pipeline

import java.time.LocalDate
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Fanout
import graft.enrich.Enrich
import graft.sources.RawTableReader
import graft.write.PartitionedWriter

/** Daily-batch job orchestration (SURVEY §2.10/§3.1): the engine-side
  * equivalent of the reference's DAG wiring
  * (`/root/reference/dags/chains/blockchain.py:48-142`,
  * `evm_chain.py:178-212`). Airflow remains the scheduler in prod; this
  * layer is the in-process dependency graph + per-day lifecycle:
  * wait → load (temp scan) → enrich → write partition → clean.
  */
final case class JobDate(ds: LocalDate) {
  def sqlDate: java.sql.Date = java.sql.Date.valueOf(ds)
  def dsString: String = ds.toString
}

/** One resource's load+enrich+write for one day. `input` abstracts the
  * raw source (S3 JSON/CSV in prod, fixtures in tests). `sparkResource`
  * is the submit-time sizing profile for this job
  * (`evm_chain.py:203-209`: only the geth-trace enrich overrides the
  * default). */
final case class LoadJob(
    resource: String,
    enrich: Map[String, DataFrame] => DataFrame,
    extraPartitionCols: Seq[String] = Nil,
    mode: LoadJob.Mode = LoadJob.Overwrite,
    sparkResource: graft.core.SparkResource = graft.core.EngineConf.Default) {

  def run(raw: Map[String, DataFrame], warehousePath: String,
      ds: JobDate, filesPerPartition: Int = 1): Unit =
    write(enrich(raw), warehousePath, ds, filesPerPartition)

  /** Write an enriched day (`enrich`'s output) to this job's table. */
  def write(out: DataFrame, warehousePath: String, ds: JobDate,
      filesPerPartition: Int = 1): Unit =
    mode match {
      case LoadJob.Overwrite =>
        PartitionedWriter.overwriteDaily(out, s"$warehousePath/$resource",
          ds.sqlDate, extraPartitionCols, filesPerPartition)
      case LoadJob.Append =>
        PartitionedWriter.append(out, s"$warehousePath/$resource",
          filesPerPartition)
    }
}

object LoadJob {
  sealed trait Mode
  case object Overwrite extends Mode
  case object Append extends Mode
}

/** The nine loaders with their cross-resource dependencies
  * (`evm_chain.py:178-190`): every join-side input is listed so a
  * scheduler can topo-order them. */
object EvmLoaders {
  val all: Map[String, LoadJob] = Map(
    "blocks" -> LoadJob("blocks", raw => Enrich.blocks(raw("blocks"))),
    "contracts" -> LoadJob("contracts",
      raw => Enrich.contracts(raw("contracts"), raw("blocks"))),
    "logs" -> LoadJob("logs",
      raw => Enrich.logs(raw("logs"), raw("blocks")),
      extraPartitionCols = Seq("address_hash", "selector_hash")),
    "prices" -> LoadJob("prices", raw => Enrich.prices(raw("prices"))),
    "token_transfers" -> LoadJob("token_transfers",
      raw => Enrich.tokenTransfers(raw("token_transfers"), raw("blocks"))),
    "traces" -> LoadJob("traces",
      raw => Enrich.traces(raw("traces"), raw("blocks")),
      extraPartitionCols = Seq("address_hash", "selector_hash")),
    "geth_traces" -> LoadJob("traces",
      raw => Enrich.gethTraces(raw("geth_traces"), raw("blocks"),
        raw("transactions")),
      extraPartitionCols = Seq("address_hash", "selector_hash"),
      sparkResource = graft.core.EngineConf.HeavyEnrich),
    "transactions" -> LoadJob("transactions",
      raw => Enrich.transactions(raw("transactions"), raw("blocks"),
        raw("receipts"))),
    // incremental append: staged tokens minus addresses already in the
    // warehouse (`tokens_existing` = current warehouse state, not a raw
    // input — the runner supplies it)
    "tokens" -> LoadJob("tokens",
      raw => Enrich.tokensIncremental(raw("tokens"), raw("tokens_existing")),
      mode = LoadJob.Append))

  /** Per-chain loader sets (`evm_chain.py:178-212`): ethereum runs 9
    * loaders incl. CSV prices and parity traces; polygon runs 8, with
    * the traces table produced from geth_traces (3-way join J5) and no
    * prices feed. */
  val chainSets: Map[String, Set[String]] = Map(
    "ethereum" -> Set("blocks", "contracts", "logs", "prices",
      "token_transfers", "tokens", "traces", "transactions"),
    "polygon" -> Set("blocks", "contracts", "logs",
      "token_transfers", "tokens", "geth_traces", "transactions"))

  /** raw inputs each loader needs (dependency edges for topo order) */
  val dependencies: Map[String, Set[String]] = Map(
    "blocks" -> Set("blocks"),
    "contracts" -> Set("contracts", "blocks"),
    "logs" -> Set("logs", "blocks"),
    "prices" -> Set("prices"),
    "token_transfers" -> Set("token_transfers", "blocks"),
    "traces" -> Set("traces", "blocks"),
    "geth_traces" -> Set("geth_traces", "blocks", "transactions"),
    "transactions" -> Set("transactions", "blocks", "receipts"),
    "tokens" -> Set("tokens"))
}

/** Multi-day backfill: one enrich-and-write pass PER DAY in
  * chronological order — the reference's Airflow catchup shape, and
  * the loop the enrich joins' contract requires (each pass sees ONE
  * chain-day of blocks, which is why `Enrich.*` may broadcast the
  * blocks side unconditionally; a months-wide blocks frame must never
  * reach a single pass). Days never overlap: the tokens append of day
  * N+1 reads day N's warehouse through `rawForDay`.
  *
  * Within a day the loaders run side by side, as the reference's
  * per-loader `enrich_{name}` Airflow tasks do (`evm_chain.py:178-212`):
  * every loader's plan is built on the calling thread, in loader order
  * (`enrich` closures never run concurrently), then the day's writes
  * fan out through [[graft.core.Fanout]], one thread per loader. Each
  * write touches only its own table, so two loaders writing one table
  * (e.g. `traces` and `geth_traces`) are rejected up front. If a write
  * fails, the day's other writes still run to completion before the
  * first failure in loader order is rethrown; only then are the day's
  * cached inputs released, and no later day starts.
  *
  * Re-running a day is idempotent for Overwrite-mode loaders (dynamic
  * partition overwrite replaces just that day); Append-mode loaders
  * (tokens) are NOT — their dedup lives in the incremental EXCEPT
  * against warehouse state, so a retry must re-derive
  * `tokens_existing` from the live warehouse in `rawForDay`.
  *
  * Each day's raw inputs are cached for the duration of that day's
  * loader fan-out: blocks alone feeds seven enrich joins, and without
  * the cache every loader's action re-scans the day's source. */
object Backfill {
  def run(loaders: Seq[LoadJob],
      rawForDay: JobDate => Map[String, DataFrame],
      warehousePath: String, from: LocalDate, to: LocalDate,
      filesPerPartition: Int = 1): Seq[JobDate] = {
    require(!to.isBefore(from), s"backfill range inverted: $from..$to")
    val shared = loaders.groupBy(_.resource).collect {
      case (t, js) if js.size > 1 => t }
    require(shared.isEmpty,
      s"loaders write one table concurrently: ${shared.mkString(", ")}")
    val days = Iterator.iterate(from)(_.plusDays(1))
      .takeWhile(!_.isAfter(to)).map(JobDate(_)).toSeq
    days.foreach { d =>
      val raw = rawForDay(d)
      raw.values.foreach(_.cache())
      try {
        val plans = loaders.map(job => job -> job.enrich(raw))
        Fanout.map(loaders.size, plans) { case (job, out) =>
          job.write(out, warehousePath, d, filesPerPartition)
        }
      } finally raw.values.foreach(_.unpersist(false))
    }
    days
  }
}

/** S12 — cross-warehouse transfer boundary
  * (`/root/reference/dags/chains/transfer.py`,
  * `transfer_client.py:26-35`): ships selected tables to a client
  * warehouse. The reference delegates to an external Spark app with
  * JDBC/Databricks credentials; here the same surface is a sink
  * interface with a parquet-path implementation and a real Spark-JDBC
  * implementation (any JDBC driver on the classpath — specs exercise
  * embedded Derby; a Databricks deployment supplies its driver jar and
  * [[JdbcTransferSink.databricksUrl]]).
  */
trait TransferSink {
  def write(df: DataFrame, table: String): Unit
}

final class ParquetTransferSink(root: String) extends TransferSink {
  def write(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").parquet(s"$root/$table")
}

final case class DatabricksConfig(hostname: String, httpPath: String,
    token: String)

/** `df.write.format("jdbc")` against any warehouse URL. Writes cap
  * their parallelism (`numPartitions`): a 32-thread local write (or a
  * 1000-executor cluster write) must not open one connection per task
  * against a warehouse endpoint — the reference sizes transfer jobs to
  * ≤12 cores for the same reason (`resource_apply.py:48-54`).
  * [[Transfer.run]] ships up to 4 tables at once, so one transfer run
  * holds at most 4 × `numPartitions` concurrent connections. */
final class JdbcTransferSink(url: String,
    props: Map[String, String] = Map.empty,
    numPartitions: Int = 8,
    batchSize: Int = 10000) extends TransferSink {
  def write(df: DataFrame, table: String): Unit =
    props.foldLeft(
        df.write.format("jdbc")
          .option("url", url)
          .option("dbtable", table)
          .option("numPartitions", numPartitions.toString)
          .option("batchsize", batchSize.toString))(
        (w, kv) => w.option(kv._1, kv._2))
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .save()
}

object JdbcTransferSink {
  /** Databricks SQL warehouse URL (public JDBC driver docs shape) from
    * the reference's client config fields (`transfer_client.py:26-35`). */
  def databricksUrl(cfg: DatabricksConfig): String =
    s"jdbc:databricks://${cfg.hostname}:443/default;transportMode=http;" +
      s"ssl=1;httpPath=${cfg.httpPath};AuthMech=3;UID=token;PWD=${cfg.token}"
}

/** S6/S7 — temp-table + raw-object lifecycle: the reference drops the
  * per-day temp external table and deletes the raw S3 object after
  * enrich (`loader.py:137-142`, `evm_load_template.py:418-419`). */
object RawLifecycle {
  def dropTempView(spark: SparkSession, name: String): Unit =
    spark.catalog.dropTempView(name)

  def deleteRaw(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(p) || fs.delete(p, true)
  }

  def rawExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}

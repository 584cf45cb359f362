package perfbench

import java.io.File
import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.abi.Keccak256
import graft.core.Tables
import graft.parse.{ContractCatalog, ParseRunner}
import graft.pipeline._
import graft.schema.RawSchemas
import graft.sources.{EvmFixtures, RawTableReader}
import graft.verify.Verifier

/** The paper's daily job, one chain-day at a time: raw JSON/CSV exports
  * → the ethereum loader set through `Backfill` (enrich + partitioned
  * write) → `Verifier.runAll` → `ParseRunner` (erc20 Transfer and
  * Approval) → `Transfer` into a parquet client sink.
  *
  * Raw days are cut from the sf tables by `key % Days` on the order key
  * (part key for tokens, event id for prices), so each day is a
  * disjoint slice; the seed decides which days a run processes and in
  * which order. A day's raw files are written outside the timed window
  * the first time a run needs them and are reused by later runs.
  */
final class ChainDay(spark: SparkSession, sf: String, rawRoot: String,
    work: String, abiJson: String, tracer: Tracer) {
  import ChainDay._

  private val catalog = ContractCatalog.inMemory(Seq(abiJson))
  val warehouse = s"$work/warehouse"
  val parseWarehouse = s"$work/parse"
  val shipRoot = s"$work/transfer"

  private def day(key: Column): Column = pmod(key, lit(Days.toLong))
  private def pad64(c: Column) = concat(lit("0x"), lpad(lower(hex(c)), 64, "0"))

  private lazy val orders = Tables.df(spark, sf, "orders")
  private lazy val lineitem = Tables.df(spark, sf, "lineitem")
  private lazy val part = Tables.df(spark, sf, "part")
  private lazy val events = Tables.df(spark, sf, "events")

  /** Raw logs: Transfer on half the rows, Approval on a quarter, and a
    * topic no catalog contract declares on the rest. */
  private def rawLogs(li: DataFrame): DataFrame = {
    val m = pmod(col("l_orderkey") + col("l_linenumber"), lit(4L))
    val topic0 = when(m <= 1, lit(TransferTopic))
      .when(m === 2, lit(ApprovalTopic)).otherwise(lit(OtherTopic))
    EvmFixtures.lineitemTx(li).select(
      col("l_linenumber").cast(LongType).as("log_index"),
      concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")).as("transaction_hash"),
      (col("l_linenumber") % 50).cast(LongType).as("transaction_index"),
      concat(lit("0xb"), col("l_orderkey").cast("string")).as("block_hash"),
      col("l_orderkey").as("block_number"),
      concat(lit("0xa"), (col("l_partkey") % 97).cast("string")).as("address"),
      concat(lit("0x"), lpad(hex(col("l_partkey")), 64, "0")).as("data"),
      concat_ws(",", topic0, pad64(col("l_suppkey")),
        pad64(col("l_partkey") % 97)).as("topics"))
  }

  /** Raw traces: one root trace (`trace_address = '[]'`, hash set) per
    * transaction, so the verifier's root-trace invariant holds, plus
    * the fixture's non-root traces. */
  private def rawTraces(li: DataFrame): DataFrame = {
    val roots = EvmFixtures.traces(EvmFixtures.lineitemTx(li))
      .withColumn("trace_address", lit("[]"))
      .withColumn("transaction_hash", concat(lit("0xt"),
        col("block_number").cast("string"), lit("_"),
        col("transaction_index").cast("string")))
    val children = EvmFixtures.traces(li)
      .filter(col("trace_address") =!= "[]")
      .withColumn("trace_id", concat(col("trace_id"), lit("_c")))
    roots.unionByName(children)
  }

  private def rawDir(resource: String, k: Int) = s"$rawRoot/$resource/day=$k"

  /** Raw rows per (resource, day). All days' raw exports are written by
    * the first run that needs them, one partitioned write per resource,
    * and reused by later runs. */
  lazy val rawRows: Map[(String, Int), Long] = {
    val done = new File(s"$rawRoot/_ROWS")
    if (!done.isFile) writeRaw()
    scala.io.Source.fromFile(done).getLines().map(_.split(" "))
      .map(a => (a(0), a(1).toInt) -> a(2).toLong).toMap
  }

  private def writeRaw(): Unit = {
    val tmp = s"$rawRoot.tmp-${ProcessHandle.current().pid()}"
    val byBlock: Map[String, DataFrame] = Map(
      "blocks" -> EvmFixtures.blocks(orders),
      "contracts" -> EvmFixtures.contracts(orders),
      "transactions" -> EvmFixtures.transactions(lineitem),
      "receipts" -> EvmFixtures.receipts(lineitem),
      "logs" -> rawLogs(lineitem),
      "traces" -> rawTraces(lineitem),
      "token_transfers" -> EvmFixtures.tokenTransfers(lineitem),
      "tokens" -> EvmFixtures.tokensStaged(part))
    def write(df: DataFrame) =
      df.repartition(col("day")).write.mode("overwrite").partitionBy("day")
    byBlock.foreach { case (r, df) =>
      val key = if (r == "blocks") "number" else "block_number"
      write(df.withColumn("day", day(col(key)))).json(s"$tmp/$r")
    }
    // the staged prices keep no event key, so each day is cut before staging
    val prices = (0 until Days).map(k => EvmFixtures.pricesStaged(
      events.filter(day(col("event_id")) === k)).withColumn("day", lit(k)))
    write(prices.reduce(_ union _)).option("header", "true").csv(s"$tmp/prices")
    val rows = (RawResources :+ "prices").flatMap { r =>
      val df = if (r == "prices") spark.read.option("header", "true").csv(s"$tmp/$r")
               else spark.read.json(s"$tmp/$r")
      df.groupBy("day").count().collect().map(x => s"$r ${x.getInt(0)} ${x.getLong(1)}")
    }
    java.nio.file.Files.write(new File(s"$tmp/_ROWS").toPath,
      rows.mkString("\n").getBytes("UTF-8"))
    val target = new File(rawRoot)
    if (!new File(tmp).renameTo(target) && !target.isDirectory)
      sys.error(s"could not move raw days into $rawRoot")
    graft.core.Fs.deleteRecursively(new File(tmp))
  }

  def rawBytes(k: Int): Long =
    (RawResources :+ "prices").map(r => Files.bytes(new File(rawDir(r, k)))).sum

  private def readRaw(k: Int): Map[String, DataFrame] =
    RawResources.map(r => r -> RawTableReader.json(spark, r, rawDir(r, k)))
      .toMap + ("prices" -> RawTableReader.csv(spark, rawDir("prices", k)))

  private def existingTokens: DataFrame =
    if (new File(s"$warehouse/tokens").isDirectory)
      spark.read.parquet(s"$warehouse/tokens")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(RawSchemas.tokens.fields.filter(_.name != "block_number")))

  private def partition(table: String, ds: JobDate): DataFrame =
    spark.read.parquet(s"$warehouse/$table").where(col("dt") === lit(ds.sqlDate))

  private def decoded(event: String, ds: JobDate): DataFrame =
    spark.read.parquet(s"$parseWarehouse/common/common_erc20_evt_$event")
      .where(col("dt") === lit(ds.sqlDate))

  private val shipSpec = TransferClientSpec("perfbench",
    raws = Seq(TransferRawTable("ethereum", "transactions")),
    contracts = Seq(TransferContract("ethereum", "common", Some("erc20"))))

  /** The timed chain-day. Returns the verifier results and the decoded
    * rows per parse table. */
  def run(k: Int): (Seq[Either[Verifier.VerifyError, Long]], Seq[(String, Long)]) = {
    val ds = JobDate(dateOf(k))
    val loaders = Loaders.map { n =>
      val job = EvmLoaders.all(n)
      job.copy(enrich = raw => { tracer.switchTo(s"enrich.$n"); job.enrich(raw) })
    }
    tracer.begin("sources.read")
    try Backfill.run(loaders,
      _ => readRaw(k) + ("tokens_existing" -> existingTokens),
      warehouse, ds.ds, ds.ds)
    finally tracer.end()
    val verified = tracer.span("verify.run_all") {
      Verifier.runAll(partition("blocks", ds), partition("transactions", ds),
        partition("logs", ds), partition("traces", ds))
    }
    val parsed = tracer.span("parse.run") {
      val logs = partition("logs", ds)
      ParseRunner.run(spark, catalog, logs, logs.limit(0), parseWarehouse)
    }
    tracer.span("pipeline.transfer") {
      Transfer.run(shipSpec, catalog, new ParquetTransferSink(shipRoot), {
        case "common.erc20_evt_Transfer" => decoded("Transfer", ds)
        case "common.erc20_evt_Approval" => decoded("Approval", ds)
        case t => partition(t, ds)
      })
    }
    (verified, parsed)
  }

  /** Untimed checks of day `k` against its raw row counts; returns the
    * failures found (empty when the day is correct). The decoded rows'
    * values are checked against DuckDB by `oracle.py`. */
  def check(k: Int, rawRows: Map[String, Long], tokensSoFar: Long,
      verified: Seq[Either[Verifier.VerifyError, Long]],
      parsed: Seq[(String, Long)]): Seq[String] = {
    val ds = JobDate(dateOf(k))
    val bad = Seq.newBuilder[String]
    bad ++= verifyFailures(verified)
    Loaders.filter(_ != "tokens").foreach { t =>
      val got = partition(t, ds).count()
      if (got != rawRows(t)) bad += s"$t rows $got != raw ${rawRows(t)}"
    }
    val tokens = spark.read.parquet(s"$warehouse/tokens").count()
    if (tokens != tokensSoFar) bad += s"tokens rows $tokens != raw $tokensSoFar"
    val byTable = parsed.toMap
    Seq("Transfer", "Approval").foreach { e =>
      if (!byTable.contains(s"common.erc20_evt_$e")) bad += s"no parse task for $e"
      val n = decoded(e, ds).count()
      if (n <= 0) bad += s"no decoded $e rows"
      val shipped = spark.read.parquet(s"$shipRoot/common_erc20_evt_$e").count()
      if (shipped != n) bad += s"shipped $e rows $shipped != decoded $n"
    }
    val shippedTx = spark.read.parquet(s"$shipRoot/transactions").count()
    if (shippedTx != rawRows("transactions"))
      bad += s"shipped transactions $shippedTx != raw ${rawRows("transactions")}"
    bad.result()
  }

  /** Bytes the day left in the warehouse, the parse warehouse and the
    * client sink (which holds the latest day only). */
  def writtenBytes(k: Int, tokensBefore: Long): Long = {
    val dt = s"dt=${dateOf(k)}"
    val wh = Loaders.filter(_ != "tokens")
      .map(t => Files.bytes(new File(s"$warehouse/$t/$dt"))).sum
    val tokens = Files.bytes(new File(s"$warehouse/tokens")) - tokensBefore
    val parse = Seq("Transfer", "Approval").map(e =>
      Files.bytes(new File(s"$parseWarehouse/common/common_erc20_evt_$e/$dt"))).sum
    wh + tokens + parse + Files.bytes(new File(shipRoot))
  }

  def tokensBytes: Long = Files.bytes(new File(s"$warehouse/tokens"))
}

object ChainDay {
  /** Every one of the verifier's five invariants must hold. */
  def verifyFailures(verified: Seq[Either[Verifier.VerifyError, Long]]): Seq[String] =
    verified.collect { case Left(e) => s"verify ${e.name}: ${e.message}" } ++
      (if (verified.size != 5) Seq(s"verify returned ${verified.size} results")
       else Nil)

  val Days = 48
  val FirstDay: LocalDate = LocalDate.parse("2026-03-01")
  def dateOf(k: Int): LocalDate = FirstDay.plusDays(k.toLong)

  /** The ethereum loader set, in the order each day runs them. */
  val Loaders: Seq[String] = Seq("blocks", "transactions", "logs", "traces",
    "token_transfers", "contracts", "tokens", "prices")
  require(Loaders.toSet == EvmLoaders.chainSets("ethereum"))
  val RawResources: Seq[String] = Seq("blocks", "contracts", "transactions",
    "receipts", "logs", "traces", "token_transfers", "tokens")

  val TransferTopic: String = Keccak256.eventTopic("Transfer(address,address,uint256)")
  val ApprovalTopic: String = Keccak256.eventTopic("Approval(address,address,uint256)")
  val OtherTopic: String = Keccak256.eventTopic("Sync(uint112,uint112)")
}

object Files {
  /** Bytes of regular files under `f`, excluding Hadoop `.crc` sidecars. */
  def bytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
}

package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.abi.Keccak256
import graft.core.Tables
import graft.functions.hashBucket
import graft.parse.{ContractCatalog, ParseRunner}
import graft.sources.EvmFixtures

/** Corpus-wide parse stage (SURVEY §2.9/§3.2 + `parser.py:64-117`):
  * a contract catalog enumerates one [[graft.parse.ParseTask]] per ABI
  * element, and the oracled queries below run a two-contract slice —
  * erc20 Transfer (no contract_address → decode every topic0 match) and
  * CryptoPunks PunkBought (address-filtered, 3 indexed topics + data) —
  * over fixture logs whose expected decoded values DuckDB recomputes
  * from lineitem directly.
  */
object ParseQueries extends QueryGroup {

  /** The reference's full contract corpus (read as input data, as the
    * reference DAG does) — only the full-corpus specs and ScaleRamp
    * walk it, and they skip when it is absent. */
  val CorpusDir = "/root/reference/dags/resources/contracts/ethereum"

  /** The slice's two contracts, shipped as classpath resources in the
    * corpus layout (`contracts/ethereum/<dataset>/<contract>.json`): the
    * public erc20 Transfer/Approval events and CryptoPunksMarket's
    * PunkBought with its mainnet address. The catalog queries need no
    * external corpus. */
  def sliceCatalog: ContractCatalog = ContractCatalog.inMemory(
    Seq("common/erc20.json", "cryptopunks/CryptoPunksMarket.json").map { f =>
      val in = getClass.getResourceAsStream(s"/contracts/ethereum/$f")
      require(in != null, s"ABI resource contracts/ethereum/$f missing")
      try new String(in.readAllBytes(), UTF_8)
      finally in.close()
    })

  private def pad64(c: org.apache.spark.sql.Column) =
    concat(lit("0x"), lpad(lower(hex(c)), 64, "0"))

  val queries: Seq[Q] = Seq(
    q("q_parse_corpus_slice", "parse",
      """WITH li AS (
           SELECT l_orderkey, l_linenumber,
                  min(l_partkey) AS l_partkey, min(l_suppkey) AS l_suppkey
           FROM lineitem GROUP BY l_orderkey, l_linenumber)
         SELECT 'common.erc20_evt_Transfer' AS table_name,
                '0x' || lpad(lower(hex(l_suppkey)), 40, '0') AS a,
                '0x' || lpad(lower(hex(l_partkey % 97)), 40, '0') AS b,
                CAST(l_partkey AS VARCHAR) AS v,
                '0xt' || l_orderkey || '_' || l_linenumber
                  AS transaction_hash
         FROM li WHERE l_linenumber % 3 = 0
         UNION ALL
         SELECT 'cryptopunks.CryptoPunksMarket_evt_PunkBought',
                '0x' || lpad(lower(hex(l_suppkey)), 40, '0'),
                '0x' || lpad(lower(hex(l_partkey % 97)), 40, '0'),
                (l_orderkey % 10000) || ':' || l_partkey,
                '0xt' || l_orderkey || '_' || l_linenumber
         FROM li WHERE l_linenumber % 3 = 1""") { (spark, dir) =>
      val tasks = ParseRunner.tasks(sliceCatalog)
      val transfer =
        tasks.find(_.tableName == "common.erc20_evt_Transfer").get
      val punkBought = tasks
        .find(_.tableName == "cryptopunks.CryptoPunksMarket_evt_PunkBought")
        .get
      val punksAddr = punkBought.contract.contractAddress.get.toLowerCase
      val noiseTopic =
        Keccak256.eventTopic("Approval(address,address,uint256)")

      val li = EvmFixtures.lineitemTx(Tables.df(spark, dir, "lineitem"))
      val logs = li
        .withColumn("m", col("l_linenumber") % 3)
        .select(
          when(col("m") === 0, array(lit(transfer.event.get.topic0),
              pad64(col("l_suppkey")), pad64(col("l_partkey") % 97)))
            .when(col("m") === 1, array(lit(punkBought.event.get.topic0),
              pad64(col("l_orderkey") % 10000),
              pad64(col("l_suppkey")), pad64(col("l_partkey") % 97)))
            .otherwise(array(lit(noiseTopic),
              pad64(col("l_suppkey")), pad64(col("l_partkey") % 97)))
            .as("topics_arr"),
          unhex(lpad(hex(col("l_partkey")), 64, "0")).as("unhex_data"),
          when(col("m") === 1, lit(punksAddr))
            .otherwise(concat(lit("0xa"),
              (col("l_partkey") % 97).cast("string"))).as("address"),
          concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
            col("l_linenumber").cast("string")).as("transaction_hash"),
          col("l_linenumber").cast(LongType).as("log_index"),
          col("l_orderkey").as("block_number"),
          // the writer's bucket columns, derived per row exactly as
          // hashBucket(topics_arr[0]) / hashBucket(address) — the
          // m-literal branches are bit-identical shortcuts that fold to
          // constants, so ParseJob's LEADING bucket-prune conjunct is a
          // cheap int compare that short-circuits past the expensive
          // CASE-of-hex-arrays topics build for non-matching rows
          // (without these columns the pushed topic0 filter builds the
          // full topics array per row per branch just to read [0])
          when(col("m") === 0, hashBucket(lit(transfer.event.get.topic0)))
            .when(col("m") === 1,
              hashBucket(lit(punkBought.event.get.topic0)))
            .otherwise(hashBucket(lit(noiseTopic))).as("selector_hash"),
          when(col("m") === 1, hashBucket(lit(punksAddr)))
            .otherwise(hashBucket(concat(lit("0xa"),
              (col("l_partkey") % 97).cast("string")))).as("address_hash"))

      val emptyTraces = logs.limit(0) // events-only slice
      val tDf = transfer.dataFrame(logs, emptyTraces).select(
        lit(transfer.tableName).as("table_name"),
        col("from").as("a"), col("to").as("b"),
        col("value").cast("string").as("v"),
        col("transaction_hash"))
      val pDf = punkBought.dataFrame(logs, emptyTraces).select(
        lit(punkBought.tableName).as("table_name"),
        col("fromAddress").as("a"), col("toAddress").as("b"),
        concat(col("punkIndex").cast("string"), lit(":"),
          col("value").cast("string")).as("v"),
        col("transaction_hash"))
      tDf.unionByName(pDf)
    },

    q("q_backfill_parse_lifecycle", "parse",
      """WITH li AS (
           SELECT l_orderkey, l_linenumber,
                  min(l_partkey) AS l_partkey, min(l_suppkey) AS l_suppkey
           FROM lineitem GROUP BY l_orderkey, l_linenumber)
         SELECT CASE WHEN l_orderkey % 2 = 0
                     THEN '2026-03-01' ELSE '2026-03-02' END AS dt,
                '0x' || lpad(lower(hex(l_suppkey)), 40, '0') AS from_a,
                '0x' || lpad(lower(hex(l_partkey % 97)), 40, '0') AS to_a,
                CAST(l_partkey AS VARCHAR) AS v,
                '0xt' || l_orderkey || '_' || l_linenumber
                  AS transaction_hash
         FROM li WHERE l_linenumber % 3 = 0 AND l_orderkey % 5 = 0""") {
      (spark, dir) => lifecycle(spark, dir)
    })

  /** The reference's FULL daily lifecycle in one checkable pipeline
    * (`blockchain.py:48-142` load→enrich→write, then `parser.py:64-117`
    * decode): raw logs for two chain-days go through [[graft.pipeline
    * .Backfill]] (per-day enrich + dt/hash-bucket partitioned
    * overwrite), the enriched warehouse is read BACK from parquet, and
    * [[ParseRunner]] decodes erc20 Transfer out of it into a parse
    * warehouse — so the oracle checks load, write, re-read, prune and
    * decode composed end-to-end, per day. Exposed as a method so
    * [[graft.LifecycleSpec]] can also assert dt partition pruning on
    * the intermediate plans. */
  def lifecycle(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val tasks = ParseRunner.tasks(sliceCatalog)
    val transfer = tasks.find(_.tableName == "common.erc20_evt_Transfer").get
    val noiseTopic = Keccak256.eventTopic("Approval(address,address,uint256)")

    // raw (pre-enrich) logs: Transfer topic on every 3rd line, noise
    // elsewhere; day = orderkey parity so each backfill day sees a
    // disjoint one-chain-day slice (the enrich broadcast contract).
    // The orderkey%5 slice (both day parities present: 0,5,10,... )
    // bounds this composition's bench cost — it re-runs TWO full
    // enrich→write partition trees plus a decode write per invocation,
    // and the check needs the shape, not the full row count.
    val li = EvmFixtures.lineitemTx(Tables.df(spark, dir, "lineitem"))
      .filter(col("l_orderkey") % 5 === 0)
    val raw = li.select(
      col("l_linenumber").cast(LongType).as("log_index"),
      concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")).as("transaction_hash"),
      (col("l_linenumber") % 50).as("transaction_index"),
      col("l_orderkey").as("block_number"),
      concat(lit("0xa"), (col("l_partkey") % 97).cast("string"))
        .as("address"),
      concat(lit("0x"), lpad(hex(col("l_partkey")), 64, "0")).as("data"),
      concat_ws(",",
        when(col("l_linenumber") % 3 === 0,
          lit(transfer.event.get.topic0)).otherwise(lit(noiseTopic)),
        pad64(col("l_suppkey")), pad64(col("l_partkey") % 97)).as("topics"),
      (col("l_orderkey") % 2).as("day_parity"))

    def blocksFor(slice: org.apache.spark.sql.DataFrame) = slice.select(
      col("block_number").as("number"),
      concat(lit("0xb"), col("block_number").cast("string")).as("hash"),
      (col("block_number") * 1000 + 1700000000L).as("timestamp"))
      .distinct()

    val wh = tmpDir("graft_lc_wh")
    val from = java.time.LocalDate.parse("2026-03-01")
    graft.pipeline.Backfill.run(
      Seq(graft.pipeline.EvmLoaders.all("logs")),
      d => {
        val slice = raw
          .filter(col("day_parity") === (d.ds.getDayOfMonth - 1).toLong)
          .drop("day_parity")
        Map("logs" -> slice, "blocks" -> blocksFor(slice))
      },
      wh, from, from.plusDays(1))

    // the decode reads the WAREHOUSE, not the in-memory frames — the
    // hand-off between stages is the parquet layout itself
    val whLogs = spark.read.parquet(s"$wh/logs")
    val parseWh = tmpDir("graft_lc_parse")
    ParseRunner.run(spark, sliceCatalog,
      whLogs, whLogs.limit(0), parseWh,
      t => t.tableName == transfer.tableName)
    spark.read.parquet(s"$parseWh/common/common_erc20_evt_Transfer")
      .select(col("dt").cast("string").as("dt"),
        col("from").as("from_a"), col("to").as("to_a"),
        col("value").cast("string").as("v"), col("transaction_hash"))
  }
}

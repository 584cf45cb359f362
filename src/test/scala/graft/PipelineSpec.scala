package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.abi.AbiJson
import graft.core.Tables
import graft.parse.ParseJob
import graft.pipeline._
import graft.sources.EvmFixtures

/** End-to-end load→write→parse slice over a real partitioned warehouse:
  * proves the hash-bucket sub-partitioning prunes at read time (the
  * whole point of the address_hash/selector_hash layout, SURVEY §1.4).
  */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_wh").toString
    val ev = Tables.df(spark, sf, "events")
    val raw = Map(
      "logs" -> EvmFixtures.logs(ev),
      "blocks" -> EvmFixtures.blocksForLogs(ev))
    EvmLoaders.all("logs").run(raw, w, JobDate(java.time.LocalDate.parse("2026-01-01")))
    w
  }

  test("daily load writes dt + hash-bucket partitions") {
    val dirs = new java.io.File(s"$warehouse/logs/dt=2026-01-01").list()
    assert(dirs != null && dirs.exists(_.startsWith("address_hash=")))
  }

  test("backfill loops days chronologically and stays per-day idempotent") {
    val w = Files.createTempDirectory("graft_bf").toString
    val ev = Tables.df(spark, sf, "events")
    // each day sees a disjoint third of the events — the one-chain-day
    // raw slice shape the enrich broadcast contract assumes
    def rawFor(d: JobDate) = {
      val slice = ev.filter(col("event_id") % 3 ===
        (d.ds.getDayOfMonth - 1).toLong)
      Map("logs" -> EvmFixtures.logs(slice),
        "blocks" -> EvmFixtures.blocksForLogs(slice))
    }
    val from = java.time.LocalDate.parse("2026-02-01")
    val days = Backfill.run(Seq(EvmLoaders.all("logs")), rawFor, w,
      from, from.plusDays(2))
    assert(days.map(_.dsString) ==
      Seq("2026-02-01", "2026-02-02", "2026-02-03"))
    val loaded = spark.read.parquet(s"$w/logs")
    assert(loaded.select("dt").distinct().count() == 3)
    assert(loaded.count() == ev.count())
    // re-running one mid-range day rewrites only that partition — with
    // the SESSION conf forced to static, so the test fails if the
    // writer ever drops its per-write dynamic-overwrite option (the
    // data-loss mode in sessions not built by GraftSession)
    val before = loaded.count()
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(confKey)
    spark.conf.set(confKey, "static")
    try Backfill.run(Seq(EvmLoaders.all("logs")), rawFor, w,
      from.plusDays(1), from.plusDays(1))
    finally spark.conf.set(confKey, prev)
    assert(spark.read.parquet(s"$w/logs").count() == before)
  }

  test("backfill rejects two loaders writing one table") {
    val d = java.time.LocalDate.parse("2026-02-01")
    val e = intercept[IllegalArgumentException](
      Backfill.run(Seq(EvmLoaders.all("traces"), EvmLoaders.all("geth_traces")),
        _ => fail("no day may start"),
        Files.createTempDirectory("graft_bf2").toString, d, d))
    assert(e.getMessage.contains("traces"))
  }

  test("concurrent backfill writes what per-loader sequential runs write") {
    val o = Tables.df(spark, sf, "orders")
    val li = Tables.df(spark, sf, "lineitem")
    val ev = Tables.df(spark, sf, "events")
    val part = Tables.df(spark, sf, "part")
    val loaders = EvmLoaders.chainSets("ethereum").toSeq.sorted
      .map(EvmLoaders.all)
    val from = java.time.LocalDate.parse("2026-04-01")
    // day k reads the k-th half of every source; the two days' token
    // slices overlap, so day 2's append must drop day 1's addresses
    def rawFor(w: String)(d: JobDate) = {
      val k = (d.ds.getDayOfMonth - 1).toLong
      val oD = o.filter(col("o_orderkey") % 2 === k)
      val liD = li.filter(col("l_orderkey") % 2 === k)
      val logs = EvmFixtures.lineitemTx(liD).select(
        col("l_linenumber").cast("long").as("log_index"),
        concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
          col("l_linenumber").cast("string")).as("transaction_hash"),
        (col("l_linenumber") % 50).cast("long").as("transaction_index"),
        concat(lit("0xb"), col("l_orderkey").cast("string")).as("block_hash"),
        col("l_orderkey").as("block_number"),
        concat(lit("0xa"), (col("l_partkey") % 97).cast("string"))
          .as("address"),
        concat(lit("0x"), lpad(hex(col("l_partkey")), 64, "0")).as("data"),
        concat(lit("0xe"), (col("l_suppkey") % 7).cast("string"))
          .as("topics"))
      val tokens = EvmFixtures.tokensStaged(
        part.filter(col("p_partkey") % 3 =!= 2 - k))
      val existing =
        if (new java.io.File(s"$w/tokens").isDirectory)
          spark.read.parquet(s"$w/tokens").select("address")
        else tokens.select("address").limit(0)
      Map(
        "blocks" -> EvmFixtures.blocks(oD),
        "contracts" -> EvmFixtures.contracts(oD),
        "transactions" -> EvmFixtures.transactions(liD),
        "receipts" -> EvmFixtures.receipts(liD),
        "logs" -> logs,
        "traces" -> EvmFixtures.traces(liD),
        "token_transfers" -> EvmFixtures.tokenTransfers(liD),
        "prices" -> EvmFixtures.pricesStaged(
          ev.filter(col("event_id") % 2 === k)),
        "tokens" -> tokens,
        "tokens_existing" -> existing)
    }
    val fanned = Files.createTempDirectory("graft_bf_fan").toString
    val days = Backfill.run(loaders, rawFor(fanned), fanned, from,
      from.plusDays(1))
    val serial = Files.createTempDirectory("graft_bf_seq").toString
    days.foreach(d => loaders.foreach(_.run(rawFor(serial)(d), serial, d)))

    // order-insensitive content hash per dt
    def byDt(w: String, t: String) = {
      val df = spark.read.parquet(s"$w/$t")
      df.groupBy("dt").agg(count(lit(1)),
          sum(xxhash64(df.columns.toIndexedSeq.map(col): _*)
            .cast("decimal(38,0)")))
        .collect().map(r => r.get(0).toString -> (r.getLong(1), r.get(2)))
        .toMap
    }
    loaders.map(_.resource).filter(_ != "tokens").foreach { t =>
      val got = byDt(fanned, t)
      assert(got.keySet == days.map(_.dsString).toSet, t)
      assert(got == byDt(serial, t), t)
    }
    val tokens = Seq(fanned, serial).map(w =>
      spark.read.parquet(s"$w/tokens").count())
    // the two days' slices cover every part once between them
    assert(tokens.head == tokens.last && tokens.head == part.count())
  }

  test("re-running a day is idempotent (same row count)") {
    val ev = Tables.df(spark, sf, "events")
    val raw = Map(
      "logs" -> EvmFixtures.logs(ev),
      "blocks" -> EvmFixtures.blocksForLogs(ev))
    val before = spark.read.parquet(s"$warehouse/logs").count()
    EvmLoaders.all("logs").run(raw, warehouse,
      JobDate(java.time.LocalDate.parse("2026-01-01")))
    val after = spark.read.parquet(s"$warehouse/logs").count()
    assert(before == after && after == ev.count())
  }

  test("parse read path prunes hash-bucket partitions") {
    val logs = spark.read.parquet(s"$warehouse/logs")
    // pick a real (address, topic0) present in the data
    val sample = logs.select("address", "selector").first()
    val addr = sample.getString(0)
    val abiJson =
      s"""{"name":"E","type":"event","inputs":[]}"""
    val contract = graft.abi.EvmContract("d", "c", Some(addr), Nil, Nil)
    val event = AbiJson.parseEvent(abiJson)
    // topic filter won't match rows (fake event) — pruning is what we
    // assert, via the physical plan's partition count
    val decoded = ParseJob.decodeEvents(logs, contract, event, abiJson)
    val explained = decoded.queryExecution.executedPlan.toString
    // PartitionFilters must include the bucket columns → pruned scan
    assert(explained.contains("address_hash"),
      s"no address_hash partition filter in plan:\n$explained")
  }

  test("backfill→parse lifecycle decodes both days from the warehouse") {
    val out = graft.queries.ParseQueries.lifecycle(spark, sf)
    val byDt = out.groupBy("dt").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // both backfilled days surface in the decoded table, each non-empty
    assert(byDt.keySet == Set("2026-03-01", "2026-03-02"), byDt.toString)
    assert(byDt.values.forall(_ > 0))
  }

  test("single-day parse over the warehouse prunes dt AND bucket dirs") {
    // the daily parse shape: read the enriched warehouse for ONE day,
    // decode — both the dt filter and the selector_hash bucket filter
    // must land in PartitionFilters (directory pruning), not as a
    // post-scan row filter
    val logs = spark.read.parquet(s"$warehouse/logs")
      .filter(col("dt") === java.sql.Date.valueOf("2026-01-01"))
    val sample = logs.select("address", "selector").first()
    val contract =
      graft.abi.EvmContract("d", "c", Some(sample.getString(0)), Nil, Nil)
    val abiJson = """{"name":"E","type":"event","inputs":[]}"""
    val decoded = ParseJob.decodeEvents(logs, contract,
      AbiJson.parseEvent(abiJson), abiJson)
    val plan = decoded.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse("")
    assert(pf.contains("dt"), s"no dt partition filter:\n$plan")
    assert(pf.contains("address_hash"),
      s"no address_hash partition filter:\n$plan")
  }

  test("raw lifecycle: exists → delete → gone") {
    val tmp = Files.createTempDirectory("graft_raw")
    val f = tmp.resolve("x.json")
    Files.writeString(f, "{}")
    assert(RawLifecycle.rawExists(spark, f.toString))
    assert(RawLifecycle.deleteRaw(spark, f.toString))
    assert(!RawLifecycle.rawExists(spark, f.toString))
  }

  test("parquet transfer sink round-trips a table") {
    val out = Files.createTempDirectory("graft_tx").toString
    val sink = new ParquetTransferSink(out)
    val df = Tables.df(spark, sf, "nation")
    sink.write(df, "nation")
    assert(spark.read.parquet(s"$out/nation").count() == df.count())
  }

  test("jdbc transfer sink round-trips an enriched table through Derby") {
    val url = "jdbc:derby:memory:graft_spec;create=true"
    val sink = new JdbcTransferSink(url, numPartitions = 4)
    val blocks = graft.enrich.Enrich.blocks(
      EvmFixtures.blocks(Tables.df(spark, sf, "orders")))
      .select("number", "hash", "miner", "gas_used")
    sink.write(blocks, "blocks")
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "blocks").load()
    assert(back.count() == blocks.count())
    val want = blocks.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val got = back.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(got == want)
    // overwrite is idempotent (drop + recreate, transfer re-run shape)
    sink.write(blocks, "blocks")
    assert(spark.read.format("jdbc").option("url", url)
      .option("dbtable", "blocks").load().count() == blocks.count())
  }

  test("transfer returns names in task order when writes finish out " +
      "of order") {
    val tables = Seq("blocks", "transactions", "logs", "traces")
    val spec = TransferClientSpec("client",
      raws = tables.map(TransferRawTable("ethereum", _)))
    val caller = Thread.currentThread
    val resolvedOn = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    val finished = new java.util.concurrent.ConcurrentLinkedQueue[String]
    // the first table's write is the slowest, the last one's the fastest
    val sink = new TransferSink {
      def write(df: DataFrame, table: String): Unit = {
        Thread.sleep(150L * (tables.size - tables.indexOf(table)))
        finished.add(table)
      }
    }
    val shipped = Transfer.run(spec,
      graft.parse.ContractCatalog.inMemory(Nil), sink,
      { t => resolvedOn.add(Thread.currentThread); spark.range(1).toDF(t) })
    assert(shipped == tables)
    assert(finished.toArray.toSeq == tables.reverse)
    assert(resolvedOn.toArray.toSeq == tables.map(_ => caller))
  }

  test("transfer catalog: contract expansion, dedup, naming, sizing") {
    import graft.parse.ContractCatalog
    val catalog = ContractCatalog.fromDirectory(
      "/root/reference/dags/resources/contracts/ethereum/common")
    val spec = TransferClientSpec("client",
      raws = Seq(TransferRawTable("ethereum", "logs"),
        TransferRawTable("ethereum", "blocks")),
      // duplicate of a contract-derived element → must NOT double-ship
      abis = Seq(
        TransferAbi("ethereum", "common", "erc20", "Transfer", "event"),
        TransferAbi("ethereum", "x", "y", "Z", "function")),
      contracts = Seq(TransferContract("ethereum", "common")))
    val all = spec.allAbis(catalog)
    assert(all.count(a => a.key ==
      "ethereum_common_erc20_Transfer_event") == 1)
    assert(all.exists(_.key == "ethereum_x_y_Z_function"))
    // naming mirrors transfer_client.py:54-56,101-107
    val t = all.find(_.key == "ethereum_common_erc20_Transfer_event").get
    assert(t.upstreamTaskId == "common.erc20_evt_Transfer")
    assert(all.find(_.key == "ethereum_x_y_Z_function").get
      .upstreamTaskId == "x.y_call_Z")
    assert(spec.raws.head.upstreamTaskId == "enrich_logs")
    // sizing mirrors resource_apply.py
    assert(t.resource == graft.core.EngineConf.HeavyTransfer)
    assert(spec.raws.head.resource == graft.core.EngineConf.HeavyTransfer)
    assert(spec.raws(1).resource == graft.core.EngineConf.Default)
    // task list: raws first, then deduped abis
    val names = Transfer.tasks(spec, catalog).map(_._1)
    assert(names.take(2) == Seq("logs", "blocks"))
    assert(names.distinct == names)
  }

  test("loader dependency graph is acyclic and complete") {
    val deps = EvmLoaders.dependencies
    assert(EvmLoaders.all.keySet == deps.keySet)
    // every dependency is a raw resource name (no cycles possible: deps
    // point at raw inputs, not other loaders)
    assert(deps.values.flatten.toSet.subsetOf(
      graft.schema.RawSchemas.byResource.keySet))
  }
}

/** Parse the ENTIRE reference ABI corpus (30 contracts / 146 events /
  * 490 functions — read-only input data, not code): model, schema
  * derivation, canonical signatures and selectors must all derive
  * without error. */
class EngineConfSpec extends AnyFunSuite {
  import graft.core.{EngineConf, SparkResource}

  test("resource profiles render the five submit confs like the reference") {
    assert(SparkResource().conf == Map(
      "spark.executor.cores" -> "1", "spark.executor.memory" -> "1g",
      "spark.executor.instances" -> "1", "spark.driver.cores" -> "1",
      "spark.driver.memory" -> "1g"))
    // evm_chain.py:203-209
    assert(EngineConf.HeavyEnrich.conf("spark.executor.cores") == "4")
    assert(EngineConf.HeavyEnrich.conf("spark.executor.memory") == "10g")
    // resource_apply.py:48-54
    assert(EngineConf.HeavyTransfer.conf("spark.executor.instances") == "4")
    assert(EngineConf.HeavyTransfer.conf("spark.driver.memory") == "4g")
  }

  test("task matching mirrors resource_apply.py rules") {
    for (t <- Seq("traces", "logs", "transactions"))
      assert(EngineConf.forTransferTable("ethereum", t) ==
        EngineConf.HeavyTransfer, t)
    assert(EngineConf.forTransferTable("ethereum", "blocks") ==
      EngineConf.Default)
    assert(EngineConf.forTransferTable("polygon", "logs") ==
      EngineConf.Default)
    assert(EngineConf.forTransferAbi("ethereum", "common", "erc20",
      "Transfer") == EngineConf.HeavyTransfer)
    assert(EngineConf.forTransferAbi("ethereum", "seaport", "Seaport",
      "OrderFulfilled") == EngineConf.Default)
  }

  test("only the geth-trace enrich job carries a custom resource") {
    assert(EvmLoaders.all("geth_traces").sparkResource ==
      EngineConf.HeavyEnrich)
    assert(EvmLoaders.all.removed("geth_traces").values
      .forall(_.sparkResource == EngineConf.Default))
  }
}

class AbiCorpusSpec extends AnyFunSuite {
  private val root = new java.io.File(
    "/root/reference/dags/resources/contracts/ethereum")

  private def jsonFiles(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isDirectory) f.listFiles().toSeq.flatMap(jsonFiles)
    else if (f.getName.endsWith(".json")) Seq(f)
    else Nil

  test("every reference contract JSON parses and derives schemas") {
    val files = jsonFiles(root)
    assume(files.nonEmpty, "reference corpus not present")
    var events = 0
    var functions = 0
    files.foreach { f =>
      val c = AbiJson.parseContract(Files.readString(f.toPath))
      assert(c.contractName.nonEmpty, f.getName)
      c.events.foreach { e =>
        val schema = graft.abi.AbiSchema.eventSchema(e)
        assert(schema.fields.length == e.inputs.length)
        assert(e.topic0.length == 66) // 0x + 64 hex
        events += 1
      }
      c.functions.foreach { fn =>
        graft.abi.AbiSchema.callSchema(fn)
        assert(fn.selector.length == 10) // 0x + 8 hex
        functions += 1
      }
    }
    info(s"${files.length} contracts, $events events, $functions functions")
    assert(files.length >= 30 && events >= 140 && functions >= 450)
  }

  test("known corpus topics: erc20 Transfer + CryptoPunks PunkBought") {
    // the in-repo ABI resources the parse catalog queries decode with
    val contracts = graft.queries.ParseQueries.sliceCatalog.contractJsons
      .map(AbiJson.parseContract)
    val erc20 = contracts.find(_.contractName == "erc20").get
    assert(erc20.contractAddress.isEmpty) // decode-all semantics
    val transfer = erc20.events.find(_.name == "Transfer").get
    assert(transfer.topic0 ==
      "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef")
    val punks = contracts.find(_.contractName == "CryptoPunksMarket").get
    assert(punks.datasetName == "cryptopunks")
    assert(punks.contractAddress.map(_.toLowerCase) ==
      Some("0xb47e3cd837ddf8e4c57f05d70ab865de6e193bbb"))
    val bought = punks.events.find(_.name == "PunkBought").get
    assert(bought.topic0 == graft.abi.Keccak256.eventTopic(
      "PunkBought(uint256,uint256,address,address)"))
  }
}

/** S11 token-list source + S5 append sink. */
class SourcesSpec extends AnyFunSuite {
  import TestSession._

  test("token-list YAML parses (spellbook shape)") {
    val yaml =
      """tokens:
        |  - address: "0xc02aaa39b223fe8d0a0e5c4f27ead9083c756cc2"
        |    symbol: WETH
        |    decimals: 18
        |  - address: "0x6b175474e89094c44da98b954eedeac495271d0f"
        |    symbol: DAI
        |    decimals: 18
        |""".stripMargin
    val tokens = graft.sources.TokenListSource.parse(yaml)
    assert(tokens.map(_.symbol) == Seq("WETH", "DAI"))
    assert(tokens.forall(_.decimals == 18))
    assert(tokens.head.address.startsWith("0x"))
  }

  test("append sink accumulates (tokens incremental semantics)") {
    val out = Files.createTempDirectory("graft_append").toString
    val df = Tables.df(spark, sf, "region")
    graft.write.PartitionedWriter.append(df, out)
    graft.write.PartitionedWriter.append(df, out)
    assert(spark.read.parquet(out).count() == 2 * df.count())
  }
}

/** Driver-contract smoke: entry() and the SQL-registered ABI decoders. */
class EntrySpec extends AnyFunSuite {
  import TestSession._

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("abi decoders are callable from spark.sql") {
    graft.abi.AbiDecode.register(spark)
    val abi =
      """{"name":"Transfer","type":"event","anonymous":false,"inputs":[
        {"indexed":true,"name":"from","type":"address"},
        {"indexed":true,"name":"to","type":"address"},
        {"indexed":false,"name":"value","type":"uint256"}]}"""
        .replace("\n", " ")
    val topic = graft.abi.Keccak256
      .eventTopic("Transfer(address,address,uint256)")
    val row = spark.sql(
      s"""SELECT d.`from` AS f, d.`to` AS t, d.value AS v FROM (
            SELECT abi_decode_event(
              array('$topic',
                    '0x${"0" * 24}${"a1" * 20}',
                    '0x${"0" * 24}${"b2" * 20}'),
              unhex(lpad('2a', 64, '0')),
              '$abi') AS d) x""").first()
    assert(row.getString(0) == "0x" + "a1" * 20)
    assert(row.getString(1) == "0x" + "b2" * 20)
    assert(row.getDecimal(2).longValue() == 42L)
  }
}

/** Per-chain loader-set parity + tokens incremental loader. */
class ChainSetSpec extends AnyFunSuite {
  import TestSession._

  test("chain sets reference known loaders") {
    graft.pipeline.EvmLoaders.chainSets.values.flatten.toSet.foreach {
      (l: String) => assert(graft.pipeline.EvmLoaders.all.contains(l), l)
    }
    assert(graft.pipeline.EvmLoaders.chainSets("ethereum").contains("prices"))
    assert(!graft.pipeline.EvmLoaders.chainSets("polygon").contains("prices"))
    assert(graft.pipeline.EvmLoaders.chainSets("polygon")
      .contains("geth_traces"))
  }

  test("tokens loader appends only new addresses") {
    val out = Files.createTempDirectory("graft_tok").toString
    val part = Tables.df(spark, sf, "part")
    val staged = graft.sources.EvmFixtures.tokensStaged(part)
    val existing = graft.sources.EvmFixtures.tokensStaged(
      part.filter(col("p_partkey") % 3 === 0))
    graft.pipeline.EvmLoaders.all("tokens").run(
      Map("tokens" -> staged,
        "tokens_existing" -> existing.select("address")),
      out, graft.pipeline.JobDate(java.time.LocalDate.parse("2026-01-01")))
    val written = spark.read.parquet(s"$out/tokens")
    assert(written.count() ==
      part.filter(col("p_partkey") % 3 =!= 0).count())
  }
}

/** S1 with the REAL raw schemas: EVM-shaped rows written as JSON lines
  * and read back through RawTableReader's schema-on-read path — covers
  * DECIMAL(38,0) money columns and nullable strings from JSON. */
class RawJsonReadSpec extends AnyFunSuite {
  import TestSession._

  test("blocks JSON round-trips through RawSchemas.blocks") {
    val out = Files.createTempDirectory("graft_rawjson").toString
    val blocks = EvmFixtures.blocks(Tables.df(spark, sf, "orders"))
    blocks.write.mode("overwrite").json(out)
    val back = graft.sources.RawTableReader.json(spark, "blocks", out)
    assert(back.schema == graft.schema.RawSchemas.blocks)
    assert(back.count() == blocks.count())
    // decimal column survives (values, not doubles)
    val a = back.agg(sum(col("difficulty"))).first().getDecimal(0)
    val b = blocks.agg(sum(col("difficulty"))).first().getDecimal(0)
    assert(a == b)
  }

  test("traces JSON with nulls round-trips") {
    val out = Files.createTempDirectory("graft_rawjson2").toString
    val traces = EvmFixtures.traces(Tables.df(spark, sf, "lineitem"))
    traces.write.mode("overwrite").json(out)
    val back = graft.sources.RawTableReader.json(spark, "traces", out)
    assert(back.count() == traces.count())
    assert(back.filter(col("transaction_hash").isNull).count() ==
      traces.filter(col("transaction_hash").isNull).count())
  }

  test("compaction collapses a many-small-file dir to the target " +
      "count with identical content; original survives a blocked swap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    // 40 single-row files — the streaming-ingest accretion shape
    val rows = (1L to 40L).map(i => (i, s"doc $i"))
    rows.toDF("id", "v").repartition(40)
      .write.mode("overwrite").parquet(dir)
    val filesBefore = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 10, s"fixture produced $filesBefore files")
    // generous target → exactly 1 output file
    val (b, a, n) = graft.write.Compactor.compact(spark, dir,
      targetBytes = 1L << 30)
    assert(b == filesBefore && a == 1 && n == 40)
    val back = spark.read.parquet(dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(back == rows.map(t => t._1 -> t._2).toSet)
    // sized target: ~quarter of the bytes per file → >1 files
    val dir2 = Files.createTempDirectory("graft_compact2").toString + "/t"
    rows.toDF("id", "v").repartition(40)
      .write.mode("overwrite").parquet(dir2)
    val total = new java.io.File(dir2).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val (_, a2, n2) = graft.write.Compactor.compact(spark, dir2,
      targetBytes = math.max(1L, total / 4))
    assert(a2 >= 2 && a2 <= 8 && n2 == 40, s"got $a2 files")
  }
}

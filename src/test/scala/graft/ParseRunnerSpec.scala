package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.{ContractCatalog, ParseRunner}
import graft.queries.{ParseQueries, SeaportRoundtrip}

class ParseRunnerSpec extends AnyFunSuite {
  import TestSession._

  private lazy val catalog =
    ContractCatalog.fromDirectory(ParseQueries.CorpusDir)

  private def b64(v: Long) = f"0x$v%064x"
  private def addr(v: Long) = f"0x$v%040x"

  /** minimal enriched-logs shape for plan building */
  private def logsFixture = spark.range(1).select(
    array(lit("0x0")).as("topics_arr"),
    lit(Array.emptyByteArray).as("unhex_data"),
    lit("0xa0").as("address"),
    lit("0xt0").as("transaction_hash"),
    lit(0L).as("log_index"),
    lit(0L).as("block_number"))

  /** minimal enriched-traces shape for plan building */
  private def tracesFixture = spark.range(1).select(
    lit("0x00000000").as("selector"),
    lit(Array.emptyByteArray).as("unhex_input"),
    lit(Array.emptyByteArray).as("unhex_output"),
    lit("0xa0").as("to_address"),
    lit("0xt0").as("transaction_hash"))

  private def data32(v: Long) = {
    val b = new Array[Byte](32)
    b(31) = v.toByte
    b
  }

  /** one enriched log row */
  private def logRow(topics: Seq[String], data: Array[Byte],
      address: String, tx: String) = spark.range(1).select(
    array(topics.map(lit): _*).as("topics_arr"),
    lit(data).as("unhex_data"),
    lit(address).as("address"),
    lit(tx).as("transaction_hash"),
    lit(0L).as("log_index"),
    lit(0L).as("block_number"))

  test("every corpus element becomes a buildable decode job") {
    assume(new java.io.File(ParseQueries.CorpusDir).exists())
    val tasks = ParseRunner.tasks(catalog)
    val (events, calls) = tasks.partition(_.isEvent)
    // parser.py enumerates 146 events + 490 functions over 30 contracts
    assert(events.size == 146, s"expected 146 event jobs, got ${events.size}")
    assert(calls.size == 490, s"expected 490 call jobs, got ${calls.size}")
    val logs = logsFixture
    val traces = tracesFixture
    tasks.foreach { t =>
      assert(t.tableName.contains(if (t.isEvent) "_evt_" else "_call_"))
      // select() forces analysis: schema derivation + filter resolution
      val df = t.dataFrame(logs, traces)
      assert(df.columns.contains("transaction_hash"), t.tableName)
    }
  }

  test("erc20+cryptopunks+seaport slice runs end-to-end into a warehouse") {
    assume(new java.io.File(ParseQueries.CorpusDir).exists())
    val tasks = ParseRunner.tasks(catalog)
    val transferTopic = tasks
      .find(_.tableName == "common.erc20_evt_Transfer").get.event.get.topic0
    val punk = tasks
      .find(_.tableName == "cryptopunks.CryptoPunksMarket_evt_PunkBought").get
    val seaport = tasks
      .find(_.tableName == "seaport.Seaport_evt_OrderFulfilled").get
    assert(seaport.event.get.topic0 == SeaportRoundtrip.event.topic0,
      "real Seaport OrderFulfilled shape must match the roundtrip fixture")

    val logs =
      logRow(Seq(transferTopic, b64(7), b64(9)), data32(42), "0xa1", "0xt1")
        .unionByName(logRow(Seq(transferTopic, b64(8), b64(9)), data32(43),
          "0xa2", "0xt2"))
        .unionByName(logRow(
          Seq(punk.event.get.topic0, b64(123), b64(7), b64(9)), data32(44),
          punk.contract.contractAddress.get.toLowerCase, "0xt3"))
        .unionByName(logRow(
          Seq(seaport.event.get.topic0, b64(3), b64(4)),
          SeaportRoundtrip.encode(1, 2, 3, 4),
          seaport.contract.contractAddress.get.toLowerCase, "0xt4"))

    val wanted = Set("common.erc20_evt_Transfer",
      "cryptopunks.CryptoPunksMarket_evt_PunkBought",
      "seaport.Seaport_evt_OrderFulfilled")
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val counts = ParseRunner.run(spark, catalog, logs, tracesFixture, wh,
      t => wanted.contains(t.tableName)).toMap
    assert(counts == Map(
      "common.erc20_evt_Transfer" -> 2L,
      "cryptopunks.CryptoPunksMarket_evt_PunkBought" -> 1L,
      "seaport.Seaport_evt_OrderFulfilled" -> 1L))

    // decoded values land typed in the warehouse table
    val punks = spark.read
      .parquet(s"$wh/cryptopunks/cryptopunks_CryptoPunksMarket_evt_PunkBought")
    val row = punks.select(col("punkIndex").cast("long"),
      col("fromAddress"), col("value").cast("long")).collect().head
    assert(row.getLong(0) == 123L)
    assert(row.getString(1) == addr(7))
    assert(row.getLong(2) == 44L)

    // a contract with NO matching events that day, on dt-carrying
    // inputs, must report 0 rows — not crash on schema inference over
    // a part-file-less partitioned write (the common corpus-wide case)
    val dtLogs = logs.withColumn("dt", lit("2024-01-01"))
    val counts0 = ParseRunner.run(spark, catalog, dtLogs, tracesFixture,
      java.nio.file.Files.createTempDirectory("graft_wh0").toString,
      t => t.tableName == "common.erc20_evt_Approval").toMap
    assert(counts0.values.toSeq == Seq(0L))
  }

  test("parallel submission matches the sequential path, in catalog order") {
    assume(new java.io.File(ParseQueries.CorpusDir).exists())
    val names = ParseRunner.tasks(catalog).filter(_.isEvent)
      .take(8).map(_.tableName).toSet
    def wh() = java.nio.file.Files.createTempDirectory("graft_whp").toString
    val seqR = ParseRunner.run(spark, catalog, logsFixture, tracesFixture,
      wh(), t => names(t.tableName), parallelism = 1)
    val parR = ParseRunner.run(spark, catalog, logsFixture, tracesFixture,
      wh(), t => names(t.tableName), parallelism = 4)
    assert(parR == seqR)
    // results come back in catalog order regardless of completion order
    assert(parR.map(_._1) == ParseRunner.tasks(catalog)
      .filter(t => names(t.tableName)).map(_.tableName))
  }

  test("parallel submission matches the sequential path over the " +
      "in-repo slice catalog") {
    val catalog = ParseQueries.sliceCatalog
    val events = ParseRunner.tasks(catalog).filter(_.isEvent)
    def task(name: String) = events.find(_.tableName == name).get
    val transfer = task("common.erc20_evt_Transfer")
    val approval = task("common.erc20_evt_Approval")
    val punk = task("cryptopunks.CryptoPunksMarket_evt_PunkBought")
    val logs =
      logRow(Seq(transfer.event.get.topic0, b64(7), b64(9)), data32(42),
        "0xa1", "0xt1")
        .unionByName(logRow(Seq(transfer.event.get.topic0, b64(8), b64(9)),
          data32(43), "0xa2", "0xt2"))
        .unionByName(logRow(Seq(approval.event.get.topic0, b64(7), b64(8)),
          data32(5), "0xa1", "0xt3"))
        .unionByName(logRow(
          Seq(punk.event.get.topic0, b64(123), b64(7), b64(9)), data32(44),
          punk.contract.contractAddress.get.toLowerCase, "0xt4"))
    def wh() = java.nio.file.Files.createTempDirectory("graft_whs").toString
    val seqR = ParseRunner.run(spark, catalog, logs, tracesFixture, wh(),
      _.isEvent, parallelism = 1)
    val parR = ParseRunner.run(spark, catalog, logs, tracesFixture, wh(),
      _.isEvent, parallelism = 4)
    assert(parR == seqR)
    assert(parR.map(_._1) == events.map(_.tableName))
    assert(parR.toMap == Map(transfer.tableName -> 2L,
      approval.tableName -> 1L, punk.tableName -> 1L))
  }

  test("HTTP catalog yields the identical corpus, and non-2xx fails hard") {
    assume(new java.io.File(ParseQueries.CorpusDir).exists())
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    // wrap every corpus contract document into the service's DTO wire
    // shape — abi travels as a STRING of the ABI array, name/project/
    // address instead of contract_name/dataset_name/contract_address
    // (contract_service.py:32-41)
    val dtos = ContractCatalog.fromDirectory(ParseQueries.CorpusDir)
      .contractJsons.map { json =>
        val j = JsonMethods.parse(json)
        JObject(List(
          "id" -> (JString("c-1"): JValue),
          "chain" -> (JString("ethereum"): JValue),
          "name" -> (j \ "contract_name"),
          "project" -> (j \ "dataset_name"),
          "type" -> (JString("app"): JValue),
          "abi" -> (JString(
            JsonMethods.compact(JsonMethods.render(j \ "abi"))): JValue)
        ) ++ (j \ "contract_address" match {
          case JString(a) => List("address" -> (JString(a): JValue))
          case _ => Nil
        }))
      }
    val body = JsonMethods.compact(JsonMethods.render(
      JObject(List("data" -> (JArray(dtos.toList): JValue)))))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/contract/chain/ethereum",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.createContext("/contract/chain/nope",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(500, -1L)
        ex.close()
      })
    // 2xx but the body has no 'data' array — a service shape change
    server.createContext("/contract/chain/noshape",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        val bytes = """{"result":[]}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    server.start()
    try {
      val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/contract"
      val http = ContractCatalog.fromHttp(endpoint, "ethereum")
      val httpTasks = ParseRunner.tasks(http)
      val dirTasks = ParseRunner.tasks(catalog)
      // byte-level task parity: same tables in the same order, and the
      // per-element ABI JSON round-trips through the string-typed DTO
      // field into identical topic0 / selector / decode schemas
      assert(httpTasks.size == 636)
      assert(httpTasks.map(_.tableName) == dirTasks.map(_.tableName))
      val et = "common.erc20_evt_Transfer"
      assert(httpTasks.find(_.tableName == et).get.event.get.topic0 ==
        dirTasks.find(_.tableName == et).get.event.get.topic0)
      val ct = "cryptopunks.CryptoPunksMarket_call_enterBidForPunk"
      assert(httpTasks.find(_.tableName == ct).get.function.get.selector ==
        dirTasks.find(_.tableName == ct).get.function.get.selector)
      assert(httpTasks.map(t => t.dataFrame(logsFixture, tracesFixture)
          .schema).toSeq ==
        dirTasks.map(t => t.dataFrame(logsFixture, tracesFixture)
          .schema).toSeq)
      // parity RUN through the HTTP catalog: same warehouse results
      val names = dirTasks.filter(_.isEvent).take(4).map(_.tableName).toSet
      def wh() = java.nio.file.Files.createTempDirectory("graft_whh").toString
      val viaHttp = ParseRunner.run(spark, http, logsFixture, tracesFixture,
        wh(), t => names(t.tableName))
      val viaDir = ParseRunner.run(spark, catalog, logsFixture, tracesFixture,
        wh(), t => names(t.tableName))
      assert(viaHttp == viaDir)
      // the reference's failure contract: non-2xx is an exception
      val err = intercept[RuntimeException] {
        ContractCatalog.fromHttp(endpoint, "nope").contractJsons
      }
      assert(err.getMessage.contains("nope"))
      // a 2xx body without a 'data' array must also fail hard, not
      // produce a silent zero-task catalog (the reference indexes
      // res.json()['data'] and raises on a shape change)
      val shapeErr = intercept[RuntimeException] {
        ContractCatalog.fromHttp(endpoint, "noshape").contractJsons
      }
      assert(shapeErr.getMessage.contains("data"))
    } finally server.stop(0)
  }

  test("FULL corpus width: all 636 decode jobs execute into one warehouse") {
    assume(new java.io.File(ParseQueries.CorpusDir).exists())
    import graft.core.Tables
    import graft.sources.EvmFixtures
    val tasks = ParseRunner.tasks(catalog)
    val transfer = tasks.find(_.tableName == "common.erc20_evt_Transfer").get
    val punk = tasks
      .find(_.tableName == "cryptopunks.CryptoPunksMarket_evt_PunkBought").get
    // every function-bearing corpus contract is address-filtered; use
    // CryptoPunks enterBidForPunk(uint256) as the covered call element
    val callT = tasks
      .find(_.tableName == "cryptopunks.CryptoPunksMarket_call_enterBidForPunk")
      .get
    val punksAddr = punk.contract.contractAddress.get.toLowerCase

    // dt-carrying enriched fixtures over real sf0.001 lineitem rows:
    // Transfer events on every 3rd line, PunkBought on lines ≡1 (mod 3),
    // transfer() calls on lines ≢0 (mod 3). Every OTHER corpus element —
    // the overwhelming majority of the 636 — sees no matching row and
    // must produce a 0-row partitioned table, not a crash: this is the
    // corpus-wide shape parser.py runs daily and the exact behavior
    // (empty-decode writes, FAIR-pool width, per-table commits) that a
    // 3-element slice cannot exercise.
    def pad64(c: org.apache.spark.sql.Column) =
      lpad(lower(hex(c)), 64, "0")
    def pad64x(c: org.apache.spark.sql.Column) =
      concat(lit("0x"), pad64(c))
    val li = EvmFixtures.lineitemTx(Tables.df(spark, TestSession.sf, "lineitem"))
    val m = col("l_linenumber") % 3
    val logs = li.select(
      when(m === 0, array(lit(transfer.event.get.topic0),
          pad64x(col("l_suppkey")), pad64x(col("l_partkey") % 97)))
        .otherwise(array(lit(punk.event.get.topic0),
          pad64x(col("l_orderkey") % 10000),
          pad64x(col("l_suppkey")), pad64x(col("l_partkey") % 97)))
        .as("topics_arr"),
      unhex(lpad(hex(col("l_partkey")), 64, "0")).as("unhex_data"),
      when(m === 1, lit(punksAddr))
        .otherwise(concat(lit("0xa"), (col("l_partkey") % 97).cast("string")))
        .as("address"),
      concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")).as("transaction_hash"),
      col("l_linenumber").cast("long").as("log_index"),
      col("l_orderkey").as("block_number"),
      lit("2026-03-01").as("dt"))
    val sel = callT.function.get.selector
    val selCol = when(m =!= 0, lit(sel)).otherwise(lit("0xdeadbeef"))
    val traces = li.select(
      selCol.as("selector"),
      unhex(concat(substring(selCol, 3, 8), pad64(col("l_partkey"))))
        .as("unhex_input"),
      lit(Array.emptyByteArray).as("unhex_output"), // no outputs declared
      lit(punksAddr).as("to_address"),
      concat(lit("0xt"), col("l_orderkey").cast("string"), lit("_"),
        col("l_linenumber").cast("string")).as("transaction_hash"),
      lit("2026-03-01").as("dt"))

    val expectTransfer = li.filter(m === 0).count()
    val expectPunk = li.filter(m === 1).count()
    val expectCall = li.filter(m =!= 0).count()

    val wh = java.nio.file.Files.createTempDirectory("graft_wh_full").toString
    val t0 = System.nanoTime()
    val counts = ParseRunner.run(spark, catalog, logs, traces, wh,
      parallelism = 8)
    val secs = (System.nanoTime() - t0) / 1e9

    assert(counts.size == 636, s"expected 636 results, got ${counts.size}")
    assert(counts.map(_._1) == tasks.map(_.tableName),
      "results must cover the whole corpus in catalog order")
    // every table physically exists in the warehouse — including the
    // part-file-less 0-row partitioned writes
    val written = (for {
      ds <- Option(new java.io.File(wh).listFiles()).get.toSeq
      t <- Option(ds.listFiles()).get.toSeq
    } yield t.getName).toSet
    assert(written.size == 636,
      s"expected 636 warehouse tables, found ${written.size}")
    val byName = counts.toMap
    assert(byName("common.erc20_evt_Transfer") == expectTransfer)
    assert(byName("cryptopunks.CryptoPunksMarket_evt_PunkBought") ==
      expectPunk)
    assert(byName("cryptopunks.CryptoPunksMarket_call_enterBidForPunk") ==
      expectCall)
    // the corpus-wide reality: almost everything decodes to a
    // legitimate empty table (no matching topic/selector/address or a
    // shape mismatch nulled by the decoder)
    assert(byName.values.count(_ == 0L) > 500,
      s"expected >500 empty tables, got ${byName.values.count(_ == 0L)}")
    // decoded values land typed + dt-partitioned at full width
    val t = spark.read
      .parquet(s"$wh/common/common_erc20_evt_Transfer")
    assert(t.columns.contains("dt"))
    assert(t.filter(col("dt") === "2026-03-01").count() == expectTransfer)
    // wall-time bound: corpus width must stay tractable on one box
    assert(secs < 600, f"full-width corpus run took $secs%.0f s")
    info(f"full 636-element corpus: $secs%.1f s, " +
      f"${byName.values.count(_ > 0L)} nonzero tables")
  }
}

package graft.parse

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods
import graft.abi.{AbiEvent, AbiFunction, AbiJson, EvmContract}
import graft.core.Fanout
import graft.write.PartitionedWriter

/** Where a parse stage gets its contract list. The reference has two
  * producers of the same shape: the checked-in corpus directory
  * (`/root/reference/dags/resources/contracts/{chain}/{dataset}/` with
  * one JSON per contract, walked by `dags/chains/blockchain.py` +
  * `parser.py:64`) and the
  * experiment catalog HTTP service
  * (`dags/experiments/contract_service.py:32-41`, which returns the
  * same contract JSON documents over the wire). Both reduce to "a
  * sequence of contract JSON strings" — the two implementations below.
  */
trait ContractCatalog {
  /** Raw contract JSON documents, each
    * `{contract_name, dataset_name, contract_address?, abi: [...]}`. */
  def contractJsons: Seq[String]
}

object ContractCatalog {

  /** Walks every `.json` under `dir` recursively in stable
    * (path-sorted) order — the corpus-directory layout. */
  def fromDirectory(dir: String): ContractCatalog = new ContractCatalog {
    private def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Nil
      else if (f.isDirectory)
        // listFiles() returns null (not empty) on I/O error — skip, and
        // don't let one unreadable subdir kill the whole enumeration
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
          .sortBy(_.getPath).flatMap(walk)
      else if (f.getName.endsWith(".json")) Seq(f)
      else Nil
    def contractJsons: Seq[String] =
      walk(new java.io.File(dir)).map(f => Files.readString(f.toPath))
  }

  /** Contracts that arrived from elsewhere (catalog service, config) —
    * the experiment-parser boundary. */
  def inMemory(jsons: Seq[String]): ContractCatalog = new ContractCatalog {
    def contractJsons: Seq[String] = jsons
  }

  /** The experiment catalog service over HTTP:
    * `GET {endpoint}/chain/{chain}` returns
    * `{"data": [{name, project, address?, abi: "<abi-array-as-STRING>",
    * ...}, ...]}` and anything non-2xx is a hard failure
    * (`/root/reference/dags/experiments/contract_service.py:32-41`;
    * its DTO maps name→contract_name, project→dataset_name,
    * address→contract_address, and `abi` travels as a JSON string that
    * is parsed separately — an absent/null abi means an empty element
    * list, not an error). The fetch is lazy (at enumeration time) and
    * driver-side only: the cluster never talks to the service; tasks
    * ship with their ABI element JSON inlined, exactly as with the
    * directory catalog. */
  def fromHttp(endpoint: String, chain: String,
      timeoutMillis: Int = 30000): ContractCatalog = new ContractCatalog {
    def contractJsons: Seq[String] = {
      import java.net.http.{HttpClient, HttpRequest, HttpResponse}
      val client = HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMillis.toLong))
        .build()
      val req = HttpRequest
        .newBuilder(java.net.URI.create(s"$endpoint/chain/$chain"))
        .timeout(java.time.Duration.ofMillis(timeoutMillis.toLong))
        .GET().build()
      val res = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (res.statusCode() / 100 != 2)
        throw new RuntimeException(
          s"Get contracts by chain failed: $chain (HTTP ${res.statusCode()})")
      // a 2xx body without a "data" array is a contract violation, not
      // an empty catalog: the reference indexes res.json()['data'] and
      // raises on a shape change (contract_service.py:38-41). Defaulting
      // to Nil here would make a service regression look like a
      // successful zero-task run.
      val data = JsonMethods.parse(res.body()) \ "data" match {
        case JArray(items) => items
        case other => throw new RuntimeException(
          s"contract service response for chain $chain has no 'data' " +
            s"array (got ${other.getClass.getSimpleName})")
      }
      data.map { item =>
        def str(f: String): Option[String] = item \ f match {
          case JString(s) => Some(s)
          case _ => None
        }
        // re-render each DTO into the contract-document shape the
        // directory catalog yields, so every consumer downstream of
        // ContractCatalog is source-agnostic
        val abi = str("abi").map(JsonMethods.parse(_)).getOrElse(JArray(Nil))
        val doc = JObject(
          List(
            "contract_name" -> (JString(str("name").getOrElse("")): JValue),
            "dataset_name" -> (JString(str("project").getOrElse("")): JValue)
          ) ++
            str("address")
              .map(a => "contract_address" -> (JString(a): JValue)).toList ++
            List("abi" -> abi))
        JsonMethods.compact(JsonMethods.render(doc))
      }
    }
  }
}

/** One decode job = one output table
  * (`/root/reference/dags/chains/parser.py:64-117`: one
  * SparkSubmitOperator per event/function element, `--abi-json` =
  * that element serialized alone). `abiJson` here is likewise the
  * single element's JSON — exactly what [[graft.abi.AbiDecode]] takes. */
final case class ParseTask(
    contract: EvmContract,
    isEvent: Boolean,
    elementName: String,
    abiJson: String) {

  /** `{dataset}.{contract}_evt_{Name}` / `_call_{Name}`
    * (`parser.py:114-117`). */
  def tableName: String = {
    val kind = if (isEvent) "evt" else "call"
    s"${contract.datasetName}.${contract.contractName}_${kind}_$elementName"
  }

  @transient lazy val event: Option[AbiEvent] =
    if (isEvent) Some(AbiJson.parseEvent(abiJson)) else None
  @transient lazy val function: Option[AbiFunction] =
    if (isEvent) None else Some(AbiJson.parseFunction(abiJson))

  /** The decode plan over the enriched day: events read `logs`, calls
    * read `traces` (the two sensor edges in `parser.py:40-63`). */
  def dataFrame(logs: DataFrame, traces: DataFrame): DataFrame =
    if (isEvent) ParseJob.decodeEvents(logs, contract, event.get, abiJson)
    else ParseJob.decodeCalls(traces, contract, function.get, abiJson)
}

/** Corpus-wide parse runner: enumerate every event/function element of
  * every catalog contract into a [[ParseTask]], and run the selected
  * slice end-to-end into a parquet warehouse.
  *
  * Scale notes: each task is an independent job over the SAME enriched
  * day of logs/traces — cache the enriched inputs once (the reference
  * re-reads them per SparkSubmit; one shared scan is strictly better),
  * and each task's plan starts with the topic0/selector + address
  * filters, which on a bucketed warehouse prune to a fraction of the
  * day before decode work starts (see [[ParseJob]]).
  */
object ParseRunner {

  /** All decode jobs in the catalog, in catalog order
    * (`parser.py:64-68`: `type` not in {event, function} is skipped). */
  def tasks(catalog: ContractCatalog): Seq[ParseTask] =
    catalog.contractJsons.flatMap(tasksForContract)

  def tasksForContract(contractJson: String): Seq[ParseTask] = {
    val contract = AbiJson.parseContract(contractJson)
    val elements = JsonMethods.parse(contractJson) \ "abi" match {
      case JArray(as) => as
      case _ => Nil
    }
    elements.flatMap { el =>
      val name = el \ "name" match {
        case JString(s) => s
        case _ => ""
      }
      el \ "type" match {
        case JString("event") =>
          Some(ParseTask(contract, isEvent = true, name,
            JsonMethods.compact(JsonMethods.render(el))))
        case JString("function") =>
          Some(ParseTask(contract, isEvent = false, name,
            JsonMethods.compact(JsonMethods.render(el))))
        case _ => None
      }
    }
  }

  /** Run each task passing `select` and write its table under
    * `{warehouse}/{dataset}/{table}` — partitioned by `dt` when the
    * enriched inputs carry it (the reference's daily INSERT OVERWRITE
    * shape), plain parquet otherwise. Returns (tableName, rowsWritten)
    * per task, in catalog order.
    *
    * Tasks are submitted through [[graft.core.Fanout]] from a BOUNDED
    * pool of `parallelism` driver threads into its FAIR scheduler pool
    * — the reference runs its 146+490 decode jobs as parallel Airflow
    * tasks (`parser.py:71-98`, `build_chain_dags.py:14-15` parallelism
    * knobs); one-at-a-time submission would leave the cluster idle
    * between small jobs at corpus width. `select` runs on the calling
    * thread. Each task touches only its own output path and the shared
    * cached inputs, so concurrent execution is write-disjoint; results
    * come back in catalog order regardless of completion order, and
    * the inputs are unpersisted only after every started task has
    * finished, a failed run included. */
  def run(spark: SparkSession, catalog: ContractCatalog,
      logs: DataFrame, traces: DataFrame, warehouse: String,
      select: ParseTask => Boolean = _ => true,
      parallelism: Int = 4): Seq[(String, Long)] = {
    val selected = tasks(catalog).filter(select)
    // one materialization of the enriched day, shared by every decode
    logs.cache(); traces.cache()
    try Fanout.map(parallelism, selected)(
      runOne(spark, _, logs, traces, warehouse))
    finally { logs.unpersist(); traces.unpersist() }
  }

  private def runOne(spark: SparkSession, t: ParseTask,
      logs: DataFrame, traces: DataFrame,
      warehouse: String): (String, Long) = {
    val df = t.dataFrame(logs, traces)
    val path = s"$warehouse/${t.contract.datasetName}/" +
      t.tableName.replace('.', '_')
    if (df.columns.contains("dt"))
      // per-write dynamic overwrite, same contract as
      // PartitionedWriter: day N's parse must never truncate other
      // days' partitions, regardless of the session's conf
      df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("dt").parquet(path)
    else df.write.mode("overwrite").parquet(path)
    // read back with the writer's schema: a zero-row partitioned
    // write leaves no part files, and schema INFERENCE over the
    // bare _SUCCESS dir would throw — an empty decode (contract
    // with no matching events that day) is a 0-count, not a crash
    t.tableName -> spark.read.schema(df.schema).parquet(path).count()
  }
}

package graft.pipeline

import org.apache.spark.sql.DataFrame
import graft.core.{EngineConf, Fanout, SparkResource}
import graft.parse.{ContractCatalog, ParseRunner}

/** S12 — the transfer catalog: which tables a client warehouse receives
  * (`/root/reference/dags/chains/transfer_client.py`). Three source
  * shapes, exactly the reference's: raw enriched tables, explicitly
  * listed decoded tables, and whole projects expanded from the contract
  * corpus. Task naming and per-task sizing mirror the reference so a
  * scheduler can wire sensors the same way.
  */
final case class TransferRawTable(chain: String, table: String) {
  /** `transfer_client.py:101-107` */
  def upstreamTaskId: String = s"enrich_$table"
  /** `resource_apply.py:60-65` sizing */
  def resource: SparkResource = EngineConf.forTransferTable(chain, table)
}

final case class TransferAbi(chain: String, datasetName: String,
    contractName: String, abiName: String, abiType: String) {
  /** dedup key (`transfer_client.py:58-61`) */
  def key: String =
    s"${chain}_${datasetName}_${contractName}_${abiName}_$abiType"
  /** `{dataset}.{contract}_{call|evt}_{Name}` (`transfer_client.py:54-56`) */
  def upstreamTaskId: String = {
    val kind = if (abiType == "function") "call" else "evt"
    s"$datasetName.${contractName}_${kind}_$abiName"
  }
  /** `resource_apply.py:68-77` sizing */
  def resource: SparkResource =
    EngineConf.forTransferAbi(chain, datasetName, contractName, abiName)
}

/** A whole project's decode tables, optionally narrowed to one contract
  * (`transfer_client.py:64-88`: folder match on the project name +
  * `{contract_name}.json` filter, expanded element-by-element). The
  * catalog stands in for the corpus directory walk. */
final case class TransferContract(chain: String, projectName: String,
    contractName: Option[String] = None) {
  def abis(catalog: ContractCatalog): Seq[TransferAbi] =
    catalog.contractJsons
      .flatMap(ParseRunner.tasksForContract)
      .filter(t => t.contract.datasetName == projectName &&
        contractName.forall(_ == t.contract.contractName))
      .map(t => TransferAbi(chain, t.contract.datasetName,
        t.contract.contractName, t.elementName,
        if (t.isEvent) "event" else "function"))
}

final case class TransferClientSpec(
    company: String,
    raws: Seq[TransferRawTable] = Nil,
    abis: Seq[TransferAbi] = Nil,
    contracts: Seq[TransferContract] = Nil) {

  /** Contract-derived ABIs first; explicit entries only fill gaps —
    * first writer per key wins (`transfer_client.py:124-131`). */
  def allAbis(catalog: ContractCatalog): Seq[TransferAbi] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, TransferAbi]
    contracts.flatMap(_.abis(catalog)).foreach(a =>
      seen.getOrElseUpdate(a.key, a))
    abis.foreach(a => seen.getOrElseUpdate(a.key, a))
    seen.values.toSeq
  }
}

/** Runs a client's transfer set through a [[TransferSink]] — the
  * engine-side equivalent of the per-table SparkSubmit jobs
  * (`transfer.py:57-66,119-128`). One task per table; each carries its
  * submit-time [[SparkResource]] so a cluster runner can size it. */
object Transfer {

  /** (logical table name, sizing) in reference order: raws then
    * deduped ABIs. */
  def tasks(spec: TransferClientSpec,
      catalog: ContractCatalog): Seq[(String, SparkResource)] =
    spec.raws.map(r => r.table -> r.resource) ++
      spec.allAbis(catalog).map(a => a.upstreamTaskId -> a.resource)

  /** Tables shipped at once by [[run]] — the same bound as
    * [[ParseRunner.run]]'s default parallelism. */
  private val Width = 4

  /** Ship every task's table. JDBC identifiers can't hold dots, so
    * `dataset.table` lands as `dataset_table`. Every `resolve` runs on
    * the calling thread, in task order; the sink writes then run side
    * by side, [[Width]] at a time, like the reference's per-table
    * SparkSubmits. Returns shipped names in task order. */
  def run(spec: TransferClientSpec, catalog: ContractCatalog,
      sink: TransferSink, resolve: String => DataFrame): Seq[String] = {
    val frames = tasks(spec, catalog).map { case (name, _) =>
      name -> resolve(name) }
    Fanout.map(Width, frames) { case (name, df) =>
      sink.write(df, name.replace('.', '_'))
      name
    }
  }
}

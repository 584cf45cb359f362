package graft.core

/** Per-task Spark resource profile — the engine-side equivalent of the
  * reference's `SparkResource` dataclass
  * (`/root/reference/dags/chains/resource_apply.py:17-31`): five knobs
  * rendered to the standard `spark.{executor,driver}.*` confs. On a
  * cluster these size each submitted job; in local mode they are
  * recorded but executor counts have no effect — which is exactly the
  * reference's split too (Airflow passes them to spark-submit).
  */
final case class SparkResource(
    executorCores: Int = 1,
    executorMemoryGb: Int = 1,
    executorInstances: Int = 1,
    driverCores: Int = 1,
    driverMemoryGb: Int = 1) {

  /** `resource_apply.py:24-31` rendering, key for key. */
  def conf: Map[String, String] = Map(
    "spark.executor.cores" -> executorCores.toString,
    "spark.executor.memory" -> s"${executorMemoryGb}g",
    "spark.executor.instances" -> executorInstances.toString,
    "spark.driver.cores" -> driverCores.toString,
    "spark.driver.memory" -> s"${driverMemoryGb}g")
}

/** The reference's two non-default profiles and their task-matching
  * rules. */
object EngineConf {

  val Default: SparkResource = SparkResource()

  /** geth-trace 3-way enrich (`evm_chain.py:203-209`): the one loader
    * with a custom enrich resource. */
  val HeavyEnrich: SparkResource =
    SparkResource(executorCores = 4, executorMemoryGb = 10,
      executorInstances = 3, driverCores = 1, driverMemoryGb = 2)

  /** big cross-warehouse transfers (`resource_apply.py:40-57`):
    * ethereum traces/logs/transactions raw tables and the
    * common.erc20 Transfer decoded table. */
  val HeavyTransfer: SparkResource =
    SparkResource(executorCores = 3, executorMemoryGb = 16,
      executorInstances = 4, driverCores = 2, driverMemoryGb = 4)

  private val heavyTransferRawTables = Set("traces", "logs", "transactions")

  /** `resource_apply.py:60-65` — raw-table transfer sizing. */
  def forTransferTable(chain: String, table: String): SparkResource =
    if (chain == "ethereum" && heavyTransferRawTables(table)) HeavyTransfer
    else Default

  /** `resource_apply.py:68-77` — decoded-table transfer sizing.
    *
    * Deliberate deviation: the reference ALSO compares abi_type, but its
    * config entry carries abi_type=None, so its erc20 Transfer heavy
    * profile can never actually fire — we match the evident intent
    * (heavy profile for the erc20 Transfer table), not the reference's
    * literal dead-branch semantics. */
  def forTransferAbi(chain: String, dataset: String, contract: String,
      abiName: String): SparkResource =
    if (chain == "ethereum" && dataset == "common" &&
      contract == "erc20" && abiName == "Transfer") HeavyTransfer
    else Default
}

package graft.enrich

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._

/** The nine enrich transforms — pure `DataFrame → DataFrame` re-expressions
  * of the reference's INSERT OVERWRITE SELECTs
  * (`/root/reference/dags/templates/evm_load_template.py:152-415`).
  *
  * Scale notes (100 TB design):
  *  - every blocks-side join broadcasts the per-day blocks table (a day of
  *    blocks is ~7k rows / a few MB — always broadcast-eligible);
  *  - transactions ⋈ receipts and geth_traces ⋈ transactions are the
  *    large-large pairs → left to Catalyst/AQE (sort-merge with runtime
  *    skew handling), shuffling once on the join key;
  *  - writing is handled by [[graft.write.PartitionedWriter]] — the
  *    REPARTITION(1) in the reference becomes a `numOutputFiles` knob.
  */
object Enrich {

  /** evm_load_template.py:152-177 — projection + TIMESTAMP_SECONDS. */
  def blocks(raw: DataFrame): DataFrame =
    raw.select(
      timestamp_seconds(col("timestamp")).as("timestamp"),
      col("number"), col("hash"), col("parent_hash"), col("nonce"),
      col("sha3_uncles"), col("logs_bloom"), col("transactions_root"),
      col("state_root"), col("receipts_root"), col("miner"),
      col("difficulty"), col("total_difficulty"), col("size"),
      col("extra_data"), col("gas_limit"), col("gas_used"),
      col("transaction_count"), col("base_fee_per_gas"))

  /** evm_load_template.py:180-198 — J1 contracts ⋈ blocks. */
  def contracts(raw: DataFrame, blocks: DataFrame): DataFrame =
    raw.as("contracts")
      .join(broadcast(blocks.as("blocks")),
        raw("block_number") === blocks("number"), "inner")
      .select(
        col("contracts.address"), col("contracts.bytecode"),
        col("contracts.function_sighashes"), col("contracts.is_erc20"),
        col("contracts.is_erc721"),
        timestamp_seconds(col("blocks.timestamp")).as("block_timestamp"),
        col("blocks.number").as("block_number"),
        col("blocks.hash").as("block_hash"))

  /** evm_load_template.py:201-243 — J2 + topics normalizer (P7) +
    * unhex/data + hash-bucket partition columns.
    *
    * `blocks` is explicitly broadcast, like every blocks-side enrich
    * join here: the contract is ONE chain-day of blocks (~7k rows —
    * the reference's daily INSERT OVERWRITE unit). A multi-day backfill
    * must loop days (as the reference's DAG does), not pass a
    * months-wide blocks frame — an explicit hint bypasses the planner's
    * size check. */
  def logs(raw: DataFrame, blocks: DataFrame): DataFrame =
    broadcast(blocks.as("blocks"))
      .join(raw.as("logs"), blocks("number") === raw("block_number"), "inner")
      .select(
        col("logs.log_index"), col("logs.transaction_hash"),
        col("logs.transaction_index"), col("logs.address"),
        col("logs.data"), col("logs.topics"),
        timestamp_seconds(col("blocks.timestamp")).as("block_timestamp"),
        col("blocks.number").as("block_number"),
        col("blocks.hash").as("block_hash"),
        hashBucket(col("logs.address")).as("address_hash"),
        topicsArr(col("logs.topics")).as("topics_arr"),
        unhex0x(col("logs.data")).as("unhex_data"))
      .withColumn("selector", col("topics_arr").getItem(0))
      .withColumn("selector_hash", hashBucket(col("topics_arr").getItem(0)))

  /** evm_load_template.py:246-257 — drop the staged dt column, pass through. */
  def prices(raw: DataFrame): DataFrame =
    raw.select(col("minute"), col("price"), col("decimals"),
      col("contract_address"), col("symbol"))

  /** evm_load_template.py:260-279 — J3 token_transfers ⋈ blocks. */
  def tokenTransfers(raw: DataFrame, blocks: DataFrame): DataFrame =
    broadcast(blocks.as("blocks"))
      .join(raw.as("tt"), blocks("number") === raw("block_number"), "inner")
      .select(
        col("tt.token_address"), col("tt.from_address"), col("tt.to_address"),
        col("tt.value"), col("tt.transaction_hash"), col("tt.log_index"),
        timestamp_seconds(col("blocks.timestamp")).as("block_timestamp"),
        col("blocks.number").as("block_number"),
        col("blocks.hash").as("block_hash"))

  /** evm_load_template.py:281-297 — SO1/P5: incremental append of tokens
    * whose address is new (staged EXCEPT existing → left-semi). Catalyst
    * rewrites EXCEPT to aggregate+anti-join; the outer IN becomes a
    * left-semi join — no driver-side set materialization.
    */
  def tokensIncremental(staged: DataFrame, existing: DataFrame): DataFrame = {
    val newAddresses = staged.select("address")
      .except(existing.select("address"))
    staged.join(newAddresses, Seq("address"), "left_semi")
      .select(col("address"), col("symbol"), col("name"),
        col("decimals"), col("total_supply"))
  }

  private def traceEnrichedCols(txHash: Column): Seq[Column] = Seq(
    txHash.as("transaction_hash"),
    col("traces.transaction_index"), col("traces.from_address"),
    col("traces.to_address"), col("traces.value"), col("traces.input"),
    col("traces.output"), col("traces.trace_type"), col("traces.call_type"),
    col("traces.reward_type"), col("traces.gas"), col("traces.gas_used"),
    col("traces.subtraces"), col("traces.trace_address"), col("traces.error"),
    col("traces.status"), col("traces.trace_id"),
    timestamp_seconds(col("blocks.timestamp")).as("block_timestamp"),
    col("blocks.number").as("block_number"),
    col("blocks.hash").as("block_hash"),
    selector(col("traces.input")).as("selector"),
    unhex0x(col("traces.input")).as("unhex_input"),
    unhex0x(col("traces.output")).as("unhex_output"),
    hashBucket(col("traces.to_address")).as("address_hash"),
    hashBucket(selector(col("traces.input"))).as("selector_hash"))

  /** evm_load_template.py:299-336 — J4 + selector/unhex/bucket derivations. */
  def traces(raw: DataFrame, blocks: DataFrame): DataFrame =
    broadcast(blocks.as("blocks"))
      .join(raw.as("traces"), blocks("number") === raw("block_number"), "inner")
      .select(traceEnrichedCols(col("traces.transaction_hash")): _*)

  /** evm_load_template.py:338-379 — J5 3-way composite-key join: geth
    * traces carry no transaction_hash, so it is recovered from
    * transactions via (transaction_index, block_number). transactions is
    * the other large side → single shuffle on the composite key.
    */
  def gethTraces(raw: DataFrame, blocks: DataFrame,
                 transactions: DataFrame): DataFrame =
    broadcast(blocks.as("blocks"))
      .join(raw.as("traces"), blocks("number") === raw("block_number"), "inner")
      .join(transactions.as("transactions"),
        col("traces.transaction_index") === col("transactions.transaction_index") &&
          col("traces.block_number") === col("transactions.block_number"),
        "inner")
      .select(traceEnrichedCols(col("transactions.hash")): _*)

  /** evm_load_template.py:381-415 — J6 3-way: blocks ⋈ transactions ⋈
    * receipts; tx ⋈ receipts is the large-large pair (1:1 on tx hash). */
  def transactions(raw: DataFrame, blocks: DataFrame,
                   receipts: DataFrame): DataFrame =
    broadcast(blocks.as("blocks"))
      .join(raw.as("transactions"),
        blocks("number") === raw("block_number"), "inner")
      .join(receipts.as("receipts"),
        col("transactions.hash") === col("receipts.transaction_hash"), "inner")
      .select(
        col("transactions.hash"), col("transactions.nonce"),
        col("transactions.transaction_index"),
        col("transactions.from_address"), col("transactions.to_address"),
        col("transactions.value"), col("transactions.gas"),
        col("transactions.gas_price"), col("transactions.input"),
        col("receipts.cumulative_gas_used").as("receipt_cumulative_gas_used"),
        col("receipts.gas_used").as("receipt_gas_used"),
        col("receipts.contract_address").as("receipt_contract_address"),
        col("receipts.root").as("receipt_root"),
        col("receipts.status").as("receipt_status"),
        timestamp_seconds(col("blocks.timestamp")).as("block_timestamp"),
        col("blocks.number").as("block_number"),
        col("blocks.hash").as("block_hash"),
        col("transactions.max_fee_per_gas"),
        col("transactions.max_priority_fee_per_gas"),
        col("transactions.transaction_type"),
        col("receipts.effective_gas_price").as("receipt_effective_gas_price"))
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.schema.RawSchemas

/** S1/S2: schema-on-read scans over exported raw files, replacing the
  * reference's per-day `CREATE TABLE … USING json|csv OPTIONS (path …)`
  * temp external tables (`/root/reference/dags/templates/
  * evm_load_template.py:4-149`, `/root/reference/dags/chains/loader.py:
  * 161-177`). The explicit StructType keeps Spark from schema-inference
  * scans (2 passes over 100 TB otherwise) and pins types (DECIMAL(38,0)
  * money columns would otherwise infer as double).
  */
object RawTableReader {

  /** JSON-lines scan with the declared schema (all resources but prices). */
  def json(spark: SparkSession, resource: String, path: String): DataFrame =
    spark.read
      .schema(RawSchemas.byResource(resource))
      .option("mode", "PERMISSIVE")
      .json(path)

  /** Header CSV scan (prices only — evm_load_template.py:55-64). */
  def csv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(RawSchemas.prices)
      .option("header", "true")
      .csv(path)
}

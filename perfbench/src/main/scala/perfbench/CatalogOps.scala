package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** Catalog queries as benchmark operations: each op calls the query's
  * function through `SparkEntry.queries` (the façade the engine's own
  * harnesses use) and collects the result.
  *
  * Correctness, outside the timed window: the first execution of each
  * query in a run is written to `dumpDir/<query>` for the Python
  * DuckDB oracle compare in `oracle.py`, and every later execution's result
  * must hash equal to that first one.
  */
final class CatalogOps(spark: SparkSession, sf: String, dumpDir: String,
    tracer: Tracer) {

  private lazy val entries = graft.SparkEntry.queries
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  /** Run query `name` once; returns its rows and their schema. */
  def run(name: String): (Array[Row], org.apache.spark.sql.types.StructType) = {
    val fn = entries(name)
    CatalogOps.opSpan(name) match {
      case Some(span) => tracer.span(span) {
        val df = fn(spark, sf)
        (df.collect(), df.schema)
      }
      case None =>
        val df = tracer.span("queries.plan") {
          val d = fn(spark, sf); d.queryExecution.executedPlan; d
        }
        (tracer.span("queries.exec")(df.collect()), df.schema)
    }
  }

  /** None when the result is right so far, else what is wrong. */
  def check(name: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Option[String] = {
    val d = CatalogOps.digest(rows)
    firstDigest.get(name) match {
      case None =>
        firstDigest(name) = d
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$dumpDir/$name")
        None
      case Some(first) if first == d => None
      case Some(_) => Some(s"$name: result differs from its first execution")
    }
  }

  def oracles(names: Seq[String]): Map[String, String] =
    names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
}

object CatalogOps {
  /** Iterative-operator queries: most of their jobs run inside the query
    * function, so they get one span named after the query. */
  val Loops: Set[String] = Set("q_pagerank")

  /** The single span of a loop or stream query; other queries are split
    * into `queries.plan` and `queries.exec`. */
  def opSpan(query: String): Option[String] =
    if (query.startsWith("q_stream_")) Some(s"streaming.$query")
    else if (Loops(query)) Some(s"ops.$query")
    else None

  /** Order-insensitive hash of a result's rows. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update(0.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

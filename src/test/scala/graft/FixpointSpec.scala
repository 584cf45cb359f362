package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fixpoint
import graft.obs.Watch
import graft.queries.Catalog

/** The loop scope's planner settings: no runtime bloom filter in a
  * round plan. */
class FixpointSpec extends AnyFunSuite {
  import TestSession._

  private val bloom = "spark.sql.optimizer.runtime.bloomFilter.enabled"

  /** Every optimized plan of the actions `body` runs. */
  private def plansOf(body: => Any): Seq[String] =
    Watch(spark)(body)._2.actions.map(_.qe.optimizedPlan.toString)

  test("a join of a filtered checkpoint with a join-born checkpoint " +
      "gets a bloom filter outside the scope, none inside, and the " +
      "setting is restored") {
    def ids(n: Long, c: String) = spark.range(0, n).select(col("id").as(c))
    // a checkpoint carries its origin plan's size estimate: a join's is
    // the product of its sides, far over the application-side threshold
    val state = ids(1000, "node").join(ids(1000, "node"), "node")
      .join(ids(1000, "node"), "node")
      .select(col("node"), (col("node") * 3).as("rank")).localCheckpoint()
    val edges = spark.range(0, 3000)
      .select((col("id") % 1000).as("src"), (col("id") % 997).as("dst"))
      .localCheckpoint()
    def round: DataFrame = edges.filter(col("dst") =!= 5)
      .join(state, col("src") === col("node"))
    def bloomed = round.queryExecution.optimizedPlan.toString
      .contains("might_contain")
    val kb = "spark.sql.autoBroadcastJoinThreshold"
    val (prev, pb) = (spark.conf.get(bloom), spark.conf.get(kb))
    spark.conf.set(kb, "-1")
    try assert(bloomed, "control: no bloom filter outside the scope")
    finally spark.conf.set(kb, pb)
    Fixpoint.scope(spark, 1, allowBroadcast = false)(_ => assert(!bloomed))
    assert(spark.conf.get(bloom) == prev)
    graft.core.Checkpoints.release(state)
    graft.core.Checkpoints.release(edges)
  }

  test("q_pagerank's round plans carry no runtime bloom filter") {
    val plans = plansOf(Catalog.byName("q_pagerank").fn(spark, sf).collect())
    assert(plans.nonEmpty)
    assert(!plans.exists(_.contains("might_contain")))
  }
}

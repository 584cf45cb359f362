package graft.verify

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Fanout

/** The reference's verify DAG (SURVEY §2.4, §5): per-day SQL assertions
  * of the form `if(cond, 1, raise_error(msg))`
  * (`/root/reference/dags/resources/verify/` SQL files). Exposed both
  * ways:
  *  - [[runAll]] — typed `Either` results for orchestration;
  *  - [[raiseSql]] — `raise_error` parity (the query itself throws on a
  *    violated invariant, exactly like the reference's Spark SQL).
  */
object Verifier {

  final case class VerifyError(name: String, message: String)

  /** blocks/transactions/logs/traces `_have_latest.sql`: the day's
    * partition is non-empty. */
  private def haveLatest(name: String, n: Long): Either[VerifyError, Long] =
    if (n > 0) Right(n)
    else Left(VerifyError(name, s"$name partition is empty"))

  /** traces_null_address_equal_to_transaction_count.sql: #root traces
    * (trace_address = '[]') with non-null transaction_hash == #txs. */
  private def rootTraceCountMatches(rootTraces: Long, txs: Long)
      : Either[VerifyError, Long] =
    if (rootTraces == txs) Right(txs)
    else Left(VerifyError("traces_vs_transactions",
      s"root traces $rootTraces != transactions $txs"))

  /** `raise_error` parity: evaluates `if(cond, 1, raise_error(msg))`
    * over a 1-row aggregate, throwing inside the engine like the
    * reference verify SQL. Returns the probe DataFrame (collect to
    * trigger). */
  def raiseSql(spark: SparkSession, countDf: DataFrame,
      minRows: Long, msg: String): DataFrame = {
    countDf.agg(count(lit(1)).as("c"))
      .select(when(col("c") >= minRows, lit(1))
        .otherwise(raise_error(lit(msg))).as("ok"))
  }

  /** Run all five reference invariants over enriched frames, reading
    * each table once: the four table aggregates run side by side (the
    * reference's verify SQLs are independent Airflow tasks), the
    * transactions count serves both its own check and the root-trace
    * invariant, and one traces pass counts rows and root traces. */
  def runAll(blocks: DataFrame, transactions: DataFrame, logs: DataFrame,
      traces: DataFrame): Seq[Either[VerifyError, Long]] = {
    val rows = count(lit(1))
    val rootTraces = count_if(col("trace_address") === "[]" &&
      col("transaction_hash").isNotNull)
    val Seq(b, t, l, tr) = Fanout.map(4, Seq(blocks.agg(rows),
        transactions.agg(rows), logs.agg(rows),
        traces.agg(rows, rootTraces)))(_.head())
    val txs = t.getLong(0)
    Seq(
      haveLatest("blocks", b.getLong(0)),
      haveLatest("transactions", txs),
      haveLatest("logs", l.getLong(0)),
      haveLatest("traces", tr.getLong(0)),
      rootTraceCountMatches(tr.getLong(1), txs))
  }

  /** Declarative data-quality constraints (the Deequ shape —
    * Schelter et al. 2018, public AWS research — and the
    * generalization of the reference's verify SQL family): each
    * constraint reduces to a VIOLATION COUNT aggregate, ALL
    * constraints run in ONE pass over the table (a single
    * partial-agg'd aggregate row, exploded into the report), and a
    * constraint passes iff its violation count is 0. Nulls violate
    * NotNull but never InRange/OneOf/Unique — those judge only
    * present values (Unique counts duplicates among fully-non-null
    * keys), so the families compose instead of double-counting. */
  sealed trait Constraint { def name: String }
  final case class NotNull(c: String) extends Constraint {
    def name = s"not_null($c)"
  }
  final case class Unique(cols: Seq[String]) extends Constraint {
    def name = s"unique(${cols.mkString(",")})"
  }
  final case class InRange(c: String, lo: Double, hi: Double)
      extends Constraint {
    def name = s"in_range($c,$lo,$hi)"
  }
  final case class OneOf(c: String, vals: Seq[String])
      extends Constraint {
    def name = s"one_of($c)"
  }

  /** Referential integrity as a report row: child rows whose non-null
    * key finds no parent. Needs its own anti-join pass (two frames —
    * it cannot fold into [[constraintReport]]'s single aggregate);
    * union the result onto the report. The join side is the PARENT
    * key set — at warehouse scale usually the broadcastable dimension
    * side, and the child never shuffles twice. */
  def refIntegrityRow(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame = {
    val viols = child.filter(col(childCol).isNotNull)
      .join(parent.select(col(parentCol)).distinct(),
        col(childCol) === col(parentCol), "left_anti")
      .agg(count(lit(1)).as("violations"))
    viols.select(
      lit(s"ref_integrity($childCol->$parentCol)").as("constraint_name"),
      col("violations"),
      (col("violations") === 0L).as("passed"))
  }

  /** @return (constraint_name, violations, passed), one row per
    * constraint, from one aggregate pass. */
  def constraintReport(df: DataFrame,
      cs: Seq[Constraint]): DataFrame = {
    require(cs.nonEmpty, "constraints must be non-empty")
    val aggs = cs.zipWithIndex.map { case (c, i) =>
      val viol = c match {
        case NotNull(col0) =>
          sum(when(col(col0).isNull, 1L).otherwise(0L))
        case Unique(cols0) =>
          // count only rows with a fully non-null key: countDistinct
          // ignores any-NULL-key rows, so counting them on the left
          // would charge every NULL-keyed row as a uniqueness
          // violation even with no duplicate present. NULL keys are
          // NotNull's jurisdiction — the two constraints compose
          // without double-charging (the round-12 advisor's finding)
          sum(when(cols0.map(c => col(c).isNotNull).reduce(_ && _),
            1L).otherwise(0L)) -
            countDistinct(col(cols0.head), cols0.tail.map(col): _*)
        case InRange(col0, lo, hi) =>
          sum(when(col(col0).isNotNull &&
            (col(col0) < lo || col(col0) > hi), 1L).otherwise(0L))
        case OneOf(col0, vals) =>
          sum(when(col(col0).isNotNull &&
            !col(col0).isInCollection(vals), 1L).otherwise(0L))
      }
      coalesce(viol, lit(0L)).as(s"v$i")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cs.zipWithIndex.map { case (c, i) =>
        struct(lit(c.name).as("constraint_name"),
          col(s"v$i").as("violations"))
      }: _*)).as("r"))
      .select(col("r.constraint_name"), col("r.violations"),
        (col("r.violations") === 0L).as("passed"))
  }
}

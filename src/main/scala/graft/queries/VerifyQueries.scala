package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sources.EvmFixtures

/** SURVEY §2.4 verification aggregates (A1 scalar count, A2 null-skipping
  * count vs count(*), A3 scalar-subquery comparison) — the reference's
  * verify DAG invariants re-expressed over the testdata.
  */
object VerifyQueries extends QueryGroup {

  val queries: Seq[Q] = Seq(
    q("q_verify_counts", "verify",
      """SELECT (SELECT count(*) FROM lineitem) AS lineitem_cnt,
           (SELECT count(*) FROM orders) AS orders_cnt,
           (SELECT count(*) FROM events) AS events_cnt""") { (spark, dir) =>
      Tables.registerAll(spark, dir, Seq("lineitem", "orders", "events"))
      spark.sql(
        """SELECT (SELECT count(*) FROM lineitem) AS lineitem_cnt,
             (SELECT count(*) FROM orders) AS orders_cnt,
             (SELECT count(*) FROM events) AS events_cnt""")
    },

    // the reference's root-trace invariant (verify/traces_null_address_
    // equal_to_transaction_count.sql): count(transaction_hash) skips nulls
    q("q_verify_null_counts", "verify",
      """SELECT
           (SELECT count(CASE WHEN l_linenumber % 7 <> 0 THEN 1 END)
            FROM lineitem WHERE l_linenumber % 3 = 0) AS root_tx_cnt,
           (SELECT count(*) FROM lineitem WHERE l_linenumber % 3 = 0)
             AS root_cnt,
           (SELECT count(*) FROM
              (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem) t)
             AS tx_cnt""") { (spark, dir) =>
      val li = Tables.df(spark, dir, "lineitem")
      val roots = EvmFixtures.traces(li)
        .filter(col("trace_address") === "[]")
        .agg(count(col("transaction_hash")).as("root_tx_cnt"),
          count(lit(1)).as("root_cnt"))
      val txs = EvmFixtures.transactions(li).agg(count(lit(1)).as("tx_cnt"))
      roots.crossJoin(txs)
    },

    // Deequ-shaped declarative constraint suite: ONE aggregate pass,
    // one row per constraint. Mixed outcomes by design — uniqueness
    // and the full type set pass; the deliberately-narrowed OneOf and
    // the value range exercise the failing path
    q("q_constraint_report", "verify",
      """WITH a AS (
           SELECT
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v0,
             sum(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END)
               - count(DISTINCT event_id) AS v1,
             sum(CASE WHEN value IS NOT NULL
                       AND (value < 0 OR value > 50) THEN 1 ELSE 0 END)
               AS v2,
             sum(CASE WHEN event_type IS NOT NULL
                       AND event_type NOT IN ('click', 'view',
                         'purchase', 'signup') THEN 1 ELSE 0 END) AS v3
           FROM events)
         SELECT 'not_null(user_id)' AS constraint_name,
                CAST(v0 AS BIGINT) AS violations, v0 = 0 AS passed FROM a
         UNION ALL
         SELECT 'unique(event_id)', CAST(v1 AS BIGINT), v1 = 0 FROM a
         UNION ALL
         SELECT 'in_range(value,0.0,50.0)', CAST(v2 AS BIGINT), v2 = 0
         FROM a
         UNION ALL
         SELECT 'one_of(event_type)', CAST(v3 AS BIGINT), v3 = 0
         FROM a""") { (spark, dir) =>
      import graft.verify.Verifier._
      constraintReport(Tables.df(spark, dir, "events"), Seq(
        NotNull("user_id"),
        Unique(Seq("event_id")),
        InRange("value", 0.0, 50.0),
        OneOf("event_type",
          Seq("click", "view", "purchase", "signup"))))
    },

    // STREAMING constraint monitoring: the same one-pass report run as
    // a bounded stream — violation counts are algebraic, so per-batch
    // reports fold by addition (multi-batch folding spec'd in
    // StreamingSpec; the oracle is the batch report's SQL verbatim)
    q("q_stream_constraints", "verify",
      """WITH a AS (
           SELECT
             sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS v0,
             sum(CASE WHEN value IS NOT NULL
                       AND (value < 0 OR value > 50) THEN 1 ELSE 0 END)
               AS v1,
             sum(CASE WHEN event_type IS NOT NULL
                       AND event_type NOT IN ('click', 'view',
                         'purchase', 'signup') THEN 1 ELSE 0 END) AS v2
           FROM events)
         SELECT 'not_null(user_id)' AS constraint_name,
                CAST(v0 AS BIGINT) AS violations, v0 = 0 AS passed FROM a
         UNION ALL
         SELECT 'in_range(value,0.0,50.0)', CAST(v1 AS BIGINT), v1 = 0
         FROM a
         UNION ALL
         SELECT 'one_of(event_type)', CAST(v2 AS BIGINT), v2 = 0
         FROM a""") { (spark, dir) =>
      import graft.verify.Verifier._
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      val staged = java.nio.file.Files.createTempDirectory("graft_scons")
      java.nio.file.Files.copy(src, staged.resolve(src.getFileName))
      try graft.streaming.IngestStream.runConstraintsToBatch(spark,
        staged.toString,
        Seq(NotNull("user_id"), InRange("value", 0.0, 50.0),
          OneOf("event_type",
            Seq("click", "view", "purchase", "signup"))),
        graft.streaming.EventsStream.eventsFileSchema)
      finally graft.core.Fs.deleteRecursively(staged.toFile)
    },

    // referential integrity across frames: every order's customer must
    // exist (passes), and a deliberately-shrunk parent set exercises
    // the violating path — both as report rows unioned onto the
    // constraint shape
    q("q_ref_integrity", "verify",
      """WITH p AS (SELECT count(*) AS v FROM orders o
                    WHERE o.o_custkey IS NOT NULL
                      AND o.o_custkey NOT IN
                        (SELECT c_custkey FROM customer)),
          f AS (SELECT count(*) AS v FROM orders o
                WHERE o.o_custkey IS NOT NULL
                  AND o.o_custkey NOT IN
                    (SELECT c_custkey FROM customer
                     WHERE c_custkey % 2 = 0))
          SELECT 'ref_integrity(o_custkey->c_custkey)'
                   AS constraint_name,
                 CAST(p.v AS BIGINT) AS violations, p.v = 0 AS passed
          FROM p
          UNION ALL
          SELECT 'ref_integrity(o_custkey->even_custkey)',
                 CAST(f.v AS BIGINT), f.v = 0
          FROM f""") { (spark, dir) =>
      import graft.verify.Verifier
      val orders = Tables.df(spark, dir, "orders")
      val cust = Tables.df(spark, dir, "customer")
      Verifier.refIntegrityRow(orders, "o_custkey", cust, "c_custkey")
        .unionAll(
          Verifier.refIntegrityRow(orders, "o_custkey",
              cust.filter(col("c_custkey") % 2 === 0), "c_custkey")
            .select(
              lit("ref_integrity(o_custkey->even_custkey)")
                .as("constraint_name"),
              col("violations"), col("passed")))
    })
}

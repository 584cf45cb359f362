package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.ops.{Dedup, Events, Graph, Linkage, Quality, Scd, Sketch, Stats}

/** Warehouse/governance operators beyond the reference's template set:
  * entity linkage, SCD2 dimension history, k-anonymous release, robust
  * series QC, link-graph centrality, and the count-min sketch — each
  * with a full DuckDB oracle over the same parquet tables.
  */
object WarehouseQueries extends QueryGroup {

  /** The synopsis-warehouse query range: a 14-day middle slice of the
    * events table's 30-day span (2024-01) — wide enough that every SF
    * populates it, strictly interior so both boundary days exercise
    * the day-cell filter. One spelling for the three range queries'
    * Spark predicates and their oracles. */
  private val RangeLo = "2024-01-08"
  private val RangeHi = "2024-01-22"

  /** DuckDB face of the range predicate (naive CAST ≡ Spark's
    * `to_date` under the UTC session — the Tables.df contract). */
  private val rangeSqlPred: String =
    s"""ts IS NOT NULL AND CAST(ts AS DATE) >= DATE '$RangeLo'
        AND CAST(ts AS DATE) < DATE '$RangeHi'"""

  /** Spark face, over the derived `_day` column. */
  private def rangeDayPred =
    col("_day") >= lit(RangeLo).cast("date") &&
      col("_day") < lit(RangeHi).cast("date")

  /** The three range oracles, spelled ONCE each: the batch range
    * query and its streaming day-cell twin must share them VERBATIM —
    * the hash then pins stream-ingested ≡ batch-built ≡
    * monolithic-on-slice as one fact. */
  private val rankRangeOracle: String = RankSketchSql.oracleOver(
    s"SELECT epoch_us(ts) AS v FROM events WHERE $rangeSqlPred")

  /** The MAINTENANCE horizon: `vacuumDays(keep = 14)` on the events
    * table's 30-day span retains exactly 2024-01-17..30, and
    * q_warehouse_maintenance answers the monolithic walk over THAT
    * slice with no further filter — the retained window IS the
    * answerable window, so the vacuum's exact day selection (one day
    * over- or under-kept shifts every quantile target) and the
    * compaction's byte preservation both land in the one hash. */
  private val MaintLo = "2024-01-17"
  private val maintRangeOracle: String = RankSketchSql.oracleOver(
    s"""SELECT epoch_us(ts) AS v FROM events
        WHERE ts IS NOT NULL AND CAST(ts AS DATE) >= DATE '$MaintLo'""")

  private val cmsRangeOracle: String =
    s"""WITH ${CmsSql.gridCtesOver(
           s"SELECT props AS text FROM events WHERE $rangeSqlPred")},
       est AS (SELECT tb.s, MIN(cms.c) AS est
               FROM tb JOIN cms USING (r, bucket) GROUP BY 1)
       SELECT tf.s AS token, CAST(est.est AS BIGINT) AS est, tf.exact
       FROM tf JOIN est ON tf.s = est.s
       ORDER BY est DESC, token LIMIT 20"""

  /** q_heavy_hitters_by_source's oracle, shared VERBATIM with the
    * shuffled-face twin q_heavy_hitters_join. */
  private val hhBySourceOracle: String =
    s"""WITH ${CmsSql.gridCtesBy("source")},
       est AS (SELECT tf.g, tb.s, MIN(cms.c) AS est
               FROM tb JOIN tf ON tb.s = tf.s
               JOIN cms ON cms.g = tf.g AND cms.r = tb.r
                 AND cms.bucket = tb.bucket
               GROUP BY 1, 2),
       ranked AS (SELECT tf.g, tf.s, est.est, tf.exact,
                    row_number() OVER (PARTITION BY tf.g
                      ORDER BY est.est DESC, tf.s) AS rn
                  FROM tf JOIN est ON est.g = tf.g AND est.s = tf.s)
       SELECT g AS source, s AS token, CAST(est AS BIGINT) AS est,
              exact
       FROM ranked WHERE rn <= 10"""

  private val kmvRangeOracle: String =
    s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events
                     WHERE user_id IS NOT NULL AND $rangeSqlPred),
       ${MurmurSql.chainLong("id")},
       rk AS (SELECT u, row_number() OVER (ORDER BY u) AS r
              FROM (SELECT DISTINCT u FROM mm)),
       syn AS (SELECT count(*) AS nh,
                 max(CASE WHEN r = 64 THEN u END) AS uk FROM rk)
       SELECT
         CAST(CASE WHEN nh < 64 THEN nh
              ELSE 63 * 4294967296 // (uk + 1) END AS BIGINT)
           AS est_distinct,
         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events
          WHERE $rangeSqlPred) AS exact_distinct,
         (SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
          FROM events WHERE user_id IS NOT NULL AND $rangeSqlPred)
           AS days_merged
       FROM syn"""

  /** The v10 dashboard oracle — composes the three verified range
    * oracles as parenthesized subqueries. Shared VERBATIM by the
    * in-query-cells face (`q_range_dashboard`) and the PERSISTED-cells
    * face (`q_range_dashboard_persisted`): one hash pins in-memory ≡
    * through-the-sink ≡ monolithic-on-slice. */
  private val rangeDashboardOracle: String =
    s"""SELECT k.est_distinct AS est_distinct_users,
           c.token AS top_token, c.est AS top_token_est,
           r.q_est AS p500_ts_us
         FROM (SELECT est_distinct FROM ($kmvRangeOracle)) k,
              (SELECT token, est FROM ($cmsRangeOracle)
               ORDER BY est DESC, token LIMIT 1) c,
              (SELECT q_est FROM ($rankRangeOracle)
               WHERE permille = 500) r"""

  /** Composition v11's per-user faces — the UNBOUNDED-group-domain
    * spellings: [[hhBySourceOracle]]'s CTE skeleton over
    * (user_id, props) and the grouped recursive walk over
    * (user_id, epoch micros). Group domain = every user — the domain
    * class the collected walks' maxGroups guards exist to reject. */
  private val hhByUserOracle: String =
    s"""WITH ${CmsSql.gridCtesByOver(
           "SELECT user_id AS g, props AS text FROM events")},
       est AS (SELECT tf.g, tb.s, MIN(cms.c) AS est
               FROM tb JOIN tf ON tb.s = tf.s
               JOIN cms ON cms.g = tf.g AND cms.r = tb.r
                 AND cms.bucket = tb.bucket
               GROUP BY 1, 2),
       ranked AS (SELECT tf.g, tf.s, est.est, tf.exact,
                    row_number() OVER (PARTITION BY tf.g
                      ORDER BY est.est DESC, tf.s) AS rn
                  FROM tf JOIN est ON est.g = tf.g AND est.s = tf.s)
       SELECT g AS user_id, s AS token, CAST(est AS BIGINT) AS est,
              exact
       FROM ranked WHERE rn <= 1"""

  private val rankByUserOracle: String =
    s"""WITH RECURSIVE
       ${RankSketchSql.groupedWalkCtes(
         "SELECT user_id AS g, epoch_us(ts) AS v FROM events " +
           "WHERE ts IS NOT NULL AND user_id IS NOT NULL")}
       SELECT g AS user_id, CAST(p AS BIGINT) AS permille,
              pfx AS q_est
       FROM walk WHERE level = -1"""

  private val userDashboardOracle: String =
    s"""SELECT e.user_id, e.n_events, h.token AS top_token,
           h.est AS top_token_est, r.q_est AS p500_ts_us
       FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
             FROM events GROUP BY 1) e
       JOIN (SELECT user_id, token, est FROM ($hhByUserOracle)) h
         ON h.user_id = e.user_id
       JOIN (SELECT user_id, q_est FROM ($rankByUserOracle)
             WHERE permille = 500) r
         ON r.user_id = e.user_id"""

  /** Deterministic "dirty" entity side for the linkage queries: one
    * digit substituted (custkey%3==0), one digit deleted (%3==1), or
    * untouched (%3==2), at digit position 10 + custkey%8 — the same
    * formula the oracle spells in SQL. */
  private val dirtyNameExpr: String =
    """CASE CAST(c_custkey % 3 AS INT)
         WHEN 0 THEN concat(
           substring(c_name, 1, CAST(9 + c_custkey % 8 AS INT)),
           char((ascii(substring(c_name,
             CAST(10 + c_custkey % 8 AS INT), 1)) - 48 + 1) % 10 + 48),
           substring(c_name, CAST(11 + c_custkey % 8 AS INT), 100))
         WHEN 1 THEN concat(
           substring(c_name, 1, CAST(9 + c_custkey % 8 AS INT)),
           substring(c_name, CAST(11 + c_custkey % 8 AS INT), 100))
         ELSE c_name END"""

  /** Shared SCD2 fixture (q_scd2_merge + q_scd2_pit, one spelling so
    * the two cannot drift): the customer dim as current versions, a
    * closed history slice for custkey%13==0, and a day's update batch
    * (%5 balance bump, %7 segment remap, %11 no-op, 50 new keys).
    * Ends in CTE `merged` — the post-merge SCD2 table with all four
    * branch legs. */
  private val scd2MergedCtes: String =
    """cur AS (
         SELECT c_custkey, c_mktsegment, c_acctbal,
                '2024-01-01' AS valid_from,
                CAST(NULL AS VARCHAR) AS valid_to, true AS is_current
         FROM customer),
       hist AS (
         SELECT c_custkey, 'OLDSEG' AS c_mktsegment,
                c_acctbal - 50.0 AS c_acctbal,
                '2023-01-01' AS valid_from, '2024-01-01' AS valid_to,
                false AS is_current
         FROM customer WHERE c_custkey % 13 = 0),
       upd AS (
         SELECT c_custkey AS uk,
                CASE WHEN c_custkey % 7 = 0 THEN 'REMAPPED'
                     ELSE c_mktsegment END AS u_seg,
                c_acctbal + CASE WHEN c_custkey % 5 = 0 THEN 100.0
                                 ELSE 0.0 END AS u_bal
         FROM customer
         WHERE c_custkey % 5 = 0 OR c_custkey % 7 = 0
            OR c_custkey % 11 = 0
         UNION ALL
         SELECT c_custkey + 100000, 'NEWKEY', c_custkey * 1.5
         FROM customer WHERE c_custkey < 50),
       chg AS (
         SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
           c.valid_from, c.valid_to, c.is_current,
           u.uk, u.u_seg, u.u_bal,
           (c.c_mktsegment IS DISTINCT FROM u.u_seg
            OR c.c_acctbal IS DISTINCT FROM u.u_bal) AS changed
         FROM cur c FULL OUTER JOIN upd u ON c.c_custkey = u.uk),
       merged AS (
         SELECT * FROM hist
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
                valid_to, is_current
         FROM chg WHERE uk IS NULL
                     OR (c_custkey IS NOT NULL AND NOT changed)
         UNION ALL
         SELECT c_custkey, c_mktsegment, c_acctbal, valid_from,
                '2024-02-01', false
         FROM chg WHERE c_custkey IS NOT NULL AND uk IS NOT NULL
                    AND changed
         UNION ALL
         SELECT uk, u_seg, u_bal, '2024-02-01',
                CAST(NULL AS VARCHAR), true
         FROM chg WHERE uk IS NOT NULL
                    AND (c_custkey IS NULL OR changed))"""

  /** Spark twins of [[scd2MergedCtes]]'s legs: the pre-merge SCD2
    * table (current versions + closed history) and the day's update
    * batch — shared by the batch merge, the PIT join fixture, and the
    * streaming fold. */
  private def scd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.df(spark, dir, "customer")
    val cur = cust.select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal"), lit("2024-01-01").as("valid_from"),
      lit(null.asInstanceOf[String]).as("valid_to"),
      lit(true).as("is_current"))
    val hist = cust.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey"), lit("OLDSEG").as("c_mktsegment"),
        (col("c_acctbal") - 50.0).as("c_acctbal"),
        lit("2023-01-01").as("valid_from"),
        lit("2024-01-01").as("valid_to"), lit(false).as("is_current"))
    cur.unionByName(hist)
  }

  private def scd2Updates(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.df(spark, dir, "customer")
    cust
      .filter(col("c_custkey") % 5 === 0 || col("c_custkey") % 7 === 0 ||
        col("c_custkey") % 11 === 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit("REMAPPED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        (col("c_acctbal") + when(col("c_custkey") % 5 === 0, lit(100.0))
          .otherwise(lit(0.0))).as("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") < 50)
        .select((col("c_custkey") + 100000L).as("c_custkey"),
          lit("NEWKEY").as("c_mktsegment"),
          (col("c_custkey") * 1.5).as("c_acctbal")))
  }

  /** The same fixture through the real [[Scd.scd2Merge]] operator. */
  private def scd2MergedDim(spark: SparkSession, dir: String): DataFrame =
    Scd.scd2Merge(scd2Dim(spark, dir), scd2Updates(spark, dir),
      "c_custkey", Seq("c_mktsegment", "c_acctbal"), "2024-02-01")

  /** Shared deterministic doc link graph (q_pagerank + q_trustrank +
    * q_hits + q_triangles + q_curate_corpus_v7, one spelling): 3
    * Lehmer-derived out-edges per doc, self-loops dropped. Ends in
    * CTEs `docs`, `nn`, `edges`, `deg`. */
  private val linkGraphCtes: String =
    """docs AS (SELECT doc_id FROM documents),
       nn AS (SELECT count(*) AS n FROM docs),
       e1 AS (SELECT doc_id AS src,
                ((doc_id % 2147483646) + 1) * 48271 % 2147483647 AS u1
              FROM docs),
       e3 AS (SELECT src, u1, u1 * 48271 % 2147483647 AS u2,
                u1 * 48271 % 2147483647 * 48271 % 2147483647 AS u3
              FROM e1),
       edges AS (SELECT DISTINCT src, dst FROM (
           SELECT src, u1 % (SELECT n FROM nn) AS dst FROM e3
           UNION ALL
           SELECT src, u2 % (SELECT n FROM nn) FROM e3
           UNION ALL
           SELECT src, u3 % (SELECT n FROM nn) FROM e3)
         WHERE src != dst),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"""

  /** Spark twin of [[linkGraphCtes]]: (docs, n, edges). */
  private def linkGraph(spark: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame) = {
    val docs = Tables.df(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val e1 = docs.select(col("doc_id").as("src"),
      (((col("doc_id") % 2147483646L) + 1) * 48271L % 2147483647L)
        .as("u1"))
    val e3 = e1.select(col("src"), col("u1"),
      (col("u1") * 48271L % 2147483647L).as("u2"),
      (col("u1") * 48271L % 2147483647L * 48271L % 2147483647L)
        .as("u3"))
    val edges = e3.select(col("src"), (col("u1") % n).as("dst"))
      .unionByName(e3.select(col("src"), (col("u2") % n).as("dst")))
      .unionByName(e3.select(col("src"), (col("u3") % n).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    (docs, n, edges)
  }

  /** CORE-PERIPHERY variant of [[linkGraphCtes]] (q_kcore +
    * q_curate_corpus_v8, ONE spelling — a divergence in a shared
    * constant here would silently fork the two queries' fixtures):
    * out-edges 2 and 3 aim at the first n/10 and n/20 ids, so a dense
    * hub core survives a long peel of the sparse periphery. Ends in
    * `docs`, `nn`, `edges`, `deg`. */
  private val corePeriphGraphCtes: String =
    """docs AS (SELECT doc_id FROM documents),
       nn AS (SELECT count(*) AS n FROM docs),
       e1 AS (SELECT doc_id AS src,
                ((doc_id % 2147483646) + 1) * 48271 % 2147483647 AS u1
              FROM docs),
       e3 AS (SELECT src, u1, u1 * 48271 % 2147483647 AS u2,
                u1 * 48271 % 2147483647 * 48271 % 2147483647 AS u3
              FROM e1),
       edges AS (SELECT DISTINCT src, dst FROM (
           SELECT src, u1 % (SELECT n FROM nn) AS dst FROM e3
           UNION ALL
           SELECT src, u2 % ((SELECT n FROM nn) // 10) FROM e3
           UNION ALL
           SELECT src, u3 % ((SELECT n FROM nn) // 20) FROM e3)
         WHERE src != dst),
       deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1)"""

  /** Spark twin of [[corePeriphGraphCtes]]: (docs, n, edges). */
  private def corePeriphGraph(spark: SparkSession, dir: String)
      : (DataFrame, Long, DataFrame) = {
    val docs = Tables.df(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val e1 = docs.select(col("doc_id").as("src"),
      (((col("doc_id") % 2147483646L) + 1) * 48271L % 2147483647L)
        .as("u1"))
    val e3 = e1.select(col("src"), col("u1"),
      (col("u1") * 48271L % 2147483647L).as("u2"),
      (col("u1") * 48271L % 2147483647L * 48271L % 2147483647L)
        .as("u3"))
    val edges = e3.select(col("src"), (col("u1") % n).as("dst"))
      .unionByName(e3.select(col("src"),
        (col("u2") % (n / 10)).as("dst")))
      .unionByName(e3.select(col("src"),
        (col("u3") % (n / 20)).as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    (docs, n, edges)
  }

  /** The strictly-shrinking k=4 peel over `edges` — shared verbatim
    * by q_kcore and v8's spam gate. The recursive CTE emits a round
    * only while the alive set strictly shrinks (the EXISTS guard) and
    * re-derives each survivor's within-round degree through the
    * bidirectional edge CTE (equi-joins only — the a-or-b OR form
    * defeats decorrelation, measured 28x slower). Ends in `peel` and
    * `core(node, d)` = the final-round survivors with core degrees. */
  private val kCorePeelCtes: String =
    """und AS (SELECT DISTINCT least(src, dst) AS a,
                 greatest(src, dst) AS b
               FROM edges),
       bi AS (SELECT a AS x, b AS y FROM und
              UNION ALL SELECT b AS x, a AS y FROM und),
       du AS (SELECT x AS node, count(*) AS d FROM bi GROUP BY 1),
       peel(t, node, d) AS (
         SELECT 0, node, d FROM du
         UNION ALL
         SELECT p.t + 1, p.node,
           (SELECT count(*) FROM bi
            JOIN peel w ON w.t = p.t AND w.d >= 4
             AND w.node = bi.y
            WHERE bi.x = p.node)
         FROM peel p
         WHERE p.d >= 4
           AND EXISTS (SELECT 1 FROM peel q
                       WHERE q.t = p.t AND q.d < 4)),
       core AS (SELECT node, d FROM peel
                WHERE t = (SELECT max(t) FROM peel) AND d >= 4)"""

  /** The 8-round %17-seeded TrustRank teleport over `docs`/`edges`/
    * `deg` — shared verbatim by q_trustrank, v7 and v8. Ends in
    * `trust(node, r)`. */
  private val trustTeleportCtes: String =
    """ns AS (SELECT count(*) AS n FROM docs WHERE doc_id % 17 = 0),
       pr(t, node, r) AS (
         SELECT 0, doc_id,
           CASE WHEN doc_id % 17 = 0
                THEN (SELECT 1000000 // n FROM ns) ELSE 0 END
         FROM docs
         UNION ALL
         SELECT p.t + 1, p.node,
           (CASE WHEN p.node % 17 = 0
                 THEN (SELECT 15 * (1000000 // n) // 100 FROM ns)
                 ELSE 0 END)
           + 85 * COALESCE((
               SELECT SUM(p2.r // d.deg) FROM pr p2
               JOIN edges e ON e.src = p2.node
               JOIN deg d ON d.src = p2.node
               WHERE e.dst = p.node AND p2.t = p.t), 0) // 100
         FROM pr p WHERE p.t < 8),
       trust AS (SELECT node, r FROM pr WHERE t = 8)"""

  /** The 12k-token budget tail over a `(node, r)`-shaped CTE — shared
    * by v7 (kept = trust) and v8 (kept = the gated survivors): join
    * doc token counts, spend highest-trust-first through the
    * inclusive prefix-sum window. Renders the final SELECT. */
  private def trustBudgetTailSql(keptCte: String): String =
    s"""f AS (SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tokens,
           CAST(k.r AS DOUBLE) AS trust_mass
         FROM documents d JOIN $keptCte k ON k.node = d.doc_id),
       c AS (SELECT doc_id, tokens, trust_mass,
               CAST(SUM(tokens) OVER (
                 ORDER BY trust_mass DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens
             FROM f)
       SELECT doc_id, tokens, trust_mass, cum_tokens FROM c
       WHERE cum_tokens <= 12000"""

  val queries: Seq[Q] = Seq(

    // Record linkage: clean customer names vs a deterministically
    // dirtied copy (digit substituted / deleted / untouched), matched
    // at edit distance <= 1. Production is the PassJoin segment
    // blocking (recall 1 by pigeonhole, then exact levenshtein
    // verify); the oracle is the labeled ALL-PAIRS twin — both must
    // emit the identical 22k-pair set, so a blocking recall hole or a
    // verify drift cannot hash-match. Both engines' levenshtein is
    // the classic DP edit distance.
    q("q_linkage_fuzzy", "warehouse",
      """WITH clean AS (SELECT c_custkey AS clean_id, c_name AS name
                        FROM customer),
         dirty0 AS (SELECT c_custkey, c_name, 10 + c_custkey % 8 AS p
                    FROM customer),
         dirty AS (SELECT c_custkey + 1000000 AS dirty_id,
             CASE c_custkey % 3
               WHEN 0 THEN substr(c_name, 1, p - 1)
                 || chr((ord(substr(c_name, p, 1)) - 48 + 1) % 10 + 48)
                 || substr(c_name, p + 1)
               WHEN 1 THEN substr(c_name, 1, p - 1) || substr(c_name, p + 1)
               ELSE c_name END AS dname
           FROM dirty0)
         SELECT clean_id, dirty_id,
                CAST(levenshtein(name, dname) AS BIGINT) AS dist
         FROM clean, dirty
         WHERE abs(length(name) - length(dname)) <= 1
           AND levenshtein(name, dname) <= 1""") { (spark, dir) =>
      val cust = Tables.df(spark, dir, "customer")
      val clean = cust.select(col("c_custkey").as("clean_id"),
        col("c_name").as("name"))
      val dirty = cust.select(
        (col("c_custkey") + 1000000L).as("dirty_id"),
        expr(dirtyNameExpr).as("dname"))
      Linkage.fuzzyJoin(clean, dirty, "clean_id", "name",
        "dirty_id", "dname", maxEdit = 1)
    },

    // SCD2 dimension merge: the customer dim (plus a closed history
    // version for custkey%13==0) merged with a day's update batch —
    // %5 bumps the balance, %7 remaps the segment, %11 arrives as a
    // no-op row, and 50 brand-new keys insert. All four merge branches
    // (close, re-open, insert, pass-through) land in the output and
    // the oracle replays each as its own CTE leg.
    q("q_scd2_merge", "warehouse",
      s"""WITH $scd2MergedCtes
         SELECT * FROM merged""") { (spark, dir) =>
      scd2MergedDim(spark, dir)
    },

    // Point-in-time (as-of) join over the SCD2 output: each order
    // fact picks the dimension version valid at its synthetic event
    // date — '2023-06-01' hits only the %13 history slice (everyone
    // else NULLs: the dim didn't exist yet), '2024-01-15' the January
    // versions, '2024-03-01' the post-merge current rows. One row per
    // fact (SCD2 intervals are disjoint per key), LEFT-join NULLs
    // load-bearing in the hash.
    q("q_scd2_pit", "warehouse",
      s"""WITH $scd2MergedCtes,
         facts AS (
           SELECT o_orderkey, o_custkey,
                  CASE CAST(o_orderkey % 3 AS INT)
                    WHEN 0 THEN '2023-06-01'
                    WHEN 1 THEN '2024-01-15'
                    ELSE '2024-03-01' END AS event_date
           FROM orders)
         SELECT f.o_orderkey, f.o_custkey, f.event_date,
                m.c_mktsegment, m.c_acctbal, m.valid_from
         FROM facts f LEFT JOIN merged m
           ON m.c_custkey = f.o_custkey
          AND f.event_date >= m.valid_from
          AND (m.valid_to IS NULL OR f.event_date < m.valid_to)""") {
      (spark, dir) =>
      val facts = Tables.df(spark, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 3 === 0, lit("2023-06-01"))
          .when(col("o_orderkey") % 3 === 1, lit("2024-01-15"))
          .otherwise(lit("2024-03-01")).as("event_date"))
      Scd.pointInTime(facts, scd2MergedDim(spark, dir),
        "o_custkey", "event_date", "c_custkey",
        Seq("c_mktsegment", "c_acctbal"))
    },

    // k-anonymous release of (event_type, user cohort) counts at
    // k=10: 106 of the ~700 combinations fall below the threshold on
    // this corpus and collapse into the '*' residual — both the
    // publish and the suppress branch are load-bearing in the hash.
    q("q_kanon_release", "warehouse",
      """WITH g AS (
           SELECT COALESCE(event_type, '*') AS event_type,
                  COALESCE(CAST(user_id % 149 AS VARCHAR), '*') AS cohort,
                  count(*) AS n_rows
           FROM events GROUP BY 1, 2),
         m AS (
           SELECT CASE WHEN n_rows >= 10 THEN event_type ELSE '*' END
                    AS event_type,
                  CASE WHEN n_rows >= 10 THEN cohort ELSE '*' END
                    AS cohort,
                  n_rows
           FROM g)
         SELECT event_type, cohort, CAST(sum(n_rows) AS BIGINT) AS n_rows
         FROM m GROUP BY 1, 2""") { (spark, dir) =>
      Quality.kAnonymousRelease(
        Tables.df(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 149).as("cohort")),
        Seq("event_type", "cohort"), k = 10)
    },

    // Robust daily-volume QC: the 30-day event count series plus one
    // injected bad-ingest day (3x the max) flagged by the Hampel
    // identifier — median/MAD from the integer type-1 permille-500
    // rank, flag at |x - med| > 3*MAD. Only the injected day trips it;
    // the real series' spread stays inside three MADs.
    q("q_mad_outlier_days", "warehouse",
      """WITH daily AS (
           SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                  CAST(count(*) AS BIGINT) AS x
           FROM events GROUP BY 1
           UNION ALL
           SELECT '2024-02-05', 3 * (SELECT max(n) FROM (
             SELECT count(*) AS n FROM events
             GROUP BY CAST(ts AS DATE)))),
         med AS (SELECT v FROM (
           SELECT x AS v, sum(1) OVER (ORDER BY x) AS cum,
                  count(*) OVER () AS n
           FROM daily) WHERE cum >= (500 * n + 999) // 1000
           ORDER BY v LIMIT 1),
         dev AS (SELECT day, x, (SELECT v FROM med) AS med,
                        abs(x - (SELECT v FROM med)) AS adev
                 FROM daily),
         mad AS (SELECT v FROM (
           SELECT adev AS v, sum(1) OVER (ORDER BY adev) AS cum,
                  count(*) OVER () AS n
           FROM dev) WHERE cum >= (500 * n + 999) // 1000
           ORDER BY v LIMIT 1)
         SELECT day, x, med, (SELECT v FROM mad) AS mad,
                adev > 3 * (SELECT v FROM mad) AS is_outlier
         FROM dev""") { (spark, dir) =>
      val daily = Tables.df(spark, dir, "events")
        .groupBy(col("ts").cast("date").cast("string").as("day"))
        .agg(count(lit(1)).as("x"))
        .localCheckpoint() // consumed twice (spike max + series): one scan
      val spike = daily.agg(max(col("x")).as("mx"))
        .select(lit("2024-02-05").as("day"), (col("mx") * 3).as("x"))
      Stats.madOutliers(daily.unionByName(spike), "day", col("x"),
        nMads = 3)
    },

    // Fixed-point PageRank over a deterministic Lehmer-derived doc
    // link graph (3 out-edges per doc, self-loops dropped): 8 power
    // iterations in scaled-long arithmetic, the oracle unrolling them
    // as a recursive CTE — a libm-double PageRank could never
    // hash-match across engines; this one must.
    q("q_pagerank", "warehouse",
      s"""WITH RECURSIVE $linkGraphCtes,
         pr(t, node, r) AS (
           SELECT 0, doc_id, (SELECT 1000000 // n FROM nn) FROM docs
           UNION ALL
           SELECT p.t + 1, p.node,
             (SELECT 15 * (1000000 // n) // 100 FROM nn)
             + 85 * COALESCE((
                 SELECT SUM(p2.r // d.deg) FROM pr p2
                 JOIN edges e ON e.src = p2.node
                 JOIN deg d ON d.src = p2.node
                 WHERE e.dst = p.node AND p2.t = p.t), 0) // 100
           FROM pr p WHERE p.t < 8)
         SELECT node, r AS pr_mass FROM pr WHERE t = 8""") { (spark, dir) =>
      val (docs, n, edges) = linkGraph(spark, dir)
      // isolated docs still earn teleport mass; the count above is
      // passed through so the seed split doesn't re-count the corpus
      Graph.pageRank(edges, "src", "dst", iterations = 8,
          nodesOpt = Some(docs), nNodesOpt = Some(n))
        .select(col("node"), col("rank").as("pr_mass"))
    },

    // TrustRank over the same link graph: teleport mass lands only on
    // the %17==0 trusted slice, so rank measures proximity-to-trust —
    // docs unreachable from every seed hold exactly ZERO mass
    // (integer arithmetic, nothing to round), load-bearing in the
    // hash alongside the seeds' inflated base. Same fixed-point
    // contract as q_pagerank; the oracle unrolls the seeded teleport
    // through the identical recursive CTE.
    q("q_trustrank", "warehouse",
      s"""WITH RECURSIVE $linkGraphCtes,
         $trustTeleportCtes
         SELECT node, r AS trust_mass FROM trust""") {
      (spark, dir) =>
      val (docs, _, edges) = linkGraph(spark, dir)
      Graph.trustRank(edges, "src", "dst",
          docs.filter(col("doc_id") % 17 === 0), iterations = 8,
          nodesOpt = Some(docs))
        .select(col("node"), col("rank").as("trust_mass"))
    },

    // HITS hubs-and-authorities over the same link graph: the two
    // scores PageRank conflates, under the fixed-point integer
    // contract (Jacobi simultaneous update, floor-normalized to 1e6
    // mass per vector per round) so the oracle unrolls all 8 rounds
    // in a recursive CTE. The authority normalizer is the previous
    // round's hub mass weighted by OUT-degree, the hub normalizer
    // the previous authority mass weighted by IN-degree — the two
    // totals the engine computes by re-summing its raw frames.
    q("q_hits", "warehouse",
      s"""WITH RECURSIVE $linkGraphCtes,
         indeg AS (SELECT dst, count(*) AS ind FROM edges GROUP BY 1),
         hh(t, node, h, a) AS (
           SELECT 0, doc_id, (SELECT 1000000 // n FROM nn),
                  (SELECT 1000000 // n FROM nn)
           FROM docs
           UNION ALL
           SELECT p.t + 1, p.node,
             COALESCE((SELECT SUM(p2.a) FROM hh p2
                       JOIN edges e ON e.dst = p2.node
                       WHERE e.src = p.node AND p2.t = p.t), 0)
               * 1000000
               // (SELECT SUM(p3.a * i.ind) FROM hh p3
                   JOIN indeg i ON i.dst = p3.node WHERE p3.t = p.t),
             COALESCE((SELECT SUM(p2.h) FROM hh p2
                       JOIN edges e ON e.src = p2.node
                       WHERE e.dst = p.node AND p2.t = p.t), 0)
               * 1000000
               // (SELECT SUM(p3.h * d.deg) FROM hh p3
                   JOIN deg d ON d.src = p3.node WHERE p3.t = p.t)
           FROM hh p WHERE p.t < 8)
         SELECT node, h AS hub_mass, a AS auth_mass
         FROM hh WHERE t = 8""") { (spark, dir) =>
      val (docs, n, edges) = linkGraph(spark, dir)
      Graph.hits(edges, "src", "dst", iterations = 8,
          nodesOpt = Some(docs), nNodesOpt = Some(n))
        .select(col("node"), col("h").as("hub_mass"),
          col("a").as("auth_mass"))
    },

    // Ordered-step funnel view -> click -> purchase with a 7-day
    // conversion horizon: a user reaches step i on an event strictly
    // after their step-(i-1) time and within the horizon of their
    // FIRST view (earliest-completion greedy — exact, see Events).
    // The oracle chains the same per-step min CTEs; permille is a
    // floor division of BIGINTs on both sides.
    q("q_funnel", "warehouse",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS tp
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                 AND e.ts > s1.t1
                 AND e.ts <= s1.t1 + INTERVAL 604800 SECOND
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                 AND e.ts > s2.tp
                 AND e.ts <= s2.t1 + INTERVAL 604800 SECOND
                WHERE e.event_type = 'purchase' GROUP BY 1),
         c AS (SELECT 1 AS step_idx, 'view' AS step,
                 (SELECT count(*) FROM s1) AS users
               UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
               UNION ALL SELECT 3, 'purchase',
                 (SELECT count(*) FROM s3))
         SELECT step_idx, step, CAST(users AS BIGINT) AS users,
                CAST(users * 1000
                  // (SELECT users FROM c WHERE step_idx = 1)
                  AS BIGINT) AS permille
         FROM c""") { (spark, dir) =>
      Events.funnel(Tables.df(spark, dir, "events"), "user_id",
        "event_type", "ts", Seq("view", "click", "purchase"),
        horizonSeconds = Some(604800L))
    },

    // Time-to-convert quantiles: among full view->click->purchase
    // completers (same greedy + 7-day horizon as q_funnel), the exact
    // type-1 permille quantiles of last-minus-first time in floor
    // seconds — integer end to end (µs diff, div to seconds, the
    // exactQuantiles rank machinery), so the oracle replays the whole
    // chain verbatim.
    q("q_funnel_durations", "warehouse",
      """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1
                     FROM events WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(s1.t1) AS t1,
                  min(epoch_us(e.ts)) AS tp
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                 AND epoch_us(e.ts) > s1.t1
                 AND epoch_us(e.ts) <= s1.t1 + 604800000000
                WHERE e.event_type = 'click' GROUP BY 1),
         s3 AS (SELECT e.user_id, min(s2.t1) AS t1,
                  min(epoch_us(e.ts)) AS tp
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                 AND epoch_us(e.ts) > s2.tp
                 AND epoch_us(e.ts) <= s2.t1 + 604800000000
                WHERE e.event_type = 'purchase' GROUP BY 1),
         d AS (SELECT (tp - t1) // 1000000 AS v FROM s3),
         counts AS (SELECT v, count(*) AS c FROM d GROUP BY 1),
         cum AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM counts),
         tot AS (SELECT SUM(c) AS n FROM counts),
         ranks AS (SELECT p, (p * n + 999) // 1000 AS r
                   FROM (VALUES (250), (500), (750), (900)) t(p)
                   CROSS JOIN tot)
         SELECT CAST(p AS BIGINT) AS permille, MIN(v) AS v_at
         FROM ranks JOIN cum ON cum.cum >= ranks.r
         GROUP BY 1""") { (spark, dir) =>
      Events.funnelDurations(Tables.df(spark, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        permilles = Seq(250, 500, 750, 900),
        horizonSeconds = Some(604800L))
    },

    // Weekly cohort retention matrix: cohort = ISO week of the user's
    // first event, offset = whole weeks between week STARTS (exact
    // integer: both endpoints are Monday-truncated dates, datediff
    // div 7). (user, cohort, week) pairs count once.
    q("q_retention_cohorts", "warehouse",
      """WITH f AS (SELECT user_id,
                      CAST(date_trunc('week', min(ts)) AS DATE) AS cw
                    FROM events GROUP BY 1),
         a AS (SELECT DISTINCT e.user_id, f.cw,
                 datediff('day', f.cw,
                   CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS ow
               FROM events e JOIN f ON e.user_id = f.user_id)
         SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
                CAST(ow AS BIGINT) AS offset_week,
                CAST(count(*) AS BIGINT) AS active_users
         FROM a GROUP BY 1, 2""") { (spark, dir) =>
      Events.retentionMatrix(Tables.df(spark, dir, "events"),
        "user_id", "ts")
    },

    // Per-node triangle participation over the undirected reading of
    // the shared link graph: the local-clustering spam signal next to
    // pagerank/trustrank/hits. The engine closes degree-ordered
    // wedges (each triangle found once at its lowest-rank corner);
    // the oracle enumerates canonical a<b<c triples — method-
    // independent counts, so any orientation bug breaks the hash.
    q("q_triangles", "warehouse",
      s"""WITH $linkGraphCtes,
         und AS (SELECT DISTINCT least(src, dst) AS a,
                   greatest(src, dst) AS b
                 FROM edges WHERE src != dst),
         tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
                 FROM und e1
                 JOIN und e2 ON e2.a = e1.b
                 JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
         SELECT node, CAST(count(*) AS BIGINT) AS triangles
         FROM (SELECT unnest([x, y, z]) AS node FROM tri)
         GROUP BY 1""") { (spark, dir) =>
      val (_, _, edges) = linkGraph(spark, dir)
      Graph.triangleCounts(edges, "src", "dst")
    },

    // k-core (k=4) of a core-periphery doc graph: two of the three
    // Lehmer out-edges aim at the first n/10 and n/20 ids, so a dense
    // hub core (350 nodes) survives a NINETEEN-round peel of the
    // sparse periphery — a real iterative-fixpoint fixture, not a
    // one-round threshold. The oracle's recursive CTE emits a round
    // only while the alive set strictly shrinks (the EXISTS guard)
    // and re-derives each survivor's within-round degree through the
    // bidirectional edge CTE (equi-joins only — the a-or-b OR form
    // defeats decorrelation, measured 28x slower); per-node core
    // degrees land in the hash.
    q("q_kcore", "warehouse",
      s"""WITH RECURSIVE $corePeriphGraphCtes,
         $kCorePeelCtes
         SELECT node, CAST(d AS BIGINT) AS core_degree FROM core""") {
      (spark, dir) =>
      val (_, _, edges) = corePeriphGraph(spark, dir)
      Graph.kCore(edges, "src", "dst", k = 4)
    },

    // Rolling 7-day active users: exact rolling distinct via the
    // (day, user) -> offset fan-out -> re-dedup shape (bounded x7
    // blowup of a days-times-users frame; no per-day window sort, no
    // approximation). Report days = every day whose trailing window
    // holds at least one active user.
    q("q_rolling_active", "warehouse",
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
                       user_id AS u
                     FROM events),
         x AS (SELECT DISTINCT d + CAST(o AS INTEGER) AS rd, u
               FROM du, (SELECT unnest(generate_series(0, 6)) AS o))
         SELECT strftime(rd, '%Y-%m-%d') AS day,
                CAST(count(*) AS BIGINT) AS active_users
         FROM x GROUP BY 1""") { (spark, dir) =>
      Events.rollingActive(Tables.df(spark, dir, "events"),
        "user_id", "ts", windowDays = 7)
    },

    // First-order Markov transition matrix of event types per user
    // sequence, ordered by (ts, event_id) so simultaneous events are
    // deterministic on both engines; permille row-normalization is a
    // BIGINT floor division. 25 cells (5x5 types) at sf0.01.
    q("q_event_transitions", "warehouse",
      """WITH s AS (SELECT event_type AS to_type,
                      lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS from_type
                    FROM events),
         m AS (SELECT from_type, to_type, count(*) AS transitions
               FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
         SELECT from_type, to_type,
                CAST(transitions AS BIGINT) AS transitions,
                CAST(transitions * 1000
                  // sum(transitions) OVER (PARTITION BY from_type)
                  AS BIGINT) AS permille
         FROM m""") { (spark, dir) =>
      Events.transitionMatrix(Tables.df(spark, dir, "events"),
        "user_id", "event_type", "ts", "event_id")
    },

    // Last-touch attribution: every purchase gains the latest
    // view/click at-or-before it for the same user — the AsOfJoin
    // composition (one shuffle, running last-update window) against
    // DuckDB's native ASOF LEFT JOIN. Touches are pre-deduplicated at
    // identical (user, time) so "which wins" is deterministic on both
    // engines (the q_asof_price discipline); purchases with no prior
    // touch keep NULLs.
    q("q_attribution_last_touch", "warehouse",
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
                    FROM events WHERE event_type = 'purchase'),
         t AS (SELECT user_id, epoch_us(ts) AS t_us,
                 max(event_id) AS touch_event_id,
                 arg_max(event_type, event_id) AS touch_type
               FROM events WHERE event_type IN ('view', 'click')
               GROUP BY 1, 2)
         SELECT p.event_id, p.user_id, t.touch_type, t.touch_event_id
         FROM p ASOF LEFT JOIN t
           ON p.user_id = t.user_id AND p.p_us >= t.t_us""") {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("p_us"))
      val touches = ev
        .filter(col("event_type").isin("view", "click"))
        .groupBy(col("user_id"), unix_micros(col("ts")).as("t_us"))
        .agg(max(col("event_id")).as("touch_event_id"),
          max_by(col("event_type"), col("event_id")).as("touch_type"))
      graft.ops.AsOfJoin.asOf(purchases, touches, Seq("user_id"),
          "p_us", "t_us", Seq("touch_type", "touch_event_id"))
        .select(col("event_id"), col("user_id"), col("touch_type"),
          col("touch_event_id"))
    },

    // Linear multi-touch attribution: every view/click in the 24h
    // window before a purchase shares the credit equally in integer
    // permille, the division remainder granted to the LATEST touch
    // (ties broken by event_id) so each purchase distributes exactly
    // 1000. The oracle replays the interval join + per-conversion
    // window + floor/remainder arithmetic verbatim.
    q("q_attribution_linear", "warehouse",
      """WITH c AS (SELECT event_id AS cid, user_id AS cu,
                      epoch_us(ts) AS cts
                    FROM events WHERE event_type = 'purchase'),
         t AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tts
               FROM events WHERE event_type IN ('view', 'click')),
         p AS (SELECT t.event_type, t.event_id, t.tts, c.cid,
                 count(*) OVER (PARTITION BY c.cid) AS k,
                 row_number() OVER (PARTITION BY c.cid
                   ORDER BY t.tts DESC, t.event_id DESC) AS rn
               FROM t JOIN c ON t.user_id = c.cu
                AND t.tts <= c.cts AND t.tts > c.cts - 86400000000)
         SELECT event_type AS touch_type,
                CAST(sum(1000 // k + CASE WHEN rn = 1
                  THEN 1000 % k ELSE 0 END) AS BIGINT) AS credit,
                CAST(count(DISTINCT cid) AS BIGINT) AS conversions,
                CAST(count(*) AS BIGINT) AS touches
         FROM p GROUP BY 1""") { (spark, dir) =>
      Events.linearAttribution(Tables.df(spark, dir, "events"),
        "event_id", "user_id", "event_type", "ts", "purchase",
        Seq("view", "click"), windowSeconds = 86400L)
    },

    // KMV distinct-count sketch (k = 64) of users per event type, the
    // exact count alongside: the oracle rebuilds the bottom-64 of the
    // same unsigned Spark-Murmur3 hash space via a rank window and
    // replays the integer-floor estimator 63*2^32 // (u_k + 1) in
    // BIGINT — every hash, rank, and floor reproduces bit-for-bit, so
    // the sketch's actual error (est vs exact) is itself in the hash.
    q("q_kmv_distinct", "warehouse",
      s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events),
         ${MurmurSql.chainLong("id")},
         pairs AS (SELECT DISTINCT event_type, user_id FROM events),
         hx AS (SELECT DISTINCT p.event_type, mm.u
                FROM pairs p JOIN mm ON mm.id = p.user_id),
         rk AS (SELECT event_type, u,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY u) AS r
                FROM hx),
         syn AS (SELECT event_type, count(*) AS nh,
                   max(CASE WHEN r = 64 THEN u END) AS uk
                 FROM rk GROUP BY 1),
         ex AS (SELECT event_type,
                  count(DISTINCT user_id) AS exact_distinct
                FROM events GROUP BY 1)
         SELECT s.event_type,
           CAST(CASE WHEN s.nh < 64 THEN s.nh
                     ELSE 63 * 4294967296 // (s.uk + 1)
                END AS BIGINT) AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
         FROM syn s JOIN ex USING (event_type)""") { (spark, dir) =>
      Sketch.kmvDistinct(Tables.df(spark, dir, "events"), "user_id",
        k = 64, groupCols = Seq("event_type"))
    },

    // KMV cross-corpus overlap: how many distinct users do the 'view'
    // and 'purchase' audiences share, estimated from two bottom-64
    // synopses (union synopsis = the merge algebra, intersection =
    // clamped inclusion-exclusion, Jaccard = integer floor permille)
    // with the exact distinct join riding along for error visibility.
    // The oracle replays the murmur/rank/floor pipeline for A, B and
    // A UNION B — bottom-64 of the hash union IS the merged synopsis,
    // the algebra KmvSpec pins — plus the exact INTERSECT counts.
    q("q_kmv_overlap", "warehouse",
      s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events
                       WHERE event_type IN ('view', 'purchase')),
         ${MurmurSql.chainLong("id")},
         hva AS (SELECT DISTINCT mm.u
                 FROM events e JOIN mm ON mm.id = e.user_id
                 WHERE e.event_type = 'view'),
         hvb AS (SELECT DISTINCT mm.u
                 FROM events e JOIN mm ON mm.id = e.user_id
                 WHERE e.event_type = 'purchase'),
         hvu AS (SELECT u FROM hva UNION SELECT u FROM hvb),
         sa AS (SELECT count(*) AS nh,
                  max(CASE WHEN r = 64 THEN u END) AS uk
                FROM (SELECT u, row_number() OVER (ORDER BY u) AS r
                      FROM hva)),
         sb AS (SELECT count(*) AS nh,
                  max(CASE WHEN r = 64 THEN u END) AS uk
                FROM (SELECT u, row_number() OVER (ORDER BY u) AS r
                      FROM hvb)),
         sun AS (SELECT count(*) AS nh,
                   max(CASE WHEN r = 64 THEN u END) AS uk
                 FROM (SELECT u, row_number() OVER (ORDER BY u) AS r
                       FROM hvu)),
         es AS (SELECT
             CAST(CASE WHEN sa.nh < 64 THEN sa.nh
                  ELSE 63 * 4294967296 // (sa.uk + 1) END AS BIGINT)
               AS est_a,
             CAST(CASE WHEN sb.nh < 64 THEN sb.nh
                  ELSE 63 * 4294967296 // (sb.uk + 1) END AS BIGINT)
               AS est_b,
             CAST(CASE WHEN sun.nh < 64 THEN sun.nh
                  ELSE 63 * 4294967296 // (sun.uk + 1) END AS BIGINT)
               AS est_union
           FROM sa, sb, sun),
         ex AS (SELECT
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = 'view') AS exact_a,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = 'purchase') AS exact_b,
             (SELECT count(*) FROM
               (SELECT DISTINCT user_id FROM events
                WHERE event_type = 'view'
                INTERSECT
                SELECT DISTINCT user_id FROM events
                WHERE event_type = 'purchase'))
               AS exact_intersection)
         SELECT est_a, est_b, est_union,
           CAST(greatest(0, est_a + est_b - est_union) AS BIGINT)
             AS est_intersection,
           CAST(CASE WHEN est_union = 0 THEN 0
                ELSE 1000 * greatest(0, est_a + est_b - est_union)
                  // est_union END AS BIGINT) AS jaccard_permille,
           CAST(exact_a AS BIGINT) AS exact_a,
           CAST(exact_b AS BIGINT) AS exact_b,
           CAST(exact_intersection AS BIGINT) AS exact_intersection
         FROM es, ex""") { (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
      Sketch.kmvOverlap(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", k = 64)
    },

    // All-pairs audience-overlap matrix: one corpus pass builds a
    // bottom-64 synopsis per event type, every pairwise union/
    // intersection/Jaccard estimate is then free driver-side — the
    // contamination-matrix shape (slices x benchmarks) at 100 TB.
    // The oracle replays per-type AND per-pair-union bottom-64 rank
    // pipelines over the same murmur space; pair union bottom-64 of
    // the FULL hash sets equals the merge of the truncated synopses
    // (the algebra KmvSpec pins), so every cell lands exactly.
    q("q_kmv_overlap_matrix", "warehouse",
      s"""WITH ids AS (SELECT DISTINCT user_id AS id FROM events),
         ${MurmurSql.chainLong("id")},
         hx AS (SELECT DISTINCT e.event_type, mm.u
                FROM events e JOIN mm ON mm.id = e.user_id),
         rk AS (SELECT event_type, u,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY u) AS r
                FROM hx),
         syn AS (SELECT event_type, count(*) AS nh,
                   max(CASE WHEN r = 64 THEN u END) AS uk
                 FROM rk GROUP BY 1),
         est AS (SELECT event_type,
                   CAST(CASE WHEN nh < 64 THEN nh
                        ELSE 63 * 4294967296 // (uk + 1) END AS BIGINT)
                     AS e
                 FROM syn),
         prs AS (SELECT a.event_type AS ga, b.event_type AS gb
                 FROM (SELECT DISTINCT event_type FROM events) a
                 JOIN (SELECT DISTINCT event_type FROM events) b
                   ON a.event_type < b.event_type),
         pu AS (SELECT p.ga, p.gb, h.u
                FROM prs p JOIN hx h
                  ON h.event_type = p.ga OR h.event_type = p.gb
                GROUP BY 1, 2, 3),
         prk AS (SELECT ga, gb, u,
                   row_number() OVER (PARTITION BY ga, gb
                                      ORDER BY u) AS r
                 FROM pu),
         psyn AS (SELECT ga, gb, count(*) AS nh,
                    max(CASE WHEN r = 64 THEN u END) AS uk
                  FROM prk GROUP BY 1, 2),
         pest AS (SELECT ga, gb,
                    CAST(CASE WHEN nh < 64 THEN nh
                         ELSE 63 * 4294967296 // (uk + 1) END AS BIGINT)
                      AS eu
                  FROM psyn)
         SELECT p.ga AS group_a, p.gb AS group_b,
           ea.e AS est_a, eb.e AS est_b, pe.eu AS est_union,
           CAST(greatest(0, ea.e + eb.e - pe.eu) AS BIGINT)
             AS est_intersection,
           CAST(CASE WHEN pe.eu = 0 THEN 0
                ELSE 1000 * greatest(0, ea.e + eb.e - pe.eu) // pe.eu
                END AS BIGINT) AS jaccard_permille
         FROM prs p
         JOIN est ea ON ea.event_type = p.ga
         JOIN est eb ON eb.event_type = p.gb
         JOIN pest pe ON pe.ga = p.ga AND pe.gb = p.gb""") {
      (spark, dir) =>
      Sketch.kmvOverlapMatrix(Tables.df(spark, dir, "events"),
        "event_type", "user_id", k = 64)
    },

    // Count-min sketch heavy hitters: top-20 tokens by estimate with
    // the exact count alongside. The oracle rebuilds the grid from
    // the same unsigned Spark-Murmur3 + Knuth/Lehmer row mixing in
    // BIGINT SQL (CmsSql.gridCtes — one spelling shared with
    // q_stream_cms, dims from the same constants the Spark side
    // uses), so every collision-inflated estimate (est >= exact,
    // sometimes >) reproduces bit-for-bit.
    q("q_heavy_hitters_cms", "warehouse",
      s"""WITH ${CmsSql.gridCtes},
         est AS (SELECT tb.s, MIN(cms.c) AS est
                 FROM tb JOIN cms USING (r, bucket) GROUP BY 1)
         SELECT tf.s AS token, CAST(est.est AS BIGINT) AS est, tf.exact
         FROM tf JOIN est ON tf.s = est.s
         ORDER BY est DESC, token LIMIT 20""") { (spark, dir) =>
      Sketch.cmsHeavyHitters(Tables.df(spark, dir, "documents"), "text",
        depth = CmsSql.Depth, width = CmsSql.Width, k = 20)
        .select(col("token"), col("est"), col("exact"))
    },

    // Per-source CMS heavy hitters: top-10 tokens per source off
    // per-group grids built in one corpus pass — the grouped face of
    // q_heavy_hitters_cms (grid spelling shared via CmsSql's mixer,
    // grouped CTEs from the same constants). The per-group top-k is
    // a rank window capped at k (WindowGroupLimit — map-side top-k).
    q("q_heavy_hitters_by_source", "warehouse", hhBySourceOracle) {
      (spark, dir) =>
      Sketch.cmsHeavyHittersBy(Tables.df(spark, dir, "documents"),
        "text", "source", CmsSql.Depth, CmsSql.Width, k = 10)
    },

    // The unbounded-group face of the grouped heavy hitters: the grid
    // joins the probes through an ordinary shuffle instead of the
    // broadcast the dashboard face mandates — identical arithmetic,
    // so the oracle is q_heavy_hitters_by_source's VERBATIM and the
    // hash pins both faces to one answer.
    q("q_heavy_hitters_join", "warehouse", hhBySourceOracle) {
      (spark, dir) =>
      Sketch.cmsHeavyHittersByJoin(Tables.df(spark, dir, "documents"),
        "text", "source", CmsSql.Depth, CmsSql.Width, k = 10)
    },

    // Dyadic rank sketch quantiles: permille quantiles of the event
    // timestamp (epoch micros — an UNBOUNDED long domain exactQuantiles'
    // bounded-cardinality contract cannot hold) off the mergeable
    // 16-level CMS grid. The oracle rebuilds the exact grid (cell-wise
    // additive — build order cannot matter) and replays the exact
    // 256-step descent in a recursive CTE; Spark's walk runs driver-
    // side over the bounded collected grid. Every counter, target
    // rank, and child choice reproduces bit-for-bit, so the sketch's
    // actual approximation error is itself in the hash.
    q("q_rank_quantiles", "warehouse", RankSketchSql.oracle) {
      (spark, dir) =>
      val grid = Sketch.rankGrid(Tables.df(spark, dir, "events"),
        unix_micros(col("ts")), RankSketchSql.Depth, RankSketchSql.Width)
      Sketch.rankQuantiles(grid, RankSketchSql.Permilles,
        RankSketchSql.Depth, RankSketchSql.Width)
    },

    // The daily-synopsis LIFECYCLE, end to end: one corpus pass builds
    // per-day grids (rankGridBy on the event date — the partition a
    // warehouse persists), mergeRankGrids folds the days cell-wise,
    // and the walk answers quantiles off the merged grid. The additive
    // algebra makes the merged grid PROVABLY EQUAL to the monolithic
    // corpus grid (every row contributes one increment per (level, r)
    // whichever day-slice it rode in), so this query shares
    // q_rank_quantiles' oracle VERBATIM — the hash pins the
    // build-partitioned / merge / query-merged path to the
    // build-monolithic path bit for bit. At 100 TB this is the shape
    // that answers "p99 over any date range" from k·day cells without
    // rescanning a byte of corpus.
    q("q_rank_merge_days", "warehouse", RankSketchSql.oracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
      val byDay = Sketch.rankGridBy(
        ev.withColumn("_day", to_date(col("ts"))),
        unix_micros(col("ts")), Seq("_day"),
        RankSketchSql.Depth, RankSketchSql.Width)
      val merged = Sketch.mergeRankGrids(
        byDay.select(col("level"), col("r"), col("bucket"), col("c")))
      Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
        RankSketchSql.Depth, RankSketchSql.Width)
    },

    // ---- The synopsis-warehouse READ path: answer an arbitrary
    // date range from persisted per-day cells, rescanning nothing.
    // q_rank_merge_days pins the write path (build partitioned ≡
    // build monolithic); these three pin the read path for the whole
    // trio — filter the day cells, merge, answer. Each oracle is the
    // family's existing monolithic spelling over the RANGE-FILTERED
    // corpus, so the hash proves merged-subrange ≡ monolithic-on-
    // slice exactly (cell additivity / bottom-k algebra over disjoint
    // day slices). At 100 TB this is "p99 / top tokens / distinct
    // users for any window" at day-cell cost, zero corpus I/O.

    // Permille quantiles of the event timestamp over a 14-day slice,
    // answered from merged per-day rank grids.
    q("q_rank_range", "warehouse", rankRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val byDay = Sketch.rankGridBy(ev, unix_micros(col("ts")),
        Seq("_day"), RankSketchSql.Depth, RankSketchSql.Width)
      val merged = Sketch.mergeRankGrids(byDay.filter(rangeDayPred)
        .select(col("level"), col("r"), col("bucket"), col("c")))
      Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
        RankSketchSql.Depth, RankSketchSql.Width)
    },

    // Top-20 props tokens over the same slice: per-day CMS grids
    // merged cell-wise, then probed by the slice's tokens
    // (cmsHeavyHittersFromGrid — the probe costs one tokenize plus a
    // depth·width broadcast, never a grid rebuild). Oracle = the
    // q_heavy_hitters_cms spelling over the filtered corpus
    // (CmsSql.gridCtesOver — one chain, parameterized source).
    q("q_cms_range", "warehouse", cmsRangeOracle) { (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val perDay = Sketch.cmsTableBy(ev, "props", "_day",
        CmsSql.Depth, CmsSql.Width)
      val merged = Sketch.mergeCmsTables(perDay.filter(rangeDayPred)
        .select(col("r"), col("bucket"), col("c")))
      Sketch.cmsHeavyHittersFromGrid(ev.filter(rangeDayPred), "props",
        merged, CmsSql.Depth, CmsSql.Width, k = 20)
        .select(col("token"), col("est"), col("exact"))
    },

    // Distinct users over the slice from merged per-day bottom-64
    // synopses (merge = k smallest of the day synopses' union — the
    // KmvSpec algebra, so the merged estimate IS the monolithic
    // slice's), with the exact distinct count and the day-cell count
    // riding along for error visibility. The oracle replays the
    // murmur/rank/floor pipeline over the slice's distinct ids — the
    // q_kmv_overlap spelling, range-filtered.
    q("q_kmv_range", "warehouse", kmvRangeOracle) { (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val perDay = Sketch.kmvSynopsis(ev, "user_id", 64, Seq("_day"))
        .filter(rangeDayPred)
      val merged = Sketch.mergeKmvSynopses(64, Seq.empty,
        perDay.select(col("kmv")))
      merged.select(Sketch.kmvEstimate(col("kmv"), 64)
          .as("est_distinct"))
        .crossJoin(ev.filter(rangeDayPred)
          .agg(count_distinct(col("user_id")).as("exact_distinct")))
        .crossJoin(perDay.agg(count(lit(1)).as("days_merged")))
    },

    // The synopsis warehouse under STREAMING ingest, end to end:
    // day cells maintained per micro-batch (runRankGridByToBatch —
    // the grouped cell-wise fold, order-independent and exactly
    // lossless per day), then the 14-day range answered off the LIVE
    // cells by filter → merge → walk. The oracle is q_rank_range's
    // VERBATIM (the monolithic spelling over the range-filtered
    // corpus), so stream-ingested cells ≡ batch-built cells ≡
    // monolithic-on-slice is all one hash.
    q("q_stream_rank_range", "streaming", rankRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .select(col("event_id"), col("ts"))
      val staged = java.nio.file.Files.createTempDirectory("graft_srr")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        val byDay = graft.streaming.IngestStream.runRankGridByToBatch(
          spark, staged.toString, unix_micros(col("ts")),
          to_date(col("ts")), RankSketchSql.Depth, RankSketchSql.Width,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType))),
          maxFilesPerTrigger = Some(1))
        val merged = Sketch.mergeRankGrids(byDay.filter(rangeDayPred)
          .select(col("level"), col("r"), col("bucket"), col("c")))
        // rankQuantiles collects the bounded grid and walks driver-
        // side, so the result is local rows — safe past the cleanup
        Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
          RankSketchSql.Depth, RankSketchSql.Width)
      } finally graft.core.Fs.deleteRecursively(staged.toFile)
    },

    // The synopsis warehouse's DEPLOYMENT loop closed end to end:
    // streaming ingest maintains the day cells AND re-lands every
    // touched day through the REAL partitioned sink per micro-batch
    // (runRankGridByToSink → PartitionedWriter.overwriteDays), then
    // the 14-day range is answered from the PERSISTED dt=… cell
    // table alone — partition-pruned scan, merge, walk; the corpus is
    // never rescanned and the on-disk table was query-current after
    // every trigger. Oracle = q_rank_range's VERBATIM, so
    // stream-persisted ≡ batch-built ≡ monolithic-on-slice is one
    // hash; at 100 TB this is the standing shape: cells stay current
    // per ingest batch at touched-days×cells write cost, and any
    // window query is a few day-directories of synopsis I/O.
    q("q_stream_cells_persisted", "streaming", rankRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .select(col("event_id"), col("ts"))
      val staged = java.nio.file.Files.createTempDirectory("graft_scp")
      val cells = java.nio.file.Files.createTempDirectory("graft_scpw")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        graft.streaming.IngestStream.runRankGridByToSink(
          spark, staged.toString, s"$cells/rank",
          unix_micros(col("ts")), to_date(col("ts")),
          RankSketchSql.Depth, RankSketchSql.Width,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("event_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts",
              org.apache.spark.sql.types.TimestampType))),
          maxFilesPerTrigger = Some(1))
        val merged = Sketch.mergeRankGrids(
          spark.read.parquet(s"$cells/rank")
            .filter(col("dt") >= lit(RangeLo).cast("date") &&
              col("dt") < lit(RangeHi).cast("date"))
            .select(col("level"), col("r"), col("bucket"), col("c")))
        // driver-side walk → local rows, safe past both cleanups
        Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
          RankSketchSql.Depth, RankSketchSql.Width)
      } finally {
        graft.core.Fs.deleteRecursively(staged.toFile)
        graft.core.Fs.deleteRecursively(cells.toFile)
      }
    },

    // The warehouse MAINTENANCE path, CORRECTNESS-pinned end to end:
    // day cells land through the real dt-partitioned sink
    // (overwriteDays — the same function the per-trigger streaming
    // loop of q_stream_cells_persisted writes through), then the two
    // lifecycle ops a long-lived table needs both run and must both
    // be invisible to the answer: vacuumDays(keep=14) drops the 16
    // oldest day directories (retention changes WHAT is answerable,
    // never the answer over what remains), Compactor.compact rewrites
    // every surviving day dir 3-files -> 1 (fewer files, identical
    // bytes-as-rows), and the 14-day quantiles are walked off the
    // post-maintenance table with NO date filter — the retained
    // window IS the query window. The oracle is the monolithic rank
    // spelling over exactly that slice, so vacuum day-selection and
    // compaction answer-preservation are one hash; the requires pin
    // the numFiles drop (every survivor compacts to one file) so a
    // no-op compactor fails loudly rather than vacuously passing.
    // At 100 TB this is the nightly maintenance job: per-partition
    // compaction is embarrassingly parallel, vacuum is a directory
    // listing, and neither touches corpus bytes.
    q("q_warehouse_maintenance", "warehouse", maintRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val root = java.nio.file.Files.createTempDirectory("graft_wm")
      try {
        val byDay = Sketch.rankGridBy(ev, unix_micros(col("ts")),
          Seq("_day"), RankSketchSql.Depth, RankSketchSql.Width)
        val table = s"$root/rank"
        graft.write.PartitionedWriter.overwriteDays(byDay, table,
          "_day", filesPerPartition = 3)
        val dropped = graft.write.PartitionedWriter.vacuumDays(
          spark, table, keepDays = 14)
        val fs = new org.apache.hadoop.fs.Path(table)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val days = fs.globStatus(
            new org.apache.hadoop.fs.Path(table, "dt=*"))
          .toSeq.filter(_.isDirectory).map(_.getPath)
        require(days.size == 14 && dropped.size == 16,
          s"vacuum horizon drifted: kept ${days.size}, " +
            s"dropped ${dropped.size}")
        // per-partition compaction is embarrassingly parallel (the
        // Compactor scaladoc's 100 TB deployment shape) — run the 14
        // survivors concurrently; each compact is an independent
        // read→write→two-rename swap on its own directory. The width
        // is an explicit bound: 8 concurrent compactions saturate a
        // small box's scheduler, and a 10k-partition vacuum must stay
        // pool-bounded, not thread-per-partition. Fanout returns only
        // once every compaction has finished, so the cleanup below
        // never deletes a directory a sibling still writes.
        val (nb, na) = graft.core.Fanout.map(math.min(days.size, 8),
            days) { d =>
          val (b, a, _) = graft.write.Compactor.compact(spark, d.toString)
          (b, a)
        }.unzip
        // the numFiles-drop pin: day cells are synopsis-sized, so
        // every survivor must compact to exactly one file, from a
        // strictly larger pre-compact count
        require(na.sum == days.size && nb.sum > na.sum,
          s"compaction did not drop files: ${nb.sum} -> ${na.sum}")
        val merged = Sketch.mergeRankGrids(
          spark.read.parquet(table)
            .select(col("level"), col("r"), col("bucket"), col("c")))
        // driver-side walk -> local rows, safe past the cleanup
        Sketch.rankQuantiles(merged, RankSketchSql.Permilles,
          RankSketchSql.Depth, RankSketchSql.Width)
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    },

    // Curation composition v10 — the RANGE dashboard: one statement
    // answers "who, what, when" for an arbitrary date window entirely
    // from day cells — distinct users (merged KMV synopses), the top
    // props token (merged CMS grid + probe), and the median timestamp
    // (merged rank grid + walk). The oracle COMPOSES the three
    // verified range oracles as parenthesized subqueries (DuckDB
    // scopes CTEs per subquery, so each family's full standalone
    // spelling embeds untouched — the maximal form of the shared-
    // spelling discipline: a dashboard cell can only drift if the
    // standalone query it quotes drifts with it).
    q("q_range_dashboard", "warehouse", rangeDashboardOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val evR = ev.filter(rangeDayPred)
      val kEst = Sketch.mergeKmvSynopses(64, Seq.empty,
          Sketch.kmvSynopsis(ev, "user_id", 64, Seq("_day"))
            .filter(rangeDayPred).select(col("kmv")))
        .select(Sketch.kmvEstimate(col("kmv"), 64)
          .as("est_distinct_users"))
      val cGrid = Sketch.mergeCmsTables(
        Sketch.cmsTableBy(ev, "props", "_day", CmsSql.Depth,
            CmsSql.Width)
          .filter(rangeDayPred).select(col("r"), col("bucket"),
            col("c")))
      val top1 = Sketch.cmsHeavyHittersFromGrid(evR, "props", cGrid,
          CmsSql.Depth, CmsSql.Width, k = 1)
        .select(col("token").as("top_token"),
          col("est").as("top_token_est"))
      val rGrid = Sketch.mergeRankGrids(
        Sketch.rankGridBy(ev, unix_micros(col("ts")), Seq("_day"),
            RankSketchSql.Depth, RankSketchSql.Width)
          .filter(rangeDayPred).select(col("level"), col("r"),
            col("bucket"), col("c")))
      val p500 = Sketch.rankQuantiles(rGrid, Seq(500),
          RankSketchSql.Depth, RankSketchSql.Width)
        .select(col("q_est").as("p500_ts_us"))
      kEst.crossJoin(top1).crossJoin(p500)
    },

    // The synopsis warehouse PERSISTED, end to end through the REAL
    // sink: per-day cells for all three sketches land via
    // PartitionedWriter.overwriteDays (the dynamic per-day-overwrite
    // cell sink — dt=… directories, idempotent day-wise), then the
    // v10 dashboard is answered reading ONLY the persisted cell
    // tables: the range predicate hits the dt PARTITION column, so
    // the scan prunes DIRECTORIES — PartitionFilters, pinned on this
    // exact sink in WarehouseSpec — and at 100 TB the range read
    // costs 14 day-directories of synopsis cells, zero corpus I/O
    // and zero out-of-range cell I/O. Oracle = q_range_dashboard
    // VERBATIM: one hash pins in-memory cells ≡ through-the-sink
    // cells ≡ monolithic-on-slice.
    q("q_range_dashboard_persisted", "warehouse",
      rangeDashboardOracle) { (spark, dir) =>
      import graft.write.PartitionedWriter
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val evR = ev.filter(rangeDayPred)
      val root = java.nio.file.Files.createTempDirectory("graft_cells")
      try {
        PartitionedWriter.overwriteDays(
          Sketch.rankGridBy(ev, unix_micros(col("ts")), Seq("_day"),
            RankSketchSql.Depth, RankSketchSql.Width),
          s"$root/rank", "_day")
        PartitionedWriter.overwriteDays(
          Sketch.cmsTableBy(ev, "props", "_day",
            CmsSql.Depth, CmsSql.Width),
          s"$root/cms", "_day")
        PartitionedWriter.overwriteDays(
          Sketch.kmvSynopsis(ev, "user_id", 64, Seq("_day")),
          s"$root/kmv", "_day")
        val dtPred = col("dt") >= lit(RangeLo).cast("date") &&
          col("dt") < lit(RangeHi).cast("date")
        val kEst = Sketch.mergeKmvSynopses(64, Seq.empty,
            spark.read.parquet(s"$root/kmv").filter(dtPred)
              .select(col("kmv")))
          .select(Sketch.kmvEstimate(col("kmv"), 64)
            .as("est_distinct_users"))
        val cGrid = Sketch.mergeCmsTables(
          spark.read.parquet(s"$root/cms").filter(dtPred)
            .select(col("r"), col("bucket"), col("c")))
        val top1 = Sketch.cmsHeavyHittersFromGrid(evR, "props", cGrid,
            CmsSql.Depth, CmsSql.Width, k = 1)
          .select(col("token").as("top_token"),
            col("est").as("top_token_est"))
        val rGrid = Sketch.mergeRankGrids(
          spark.read.parquet(s"$root/rank").filter(dtPred)
            .select(col("level"), col("r"), col("bucket"), col("c")))
        val p500 = Sketch.rankQuantiles(rGrid, Seq(500),
            RankSketchSql.Depth, RankSketchSql.Width)
          .select(col("q_est").as("p500_ts_us"))
        // one dashboard row; eager localCheckpoint materializes it
        // while the cell files still exist, so the frame survives
        // the temp-dir cleanup (the q_stream_* discipline)
        kEst.crossJoin(top1).crossJoin(p500).localCheckpoint()
      } finally graft.core.Fs.deleteRecursively(root.toFile)
    },

    // CMS day cells under streaming ingest → the range's top tokens:
    // per-day grids fold per micro-batch (runCmsByToBatch, grouped
    // cell-wise merge), the live cells filter to the range and merge,
    // and the probe (tokens + exact ride-alongs of the sliced corpus)
    // runs batch-side against the streamed grid. Oracle = q_cms_range
    // VERBATIM.
    q("q_stream_cms_range", "streaming", cmsRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val staged = java.nio.file.Files.createTempDirectory("graft_scr")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i)
            .select(col("_day"), col("props")).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        val byDay = graft.streaming.IngestStream.runCmsByToBatch(
          spark, staged.toString, "props", "_day",
          CmsSql.Depth, CmsSql.Width,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_day",
              org.apache.spark.sql.types.DateType),
            org.apache.spark.sql.types.StructField("props",
              org.apache.spark.sql.types.StringType))),
          maxFilesPerTrigger = Some(1))
        val merged = Sketch.mergeCmsTables(byDay.filter(rangeDayPred)
          .select(col("r"), col("bucket"), col("c")))
        Sketch.cmsHeavyHittersFromGrid(ev.filter(rangeDayPred),
            "props", merged, CmsSql.Depth, CmsSql.Width, k = 20)
          .select(col("token"), col("est"), col("exact"))
      } finally graft.core.Fs.deleteRecursively(staged.toFile)
    },

    // KMV day synopses under streaming ingest → the range's distinct
    // users: runKmvToBatch grouped on a STAGED day column (the
    // synopsis fold is already group-generic), live synopses filter
    // to the range and merge by the bottom-k algebra; exact and
    // day-cell counts ride along batch-side. Oracle = q_kmv_range
    // VERBATIM.
    // CMS day cells streamed THROUGH the real sink (runCmsByToSink →
    // PartitionedWriter.overwriteDays per touched day per trigger),
    // range answered from the PERSISTED dt=… table alone: pruned
    // scan → cell-wise merge → probe. Oracle = q_cms_range VERBATIM,
    // so stream-persisted ≡ batch-built ≡ monolithic-on-slice is one
    // hash — the q_stream_cells_persisted story for the CMS synopsis.
    q("q_stream_cms_cells_persisted", "streaming", cmsRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val staged = java.nio.file.Files.createTempDirectory("graft_sccp")
      val cells = java.nio.file.Files.createTempDirectory("graft_sccpw")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i)
            .select(col("_day"), col("props")).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        graft.streaming.IngestStream.runCmsByToSink(
          spark, staged.toString, s"$cells/cms", "props", "_day",
          CmsSql.Depth, CmsSql.Width,
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_day",
              org.apache.spark.sql.types.DateType),
            org.apache.spark.sql.types.StructField("props",
              org.apache.spark.sql.types.StringType))),
          maxFilesPerTrigger = Some(1))
        val merged = Sketch.mergeCmsTables(
          spark.read.parquet(s"$cells/cms")
            .filter(col("dt") >= lit(RangeLo).cast("date") &&
              col("dt") < lit(RangeHi).cast("date"))
            .select(col("r"), col("bucket"), col("c")))
        // probe result materialized while the cell files still exist
        // (the q_range_dashboard_persisted discipline)
        Sketch.cmsHeavyHittersFromGrid(ev.filter(rangeDayPred),
            "props", merged, CmsSql.Depth, CmsSql.Width, k = 20)
          .select(col("token"), col("est"), col("exact"))
          .localCheckpoint()
      } finally {
        graft.core.Fs.deleteRecursively(staged.toFile)
        graft.core.Fs.deleteRecursively(cells.toFile)
      }
    },

    // KMV day synopses streamed THROUGH the real sink (runKmvToSink),
    // range's distinct users answered from the PERSISTED dt=… table:
    // pruned scan of ≤64 longs per day directory → bottom-k merge →
    // estimate. Oracle = q_kmv_range VERBATIM — this closes the
    // persisted deployment loop for the THIRD synopsis of the trio.
    q("q_stream_kmv_cells_persisted", "streaming", kmvRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val staged = java.nio.file.Files.createTempDirectory("graft_skcp")
      val cells = java.nio.file.Files.createTempDirectory("graft_skcpw")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i)
            .select(col("_day"), col("user_id")).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        graft.streaming.IngestStream.runKmvToSink(
          spark, staged.toString, s"$cells/kmv", "user_id", 64, "_day",
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_day",
              org.apache.spark.sql.types.DateType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType))),
          maxFilesPerTrigger = Some(1))
        val inRange = spark.read.parquet(s"$cells/kmv")
          .filter(col("dt") >= lit(RangeLo).cast("date") &&
            col("dt") < lit(RangeHi).cast("date"))
        val merged = Sketch.mergeKmvSynopses(64, Seq.empty,
          inRange.select(col("kmv")))
        merged.select(Sketch.kmvEstimate(col("kmv"), 64)
            .as("est_distinct"))
          .crossJoin(ev.filter(rangeDayPred)
            .agg(count_distinct(col("user_id")).as("exact_distinct")))
          .crossJoin(inRange.agg(count(lit(1)).as("days_merged")))
          .localCheckpoint()
      } finally {
        graft.core.Fs.deleteRecursively(staged.toFile)
        graft.core.Fs.deleteRecursively(cells.toFile)
      }
    },

    q("q_stream_kmv_range", "streaming", kmvRangeOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val staged = java.nio.file.Files.createTempDirectory("graft_skr")
      try {
        (0 until 3).foreach(i =>
          ev.filter(col("event_id") % 3 === i)
            .select(col("_day"), col("user_id")).coalesce(1)
            .write.mode("append").parquet(staged.toString))
        val perDay = graft.streaming.IngestStream.runKmvToBatch(
          spark, staged.toString, "user_id", 64, Seq("_day"),
          schema = org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("_day",
              org.apache.spark.sql.types.DateType),
            org.apache.spark.sql.types.StructField("user_id",
              org.apache.spark.sql.types.LongType))),
          maxFilesPerTrigger = Some(1))
        val inRange = perDay.filter(rangeDayPred)
        val merged = Sketch.mergeKmvSynopses(64, Seq.empty,
          inRange.select(col("kmv")))
        merged.select(Sketch.kmvEstimate(col("kmv"), 64)
            .as("est_distinct"))
          .crossJoin(ev.filter(rangeDayPred)
            .agg(count_distinct(col("user_id")).as("exact_distinct")))
          .crossJoin(inRange.agg(count(lit(1)).as("days_merged")))
      } finally graft.core.Fs.deleteRecursively(staged.toFile)
    },

    // Rolling 7-day distinct actives per day from day-keyed bottom-64
    // synopses: each day synopsis fans out to the ≤7 window ends it
    // covers (a synopses-sized explode) and merges by the bottom-k
    // algebra — the window's own synopsis exactly — while the EXACT
    // rolling count (the q_rolling_active fan-out, null-filtered to
    // match the sketch's NULL convention) rides along for error
    // visibility. The oracle replays the murmur/rank/floor pipeline
    // per window end: fanning hashes to windows then taking bottom-64
    // IS the merge of the day synopses (the KmvSpec algebra), so the
    // equivalence is in the hash.
    q("q_kmv_rolling", "warehouse",
      s"""WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d,
                        user_id AS id
                      FROM events WHERE user_id IS NOT NULL),
         ids AS (SELECT DISTINCT id FROM du),
         ${MurmurSql.chainLong("id")},
         xh AS (SELECT DISTINCT du.d + CAST(oo.o AS INTEGER) AS rd,
                  mm.u
                FROM du JOIN mm ON mm.id = du.id
                CROSS JOIN (SELECT unnest(generate_series(0, 6))
                            AS o) oo),
         rk AS (SELECT rd, u,
                  row_number() OVER (PARTITION BY rd ORDER BY u) AS r
                FROM xh),
         syn AS (SELECT rd, count(*) AS nh,
                   max(CASE WHEN r = 64 THEN u END) AS uk
                 FROM rk GROUP BY 1),
         xe AS (SELECT DISTINCT du.d + CAST(oo.o AS INTEGER) AS rd,
                  du.id
                FROM du CROSS JOIN (SELECT unnest(generate_series(0,
                  6)) AS o) oo),
         ex AS (SELECT rd, CAST(count(*) AS BIGINT) AS exact_active
                FROM xe GROUP BY 1)
         SELECT strftime(syn.rd, '%Y-%m-%d') AS day,
           CAST(CASE WHEN nh < 64 THEN nh
                ELSE 63 * 4294967296 // (uk + 1) END AS BIGINT)
             AS est_active,
           ex.exact_active
         FROM syn JOIN ex ON ex.rd = syn.rd""") { (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val perDay = Sketch.kmvSynopsis(ev, "user_id", 64, Seq("_day"))
      val est = Sketch.kmvRollingDistinct(perDay, "_day", 7, 64)
      // the exact twin: rollingActive's fan-out with the sketch's
      // NULL convention made explicit (KMV ignores NULL values, so
      // the exact count must too)
      val exact = ev.filter(col("user_id").isNotNull)
        .select(col("_day"), col("user_id").as("_u")).distinct()
        .select(col("_day"), col("_u"),
          explode(sequence(lit(0), lit(6))).as("_o"))
        .select(date_add(col("_day"), col("_o")).as("_rd"), col("_u"))
        .distinct()
        .groupBy(col("_rd")).agg(count(lit(1)).as("exact_active"))
      est.join(exact, est("_day") === exact("_rd"))
        .select(date_format(col("_day"), "yyyy-MM-dd").as("day"),
          col("est_distinct").as("est_active"), col("exact_active"))
    },

    // Rolling 7-day timestamp quantiles per day, answered entirely
    // from the day cells: each cell fans out to the ≤7 window ends it
    // belongs to (a cells-sized explode — no corpus touch), window
    // grids form by cell-wise sum, one grouped walk per window end.
    // Leading days carry partial windows (rolling over available
    // history). The oracle fans each EVENT to its window ends and
    // runs the grouped grid + descent (RankSketchSql.groupedWalkCtes
    // — the single spelling) — per-window-monolithic ≡ merged-day-
    // cells by additivity, so the equivalence is in the hash.
    q("q_rank_rolling", "warehouse",
      s"""WITH RECURSIVE
         ${RankSketchSql.groupedWalkCtes(
           """SELECT dd.g AS g, epoch_us(e.ts) AS v
              FROM events e
              CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6])
                          AS off) oo
              JOIN (SELECT DISTINCT CAST(ts AS DATE) AS g FROM events
                    WHERE ts IS NOT NULL) dd
                ON dd.g = CAST(e.ts AS DATE) + CAST(oo.off AS INT)
              WHERE e.ts IS NOT NULL""")}
         SELECT CAST(g AS VARCHAR) AS day, CAST(p AS BIGINT)
                  AS permille, pfx AS q_est
         FROM walk WHERE level = -1""") { (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .withColumn("_day", to_date(col("ts")))
      val byDay = Sketch.rankGridBy(ev, unix_micros(col("ts")),
        Seq("_day"), RankSketchSql.Depth, RankSketchSql.Width)
      Sketch.rankRollingQuantiles(byDay, "_day", 7,
          RankSketchSql.Permilles, RankSketchSql.Depth,
          RankSketchSql.Width)
        .select(col("_day").cast("string").as("day"), col("permille"),
          col("q_est"))
    },

    // Top-k entry paths: each user's first three event types in
    // (ts, event_id) order joined with '>', counted, top 10 — the
    // sankey question. The explicit event_id tiebreak makes
    // simultaneous events engine-deterministic (the q_event_transitions
    // discipline); the oracle replays the window + ordered string_agg.
    q("q_top_paths", "warehouse",
      """WITH r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
           FROM events),
         p AS (SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
               FROM r WHERE rn <= 3 GROUP BY 1)
         SELECT path, CAST(count(*) AS BIGINT) AS users
         FROM p GROUP BY 1 ORDER BY users DESC, path LIMIT 10""") {
      (spark, dir) =>
      graft.ops.Events.topPaths(Tables.df(spark, dir, "events"),
        "user_id", "event_type", "ts", "event_id", pathLen = 3, k = 10)
    },

    // Session-duration quantiles — the composition that shows the rank
    // sketch lifting a REAL bounded-cardinality casualty: session
    // durations are near-continuous (exactQuantiles' contract excludes
    // them) but the dyadic grid sketches them at fixed size. Sessions
    // come from the shared SessionSql chain, durations feed the shared
    // grid/descent replay — BOTH halves are the single spellings their
    // standalone queries use.
    q("q_session_duration_quantiles", "warehouse",
      RankSketchSql.oracleOver(
        "SELECT max(ts_ms) - min(ts_ms) AS v FROM g GROUP BY user_id, sid",
        prefixCtes = SessionSql.ctes)) { (spark, dir) =>
      import spark.implicits._
      val ev = Tables.df(spark, dir, "events")
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          col("event_type"))
        .as[graft.streaming.Sessionize.Event]
      val sess = graft.streaming.Sessionize.sessionizeBatch(spark, ev,
        SessionSql.GapMs).toDF()
      val grid = Sketch.rankGrid(sess,
        col("end_ms") - col("start_ms"),
        RankSketchSql.Depth, RankSketchSql.Width)
      Sketch.rankQuantiles(grid, RankSketchSql.Permilles,
        RankSketchSql.Depth, RankSketchSql.Width)
    },

    // Curation composition v9 — the per-source dashboard: doc counts,
    // CMS top token, and the p500 token-length rank-sketch quantile,
    // all grouped, all in one statement — the "what is each source
    // made of" report a 100 TB warehouse refreshes per ingest at
    // bounded per-source state. Both sketch halves render from the
    // single shared spellings (CmsSql.gridCtesBy, RankSketchSql
    // .groupedWalkCtes) their standalone queries verify.
    q("q_source_dashboard", "warehouse",
      s"""WITH RECURSIVE
         ${CmsSql.gridCtesBy("source")},
         cest AS (SELECT tf.g, tb.s, MIN(cms.c) AS est
                  FROM tb JOIN tf ON tb.s = tf.s
                  JOIN cms ON cms.g = tf.g AND cms.r = tb.r
                    AND cms.bucket = tb.bucket
                  GROUP BY 1, 2),
         top1 AS (SELECT g, s, est FROM (
                    SELECT g, s, est,
                      row_number() OVER (PARTITION BY g
                        ORDER BY est DESC, s) AS rn
                    FROM cest) WHERE rn = 1),
         nd AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY 1),
         ${RankSketchSql.groupedWalkCtes(
           "SELECT source AS g, " +
             "CAST(len(string_split(text, ' ')) AS BIGINT) AS v " +
             "FROM documents WHERE text IS NOT NULL")},
         p500 AS (SELECT g, pfx AS p500_tokens FROM walk
                  WHERE level = -1 AND p = 500),
         hx2 AS (SELECT DISTINCT tf.g, mm.u
                 FROM tf JOIN mm ON mm.s = tf.s),
         rk2 AS (SELECT g, u, row_number() OVER (PARTITION BY g
                   ORDER BY u) AS r FROM hx2),
         syn2 AS (SELECT g, count(*) AS nh,
                   max(CASE WHEN r = 64 THEN u END) AS uk
                 FROM rk2 GROUP BY 1),
         kd AS (SELECT g, CAST(CASE WHEN nh < 64 THEN nh
                     ELSE 63 * 4294967296 // (uk + 1)
                   END AS BIGINT) AS distinct_tokens_est
                FROM syn2)
         SELECT nd.g AS source, nd.n_docs, top1.s AS top_token,
                CAST(top1.est AS BIGINT) AS top_token_est,
                p500.p500_tokens, kd.distinct_tokens_est
         FROM nd JOIN top1 ON top1.g = nd.g
         JOIN p500 ON p500.g = nd.g
         JOIN kd ON kd.g = nd.g""") { (spark, dir) =>
      val docs = Tables.df(spark, dir, "documents")
      val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val top1 = Sketch.cmsHeavyHittersBy(docs, "text", "source",
          CmsSql.Depth, CmsSql.Width, k = 1)
        .select(col("source"), col("token").as("top_token"),
          col("est").as("top_token_est"))
      val grid = Sketch.rankGridBy(docs,
        size(split(col("text"), " ")).cast("long"), Seq("source"),
        RankSketchSql.Depth, RankSketchSql.Width)
      val p500 = Sketch.rankQuantilesBy(grid, Seq("source"),
          RankSketchSql.Permilles, RankSketchSql.Depth,
          RankSketchSql.Width)
        .filter(col("permille") === 500)
        .select(col("source"), col("q_est").as("p500_tokens"))
      // the THIRD synopsis: per-source distinct-vocabulary KMV over
      // the same whitespace tokens the CMS grid counts (oracle
      // reuses the grid's murmur chain — one hash spelling)
      val toks = docs
        .select(col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
      val kd = Sketch.kmvSynopsis(toks, "tok", 64, Seq("source"))
        .select(col("source"),
          Sketch.kmvEstimate(col("kmv"), 64).as("distinct_tokens_est"))
      nd.join(top1, "source").join(p500, "source").join(kd, "source")
    },

    // Per-group rank-sketch quantiles: per-event_type timestamp
    // permilles off per-group dyadic grids built in the same single
    // corpus pass (groups x grid cells through one partial-aggregated
    // exchange; the walk collects groups x 262k cells — the
    // dashboard-sized group contract). Oracle = the grouped recursive
    // CTE twin, same mixer and constants as q_rank_quantiles.
    q("q_rank_quantiles_by_type", "warehouse",
      RankSketchSql.groupedOracle) { (spark, dir) =>
      val grid = Sketch.rankGridBy(Tables.df(spark, dir, "events"),
        unix_micros(col("ts")), Seq("event_type"),
        RankSketchSql.Depth, RankSketchSql.Width)
      Sketch.rankQuantilesBy(grid, Seq("event_type"),
        RankSketchSql.Permilles, RankSketchSql.Depth,
        RankSketchSql.Width)
    },

    // The UNBOUNDED-group-domain walk — the distributed alternative
    // the maxGroups guard names, as a first-class query: the same
    // per-event_type quantiles as q_rank_quantiles_by_type, but the
    // walkers descend via 16 bounded-fan joins against the
    // distributed grid (no driver collect of cells — the shape that
    // survives millions of groups). Same integer arithmetic as
    // walkGrid re-expressed relationally, so the oracle is the
    // grouped recursive-CTE twin VERBATIM — collected walk,
    // join walk, and SQL replay all land one hash.
    q("q_rank_quantiles_join", "warehouse",
      RankSketchSql.groupedOracle) { (spark, dir) =>
      val grid = Sketch.rankGridBy(Tables.df(spark, dir, "events"),
        unix_micros(col("ts")), Seq("event_type"),
        RankSketchSql.Depth, RankSketchSql.Width)
      Sketch.rankQuantilesByJoin(grid, Seq("event_type"),
        RankSketchSql.Permilles, RankSketchSql.Depth,
        RankSketchSql.Width)
    },

    // Composition v11 — the PER-USER dashboard on the UNBOUNDED
    // faces: one statement answers "how active is each user, what do
    // they do, when is their median moment" for EVERY user — a group
    // domain that grows with the corpus, exactly the class the
    // collected walks' maxGroups guards reject at scale. Every face
    // is collect-free and broadcast-free: plain grouped count,
    // shuffled-grid heavy hitters (cmsHeavyHittersByJoin — the
    // q_heavy_hitters_join face), and the fused join walk
    // (rankQuantilesByJoin — the q_rank_quantiles_join face); every
    // shuffle is keyed on user_id, so at 100 TB this is three
    // group-partitioned passes and two user-keyed joins, state
    // walker/grid-sized throughout. The oracle composes the SAME
    // grouped spellings those standalone faces verify (the CTE
    // skeletons of hhBySourceOracle and groupedWalkCtes, re-sourced
    // per user) as scoped subqueries — v10's shared-spelling
    // discipline on the unbounded family.
    q("q_user_dashboard", "warehouse", userDashboardOracle) {
      (spark, dir) =>
      val ev = Tables.df(spark, dir, "events")
        .filter(col("user_id").isNotNull)
      val counts = ev.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"))
      val top1 = Sketch.cmsHeavyHittersByJoin(ev, "props", "user_id",
          CmsSql.Depth, CmsSql.Width, k = 1)
        .select(col("user_id"), col("token").as("top_token"),
          col("est").as("top_token_est"))
      val grid = Sketch.rankGridBy(ev.filter(col("ts").isNotNull),
        unix_micros(col("ts")), Seq("user_id"),
        RankSketchSql.Depth, RankSketchSql.Width)
      val p500 = Sketch.rankQuantilesByJoin(grid, Seq("user_id"),
          Seq(500), RankSketchSql.Depth, RankSketchSql.Width)
        .select(col("user_id"), col("q_est").as("p500_ts_us"))
      counts.join(top1, "user_id").join(p500, "user_id")
    },

    // Entity resolution end-to-end: clean + dirtied names as ONE
    // corpus, fuzzy-matched at edit distance <= 1 (FastSS blocking),
    // the match graph resolved into entities by connected components,
    // canonical = min member id, with per-entity size. Names carry a
    // mod-11 checksum character so distinct canonical entities sit at
    // distance >= 2 (any single-digit change flips the checksum —
    // 10^p = +/-1 mod 11, so no in-corpus digit edit cancels), which
    // is what keeps dense serial numbers from chaining into one giant
    // entity; each dirty copy (substituted/deleted digit, or exact
    // dup) attaches to its own canonical. The oracle is the all-pairs
    // Levenshtein twin + a recursive-CTE min-label closure.
    q("q_entity_resolution", "warehouse",
      """WITH RECURSIVE base0 AS (
           SELECT c_custkey AS k,
                  'Customer#' ||
                    lpad(CAST(c_custkey AS VARCHAR), 9, '0') ||
                    chr(65 + CAST(c_custkey % 11 AS INT)) AS nm,
                  10 + c_custkey % 8 AS p
           FROM customer WHERE c_custkey % 2 = 0),
         base AS (
           SELECT k AS id, nm AS name FROM base0
           UNION ALL
           SELECT k + 1000000,
             CASE CAST(k % 3 AS INT)
               WHEN 0 THEN substr(nm, 1, p - 1)
                 || chr((ord(substr(nm, p, 1)) - 48 + 1) % 10 + 48)
                 || substr(nm, p + 1)
               WHEN 1 THEN substr(nm, 1, p - 1) || substr(nm, p + 1)
               ELSE nm END
           FROM base0),
         cand AS (
           SELECT a.id AS a_id, b.id AS b_id
           FROM base a JOIN base b
             ON a.id < b.id
            AND abs(length(a.name) - length(b.name)) <= 1
            AND levenshtein(a.name, b.name) <= 1),
         edges AS (SELECT a_id AS a, b_id AS b FROM cand
                   UNION SELECT b_id, a_id FROM cand),
         reach(id, r) AS (
           SELECT a, a FROM edges
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         comp AS (SELECT id, min(r) AS entity_id FROM reach GROUP BY id),
         resolved AS (
           SELECT b.id, COALESCE(c.entity_id, b.id) AS entity_id
           FROM base b LEFT JOIN comp c ON b.id = c.id),
         sizes AS (SELECT entity_id, CAST(count(*) AS BIGINT)
                     AS entity_size
                   FROM resolved GROUP BY 1)
         SELECT r.id, r.entity_id, s.entity_size
         FROM resolved r JOIN sizes s USING (entity_id)""") {
      (spark, dir) =>
      val base0 = Tables.df(spark, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("k"),
          expr("""concat('Customer#',
                    lpad(CAST(c_custkey AS STRING), 9, '0'),
                    char(65 + CAST(c_custkey % 11 AS INT)))""").as("nm"),
          (lit(10) + col("c_custkey") % 8).as("p"))
      val clean = base0.select(col("k").as("id"), col("nm").as("name"))
      val dirty = base0.select((col("k") + 1000000L).as("id"),
        expr("""CASE CAST(k % 3 AS INT)
                  WHEN 0 THEN concat(substring(nm, 1, CAST(p - 1 AS INT)),
                    char((ascii(substring(nm, CAST(p AS INT), 1))
                          - 48 + 1) % 10 + 48),
                    substring(nm, CAST(p + 1 AS INT), 100))
                  WHEN 1 THEN concat(substring(nm, 1, CAST(p - 1 AS INT)),
                    substring(nm, CAST(p + 1 AS INT), 100))
                  ELSE nm END""").as("name"))
      val corpus = clean.unionByName(dirty)
      val pairs = Linkage.fuzzyJoin(corpus,
          corpus.withColumnRenamed("id", "rid"),
          "id", "name", "rid", "name", maxEdit = 1)
        .filter(col("id") < col("rid"))
      val labels = Dedup.connectedComponents(pairs, "id", "rid")
      val resolved = corpus
        .join(labels.withColumnRenamed("id", "lid"),
          col("id") === col("lid"), "left")
        .select(col("id"), coalesce(col("comp"), col("id"))
          .as("entity_id"))
      val sizes = resolved.groupBy("entity_id")
        .agg(count(lit(1)).as("entity_size"))
      resolved.join(sizes, "entity_id")
        .select(col("id"), col("entity_id"), col("entity_size"))
    },

    // Incremental entity assignment: a batch of incoming mentions
    // (dirtied copies of even-key canonicals + genuinely-new odd-key
    // names) matched against the frozen even-key entity index at
    // d<=1. Matched rows take the best (dist, entity) pair — the
    // total-order tie-break replayed by the oracle's row_number —
    // unmatched rows open NEW entities under their own id; the mod-11
    // checksum keeps odd-key names >= 2 edits from every canonical,
    // so both branches are load-bearing in the hash. The daily-batch
    // twin of q_entity_resolution: one blocking shuffle, no closure.
    q("q_er_incremental", "warehouse",
      """WITH base0 AS (
           SELECT c_custkey AS k,
                  'Customer#' ||
                    lpad(CAST(c_custkey AS VARCHAR), 9, '0') ||
                    chr(65 + CAST(c_custkey % 11 AS INT)) AS nm,
                  10 + c_custkey % 8 AS p
           FROM customer),
         ent AS (SELECT k AS eid, nm AS ename FROM base0
                 WHERE k % 2 = 0),
         batch AS (
           SELECT k + 1000000 AS id,
             CASE CAST(k % 3 AS INT)
               WHEN 0 THEN substr(nm, 1, p - 1)
                 || chr((ord(substr(nm, p, 1)) - 48 + 1) % 10 + 48)
                 || substr(nm, p + 1)
               WHEN 1 THEN substr(nm, 1, p - 1) || substr(nm, p + 1)
               ELSE nm END AS name
           FROM base0 WHERE k % 2 = 0
           UNION ALL
           SELECT k + 1000000, nm FROM base0 WHERE k % 2 = 1),
         m AS (SELECT b.id, e.eid,
                      CAST(levenshtein(b.name, e.ename) AS BIGINT)
                        AS dist
               FROM batch b JOIN ent e
                 ON abs(length(b.name) - length(e.ename)) <= 1
                AND levenshtein(b.name, e.ename) <= 1),
         best AS (SELECT id, eid, dist FROM (
             SELECT id, eid, dist,
                    row_number() OVER (PARTITION BY id
                                       ORDER BY dist, eid) AS rn
             FROM m) t WHERE rn = 1)
         SELECT b.id, COALESCE(s.eid, b.id) AS entity_id, s.dist,
                s.eid IS NULL AS is_new
         FROM batch b LEFT JOIN best s USING (id)""") { (spark, dir) =>
      val base0 = Tables.df(spark, dir, "customer")
        .select(col("c_custkey").as("k"),
          expr("""concat('Customer#',
                    lpad(CAST(c_custkey AS STRING), 9, '0'),
                    char(65 + CAST(c_custkey % 11 AS INT)))""").as("nm"),
          (lit(10) + col("c_custkey") % 8).as("p"))
      val ents = base0.filter(col("k") % 2 === 0)
        .select(col("k").as("eid"), col("nm").as("ename"))
      val batch = base0.filter(col("k") % 2 === 0)
        .select((col("k") + 1000000L).as("id"),
          expr("""CASE CAST(k % 3 AS INT)
                    WHEN 0 THEN concat(substring(nm, 1, CAST(p - 1 AS INT)),
                      char((ascii(substring(nm, CAST(p AS INT), 1))
                            - 48 + 1) % 10 + 48),
                      substring(nm, CAST(p + 1 AS INT), 100))
                    WHEN 1 THEN concat(substring(nm, 1, CAST(p - 1 AS INT)),
                      substring(nm, CAST(p + 1 AS INT), 100))
                    ELSE nm END""").as("name"))
        .unionByName(base0.filter(col("k") % 2 === 1)
          .select((col("k") + 1000000L).as("id"), col("nm").as("name")))
      Linkage.assignToEntities(batch, ents, "id", "name",
        "eid", "ename", maxEdit = 1)
    },

    // STREAMING SCD2 maintenance: the same update batch arrives as a
    // micro-batch through the real foreachBatch runner and folds into
    // the dim via scd2Merge — for a one-batch stream the fold equals
    // the batch merge EXACTLY, so this shares q_scd2_merge's oracle
    // verbatim (multi-batch sequencing, where order matters, is
    // spec-pinned with controlled staging instead).
    q("q_stream_scd2", "warehouse",
      s"""WITH $scd2MergedCtes
         SELECT * FROM merged""") { (spark, dir) =>
      val staged = java.nio.file.Files.createTempDirectory("graft_sscd")
      try {
        val up = s"$staged/updates"
        scd2Updates(spark, dir).coalesce(1).write
          .mode("overwrite").parquet(up)
        graft.streaming.IngestStream.runScd2ToBatch(spark, up,
          scd2Dim(spark, dir), "c_custkey",
          Seq("c_mktsegment", "c_acctbal"), _ => "2024-02-01",
          scd2Updates(spark, dir).schema)
      } finally graft.core.Fs.deleteRecursively(staged.toFile)
    },

    // OUT-OF-ORDER streaming SCD2: each update carries its OWN
    // effective date and the three micro-batch files are staged so a
    // key's LATER version often arrives FIRST (file index mixes key
    // and date) — the delivery shape q_stream_scd2's in-arrival-order
    // fold cannot survive. The reordering buffer folds strictly by
    // effective date behind a 5-day lateness watermark, so the final
    // history is the in-date-order rebuild exactly. Every update is a
    // genuine change (suffixing the tracked value), so the oracle can
    // spell the rebuilt history directly: version intervals are a
    // LEAD window over {initial} ∪ {updates} per key in date order.
    q("q_stream_scd2_ooo", "warehouse",
      """WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg
                       FROM customer),
         upd AS (
           SELECT k, seg || '_a' AS attr,
                  CASE WHEN k % 6 = 0 THEN '2024-01-02'
                       ELSE '2024-01-03' END AS eff
           FROM base WHERE k % 3 = 0
           UNION ALL
           SELECT k, seg || '_b', '2024-01-04' FROM base WHERE k % 6 = 0),
         vers AS (
           SELECT k, seg AS attr, '2024-01-01' AS eff FROM base
           UNION ALL SELECT k, attr, eff FROM upd),
         final AS (
           SELECT k, attr, eff,
             LEAD(eff) OVER (PARTITION BY k ORDER BY eff) AS nxt
           FROM vers)
         SELECT CAST(k AS BIGINT) AS c_custkey, attr AS c_mktsegment,
                eff AS valid_from, nxt AS valid_to,
                nxt IS NULL AS is_current
         FROM final""") { (spark, dir) =>
      val base = Tables.df(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val initial = base.select(col("c_custkey"), col("c_mktsegment"),
        lit("2024-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      val k = col("c_custkey")
      val upd = base.filter(k % 3 === 0)
        .select(k, concat(col("c_mktsegment"), lit("_a"))
            .as("c_mktsegment"),
          when(k % 6 === 0, "2024-01-02").otherwise("2024-01-03")
            .as("eff"),
          when(k % 6 === 0, pmod(k / 3 + 2, lit(3)))
            .otherwise(pmod(k / 3 + 3, lit(3))).as("fidx"))
        .unionByName(base.filter(k % 6 === 0)
          .select(k, concat(col("c_mktsegment"), lit("_b"))
              .as("c_mktsegment"),
            lit("2024-01-04").as("eff"),
            pmod(k / 3 + 4, lit(3)).as("fidx")))
      val staged = java.nio.file.Files.createTempDirectory("graft_ooscd")
      val tmp = java.nio.file.Files.createTempDirectory("graft_ooscd_w")
      try {
        val base0 = System.currentTimeMillis()
        (0 until 3).foreach { i =>
          val d = tmp.resolve(s"b$i")
          upd.filter(col("fidx") === i).drop("fidx").coalesce(1)
            .write.parquet(d.toString)
          val part = java.nio.file.Files.list(d).toArray
            .map(_.toString).filter(_.endsWith(".parquet")).head
          val dst = staged.resolve(s"b$i.parquet")
          java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
          dst.toFile.setLastModified(base0 - (4 - i) * 60000L): Unit
        }
        graft.streaming.IngestStream.runScd2ToBatchReordered(spark,
          staged.toString, initial, "c_custkey", Seq("c_mktsegment"),
          "eff", latenessDays = 5, upd.drop("fidx").schema,
          maxFilesPerTrigger = Some(1))
      } finally {
        graft.core.Fs.deleteRecursively(staged.toFile)
        graft.core.Fs.deleteRecursively(tmp.toFile)
      }
    },

    // Curation composition v7 — the domain-prior shape: TrustRank
    // mass over the doc link graph (teleport to the %17 trusted
    // seeds) becomes the selection score, and the token budget is
    // spent highest-trust-first (trust_mass desc, doc_id) until the
    // inclusive prefix no longer fits — the CommonCrawl-style "trust
    // the link graph before reading the text" pipeline. The oracle
    // chains the q_trustrank recursive CTE into the budget window.
    q("q_curate_corpus_v7", "warehouse",
      s"""WITH RECURSIVE $linkGraphCtes,
         $trustTeleportCtes,
         ${trustBudgetTailSql("trust")}""") { (spark, dir) =>
      val (docs, _, edges) = linkGraph(spark, dir)
      val trust = Graph.trustRank(edges, "src", "dst",
        docs.filter(col("doc_id") % 17 === 0), iterations = 8,
        nodesOpt = Some(docs))
      val feats = Tables.df(spark, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(trust, col("doc_id") === col("node"))
        .select(col("doc_id"), col("tokens"), col("rank").as("trust"))
      graft.ops.Pack.selectUnderBudget(feats, "doc_id", "tokens",
          "trust", 12000L)
        .withColumnRenamed("score", "trust_mass")
    },

    // Curation composition v8 — the STRUCTURAL spam gate: members of
    // the link graph's 4-core are link-farm suspects (organic
    // periphery peels away; farms are mutually dense) and are dropped
    // UNLESS TrustRank rescues them (trust >= 1000 over the same
    // graph, %17 seeds); survivors spend the 12k-token budget
    // highest-trust-first. On the core-periphery fixture the gate
    // splits the 350-node core 114 rescued / 236 dropped with all 150
    // periphery docs surviving — every branch load-bearing in the
    // hash. The oracle chains BOTH recursive CTEs (the strictly-
    // shrinking peel and the 8-round seeded teleport) into the budget
    // prefix-sum window; graph, peel, teleport, and budget tail are
    // THE SAME Scala constants the standalone queries render.
    q("q_curate_corpus_v8", "warehouse",
      s"""WITH RECURSIVE $corePeriphGraphCtes,
         $kCorePeelCtes,
         $trustTeleportCtes,
         kept AS (SELECT tr.node, tr.r FROM trust tr
                  WHERE tr.r >= 1000
                     OR tr.node NOT IN (SELECT node FROM core)),
         ${trustBudgetTailSql("kept")}""") { (spark, dir) =>
      val (docs, _, rawEdges) = corePeriphGraph(spark, dir)
      // consumed by BOTH the peel and the ranker
      val edges = rawEdges.localCheckpoint()
      val core = Graph.kCore(edges, "src", "dst", k = 4)
        .select(col("node").as("_core"))
      val trust = Graph.trustRank(edges, "src", "dst",
        docs.filter(col("doc_id") % 17 === 0), iterations = 8,
        nodesOpt = Some(docs))
      // no broadcast hint: the core is data-sized (a spam-heavy crawl
      // can have a huge 4-core) — AQE broadcasts when it is small
      val kept = trust.join(core,
          trust("node") === core("_core"), "left")
        .filter(col("rank") >= 1000 || col("_core").isNull)
        .select(col("node"), col("rank"))
      val feats = Tables.df(spark, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("tokens"))
        .join(kept, col("doc_id") === col("node"))
        .select(col("doc_id"), col("tokens"), col("rank").as("trust"))
      val out = graft.ops.Pack.selectUnderBudget(feats, "doc_id",
          "tokens", "trust", 12000L)
        .withColumnRenamed("score", "trust_mass")
      graft.core.Checkpoints.release(edges)
      out
    },

    // l-diverse release at k=10, l=5 over 7 sensitive classes: 623
    // combinations publish, 106 fail the row threshold and 16 pass it
    // but fail DIVERSITY (≥10 rows yet <5 distinct sensitive values —
    // the homogeneity attack k-anonymity misses) — all three outcomes
    // land in the hash, the fail-l groups only via the l-branch.
    q("q_ldiverse_release", "warehouse",
      """WITH g1 AS (
           SELECT COALESCE(event_type, '*') AS event_type,
                  COALESCE(CAST(user_id % 149 AS VARCHAR), '*') AS cohort,
                  CAST(event_id % 7 AS VARCHAR) AS sens,
                  count(*) AS c
           FROM events GROUP BY 1, 2, 3),
         g2 AS (SELECT event_type, cohort, sum(c) AS n, count(*) AS l
                FROM g1 GROUP BY 1, 2),
         m AS (
           SELECT CASE WHEN g2.n >= 10 AND g2.l >= 5
                       THEN g1.event_type ELSE '*' END AS event_type,
                  CASE WHEN g2.n >= 10 AND g2.l >= 5
                       THEN g1.cohort ELSE '*' END AS cohort,
                  g1.sens, g1.c
           FROM g1 JOIN g2 USING (event_type, cohort))
         SELECT event_type, cohort, CAST(sum(c) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT sens) AS BIGINT) AS n_sensitive
         FROM m GROUP BY 1, 2""") { (spark, dir) =>
      Quality.lDiverseRelease(
        Tables.df(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 149).as("cohort"),
            (col("event_id") % 7).as("sens")),
        Seq("event_type", "cohort"), "sens", k = 10, l = 5)
    },

    // t-close release at k=10, t=0.200: the skewness attack l-diversity
    // misses — a group can carry >=5 distinct sensitive values in
    // wildly non-global proportions. 146 combinations publish, 106
    // fail the row threshold, 493 pass it but sit further than TVD
    // 0.2 from the global sensitive distribution; the check is
    // integer-exact (HUGEINT here, DECIMAL(38,0) in the engine), with
    // absent (group, value) cells folded in as (N - cov)*n rather
    // than materialized.
    q("q_tclose_release", "warehouse",
      """WITH g1 AS (
           SELECT COALESCE(event_type, '*') AS event_type,
                  COALESCE(CAST(user_id % 149 AS VARCHAR), '*') AS cohort,
                  CAST(event_id % 7 AS VARCHAR) AS sens,
                  count(*) AS c
           FROM events GROUP BY 1, 2, 3),
         gd AS (SELECT sens, sum(c) AS cv FROM g1 GROUP BY 1),
         nn AS (SELECT sum(c) AS n FROM g1),
         w AS (SELECT g1.*, gd.cv,
                 sum(c) OVER (PARTITION BY event_type, cohort) AS ng
               FROM g1 JOIN gd USING (sens)),
         per AS (SELECT event_type, cohort, max(ng) AS ng,
                  sum(abs(CAST(c AS HUGEINT) * (SELECT n FROM nn)
                      - CAST(cv AS HUGEINT) * ng)) AS s1,
                  sum(cv) AS cov
                 FROM w GROUP BY 1, 2),
         v AS (SELECT *,
                 ng >= 10 AND
                 (s1 + (CAST((SELECT n FROM nn) AS HUGEINT) - cov) * ng)
                   * 1000
                   <= 2 * 200 * CAST(ng AS HUGEINT) * (SELECT n FROM nn)
                   AS pub
               FROM per),
         m AS (SELECT CASE WHEN pub THEN event_type ELSE '*' END
                        AS event_type,
                      CASE WHEN pub THEN cohort ELSE '*' END AS cohort,
                      ng
               FROM v)
         SELECT event_type, cohort, CAST(sum(ng) AS BIGINT) AS n_rows
         FROM m GROUP BY 1, 2""") { (spark, dir) =>
      Quality.tCloseRelease(
        Tables.df(spark, dir, "events")
          .select(col("event_type"), (col("user_id") % 149).as("cohort"),
            (col("event_id") % 7).as("sens")),
        Seq("event_type", "cohort"), "sens", k = 10, tPermille = 200)
    },

    // Benford first-digit QC of the event value per type: the
    // fabricated-number audit. Uniform synthetic values are decisively
    // NON-Benford (~270 permille TVD vs the 100-permille gate), so
    // every type flags — the verdict is constant but `dev` (the exact
    // integer distance) carries the full continuous signal into the
    // hash; BenfordSpec exercises the passing branch on log-spread
    // data. Digits come from the integer's decimal string (never
    // log10); absent digits fold through the 9-row Benford grid.
    q("q_benford_values", "warehouse",
      """WITH v AS (SELECT event_type,
                      CAST(floor(abs(value)) AS BIGINT) AS ip
                    FROM events
                    WHERE value IS NOT NULL AND abs(value) >= 1),
         c AS (SELECT event_type,
                 CAST(CAST(ip AS VARCHAR)[1] AS INT) AS digit,
                 count(*) AS c
               FROM v GROUP BY 1, 2),
         g AS (SELECT event_type, sum(c) AS n FROM c GROUP BY 1),
         b AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
                 unnest([301,176,125,97,79,67,58,51,46]) AS bp),
         dv AS (SELECT g.event_type, min(g.n) AS n_values,
                  sum(abs(COALESCE(c.c, 0) * 1000 - b.bp * g.n)) AS dev
                FROM g CROSS JOIN b
                LEFT JOIN c ON c.event_type = g.event_type
                           AND c.digit = b.digit
                GROUP BY 1)
         SELECT event_type, CAST(n_values AS BIGINT) AS n_values,
                CAST(dev AS BIGINT) AS dev,
                dev <= 2 * 100 * n_values AS benford_ok
         FROM dv""") { (spark, dir) =>
      Stats.benfordQc(Tables.df(spark, dir, "events"),
        Seq("event_type"), col("value"), tPermille = 100L)
    },

    // Quantile winsorization of the event value at [p05, p95]: clip,
    // don't drop — every input row survives with its tail value pulled
    // to the integer type-1 thresholds; NULL values pass through
    // un-clipped. floor() before the double->long cast on BOTH sides
    // (DuckDB CAST rounds, Spark truncates — the one rounding-rule
    // divergence this query must not touch).
    q("q_winsorize", "warehouse",
      """WITH v AS (SELECT event_id,
                  CAST(floor(value) AS BIGINT) AS x FROM events),
         nn AS (SELECT x FROM v WHERE x IS NOT NULL),
         lo AS (SELECT v FROM (
           SELECT x AS v, sum(1) OVER (ORDER BY x) AS cum,
                  count(*) OVER () AS n
           FROM nn) t WHERE cum >= (50 * n + 999) // 1000
           ORDER BY v LIMIT 1),
         hi AS (SELECT v FROM (
           SELECT x AS v, sum(1) OVER (ORDER BY x) AS cum,
                  count(*) OVER () AS n
           FROM nn) t WHERE cum >= (950 * n + 999) // 1000
           ORDER BY v LIMIT 1)
         SELECT event_id, x,
                CASE WHEN x IS NULL THEN NULL
                     ELSE least(greatest(x, (SELECT v FROM lo)),
                                (SELECT v FROM hi)) END AS x_wins
         FROM v""") { (spark, dir) =>
      Stats.winsorize(
        Tables.df(spark, dir, "events")
          .select(col("event_id"), floor(col("value")).as("value")),
        "event_id", col("value"), loPermille = 50, hiPermille = 950)
    })
}

package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.MortonExpr
import graft.operators.{Association, Chat, EventAnalytics, Graphs, Reshape, ScaleAudit, TextAnalysis, TextDedup, TokenizerStore}
import graft.sources.Tables

/** Assorted warehouse workloads rounding out the surface: RFM
  * segmentation, Kaplan–Meier survival tables, per-cell association
  * measures (PMI / χ²), melt/unpivot, join-key skew audit, Z-order
  * layout keys, and bounded BFS over the near-dup graph.
  */
object WorkloadQueries {

  /** RFM segmentation ([[EventAnalytics.rfmSegments]]): quintile
    * breakpoints broadcast (never ntile's global window), 5 = best.
    */
  val q188Rfm = HarnessQuery(
    "q188_rfm",
    (spark, dir) =>
      EventAnalytics.rfmSegments(
        Tables.events(spark, dir), "user_id", "ts", "value")
        .orderBy(col("user_id")),
    Some("""
      WITH pu AS (
        SELECT user_id,
               max(epoch_us(CAST(ts AS TIMESTAMP))) // 86400000000
                 AS last_day,
               count(*) AS frequency,
               CAST(sum(CAST("value" AS DECIMAL(28,6))) AS DOUBLE)
                 AS monetary
        FROM events GROUP BY 1),
      rfm AS (
        SELECT user_id,
               (SELECT max(last_day) FROM pu) - last_day AS recency_days,
               frequency, monetary
        FROM pu),
      br AS (
        SELECT quantile_cont(CAST(recency_days AS DOUBLE),
                 [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(CAST(frequency AS DOUBLE),
                 [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM rfm),
      sc AS (
        SELECT user_id, recency_days, frequency, monetary,
               CAST(6 - (1
                 + CASE WHEN CAST(recency_days AS DOUBLE) > rb[1]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(recency_days AS DOUBLE) > rb[2]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(recency_days AS DOUBLE) > rb[3]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(recency_days AS DOUBLE) > rb[4]
                     THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
               CAST(1
                 + CASE WHEN CAST(frequency AS DOUBLE) > fb[1]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(frequency AS DOUBLE) > fb[2]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(frequency AS DOUBLE) > fb[3]
                     THEN 1 ELSE 0 END
                 + CASE WHEN CAST(frequency AS DOUBLE) > fb[4]
                     THEN 1 ELSE 0 END AS BIGINT) AS f_score,
               CAST(1
                 + CASE WHEN monetary > mb[1] THEN 1 ELSE 0 END
                 + CASE WHEN monetary > mb[2] THEN 1 ELSE 0 END
                 + CASE WHEN monetary > mb[3] THEN 1 ELSE 0 END
                 + CASE WHEN monetary > mb[4] THEN 1 ELSE 0 END
                 AS BIGINT) AS m_score
        FROM rfm, br)
      SELECT user_id, recency_days, frequency, monetary,
             r_score, f_score, m_score,
             r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR
               AS segment
      FROM sc ORDER BY 1
    """.trim))

  /** Kaplan–Meier signup→purchase survival table
    * ([[EventAnalytics.survivalTable]]): exact integer event/at-risk
    * counts per duration day, censoring at the corpus horizon.
    */
  val q189Survival = HarnessQuery(
    "q189_survival",
    (spark, dir) =>
      EventAnalytics.survivalTable(
        Tables.events(spark, dir), "user_id", "ts", "event_type",
        "signup", "purchase")
        .orderBy(col("dur_day")),
    Some("""
      WITH s AS (
        SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS s_us
        FROM events WHERE event_type = 'signup' GROUP BY 1),
      e AS (
        SELECT s.user_id, s.s_us,
               min(epoch_us(CAST(ev.ts AS TIMESTAMP))) AS e_us
        FROM s LEFT JOIN events ev
          ON ev.user_id = s.user_id AND ev.event_type = 'purchase'
          AND epoch_us(CAST(ev.ts AS TIMESTAMP)) >= s.s_us
        GROUP BY 1, 2),
      d AS (
        SELECT user_id,
               CASE WHEN e_us IS NOT NULL
                 THEN (e_us - s_us) // 86400000000
                 ELSE ((SELECT max(epoch_us(CAST(ts AS TIMESTAMP)))
                        FROM events) - s_us) // 86400000000
               END AS dur_day,
               e_us IS NOT NULL AS observed
        FROM e),
      g AS (
        SELECT dur_day,
               CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_censored,
               count(*) AS n_all
        FROM d GROUP BY 1)
      SELECT dur_day, n_events, n_censored,
             CAST((SELECT count(*) FROM d)
               - sum(n_all) OVER (ORDER BY dur_day) + n_all AS BIGINT)
               AS n_at_risk,
             1.0 - CAST(n_events AS DOUBLE)
               / CAST((SELECT count(*) FROM d)
                   - sum(n_all) OVER (ORDER BY dur_day) + n_all AS DOUBLE)
               AS km_factor
      FROM g WHERE n_events > 0 ORDER BY 1
    """.trim))

  /** PMI per (mktsegment, nation) cell ([[Association.pmiCells]]):
    * exact counts, one log expression per cell.
    */
  val q190Pmi = HarnessQuery(
    "q190_pmi",
    (spark, dir) =>
      Association.pmiCells(
        Tables.customer(spark, dir), "c_mktsegment", "c_nationkey")
        .orderBy(col("c_mktsegment"), col("c_nationkey")),
    Some("""
      WITH ab AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n_ab
        FROM customer GROUP BY 1, 2),
      ma AS (SELECT c_mktsegment, CAST(sum(n_ab) AS BIGINT) AS n_a
             FROM ab GROUP BY 1),
      mb AS (SELECT c_nationkey, CAST(sum(n_ab) AS BIGINT) AS n_b
             FROM ab GROUP BY 1),
      t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM ab)
      SELECT ab.c_mktsegment, ab.c_nationkey, ab.n_ab, ma.n_a, mb.n_b,
             round(ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 12) AS pmi,
             round(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 12)
               AS mi_contrib
      FROM ab JOIN ma USING (c_mktsegment)
        JOIN mb USING (c_nationkey), t
      ORDER BY 1, 2
    """.trim))

  /** χ² contribution per (mktsegment, nation) cell
    * ([[Association.chiSquareCells]]).
    */
  val q191Chi2 = HarnessQuery(
    "q191_chi2",
    (spark, dir) =>
      Association.chiSquareCells(
        Tables.customer(spark, dir), "c_mktsegment", "c_nationkey")
        .orderBy(col("c_mktsegment"), col("c_nationkey")),
    Some("""
      WITH ab AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n_ab
        FROM customer GROUP BY 1, 2),
      ma AS (SELECT c_mktsegment, CAST(sum(n_ab) AS BIGINT) AS n_a
             FROM ab GROUP BY 1),
      mb AS (SELECT c_nationkey, CAST(sum(n_ab) AS BIGINT) AS n_b
             FROM ab GROUP BY 1),
      t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM ab)
      SELECT ab.c_mktsegment, ab.c_nationkey, ab.n_ab,
             CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
               / CAST(n AS DOUBLE) AS expected,
             (CAST(n_ab AS DOUBLE)
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 / CAST(n AS DOUBLE))
             * (CAST(n_ab AS DOUBLE)
               - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 / CAST(n AS DOUBLE))
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 / CAST(n AS DOUBLE)) AS chi2_contrib
      FROM ab JOIN ma USING (c_mktsegment)
        JOIN mb USING (c_nationkey), t
      ORDER BY 1, 2
    """.trim))

  /** Melt/unpivot ([[Reshape.melt]]): lineitem metrics to long
    * format on a deterministic order slice.
    */
  val q192Melt = HarnessQuery(
    "q192_melt",
    (spark, dir) =>
      Reshape.melt(
        Tables.lineitem(spark, dir).where(col("l_orderkey") % 997 === 0),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""
      WITH src AS (
        SELECT * FROM lineitem WHERE l_orderkey % 997 = 0)
      SELECT l_orderkey, l_linenumber, metric, "value" FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
               CAST(l_quantity AS DOUBLE) AS "value" FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice',
               CAST(l_extendedprice AS DOUBLE) FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount',
               CAST(l_discount AS DOUBLE) FROM src
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax',
               CAST(l_tax AS DOUBLE) FROM src)
      ORDER BY 1, 2, 3
    """.trim))

  /** Join-key skew audit ([[ScaleAudit.keySkewProfile]]) over the
    * lineitem join keys — the pre-flight check before keying a
    * shuffle on any of them.
    */
  val q193SkewProfile = HarnessQuery(
    "q193_skew_profile",
    (spark, dir) =>
      ScaleAudit.keySkewProfile(
        Tables.lineitem(spark, dir),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
        .orderBy(col("key_col")),
    Some("""
      WITH p AS (
        SELECT 'l_orderkey' AS key_col, count(*) AS n FROM lineitem
          GROUP BY l_orderkey
        UNION ALL
        SELECT 'l_partkey', count(*) FROM lineitem GROUP BY l_partkey
        UNION ALL
        SELECT 'l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey)
      SELECT key_col, count(*) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_freq,
             CAST(max(n) AS DOUBLE)
               / (CAST(sum(n) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               AS skew_ratio,
             CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)
               AS top_key_share
      FROM p GROUP BY 1 ORDER BY 1
    """.trim))

  /** Z-order layout keys ([[MortonExpr]], codegen'd): bucketed
    * (part, supplier) dims interleaved into one clustering key — the
    * multi-dimensional sort key a 100 TB layout writer orders files
    * by. The oracle re-derives the interleave with plain bit
    * arithmetic.
    */
  val q194Zorder = HarnessQuery(
    "q194_zorder",
    (spark, dir) =>
      Tables.lineitem(spark, dir)
        .where(col("l_orderkey") % 499 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(1024L)).as("x"),
          pmod(col("l_suppkey"), lit(1024L)).as("y"))
        .withColumn("z",
          MortonExpr.morton(spark, col("x"), col("y")))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber")),
    Some("""
      WITH src AS (
        SELECT l_orderkey, l_linenumber,
               l_partkey % 1024 AS x, l_suppkey % 1024 AS y
        FROM lineitem WHERE l_orderkey % 499 = 0)
      SELECT l_orderkey, l_linenumber, x, y,
             (SELECT CAST(sum((((x >> k) & 1) << (2 * k))
                          + (((y >> k) & 1) << (2 * k + 1))) AS BIGINT)
              FROM generate_series(0, 9) t(k)) AS z
      FROM src ORDER BY z, l_orderkey, l_linenumber
    """.trim))

  /** Bounded BFS over the minhash near-dup graph
    * ([[Graphs.bfsFromSeeds]]): 2-hop blast radius of the lowest-id
    * documents. Oracle: brute-force-Jaccard edges (q55's CTE) +
    * explicit hop-1/hop-2 expansion.
    */
  val q195Khop = HarnessQuery(
    "q195_khop",
    (spark, dir) => {
      val docs = Tables.documents(spark, dir)
      val edges = TextDedup.minhashNearDupPairs(
        docs, "text", "doc_id", n = 3, numHashes = 16, bands = 8,
        threshold = 0.8, hashFn = graft.functions.TextFunctions.fastHash)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val seeds = docs.where(col("doc_id") < 20).select(col("doc_id"))
      Graphs.bfsFromSeeds(edges, seeds, "doc_id", maxHops = 2)
        .orderBy(col("seed"), col("vertex"))
    },
    Some("""
      WITH t AS (SELECT doc_id,
                   list_distinct(list_transform(
                     generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\s+')) - 2),
                     i -> array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[i:i+2], ' ')))
                     AS sh
                 FROM documents),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM t a, t b
        WHERE a.doc_id < b.doc_id
          AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      und AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs),
      seeds AS (
        SELECT doc_id AS seed, doc_id AS vertex, 0 AS hop
        FROM documents WHERE doc_id < 20),
      h1 AS (
        SELECT DISTINCT s.seed, u.v AS vertex
        FROM seeds s JOIN und u ON s.vertex = u.u
        WHERE NOT EXISTS (SELECT 1 FROM seeds x
                          WHERE x.seed = s.seed AND x.vertex = u.v)),
      h2 AS (
        SELECT DISTINCT h.seed, u.v AS vertex
        FROM h1 h JOIN und u ON h.vertex = u.u
        WHERE NOT EXISTS (SELECT 1 FROM seeds x
                          WHERE x.seed = h.seed AND x.vertex = u.v)
          AND NOT EXISTS (SELECT 1 FROM h1 x
                          WHERE x.seed = h.seed AND x.vertex = u.v))
      SELECT seed, vertex, hop FROM seeds
      UNION ALL SELECT seed, vertex, 1 FROM h1
      UNION ALL SELECT seed, vertex, 2 FROM h2
      ORDER BY 1, 2
    """.trim))

  /** SCD Type-2 intervals ([[graft.operators.Merge.scd2Intervals]])
    * from the orders change log: one validity window per order under
    * the (o_orderdate, o_orderkey) sequence; open window = current.
    */
  val q196Scd2 = HarnessQuery(
    "q196_scd2",
    (spark, dir) =>
      graft.operators.Merge.scd2Intervals(
        Tables.orders(spark, dir).where(col("o_custkey") % 100 === 0)
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice")),
        "o_custkey", "o_orderdate", "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          unix_micros(col("valid_from")).as("valid_from_us"),
          unix_micros(col("valid_to")).as("valid_to_us"),
          col("is_current"))
        .orderBy(col("o_custkey"), col("valid_from_us"), col("o_orderkey")),
    Some("""
      SELECT o_custkey, o_orderkey, o_totalprice,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS valid_from_us,
             lead(epoch_us(CAST(o_orderdate AS TIMESTAMP)), 1) OVER win
               AS valid_to_us,
             lead(epoch_us(CAST(o_orderdate AS TIMESTAMP)), 1) OVER win
               IS NULL AS is_current
      FROM orders WHERE o_custkey % 100 = 0
      WINDOW win AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, valid_from_us, o_orderkey
    """.trim))

  /** Event-type trigram paths ([[EventAnalytics.eventPathNgrams]]).
    */
  val q197PathTrigrams = HarnessQuery(
    "q197_path_trigrams",
    (spark, dir) =>
      EventAnalytics.eventPathNgrams(
        Tables.events(spark, dir), "user_id", "ts", "event_id",
        "event_type", n = 3)
        .orderBy(col("path")),
    Some("""
      WITH seq AS (
        SELECT event_type AS e0,
               lead(event_type, 1) OVER win AS e1,
               lead(event_type, 2) OVER win AS e2
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT e0 || '>' || e1 || '>' || e2 AS path,
             count(*) AS n_paths
      FROM seq WHERE e2 IS NOT NULL
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Cumulative-user growth ([[EventAnalytics.cumulativeUsers]]). */
  val q198CumUsers = HarnessQuery(
    "q198_cum_users",
    (spark, dir) =>
      EventAnalytics.cumulativeUsers(
        Tables.events(spark, dir), "user_id", "ts")
        .orderBy(col("day")),
    Some("""
      WITH fd AS (
        SELECT user_id,
               min(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000)
                 AS day
        FROM events GROUP BY 1),
      pd AS (SELECT day, count(*) AS n_new FROM fd GROUP BY 1)
      SELECT day, n_new,
             CAST(sum(n_new) OVER (ORDER BY day) AS BIGINT)
               AS n_cumulative
      FROM pd ORDER BY 1
    """.trim))

  /** Trailing 7-day active users ([[EventAnalytics.rollingActiveUsers]]).
    */
  val q199Wau = HarnessQuery(
    "q199_wau",
    (spark, dir) =>
      EventAnalytics.rollingActiveUsers(
        Tables.events(spark, dir), "user_id", "ts", windowDays = 7)
        .orderBy(col("day")),
    Some("""
      WITH days AS (
        SELECT DISTINCT user_id,
               epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        FROM events),
      f AS (
        SELECT DISTINCT user_id, day + off AS rday
        FROM days, generate_series(0, 6) t(off))
      SELECT rday AS day, count(DISTINCT user_id) AS n_active
      FROM f WHERE rday <= (SELECT max(day) FROM days)
      GROUP BY 1 ORDER BY 1
    """.trim))

  /** Degree histogram ([[Graphs.degreeHistogram]]) of the
    * part↔supplier bipartite graph (supplier ids offset into their
    * own vertex range).
    */
  val q200DegreeHist = HarnessQuery(
    "q200_degree_hist",
    (spark, dir) =>
      Graphs.degreeHistogram(
        Tables.lineitem(spark, dir).where(col("l_orderkey") % 500 === 0)
          .select(col("l_partkey").as("src"),
            (col("l_suppkey") + 1000000L).as("dst")))
        .orderBy(col("degree")),
    Some("""
      WITH e AS (
        SELECT DISTINCT l_partkey AS s, l_suppkey + 1000000 AS d
        FROM lineitem WHERE l_orderkey % 500 = 0),
      und AS (SELECT s AS v, d AS o FROM e UNION SELECT d, s FROM e),
      deg AS (SELECT v, count(*) AS degree FROM und GROUP BY 1)
      SELECT degree, count(*) AS n_vertices
      FROM deg GROUP BY 1 ORDER BY 1
    """.trim))

  /** Scan-pruning simulator ([[ScaleAudit.pruningStats]]): the same
    * box predicate against a Morton-keyed layout and a linear
    * (x-major) layout — per-file min/max intersection, exactly the
    * rowgroup-stat pruning a parquet reader performs. The z-order
    * layout should touch a far smaller file fraction.
    */
  val q201PruneSim = HarnessQuery(
    "q201_prune_sim",
    (spark, dir) => {
      val base = Tables.lineitem(spark, dir)
        .select(pmod(col("l_partkey"), lit(1024L)).as("x"),
          pmod(col("l_suppkey"), lit(1024L)).as("y"))
      val zStats = ScaleAudit.pruningStats(
        base, "x", "y",
        MortonExpr.morton(spark, col("x"), col("y")), stride = 16384L,
        x1 = 100L, x2 = 200L, y1 = 300L, y2 = 400L)
        .select(lit("zorder").as("layout"), col("*"))
      val linStats = ScaleAudit.pruningStats(
        base, "x", "y",
        col("x") * 2048L + col("y"), stride = 32768L,
        x1 = 100L, x2 = 200L, y1 = 300L, y2 = 400L)
        .select(lit("linear").as("layout"), col("*"))
      zStats.unionAll(linStats).orderBy(col("layout"))
    },
    Some("""
      WITH base AS (
        SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y
        FROM lineitem),
      zf AS (
        SELECT (SELECT CAST(sum((((x >> k) & 1) << (2 * k))
                         + (((y >> k) & 1) << (2 * k + 1))) AS BIGINT)
                FROM generate_series(0, 9) t(k)) // 16384 AS f,
               x, y
        FROM base),
      za AS (
        SELECT f, min(x) AS xmin, max(x) AS xmax,
               min(y) AS ymin, max(y) AS ymax, count(*) AS n
        FROM zf GROUP BY 1),
      zs AS (
        SELECT 'zorder' AS layout, count(*) AS n_files,
               CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100
                 AND ymin <= 400 AND ymax >= 300 THEN 1 ELSE 0 END)
                 AS BIGINT) AS files_touched,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100
                 AND ymin <= 400 AND ymax >= 300 THEN n ELSE 0 END)
                 AS BIGINT) AS rows_touched
        FROM za),
      lf AS (SELECT (x * 2048 + y) // 32768 AS f, x, y FROM base),
      la AS (
        SELECT f, min(x) AS xmin, max(x) AS xmax,
               min(y) AS ymin, max(y) AS ymax, count(*) AS n
        FROM lf GROUP BY 1),
      ls AS (
        SELECT 'linear' AS layout, count(*) AS n_files,
               CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100
                 AND ymin <= 400 AND ymax >= 300 THEN 1 ELSE 0 END)
                 AS BIGINT) AS files_touched,
               CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN xmin <= 200 AND xmax >= 100
                 AND ymin <= 400 AND ymax >= 300 THEN n ELSE 0 END)
                 AS BIGINT) AS rows_touched
        FROM la)
      SELECT layout, n_files, files_touched, n_rows, rows_touched,
             CAST(files_touched AS DOUBLE) / CAST(n_files AS DOUBLE)
               AS touched_frac
      FROM (SELECT * FROM zs UNION ALL SELECT * FROM ls)
      ORDER BY layout
    """.trim))

  /** Per-group rank normalization
    * ([[graft.operators.Encoding.rankNormalize]]): percent_rank with
    * value-only ordering so ties share the normalized output.
    */
  val q202RankNorm = HarnessQuery(
    "q202_rank_norm",
    (spark, dir) =>
      graft.operators.Encoding.rankNormalize(
        Tables.lineitem(spark, dir).where(col("l_orderkey") % 199 === 0),
        "l_returnflag", "l_extendedprice")
        .orderBy(col("l_returnflag"), col("l_extendedprice")),
    Some("""
      SELECT l_returnflag, l_extendedprice,
             percent_rank() OVER (PARTITION BY l_returnflag
                                  ORDER BY l_extendedprice) AS pr
      FROM lineitem WHERE l_orderkey % 199 = 0
      ORDER BY 1, 2
    """.trim))

  /** TPC-H Q3-shaped shipping-priority query: segment-filtered
    * 3-way join, revenue top-10. Broadcast the filtered customer dim;
    * decimal-exact revenue.
    */
  val q203TpchQ3 = HarnessQuery(
    "q203_tpch_q3",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = Tables.lineitem(spark, dir)
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          unix_micros(col("o_orderdate")).as("o_orderdate_us"),
          col("o_orderpriority"))
        .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .cast("decimal(25,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey,
             epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate_us,
             o_orderpriority,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, l_orderkey LIMIT 10
    """.trim))

  /** TPC-H Q5-shaped local-supplier-volume query: six-table join with
    * the customer-supplier co-nation constraint; region/nation
    * broadcast.
    */
  val q204TpchQ5 = HarnessQuery(
    "q204_tpch_q5",
    (spark, dir) => {
      val nr = Tables.nation(spark, dir)
        .join(Tables.region(spark, dir)
          .where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_nationkey"))
      val cust = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(spark, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .cast("decimal(25,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1999-01-01'
      GROUP BY 1 ORDER BY revenue DESC, n_name
    """.trim))

  /** TPC-H Q10-shaped returned-item ranking: customers by revenue
    * lost to returns in a quarter-year window.
    */
  val q205TpchQ10 = HarnessQuery(
    "q205_tpch_q10",
    (spark, dir) => {
      val nat = Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))
      val ord = Tables.orders(spark, dir)
        .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      Tables.lineitem(spark, dir)
        .where(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(spark, dir),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("n_name"))
        .agg(sum((col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
          .cast("decimal(25,6)")).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
    Some("""
      SELECT c_custkey, c_name, c_acctbal, n_name,
             CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(25,6))) AS DOUBLE) AS revenue
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-07-01'
        AND l_returnflag = 'R' AND c_nationkey = n_nationkey
      GROUP BY 1, 2, 3, 4
      ORDER BY revenue DESC, c_custkey LIMIT 20
    """.trim))

  /** Two-proportion A/B z-test
    * ([[graft.operators.Evaluation.abTest]]): deterministic parity
    * assignment (user_id mod 2), purchase conversion, pooled-variance
    * z from exact counts.
    */
  val q208AbTest = HarnessQuery(
    "q208_ab_test",
    (spark, dir) => {
      val perUser = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
          && col("value") > 300.0d, 1).otherwise(0)).as("conv"))
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      graft.operators.Evaluation.abTest(perUser, "grp", "conv")
    },
    Some("""
      WITH pu AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
               max(CASE WHEN event_type = 'purchase' AND "value" > 300
                 THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
      a AS (
        SELECT
          CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_control,
          CAST(sum(CASE WHEN grp = 0 AND conv = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c_control,
          CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_treat,
          CAST(sum(CASE WHEN grp = 1 AND conv = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c_treat
        FROM pu)
      SELECT n_control, c_control, n_treat, c_treat,
             CAST(c_control AS DOUBLE) / CAST(n_control AS DOUBLE)
               AS rate_control,
             CAST(c_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
               AS rate_treat,
             CAST(c_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
               - CAST(c_control AS DOUBLE) / CAST(n_control AS DOUBLE)
               AS uplift,
             (CAST(c_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
               - CAST(c_control AS DOUBLE) / CAST(n_control AS DOUBLE))
             / sqrt(
                 (CAST(c_control + c_treat AS DOUBLE)
                    / CAST(n_control + n_treat AS DOUBLE))
                 * (1.0 - CAST(c_control + c_treat AS DOUBLE)
                      / CAST(n_control + n_treat AS DOUBLE))
                 * (1.0 / CAST(n_control AS DOUBLE)
                    + 1.0 / CAST(n_treat AS DOUBLE))) AS z
      FROM a
    """.trim))

  /** Market-basket lift top-K ([[Association.basketPairs]]): part
    * buckets co-purchased within an order.
    */
  val q209BasketLift = HarnessQuery(
    "q209_basket_lift",
    (spark, dir) =>
      Association.basketPairs(
        Tables.lineitem(spark, dir)
          .select(col("l_orderkey").as("basket"),
            pmod(col("l_partkey"), lit(500L)).as("item")),
        "basket", "item", topK = 50),
    Some("""
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS basket, l_partkey % 500 AS item
        FROM lineitem),
      nb AS (SELECT count(DISTINCT basket) AS N FROM bi),
      marg AS (SELECT item, count(*) AS n FROM bi GROUP BY 1),
      pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_both
        FROM bi a JOIN bi b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2)
      SELECT item_a, item_b, n_both, ma.n AS n_a, mb.n AS n_b,
             CAST(n_both AS DOUBLE) * CAST((SELECT N FROM nb) AS DOUBLE)
               / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE)) AS lift
      FROM pairs
      JOIN marg ma ON item_a = ma.item
      JOIN marg mb ON item_b = mb.item
      ORDER BY lift DESC, n_both DESC, item_a, item_b
      LIMIT 50
    """.trim))

  /** Brand-blocked Jaro–Winkler record linkage
    * ([[graft.operators.FuzzyJoin.jaroWinklerBlocked]], threshold
    * 0.87): the codegen'd [[graft.functions.JaroWinklerExpr]] is
    * pinned bit-exactly to DuckDB's `jaro_winkler_similarity`
    * (rapidfuzz semantics), so the oracle scores the identical blocked
    * pair set natively.
    */
  val q248JwLinkage = HarnessQuery(
    "q248_jw_linkage",
    (spark, dir) =>
      graft.operators.FuzzyJoin.jaroWinklerBlocked(
        Tables.part(spark, dir), "p_partkey", "p_name", "p_brand",
        threshold = 0.87)
        .select(col("p_brand"), col("id_a"), col("id_b"),
          col("name_a"), col("name_b"), round(col("jw"), 12).as("jw"))
        .orderBy(col("p_brand"), col("id_a"), col("id_b")),
    Some("""
      SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
             a.p_name AS name_a, b.p_name AS name_b,
             round(jaro_winkler_similarity(a.p_name, b.p_name), 12) AS jw
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.87
      ORDER BY a.p_brand, id_a, id_b
    """.trim))

  /** Mutual information I(segment; nation)
    * ([[Association.mutualInformation]]): q190's per-cell MI
    * contributions — each rounded at 12, the ln cross-engine contract
    * — accumulated in decimal, so the scalar needs no ordered fold.
    */
  val q249MutualInfo = HarnessQuery(
    "q249_mutual_info",
    (spark, dir) =>
      Association.mutualInformation(
        Tables.customer(spark, dir), "c_mktsegment", "c_nationkey")
        .withColumn("mi_nats", round(col("mi_nats"), 12)),
    Some("""
      WITH ab AS (
        SELECT c_mktsegment, c_nationkey, count(*) AS n_ab
        FROM customer GROUP BY 1, 2),
      ma AS (SELECT c_mktsegment, CAST(sum(n_ab) AS BIGINT) AS n_a
             FROM ab GROUP BY 1),
      mb AS (SELECT c_nationkey, CAST(sum(n_ab) AS BIGINT) AS n_b
             FROM ab GROUP BY 1),
      t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM ab),
      cells AS (
        SELECT ab.n_ab,
               round(CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE)
                 * ln(CAST(n_ab AS DOUBLE) * CAST(n AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 12)
                 AS mi_contrib
        FROM ab JOIN ma USING (c_mktsegment)
          JOIN mb USING (c_nationkey), t)
      SELECT CAST(sum(n_ab) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_cells,
             round(CAST(sum(CAST(mi_contrib AS DECIMAL(38,12))) AS DOUBLE),
               12) AS mi_nats
      FROM cells
    """.trim))

  /** Segment-cut A/B readout with FDR control
    * ([[Experiment.abTestPerGroup]] → [[Experiment.bhAdjust]]): q208's
    * per-user conversion experiment fanned across 20 user segments —
    * one two-proportion z + Abramowitz–Stegun p-value per segment,
    * then Benjamini–Hochberg step-up at alpha 0.2. The oracle replays
    * the identical erf polynomial and both BH windows.
    */
  val q271SegmentFdr = HarnessQuery(
    "q271_segment_fdr",
    (spark, dir) => {
      val perUser = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase"
          && col("value") > 150.0d, 1).otherwise(0)).as("conv"))
        .withColumn("segment", (col("user_id") % 20).cast("int"))
        .withColumn("grp", (expr("user_id div 20") % 2).cast("int"))
      val tests = graft.operators.Experiment.abTestPerGroup(
        perUser, "segment", "grp", "conv")
      graft.operators.Experiment.bhAdjust(tests, "segment", "p_value", 0.2)
        .orderBy(col("k_rank"))
    },
    Some("""
      WITH pu AS (
        SELECT user_id, CAST(user_id % 20 AS INT) AS segment,
               CAST((user_id // 20) % 2 AS INT) AS grp,
               max(CASE WHEN event_type = 'purchase' AND "value" > 150
                 THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY 1),
      a AS (
        SELECT segment,
          CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
          CAST(sum(CASE WHEN grp = 0 AND conv = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c0,
          CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(CASE WHEN grp = 1 AND conv = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS c1
        FROM pu GROUP BY 1),
      zc AS (
        SELECT segment,
          (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
           - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
          / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                 * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                 * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
            AS z
        FROM a),
      xx AS (SELECT segment, abs(z) / sqrt(2.0) AS x FROM zc),
      tt AS (SELECT segment, x, 1.0 / (1.0 + 0.3275911 * x) AS t FROM xx),
      pv AS (
        SELECT segment,
          round(2.0 * (1.0 - (0.5 * (1.0 + (1.0 -
            (((((1.061405429 * t - 1.453152027) * t + 1.421413741) * t
               - 0.284496736) * t + 0.254829592) * t)
            * exp(-x * x))))), 12) AS p
        FROM tt),
      mm AS (SELECT count(*) AS m FROM pv WHERE p IS NOT NULL),
      rk AS (SELECT segment, p,
               row_number() OVER (ORDER BY p, segment) AS k, m,
               round(p * m / k, 12) AS term
             FROM pv, mm WHERE p IS NOT NULL),
      qv AS (SELECT *,
               least(min(term) OVER (ORDER BY p, segment
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING),
                 1.0) AS q,
               max(CASE WHEN p <= round(CAST(0.2 AS DOUBLE) * k / m, 12)
                 THEN k END) OVER () AS kmax
             FROM rk)
      SELECT segment, p AS p_value, CAST(k AS BIGINT) AS k_rank, m,
             q AS q_value,
             (kmax IS NOT NULL AND k <= kmax) AS rejected
      FROM qv ORDER BY k
    """.trim))

  /** Export-shard plan ([[ScaleAudit.planExportShards]], 16 KiB
    * target): documents consumed in id order, shards cut by the
    * running byte offset via the two-level cumulative sum — the
    * write-manifest planner. The oracle replays the offsets with one
    * global window and integer division.
    */
  val q365ShardPlan = HarnessQuery(
    "q365_shard_plan",
    (spark, dir) =>
      ScaleAudit.planExportShards(
        Tables.documents(spark, dir)
          .select(col("doc_id"), octet_length(col("text")).as("sz")),
        "doc_id", "sz", targetBytes = 16384L)
        .orderBy(col("shard")),
    Some("""
      WITH d AS (
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS sz FROM documents),
      c AS (
        SELECT doc_id, sz,
               CAST(sum(sz) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 - sz AS st
        FROM d)
      SELECT st // 16384 AS shard, count(*) AS n_docs,
             CAST(sum(sz) AS BIGINT) AS bytes,
             min(doc_id) AS min_id, max(doc_id) AS max_id
      FROM c GROUP BY 1 ORDER BY shard
    """.trim))

  /** Fellegi–Sunter linkage weight table
    * ([[graft.operators.FuzzyJoin.fellegiSunterWeights]]): customers
    * blocked by nation, compared on market segment (m = 0.9) and
    * 100-unit balance bucket (m = 0.8); u-probabilities exact from the
    * global value distributions, one row per agreement pattern with
    * its log₂-likelihood-ratio weight. Literal m's cross the oracle as
    * CAST(x AS DOUBLE) so both engines run identical doubles.
    */
  val q367FellegiSunter = HarnessQuery(
    "q367_fellegi_sunter",
    (spark, dir) => {
      val c = Tables.customer(spark, dir).select(
        col("c_custkey").as("id"), col("c_nationkey").as("blk"),
        col("c_mktsegment").as("seg"),
        floor(col("c_acctbal") / lit(100.0)).cast("long").as("bal"))
      graft.operators.FuzzyJoin.fellegiSunterWeights(
        c, "id", "blk", Seq(("seg", 0.9), ("bal", 0.8)))
        .orderBy(col("agree_seg"), col("agree_bal"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey AS id, c_nationkey AS blk, c_mktsegment AS seg,
               CAST(floor(c_acctbal / CAST(100.0 AS DOUBLE)) AS BIGINT) AS bal
        FROM customer),
      useg AS (SELECT CAST(sum(CAST(n AS DECIMAL(38,0)) * n) AS DOUBLE)
                      / CAST(sum(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS u
               FROM (SELECT count(*) AS n FROM c GROUP BY seg)),
      ubal AS (SELECT CAST(sum(CAST(n AS DECIMAL(38,0)) * n) AS DOUBLE)
                      / CAST(sum(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS u
               FROM (SELECT count(*) AS n FROM c GROUP BY bal)),
      g AS (SELECT a.seg = b.seg AS agree_seg, a.bal = b.bal AS agree_bal,
                   count(*) AS n_pairs
            FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
            GROUP BY 1, 2)
      SELECT agree_seg, agree_bal, n_pairs,
             round((CASE WHEN agree_seg THEN log2(CAST(0.9 AS DOUBLE) / useg.u)
                         ELSE log2((1.0 - CAST(0.9 AS DOUBLE)) / (1.0 - useg.u)) END)
                 + (CASE WHEN agree_bal THEN log2(CAST(0.8 AS DOUBLE) / ubal.u)
                         ELSE log2((1.0 - CAST(0.8 AS DOUBLE)) / (1.0 - ubal.u)) END), 6)
               AS weight
      FROM g, useg, ubal ORDER BY agree_seg, agree_bal
    """.trim))

  /** Snapshot checksum reconciliation
    * ([[ScaleAudit.checksumReconcile]]): orders vs a simulated
    * migrated copy (1-in-997 keys dropped, 1-in-499 statuses
    * corrupted, 1-in-1499 order dates shifted +100 years into
    * months the source never had), grouped by order month. Each side
    * reduces to one (count, 60-bit sum-checksum mod 2^61−1) row per
    * month; the full-outer join runs on ~160 aggregate rows, never on
    * the data — the reconciliation shape a 100 TB copy audit needs.
    */
  val q369ChecksumReconcile = HarnessQuery(
    "q369_checksum_reconcile",
    (spark, dir) => {
      val left = Tables.orders(spark, dir)
      val right = left
        .where(pmod(col("o_orderkey"), lit(997L)) =!= 0L)
        .withColumn("o_orderstatus",
          when(pmod(col("o_orderkey"), lit(499L)) === 0L, lit("X"))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_orderdate",
          when(pmod(col("o_orderkey"), lit(1499L)) === 0L,
            col("o_orderdate") + expr("INTERVAL 100 YEARS"))
            .otherwise(col("o_orderdate")))
      def withGrp(df: org.apache.spark.sql.DataFrame) =
        df.withColumn("grp", date_format(col("o_orderdate"), "yyyy-MM"))
      ScaleAudit.checksumReconcile(
        withGrp(left), withGrp(right), "grp",
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("grp"))
    },
    Some("""
      WITH lf AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS grp,
               o_orderkey, o_custkey, o_orderstatus, o_orderpriority
        FROM orders),
      rt AS (
        SELECT strftime(CASE WHEN o_orderkey % 1499 = 0
                             THEN o_orderdate + INTERVAL 100 YEAR
                             ELSE o_orderdate END, '%Y-%m') AS grp,
               o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 499 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_orderpriority
        FROM orders WHERE o_orderkey % 997 <> 0),
      la AS (
        SELECT grp, count(*) AS n_left,
               CAST(sum(CAST(('0x' || substr(md5(
                   coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
                   coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|' ||
                   coalesce(o_orderstatus, chr(1)) || '|' ||
                   coalesce(o_orderpriority, chr(1))), 1, 15)) AS BIGINT))
                 % 2305843009213693951 AS BIGINT) AS checksum_left
        FROM lf GROUP BY grp),
      ra AS (
        SELECT grp, count(*) AS n_right,
               CAST(sum(CAST(('0x' || substr(md5(
                   coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || '|' ||
                   coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || '|' ||
                   coalesce(o_orderstatus, chr(1)) || '|' ||
                   coalesce(o_orderpriority, chr(1))), 1, 15)) AS BIGINT))
                 % 2305843009213693951 AS BIGINT) AS checksum_right
        FROM rt GROUP BY grp)
      SELECT coalesce(la.grp, ra.grp) AS grp,
             n_left, checksum_left, n_right, checksum_right,
             CASE WHEN n_left IS NULL THEN 'missing_in_left'
                  WHEN n_right IS NULL THEN 'missing_in_right'
                  WHEN n_left <> n_right THEN 'count_mismatch'
                  WHEN checksum_left <> checksum_right
                    THEN 'content_mismatch'
                  ELSE 'match' END AS status
      FROM la FULL OUTER JOIN ra ON la.grp = ra.grp
      ORDER BY grp
    """.trim))

  /** Pre-flight join-cardinality profile
    * ([[ScaleAudit.joinCardinalityProfile]]): the exact output size
    * and worst-key share of the coarsened lineitem x part join,
    * computed from key histograms only — the audit that picks plain
    * shuffle vs broadcast vs salting before any shuffle runs.
    */
  val q382JoinCardinality = HarnessQuery(
    "q382_join_cardinality",
    (spark, dir) =>
      ScaleAudit.joinCardinalityProfile(
        Tables.lineitem(spark, dir)
          .select(pmod(col("l_partkey"), lit(50L)).as("jk")),
        Tables.part(spark, dir)
          .select(pmod(col("p_partkey"), lit(50L)).as("jk")),
        "jk", "jk"),
    Some("""
      WITH ha AS (
        SELECT CAST(l_partkey % 50 AS VARCHAR) AS k,
               CAST(count(*) AS BIGINT) AS na
        FROM lineitem GROUP BY 1),
      hb AS (
        SELECT CAST(p_partkey % 50 AS VARCHAR) AS k,
               CAST(count(*) AS BIGINT) AS nb
        FROM part GROUP BY 1),
      m AS (SELECT ha.k, na * nb AS outn FROM ha JOIN hb USING (k)),
      top AS (SELECT k, outn FROM m
              QUALIFY row_number() OVER (ORDER BY outn DESC, k DESC) = 1),
      at AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_a,
                    CAST(sum(na) AS BIGINT) AS rows_a FROM ha),
      bt AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_b,
                    CAST(sum(nb) AS BIGINT) AS rows_b FROM hb),
      mt AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_matched,
                    CAST(coalesce(sum(outn), 0) AS BIGINT) AS output_rows
             FROM m)
      SELECT at.n_keys_a, bt.n_keys_b, mt.n_keys_matched,
             at.rows_a, bt.rows_b,
             CAST(mt.output_rows AS DOUBLE) AS output_rows,
             top.k AS top_key, CAST(top.outn AS DOUBLE) AS top_key_rows,
             CASE WHEN mt.output_rows > 0
                  THEN floor(CAST(top.outn AS DOUBLE)
                    / CAST(mt.output_rows AS DOUBLE) * 1e9) / 1e9
             END AS top_share
      FROM at, bt, mt, top
    """.trim))

  /** HyperANF neighborhood function ([[Graphs.hyperAnf]], m = 64,
    * t = 0..3, coverage 0.9) over the part co-purchase graph (parts
    * sharing an order, every 7th order): how many part pairs sit
    * within t hops, and the effective diameter of the co-purchase
    * web. The oracle computes EXACT bounded reachability (3 unrolled
    * self-join rounds — the pair set HyperANF exists to avoid
    * materializing) and then replays the register math over each exact
    * ball: same 60-bit md5 hash, bucket/rho split, harmonic sums,
    * linear-counting correction, decimal folds, and snaps — register
    * union along edges is exactly "max rho over the ball", so the two
    * dataflows agree bit-for-bit.
    */
  val q383HyperAnf = HarnessQuery(
    "q383_hyperanf",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .where(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      Graphs.hyperAnf(
        Tables.part(spark, dir).select(col("p_partkey")), "p_partkey",
        edges, "src", "dst", maxT = 3, coverage = 0.9)
        .orderBy(col("t"))
    },
    Some {
      val reachRound = (i: Int) => s"""
      r${i + 1} AS MATERIALIZED (
        SELECT v, u FROM r$i
        UNION
        SELECT r.v, e.dst FROM r$i r JOIN edges e ON r.u = e.src)"""
      val nfRound = (i: Int) => s"""
      reg$i AS (
        SELECT r.v, hb.b, max(hb.m) AS m
        FROM r$i r JOIN hb ON r.u = hb.u GROUP BY 1, 2),
      pv$i AS (
        SELECT v, CAST(count(*) AS INT) AS used,
               CAST(sum(CAST(1 AS BIGINT) << (54 - m)) AS BIGINT) AS s0
        FROM reg$i GROUP BY 1),
      ev$i AS (
        SELECT v,
               CASE WHEN (CAST(0.709 AS DOUBLE) * 64 * 64 * 18014398509481984.0)
                      / CAST(s0 + CAST(64 - used AS BIGINT)
                          * 18014398509481984 AS DOUBLE) <= 160.0
                      AND 64 - used > 0
                    THEN 64.0 * ln(64.0 / (64 - used))
                    ELSE (CAST(0.709 AS DOUBLE) * 64 * 64 * 18014398509481984.0)
                      / CAST(s0 + CAST(64 - used AS BIGINT)
                          * 18014398509481984 AS DOUBLE)
               END AS e
        FROM pv$i),
      nf$i AS (
        SELECT $i AS t,
               floor(CAST(sum(CAST(e AS DECIMAL(30,18))) AS DOUBLE) * 1e6)
                 / 1e6 AS nf
        FROM ev$i)"""
      s"""
      WITH lf AS (
        SELECT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 7 = 0),
      edges AS MATERIALIZED (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM lf a JOIN lf b ON a.ok = b.ok AND a.pk <> b.pk),
      verts AS (SELECT p_partkey AS id FROM part),
      hb AS MATERIALIZED (
        SELECT id AS u,
               h % 64 AS b,
               CASE WHEN h // 64 = 0 THEN 54
                    ELSE 55 - length(bin(h // 64)) END AS m
        FROM (SELECT id,
                CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
              FROM verts)),
      r0 AS (SELECT id AS v, id AS u FROM verts),
      ${reachRound(0)},
      ${reachRound(1)},
      ${reachRound(2)},
      ${nfRound(0)},
      ${nfRound(1)},
      ${nfRound(2)},
      ${nfRound(3)},
      curve AS (
        SELECT * FROM nf0 UNION ALL SELECT * FROM nf1
        UNION ALL SELECT * FROM nf2 UNION ALL SELECT * FROM nf3),
      lastv AS (SELECT nf AS lastnf FROM curve WHERE t = 3),
      rat AS (
        SELECT t, nf, floor(nf / lastnf * 1e9) / 1e9 AS ratio
        FROM curve, lastv),
      eff AS (SELECT min(t) AS efft FROM rat WHERE ratio >= 0.9)
      SELECT t, nf, ratio, t = efft AS is_eff_diameter
      FROM rat, eff ORDER BY t
      """.trim
    })

  /** Harmonic centrality from HyperANF ball sketches
    * ([[Graphs.hyperAnfCentrality]], t <= 3) over the q383 part
    * co-purchase graph: each newly-reached part contributes
    * 1/distance. The oracle reuses q383's exact-reachability register
    * replay and folds the per-vertex per-t estimates with the
    * identical left-associated arithmetic.
    */
  val q390HarmonicCentrality = HarnessQuery(
    "q390_harmonic_centrality",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .where(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = li.as("a")
        .join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      Graphs.hyperAnfCentrality(
        Tables.part(spark, dir).select(col("p_partkey")), "p_partkey",
        edges, "src", "dst", maxT = 3)
        .orderBy(col("p_partkey"))
    },
    Some {
      val reachRound = (i: Int) => s"""
      r${i + 1} AS MATERIALIZED (
        SELECT v, u FROM r$i
        UNION
        SELECT r.v, e.dst FROM r$i r JOIN edges e ON r.u = e.src)"""
      val evRound = (i: Int) => s"""
      reg$i AS (
        SELECT r.v, hb.b, max(hb.m) AS m
        FROM r$i r JOIN hb ON r.u = hb.u GROUP BY 1, 2),
      pv$i AS (
        SELECT v, CAST(count(*) AS INT) AS used,
               CAST(sum(CAST(1 AS BIGINT) << (54 - m)) AS BIGINT) AS s0
        FROM reg$i GROUP BY 1),
      ev$i AS (
        SELECT v,
               CASE WHEN (CAST(0.709 AS DOUBLE) * 64 * 64 * 18014398509481984.0)
                      / CAST(s0 + CAST(64 - used AS BIGINT)
                          * 18014398509481984 AS DOUBLE) <= 160.0
                      AND 64 - used > 0
                    THEN 64.0 * ln(64.0 / (64 - used))
                    ELSE (CAST(0.709 AS DOUBLE) * 64 * 64 * 18014398509481984.0)
                      / CAST(s0 + CAST(64 - used AS BIGINT)
                          * 18014398509481984 AS DOUBLE)
               END AS e
        FROM pv$i)"""
      s"""
      WITH lf AS (
        SELECT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem WHERE l_orderkey % 7 = 0),
      edges AS MATERIALIZED (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM lf a JOIN lf b ON a.ok = b.ok AND a.pk <> b.pk),
      verts AS (SELECT p_partkey AS id FROM part),
      hb AS MATERIALIZED (
        SELECT id AS u,
               h % 64 AS b,
               CASE WHEN h // 64 = 0 THEN 54
                    ELSE 55 - length(bin(h // 64)) END AS m
        FROM (SELECT id,
                CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
              FROM verts)),
      r0 AS (SELECT id AS v, id AS u FROM verts),
      ${reachRound(0)},
      ${reachRound(1)},
      ${reachRound(2)},
      ${evRound(0)},
      ${evRound(1)},
      ${evRound(2)},
      ${evRound(3)}
      SELECT e0.v AS p_partkey,
             floor((0.0 + (e1.e - e0.e) / 1.0 + (e2.e - e1.e) / 2.0
               + (e3.e - e2.e) / 3.0) * 1e6) / 1e6 AS harmonic_centrality
      FROM ev0 e0 JOIN ev1 e1 USING (v) JOIN ev2 e2 USING (v)
           JOIN ev3 e3 USING (v)
      ORDER BY 1
      """.trim
    })

  def all: Seq[HarnessQuery] = Seq(
    q382JoinCardinality, q383HyperAnf, q390HarmonicCentrality,
    q367FellegiSunter, q369ChecksumReconcile,
    q188Rfm, q189Survival, q190Pmi, q191Chi2, q192Melt,
    q193SkewProfile, q194Zorder, q195Khop, q196Scd2, q197PathTrigrams,
    q198CumUsers, q199Wau, q200DegreeHist, q201PruneSim, q202RankNorm,
    q203TpchQ3, q204TpchQ5, q205TpchQ10, q208AbTest, q209BasketLift,
    q248JwLinkage, q249MutualInfo, q271SegmentFdr, q365ShardPlan,
    q423ChatTemplate, q425PackedChats, q436TokenMask, q437PackedTokens,
    q439PackedTokenMasks, q446WarcCapstone, q447CapstoneAudit,
    q451ChatLint, q453SftCapstone, q455SftCapstoneAudit,
    q456ContinualCrawl)

  /** Conversation packing with re-based loss masks
    * ([[Chat.packConversations]] over [[Chat.chatTemplate]]): the full
    * SFT packing path — q423's rendered conversations concatenate into
    * ~400-char training sequences (8 shards, per-shard running-sum
    * bins, blank-line separators) and every conversation's mask spans
    * SHIFT by its offset in the pack, which is the step naive packing
    * gets wrong. The oracle replays rendering, binning, offsets, and
    * the span arithmetic with list_transform over the same span
    * strings, so every shifted boundary matches exactly.
    */
  val q425PackedChats = HarnessQuery(
    "q425_packed_chats",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val turns = Tables.events(spark, dir)
        .withColumn("idx", row_number().over(w))
        .filter(col("idx") <= 8)
        .select(col("user_id").as("conv_id"), col("idx"),
          when(col("event_type").isin("click", "view", "signup"),
            lit("user")).otherwise(lit("assistant")).as("role"),
          concat(col("event_type"), lit("#"), col("event_id"))
            .as("content"))
      Chat.packConversations(
        Chat.chatTemplate(turns, "conv_id", "idx", "role", "content"),
        targetChars = 400, shards = 8)
        .orderBy(col("shard"), col("bin"))
    },
    Some("""
      WITH t AS (
        SELECT user_id AS conv_id,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS idx,
               CASE WHEN event_type IN ('click', 'view', 'signup')
                 THEN 'user' ELSE 'assistant' END AS role,
               event_type || '#' || CAST(event_id AS VARCHAR) AS content
        FROM events),
      t8 AS (SELECT * FROM t WHERE idx <= 8),
      seg AS (
        SELECT conv_id, idx, role,
               '<|' || role || '|>' || content AS seg,
               length(content) AS clen,
               length(role) + 4 AS hlen
        FROM t8),
      soff AS (
        SELECT *,
               COALESCE(sum(length(seg) + 1) OVER (
                 PARTITION BY conv_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS o
        FROM seg),
      conv AS (
        SELECT conv_id,
               string_agg(seg, chr(10) ORDER BY idx) AS text,
               COALESCE(string_agg(
                 CAST(o + hlen AS VARCHAR) || ':'
                   || CAST(o + hlen + clen AS VARCHAR), ';'
                 ORDER BY idx) FILTER (WHERE role = 'assistant'), '')
                 AS mask_spans
        FROM soff GROUP BY 1),
      conv2 AS (
        SELECT conv_id, text,
               CAST(length(text) AS BIGINT) AS total_chars, mask_spans,
               conv_id % 8 AS shard
        FROM conv),
      run AS (
        SELECT *, sum(total_chars) OVER (PARTITION BY shard
                 ORDER BY conv_id) AS e
        FROM conv2),
      binned AS (
        SELECT *,
               CAST(floor((e - total_chars) / 400) AS BIGINT) AS bin
        FROM run),
      woff AS (
        SELECT *,
               COALESCE(sum(total_chars + 2) OVER (
                 PARTITION BY shard, bin ORDER BY conv_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS poff
        FROM binned),
      sh AS (
        SELECT shard, bin, conv_id, text, total_chars,
               array_to_string(list_transform(
                 list_filter(string_split(mask_spans, ';'),
                   x -> x <> ''),
                 x -> CAST(CAST(string_split(x, ':')[1] AS BIGINT)
                        + poff AS VARCHAR)
                      || ':' ||
                      CAST(CAST(string_split(x, ':')[2] AS BIGINT)
                        + poff AS VARCHAR)), ';') AS sspans
        FROM woff)
      SELECT CAST(shard AS BIGINT) AS shard, bin,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(total_chars) + 2 * (count(*) - 1) AS BIGINT)
               AS packed_chars,
             string_agg(text, chr(10) || chr(10) ORDER BY conv_id)
               AS text,
             COALESCE(string_agg(sspans, ';' ORDER BY conv_id)
               FILTER (WHERE sspans <> ''), '') AS mask_spans
      FROM sh GROUP BY 1, 2
      ORDER BY shard, bin
    """.trim))

  /** Token-level loss masks ([[Chat.tokenLossMask]]): the round-10
    * gap closed — q423's CHAR-offset mask spans composed with a
    * PERSISTED WordPiece vocabulary
    * ([[TokenizerStore.loadWordpieceVocab]] →
    * [[TextAnalysis.wordpieceSegmentWith]]) into TOKEN-index spans,
    * the artifact an SFT trainer actually consumes. Conversations are
    * document-derived (4 docs per conv, alternating roles, content =
    * each doc's first 8 normalized words) so the corpus vocabulary
    * genuinely segments the content words, while every header-glued
    * word degrades to `[UNK]` and straddles its span boundary — the
    * partial-overlap exclusion the spec pins. The oracle replays the
    * WHOLE chain in SQL: the q422 vocabulary, the conversation
    * rendering with char spans, word offsets, the greedy recursive
    * segmentation of the conversation words, per-piece char extents,
    * full-containment masking, vocabulary-rank token ids, and the
    * gaps-and-islands run encoding.
    */
  /** Shared oracle prefix for q436/q437: the q422 WordPiece vocabulary
    * over documents, the document-derived conversation rendering with
    * char mask spans (`conv`), and the full tokenization replay down
    * to per-conversation token rows (`mid`: conv_id, ti, piece,
    * masked, tid) plus the conv-grain aggregate (`agg`).
    */
  private val tokenMaskPrefixSql: String = """
      WITH RECURSIVE toksd AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
          AS word
        FROM documents),
      wordsd AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS wcnt
        FROM toksd WHERE length(word) BETWEEN 1 AND 16
        GROUP BY 1),
      sed AS (
        SELECT word, wcnt,
               unnest(generate_series(1, length(word))) AS e
        FROM wordsd),
      sejd AS (
        SELECT word, wcnt, e,
               unnest(generate_series(1, least(4, e))) AS j
        FROM sed),
      subsd AS MATERIALIZED (
        SELECT word, wcnt, e - j AS s, e,
               CASE WHEN e - j = 0 THEN substr(word, e - j + 1, j)
                    ELSE '##' || substr(word, e - j + 1, j) END AS wp
        FROM sejd),
      vocab AS MATERIALIZED (
        SELECT wp, row_number() OVER (ORDER BY cnt DESC, wp) AS tid
        FROM (SELECT wp, sum(wcnt) AS cnt FROM subsd GROUP BY 1
              ORDER BY cnt DESC, wp LIMIT 200)),
      docs8 AS (
        SELECT doc_id,
               array_to_string(
                 (regexp_split_to_array(trim(lower(text)), '\s+'))[1:8],
                 ' ') AS content
        FROM documents),
      turns AS (
        SELECT CAST(floor(doc_id / 4) AS BIGINT) AS conv_id,
               CAST(doc_id % 4 + 1 AS INT) AS idx,
               CASE WHEN doc_id % 2 = 1 THEN 'assistant' ELSE 'user' END
                 AS role,
               content
        FROM docs8),
      seg AS (
        SELECT conv_id, idx, role,
               '<|' || role || '|>' || content AS seg,
               length(content) AS clen,
               length(role) + 4 AS hlen
        FROM turns),
      soff AS (
        SELECT *,
               COALESCE(sum(length(seg) + 1) OVER (
                 PARTITION BY conv_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS o
        FROM seg),
      conv AS MATERIALIZED (
        SELECT conv_id,
               string_agg(seg, chr(10) ORDER BY idx) AS text,
               COALESCE(string_agg(
                 CAST(o + hlen AS VARCHAR) || ':'
                   || CAST(o + hlen + clen AS VARCHAR), ';'
                 ORDER BY idx) FILTER (WHERE role = 'assistant'), '')
                 AS mask_spans
        FROM soff GROUP BY 1),
      wl AS (
        SELECT conv_id, mask_spans,
               regexp_split_to_array(text, '\s+') AS ws
        FROM conv),
      wl1 AS (
        SELECT conv_id, mask_spans, ws,
               unnest(generate_series(1, len(ws))) AS i
        FROM wl),
      wpw AS MATERIALIZED (
        SELECT conv_id, mask_spans, i - 1 AS wpos, ws[i] AS word
        FROM wl1),
      woff AS (
        SELECT *,
               COALESCE(sum(length(word) + 1) OVER (
                 PARTITION BY conv_id ORDER BY wpos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS wstart
        FROM wpw),
      cw AS MATERIALIZED (
        SELECT DISTINCT word FROM wpw
        WHERE length(word) BETWEEN 1 AND 16),
      cse AS (
        SELECT word, unnest(generate_series(1, length(word))) AS e
        FROM cw),
      csej AS (
        SELECT word, e, unnest(generate_series(1, least(4, e))) AS j
        FROM cse),
      csubs AS (
        SELECT DISTINCT word, e - j AS s, e,
               CASE WHEN e - j = 0 THEN substr(word, e - j + 1, j)
                    ELSE '##' || substr(word, e - j + 1, j) END AS wp
        FROM csej),
      best AS MATERIALIZED (
        SELECT word, s, e, wp FROM (
          SELECT c.word, c.s, c.e, c.wp,
                 row_number() OVER (PARTITION BY c.word, c.s
                   ORDER BY c.e DESC) AS rk
          FROM csubs c JOIN vocab v ON v.wp = c.wp) WHERE rk = 1),
      step AS (
        SELECT word, 0 AS pos, '' AS path, false AS failed FROM cw
        UNION ALL
        SELECT s.word,
               CAST(COALESCE(b.e, length(s.word)) AS INT) AS pos,
               CASE WHEN b.e IS NULL THEN s.path
                    ELSE s.path || ' ' || b.wp END AS path,
               b.e IS NULL AS failed
        FROM step s LEFT JOIN best b
          ON b.word = s.word AND b.s = s.pos
        WHERE s.pos < length(s.word) AND NOT s.failed),
      fin AS MATERIALIZED (
        SELECT word, ltrim(path) AS pieces, failed FROM step
        WHERE failed OR pos = length(word)),
      wseg AS (
        SELECT w.conv_id, w.mask_spans, w.wpos, w.wstart,
               length(w.word) AS wlen,
               CASE WHEN f.failed IS NULL OR f.failed THEN ['[UNK]']
                    ELSE string_split(f.pieces, ' ') END AS pl
        FROM woff w LEFT JOIN fin f ON f.word = w.word),
      wseg1 AS (
        SELECT conv_id, mask_spans, wpos, wstart, wlen, pl,
               unnest(generate_series(1, len(pl))) AS p
        FROM wseg),
      tok AS MATERIALIZED (
        SELECT conv_id, mask_spans, wpos, wstart, wlen,
               p - 1 AS ppos, pl[p] AS piece,
               CASE WHEN pl[p] = '[UNK]' THEN wlen
                    ELSE length(pl[p])
                         - CASE WHEN pl[p] LIKE '##%' THEN 2 ELSE 0 END
               END AS plen
        FROM wseg1),
      toff AS (
        SELECT *,
               wstart + COALESCE(sum(plen) OVER (
                 PARTITION BY conv_id, wpos ORDER BY ppos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS ps
        FROM tok),
      tix AS MATERIALIZED (
        SELECT *, ps + plen AS pe,
               row_number() OVER (PARTITION BY conv_id
                 ORDER BY wpos, ppos) - 1 AS ti
        FROM toff),
      spans0 AS (
        SELECT conv_id,
               unnest(list_filter(string_split(mask_spans, ';'),
                 x -> x <> '')) AS x
        FROM conv),
      spans AS (
        SELECT conv_id,
               CAST(string_split(x, ':')[1] AS BIGINT) AS s,
               CAST(string_split(x, ':')[2] AS BIGINT) AS e
        FROM spans0),
      msk AS MATERIALIZED (
        SELECT t.conv_id, t.ti, any_value(t.piece) AS piece,
               count(sp.s) > 0 AS masked
        FROM tix t LEFT JOIN spans sp
          ON sp.conv_id = t.conv_id AND t.ps >= sp.s AND t.pe <= sp.e
        GROUP BY t.conv_id, t.ti),
      mid AS MATERIALIZED (
        SELECT m.conv_id, m.ti, m.piece, m.masked,
               COALESCE(v.tid, 0) AS tid
        FROM msk m LEFT JOIN vocab v ON v.wp = m.piece),
      agg AS (
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_masked_tokens,
               string_agg(CAST(tid AS VARCHAR), ',' ORDER BY ti)
                 AS token_ids,
               string_agg(piece, ' ' ORDER BY ti) AS pieces
        FROM mid GROUP BY 1)"""

  val q436TokenMask = HarnessQuery(
    "q436_token_mask",
    (spark, dir) => {
      val path = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q436_wordpiece")
        .getAbsolutePath
      val docs = Tables.documents(spark, dir)
      TokenizerStore.saveWordpieceVocab(
        TextAnalysis.wordpieceVocab(docs, "text"), path)
      val vocab = TokenizerStore.loadWordpieceVocab(spark, path)
      val turns = docs.select(
        floor(col("doc_id") / 4).cast("long").as("conv_id"),
        (pmod(col("doc_id"), lit(4L)) + 1).cast("int").as("idx"),
        when(pmod(col("doc_id"), lit(2L)) === 1, lit("assistant"))
          .otherwise(lit("user")).as("role"),
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8),
          " ").as("content"))
      Chat.tokenLossMask(
        Chat.chatTemplate(turns, "conv_id", "idx", "role", "content"),
        vocab)
        .orderBy(col("conv_id"))
    },
    Some(s"""$tokenMaskPrefixSql,
      runs AS (
        SELECT conv_id, min(ti) AS s, max(ti) + 1 AS e FROM (
          SELECT conv_id, ti,
                 ti - row_number() OVER (PARTITION BY conv_id
                   ORDER BY ti) AS grp
          FROM mid WHERE masked)
        GROUP BY conv_id, grp),
      rstr AS (
        SELECT conv_id,
               string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR),
                 ';' ORDER BY s) AS token_mask_spans
        FROM runs GROUP BY 1)
      SELECT a.conv_id, a.n_tokens, a.n_masked_tokens, a.token_ids,
             a.pieces,
             COALESCE(r.token_mask_spans, '') AS token_mask_spans
      FROM agg a LEFT JOIN rstr r USING (conv_id)
      ORDER BY conv_id
    """.trim))

  /** Pack by TOKEN budget ([[Chat.packConversationsByTokens]]):
    * q436's conversations pack into ~120-token training sequences —
    * the bin cut runs on each conversation's REAL token count under
    * the persisted WordPiece vocabulary (q436's tokenizer chain),
    * while the mask spans still shift in chars, which is what
    * concatenation moves. Char-cut packing (q425) mis-sizes
    * sequences by the corpus' chars-per-token variance; this is the
    * variant a trainer feeds. The oracle replays the whole q436
    * tokenization prefix to per-conversation token counts, then the
    * sharded running-TOKEN-sum binning and char-offset span shifts.
    */
  val q437PackedTokens = HarnessQuery(
    "q437_packed_tokens",
    (spark, dir) => {
      val path = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q437_wordpiece")
        .getAbsolutePath
      val docs = Tables.documents(spark, dir)
      TokenizerStore.saveWordpieceVocab(
        TextAnalysis.wordpieceVocab(docs, "text"), path)
      val vocab = TokenizerStore.loadWordpieceVocab(spark, path)
      val turns = docs.select(
        floor(col("doc_id") / 4).cast("long").as("conv_id"),
        (pmod(col("doc_id"), lit(4L)) + 1).cast("int").as("idx"),
        when(pmod(col("doc_id"), lit(2L)) === 1, lit("assistant"))
          .otherwise(lit("user")).as("role"),
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8),
          " ").as("content"))
      val convs = Chat.chatTemplate(turns, "conv_id", "idx", "role",
        "content")
      Chat.packConversationsByTokens(convs,
        Chat.tokenLossMask(convs, vocab), targetTokens = 120,
        shards = 8)
        .orderBy(col("shard"), col("bin"))
    },
    Some(s"""$tokenMaskPrefixSql,
      conv2 AS (
        SELECT c.conv_id, c.text,
               CAST(length(c.text) AS BIGINT) AS total_chars,
               c.mask_spans, a.n_tokens, c.conv_id % 8 AS shard
        FROM conv c JOIN agg a USING (conv_id)),
      prun AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY conv_id) AS e
        FROM conv2),
      pbin AS (
        SELECT *,
               CAST(floor((e - n_tokens) / 120) AS BIGINT) AS bin
        FROM prun),
      poff AS (
        SELECT *,
               COALESCE(sum(total_chars + 2) OVER (
                 PARTITION BY shard, bin ORDER BY conv_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS po
        FROM pbin),
      psh AS (
        SELECT shard, bin, conv_id, text, total_chars, n_tokens,
               array_to_string(list_transform(
                 list_filter(string_split(mask_spans, ';'),
                   x -> x <> ''),
                 x -> CAST(CAST(string_split(x, ':')[1] AS BIGINT)
                        + po AS VARCHAR)
                      || ':' ||
                      CAST(CAST(string_split(x, ':')[2] AS BIGINT)
                        + po AS VARCHAR)), ';') AS sspans
        FROM poff)
      SELECT CAST(shard AS BIGINT) AS shard, bin,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
             CAST(sum(total_chars) + 2 * (count(*) - 1) AS BIGINT)
               AS packed_chars,
             string_agg(text, chr(10) || chr(10) ORDER BY conv_id)
               AS text,
             COALESCE(string_agg(sspans, ';' ORDER BY conv_id)
               FILTER (WHERE sspans <> ''), '') AS mask_spans
      FROM psh GROUP BY 1, 2
      ORDER BY shard, bin
    """.trim))

  /** Packed token masks ([[Chat.packTokenMasks]]): the FINAL trainer
    * artifact — token-budget packs carrying the concatenated token id
    * sequence AND token-index mask spans re-based by each
    * conversation's cumulative token offset in its pack. Offsets need
    * no separator correction (the pack separator is whitespace, so
    * the pack's token sequence is exactly the member sequences
    * concatenated). Composes q436 (token masks under the persisted
    * vocab) with q437's token binning; the oracle replays the whole
    * chain plus the token-offset span shifts.
    */
  val q439PackedTokenMasks = HarnessQuery(
    "q439_packed_token_masks",
    (spark, dir) => {
      val path = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q439_wordpiece")
        .getAbsolutePath
      val docs = Tables.documents(spark, dir)
      TokenizerStore.saveWordpieceVocab(
        TextAnalysis.wordpieceVocab(docs, "text"), path)
      val vocab = TokenizerStore.loadWordpieceVocab(spark, path)
      val turns = docs.select(
        floor(col("doc_id") / 4).cast("long").as("conv_id"),
        (pmod(col("doc_id"), lit(4L)) + 1).cast("int").as("idx"),
        when(pmod(col("doc_id"), lit(2L)) === 1, lit("assistant"))
          .otherwise(lit("user")).as("role"),
        array_join(slice(split(trim(lower(col("text"))), "\\s+"), 1, 8),
          " ").as("content"))
      val convs = Chat.chatTemplate(turns, "conv_id", "idx", "role",
        "content")
      Chat.packTokenMasks(convs, Chat.tokenLossMask(convs, vocab),
        targetTokens = 120, shards = 8)
        .orderBy(col("shard"), col("bin"))
    },
    Some(s"""$tokenMaskPrefixSql,
      runs AS (
        SELECT conv_id, min(ti) AS s, max(ti) + 1 AS e FROM (
          SELECT conv_id, ti,
                 ti - row_number() OVER (PARTITION BY conv_id
                   ORDER BY ti) AS grp
          FROM mid WHERE masked)
        GROUP BY conv_id, grp),
      rstr AS (
        SELECT conv_id,
               string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR),
                 ';' ORDER BY s) AS tspans
        FROM runs GROUP BY 1),
      pconv AS (
        SELECT a.conv_id, a.n_tokens, a.token_ids,
               COALESCE(r.tspans, '') AS tspans,
               a.conv_id % 8 AS shard
        FROM agg a LEFT JOIN rstr r USING (conv_id)),
      prun AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY conv_id) AS e
        FROM pconv),
      pbin AS (
        SELECT *,
               CAST(floor((e - n_tokens) / 120) AS BIGINT) AS bin
        FROM prun),
      ptoff AS (
        SELECT *,
               COALESCE(sum(n_tokens) OVER (
                 PARTITION BY shard, bin ORDER BY conv_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS toff
        FROM pbin),
      psh AS (
        SELECT shard, bin, conv_id, n_tokens, token_ids,
               array_to_string(list_transform(
                 list_filter(string_split(tspans, ';'),
                   x -> x <> ''),
                 x -> CAST(CAST(string_split(x, ':')[1] AS BIGINT)
                        + toff AS VARCHAR)
                      || ':' ||
                      CAST(CAST(string_split(x, ':')[2] AS BIGINT)
                        + toff AS VARCHAR)), ';') AS sspans
        FROM ptoff)
      SELECT CAST(shard AS BIGINT) AS shard, bin,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
             string_agg(token_ids, ',' ORDER BY conv_id) AS token_ids,
             COALESCE(string_agg(sspans, ';' ORDER BY conv_id)
               FILTER (WHERE sspans <> ''), '') AS token_mask_spans
      FROM psh GROUP BY 1, 2
      ORDER BY shard, bin
    """.trim))

  /** Chat-template rendering with loss-mask spans
    * ([[Chat.chatTemplate]]): the SFT data-prep artifact — each user's
    * first 8 events become a role-tagged conversation
    * (`<|role|>event_type#event_id` turns, engagement types playing
    * "user", the rest "assistant"), rendered to one training text per
    * conversation with 0-based [start,end) character spans over the
    * assistant contents (the tokens that carry loss). Spark computes
    * turn offsets with one per-conversation running-sum window and
    * assembles text + spans from a sorted in-row struct array; the
    * oracle replays the same offsets with window sums and
    * FILTER-aggregated string_agg, so every span boundary matches
    * exactly.
    */
  val q423ChatTemplate = HarnessQuery(
    "q423_chat_template",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val turns = Tables.events(spark, dir)
        .withColumn("idx", row_number().over(w))
        .filter(col("idx") <= 8)
        .select(col("user_id").as("conv_id"), col("idx"),
          when(col("event_type").isin("click", "view", "signup"),
            lit("user")).otherwise(lit("assistant")).as("role"),
          concat(col("event_type"), lit("#"), col("event_id"))
            .as("content"))
      Chat.chatTemplate(turns, "conv_id", "idx", "role", "content")
        .orderBy(col("conv_id"))
    },
    Some("""
      WITH t AS (
        SELECT user_id AS conv_id,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts, event_id) AS idx,
               CASE WHEN event_type IN ('click', 'view', 'signup')
                 THEN 'user' ELSE 'assistant' END AS role,
               event_type || '#' || CAST(event_id AS VARCHAR) AS content
        FROM events),
      t8 AS (SELECT * FROM t WHERE idx <= 8),
      seg AS (
        SELECT conv_id, idx, role,
               '<|' || role || '|>' || content AS seg,
               length(content) AS clen,
               length(role) + 4 AS hlen
        FROM t8),
      off AS (
        SELECT *,
               COALESCE(sum(length(seg) + 1) OVER (
                 PARTITION BY conv_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS o
        FROM seg),
      conv AS (
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN role <> 'assistant' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_user_turns,
               CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_assistant_turns,
               string_agg(seg, chr(10) ORDER BY idx) AS text,
               CAST(sum(CASE WHEN role = 'assistant' THEN clen ELSE 0 END)
                 AS BIGINT) AS assistant_chars,
               COALESCE(string_agg(
                 CAST(o + hlen AS VARCHAR) || ':'
                   || CAST(o + hlen + clen AS VARCHAR), ';'
                 ORDER BY idx) FILTER (WHERE role = 'assistant'), '')
                 AS mask_spans
        FROM off GROUP BY 1)
      SELECT conv_id, n_turns, n_user_turns, n_assistant_turns, text,
             CAST(length(text) AS BIGINT) AS total_chars,
             assistant_chars, mask_spans
      FROM conv ORDER BY conv_id
    """.trim))

  /** SFT-data lint ([[Chat.validateTurns]]): the validation pass an
    * instruction-tuning pipeline runs over raw turn tables BEFORE
    * rendering/masking — per conversation, index-gap count (dups +
    * below-1 + overshoot vs 1..n), same-role adjacency breaks,
    * empty/whitespace turns, loss-with-no-prompt starts, and
    * nothing-to-train-on conversations, rolled into a `valid` gate.
    * The fixture plants each malformation deterministically in the
    * q423 doc→turn mapping (doc_id % 37 collapses an index to 1 —
    * which ALSO puts an assistant first in those conversations via
    * the deterministic (idx, role, content) tie order; % 29 forces a
    * same-role run; % 23 blanks a turn; conversations with
    * conv_id % 31 == 0 are all-user — no completion to train on, so
    * `no_assistant` fires too); the oracle replays the mapping and
    * every check.
    */
  val q451ChatLint = HarnessQuery(
    "q451_chat_lint",
    (spark, dir) => {
      val turns = Tables.documents(spark, dir).select(
        floor(col("doc_id") / 4).cast("long").as("conv_id"),
        when(pmod(col("doc_id"), lit(37L)) === 0, lit(1))
          .otherwise((pmod(col("doc_id"), lit(4L)) + 1).cast("int"))
          .as("idx"),
        when(pmod(floor(col("doc_id") / 4), lit(31L)) === 0, lit("user"))
          .otherwise(when(pmod(col("doc_id"), lit(29L)) === 0,
            lit("user"))
            .otherwise(when(pmod(col("doc_id"), lit(2L)) === 1,
              lit("assistant")).otherwise(lit("user")))).as("role"),
        when(pmod(col("doc_id"), lit(23L)) === 0, lit(" "))
          .otherwise(array_join(
            slice(split(trim(lower(col("text"))), "\\s+"), 1, 8), " "))
          .as("content"))
      Chat.validateTurns(turns, "conv_id", "idx", "role", "content")
        .orderBy(col("conv_id"))
    },
    Some("""
      WITH turns AS (
        SELECT CAST(floor(doc_id / 4) AS BIGINT) AS conv_id,
               CASE WHEN doc_id % 37 = 0 THEN 1
                    ELSE CAST(doc_id % 4 + 1 AS INT) END AS idx,
               CASE WHEN CAST(floor(doc_id / 4) AS BIGINT) % 31 = 0
                      THEN 'user'
                    WHEN doc_id % 29 = 0 THEN 'user'
                    WHEN doc_id % 2 = 1 THEN 'assistant'
                    ELSE 'user' END AS role,
               CASE WHEN doc_id % 23 = 0 THEN ' '
                    ELSE array_to_string(
                      (regexp_split_to_array(trim(lower(text)), '\s+'))[1:8],
                      ' ') END AS content
        FROM documents),
      o AS (
        SELECT *,
               lag(role) OVER (PARTITION BY conv_id
                 ORDER BY idx, role, content) AS prev_role,
               row_number() OVER (PARTITION BY conv_id
                 ORDER BY idx, role, content) AS rn
        FROM turns),
      a AS (
        SELECT conv_id,
               CAST(count(*) AS BIGINT) AS n_turns,
               CAST(sum(CASE WHEN prev_role IS NOT NULL
                 AND prev_role = role THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_alternations,
               CAST(sum(CASE WHEN content IS NULL
                 OR length(trim(content)) = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS empty_turns,
               CAST(max(CASE WHEN rn = 1 AND role = 'assistant'
                 THEN 1 ELSE 0 END) AS BIGINT) AS starts_with_assistant,
               CAST(CASE WHEN sum(CASE WHEN role = 'assistant'
                 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS no_assistant,
               count(DISTINCT idx) AS nd,
               sum(CASE WHEN idx >= 1 THEN 1 ELSE 0 END) AS ge1,
               max(idx) AS mx
        FROM o GROUP BY 1),
      b AS (
        SELECT conv_id, n_turns,
               CAST((n_turns - nd) + (n_turns - ge1)
                 + CASE WHEN mx > n_turns THEN mx - n_turns
                   ELSE 0 END AS BIGINT) AS idx_gaps,
               bad_alternations, empty_turns, starts_with_assistant,
               no_assistant
        FROM a)
      SELECT conv_id, n_turns, idx_gaps, bad_alternations, empty_turns,
             starts_with_assistant, no_assistant,
             (idx_gaps = 0 AND bad_alternations = 0 AND empty_turns = 0
              AND starts_with_assistant = 0 AND no_assistant = 0)
               AS valid
      FROM b ORDER BY conv_id
    """.trim))

  /** q436's oracle prefix splits at its conversation fixture: the
    * WordPiece-vocabulary chain (everything before `docs8`) and the
    * tokenization chain (`wl` onward) are shared VERBATIM by the SFT
    * capstone below, which swaps in the LINT-GATED conversation
    * fixture between them — one source of truth for the tokenizer
    * replay, so the chains cannot drift apart.
    */
  private val wpVocabSql: String =
    tokenMaskPrefixSql.substring(0, tokenMaskPrefixSql.indexOf("docs8 AS ("))
  private val tokenizeChainSql: String =
    tokenMaskPrefixSql.substring(tokenMaskPrefixSql.indexOf("wl AS ("))

  /** The q451 malformed-turn fixture, linted and gated in SQL: only
    * conversations passing every validateTurns check reach rendering
    * — the `conv` CTE this emits feeds the shared tokenization chain.
    */
  private val sftLintedConvSql: String = """turnsx AS (
        SELECT CAST(floor(doc_id / 4) AS BIGINT) AS conv_id,
               CASE WHEN doc_id % 37 = 0 THEN 1
                    ELSE CAST(doc_id % 4 + 1 AS INT) END AS idx,
               CASE WHEN CAST(floor(doc_id / 4) AS BIGINT) % 31 = 0
                      THEN 'user'
                    WHEN doc_id % 29 = 0 THEN 'user'
                    WHEN doc_id % 2 = 1 THEN 'assistant'
                    ELSE 'user' END AS role,
               CASE WHEN doc_id % 23 = 0 THEN ' '
                    ELSE array_to_string(
                      (regexp_split_to_array(trim(lower(text)), '\s+'))[1:8],
                      ' ') END AS content
        FROM documents),
      lo AS (
        SELECT *,
               lag(role) OVER (PARTITION BY conv_id
                 ORDER BY idx, role, content) AS prev_role,
               row_number() OVER (PARTITION BY conv_id
                 ORDER BY idx, role, content) AS rn
        FROM turnsx),
      la AS (
        SELECT conv_id,
               count(*) AS n_turns,
               sum(CASE WHEN prev_role IS NOT NULL
                 AND prev_role = role THEN 1 ELSE 0 END)
                 AS bad_alternations,
               sum(CASE WHEN content IS NULL
                 OR length(trim(content)) = 0 THEN 1 ELSE 0 END)
                 AS empty_turns,
               max(CASE WHEN rn = 1 AND role = 'assistant'
                 THEN 1 ELSE 0 END) AS starts_with_assistant,
               CASE WHEN sum(CASE WHEN role = 'assistant'
                 THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
                 AS no_assistant,
               count(DISTINCT idx) AS nd,
               sum(CASE WHEN idx >= 1 THEN 1 ELSE 0 END) AS ge1,
               max(idx) AS mx
        FROM lo GROUP BY 1),
      vgate AS MATERIALIZED (
        SELECT conv_id FROM la
        WHERE (n_turns - nd) + (n_turns - ge1)
                + CASE WHEN mx > n_turns THEN mx - n_turns ELSE 0 END = 0
          AND bad_alternations = 0 AND empty_turns = 0
          AND starts_with_assistant = 0 AND no_assistant = 0),
      gturns AS (
        SELECT t.* FROM turnsx t JOIN vgate USING (conv_id)),
      seg AS (
        SELECT conv_id, idx, role,
               '<|' || role || '|>' || content AS seg,
               length(content) AS clen,
               length(role) + 4 AS hlen
        FROM gturns),
      soff AS (
        SELECT *,
               COALESCE(sum(length(seg) + 1) OVER (
                 PARTITION BY conv_id ORDER BY idx
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS o
        FROM seg),
      conv AS MATERIALIZED (
        SELECT conv_id,
               string_agg(seg, chr(10) ORDER BY idx) AS text,
               COALESCE(string_agg(
                 CAST(o + hlen AS VARCHAR) || ':'
                   || CAST(o + hlen + clen AS VARCHAR), ';'
                 ORDER BY idx) FILTER (WHERE role = 'assistant'), '')
                 AS mask_spans
        FROM soff GROUP BY 1),
      """

  /** q439's packing chain (token-budget 120, shard = conv_id % 8)
    * down to the per-conversation pack rows — shared by the capstone
    * result (q453) and its yield audit (q455).
    */
  private val sftPackChainSql: String = """,
      runs AS (
        SELECT conv_id, min(ti) AS s, max(ti) + 1 AS e FROM (
          SELECT conv_id, ti,
                 ti - row_number() OVER (PARTITION BY conv_id
                   ORDER BY ti) AS grp
          FROM mid WHERE masked)
        GROUP BY conv_id, grp),
      rstr AS (
        SELECT conv_id,
               string_agg(CAST(s AS VARCHAR) || ':' || CAST(e AS VARCHAR),
                 ';' ORDER BY s) AS tspans
        FROM runs GROUP BY 1),
      pconv AS (
        SELECT a.conv_id, a.n_tokens, a.token_ids,
               COALESCE(r.tspans, '') AS tspans,
               a.conv_id % 8 AS shard
        FROM agg a LEFT JOIN rstr r USING (conv_id)),
      prun AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY conv_id) AS e
        FROM pconv),
      pbin AS (
        SELECT *,
               CAST(floor((e - n_tokens) / 120) AS BIGINT) AS bin
        FROM prun),
      ptoff AS (
        SELECT *,
               COALESCE(sum(n_tokens) OVER (
                 PARTITION BY shard, bin ORDER BY conv_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS toff
        FROM pbin),
      psh AS (
        SELECT shard, bin, conv_id, n_tokens, token_ids,
               array_to_string(list_transform(
                 list_filter(string_split(tspans, ';'),
                   x -> x <> ''),
                 x -> CAST(CAST(string_split(x, ':')[1] AS BIGINT)
                        + toff AS VARCHAR)
                      || ':' ||
                      CAST(CAST(string_split(x, ':')[2] AS BIGINT)
                        + toff AS VARCHAR)), ';') AS sspans
        FROM ptoff)"""

  /** Shared oracle prefix for q453/q455: the ENTIRE instruction-data
    * chain in one recursive SQL statement — vocabulary training (the
    * q422/q428 chain), the q451 malformed-turn fixture linted and
    * gated, chat-template rendering with char spans (the q423 chain),
    * the full WordPiece tokenization + token-mask replay (the q436
    * chain), and token-budget packing with token-offset re-based
    * spans (the q439 chain).
    */
  private val sftCapstonePrefixSql: String =
    wpVocabSql + sftLintedConvSql + tokenizeChainSql + sftPackChainSql

  /** Build the persisted vocabulary and run the SFT capstone
    * ([[graft.pipeline.SftPipeline]]) over the q451 malformed-turn
    * fixture — raw role-tagged turns in, token-budget packs with
    * re-based TOKEN-index loss masks out, with the lint gate dropping
    * every planted malformation on the way.
    */
  private def runSftCapstone(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      withAudit: Boolean): graft.pipeline.SftPipeline.SftPipelineResult = {
    val vPath = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q453_wordpiece")
      .getAbsolutePath
    val docs = Tables.documents(spark, dir)
    TokenizerStore.saveWordpieceVocab(
      TextAnalysis.wordpieceVocab(docs, "text"), vPath)
    val turns = docs.select(
      floor(col("doc_id") / 4).cast("long").as("conv_id"),
      when(pmod(col("doc_id"), lit(37L)) === 0, lit(1))
        .otherwise((pmod(col("doc_id"), lit(4L)) + 1).cast("int"))
        .as("idx"),
      when(pmod(floor(col("doc_id") / 4), lit(31L)) === 0, lit("user"))
        .otherwise(when(pmod(col("doc_id"), lit(29L)) === 0,
          lit("user"))
          .otherwise(when(pmod(col("doc_id"), lit(2L)) === 1,
            lit("assistant")).otherwise(lit("user")))).as("role"),
      when(pmod(col("doc_id"), lit(23L)) === 0, lit(" "))
        .otherwise(array_join(
          slice(split(trim(lower(col("text"))), "\\s+"), 1, 8), " "))
        .as("content"))
    graft.pipeline.SftPipeline.run(turns,
      TokenizerStore.loadWordpieceVocab(spark, vPath),
      "conv_id", "idx", "role", "content",
      graft.pipeline.SftPipeline.SftPipelineConfig(
        targetTokens = 120, shards = 8),
      withAudit = withAudit)
  }

  /** The instruction-data CAPSTONE ([[graft.pipeline.SftPipeline]]):
    * SFT lint gate → chat-template rendering → token loss masks under
    * the PERSISTED WordPiece vocabulary → token-budget packs with
    * re-based token-index mask spans — raw turn tables in, trainer
    * sequences out, every stage an individually-oracled operator
    * (q451/q423/q436/q439) and the whole chain replayed end to end in
    * ONE SQL statement. The q446 twin for instruction data: stage
    * composition (mask re-basing across packs, lint-gate id domains,
    * token-count coverage) is where chaining bugs hide, and this
    * query pins the composition itself.
    */
  val q453SftCapstone = HarnessQuery(
    "q453_sft_capstone",
    (spark, dir) => runSftCapstone(spark, dir, withAudit = false)
      .packs.orderBy(col("shard"), col("bin")),
    Some(s"""$sftCapstonePrefixSql
      SELECT CAST(shard AS BIGINT) AS shard, bin,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
             string_agg(token_ids, ',' ORDER BY conv_id) AS token_ids,
             COALESCE(string_agg(sspans, ';' ORDER BY conv_id)
               FILTER (WHERE sspans <> ''), '') AS token_mask_spans
      FROM psh GROUP BY 1, 2
      ORDER BY shard, bin
    """.trim))

  /** The SFT capstone's per-stage yield audit (the q447 discipline):
    * turns → valid_convs → rendered → masked → packs row counts,
    * replayed by the same oracle chain — where the corpus' volume
    * went, stage by stage, including how many conversations the lint
    * gate dropped.
    */
  val q455SftCapstoneAudit = HarnessQuery(
    "q455_sft_capstone_audit",
    (spark, dir) => {
      import spark.implicits._
      runSftCapstone(spark, dir, withAudit = true).audit.zipWithIndex
        .map { case ((stage, n), i) => (i.toLong, stage, n) }
        .toDF("ord", "stage", "n")
        .orderBy(col("ord"))
    },
    Some(s"""$sftCapstonePrefixSql
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS ord, 'turns' AS stage,
               (SELECT count(*) FROM turnsx) AS n
        UNION ALL SELECT 1, 'valid_convs', (SELECT count(*) FROM vgate)
        UNION ALL SELECT 2, 'rendered', (SELECT count(*) FROM conv)
        UNION ALL SELECT 3, 'masked', (SELECT count(*) FROM agg)
        UNION ALL SELECT 4, 'packs',
          (SELECT count(*) FROM (SELECT DISTINCT shard, bin FROM pbin))
      ) ORDER BY ord
    """.trim))


  /** Build the crawl fixture + persisted artifacts and run the
    * WARC.gz → packed-tokens capstone ([[graft.pipeline.WarcPipeline]]).
    *
    * Corpus domain: the EVEN half (doc_id % 2 == 0) — the
    * judge-prescribed bench-slice discipline (q373/q376/q404/q418);
    * the oracle replays the slice, and the chain mechanics this query
    * pins are size-independent. The crawl: every doc_id % 10 == 0
    * document shipped as its own WARC.gz archive — one gzip member
    * carrying the HTTP 200 text/html response (the document text
    * inside a boilerplate-framed page: script head + nav chrome + one
    * prose <p>), one member carrying the request record (filtered out
    * by status/type gating) — the Common-Crawl member-per-record
    * layout. The persisted artifacts: the minhash dedup index SAVED
    * over the already-ingested corpus (the remaining evens) and the
    * WordPiece vocabulary SAVED over the full corpus (the q428
    * chain); the pipeline runs against the LOADED parquet forms of
    * both.
    */
  private def runWarcCapstone(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      withAudit: Boolean): graft.pipeline.WarcPipeline.WarcPipelineResult = {
    import spark.implicits._
    import graft.operators.Multimodal
    val ixPath = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q446_minhash_index")
      .getAbsolutePath
    val vPath = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_q446_wordpiece")
      .getAbsolutePath
    val docs = Tables.documents(spark, dir)
    TextDedup.saveMinhashIndex(
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0 &&
        pmod(col("doc_id"), lit(10L)) =!= 0),
      "text", "doc_id", ixPath,
      hashFn = graft.functions.TextFunctions.fastHash)
    TokenizerStore.saveWordpieceVocab(
      TextAnalysis.wordpieceVocab(docs, "text"), vPath)
    val crawl = docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val html = "<html><head><script>var x = 1;</script></head>" +
          "<body><div class=\"nav\"><a href=\"/\">Home</a></div>" +
          "<p>" + text + "</p></body></html>"
        val ok = "HTTP/1.1 200 OK\r\n" +
          "Content-Type: text/html; charset=utf-8\r\n\r\n" + html
        Multimodal.MediaRow(id,
          Multimodal.gzipMembersBytes(Seq(
            Multimodal.warcBytesRaw(Seq(
              ("response", s"https://d$id.example/", ok))),
            Multimodal.warcBytesRaw(Seq(
              ("request", s"https://d$id.example/", ""))))),
          "application/warc", -1, -1)
      }
    graft.pipeline.WarcPipeline.run(crawl,
      TextDedup.loadMinhashIndex(spark, ixPath),
      TokenizerStore.loadWordpieceVocab(spark, vPath),
      withAudit = withAudit)
  }

  /** Shared oracle prefix for q446/q447: the full capstone chain in
    * SQL — vocabulary training (the q422/q428 chain), the WARC.gz
    * fixture's HTML rebuilt per crawl doc and the exact TextPrep
    * regex/line-classifier replay (the q413 chain), the quality +
    * language gate (the q52 ladder + stopword vote), the brute-force
    * near-dup probe against the stored corpus (the q435 ground
    * truth), greedy WordPiece token counts of the survivors (the q443
    * chain), and the sharded token-budget binning (the q437 chain).
    */
  private val warcCapstonePrefixSql: String = {
    import graft.operators.TextPrep._
    def q(p: String) = "'" + p.replace("'", "''") + "'"
    val entityChain = Entities.foldLeft("s0") { case (acc, (ent, ch)) =>
      s"regexp_replace($acc, ${q(ent)}, ${q(ch)}, 'g')"
    }
    s"""
      WITH RECURSIVE toksd AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
          AS word
        FROM documents),
      wordsd AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS wcnt
        FROM toksd WHERE length(word) BETWEEN 1 AND 16
        GROUP BY 1),
      sed AS (
        SELECT word, wcnt,
               unnest(generate_series(1, length(word))) AS e
        FROM wordsd),
      sejd AS (
        SELECT word, wcnt, e,
               unnest(generate_series(1, least(4, e))) AS j
        FROM sed),
      subsd AS MATERIALIZED (
        SELECT word, wcnt, e - j AS s, e,
               CASE WHEN e - j = 0 THEN substr(word, e - j + 1, j)
                    ELSE '##' || substr(word, e - j + 1, j) END AS wp
        FROM sejd),
      vocab AS MATERIALIZED (
        SELECT wp FROM (
          SELECT wp, sum(wcnt) AS cnt FROM subsd GROUP BY 1
          ORDER BY cnt DESC, wp LIMIT 200)),
      crawl AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
      h AS (
        SELECT doc_id,
               '<html><head><script>var x = 1;</script></head>'
               || '<body><div class="nav"><a href="/">Home</a></div>'
               || '<p>' || text || '</p></body></html>' AS html
        FROM crawl),
      c1 AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                 html, ${q(CommentRe)}, '', 'g'),
                 ${q(ScriptRe)}, '', 'g'),
                 ${q(StyleRe)}, '', 'g') AS s0
        FROM h),
      c2 AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 s0, ${q(AnchorOpenRe)}, chr(1), 'g'),
                 ${q(AnchorCloseRe)}, chr(2), 'g'),
                 ${q(BlockTagRe)}, chr(10), 'g'),
                 ${q(AnyTagRe)}, '', 'g') AS s0
        FROM c1),
      c3 AS (SELECT doc_id, $entityChain AS s0 FROM c2),
      l0 AS (SELECT doc_id, string_split(s0, chr(10)) AS ls FROM c3),
      l1 AS (SELECT doc_id, unnest(generate_series(1, len(ls))) AS i, ls
             FROM l0),
      l2 AS (SELECT doc_id, i, ls[i] AS raw FROM l1),
      feat AS (
        SELECT doc_id, i,
               trim(regexp_replace(regexp_replace(
                 raw, '[\\x01\\x02]', '', 'g'), '\\s+', ' ', 'g')) AS line,
               coalesce(list_sum(list_transform(
                 regexp_extract_all(raw, ${q(AnchorSpanRe)}, 1),
                 x -> length(trim(regexp_replace(x, '\\s+', ' ', 'g'))))),
                 0) AS link_chars
        FROM l2),
      vis AS (
        SELECT doc_id, i, line, length(line) AS n_chars, link_chars,
               regexp_extract_all(lower(line), '[a-z]+') AS words
        FROM feat WHERE length(line) > 0),
      num AS (
        SELECT doc_id,
               row_number() OVER (PARTITION BY doc_id ORDER BY i)
                 AS line_no,
               line, n_chars, link_chars, len(words) AS n_words,
               len(list_filter(words, w -> list_contains(
                 [${StopwordsEn.map(q).mkString(", ")}], w))) AS n_stop
        FROM vis),
      cls AS (
        SELECT doc_id, line_no, line, n_chars,
               floor(CAST(least(link_chars, n_chars) AS DOUBLE)
                 / n_chars * 1e9) / 1e9 AS ld,
               CASE WHEN n_words > 0
                    THEN floor(CAST(n_stop AS DOUBLE) / n_words * 1e9) / 1e9
                    ELSE 0.0 END AS sd
        FROM num),
      keptl AS (
        SELECT doc_id, line_no, line FROM cls
        WHERE NOT (n_chars < 15 OR ld > 0.35 OR sd < 0.05)),
      rec AS MATERIALIZED (
        SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
        FROM keptl GROUP BY 1),
      rt AS (
        SELECT doc_id, text,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks,
               length(text) AS n_chars
        FROM rec),
      rst AS (
        SELECT doc_id, len(toks) AS n_tokens,
               CAST(length(array_to_string(toks, '')) AS DOUBLE)
                 / len(toks) AS mean_token_len,
               CAST(n_chars - length(regexp_replace(text,
                 '[[:punct:]]', '', 'g')) AS DOUBLE)
                 / nullif(n_chars, 0) AS punct_ratio,
               CAST(n_chars - length(regexp_replace(text,
                 '[0-9]', '', 'g')) AS DOUBLE)
                 / nullif(n_chars, 0) AS digit_ratio
        FROM rt),
      rq AS (
        SELECT doc_id, greatest(0.0, 1.0
               - CASE WHEN n_tokens < 5 THEN 0.5 ELSE 0.0 END
               - CASE WHEN punct_ratio > 0.3 THEN 0.3 ELSE 0.0 END
               - CASE WHEN digit_ratio > 0.3 THEN 0.2 ELSE 0.0 END
               - CASE WHEN mean_token_len < 2.0 THEN 0.2 ELSE 0.0 END)
                 AS quality_score
        FROM rst),
      rtokx AS (SELECT doc_id, unnest(toks) AS tk FROM rt),
      rhits AS (
        SELECT doc_id,
          sum(CASE WHEN tk IN ('der','die','das','und','ist','nicht','ein','mit','den','zu') THEN 1 ELSE 0 END) AS de,
          sum(CASE WHEN tk IN ('the','and','of','to','a','in','is','it','that','for') THEN 1 ELSE 0 END) AS en,
          sum(CASE WHEN tk IN ('el','la','los','y','es','un','una','en','por','que') THEN 1 ELSE 0 END) AS es,
          sum(CASE WHEN tk IN ('le','la','les','et','est','un','une','dans','pour','que') THEN 1 ELSE 0 END) AS fr
        FROM rtokx GROUP BY doc_id),
      gated AS MATERIALIZED (
        SELECT rt.doc_id, rt.text FROM rt
        JOIN rq ON rq.doc_id = rt.doc_id
        LEFT JOIN rhits hh ON hh.doc_id = rt.doc_id
        WHERE rq.quality_score >= 0.5
          AND NOT (hh.doc_id IS NULL
                   OR greatest(hh.de, hh.en, hh.es, hh.fr) = 0)
          AND NOT (hh.de >= hh.en AND hh.de >= hh.es AND hh.de >= hh.fr)
          AND (hh.en >= hh.es AND hh.en >= hh.fr)),
      corpsh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2),
          i -> array_to_string((regexp_split_to_array(trim(lower(text)), '\\s+'))[i:i+2], ' ')))
          AS sh
        FROM documents WHERE doc_id % 2 = 0 AND doc_id % 10 <> 0),
      incsh AS (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2),
          i -> array_to_string((regexp_split_to_array(trim(lower(text)), '\\s+'))[i:i+2], ' ')))
          AS sh
        FROM gated),
      dup AS (
        SELECT DISTINCT b.doc_id FROM corpsh a, incsh b
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      surv AS MATERIALIZED (
        SELECT g.doc_id, g.text FROM gated g
        LEFT JOIN dup d ON d.doc_id = g.doc_id
        WHERE d.doc_id IS NULL),
      tw AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+'))
                 AS word
        FROM surv),
      tw1 AS MATERIALIZED (
        SELECT doc_id, word FROM tw WHERE length(word) >= 1),
      cw AS MATERIALIZED (
        SELECT DISTINCT word FROM tw1
        WHERE length(word) BETWEEN 1 AND 16),
      cse AS (
        SELECT word, unnest(generate_series(1, length(word))) AS e
        FROM cw),
      csej AS (
        SELECT word, e, unnest(generate_series(1, least(4, e))) AS j
        FROM cse),
      csubs AS (
        SELECT DISTINCT word, e - j AS s, e,
               CASE WHEN e - j = 0 THEN substr(word, e - j + 1, j)
                    ELSE '##' || substr(word, e - j + 1, j) END AS wp
        FROM csej),
      best AS MATERIALIZED (
        SELECT word, s, e, wp FROM (
          SELECT c.word, c.s, c.e, c.wp,
                 row_number() OVER (PARTITION BY c.word, c.s
                   ORDER BY c.e DESC) AS rk
          FROM csubs c JOIN vocab v ON v.wp = c.wp) WHERE rk = 1),
      step AS (
        SELECT word, 0 AS pos, false AS failed, 0 AS np FROM cw
        UNION ALL
        SELECT s.word,
               CAST(COALESCE(b.e, length(s.word)) AS INT) AS pos,
               b.e IS NULL AS failed,
               s.np + 1 AS np
        FROM step s LEFT JOIN best b
          ON b.word = s.word AND b.s = s.pos
        WHERE s.pos < length(s.word) AND NOT s.failed),
      fin AS MATERIALIZED (
        SELECT word, np, failed FROM step
        WHERE failed OR pos = length(word)),
      cnts AS MATERIALIZED (
        SELECT t.doc_id,
               CAST(sum(CASE WHEN f.word IS NULL OR f.failed THEN 1
                 ELSE f.np END) AS BIGINT) AS n_tokens
        FROM tw1 t LEFT JOIN fin f ON f.word = t.word
        GROUP BY 1),
      conv2 AS (
        SELECT s.doc_id AS conv_id, s.text,
               CAST(length(s.text) AS BIGINT) AS total_chars,
               c.n_tokens, s.doc_id % 8 AS shard
        FROM surv s JOIN cnts c USING (doc_id)),
      prun AS (
        SELECT *, sum(n_tokens) OVER (PARTITION BY shard
                 ORDER BY conv_id) AS e
        FROM conv2),
      pbin AS (
        SELECT *, CAST(floor((e - n_tokens) / 512) AS BIGINT) AS bin
        FROM prun)"""
  }

  /** The crawl-to-trainer CAPSTONE ([[graft.pipeline.WarcPipeline]]):
    * WARC.gz member walk → HTTP/HTML text extraction → quality +
    * language gate → near-dup probe against the PERSISTED minhash
    * index → token counts under the PERSISTED WordPiece vocabulary →
    * token-budget packs — raw crawl bytes in, training sequences out,
    * every stage an individually-oracled operator (q438/q413/q52/
    * q435/q428/q437) and the whole chain replayed end to end in ONE
    * SQL statement. Stage composition is where id-domain and schema
    * bugs hide; this query pins the composition itself.
    */
  val q446WarcCapstone = HarnessQuery(
    "q446_warc_capstone",
    (spark, dir) => runWarcCapstone(spark, dir, withAudit = false)
      .packs.orderBy(col("shard"), col("bin")),
    Some(s"""$warcCapstonePrefixSql
      SELECT CAST(shard AS BIGINT) AS shard, bin,
             CAST(count(*) AS BIGINT) AS n_convs,
             CAST(sum(n_tokens) AS BIGINT) AS packed_tokens,
             CAST(sum(total_chars) + 2 * (count(*) - 1) AS BIGINT)
               AS packed_chars,
             string_agg(text, chr(10) || chr(10) ORDER BY conv_id)
               AS text
      FROM pbin GROUP BY 1, 2
      ORDER BY shard, bin
    """.trim))

  /** The capstone's per-stage yield audit (the q76 DocPipeline
    * pattern): media → extracted → gated → survivors → packs row
    * counts, replayed by the same oracle chain — the frame a corpus
    * operator reads to explain where the crawl's volume went.
    */
  val q447CapstoneAudit = HarnessQuery(
    "q447_capstone_audit",
    (spark, dir) => {
      import spark.implicits._
      runWarcCapstone(spark, dir, withAudit = true).audit.zipWithIndex
        .map { case ((stage, n), i) => (i.toLong, stage, n) }
        .toDF("ord", "stage", "n")
        .orderBy(col("ord"))
    },
    Some(s"""$warcCapstonePrefixSql
      SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS ord, 'media' AS stage,
               (SELECT count(*) FROM crawl) AS n
        UNION ALL SELECT 1, 'extracted', (SELECT count(*) FROM rec)
        UNION ALL SELECT 2, 'gated', (SELECT count(*) FROM gated)
        UNION ALL SELECT 3, 'survivors', (SELECT count(*) FROM surv)
        UNION ALL SELECT 4, 'packs',
          (SELECT count(*) FROM (SELECT shard, bin FROM pbin
                                 GROUP BY 1, 2))
      ) ORDER BY ord
    """.trim))

  /** The q446 oracle prefix, split for reuse by the continual crawl
    * service (q456): the vocabulary chain, the HTML-fixture
    * extraction + quality/language gate (reads a `crawl` CTE), the
    * corpus shingle table, and the survivor token-count chain (reads
    * a `surv` CTE) are shared VERBATIM — q456 swaps in its two-batch
    * crawl fixture and the two-phase accumulated-index dedup between
    * them, so the batch and streaming products replay the same
    * extraction/gate/count semantics from one source of truth.
    */
  private val warcVocabSql: String =
    warcCapstonePrefixSql.substring(
      0, warcCapstonePrefixSql.indexOf("crawl AS ("))
  private val warcExtractGateSql: String =
    warcCapstonePrefixSql.substring(
      warcCapstonePrefixSql.indexOf("\n      h AS ("),
      warcCapstonePrefixSql.indexOf("\n      corpsh AS ("))
  private val warcCorpusShSql: String =
    warcCapstonePrefixSql.substring(
      warcCapstonePrefixSql.indexOf("\n      corpsh AS ("),
      warcCapstonePrefixSql.indexOf("\n      incsh AS ("))
  private val warcTokenCountSql: String =
    warcCapstonePrefixSql.substring(
      warcCapstonePrefixSql.indexOf("\n      tw AS ("),
      warcCapstonePrefixSql.indexOf("\n      conv2 AS ("))

  /** The streaming twin of the crawl capstone
    * ([[graft.streaming.Continual.replay]] of [[graft.streaming.ContinualCrawl]]): the q446
    * WARC.gz fixture split into two arriving batches — batch 1 the
    * doc_id % 20 = 0 crawl docs as their own archives; batch 2 the
    * % 20 = 10 docs (media ids + 500000, keeping ids globally
    * increasing for the packing contract) PLUS exact clones of the
    * % 40 = 0 batch-1 docs (+ 1000000), which must match either their
    * batch-1 SURVIVOR original or the same corpus doc the original
    * matched (the batch-ordering contract). Each batch runs the whole
    * chain: extraction + gate (the q446 code path), probe against the
    * ACCUMULATED minhash index seeded from the PERSISTED corpus index
    * (survivors fold in), token counts under the FROZEN q428
    * vocabulary, and sequence packing with RUNNING global offsets
    * (seqLen 512, ContinualPacking's 1-row state). One manifest row
    * per gated doc: dedup verdict + (for survivors) pack placement.
    * The oracle replays both phases brute-force (the q441 dedup
    * discipline) and the global offset cumsum in (batch, media) order.
    */
  val q456ContinualCrawl = HarnessQuery(
    "q456_continual_crawl",
    (spark, dir) => {
      import spark.implicits._
      import graft.operators.Multimodal
      def rmrf(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmrf)
        f.delete(); ()
      }
      val ixPath = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_q456_minhash_index")
      rmrf(ixPath)
      val docs = Tables.documents(spark, dir)
      // the persisted corpus index: the q446 corpus (evens excluding
      // crawl docs), saved then LOADED — the service starts from the
      // object-storage artifact, exactly as a deployment would
      TextDedup.saveMinhashIndex(
        docs.filter(pmod(col("doc_id"), lit(2L)) === 0 &&
          pmod(col("doc_id"), lit(10L)) =!= 0),
        "text", "doc_id", ixPath.getAbsolutePath,
        hashFn = graft.functions.TextFunctions.fastHash)
      val vocab = TextAnalysis.wordpieceVocab(docs, "text")
      def mediaOf(sel: org.apache.spark.sql.DataFrame) =
        sel.as[(Long, String)].map { case (id, text) =>
          val html = "<html><head><script>var x = 1;</script></head>" +
            "<body><div class=\"nav\"><a href=\"/\">Home</a></div>" +
            "<p>" + text + "</p></body></html>"
          val ok = "HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/html; charset=utf-8\r\n\r\n" + html
          Multimodal.MediaRow(id,
            Multimodal.gzipMembersBytes(Seq(
              Multimodal.warcBytesRaw(Seq(
                ("response", s"https://d$id.example/", ok))),
              Multimodal.warcBytesRaw(Seq(
                ("request", s"https://d$id.example/", ""))))),
            "application/warc", -1, -1)
        }
      val b1 = mediaOf(docs.filter(pmod(col("doc_id"), lit(20L)) === 0)
        .select(col("doc_id"), col("text")))
      val b2 = mediaOf(
        docs.filter(pmod(col("doc_id"), lit(20L)) === 10)
          .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
          .unionByName(
            docs.filter(pmod(col("doc_id"), lit(40L)) === 0)
              .select((col("doc_id") + 1000000L).as("doc_id"),
                col("text"))))
      // crosses_boundary / append_ok stay in the library manifest but
      // are projected out here: nullable BOOLEAN columns hash
      // differently across engines' null stringifications, and both
      // are derivable (crosses = n_seqs_spanned > 1; append_ok is
      // all-true under the fixture's increasing media ids)
      graft.streaming.Continual.replay(
        graft.streaming.ContinualCrawl.service(
          TextDedup.loadMinhashIndex(spark, ixPath.getAbsolutePath), vocab),
        Seq(b1.toDF(), b2.toDF()))
        .drop("crosses_boundary", "append_ok")
        .orderBy(col("batch_id"), col("media_id"))
    },
    Some(s"""${warcVocabSql}crawl AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0
        UNION ALL
        SELECT doc_id + 500000, text FROM documents
        WHERE doc_id % 20 = 10
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents
        WHERE doc_id % 40 = 0),$warcExtractGateSql$warcCorpusShSql
      ish AS MATERIALIZED (
        SELECT doc_id, list_distinct(list_transform(
          generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 2),
          i -> array_to_string((regexp_split_to_array(trim(lower(text)), '\\s+'))[i:i+2], ' ')))
          AS sh
        FROM gated),
      i1 AS (SELECT * FROM ish WHERE doc_id < 500000),
      i2 AS (SELECT * FROM ish WHERE doc_id >= 500000),
      hit1 AS (SELECT b.doc_id, min(a.doc_id) AS m
               FROM i1 b JOIN corpsh a
                 ON CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
               GROUP BY 1),
      v1 AS MATERIALIZED (
        SELECT g.doc_id, CAST(0 AS BIGINT) AS batch_id,
               h.m IS NOT NULL AS is_dup, h.m AS matched_id
        FROM i1 g LEFT JOIN hit1 h USING (doc_id)),
      acc2 AS (SELECT doc_id, sh FROM corpsh
               UNION ALL
               SELECT i.doc_id, i.sh FROM i1 i JOIN v1 v
                 ON v.doc_id = i.doc_id AND NOT v.is_dup),
      hit2 AS (SELECT b.doc_id, min(a.doc_id) AS m
               FROM i2 b JOIN acc2 a
                 ON CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
               GROUP BY 1),
      v2 AS MATERIALIZED (
        SELECT g.doc_id, CAST(1 AS BIGINT) AS batch_id,
               h.m IS NOT NULL AS is_dup, h.m AS matched_id
        FROM i2 g LEFT JOIN hit2 h USING (doc_id)),
      verd AS MATERIALIZED (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2),
      surv AS MATERIALIZED (
        SELECT g.doc_id, g.text FROM gated g JOIN verd v
          ON v.doc_id = g.doc_id AND NOT v.is_dup),$warcTokenCountSql
      ordq AS (
        SELECT v.batch_id, v.doc_id, c.n_tokens
        FROM verd v JOIN cnts c USING (doc_id)
        WHERE NOT v.is_dup),
      poff AS (
        SELECT batch_id, doc_id, n_tokens,
               COALESCE(sum(n_tokens) OVER (
                 ORDER BY batch_id, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS start_offset
        FROM ordq),
      pm AS (
        SELECT batch_id, doc_id, n_tokens, start_offset,
               start_offset // 512 AS first_seq,
               CASE WHEN n_tokens > 0
                 THEN (start_offset + n_tokens - 1) // 512
                 ELSE start_offset // 512 END AS last_seq,
               start_offset % 512 AS offset_in_seq
        FROM poff)
      SELECT v.batch_id, v.doc_id AS media_id, v.is_dup,
             CAST(v.matched_id AS BIGINT) AS matched_id,
             p.n_tokens, p.start_offset, p.first_seq, p.last_seq,
             p.offset_in_seq,
             CASE WHEN p.doc_id IS NULL THEN NULL
               ELSE p.last_seq - p.first_seq + 1 END AS n_seqs_spanned
      FROM verd v LEFT JOIN pm p ON p.doc_id = v.doc_id
      ORDER BY v.batch_id, media_id
    """.trim))
}

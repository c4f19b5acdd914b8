package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Encoding, Evaluation, Expectations, Preference}
import graft.sources.Tables

/** Model-evaluation, supervised-encoding and data-quality queries — the
  * read-out layer of the fraud pipeline (the sklearn
  * `classification_report`/AUC step after `processor.py`'s prep, the
  * credit-scorecard WOE/IV/PSI extensions of `transform_data.py`'s
  * one-hot stop, and the formalized expectations gate over
  * `clean_data.py`'s ad-hoc null checks).
  *
  * The scored frame is a deterministic derivation over `events`
  * (arithmetic only — both engines compute bit-identical doubles):
  * label = event_id % 10 == 0, score = ((event_id·7919 + user_id) mod
  * 700)/999 + 0.3·label — ~1400 distinct scores with ~7-way ties, so
  * the tie handling of the rank/AUC machinery is actually exercised.
  * ln()-derived metrics round to 12 to absorb libm ulp tails; all other
  * ratios are single correctly-rounded integer divisions.
  */
object EvalQueries {

  private def scored(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id"), col("user_id"),
      when(pmod(col("event_id"), lit(10L)) === 0, 1L).otherwise(0L).as("label"))
      .withColumn("score",
        pmod(col("event_id") * lit(7919L) + col("user_id"), lit(700L))
          .cast("double") / lit(999.0) + col("label") * lit(0.3))

  private val scoredSql = """
      scored AS (
        SELECT event_id, user_id,
               CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label,
               CAST((event_id * 7919 + user_id) % 700 AS DOUBLE) / 999.0
                 + (CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) * 0.3 AS score
        FROM events),
      per AS (
        SELECT score,
               CAST(sum(label) AS BIGINT) AS pos_c,
               CAST(count(*) - sum(label) AS BIGINT) AS neg_c
        FROM scored GROUP BY score),
      tot AS (
        SELECT CAST(sum(pos_c) AS BIGINT) AS p, CAST(sum(neg_c) AS BIGINT) AS n
        FROM per)"""

  /** Exact tie-aware ROC AUC (Mann–Whitney pair counting — all integer
    * until one final division).
    */
  val q149RocAuc = HarnessQuery(
    "q149_roc_auc",
    (spark, dir) =>
      Evaluation.rocAuc(scored(spark, dir), "score", "label")
        .withColumn("auc", round(col("auc"), 12)),
    Some(s"""
      WITH $scoredSql,
      cum AS (
        SELECT *,
               coalesce(sum(neg_c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_neg_lt
        FROM per)
      SELECT round(CAST(sum(CAST(pos_c AS HUGEINT)
                              * (2 * cum_neg_lt + neg_c)) AS DOUBLE)
               / (2.0 * (SELECT p FROM tot) * (SELECT n FROM tot)), 12) AS auc,
             (SELECT p FROM tot) AS n_pos,
             (SELECT n FROM tot) AS n_neg
      FROM cum
    """.trim))

  /** Kolmogorov–Smirnov separation statistic + the smallest score
    * attaining it (the natural alert threshold).
    */
  val q150KsStat = HarnessQuery(
    "q150_ks_stat",
    (spark, dir) =>
      Evaluation.ksStatistic(scored(spark, dir), "score", "label")
        .withColumn("ks", round(col("ks"), 12)),
    Some(s"""
      WITH $scoredSql,
      cum AS (
        SELECT score,
               sum(pos_c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
               sum(neg_c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        FROM per)
      SELECT round(CAST(abs(CAST(cp AS HUGEINT) * (SELECT n FROM tot)
                          - CAST(cn AS HUGEINT) * (SELECT p FROM tot))
                     AS DOUBLE)
               / (CAST((SELECT p FROM tot) AS DOUBLE)
                  * CAST((SELECT n FROM tot) AS DOUBLE)), 12)
               AS ks,
             score AS ks_score
      FROM cum
      ORDER BY abs(CAST(cp AS HUGEINT) * (SELECT n FROM tot)
                 - CAST(cn AS HUGEINT) * (SELECT p FROM tot)) DESC,
               score ASC
      LIMIT 1
    """.trim))

  /** Confusion matrix + precision/recall/F1/accuracy at threshold 0.5
    * (exact small-integer divisions — no rounding needed).
    */
  val q151Confusion = HarnessQuery(
    "q151_confusion",
    (spark, dir) =>
      Evaluation.confusionAtThreshold(scored(spark, dir), "score", "label", 0.5),
    Some("""
      WITH scored AS (
        SELECT CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label,
               CAST((event_id * 7919 + user_id) % 700 AS DOUBLE) / 999.0
                 + (CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) * 0.3 AS score
        FROM events),
      c AS (
        SELECT
          CAST(sum(CASE WHEN score >= 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
          CAST(sum(CASE WHEN score >= 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
          CAST(sum(CASE WHEN score < 0.5 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
          CAST(sum(CASE WHEN score < 0.5 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM scored)
      SELECT tp, fp, tn, fn,
             CAST(tp AS DOUBLE) / (tp + fp) AS precision,
             CAST(tp AS DOUBLE) / (tp + fn) AS recall,
             2.0 * tp / (2 * tp + fp + fn) AS f1,
             CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn) AS accuracy
      FROM c
    """.trim))

  /** Reliability-diagram bins: per equal-width score bin the count,
    * exact mean score and observed positive rate.
    */
  val q152Calibration = HarnessQuery(
    "q152_calibration",
    (spark, dir) =>
      Evaluation.calibrationBins(scored(spark, dir), "score", "label", bins = 10)
        .withColumn("bin", col("bin").cast("long")),
    Some("""
      WITH scored AS (
        SELECT CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label,
               CAST((event_id * 7919 + user_id) % 700 AS DOUBLE) / 999.0
                 + (CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) * 0.3 AS score
        FROM events)
      SELECT CAST(GREATEST(0, LEAST(9, CAST(floor(score * 10) AS INT))) AS BIGINT)
               AS bin,
             count(*) AS n,
             CAST(sum(CAST(score AS DECIMAL(28,10))) AS DOUBLE) / count(*)
               AS mean_score,
             CAST(sum(label) AS DOUBLE) / count(*) AS pos_rate
      FROM scored GROUP BY 1 ORDER BY 1
    """.trim))

  /** Decile lift/gain table through the skew-safe two-level rank (no
    * whole-corpus window): per tile size, positives, cumulative capture
    * and lift.
    */
  val q153LiftTable = HarnessQuery(
    "q153_lift_table",
    (spark, dir) =>
      Evaluation.liftTable(scored(spark, dir), "score", "label",
        tieBreak = Seq("event_id"), tiles = 10)
        .withColumn("tile", col("tile").cast("long")),
    Some("""
      WITH scored AS (
        SELECT event_id,
               CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label,
               CAST((event_id * 7919 + user_id) % 700 AS DOUBLE) / 999.0
                 + (CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) * 0.3 AS score
        FROM events),
      ranked AS (
        SELECT label,
               CAST(ceil(row_number() OVER (ORDER BY score DESC, event_id ASC)
                 * 10 / (SELECT count(*) FROM scored)) AS BIGINT) AS tile
        FROM scored),
      per AS (
        SELECT tile, count(*) AS n, CAST(sum(label) AS BIGINT) AS n_pos
        FROM ranked GROUP BY tile),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n_pos) AS BIGINT) AS p
        FROM per)
      SELECT tile, n, n_pos,
             CAST(sum(n_pos) OVER (ORDER BY tile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / (SELECT p FROM tot) AS cum_capture,
             CAST(n_pos * (SELECT nn FROM tot) AS DOUBLE)
               / (n * (SELECT p FROM tot)) AS lift
      FROM per ORDER BY tile
    """.trim))

  /** Weight-of-evidence / information-value table per event_type
    * against the deterministic label.
    */
  val q154WoeIv = HarnessQuery(
    "q154_woe_iv",
    (spark, dir) =>
      Encoding.woeIv(
        Tables.events(spark, dir).withColumn("label",
          when(pmod(col("event_id"), lit(10L)) === 0, 1L).otherwise(0L)),
        "event_type", "label")
        .withColumn("woe", round(col("woe"), 12))
        .withColumn("iv_term", round(col("iv_term"), 12))
        .orderBy(col("event_type")),
    Some("""
      WITH lab AS (
        SELECT event_type,
               CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label
        FROM events),
      per AS (
        SELECT event_type,
               CAST(sum(label) AS BIGINT) AS pos_c,
               CAST(count(*) - sum(label) AS BIGINT) AS neg_c
        FROM lab GROUP BY 1),
      tot AS (
        SELECT CAST(sum(pos_c) AS BIGINT) AS p, CAST(sum(neg_c) AS BIGINT) AS n
        FROM per)
      SELECT event_type, pos_c, neg_c,
             round(ln(((pos_c + 0.5) / (SELECT p FROM tot))
               / ((neg_c + 0.5) / (SELECT n FROM tot))), 12) AS woe,
             round((CAST(pos_c AS DOUBLE) / (SELECT p FROM tot)
                 - CAST(neg_c AS DOUBLE) / (SELECT n FROM tot))
               * ln(((pos_c + 0.5) / (SELECT p FROM tot))
                 / ((neg_c + 0.5) / (SELECT n FROM tot))), 12) AS iv_term
      FROM per ORDER BY event_type
    """.trim))

  /** Leakage-safe out-of-fold target encoding: per (category, fold) the
    * mean label over the OTHER folds — md5 fold membership replays
    * exactly in SQL, so this pins the full encoding table.
    */
  val q155TargetEncode = HarnessQuery(
    "q155_target_encode",
    (spark, dir) =>
      Encoding.targetEncodeOOF(
        Tables.events(spark, dir).withColumn("label",
          when(pmod(col("event_id"), lit(10L)) === 0, 1L).otherwise(0L)),
        "event_type", "label", idCol = "user_id", k = 5, seed = 42L)
        .withColumn("enc", round(col("enc"), 12))
        .orderBy(col("event_type"), col("fold")),
    Some("""
      WITH lab AS (
        SELECT event_type,
               CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
                 AS BIGINT) % 5 AS fold
        FROM events),
      cell AS (
        SELECT event_type, fold,
               CAST(sum(label) AS BIGINT) AS s, count(*) AS n
        FROM lab GROUP BY 1, 2),
      cat AS (
        SELECT event_type,
               CAST(sum(s) AS BIGINT) AS cs, CAST(sum(n) AS BIGINT) AS cn
        FROM cell GROUP BY 1),
      gtot AS (
        SELECT CAST(sum(s) AS BIGINT) AS gs, CAST(sum(n) AS BIGINT) AS gn
        FROM cell)
      SELECT event_type, cell.fold,
             round(CASE WHEN cat.cn > cell.n
               THEN CAST(cat.cs - cell.s AS DOUBLE) / (cat.cn - cell.n)
               ELSE CAST((SELECT gs FROM gtot) - cell.s AS DOUBLE)
                    / ((SELECT gn FROM gtot) - cell.n) END, 12) AS enc
      FROM cell JOIN cat USING (event_type)
      ORDER BY event_type, fold
    """.trim))

  /** Population-stability index between even/odd event slices of
    * `value` (the null drift case — the two slices are statistically
    * identical, so the PSI terms hover near zero).
    */
  val q156Psi = HarnessQuery(
    "q156_psi",
    (spark, dir) =>
      Encoding.psi(
        Tables.events(spark, dir)
          .withColumn("slice", pmod(col("event_id"), lit(2L))),
        "value", "slice", lo = 0.0, hi = 500.0, bins = 10)
        .withColumn("psi_term", round(col("psi_term"), 12)),
    Some("""
      WITH sliced AS (
        SELECT event_id % 2 AS slice,
               CAST(GREATEST(0, LEAST(9, CAST(floor(("value" - 0.0) / 50.0)
                 AS INT))) AS INT) AS bin
        FROM events),
      per AS (
        SELECT bin,
               CAST(sum(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_expected,
               CAST(sum(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_actual
        FROM sliced GROUP BY 1),
      tot AS (
        SELECT CAST(sum(n_expected) AS BIGINT) AS e,
               CAST(sum(n_actual) AS BIGINT) AS a
        FROM per)
      SELECT bin, n_expected, n_actual,
             (n_expected + 0.5) / ((SELECT e FROM tot) + 0.5 * 10) AS p_expected,
             (n_actual + 0.5) / ((SELECT a FROM tot) + 0.5 * 10) AS p_actual,
             round(((n_actual + 0.5) / ((SELECT a FROM tot) + 0.5 * 10)
                 - (n_expected + 0.5) / ((SELECT e FROM tot) + 0.5 * 10))
               * ln(((n_actual + 0.5) / ((SELECT a FROM tot) + 0.5 * 10))
                 / ((n_expected + 0.5) / ((SELECT e FROM tot) + 0.5 * 10))), 12)
               AS psi_term
      FROM per ORDER BY bin
    """.trim))

  /** Declarative expectations gate over events: five checks compiled
    * into one aggregation pass (the user_id uniqueness check is the
    * deliberately-failing row — a gate that can't fail proves nothing).
    */
  val q157Expectations = HarnessQuery(
    "q157_expectations",
    (spark, dir) =>
      Expectations.audit(Tables.events(spark, dir), Seq(
        Expectations.NotNull("value", 0.0),
        Expectations.InRange("value", 0.0, 500.0, 0.99),
        Expectations.Unique("event_id", 1.0),
        Expectations.Unique("user_id", 1.0),
        Expectations.InSet("event_type",
          Seq("click", "view", "purchase", "error"), 0.75))),
    Some("""
      SELECT * FROM (
        SELECT 'not_null' AS "check", 'value' AS "column",
               (SELECT CAST(sum(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) FROM events) AS observed,
               0.0 AS threshold,
               (SELECT CAST(sum(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) <= 0.0 FROM events) AS pass
        UNION ALL
        SELECT 'in_range', 'value',
               (SELECT CAST(sum(CASE WHEN "value" >= 0.0 AND "value" <= 500.0
                  THEN 1 ELSE 0 END) AS DOUBLE)
                  / sum(CASE WHEN "value" IS NOT NULL THEN 1 ELSE 0 END)
                FROM events),
               0.99,
               (SELECT CAST(sum(CASE WHEN "value" >= 0.0 AND "value" <= 500.0
                  THEN 1 ELSE 0 END) AS DOUBLE)
                  / sum(CASE WHEN "value" IS NOT NULL THEN 1 ELSE 0 END) >= 0.99
                FROM events)
        UNION ALL
        SELECT 'unique', 'event_id',
               (SELECT CAST(count(DISTINCT event_id) AS DOUBLE) / count(*)
                FROM events),
               1.0,
               (SELECT CAST(count(DISTINCT event_id) AS DOUBLE) / count(*) >= 1.0
                FROM events)
        UNION ALL
        SELECT 'unique', 'user_id',
               (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) / count(*)
                FROM events),
               1.0,
               (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) / count(*) >= 1.0
                FROM events)
        UNION ALL
        SELECT 'in_set', 'event_type',
               (SELECT CAST(sum(CASE WHEN event_type IN
                  ('click', 'view', 'purchase', 'error') THEN 1 ELSE 0 END)
                  AS DOUBLE)
                  / sum(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END)
                FROM events),
               0.75,
               (SELECT CAST(sum(CASE WHEN event_type IN
                  ('click', 'view', 'purchase', 'error') THEN 1 ELSE 0 END)
                  AS DOUBLE)
                  / sum(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END)
                  >= 0.75 FROM events)
      ) ORDER BY "check", "column"
    """.trim))

  /** The shared cumulative machinery itself: one row per distinct score
    * with exact pos/neg counts and cumulative counts — the table AUC,
    * KS and lift all derive from.
    */
  val q158CumScores = HarnessQuery(
    "q158_cum_scores",
    (spark, dir) =>
      Evaluation.cumulativeByScore(scored(spark, dir), "score", "label",
        buckets = 8),
    Some(s"""
      WITH $scoredSql
      SELECT score, pos_c, neg_c,
             CAST(sum(pos_c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_pos_le,
             CAST(sum(neg_c) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_neg_le
      FROM per ORDER BY score
    """.trim))

  /** Qini uplift curve ([[Evaluation.qiniCurve]], 10 tiles): per-user
    * units from `events` (grp = user_id parity, conv = >300 purchase,
    * score = click count), ranked by score desc / user_id asc —
    * cumulative incremental conversions vs the scaled control plus the
    * random-targeting diagonal. Exact integer counts into identical
    * double expressions both sides, rounded at 12.
    */
  val q364Qini = HarnessQuery(
    "q364_qini",
    (spark, dir) => {
      val perUser = Tables.events(spark, dir)
        .groupBy(col("user_id"))
        .agg(
          max(when(col("event_type") === "purchase"
            && col("value") > 300.0d, 1).otherwise(0)).as("conv"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .cast("double").as("score"))
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      Evaluation.qiniCurve(perUser, "score", "grp", "conv",
        tieBreak = Seq("user_id"), tiles = 10)
    },
    Some("""
      WITH pu AS (
        SELECT user_id, CAST(user_id % 2 AS INT) AS grp,
               max(CASE WHEN event_type = 'purchase' AND "value" > 300
                 THEN 1 ELSE 0 END) AS conv,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS DOUBLE) AS score
        FROM events GROUP BY 1),
      ranked AS (
        SELECT grp, conv,
               CAST(ceil(row_number() OVER (ORDER BY score DESC, user_id ASC)
                 * 10 / (SELECT count(*) FROM pu)) AS BIGINT) AS tile
        FROM pu),
      per AS (
        SELECT tile, count(*) AS n,
               CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
               CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
               CAST(sum(CASE WHEN grp = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS conv_treat,
               CAST(sum(CASE WHEN grp = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS conv_control
        FROM ranked GROUP BY 1),
      cum AS (
        SELECT *,
               CAST(sum(n) OVER w AS BIGINT) AS cn,
               CAST(sum(n_treat) OVER w AS BIGINT) AS cnt,
               CAST(sum(n_control) OVER w AS BIGINT) AS cnc,
               CAST(sum(conv_treat) OVER w AS BIGINT) AS crt,
               CAST(sum(conv_control) OVER w AS BIGINT) AS crc
        FROM per
        WINDOW w AS (ORDER BY tile
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn,
               CAST(sum(n_treat) AS BIGINT) AS tnt,
               CAST(sum(n_control) AS BIGINT) AS tnc,
               CAST(sum(conv_treat) AS BIGINT) AS trt,
               CAST(sum(conv_control) AS BIGINT) AS trc
        FROM per)
      SELECT tile, n, n_treat, n_control, conv_treat, conv_control,
             round(CAST(conv_treat AS DOUBLE) / nullif(CAST(n_treat AS DOUBLE), 0)
               - CAST(conv_control AS DOUBLE) / nullif(CAST(n_control AS DOUBLE), 0), 12)
               AS uplift,
             round(CAST(crt AS DOUBLE)
               - CAST(crc AS DOUBLE) * CAST(cnt AS DOUBLE)
                 / nullif(CAST(cnc AS DOUBLE), 0), 12) AS qini,
             round((CAST(trt AS DOUBLE)
                 - CAST(trc AS DOUBLE) * CAST(tnt AS DOUBLE)
                   / nullif(CAST(tnc AS DOUBLE), 0))
               * CAST(cn AS DOUBLE) / CAST(tn AS DOUBLE), 12) AS qini_random
      FROM cum, tot ORDER BY tile
    """.trim))

  def all: Seq[HarnessQuery] = Seq(
    q364Qini,
    q149RocAuc, q150KsStat, q151Confusion, q152Calibration, q153LiftTable,
    q154WoeIv, q155TargetEncode, q156Psi, q157Expectations, q158CumScores,
    q226CvAuc, q236ThresholdSweep, q242AvgPrecision, q244Cuped, q245Anova,
    q246BootstrapCi, q252Brier, q254Did, q255StratAte, q259Isotonic,
    q261DriftDistances, q421BradleyTerry, q424DpoPairs, q429PassAtK)

  /** Unbiased pass@k ([[Evaluation.passAtK]], Chen et al. 2021): per
    * user-as-task, n sampled attempts with value > 80 counting as a
    * pass, the `1 − Π (n−c−i)/(n−i)` estimator at k = 1/5/10 — each k
    * a FIXED k-factor double product with identical operand order in
    * both engines, so no rounding games are needed; n < k is NULL,
    * c ≥ n−k+1 is exactly 1. The oracle unrolls the same products.
    */
  val q429PassAtK = HarnessQuery(
    "q429_pass_at_k",
    (spark, dir) =>
      Evaluation.passAtK(
        Tables.events(spark, dir).select(col("user_id"), col("value")),
        "user_id", col("value") > 80.0, ks = Seq(1, 5, 10))
        .orderBy(col("task")),
    Some {
      def prod(k: Int): String =
        (0 until k).map(i => s"((n - c - $i.0) / (n - $i.0))")
          .mkString("1.0 * ", " * ", "")
      def pk(k: Int): String = s"""
             CASE WHEN ni < $k THEN NULL
                  WHEN ci >= ni - $k + 1 THEN 1.0
                  ELSE 1.0 - ${prod(k)} END AS pass_at_$k"""
      s"""
      WITH a AS (
        SELECT user_id AS task, CAST(count(*) AS BIGINT) AS ni,
               CAST(sum(CASE WHEN value > 80.0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS ci
        FROM events GROUP BY 1),
      d AS (SELECT task, ni, ci, CAST(ni AS DOUBLE) AS n,
                   CAST(ci AS DOUBLE) AS c FROM a)
      SELECT task, ni AS n, ci AS c,${pk(1)},${pk(5)},${pk(10)}
      FROM d ORDER BY task
      """.trim
    })

  /** DPO preference-pair construction ([[Preference.dpoPairs]]): per
    * user (the prompt group), the highest-valued event becomes the
    * chosen response and the lowest-valued the rejected one — the
    * best-vs-worst sampling that turns a scored response pool into
    * direct-preference training rows, with ties broken on event id and
    * degenerate all-tied groups dropped. Two ranking windows per
    * group, no join on the data path; the oracle replays both windows
    * and pairs the rank-1 rows.
    */
  val q424DpoPairs = HarnessQuery(
    "q424_dpo_pairs",
    (spark, dir) =>
      Preference.dpoPairs(
        Tables.events(spark, dir)
          .select(col("user_id"), col("event_id"),
            concat(col("event_type"), lit("#"), col("event_id"))
              .as("content"),
            col("value")),
        "user_id", "event_id", "content", "value")
        .orderBy(col("group")),
    Some("""
      WITH r AS (
        SELECT user_id AS grp, event_id AS id,
               event_type || '#' || CAST(event_id AS VARCHAR) AS content,
               value AS score,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY value DESC, event_id) AS rb,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY value ASC, event_id) AS rw
        FROM events WHERE value IS NOT NULL),
      c AS (SELECT * FROM r WHERE rb = 1),
      w AS (SELECT * FROM r WHERE rw = 1)
      SELECT c.grp AS "group", c.id AS chosen_id, c.content AS chosen,
             w.id AS rejected_id, w.content AS rejected,
             c.score AS chosen_score, w.score AS rejected_score,
             c.score - w.score AS score_gap
      FROM c JOIN w ON w.grp = c.grp
      WHERE c.id <> w.id
      ORDER BY c.grp
    """.trim))

  /** Bradley–Terry preference ratings ([[Preference.bradleyTerry]]):
    * the RLHF-preference-data read-out — pairwise A-vs-B duels
    * (consecutive same-user events; the higher-valued event's type
    * wins, value ties to the lexicographically smaller type) folded
    * into per-item strength ratings by 5 MM rounds (Hunter 2004),
    * renormalized to mean 1 each round. Spark runs the rounds as
    * broadcast weight-joins over the item-pair table (the one
    * row-scale shuffle is the duel aggregation); the oracle unrolls
    * the identical 5 rounds as CTEs over the same floor-snapped
    * terms (floor at 6/9 dp + decimal sums — engine-portable, no
    * round-half ties), so ratings match bit-for-bit.
    */
  val q421BradleyTerry = HarnessQuery(
    "q421_bradley_terry",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val duels = Tables.events(spark, dir)
        .select(col("event_type").as("t1"), col("value").as("v1"),
          lead(col("event_type"), 1).over(w).as("t2"),
          lead(col("value"), 1).over(w).as("v2"))
        .filter(col("t2").isNotNull && col("t1") =!= col("t2"))
        .select(
          when(col("v1") > col("v2"), col("t1"))
            .when(col("v2") > col("v1"), col("t2"))
            .otherwise(least(col("t1"), col("t2"))).as("winner"),
          when(col("v1") > col("v2"), col("t2"))
            .when(col("v2") > col("v1"), col("t1"))
            .otherwise(greatest(col("t1"), col("t2"))).as("loser"))
      Preference.bradleyTerry(duels, "winner", "loser", rounds = 5)
        .orderBy(col("rank"))
    },
    Some {
      val header = """
      WITH e AS (
        SELECT event_type AS t1, value AS v1,
               lead(event_type) OVER w AS t2,
               lead(value) OVER w AS v2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      duel AS (
        SELECT CASE WHEN v1 > v2 THEN t1 WHEN v2 > v1 THEN t2
                    WHEN t1 < t2 THEN t1 ELSE t2 END AS winner,
               CASE WHEN v1 > v2 THEN t2 WHEN v2 > v1 THEN t1
                    WHEN t1 < t2 THEN t2 ELSE t1 END AS loser
        FROM e WHERE t2 IS NOT NULL AND t1 <> t2),
      pair AS (SELECT winner AS a, loser AS b, count(*) AS n
               FROM duel GROUP BY 1, 2),
      sym AS (SELECT a, b, sum(n) AS n FROM (
                SELECT a, b, n FROM pair
                UNION ALL SELECT b AS a, a AS b, n FROM pair)
              GROUP BY 1, 2),
      wins AS (SELECT a AS item, sum(n) AS wins FROM pair GROUP BY 1),
      mat AS (SELECT a AS item, sum(n) AS matches FROM sym GROUP BY 1),
      items AS (SELECT DISTINCT a AS item FROM sym),
      kk AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM items),
      w0 AS (SELECT item, 1.0 AS w FROM items)"""
      val rounds = (1 to 5).map { r =>
        s"""
      d$r AS (SELECT s.a AS item,
               sum(CAST(floor(CAST(s.n AS DOUBLE) / (wa.w + wb.w) * 1e6)
                   / 1e6 AS DECIMAL(38,6))) AS denom
             FROM sym s
             JOIN w${r - 1} wa ON wa.item = s.a
             JOIN w${r - 1} wb ON wb.item = s.b
             GROUP BY 1),
      u$r AS MATERIALIZED (SELECT d.item,
               greatest(floor(CAST(COALESCE(wi.wins, 0) AS DOUBLE)
                 / CAST(d.denom AS DOUBLE) * 1e9) / 1e9, 1e-9) AS w
             FROM d$r d LEFT JOIN wins wi ON wi.item = d.item),
      s$r AS (SELECT CAST(sum(CAST(w AS DECIMAL(38,9))) AS DOUBLE) AS s
              FROM u$r),
      w$r AS MATERIALIZED (SELECT item,
                greatest(floor(u.w * kk.k / s$r.s * 1e9) / 1e9, 1e-9) AS w
              FROM u$r u, s$r, kk)"""
      }.mkString(",", ",", "")
      val footer = """
      SELECT w5.item, CAST(COALESCE(wins.wins, 0) AS BIGINT) AS wins,
             CAST(mat.matches AS BIGINT) AS matches, w5.w AS rating,
             CAST(row_number() OVER (ORDER BY w5.w DESC, w5.item)
               AS INT) AS rank
      FROM w5
      LEFT JOIN wins ON wins.item = w5.item
      JOIN mat ON mat.item = w5.item
      ORDER BY rank"""
      (header + rounds + footer).trim
    })

  /** Isotonic calibration over 10 score bins
    * ([[Evaluation.isotonicCalibration]]): the PAV fit via the B²
    * minimax closed form — bounded interval self-join, no sequential
    * pooling loop — replayed verbatim in SQL.
    */
  lazy val q259Isotonic = HarnessQuery(
    "q259_isotonic",
    (spark, dir) =>
      Evaluation.isotonicCalibration(scored(spark, dir), "score", "label")
        .select(col("bin"), col("n_bin"),
          round(col("rate"), 12).as("rate"),
          round(col("iso_rate"), 12).as("iso_rate")),
    Some(s"""
      WITH $scoredSql,
      perbin AS (
        SELECT least(greatest(CAST(floor(score * 10) AS INT), 0), 9) AS b,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(label) AS BIGINT) AS pb
        FROM scored GROUP BY 1),
      pre AS (
        SELECT *,
               sum(nb) OVER (ORDER BY b) AS cn,
               sum(pb) OVER (ORDER BY b) AS cp
        FROM perbin),
      iv AS (
        SELECT s.b AS j,
               CAST(e.cp - (s.cp - s.pb) AS DOUBLE)
                 / CAST(e.cn - (s.cn - s.nb) AS DOUBLE) AS a
        FROM pre s JOIN pre e ON s.b <= e.b),
      mt AS (SELECT j, min(a) AS mintail FROM iv GROUP BY 1)
      SELECT p.b AS bin, p.nb AS n_bin,
             round(CAST(p.pb AS DOUBLE) / CAST(p.nb AS DOUBLE), 12) AS rate,
             round(max(mt.mintail), 12) AS iso_rate
      FROM pre p JOIN mt ON mt.j <= p.b
      GROUP BY 1, 2, 3 ORDER BY 1
    """.trim))

  /** Hellinger + Jensen–Shannon drift distances between the user-parity
    * slices of event value ([[graft.operators.Encoding
    * .distributionDistances]], 10 bins over [0, 500]): the bounded
    * companions to q156's PSI, round-12 decimal term accumulation.
    */
  lazy val q261DriftDistances = HarnessQuery(
    "q261_drift_distances",
    (spark, dir) =>
      graft.operators.Encoding.distributionDistances(
        Tables.events(spark, dir)
          .withColumn("slice", pmod(col("user_id"), lit(2L)).cast("int")),
        "value", "slice", lo = 0.0, hi = 500.0, bins = 10)
        .select(col("n_expected"), col("n_actual"),
          round(col("bc"), 12).as("bc"),
          round(col("hellinger"), 9).as("hellinger"),
          round(col("js_nats"), 12).as("js_nats")),
    Some("""
      WITH binned AS (
        SELECT greatest(0, least(9,
                 CAST(floor(("value" - 0.0) / 50.0) AS INT))) AS b,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS ne,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS na
        FROM events GROUP BY 1),
      tot AS (SELECT CAST(sum(ne) AS BIGINT) AS e,
                     CAST(sum(na) AS BIGINT) AS a FROM binned),
      terms AS (
        SELECT
          (ne + 0.5) / ((SELECT e FROM tot) + 0.5 * 10) AS pe,
          (na + 0.5) / ((SELECT a FROM tot) + 0.5 * 10) AS pa
        FROM binned),
      acc AS (
        SELECT
          sum(CAST(round(sqrt(pe * pa), 12) AS DECIMAL(38,12))) AS sbc,
          sum(CAST(round(pe * ln(pe / ((pe + pa) / 2.0)) / 2.0
                + pa * ln(pa / ((pe + pa) / 2.0)) / 2.0, 12)
            AS DECIMAL(38,12))) AS sjs
        FROM terms)
      SELECT (SELECT e FROM tot) AS n_expected,
             (SELECT a FROM tot) AS n_actual,
             round(CAST(sbc AS DOUBLE), 12) AS bc,
             round(sqrt(greatest(0.0, 1.0 - CAST(sbc AS DOUBLE))), 9)
               AS hellinger,
             round(CAST(sjs AS DOUBLE), 12) AS js_nats
      FROM acc
    """.trim))

  /** Difference-in-differences on the (user parity × month half) 2×2
    * ([[graft.operators.Experiment.diffInDiff]]): four exact decimal
    * cell means, one double expression.
    */
  lazy val q254Did = HarnessQuery(
    "q254_did",
    (spark, dir) =>
      graft.operators.Experiment.diffInDiff(
        Tables.events(spark, dir)
          .withColumn("tr", pmod(col("user_id"), lit(2L)).cast("int"))
          .withColumn("post",
            (col("ts") >= to_timestamp(lit("2024-01-16 00:00:00")))
              .cast("int")),
        "tr", "post", "value")
        .select(col("n_tpre"), col("n_tpost"), col("n_cpre"), col("n_cpost"),
          round(col("m_tpre"), 9).as("m_tpre"),
          round(col("m_tpost"), 9).as("m_tpost"),
          round(col("m_cpre"), 9).as("m_cpre"),
          round(col("m_cpost"), 9).as("m_cpost"),
          round(col("did"), 9).as("did")),
    Some("""
      WITH t AS (
        SELECT CAST(user_id % 2 AS INT) AS tr,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                 AS post,
               CAST("value" AS DECIMAL(18,6)) AS y
        FROM events WHERE "value" IS NOT NULL),
      a AS (
        SELECT
          CAST(sum(CASE WHEN tr = 1 AND post = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tpre,
          CAST(sum(CASE WHEN tr = 1 AND post = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_tpost,
          CAST(sum(CASE WHEN tr = 0 AND post = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cpre,
          CAST(sum(CASE WHEN tr = 0 AND post = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_cpost,
          sum(CASE WHEN tr = 1 AND post = 0 THEN y END) AS s_tpre,
          sum(CASE WHEN tr = 1 AND post = 1 THEN y END) AS s_tpost,
          sum(CASE WHEN tr = 0 AND post = 0 THEN y END) AS s_cpre,
          sum(CASE WHEN tr = 0 AND post = 1 THEN y END) AS s_cpost
        FROM t)
      SELECT n_tpre, n_tpost, n_cpre, n_cpost,
             round(CAST(s_tpre AS DOUBLE) / n_tpre, 9) AS m_tpre,
             round(CAST(s_tpost AS DOUBLE) / n_tpost, 9) AS m_tpost,
             round(CAST(s_cpre AS DOUBLE) / n_cpre, 9) AS m_cpre,
             round(CAST(s_cpost AS DOUBLE) / n_cpost, 9) AS m_cpost,
             round((CAST(s_tpost AS DOUBLE) / n_tpost
                    - CAST(s_tpre AS DOUBLE) / n_tpre)
                 - (CAST(s_cpost AS DOUBLE) / n_cpost
                    - CAST(s_cpre AS DOUBLE) / n_cpre), 9) AS did
      FROM a
    """.trim))

  /** Stratification-standardized ATE across event types
    * ([[graft.operators.Experiment.stratifiedAte]]): per-stratum
    * effect × share terms rounded at 12 and decimal-accumulated.
    */
  lazy val q255StratAte = HarnessQuery(
    "q255_strat_ate",
    (spark, dir) =>
      graft.operators.Experiment.stratifiedAte(
        Tables.events(spark, dir)
          .withColumn("tr", pmod(col("user_id"), lit(2L)).cast("int")),
        "event_type", "tr", "value")
        .withColumn("ate", round(col("ate"), 12)),
    Some("""
      WITH per AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS ns,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS nt,
               sum(CASE WHEN user_id % 2 = 1
                 THEN CAST("value" AS DECIMAL(18,6)) END) AS st,
               sum(CASE WHEN user_id % 2 = 0
                 THEN CAST("value" AS DECIMAL(18,6)) END) AS sc
        FROM events WHERE "value" IS NOT NULL GROUP BY 1),
      tot AS (SELECT CAST(sum(ns) AS BIGINT) AS n FROM per),
      terms AS (
        SELECT CAST(round(
                 CAST(ns AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE)
                 * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
                    - CAST(sc AS DOUBLE) / CAST(ns - nt AS DOUBLE)), 12)
               AS DECIMAL(38,12)) AS term
        FROM per)
      SELECT (SELECT n FROM tot) AS n,
             CAST(count(*) AS BIGINT) AS n_strata,
             round(CAST(sum(term) AS DOUBLE), 12) AS ate
      FROM terms
    """.trim))

  /** Murphy decomposition of the Brier score
    * ([[Evaluation.brierDecomposition]], 10 bins): per-bin integer
    * counts, exact bin-center forecasts, round-12 decimal term
    * accumulation; the spec pins brier = rel − res + unc exactly.
    */
  lazy val q252Brier = HarnessQuery(
    "q252_brier",
    (spark, dir) =>
      Evaluation.brierDecomposition(scored(spark, dir), "score", "label")
        .select(col("n"),
          round(col("brier"), 12).as("brier"),
          round(col("reliability"), 12).as("reliability"),
          round(col("resolution"), 12).as("resolution"),
          round(col("uncertainty"), 12).as("uncertainty")),
    Some(s"""
      WITH $scoredSql,
      binned AS (
        SELECT least(greatest(CAST(floor(score * 10) AS INT), 0), 9) AS b,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(label) AS BIGINT) AS pb
        FROM scored GROUP BY 1),
      terms AS (
        SELECT nb, pb,
               (CAST(b AS DOUBLE) + 0.5) / 10 AS c,
               CAST(pb AS DOUBLE) / CAST(nb AS DOUBLE) AS yb,
               CAST((SELECT p FROM tot) AS DOUBLE)
                 / CAST((SELECT p FROM tot) + (SELECT n FROM tot) AS DOUBLE)
                 AS ybar
        FROM binned),
      acc AS (
        SELECT
          CAST(sum(nb) AS BIGINT) AS n, CAST(sum(pb) AS BIGINT) AS p,
          sum(CAST(round(nb * (c - yb) * (c - yb), 12)
            AS DECIMAL(38,12))) AS srel,
          sum(CAST(round(nb * (yb - ybar) * (yb - ybar), 12)
            AS DECIMAL(38,12))) AS sres,
          sum(CAST(round(pb * (1.0 - c) * (1.0 - c)
            + (nb - pb) * c * c, 12) AS DECIMAL(38,12))) AS sbri
        FROM terms)
      SELECT n,
             round(CAST(sbri AS DOUBLE) / CAST(n AS DOUBLE), 12) AS brier,
             round(CAST(srel AS DOUBLE) / CAST(n AS DOUBLE), 12)
               AS reliability,
             round(CAST(sres AS DOUBLE) / CAST(n AS DOUBLE), 12)
               AS resolution,
             round(CAST(p AS DOUBLE) / CAST(n AS DOUBLE)
               * (1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)), 12)
               AS uncertainty
      FROM acc
    """.trim))

  /** Average precision / PR-AUC ([[Evaluation.averagePrecision]]):
    * the class-imbalance-honest companion to q149 — each term is
    * fixed-point floored (pos_c*cum_pos_ge*1e12 DIV cum_all_ge, an
    * exact integer both engines), so the sum is order-independent and
    * the one final double division matches bit-for-bit.
    */
  lazy val q242AvgPrecision = HarnessQuery(
    "q242_avg_precision",
    (spark, dir) =>
      Evaluation.averagePrecision(scored(spark, dir), "score", "label")
        .withColumn("ap", round(col("ap"), 12)),
    Some(s"""
      WITH $scoredSql,
      cum AS (
        SELECT *,
               sum(pos_c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp_le,
               sum(pos_c + neg_c) OVER (ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca_le
        FROM per),
      t AS (
        SELECT pos_c,
               (SELECT p FROM tot) - cp_le + pos_c AS cpge,
               (SELECT p FROM tot) + (SELECT n FROM tot) - ca_le
                 + pos_c + neg_c AS cage
        FROM cum)
      SELECT round(CAST(sum(CAST(pos_c AS HUGEINT) * cpge
                             * 1000000000000 // cage) AS DOUBLE)
               / (CAST((SELECT p FROM tot) AS DOUBLE) * 1000000000000.0), 12)
               AS ap,
             (SELECT p FROM tot) AS n_pos,
             (SELECT n FROM tot) AS n_neg
      FROM t
    """.trim))

  /** CUPED variance-reduced A/B readout
    * ([[graft.operators.Experiment.cuped]]): variant = user_id parity,
    * pre-period = the first half of the event month, metric = event
    * value. Every moment is an exact decimal product-sum; theta and
    * the adjusted means are final-step doubles (theta pinned at
    * round 12 inside the operator so both engines fold the same
    * double downstream).
    */
  lazy val q244Cuped = HarnessQuery(
    "q244_cuped",
    (spark, dir) =>
      graft.operators.Experiment.cuped(
        Tables.events(spark, dir)
          .withColumn("variant", pmod(col("user_id"), lit(2L))),
        "user_id", "variant", "value",
        col("ts") < to_timestamp(lit("2024-01-16 00:00:00")))
        .select(col("variant"), col("n_units"),
          round(col("mean_pre"), 9).as("mean_pre"),
          round(col("mean_post"), 9).as("mean_post"),
          round(col("mean_adj"), 9).as("mean_adj"),
          col("theta")),
    Some("""
      WITH pu AS (
        SELECT user_id, max(user_id % 2) AS variant,
               CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                 THEN CAST("value" AS DECIMAL(18,6)) END), 0)
                 AS DECIMAL(18,6)) AS x,
               CAST(coalesce(sum(CASE WHEN NOT (ts < TIMESTAMP '2024-01-16')
                 THEN CAST("value" AS DECIMAL(18,6)) END), 0)
                 AS DECIMAL(18,6)) AS y
        FROM events GROUP BY 1),
      pool AS (
        SELECT CAST(count(*) AS DECIMAL(8,0)) AS n,
               CAST(sum(x) AS DECIMAL(18,6)) AS sx,
               CAST(sum(y) AS DECIMAL(18,6)) AS sy,
               CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(y AS DECIMAL(19,6)))
                 AS DECIMAL(28,12)) AS sxy,
               CAST(sum(CAST(x AS DECIMAL(19,6)) * CAST(x AS DECIMAL(19,6)))
                 AS DECIMAL(28,12)) AS sxx
        FROM pu),
      th AS (
        SELECT n, CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
               round(CAST(n * sxy - CAST(sx AS DECIMAL(19,6))
                   * CAST(sy AS DECIMAL(19,6)) AS DOUBLE)
                 / CAST(n * sxx - CAST(sx AS DECIMAL(19,6))
                   * CAST(sx AS DECIMAL(19,6)) AS DOUBLE), 12) AS theta
        FROM pool),
      pv AS (
        SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
               sum(x) AS vx, sum(y) AS vy
        FROM pu GROUP BY 1)
      SELECT variant, n_units,
             round(CAST(vx AS DOUBLE) / n_units, 9) AS mean_pre,
             round(CAST(vy AS DOUBLE) / n_units, 9) AS mean_post,
             round(CAST(vy AS DOUBLE) / n_units
               - theta * (CAST(vx AS DOUBLE) / n_units - xbar), 9)
               AS mean_adj,
             theta
      FROM pv, th ORDER BY variant
    """.trim))

  /** One-way ANOVA F across event types
    * ([[graft.operators.Experiment.anovaF]]): per-group moments are
    * exact decimals; the k-row sum of per-group double ratios folds
    * through an ORDERED window, so the oracle replays the identical
    * left-associated chain over the alphabetical event-type axis.
    */
  lazy val q245Anova = HarnessQuery(
    "q245_anova",
    (spark, dir) =>
      graft.operators.Experiment.anovaF(
        Tables.events(spark, dir), "event_type", "value")
        .select(col("k"), col("n"),
          round(col("ss_between"), 6).as("ss_between"),
          round(col("ss_within"), 6).as("ss_within"),
          round(col("f_stat"), 9).as("f_stat")),
    Some("""
      WITH per AS (
        SELECT event_type AS g, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DECIMAL(28,6))
                 AS sg,
               sum(CAST(CAST("value" AS DECIMAL(18,6))
                 * CAST("value" AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS qg
        FROM events WHERE "value" IS NOT NULL GROUP BY 1),
      r AS (
        SELECT
          (SELECT CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
           FROM per WHERE g = 'click') AS rc,
          (SELECT CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
           FROM per WHERE g = 'error') AS re,
          (SELECT CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
           FROM per WHERE g = 'purchase') AS rp,
          (SELECT CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
           FROM per WHERE g = 'signup') AS rs,
          (SELECT CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng
           FROM per WHERE g = 'view') AS rv,
          (SELECT CAST(count(*) AS BIGINT) FROM per) AS k,
          (SELECT CAST(sum(ng) AS BIGINT) FROM per) AS n,
          (SELECT CAST(sum(sg) AS DOUBLE) FROM per) AS s,
          (SELECT CAST(sum(qg) AS DOUBLE) FROM per) AS q)
      SELECT k, n,
             round(((((rc + re) + rp) + rs) + rv) - s * s / n, 6)
               AS ss_between,
             round(q - ((((rc + re) + rp) + rs) + rv), 6) AS ss_within,
             round((((((rc + re) + rp) + rs) + rv) - s * s / n) / (k - 1)
               / ((q - ((((rc + re) + rp) + rs) + rv)) / (n - k)), 9)
               AS f_stat
      FROM r
    """.trim))

  /** Poisson-bootstrap CI for the mean event value
    * ([[graft.operators.Bootstrap.poissonBootstrapMean]], R = 100,
    * seed 42): the full bootstrap distribution — hash-deterministic
    * Poisson(1) weights, exact decimal weighted sums — replays in SQL,
    * then `percentile` ≡ `quantile_cont` on the replicate means.
    */
  lazy val q246BootstrapCi = HarnessQuery(
    "q246_bootstrap_ci",
    (spark, dir) =>
      graft.operators.Bootstrap.poissonBootstrapMean(
        Tables.events(spark, dir), "event_id", "value",
        replicates = 100, seed = 42L)
        .select(col("n"), round(col("mean"), 9).as("mean"),
          round(col("ci_lo"), 9).as("ci_lo"),
          round(col("ci_hi"), 9).as("ci_hi")),
    Some("""
      WITH rws AS (
        SELECT CAST(event_id AS VARCHAR) AS id,
               CAST("value" AS DECIMAL(18,6)) AS v, r.range AS r
        FROM events, range(100) r WHERE "value" IS NOT NULL),
      u AS (
        SELECT v, r,
               (CAST(('0x' || substr(md5(id || ':42:' || CAST(r AS VARCHAR)),
                  1, 15)) AS BIGINT) + 0.5) / 1152921504606846976.0 AS u
        FROM rws),
      w AS (
        SELECT v, r,
               CASE WHEN u < 0.36787944117144233 THEN 0
                    WHEN u < 0.7357588823428847 THEN 1
                    WHEN u < 0.9196986029286058 THEN 2
                    WHEN u < 0.9810118431238463 THEN 3
                    WHEN u < 0.9963401531726563 THEN 4
                    WHEN u < 0.9994058151824183 THEN 5
                    WHEN u < 0.999916758850712 THEN 6
                    WHEN u < 0.9999897508033253 THEN 7
                    WHEN u < 0.999998874797402 THEN 8
                    ELSE 9 END AS w
        FROM u),
      est AS (
        SELECT CAST(sum(v * CAST(w AS DECIMAL(2,0))) AS DOUBLE)
                 / CAST(sum(w) AS DOUBLE) AS est
        FROM w GROUP BY r),
      base AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST("value" AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS mean
        FROM events WHERE "value" IS NOT NULL)
      SELECT n, round(mean, 9) AS mean,
             round((SELECT quantile_cont(est, 0.025) FROM est), 9) AS ci_lo,
             round((SELECT quantile_cont(est, 0.975) FROM est), 9) AS ci_hi
      FROM base
    """.trim))

  /** Cross-validated AUC ([[Evaluation.rocAucByGroup]] over
    * [[graft.operators.Split.groupKFold]] folds): one tie-aware
    * Mann-Whitney AUC per fold in a single pass — the per-group
    * cumulative window runs over the per-(fold, score) aggregate,
    * bounded by distinct scores, never raw rows.
    */
  lazy val q226CvAuc = HarnessQuery(
    "q226_cv_auc",
    (spark, dir) =>
      Evaluation.rocAucByGroup(
        graft.operators.Split.groupKFold(
          scored(spark, dir), "user_id", 5, 42L),
        "score", "label", "fold")
        .withColumn("auc", round(col("auc"), 12))
        .orderBy(col("fold")),
    Some(s"""
      WITH $scoredSql,
      f AS (
        SELECT scored.*,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
                 AS BIGINT) % 5 AS fold
        FROM scored),
      perf AS (
        SELECT fold, score,
               CAST(sum(label) AS BIGINT) AS pos_c,
               CAST(count(*) - sum(label) AS BIGINT) AS neg_c
        FROM f GROUP BY 1, 2),
      cum AS (
        SELECT *,
               coalesce(sum(neg_c) OVER (PARTITION BY fold ORDER BY score
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnl
        FROM perf),
      a AS (
        SELECT fold,
               sum(CAST(pos_c AS HUGEINT) * (2 * cnl + neg_c)) AS num,
               CAST(sum(pos_c) AS BIGINT) AS n_pos,
               CAST(sum(neg_c) AS BIGINT) AS n_neg
        FROM cum GROUP BY 1)
      SELECT fold, n_pos, n_neg,
             round(CAST(num AS DOUBLE) / nullif(2.0 * n_pos * n_neg, 0), 12)
               AS auc
      FROM a ORDER BY fold
    """.trim))

  /** Operating-point curve ([[Evaluation.thresholdSweep]], 9
    * thresholds): every confusion metric at every candidate threshold
    * in ONE scan (in-row threshold explode into the conditional
    * aggregate), the deployment-threshold picker.
    */
  lazy val q236ThresholdSweep = HarnessQuery(
    "q236_threshold_sweep",
    (spark, dir) =>
      Evaluation.thresholdSweep(
        scored(spark, dir), "score", "label",
        (1 to 9).map(_ / 10.0))
        .orderBy(col("threshold")),
    Some(s"""
      WITH $scoredSql,
      x AS (
        SELECT score, label,
               CAST(unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                 AS DOUBLE) AS threshold
        FROM scored),
      cm AS (
        SELECT threshold,
               CAST(sum(CASE WHEN score >= threshold AND label = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(sum(CASE WHEN score >= threshold AND label = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(sum(CASE WHEN score < threshold AND label = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
               CAST(sum(CASE WHEN score < threshold AND label = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM x GROUP BY 1)
      SELECT threshold, tp, fp, tn, fn,
             CAST(tp AS DOUBLE) / nullif(CAST(tp + fp AS DOUBLE), 0)
               AS precision,
             CAST(tp AS DOUBLE) / nullif(CAST(tp + fn AS DOUBLE), 0)
               AS recall,
             2.0 * tp / nullif(CAST(2 * tp + fp + fn AS DOUBLE), 0) AS f1
      FROM cm ORDER BY threshold
    """.trim))
}

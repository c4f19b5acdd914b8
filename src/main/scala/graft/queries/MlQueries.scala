package graft.queries

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.functions._

import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.operators.{Balance, Smote, Split}
import graft.sources.Tables

/** M4/M5: ML-prep operators (SURVEY.md §2.8/§2.9). Membership of random
  * splits/samples is seed-dependent and engine-specific, but the *sizes*
  * are exactly determined — so the oracles check the size contracts,
  * while unit specs cover membership invariants (disjointness,
  * subset-ness, synthetic-point geometry).
  */
object MlQueries {

  /** T1: stratified 80/20 split — per-class test size is exactly
    * ceil(n * 0.2), train the rest (sklearn sizing).
    */
  val q40SplitSummary = HarnessQuery(
    "q40_split_summary",
    (spark, dir) =>
      Split.summary(
        Tables.embeddings(spark, dir)
          .withColumn("label", col("label").cast("long")),
        "label", testFrac = 0.2, seed = 42L, tieBreak = Seq(col("vec_id"))),
    Some("""
      SELECT CAST(label AS BIGINT) AS label,
             n - CAST(ceil(n * 0.2) AS BIGINT) AS n_train,
             CAST(ceil(n * 0.2) AS BIGINT) AS n_test
      FROM (SELECT label, count(*) AS n FROM embeddings GROUP BY label) t
      ORDER BY label
    """.trim))

  /** T3: undersampling levels every class at the minority size. */
  val q41UndersampleCounts = HarnessQuery(
    "q41_undersample_counts",
    (spark, dir) =>
      Balance.classCounts(
        Balance.undersample(
          Tables.embeddings(spark, dir)
            .withColumn("label", col("label").cast("long")),
          "label", seed = 42L, tieBreak = Seq(col("vec_id"))),
        "label"),
    Some("""
      SELECT CAST(label AS BIGINT) AS label,
             (SELECT min(cnt) FROM
               (SELECT count(*) AS cnt FROM embeddings GROUP BY label) m) AS count
      FROM embeddings GROUP BY label ORDER BY 1
    """.trim))

  /** T2: SMOTE lifts the minority class exactly to the majority size. */
  val q42SmoteCounts = HarnessQuery(
    "q42_smote_counts",
    (spark, dir) => {
      val df = Tables.embeddings(spark, dir)
        .withColumn("y", when(col("label") === 0, 0L).otherwise(1L))
        .withColumn("feat", col("embedding").cast("array<double>"))
        .select(col("vec_id"), col("y"), col("feat"))
      Balance.classCounts(
        Smote.smote(df, "y", "feat", k = 5, seed = 42L,
          idCol = "vec_id"), "y")
        .withColumnRenamed("y", "label")
    },
    Some("""
      WITH c AS (SELECT CASE WHEN label = 0 THEN 0 ELSE 1 END AS y,
                        count(*) AS cnt
                 FROM embeddings GROUP BY 1)
      SELECT CAST(y AS BIGINT) AS label, (SELECT max(cnt) FROM c) AS count
      FROM c ORDER BY 1
    """.trim))

  /** T2: SMOTE's neighbour sets — each minority row's 5 exact nearest
    * minority rows in order, through the same [[Smote.neighbours]] the
    * synthesis reads. Ordered by the double squared L2, each term
    * `(x - y) * (x - y)` summed left to right over the 64 dimensions,
    * then id: both engines do the same IEEE operations in the same
    * order, so they rank the same totals. `posexplode_outer` adds no
    * `size > 0` filter, so the pool projection is not evaluated again
    * inside the join condition.
    */
  val q457SmoteNeighbours = HarnessQuery(
    "q457_smote_neighbours",
    (spark, dir) => {
      val minority = Tables.embeddings(spark, dir)
        .filter(col("label") === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("feat"))
      Smote.neighbours(minority, "vec_id", "feat", k = 5, seed = 42L)
        .select(col("vec_id"), posexplode_outer(col("__nns")))
        .select(col("vec_id"), (col("pos") + 1).as("rank"),
          col("col.id").as("nn_id"))
        .orderBy(col("vec_id"), col("rank"))
    },
    Some("""
      WITH m AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS f
                 FROM embeddings WHERE label = 0),
      d2 AS (SELECT a.vec_id, b.vec_id AS nn_id,
               list_reduce(list_transform(range(1, len(a.f) + 1),
                   i -> (a.f[i] - b.f[i]) * (a.f[i] - b.f[i])),
                 (s, t) -> s + t) AS dist
             FROM m a JOIN m b ON a.vec_id <> b.vec_id),
      r AS (SELECT vec_id, nn_id,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, nn_id) AS rank
            FROM d2)
      SELECT vec_id, CAST(rank AS INT) AS rank, nn_id
      FROM r WHERE rank <= 5 ORDER BY vec_id, rank
    """.trim))

  /** M1-M5: the full featurization pipeline over customer — output width
    * is 1 scaled numeric + one slot per training-seen segment (the
    * dropped keep-slot reproduces sklearn handle_unknown='ignore').
    */
  val q43FeaturePipeline = HarnessQuery(
    "q43_feature_pipeline",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val cfg = FeatureConfig(Seq("c_acctbal"), Seq("c_mktsegment"))
      val (_, out, _) = FeaturePipeline.fitTransform(cust, cust.limit(0), cfg)
      out.agg(
        count(lit(1)).as("n_rows"),
        first(size(vector_to_array(col("features")))).cast("long")
          .as("n_features"))
    },
    Some("""
      SELECT count(*) AS n_rows,
             1 + count(DISTINCT c_mktsegment) AS n_features
      FROM customer
    """.trim))

  /** M6: get_feature_names_out parity — numeric passthrough name plus
    * one alphabetically-ordered name per seen category.
    */
  val q44FeatureNames = HarnessQuery(
    "q44_feature_names",
    (spark, dir) => {
      val cust = Tables.customer(spark, dir)
      val cfg = FeatureConfig(Seq("c_acctbal"), Seq("c_mktsegment"))
      val model = FeaturePipeline.build(cfg).fit(cust)
      val names = FeaturePipeline.featureNames(model, cfg)
      import spark.implicits._
      names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("idx", "feature_name").orderBy(col("idx"))
    },
    Some("""
      SELECT CAST(row_number() OVER (ORDER BY ord, nm) AS BIGINT) - 1 AS idx,
             nm AS feature_name
      FROM (SELECT 0 AS ord, 'num__c_acctbal' AS nm
            UNION ALL
            SELECT 1, 'cat__c_mktsegment_' || s
            FROM (SELECT DISTINCT c_mktsegment AS s FROM customer) segs)
      ORDER BY idx
    """.trim))

  /** EP1 end-to-end over testdata: the reference's flagship
    * load→clean→transform→split chain (run_pipeline.py → processor.py)
    * driven through the REAL operators on a fraud-shaped frame derived
    * from `events` — string timestamps (1 in 101 corrupted, so coercion
    * has something to coerce), a device id, an ip-like key into derived
    * nation ranges, and a deterministic label. Every stage is
    * individually oracled elsewhere (q15 coerce, q12 dedup, q02 range
    * join, q22 time features, q20 velocity, q40 split); this row proves
    * the COMPOSITION: one SQL oracle replays the whole chain. The final
    * shape is per-(label, day_of_week) feature aggregates joined with
    * the per-label split audit — counts and decimal-exact sums, so the
    * hash pins every stage's output without depending on engine-specific
    * split membership.
    */
  val q85Ep1Pipeline = HarnessQuery(
    "q85_ep1_pipeline",
    (spark, dir) => {
      import graft.operators.{Cleaning, RangeJoin, TimeFeatures}
      val shaped = Tables.events(spark, dir).select(
        col("event_id"), col("user_id"), col("value"),
        when(pmod(col("event_id"), lit(101L)) === 0, lit("not-a-timestamp"))
          .otherwise(col("ts").cast("string")).as("purchase_time"),
        concat(lit("d"), pmod(col("user_id"), lit(50L))).as("device_id"),
        pmod(col("user_id"), lit(1000L)).as("ip_address_int"),
        when(pmod(col("event_id"), lit(10L)) === 0, 1L).otherwise(0L).as("label"))
      // clean: coerce (errors='coerce'), drop failed rows, dedup
      val coerced = Cleaning.coerceTimestamps(shaped, Seq("purchase_time"))
      val clean = Cleaning.dedup(coerced.na.drop(Seq("purchase_time")))
      // geolocate into derived nation ranges (the q02 shape)
      val ranges = Tables.nation(spark, dir).select(
        col("n_name").as("country"),
        (col("n_nationkey").cast("long") * 40L).as("lower_bound_ip_address_int"),
        (col("n_nationkey").cast("long") * 40L + 29L).as("upper_bound_ip_address_int"))
      val geo = RangeJoin.geolocate(clean, ranges)
      // temporal + velocity features; signup derived so elapsed time is
      // deterministic (user_id % 97 + 1 whole hours before purchase)
      val signup = geo.withColumn("signup_time",
        timestamp_micros(unix_micros(col("purchase_time")) -
          (pmod(col("user_id"), lit(97L)) + 1L) * 3600000000L))
      val feat = TimeFeatures.engineerFraudFeatures(signup,
        purchaseTs = "purchase_time", signupTs = "signup_time",
        velocityKeys = Seq("user_id"))
      // stratified split audit joined onto per-(label, weekday) sums
      val splitCounts = Split.summary(feat, "label", 0.2, 42L,
        tieBreak = Seq(col("event_id")))
      feat.groupBy(col("label"), col("day_of_week"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_transactions_24h")).as("sum_user_tx"),
          sum(col("hour_of_day")).as("sum_hour"),
          Parity.dsum(col("time_since_signup_seconds")).as("sum_tss"),
          sum(when(col("country") === "Unknown", 1L).otherwise(0L)).as("n_unknown"))
        .join(broadcast(splitCounts), Seq("label"))
        .select(col("label"), col("day_of_week"), col("n"), col("sum_user_tx"),
          col("sum_hour"), col("sum_tss"), col("n_unknown"),
          col("n_train"), col("n_test"))
        .orderBy(col("label"), col("day_of_week"))
    },
    Some("""
      WITH clean AS (
        SELECT event_id, user_id,
               CAST(ts AS TIMESTAMP) AS pt,
               user_id % 1000 AS uk,
               CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END AS label
        FROM events WHERE event_id % 101 <> 0),
      geo AS (
        SELECT c.*, coalesce(r.n_name, 'Unknown') AS country
        FROM clean c LEFT JOIN
          (SELECT n_name, n_nationkey * 40 AS lb, n_nationkey * 40 + 29 AS ub
           FROM nation) r
          ON c.uk >= r.lb AND c.uk <= r.ub),
      feat AS (
        SELECT *,
               CAST(hour(pt) AS BIGINT) AS hour_of_day,
               CAST(isodow(pt) - 1 AS BIGINT) AS day_of_week,
               CAST((user_id % 97 + 1) * 3600 AS DOUBLE) AS tss,
               count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(pt)
                 RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW) - 1
                 AS user_tx
        FROM geo),
      sizes AS (
        SELECT label, count(*) AS cnt FROM feat GROUP BY label)
      SELECT CAST(f.label AS BIGINT) AS label, f.day_of_week,
             count(*) AS n,
             CAST(sum(f.user_tx) AS BIGINT) AS sum_user_tx,
             CAST(sum(f.hour_of_day) AS BIGINT) AS sum_hour,
             CAST(sum(CAST(f.tss AS DECIMAL(25,6))) AS DOUBLE) AS sum_tss,
             CAST(sum(CASE WHEN f.country = 'Unknown' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unknown,
             min(s.cnt - CAST(ceil(s.cnt * 0.2) AS BIGINT)) AS n_train,
             min(CAST(ceil(s.cnt * 0.2) AS BIGINT)) AS n_test
      FROM feat f JOIN sizes s ON f.label = s.label
      GROUP BY 1, 2 ORDER BY 1, 2
    """.trim))

  /** Stratified k-fold ([[Split.stratifiedKFold]]): per-(class, fold)
    * row counts. The rank-mod-k assignment makes fold sizes a pure
    * function of each class's size — fold f of a class with n rows
    * holds floor((n - f - 1) / k) + 1 rows — which the oracle states
    * directly over generate_series.
    */
  val q105KFold = HarnessQuery(
    "q105_kfold",
    (spark, dir) =>
      Split.stratifiedKFold(
        Tables.embeddings(spark, dir)
          .withColumn("label", col("label").cast("long")),
        "label", k = 5, seed = 42L, tieBreak = Seq(col("vec_id")))
        .groupBy(col("label"), col("fold"))
        .agg(count(lit(1)).as("n_rows"))
        .orderBy(col("label"), col("fold")),
    Some("""
      WITH c AS (SELECT CAST(label AS BIGINT) AS label, count(*) AS n
                 FROM embeddings GROUP BY 1),
      f AS (SELECT unnest(generate_series(0, 4)) AS fold)
      SELECT c.label, CAST(f.fold AS BIGINT) AS fold,
             CAST((c.n - f.fold - 1) // 5 + 1 AS BIGINT) AS n_rows
      FROM c CROSS JOIN f
      WHERE f.fold < c.n
      ORDER BY 1, 2
    """.trim))

  /** Group-aware k-fold ([[Split.groupKFold]]): per-fold row and user
    * counts over events, folded by user so no user straddles folds.
    * Membership is the md5 hash mod k — fully replayable, so unlike the
    * random-split rows this oracle pins MEMBERSHIP, not just sizes.
    */
  val q124GroupKFold = HarnessQuery(
    "q124_group_kfold",
    (spark, dir) =>
      Split.groupKFold(Tables.events(spark, dir), "user_id", k = 5, seed = 42L)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("fold")),
    Some("""
      WITH f AS (
        SELECT user_id,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':42'), 1, 15))
                 AS BIGINT) % 5 AS fold
        FROM events)
      SELECT fold, count(*) AS n_rows,
             count(DISTINCT user_id) AS n_users
      FROM f GROUP BY 1 ORDER BY 1
    """.trim))

  def all: Seq[HarnessQuery] = Seq(
    q40SplitSummary, q41UndersampleCounts, q42SmoteCounts, q457SmoteNeighbours,
    q43FeaturePipeline, q44FeatureNames, q85Ep1Pipeline, q105KFold,
    q124GroupKFold)
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Model-evaluation metrics over a (score, label) scored frame — the
  * read-out end of the fraud pipeline (reference: the sklearn
  * `classification_report`/AUC step a model-training notebook runs after
  * `processor.py`'s prep; here first-class distributed operators).
  *
  * Numeric discipline: every metric reduces to INTEGER pair-counting
  * arithmetic (counts, cumulative counts, products of counts in
  * DECIMAL), divided exactly once at the end — so results are
  * bit-identical across engines and partitionings; doubles appear only
  * in the final division, rounded to 12 by the harness queries.
  *
  * Scale shape: everything funnels through ONE hash aggregation to the
  * distinct-score table (cardinality = score precision, not corpus
  * rows), and the cumulative counts over that table are
  * [[GlobalRank.runningSum]] prefix sums over quantile buckets — a
  * window only ever sorts one score-range bucket, never the whole score
  * axis (the [[Selection]] pattern; a plain `ORDER BY score` cumsum
  * would be a single-task sort of every distinct score at 100 TB).
  */
object Evaluation {

  /** Distinct-score table with exact cumulative counts:
    * one row per distinct score value, columns
    * `score, pos_c, neg_c, cum_pos_le, cum_neg_le` (counts of
    * positives/negatives with score <= this row's score).
    *
    * Buckets: boundaries from `percentile_approx` over the scored rows
    * (approximation affects balance only — counts merge exactly), the
    * order-aligned bucket of the [[GlobalRank.runningSum]].
    */
  def cumulativeByScore(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      buckets: Int = 64): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val score = col(scoreCol)
    val label = col(labelCol)
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    // boundary table is materialized so every consumer reads the SAME
    // approximate boundaries (an in-plan re-execution could differ)
    val bounds =
      if (buckets == 1) null
      else Materialize.cut(
        df.select(percentile_approx(score.cast("double"),
          array(probs.map(lit): _*), lit(10000)).as("__bounds")))
    val withBucket =
      if (buckets == 1) df.withColumn("__b", lit(0))
      else df.crossJoin(broadcast(bounds))
        .withColumn("__b", size(filter(col("__bounds"), b => b < score)))
        .drop("__bounds")
    val distinctScores = withBucket
      .groupBy(col("__b"), score.as("score"))
      .agg(
        sum(when(label === 1, 1L).otherwise(0L)).as("pos_c"),
        sum(when(label === 1, 0L).otherwise(1L)).as("neg_c"))
    GlobalRank.runningSum(distinctScores, keys = Nil, bucket = Seq(col("__b")),
        order = Seq(col("score")),
        values = Seq("pos_c" -> "cum_pos_le", "neg_c" -> "cum_neg_le"), inclusive = true)
      .select(col("score"), col("pos_c"), col("neg_c"), col("cum_pos_le"), col("cum_neg_le"))
  }

  /** Exact ROC AUC with average-rank tie handling (Mann–Whitney):
    * AUC = [#(neg < pos) + ½·#(neg == pos)] / (P·N), computed as
    * Σ_s pos_c(s) · (2·cum_neg_lt(s) + neg_c(s)) over 2·P·N — all
    * integer until the final division. One row: `auc, n_pos, n_neg`.
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 64): DataFrame =
    cumulativeByScore(df, scoreCol, labelCol, buckets)
      .select(
        // cast pos_c wide BEFORE the multiply: an int64 product of two
        // cumulative counts overflows once P·N passes 2^63 (possible at
        // the 100 TB design scale even though harness counts are tiny)
        sum(col("pos_c").cast("decimal(38,0)")
          * (lit(2) * (col("cum_neg_le") - col("neg_c"))
            + col("neg_c"))).as("__num"),
        sum(col("pos_c")).as("n_pos"),
        sum(col("neg_c")).as("n_neg"))
      .select(
        (col("__num").cast("double")
          / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"),
        col("n_pos"), col("n_neg"))

  /** Per-group exact tie-aware ROC AUC — the fold-evaluation
    * workhorse: one AUC per value of `groupCol` (cross-validation
    * folds, model versions, data slices) in a single pass, same
    * Mann–Whitney pair counting as [[rocAuc]]. The cumulative window
    * partitions by the group and runs over the per-(group, score)
    * aggregate, so it is bounded by distinct scores per group, never
    * raw rows. Output: (groupCol, n_pos, n_neg, auc), one row per
    * group; groups missing a class yield null auc (0/0), never NaN.
    */
  def rocAucByGroup(df: DataFrame, scoreCol: String, labelCol: String,
      groupCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol), col(scoreCol).as("score"))
      .agg(
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("pos_c"),
        sum(when(col(labelCol) === 1, 0L).otherwise(1L)).as("neg_c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    per
      .withColumn("__cnl", coalesce(sum(col("neg_c")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(
        sum(col("pos_c").cast("decimal(38,0)")
          * (lit(2) * col("__cnl") + col("neg_c"))).as("__num"),
        sum(col("pos_c")).as("n_pos"),
        sum(col("neg_c")).as("n_neg"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        (col("__num").cast("double")
          / nullif(lit(2.0) * col("n_pos") * col("n_neg"), lit(0.0)))
          .as("auc"))
  }

  /** Split conformal prediction: fit a per-group mean predictor on
    * the calibration slice, take the q-quantile of calibration
    * nonconformity |y - pred| as the interval half-width, and report
    * the empirical coverage that threshold achieves on the held-out
    * slice — the distribution-free "how wide must my prediction band
    * be" answer, and the audit that its guarantee actually holds.
    *
    * `isCalib` marks the calibration rows. Shape: one hash aggregate
    * for the per-group means (group-cardinality bounded, broadcast
    * back), one exact-percentile aggregate over calibration
    * nonconformity (1 row, broadcast), one counting pass over the
    * test slice. Means divide exact decimal sums; the threshold is
    * the exact interpolated percentile (the engine-wide
    * `percentile` ≡ `quantile_cont` parity).
    */
  def splitConformal(
      df: DataFrame, valueCol: String, groupCol: String,
      isCalib: Column, q: Double): DataFrame = {
    require(q > 0 && q < 1, s"q must be in (0,1), got $q")
    val calib = df.where(isCalib)
    val pred = calib.groupBy(col(groupCol))
      .agg((sum(col(valueCol).cast("decimal(28,6)")).cast("double")
        / count(col(valueCol))).as("__pred"))
    def nc(t: DataFrame): DataFrame = t
      .join(broadcast(pred), Seq(groupCol))
      .withColumn("__nc", abs(col(valueCol).cast("double") - col("__pred")))
    val thr = broadcast(nc(calib)
      .agg(expr(s"percentile(__nc, $q)").as("__thr"),
        count(lit(1)).as("n_calib")))
    nc(df.where(!isCalib))
      .crossJoin(thr)
      .agg(
        first(col("__thr")).as("__t"),
        first(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_test"),
        sum(when(col("__nc") <= col("__thr"), 1L).otherwise(0L))
          .as("__cov"))
      .select(
        round(col("__t"), 9).as("threshold"),
        col("n_calib"), col("n_test"),
        round(col("__cov").cast("double") / col("n_test"), 12)
          .as("coverage"))
  }

  /** Kolmogorov–Smirnov statistic between the positive and negative
    * score CDFs: max_s |cum_pos_le(s)/P − cum_neg_le(s)/N|, evaluated
    * as the integer |cum_pos_le·N − cum_neg_le·P| over P·N. One row:
    * `ks, ks_score` (the smallest score attaining the max — the natural
    * alert threshold).
    */
  def ksStatistic(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 64): DataFrame = {
    val cum = cumulativeByScore(df, scoreCol, labelCol, buckets)
    val tot = cum.select(sum(col("pos_c")).as("__p"), sum(col("neg_c")).as("__n"))
    // wide casts BEFORE every count×count multiply: cum·N, cum·P and
    // P·N all pass 2^63 at the 100 TB design scale (int64 would wrap
    // silently, or throw under ANSI)
    val scoredGap = cum.crossJoin(broadcast(tot))
      .withColumn("__gap",
        abs(col("cum_pos_le").cast("decimal(38,0)") * col("__n")
          - col("cum_neg_le").cast("decimal(38,0)") * col("__p")))
    scoredGap
      .select(max(struct(col("__gap"), (-col("score")).as("__ns"),
        col("__p"), col("__n"))).as("m"))
      .select(
        (col("m.__gap").cast("double")
          / (col("m.__p").cast("double") * col("m.__n").cast("double")))
          .as("ks"),
        (-col("m.__ns")).as("ks_score"))
  }

  /** Confusion matrix and derived metrics at `threshold` (predict
    * positive when score >= threshold). One row:
    * `tp, fp, tn, fn, precision, recall, f1, accuracy`.
    */
  def confusionAtThreshold(
      df: DataFrame, scoreCol: String, labelCol: String,
      threshold: Double): DataFrame = {
    val pred = col(scoreCol) >= lit(threshold)
    val label = col(labelCol) === 1
    df.select(
        sum(when(pred && label, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !label, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && !label, 1L).otherwise(0L)).as("tn"),
        sum(when(!pred && label, 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        (lit(2.0) * col("tp")
          / (lit(2) * col("tp") + col("fp") + col("fn"))).as("f1"),
        ((col("tp") + col("tn")).cast("double")
          / (col("tp") + col("fp") + col("tn") + col("fn"))).as("accuracy"))
  }

  /** Threshold sweep: [[confusionAtThreshold]]'s metrics at EVERY
    * candidate threshold in one pass — the operating-point curve that
    * picks a deployment threshold. The sweep is an in-row explode of
    * the (small, fixed) threshold list into the conditional
    * aggregate: one scan, one shuffle of |thresholds| counter rows,
    * never one job per threshold. Divisions guard 0/0 with nullif
    * (all-negative data at a high threshold), so nulls, never NaN.
    */
  def thresholdSweep(
      df: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val label = col(labelCol) === 1
    val pred = col(scoreCol) >= col("threshold")
    df.select(col(scoreCol), col(labelCol),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(pred && label, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !label, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && !label, 1L).otherwise(0L)).as("tn"),
        sum(when(!pred && label, 1L).otherwise(0L)).as("fn"))
      .select(col("threshold"), col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp").cast("double")
          / nullif((col("tp") + col("fp")).cast("double"), lit(0.0)))
          .as("precision"),
        (col("tp").cast("double")
          / nullif((col("tp") + col("fn")).cast("double"), lit(0.0)))
          .as("recall"),
        (lit(2.0) * col("tp")
          / nullif((lit(2) * col("tp") + col("fp") + col("fn")).cast("double"),
            lit(0.0))).as("f1"))
  }

  /** Reliability diagram data: `bins` equal-width score bins over
    * [0, 1]; per bin the count, exact mean score (decimal sum over
    * count) and observed positive rate. Scores outside [0, 1] clamp to
    * the edge bins.
    */
  def calibrationBins(
      df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val score = col(scoreCol)
    val b = greatest(lit(0), least(lit(bins - 1),
      floor(score * lit(bins)).cast("int")))
    df.groupBy(b.as("bin"))
      .agg(
        count(lit(1)).as("n"),
        (sum(score.cast("decimal(28,10)")).cast("double") / count(lit(1)))
          .as("mean_score"),
        (sum(when(col(labelCol) === 1, 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("pos_rate"))
      .orderBy(col("bin"))
  }

  /** Decile lift/gain table: rank all rows by (score desc, tieBreak
    * asc) through the skew-safe [[Selection.rankFeaturesPerKey]] rank
    * (quantile-bucketed two-level — no whole-corpus window), cut into
    * `tiles` equal-depth tiles, and report per tile the size, positive
    * count, cumulative capture rate (share of all positives found so
    * far) and lift (tile positive rate over base rate). Integer-exact
    * ratios, one division per output cell.
    */
  def liftTable(
      df: DataFrame, scoreCol: String, labelCol: String,
      tieBreak: Seq[String], tiles: Int = 10, buckets: Int = 64): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    val ranked = Selection.rankFeaturesPerKey(
      df.withColumn("__k", lit(1)), "__k", scoreCol, tieBreak, buckets)
    val nTotal = df.select(count(lit(1)).as("__NT"))
    val tiled = ranked.crossJoin(broadcast(nTotal))
      .withColumn("tile",
        ceil(col("rank") * lit(tiles) / col("__NT")).cast("int"))
    val perTile = tiled.groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("n_pos"))
    val tot = perTile.select(sum(col("n")).as("__N"), sum(col("n_pos")).as("__P"))
    val wCum = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the cumulative window runs over the `tiles`-row aggregate (benign)
    perTile.crossJoin(broadcast(tot))
      .select(col("tile"), col("n"), col("n_pos"),
        (sum(col("n_pos")).over(wCum).cast("double") / col("__P"))
          .as("cum_capture"),
        ((col("n_pos") * col("__N")).cast("double")
          / (col("n") * col("__P"))).as("lift"))
      .orderBy(col("tile"))
  }

  /** Qini curve (Radcliffe 2007's uplift-model gain chart): rank
    * experiment units by a targeting score (desc, tie-broken by id),
    * cut into equal-depth tiles, and per tile report treated/control
    * sizes and conversions, the tile's incremental uplift, the
    * cumulative Qini value
    * `Q(k) = cumConvT(k) − cumConvC(k) · cumNT(k)/cumNC(k)`
    * (incremental conversions versus a scaled control), and the
    * random-targeting diagonal at the same depth — the standard "is
    * the uplift model better than mailing at random" curve, which a
    * plain lift table ([[liftTable]]) cannot answer because it ignores
    * the control arm.
    *
    * Ranking goes through the skew-safe quantile-bucketed two-level
    * rank (no whole-corpus window); the only unpartitioned window runs
    * over the `tiles`-row aggregate. All inputs to the double
    * expressions are exact integer counts, so the curve replays
    * bit-for-bit in SQL.
    */
  def qiniCurve(
      df: DataFrame, scoreCol: String, groupCol: String, convCol: String,
      tieBreak: Seq[String], tiles: Int = 10, buckets: Int = 64): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    val ranked = Selection.rankFeaturesPerKey(
      df.withColumn("__k", lit(1)), "__k", scoreCol, tieBreak, buckets)
    val nTotal = df.select(count(lit(1)).as("__NTOT"))
    val perTile = ranked.crossJoin(broadcast(nTotal))
      .withColumn("tile",
        ceil(col("rank") * lit(tiles) / col("__NTOT")).cast("int"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(groupCol) === 1, 1L).otherwise(0L)).as("n_treat"),
        sum(when(col(groupCol) === 0, 1L).otherwise(0L)).as("n_control"),
        sum(when(col(groupCol) === 1 && col(convCol) === 1, 1L)
          .otherwise(0L)).as("conv_treat"),
        sum(when(col(groupCol) === 0 && col(convCol) === 1, 1L)
          .otherwise(0L)).as("conv_control"))
    // cumulative window over the tiles-row aggregate (benign)
    val wCum = Window.orderBy(col("tile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perTile
      .withColumn("__cn", sum(col("n")).over(wCum))
      .withColumn("__cnt", sum(col("n_treat")).over(wCum))
      .withColumn("__cnc", sum(col("n_control")).over(wCum))
      .withColumn("__crt", sum(col("conv_treat")).over(wCum))
      .withColumn("__crc", sum(col("conv_control")).over(wCum))
    val tot = perTile.select(
      sum(col("n")).as("__N"), sum(col("n_treat")).as("__NT"),
      sum(col("n_control")).as("__NC"), sum(col("conv_treat")).as("__RT"),
      sum(col("conv_control")).as("__RC"))
    cum.crossJoin(broadcast(tot))
      .select(col("tile").cast("long").as("tile"), col("n"),
        col("n_treat"), col("n_control"),
        col("conv_treat"), col("conv_control"),
        round(col("conv_treat").cast("double")
            / nullif(col("n_treat"), lit(0L)).cast("double")
          - col("conv_control").cast("double")
            / nullif(col("n_control"), lit(0L)).cast("double"), 12)
          .as("uplift"),
        round(col("__crt").cast("double")
          - col("__crc").cast("double") * col("__cnt").cast("double")
            / nullif(col("__cnc"), lit(0L)).cast("double"), 12)
          .as("qini"),
        round((col("__RT").cast("double")
            - col("__RC").cast("double") * col("__NT").cast("double")
              / nullif(col("__NC"), lit(0L)).cast("double"))
          * col("__cn").cast("double") / col("__N").cast("double"), 12)
          .as("qini_random"))
      .orderBy(col("tile"))
  }

  /** Two-proportion z-test over a per-entity table (one row per
    * experiment unit with its 0/1 group and 0/1 conversion): group
    * sizes, conversion counts and rates, the pooled-variance z
    * statistic, and the absolute uplift. One hash aggregate; every
    * input to the one double expression is an exact count. Callers
    * bring their own assignment column — a deterministic hash of the
    * unit id, never a random() (reruns must agree).
    */
  def abTest(
      perUnit: DataFrame, groupCol: String, convCol: String): DataFrame = {
    val agg = perUnit.agg(
      sum(when(col(groupCol) === 0, 1L).otherwise(0L)).as("n_control"),
      sum(when(col(groupCol) === 0 && col(convCol) === 1, 1L)
        .otherwise(0L)).as("c_control"),
      sum(when(col(groupCol) === 1, 1L).otherwise(0L)).as("n_treat"),
      sum(when(col(groupCol) === 1 && col(convCol) === 1, 1L)
        .otherwise(0L)).as("c_treat"))
    val p0 = col("c_control").cast("double") / col("n_control").cast("double")
    val p1 = col("c_treat").cast("double") / col("n_treat").cast("double")
    val pp = (col("c_control") + col("c_treat")).cast("double") /
      (col("n_control") + col("n_treat")).cast("double")
    // degenerate experiments (everyone or no one converts) zero the
    // pooled variance; emit a NULL z rather than tripping ANSI
    // divide-by-zero (Spark ANSI raises even for double /)
    val se = sqrt(pp * (lit(1.0d) - pp)
      * (lit(1.0d) / col("n_control").cast("double")
        + lit(1.0d) / col("n_treat").cast("double")))
    agg.select(
      col("n_control"), col("c_control"), col("n_treat"), col("c_treat"),
      p0.as("rate_control"), p1.as("rate_treat"),
      (p1 - p0).as("uplift"),
      when(se > 0d, (p1 - p0) / se).otherwise(lit(null)).as("z"))
  }

  /** Murphy decomposition of the Brier score over a B-bin calibration
    * binning: forecast = bin center c_b = (b + 0.5)/B, so
    * brier = reliability − resolution + uncertainty holds as an EXACT
    * algebraic identity (constant forecast within bins) — the spec
    * pins it. reliability = Σ n_b (c_b − ȳ_b)² / n penalizes
    * miscalibration, resolution = Σ n_b (ȳ_b − ȳ)² / n rewards
    * discriminating bins, uncertainty = ȳ(1 − ȳ) is the no-skill
    * floor.
    *
    * Everything reduces to integer bin counts (ONE hash aggregate of
    * B rows) and exact power-of-two-free doubles: centers are exact
    * rationals evaluated identically on both engines, each bin's term
    * is rounded at 12 and accumulated in decimal — no ordered fold,
    * no double-sum order sensitivity. Scores must lie in [0, 1);
    * rows outside clamp into the edge bins (documented, matching
    * [[calibrationBins]]).
    *
    * Output one row: (n, brier, reliability, resolution, uncertainty).
    */
  def brierDecomposition(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val b = least(greatest(
      floor(col(scoreCol) * bins).cast("int"), lit(0)), lit(bins - 1))
    val perBin = df
      .groupBy(b.as("__b"))
      .agg(count(lit(1)).as("__nb"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("__pb"))
    val tot = perBin.select(sum(col("__nb")).as("__n"),
      sum(col("__pb")).as("__p"))
    val center = (col("__b").cast("double") + 0.5) / bins
    val ybarB = col("__pb").cast("double") / col("__nb").cast("double")
    val ybar = col("__p").cast("double") / col("__n").cast("double")
    def dec(c: Column): Column = round(c, 12).cast("decimal(38,12)")
    perBin.crossJoin(broadcast(tot))
      .select(col("__n"), col("__p"),
        // per-bin double terms, rounded then decimal-accumulated so
        // the B-term sums are order-independent on both engines
        dec(col("__nb") * (center - ybarB) * (center - ybarB)).as("__rel"),
        dec(col("__nb") * (ybarB - ybar) * (ybarB - ybar)).as("__res"),
        dec(col("__pb") * (lit(1.0d) - center) * (lit(1.0d) - center)
          + (col("__nb") - col("__pb")) * center * center).as("__bri"))
      .groupBy(col("__n"), col("__p"))
      .agg(sum(col("__rel")).as("__srel"), sum(col("__res")).as("__sres"),
        sum(col("__bri")).as("__sbri"))
      .select(
        col("__n").as("n"),
        (col("__sbri").cast("double") / col("__n").cast("double"))
          .as("brier"),
        (col("__srel").cast("double") / col("__n").cast("double"))
          .as("reliability"),
        (col("__sres").cast("double") / col("__n").cast("double"))
          .as("resolution"),
        (col("__p").cast("double") / col("__n").cast("double")
          * (lit(1.0d) - col("__p").cast("double")
            / col("__n").cast("double"))).as("uncertainty"))
  }

  /** Isotonic (monotone non-decreasing) calibration over a B-bin
    * score binning — the PAV fit via its minimax closed form:
    * iso_i = max_{j<=i} min_{k>=j} ȳ(j..k), where ȳ(j..k) is the
    * pooled positive rate of bins j..k. Equivalent to
    * pool-adjacent-violators on the binned data, but expressed as a
    * bounded self-join over the B-row bin table (B² interval means
    * from prefix sums) — no sequential algorithm, no driver loop.
    *
    * Everything is integer prefix-count arithmetic until the interval
    * means; interval means are single correctly-rounded divisions and
    * the min/max lattice compares identical doubles on both engines.
    *
    * Output: one row per non-empty bin — (bin, n_bin, rate, iso_rate),
    * iso_rate monotone non-decreasing in bin (spec-pinned).
    */
  def isotonicCalibration(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 64, s"bins must be in [2,64], got $bins")
    val b = least(greatest(
      floor(col(scoreCol) * bins).cast("int"), lit(0)), lit(bins - 1))
    val perBin = df
      .groupBy(b.as("__b"))
      .agg(count(lit(1)).as("__nb"),
        sum(when(col(labelCol) === 1, 1L).otherwise(0L)).as("__pb"))
    val wCum = Window.orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // prefix sums over the <= B bin rows (benign tiny window)
    val pre = perBin
      .select(col("__b"), col("__nb"), col("__pb"),
        sum(col("__nb")).over(wCum).as("__cn"),
        sum(col("__pb")).over(wCum).as("__cp"))
    val ends = pre.select(col("__b").as("__k"), col("__cn").as("__cnk"),
      col("__cp").as("__cpk"))
    val starts = pre.select(col("__b").as("__j"),
      (col("__cn") - col("__nb")).as("__cnj"),
      (col("__cp") - col("__pb")).as("__cpj"))
    // interval means avg(j..k) for all j <= k: B^2 rows, broadcast side
    val intervals = starts.join(broadcast(ends), col("__j") <= col("__k"))
      .select(col("__j"), col("__k"),
        ((col("__cpk") - col("__cpj")).cast("double")
          / (col("__cnk") - col("__cnj")).cast("double")).as("__avg"))
    val minTail = intervals.groupBy(col("__j"))
      .agg(min(col("__avg")).as("__mintail"))
    pre
      .join(broadcast(minTail), col("__j") <= col("__b"))
      .groupBy(col("__b"), col("__nb"), col("__pb"))
      .agg(max(col("__mintail")).as("iso_rate"))
      .select(col("__b").cast("long").as("bin"), col("__nb").as("n_bin"),
        (col("__pb").cast("double") / col("__nb").cast("double"))
          .as("rate"),
        col("iso_rate"))
      .orderBy(col("bin"))
  }

  /** Average precision (area under the precision-recall curve,
    * sklearn's step-interpolated `average_precision_score`):
    * AP = sum over distinct scores s (descending) of
    * (pos_c(s)/P) * precision_at_cut(s), with
    * precision_at_cut = cum_pos_ge / cum_all_ge.
    *
    * The sum of per-cut ratios would be an order-dependent double
    * fold, so each term is fixed-point floored instead:
    * (pos_c * cum_pos_ge * 10^12) DIV cum_all_ge is an exact integer
    * on both engines (truncation toward zero = floor for
    * non-negatives), the terms sum exactly, and ONE final double
    * division by P*10^12 lands within 1e-12 * |terms| of the true AP —
    * deterministic bit-identical, which the rounding in the harness
    * query then freezes.
    *
    * Shape: inherits [[cumulativeByScore]]'s bucketed two-level prefix
    * sums (bounded by distinct scores), plus a one-row totals
    * broadcast. Output one row: `ap, n_pos, n_neg`.
    */
  def averagePrecision(df: DataFrame, scoreCol: String, labelCol: String,
      buckets: Int = 64): DataFrame = {
    val cum = cumulativeByScore(df, scoreCol, labelCol, buckets)
    val tot = cum.select(sum(col("pos_c")).as("__P"),
      sum(col("neg_c")).as("__N"))
    cum.crossJoin(broadcast(tot))
      .select(
        col("__P"), col("__N"),
        // cuts are >= s: convert the ascending cumulatives
        (col("__P") - col("cum_pos_le") + col("pos_c")).as("__cpge"),
        (col("__P") + col("__N")
          - col("cum_pos_le") - col("cum_neg_le")
          + col("pos_c") + col("neg_c")).as("__cage"),
        col("pos_c"))
      .select(col("__P"), col("__N"),
        // pos_c * cpge * 1e12 can pass 2^63 — widen BEFORE multiplying;
        // DIV of decimals yields a long (the quotient is <= pos_c*1e12)
        expr("""CAST(pos_c AS DECIMAL(38,0)) * __cpge * 1000000000000
                DIV __cage""").as("__term"))
      .groupBy(col("__P"), col("__N"))
      // terms are <= pos_c*1e12 each; the total reaches P*1e12, which
      // passes 2^63 once P ~ 1e7 — accumulate in decimal
      .agg(sum(col("__term").cast("decimal(38,0)")).as("__tsum"))
      .select(
        (col("__tsum").cast("double")
          / (col("__P").cast("double") * 1.0e12)).as("ap"),
        col("__P").as("n_pos"), col("__N").as("n_neg"))
  }

  /** Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    * Models Trained on Code", eq. 1): per task with n sampled attempts
    * of which c pass, `1 − C(n−c, k)/C(n, k)`, computed in the
    * numerically-stable product form
    * `1 − Π_{i=0..k−1} (n−c−i)/(n−i)` — the standard estimator for
    * code/eval sample sets. Each k unrolls to a FIXED k-factor
    * double product (identical operand order in any engine), so the
    * result is engine-exact without rounding games; n < k yields NULL
    * (the estimator is undefined), c ≥ n−k+1 yields exactly 1.0.
    *
    * Scale shape: one hash aggregation to the task grain; the product
    * is a scalar expression per task row.
    *
    * @param ks the k values to report, each as a `pass_at_<k>` column
    */
  def passAtK(
      samples: DataFrame, taskCol: String, passCol: Column,
      ks: Seq[Int] = Seq(1, 5, 10)): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= 64),
      "ks must be in [1,64]")
    val agg = samples.groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(passCol, 1L).otherwise(0L)).as("c"))
    val n = col("n").cast("double")
    val c = col("c").cast("double")
    val cols = ks.map { k =>
      val prod = (0 until k).foldLeft(lit(1.0): Column) { (acc, i) =>
        acc * ((n - c - lit(i.toDouble)) / (n - lit(i.toDouble)))
      }
      when(col("n") < k, lit(null).cast("double"))
        .when(col("c") >= col("n") - lit(k.toLong) + lit(1L), lit(1.0))
        .otherwise(lit(1.0) - prod)
        .as(s"pass_at_$k")
    }
    agg.select((col("task") +: col("n") +: col("c") +: cols): _*)
  }
}

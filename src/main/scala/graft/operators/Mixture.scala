package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Domain-mixture sampling for training-data composition: down-sample a
  * multi-domain corpus so the retained rows match target mixture weights
  * (the data-mixing step of every large pretraining pipeline — The
  * Pile's per-source proportions, DoReMi-style reweighting — applied as
  * deterministic subset selection, no upsampling).
  *
  * Given weights w_d over domains, the retained total is the LARGEST
  * budget the corpus can serve without replication,
  * `N = min_d floor(count_d / w_d)`, and each domain keeps its first
  * `n_d = floor(w_d * N)` rows in a seeded content-hash order. The hash
  * is [[TextFunctions.md5Hash60]] of `"<id>:<seed>"` — a pure function
  * of row content (recomputed lineage reproduces identical membership,
  * unlike `rand(seed)`, which depends on partition layout) and
  * replayable by any engine with md5, so membership itself is
  * oracle-checkable.
  *
  * Scale shape: quotas come from a |domains|-row aggregate that stays
  * in-plan (broadcast back, no driver collect). The per-domain rank is
  * [[GlobalRank.rowNumber]] bucketed by the top 6 bits of the 60-bit
  * ordering hash ([[hashSalted]]), as [[Split.stratified]] does — so no
  * single task ever sorts a whole domain (a corpus is typically
  * dominated by one web domain the way the fraud table is dominated by
  * one class).
  */
object Mixture {

  private val SaltShift = 54 // md5Hash60 is 60-bit non-negative; top 6 bits

  /** `df` plus `__h`, the seeded content hash of the id, and `__salt`,
    * its top 6 bits: an order-aligned bucket for ranking by
    * (`__h`, id) through [[GlobalRank]].
    */
  private def hashSalted(df: DataFrame, idCol: String, seed: Long): DataFrame =
    df.withColumn("__h", TextFunctions.md5Hash60(
        concat(col(idCol).cast("string"), lit(":" + seed))))
      .withColumn("__salt", shiftright(col("__h"), SaltShift))

  /** `df` plus `__rn`, the exact 1-based rank within `groupCol` in
    * seeded content-hash order (see [[hashSalted]]).
    */
  private def hashRank(
      df: DataFrame, groupCol: String, idCol: String, seed: Long): DataFrame =
    GlobalRank.rowNumber(hashSalted(df, idCol, seed), keys = Seq(col(groupCol)),
      bucket = Seq(col("__salt")), order = Seq(col("__h"), col(idCol)))

  /** Content-stable Bernoulli sample: keep a row iff its seeded content
    * hash falls under `frac` of the hash space. `df.sample(frac, seed)`
    * is NOT this — its membership depends on partition layout and row
    * order, so a recomputed lineage (executor loss, AQE re-plan, a
    * retried stage) silently returns a DIFFERENT sample; on a real
    * cluster that is a correctness bug in any pipeline that reads the
    * sample twice. Hash membership is a pure function of (id, seed):
    * stable under recomputation, mergeable across incremental batches,
    * and replayable by any engine with md5 — so sampling is
    * oracle-checkable row by row. Sample size is Binomial(n, frac),
    * not exact-n (rank-based selection is [[sampleMixture]]'s job).
    */
  def sampleByHash(
      df: DataFrame, idCol: String, frac: Double, seed: Long): DataFrame = {
    require(frac >= 0.0 && frac <= 1.0, s"frac must be in [0,1], got $frac")
    // null ids hash through a sentinel: concat would propagate the null
    // and the filter would silently DROP every null-id row even at
    // frac = 1. With the sentinel they sample deterministically as one
    // group (all in or all out at a given seed) — callers who need
    // per-row behavior for null ids should assign real ids first.
    val idStr = coalesce(col(idCol).cast("string"), lit("\u0000graft_null"))
    val h = TextFunctions.md5Hash60(concat(idStr, lit(":"), lit(seed.toString)))
    // 60-bit hash space: keep h < frac * 2^60, computed in exact longs
    df.filter(h < lit((frac * (1L << 60).toDouble).toLong))
  }

  /** Rows of `df` sampled to the target mixture; domains absent from
    * `weights` are dropped. Weights must be positive and are treated as
    * proportions (typically summing to 1).
    */
  def sampleMixture(
      df: DataFrame,
      domainCol: String,
      weights: Map[String, Double],
      idCol: String,
      seed: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.sortBy(_._1).toDF(domainCol, "__w")
    val dfW = df.join(broadcast(wdf), Seq(domainCol))
    val counts = dfW.groupBy(col(domainCol))
      .agg(count(lit(1)).as("__cnt"), max(col("__w")).as("__wd"))
    val total = counts.agg(
      min(floor(col("__cnt") / col("__wd"))).cast("long").as("__N"))
    // floor(w_d * N) <= floor(w_d * count_d / w_d) = count_d: quotas are
    // always servable without replication
    val quotas = counts.crossJoin(broadcast(total))
      .select(col(domainCol),
        floor(col("__wd") * col("__N")).cast("long").as("__quota"))
    hashRank(dfW, domainCol, idCol, seed)
      .join(broadcast(quotas), Seq(domainCol))
      .filter(col("__rn") <= col("__quota"))
      .select(df.columns.map(col): _*)
  }

  /** Deterministic exact-k sample per group — the held-out/eval-set
    * constructor: every group contributes its k smallest seeded
    * content hashes, so the selection is content-stable (executor
    * loss, incremental re-runs and external engines all reproduce the
    * same k rows) and adding documents to a group only swaps members
    * whose hash displaces a selected one — NOT a full reshuffle of the
    * eval set, which would silently decalibrate metric history.
    * Groups smaller than k keep everything.
    *
    * Scale: the same [[GlobalRank]] rank as [[sampleMixture]], so no
    * task ever sorts a whole group. A NULL group is a group: it keeps
    * its k smallest hashes like any other.
    */
  def evalSample(
      df: DataFrame, groupCol: String, idCol: String, k: Int,
      seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    hashRank(df, groupCol, idCol, seed)
      .filter(col("__rn") <= k)
      .select(df.columns.map(col): _*)
  }

  /** Token-budget mixture sampling — the same target-weights contract
    * as [[sampleMixture]] measured in TOKENS, which is how production
    * pretraining mixes actually specify composition (a domain's share
    * of the training budget is its token share, not its document
    * share). The total budget is the largest servable without
    * upsampling, `B = min_d floor(tokens_d / w_d)`; domain d keeps its
    * content-hash-ordered prefix of documents while the running
    * inclusive token sum stays within `floor(w_d * B)` (first-fit
    * prefix: a document that would cross the quota is dropped along
    * with everything after it in hash order — deterministic and
    * engine-replayable, no knapsack).
    *
    * Scale: the same salt-bucketed order as [[sampleMixture]], through
    * [[GlobalRank.runningSum]] instead of a rank, so no task ever scans
    * a whole domain.
    *
    * @param tokenCol precomputed per-row token count (e.g.
    *                 `size(TextFunctions.tokens(col))` or
    *                 [[TextAnalysis.bpeishTokenCount]])
    */
  def sampleByTokenBudget(
      df: DataFrame,
      domainCol: String,
      weights: Map[String, Double],
      tokenCol: String,
      idCol: String,
      seed: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.sortBy(_._1).toDF(domainCol, "__w")
    val dfW = df.join(broadcast(wdf), Seq(domainCol))
    val totals = dfW.groupBy(col(domainCol))
      .agg(sum(col(tokenCol)).cast("long").as("__tok"), max(col("__w")).as("__wd"))
    val budget = totals.agg(
      min(floor(col("__tok") / col("__wd"))).cast("long").as("__B"))
    val quotas = totals.crossJoin(broadcast(budget))
      .select(col(domainCol),
        floor(col("__wd") * col("__B")).cast("long").as("__tq"))
    GlobalRank.runningSum(hashSalted(dfW, idCol, seed), keys = Seq(col(domainCol)),
        bucket = Seq(col("__salt")), order = Seq(col("__h"), col(idCol)),
        values = Seq(tokenCol -> "__cum"), inclusive = true)
      .join(broadcast(quotas), Seq(domainCol))
      .filter(col("__cum") <= col("__tq"))
      .select(df.columns.map(col): _*)
  }

  /** DSIR-style importance resampling (after Xie et al. 2023,
    * arXiv:2302.03169): select raw documents whose hashed-n-gram
    * distribution looks like a TARGET corpus. Each document d gets a
    * log importance weight `sum_tokens [ln p_target(b) - ln p_raw(b)]`
    * over hashed token buckets b (add-one smoothing on both
    * distributions), and the output is a Gumbel top-`n` — key =
    * log-weight + Gumbel noise — which samples without replacement with
    * probability proportional to the importance weight, in one pass,
    * with no rejection loop.
    *
    * Everything is deterministic and engine-replayable: buckets hash
    * through [[TextFunctions.md5Hash60]], and the Gumbel uniform comes
    * from the seeded content hash of the id (the [[sampleByHash]]
    * discipline) rather than `rand()`, so membership survives
    * recomputation and replays in SQL.
    *
    * Scale shape: the bucket vocabulary is FIXED at `numBuckets` (the
    * whole point of hashed features — no driver vocab, no unbounded
    * term table), so the per-bucket log-ratio table broadcasts; the
    * corpus moves as (id, bucket, count) triples through two hash
    * aggregates; the final top-n is a TakeOrdered, not a global-window
    * sort.
    *
    * @param target corpus whose distribution raw docs should match
    *               (need not be a subset of `raw`)
    * @return the `n` selected raw rows as (idCol, n_tokens, logratio),
    *         logratio rounded to 8 decimals
    */
  def importanceResample(
      raw: DataFrame,
      target: DataFrame,
      textCol: String,
      idCol: String,
      n: Int,
      numBuckets: Int = 1024,
      seed: Long = 42L): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    def docBuckets(df: DataFrame): DataFrame =
      df.select(col(idCol).as("__id"),
          explode(TextFunctions.tokens(col(textCol))).as("__term"))
        .select(col("__id"),
          pmod(TextFunctions.md5Hash60(col("__term")), lit(numBuckets.toLong))
            .as("__b"))
        .groupBy(col("__id"), col("__b"))
        .agg(count(lit(1)).as("__tc"))
    // rawDc enters the plan twice (bucket totals + per-doc scoring) —
    // cut the lineage so the tokenize+hash+aggregate runs once
    val rawDc = graft.Materialize.cut(docBuckets(raw))
    val rawB = rawDc.groupBy(col("__b"))
      .agg(sum(col("__tc")).cast("long").as("__rc"))
    val tgtB = docBuckets(target).groupBy(col("__b"))
      .agg(sum(col("__tc")).cast("long").as("__gc"))
    val rTot = rawB.agg(sum(col("__rc")).cast("double").as("__rt"))
    val gTot = tgtB.agg(coalesce(sum(col("__gc")), lit(0L)).cast("double")
      .as("__gt"))
    // buckets never seen in raw docs cannot appear in any raw doc's
    // score, so the left join over raw buckets is complete
    val logw = broadcast(rawB.join(tgtB, Seq("__b"), "left")
      .crossJoin(broadcast(rTot)).crossJoin(broadcast(gTot))
      .select(col("__b"),
        (log((coalesce(col("__gc"), lit(0L)) + 1).cast("double") /
          (col("__gt") + numBuckets)) -
          log((col("__rc") + 1).cast("double") / (col("__rt") + numBuckets)))
          .as("__lw")))
    val scored = rawDc.join(logw, Seq("__b"))
      .groupBy(col("__id"))
      .agg(sum(col("__tc")).cast("long").as("n_tokens"),
        // decimal accumulation: the per-doc sum is order-independent,
        // so the score (and with it membership) is partitioning-proof
        sum((col("__tc") * col("__lw")).cast("decimal(30,15)"))
          .cast("double").as("__score"))
    // u in (0,1) from the top 60 hash bits; Gumbel(0,1) = -ln(-ln(u))
    val u = (TextFunctions.md5Hash60(
      concat(col("__id").cast("string"), lit(":" + seed)))
      .cast("double") + 0.5) / lit(1.152921504606846976e18)
    scored
      .withColumn("__key", col("__score") - log(-log(u)))
      .orderBy(col("__key").desc, col("__id"))
      .limit(n)
      .select(col("__id").as(idCol), col("n_tokens"),
        round(col("__score"), 8).as("logratio"))
  }

  /** Recency-decayed content-hash sampling for continual-training
    * mixes: row keep-probability halves every `halfLifeDays` of age at
    * `refEpochUs` (rows at or after the reference keep with probability
    * 1; there is no future-upweighting), and membership is the same
    * pure (id, seed) hash as [[sampleByHash]] — recompute-stable,
    * incremental batches sample identically, and the SAME row admitted
    * at threshold p stays admitted at any p' > p (thresholds are
    * nested, so re-running with a later reference date only EVICTS aged
    * rows, never churns survivors). One narrow map; no shuffle.
    * Boundary exactness: the threshold `2^60 · 0.5^(age/halfLife)` is a
    * double, so an engine whose `pow` differs by 1 ulp could flip a row
    * whose hash lands within an ulp of the boundary — ~2⁻⁵⁰ per row,
    * the same accepted risk as every hash-threshold sampler here.
    */
  def sampleByDecay(
      df: DataFrame,
      idCol: String,
      tsCol: String,
      refEpochUs: Long,
      halfLifeDays: Double,
      seed: Long): DataFrame = {
    require(halfLifeDays > 0, s"halfLifeDays must be > 0, got $halfLifeDays")
    val idStr = coalesce(col(idCol).cast("string"), lit(" graft_null"))
    val h = TextFunctions.md5Hash60(concat(idStr, lit(":" + seed)))
    val ageDays = greatest(
      (lit(refEpochUs) - unix_micros(col(tsCol))).cast("double")
        / lit(86400e6), lit(0.0))
    val keepFrac = pow(lit(0.5), ageDays / lit(halfLifeDays))
    df.filter(h.cast("double") < lit((1L << 60).toDouble) * keepFrac)
  }

  /** Temperature-scaled mixture design: the per-domain weight table a
    * pretraining mix is specified from. Natural shares are flattened by
    * temperature T — `w_d ∝ share_d^(1/T)`, normalized — the standard
    * upsampling rule for low-resource domains (T = 1 keeps natural
    * proportions, T → ∞ approaches uniform; multilingual/multi-corpus
    * recipes run T in [1.5, 5]). Shares and weights are computed over
    * TOKENS (how budgets are specified), with doc counts alongside;
    * `upsample` = w_d / token_share_d is the replication factor the
    * chosen mix implies for each domain. Output one row per domain:
    * (domain, n_docs, n_tokens, token_share, w_temp, upsample) — feed
    * `w_temp` to [[sampleByTokenBudget]] (collected to its Map) to
    * execute the design. One tokenize + two hash aggregations and a
    * broadcast 1-row total; `pow`/division doubles are engine-parity
    * modulo an ulp, so query surfaces round.
    */
  def temperatureWeights(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      temperature: Double): DataFrame = {
    require(temperature > 0, s"temperature must be > 0, got $temperature")
    // one row per domain, but it feeds the plan three times (shares,
    // normalizer, output) — cut so the corpus tokenize runs ONCE
    val perDomain = graft.Materialize.cut(
      df.select(col(domainCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("__nt"))
        .groupBy(col(domainCol))
        .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("n_tokens")))
    val withShare = perDomain
      .crossJoin(broadcast(perDomain.agg(
        sum(col("n_tokens")).cast("double").as("__tot"))))
      .withColumn("token_share", col("n_tokens") / col("__tot"))
      .withColumn("__pw", pow(col("token_share"), lit(1.0 / temperature)))
    withShare
      .crossJoin(broadcast(withShare.agg(
        sum(col("__pw").cast("decimal(30,18)")).cast("double").as("__z"))))
      .select(col(domainCol), col("n_docs"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("token_share"),
        (col("__pw") / col("__z")).as("w_temp"),
        ((col("__pw") / col("__z")) / col("token_share")).as("upsample"))
  }

  /** Deterministic weighted interleave — the TRAINING-ORDER side of
    * mixture design: every row gets an `order_key` such that sorting by
    * (order_key, domain, id) yields a stride-scheduled sequence where
    * domain d occupies a w_d share of EVERY prefix (|count_d(p) −
    * w_d·p| stays O(1)), instead of the domain-clumped order a naive
    * union-then-write produces. Within each domain the order is the
    * seeded content-hash rank (the [[sampleMixture]] discipline —
    * recompute-stable, engine-replayable); the key is the classic
    * stride (rank − 0.5) / w_d. Domains absent from `weights` are
    * dropped, mirroring [[sampleMixture]]. The operator only ATTACHES
    * the key — the global sort is the writer's one unavoidable
    * shuffle, paid when the order is consumed, and the per-domain rank
    * is the same [[GlobalRank]] rank as [[sampleMixture]] (never a
    * whole-domain window).
    */
  def interleaveByWeight(
      df: DataFrame,
      domainCol: String,
      idCol: String,
      weights: Map[String, Double],
      seed: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "interleave weights must be non-empty and positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = weights.toSeq.sortBy(_._1).toDF(domainCol, "__w")
    hashRank(df.join(broadcast(wdf), Seq(domainCol)), domainCol, idCol, seed)
      .withColumn("order_key",
        (col("__rn").cast("double") - lit(0.5)) / col("__w"))
      .select((df.columns.map(col) :+ col("order_key")): _*)
  }

  /** Weighted sampling WITHOUT replacement, k winners
    * (Efraimidis–Spirakis A-ES): each row's selection key is
    * ln(u)/w for a seeded content-hash uniform u — ordering by the
    * key descending is equivalent to ordering by u^(1/w), under which
    * the top-k are a weighted sample without replacement with
    * inclusion odds proportional to w. Deterministic, single-pass,
    * and merge-compatible: the top-k of a union is the top-k of the
    * per-batch top-ks, so incremental corpora fold in for free.
    *
    * Shape: one scan + a global top-k (TakeOrdered — per-partition
    * heaps then a k-row driver merge; no full sort). Weights must be
    * strictly positive. Output: the k winners' (idCol, weightCol,
    * sample_key), key rounded at 9 for cross-engine display.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      k: Int,
      seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (TextFunctions.md5Hash60(
      concat(col(idCol).cast("string"), lit(":" + seed)))
      .cast("double") + 0.5) / lit(1.152921504606846976e18)
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__key", log(u) / col(weightCol).cast("double"))
      .orderBy(col("__key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col(weightCol),
        round(col("__key"), 9).as("sample_key"))
  }

  /** Neyman-allocation stratified sampling: split a fixed `budget` of
    * sample rows across strata proportionally to N_h·S_h (stratum size
    * × stratum std-dev) — the variance-optimal allocation for
    * estimating the population mean (Neyman 1934), and the right way
    * to downsample a skewed corpus for eval: quiet strata give up rows
    * to volatile ones. Allocation a_h = floor(budget·w_h/Σw) capped at
    * n_h; membership is the deterministic md5-rank top-a_h per stratum,
    * so reruns and engines agree row-for-row.
    *
    * Shape: one hash aggregate for the per-stratum moments (exact
    * decimal sum/sum-of-squares), a broadcast of the O(|strata|)
    * allocation table, one per-stratum ranked window for membership —
    * the window is partitioned by stratum, so no global sort exists.
    * Σw folds per-stratum doubles rounded at 12 into a decimal sum
    * (order-independent).
    *
    * Output per stratum: (stratum, n, sd, alloc, sample_mean) — the
    * achieved sample's mean is the audit that membership matched.
    */
  def neymanSample(
      df: DataFrame, stratumCol: String, valueCol: String, idCol: String,
      budget: Int): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val base = df.where(col(valueCol).isNotNull)
    val moments = base.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(28,6)")).as("__s"),
        sum((col(valueCol) * col(valueCol)).cast("decimal(28,6)")).as("__q"))
    val sd = sqrt(greatest(
      (col("__q").cast("double")
        - col("__s").cast("double") * col("__s").cast("double")
          / col("__n").cast("double")) / col("__n").cast("double"),
      lit(0.0)))
    val weighted = moments
      .withColumn("__sd", round(sd, 12))
      .withColumn("__w", round(col("__n").cast("double") * col("__sd"), 12))
    val totW = weighted.agg(
      sum(col("__w").cast("decimal(38,12)")).cast("double").as("__tw"))
    val alloc = weighted.crossJoin(broadcast(totW))
      .withColumn("alloc",
        least(col("__n"),
          floor(lit(budget.toDouble) * col("__w") / col("__tw"))
            .cast("long")))
    val w = Window.partitionBy(col(stratumCol)).orderBy(
      TextFunctions.md5Hash60(concat_ws(":", col(stratumCol), col(idCol))),
      col(idCol))
    val sampled = base
      .join(broadcast(alloc.select(col(stratumCol), col("alloc"))),
        Seq(stratumCol))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= col("alloc"))
      .groupBy(col(stratumCol))
      .agg(sum(col(valueCol).cast("decimal(28,6)")).as("__ss"),
        count(lit(1)).as("__sn"))
    alloc.join(sampled, Seq(stratumCol), "left")
      .select(col(stratumCol), col("__n").as("n"),
        round(col("__sd"), 10).as("sd"), col("alloc"),
        round(col("__ss").cast("double") / col("__sn").cast("double"), 10)
          .as("sample_mean"))
  }

  /** Effective sample size of an importance-weighting scheme, per
    * group: ESS = (Σw)²/Σw² (Kish 1965) plus its ratio to n — the
    * number that says whether a DSIR/temperature reweighting is
    * actually usable (ESS/n ≪ 1 means a few documents carry the whole
    * corpus and the resample will be noise). One hash aggregate;
    * weight moments accumulate as floor-snapped decimals, the ratio is
    * one double expression.
    */
  def effectiveSampleSize(
      df: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    // 6-dp weight snapping, not 12: w and w^2 at real weight scales
    // (document lengths ~1e3-1e4) must keep the decimal sums' unscaled
    // integers under 2^53 or the cast to double double-rounds
    // differently across engines (the huberOlsByGroup rule)
    def snap6(c: Column): Column = floor(c * lit(1e6)) / lit(1e6)
    def snap12(c: Column): Column = floor(c * lit(1e12)) / lit(1e12)
    df.where(col(weightCol).isNotNull && col(weightCol) >= 0)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(snap6(col(weightCol)).cast("decimal(38,6)")).cast("double")
          .as("__s"),
        sum(snap6(col(weightCol) * col(weightCol)).cast("decimal(38,6)"))
          .cast("double").as("__q"))
      .select(col(groupCol), col("n"),
        snap12(col("__s") * col("__s") / col("__q")).as("ess"),
        snap12(col("__s") * col("__s") / col("__q")
          / col("n").cast("double")).as("ess_ratio"))
  }

  /** Mixture audit: per-domain retained counts (the size contract). */
  def mixtureSummary(
      df: DataFrame,
      domainCol: String,
      weights: Map[String, Double],
      idCol: String,
      seed: Long): DataFrame =
    sampleMixture(df, domainCol, weights, idCol, seed)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("n_sampled"))
      .orderBy(col(domainCol))

  /** word2vec-style negative-sampling table: the top-`vocabSize` tokens
    * weighted by count^0.75 (the unigram-to-the-3/4 distribution that
    * flattens head tokens just enough — Mikolov et al. 2013 §2.2),
    * with the cumulative [lo, hi) interval each token owns on [0, 1).
    *
    * Exactness across engines: x^0.75 is computed as
    * sqrt(x * sqrt(x)) — two IEEE-exact square roots and one multiply —
    * NOT pow(x, 0.75), whose last-ulp rounding is libm-specific; with
    * the cumulative sum taken in a fixed order (count desc, token) the
    * interval bounds are bit-identical in any IEEE engine, so a
    * sampling audit can compare interval membership exactly.
    *
    * Output: token, uc, weight, cum_lo, cum_hi, ordered by the same
    * (uc desc, token) key that defined the cumsum.
    */
  def negativeSamplingTable(
      df: DataFrame,
      textCol: String,
      vocabSize: Int = 500): DataFrame = {
    val counts = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("uc"))
    val top = counts
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("uc").desc, col("token"))))
      .filter(col("__rk") <= vocabSize)
    val pw = col("uc").cast("double") * sqrt(col("uc").cast("double"))
    val weighted = top.withColumn("__w", sqrt(pw))
    val tot = broadcast(weighted.agg(sum(col("__w")
      .cast("decimal(30,12)")).cast("double").as("__tot")))
    // the single-partition window is over <= vocabSize rows by
    // construction — a bounded model table, not a data-sized relation
    val w = Window.orderBy(col("uc").desc, col("token"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    weighted.crossJoin(tot)
      .withColumn("__wd", col("__w").cast("decimal(30,12)"))
      // the window sum widens to DECIMAL(38,12); cast back down BEFORE
      // subtracting — (38,12)-(30,12) needs precision 39 and Spark's
      // precision-loss rule would shave the scale to 11, un-tiling the
      // intervals. (30,12) keeps 18 integer digits, ample for any sum
      // of 32-bit-count^0.75 weights.
      .withColumn("__cum", sum(col("__wd")).over(w).cast("decimal(30,12)"))
      .select(col("token"), col("uc"),
        (col("__w") / col("__tot")).as("weight"),
        // decimal subtraction is exact, so row k's cum_lo equals row
        // k-1's cum_hi bit-for-bit: the intervals tile [0, 1) gapless
        ((col("__cum") - col("__wd")).cast("double") / col("__tot"))
          .as("cum_lo"),
        (col("__cum").cast("double") / col("__tot")).as("cum_hi"))
      .orderBy(col("uc").desc, col("token"))
  }

  /** Audit of [[negativeSamplingTable]]: `nDraws` deterministic
    * md5-derived uniforms u_i = hash60(seed || i) / 2^60 land in the
    * token intervals by containment; per token the audit reports the
    * expected draw count (nDraws * weight) beside the actual. The
    * vocab table is broadcast — draws stream through a map-side
    * interval lookup, never a shuffle keyed on the (Zipf-skewed!)
    * token.
    */
  def negativeSamplingAudit(
      table: DataFrame,
      nDraws: Int,
      seed: Long): DataFrame = {
    require(nDraws > 0, s"nDraws must be positive, got $nDraws")
    val spark = table.sparkSession
    val draws = spark.range(1, nDraws + 1L).toDF("i")
      .select((TextFunctions.md5Hash60(
        concat(lit(seed.toString), lit("_"), col("i"))).cast("double") /
        lit(1152921504606846976.0 /* 2^60 */)).as("u"))
    val hits = draws.join(broadcast(table),
      col("u") >= col("cum_lo") && col("u") < col("cum_hi"))
      .groupBy(col("token")).agg(count(lit(1)).as("actual"))
    table.join(hits, Seq("token"), "left")
      .select(col("token"), col("uc"), col("weight"),
        (lit(nDraws.toDouble) * col("weight")).as("expected"),
        coalesce(col("actual"), lit(0L)).as("actual"))
  }

  /** Water-filling budget allocation across sources: give every source
    * an equal share of the token budget, capped at what it can supply;
    * whatever the small sources cannot absorb redistributes evenly over
    * the rest — the max-min fair mixture when per-source weights are
    * not prescribed (the allocation that [[sampleByTokenBudget]] then
    * executes per source). Solved in CLOSED FORM, not by iteration:
    * sorted ascending by supply, source i saturates iff
    * s_i · (n − i + 1) ≤ B − prefix(i−1) (all integer arithmetic), and
    * the water level L = (B − Σ saturated) / (n − #saturated) — one
    * window pass over the source table, which is vocabulary-sized by
    * construction (the single-partition window is over n_sources rows,
    * never data rows).
    *
    * Returns (key, supply, allocation, saturated); allocations sum to
    * min(B, Σ supply) exactly up to the one double division.
    */
  def waterfillAllocation(
      supply: DataFrame,
      keyCol: String,
      supplyCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val s = supply
      .select(col(keyCol).as("__k"), col(supplyCol).cast("long").as("__s"))
      .where(col("__s") > 0)
    val w = Window.orderBy(col("__s"), col("__k"))
    val totals = broadcast(s.agg(count(lit(1)).as("__n"),
      sum(col("__s")).as("__tot")))
    val marked = s
      .withColumn("__i", row_number().over(w))
      .withColumn("__p", sum(col("__s")).over(w)) // prefix incl current
      .crossJoin(totals)
      .withColumn("__sat",
        (col("__p") - col("__s"))
          + col("__s") * (col("__n") - col("__i") + 1) <= budget)
    val solved = broadcast(marked.agg(
      sum(when(col("__sat"), 1L).otherwise(0L)).as("__kk"),
      coalesce(sum(when(col("__sat"), col("__s"))), lit(0L)).as("__ps")))
    marked.crossJoin(solved)
      .select(col("__k").as(keyCol), col("__s").as("supply"),
        when(col("__sat"), col("__s").cast("double"))
          .otherwise(round(
            (lit(budget) - col("__ps")).cast("double")
              / (col("__n") - col("__kk")).cast("double"), 12))
          .as("allocation"),
        col("__sat").as("saturated"))
  }

  /** One DoReMi-style multiplicative-weights round (Xie et al. 2023,
    * "DoReMi: Optimizing Data Mixtures Speeds Up Language Model
    * Pretraining", the Group-DRO update): from uniform domain weights,
    * w_d ∝ exp(η · excess_d) where excess_d is the clamped per-domain
    * excess loss (proxy-vs-reference), then smooth toward uniform:
    * w = (1−s)·softmax + s/K. The re-weighting step a mixture designer
    * runs between proxy trainings — domains where the proxy lags the
    * reference most get upweighted.
    *
    * Cross-engine parity: exp snaps at 12 dp (round absorbs libm ulp
    * tails, the ln/exp precedent), the normalizer accumulates the
    * snapped terms in decimal, and the final weights floor-snap at
    * 9 dp (tie-free).
    *
    * @param domainStats one row per domain with the excess-loss column
    *                    (clamped at 0 internally; NULL excess → 0)
    * @return per domain: domain, excess, w_doremi (sums to ~1)
    */
  def doremiRound(
      domainStats: DataFrame, domainCol: String, excessCol: String,
      eta: Double = 0.1, smoothing: Double = 0.1): DataFrame = {
    require(eta > 0, s"eta must be > 0, got $eta")
    require(smoothing >= 0 && smoothing < 1,
      s"smoothing must be in [0,1), got $smoothing")
    val base = domainStats.select(col(domainCol).as("domain"),
      greatest(coalesce(col(excessCol).cast("double"), lit(0.0)),
        lit(0.0)).as("excess"))
    val raw = base.withColumn("__r",
      round(exp(lit(eta) * col("excess")), 12))
    val z = raw.agg(
      sum(col("__r").cast("decimal(38,12)")).as("__z"), // exact
      count(lit(1)).as("__k"))
    raw.crossJoin(broadcast(z))
      .select(col("domain"), col("excess"),
        (floor((lit(1.0 - smoothing) * col("__r")
          / col("__z").cast("double")
          + lit(smoothing) / col("__k").cast("double")) * lit(1e9))
          / lit(1e9)).as("w_doremi"))
  }

  /** Data-constrained epochs planner — the per-domain "how many
    * epochs, and what are the repeats worth" table a budget-limited
    * pretraining run reads before committing compute (Muennighoff et
    * al. 2023, "Scaling Data-Constrained Language Models",
    * arXiv:2305.16264): a domain allocated more tokens than it
    * uniquely has must REPEAT, and repeated epochs decay in value —
    * the paper's fit gives effective data
    *
    *   D' = U + U · R* · (1 − e^(−R/R*))
    *
    * for R repeat epochs beyond the first over U unique tokens
    * (R* ≈ 15.4: ~15 epochs' worth is the asymptotic ceiling of
    * infinite repetition). An allocation at or under U is all fresh
    * (effective = allocated); `utilization` = effective/allocated is
    * the fraction of the domain's compute that buys new information —
    * the signal that says "stop upsampling this source, crawl more
    * instead".
    *
    * The budget is `budgetMultiple` × the total unique supply of the
    * PLANNED domains, split by `weights` (empty map = uniform over
    * observed domains; with a non-empty map, corpus domains absent
    * from it are EXCLUDED from the plan — the [[sampleMixture]] /
    * [[interleaveByWeight]] convention) — fully in-plan, so the plan
    * scales with the corpus. Two in-plan fail-fasts: a planned domain
    * with ZERO unique tokens raises (its epochs/effective_tokens
    * would be Infinity/NaN), and every `weights` key must appear as a
    * corpus domain (a typo'd key would silently shift the
    * normalization). Shape: one tokenize + one hash aggregate to domain grain
    * (cut once — three consumers), broadcast 1-row totals, pure
    * closed-form columns after. Cross-engine exactness: token counts
    * and supply sums are exact longs; the lone transcendental
    * (`exp`) floor-snaps at 12 dp (tie-free) before entering the
    * effective-tokens expression; outputs floor-snap at 6 dp.
    *
    * @return per planned domain: domain, n_docs, unique_tokens,
    *         alloc_tokens, epochs (alloc/U), effective_tokens,
    *         utilization
    */
  def dataConstrainedPlan(
      df: DataFrame,
      domainCol: String,
      textCol: String,
      budgetMultiple: Double,
      weights: Map[String, Double] = Map.empty,
      rdStar: Double = 15.4): DataFrame = {
    require(budgetMultiple > 0,
      s"budgetMultiple must be > 0, got $budgetMultiple")
    require(rdStar > 0, s"rdStar must be > 0, got $rdStar")
    require(weights.values.forall(_ > 0), "weights must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    def snap(c: Column, s: Double): Column = floor(c * lit(s)) / lit(s)
    val perDomain0 = df.select(col(domainCol).as("domain"),
      size(TextFunctions.tokens(col(textCol))).cast("long").as("__nt"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__nt")).as("__u"))
    val weighted =
      if (weights.isEmpty) perDomain0.withColumn("__w", lit(1.0))
      else perDomain0.join(
        broadcast(weights.toSeq.sortBy(_._1).toDF("domain", "__w")),
        Seq("domain"))
    // fail fast in-plan on a zero-unique-token domain: its epochs and
    // effective_tokens would be Infinity/NaN, poisoning the plan with
    // no signal (a planned domain with no tokens is a data bug)
    val guarded = weighted.withColumn("__u",
      when(col("__u").isNull || col("__u") === 0, raise_error(concat(
        lit("dataConstrainedPlan: domain '"), col("domain"),
        lit("' has zero unique tokens — cannot plan epochs over it"))))
        .otherwise(col("__u")))
    // domain-grain but read by the totals broadcast AND the output —
    // cut so the corpus tokenize runs once
    val perDomain = graft.Materialize.cut(guarded)
    // the weights-coverage guard rides __z (which __alloc must read,
    // so it cannot be pruned): every weights key must name a corpus
    // domain — a typo'd key would otherwise silently vanish from the
    // normalization and shift every other domain's allocation
    val zRaw = sum(col("__w").cast("decimal(30,15)")).cast("double")
    val zGuarded =
      if (weights.isEmpty) zRaw
      else when(count(lit(1)) =!= weights.size, raise_error(concat(
        lit("dataConstrainedPlan: only "), count(lit(1)).cast("string"),
        lit(s" of ${weights.size} weight keys appear as corpus " +
          "domains — every weights key must be present"))))
        .otherwise(zRaw)
    val totals = broadcast(perDomain.agg(
      sum(col("__u")).cast("double").as("__tot"),
      zGuarded.as("__z")))
    val planned = perDomain.crossJoin(totals)
      .withColumn("__alloc",
        lit(budgetMultiple) * col("__tot") * (col("__w") / col("__z")))
      .withColumn("__epochs", col("__alloc") / col("__u").cast("double"))
      .withColumn("__r", greatest(col("__epochs") - lit(1.0), lit(0.0)))
      .withColumn("__decay", snap(exp(-col("__r") / lit(rdStar)), 1e12))
      .withColumn("__eff",
        when(col("__alloc") <= col("__u").cast("double"), col("__alloc"))
          .otherwise(col("__u").cast("double") * (lit(1.0)
            + lit(rdStar) * (lit(1.0) - col("__decay")))))
    planned.select(col("domain"), col("n_docs"),
      col("__u").as("unique_tokens"),
      snap(col("__alloc"), 1e6).as("alloc_tokens"),
      snap(col("__epochs"), 1e6).as("epochs"),
      snap(col("__eff"), 1e6).as("effective_tokens"),
      snap(col("__eff") / col("__alloc"), 1e6).as("utilization"))
  }
}

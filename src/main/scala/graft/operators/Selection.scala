package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Skew-safe exact per-key top-fraction selection — the adaptive
  * quality-cut every curated-corpus pipeline runs ("keep each source's
  * best 40% by quality score"), as a first-class operator.
  *
  * The naive form is one window per key (`row_number` over
  * `partitionBy(key).orderBy(score desc)`), which funnels each key's
  * ENTIRE partition through one task — a multi-terabyte single-task
  * sort for any large source at corpus scale (the same defect class
  * [[Split.stratified]] fixed for the per-class rank). The fix here is
  * the same [[GlobalRank.rowNumber]] two-level rank, with one twist:
  * the stratified split orders by a UNIFORM hash, so order-aligned
  * range buckets fall out of the hash's top bits for free — a quality
  * score has arbitrary skewed distribution, so the order-aligned
  * buckets come from per-key **approximate quantile boundaries**
  * instead.
  *
  * Approximation NEVER touches the answer: boundaries only decide which
  * bucket a row sorts in (balance), while the per-(key, bucket) counts
  * that merge local ranks into the exact global rank are computed
  * exactly. A badly estimated boundary costs balance, not correctness.
  * The boundary table is materialized ([[Materialize.cut]]) before use:
  * both the bucket assignment and the offset aggregate must read the
  * SAME boundaries — an in-plan re-execution of `percentile_approx`
  * could legally return different estimates per branch.
  *
  * Residual skew: rows with literally identical (key, score) beyond a
  * bucket's worth sort in one task — irreducible for an exact rank, as
  * ties must be ordered by the tie-break within one sort.
  */
object Selection {

  /** The shared machinery: df plus `__rn` (exact 1-based global rank
    * within the key by score desc, tieBreak asc) and `__n` (key size) —
    * computed through the quantile-bucketed two-level rank described
    * above, never a whole-key window.
    */
  private def globalRankPerKey(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      tieBreak: Seq[String],
      buckets: Int): DataFrame = {
    require(tieBreak.nonEmpty,
      "tieBreak columns are required: without a total order the result " +
        "is nondeterministic across runs")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val score = col(scoreCol)
    val probs = (1 until buckets).map(i => i.toDouble / buckets)
    val bounds =
      if (buckets == 1)
        df.select(col(keyCol)).distinct()
          .withColumn("__bounds", typedLit(Seq.empty[Double]))
      else Materialize.cut(
        df.groupBy(col(keyCol))
          .agg(percentile_approx(score.cast("double"),
            array(probs.map(lit): _*), lit(10000)).as("__bounds")))
    // bucket id = #boundaries strictly above the score: 0 for the top
    // slice, monotone non-decreasing along (score desc) — equal scores
    // share a bucket by construction, so the per-bucket sort owns its
    // ties and local rank + earlier-bucket counts IS the global rank.
    // NULL scores sort LAST under (score desc) = desc_nulls_last, so
    // they get their own bucket beyond every boundary bucket — the
    // unguarded filter() would have dropped all elements on a null
    // comparison and put them in bucket 0, ranking missing scores ABOVE
    // every real one
    // null-safe key join (as in GlobalRank): a NULL key is a real group
    // (the naive window ranks it like any other partition) — a plain
    // equi-join would silently drop every null-key row even at frac = 1
    val bucketed = df
      .join(broadcast(bounds.withColumnRenamed(keyCol, "__bk")),
        col(keyCol) <=> col("__bk"))
      .withColumn("__b",
        when(score.isNull, lit(buckets))
          .otherwise(size(filter(col("__bounds"), b => b > score))))
      .drop("__bk", "__bounds")
    GlobalRank.rowNumber(bucketed, keys = Seq(col(keyCol)), bucket = Seq(col("__b")),
      order = score.desc +: tieBreak.map(c => col(c).asc))
  }

  /** Rows ranking in the top `ceil(frac · n_key)` of their key by
    * (`scoreCol` desc, `tieBreak` asc). Deterministic: the tie-break
    * must make the ordering total (an id column).
    */
  def topFracPerKey(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      frac: Double,
      tieBreak: Seq[String],
      buckets: Int = 64): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0,1], got $frac")
    globalRankPerKey(df, keyCol, scoreCol, tieBreak, buckets)
      .filter(col("__rn") <= ceil(col("__n") * lit(frac)))
      .select(df.columns.map(col): _*)
  }

  /** Skew-safe per-key rank features: the exact `rank` (1-based, score
    * desc) and `percent_rank` ((rank − 1) / (n − 1); 0.0 for a
    * single-row key, matching SQL) appended to every row — the
    * feature-engineering form of the same machinery ("how does this row
    * sit within its group's score distribution"). A plain
    * `percent_rank() OVER (PARTITION BY key ORDER BY score)` sorts each
    * whole key in one task; this never does.
    */
  def rankFeaturesPerKey(
      df: DataFrame,
      keyCol: String,
      scoreCol: String,
      tieBreak: Seq[String],
      buckets: Int = 64): DataFrame =
    globalRankPerKey(df, keyCol, scoreCol, tieBreak, buckets)
      .withColumn("rank", col("__rn"))
      .withColumn("percent_rank",
        when(col("__n") === 1, lit(0.0))
          .otherwise((col("__rn") - lit(1)).cast("double")
            / (col("__n") - lit(1)).cast("double")))
      .select((df.columns.map(col) :+ col("rank") :+ col("percent_rank")): _*)

  /** CCNet-style score bucketing with per-bucket Bernoulli sampling:
    * rank the WHOLE corpus by (`scoreCol` desc, idCol asc) through the
    * quantile-bucketed two-level rank (never a row-scale global
    * window), cut the ranking into `keepFracs.length` equal tiles
    * (ntile arithmetic from the exact rank: bucket of rank r is
    * `(r−1)·k div n + 1`, sizes differing by at most one), and keep
    * each tile at its own content-stable rate — the head/middle/tail
    * perplexity split CCNet popularized (keep the head, sample the
    * middle, drop the tail), generalized to any score and any number
    * of tiles. Sampling reuses [[Mixture.sampleByHash]]'s md5-derived
    * 60-bit threshold so membership is deterministic, content-stable,
    * and SQL-replayable; frac 1.0 keeps the whole tile, 0.0 drops it.
    * Output: df's columns + (bucket 1-based — bucket 1 is the HIGHEST
    * score, kept boolean).
    */
  def scoreBucketSample(
      df: DataFrame,
      idCol: String,
      scoreCol: String,
      keepFracs: Seq[Double],
      seed: Long,
      buckets: Int = 64): DataFrame = {
    require(keepFracs.nonEmpty, "keepFracs must be non-empty")
    require(keepFracs.forall(f => f >= 0.0 && f <= 1.0),
      s"keepFracs must be in [0,1], got $keepFracs")
    val k = keepFracs.length
    val ranked = globalRankPerKey(
      df.withColumn("__gk", lit(1)), "__gk", scoreCol, Seq(idCol), buckets)
    val idStr = coalesce(col(idCol).cast("string"), lit("\u0000graft_null"))
    val h = graft.functions.TextFunctions
      .md5Hash60(concat(idStr, lit(":"), lit(seed.toString)))
    val thresholds = array(keepFracs.map(f =>
      lit((f * (1L << 60).toDouble).toLong)): _*)
    ranked
      .withColumn("bucket",
        (expr(s"((__rn - 1) * $k) div __n") + 1L).cast("int"))
      .withColumn("kept", h < element_at(thresholds, col("bucket")))
      .select((df.columns.map(col) :+ col("bucket") :+ col("kept")): _*)
  }

  /** Length-bucketed training-batch assembly: band each row by
    * `floor(tokenCount / bucketWidth)`, rank within the band
    * (tokenCount desc, id asc) and cut consecutive ranks into batches
    * of `batchSize` — the standard padding-minimizing batching of a
    * training pipeline (a batch pads every sequence to its longest
    * member, so batching NEAR-EQUAL lengths together is what keeps the
    * padded-token waste low; random batching at a 2048-token max can
    * waste half the compute). Output: the input row plus `band` and
    * `batch_id` (0-based within the band). Deterministic — band, rank
    * and cut are pure functions of (tokenCount, id) — and the in-band
    * rank goes through the same quantile-bucketed two-level machinery
    * as [[topFracPerKey]], never a whole-band window: band counts are
    * corpus-sized at 100 TB (most docs land in a few bands), exactly
    * the skew a single-partition `row_number` dies on. A null
    * tokenCount rows into the null band and sorts last — batches of
    * unmeasured rows, not silently dropped.
    */
  def lengthBucketedBatches(
      df: DataFrame,
      idCol: String,
      tokenCountCol: String,
      bucketWidth: Int,
      batchSize: Int,
      buckets: Int = 64): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val banded = df.withColumn("__band",
      floor(col(tokenCountCol) / lit(bucketWidth)).cast("long"))
    globalRankPerKey(banded, "__band", tokenCountCol, Seq(idCol), buckets)
      .withColumn("batch_id",
        floor((col("__rn") - lit(1)) / lit(batchSize)).cast("long"))
      .select((df.columns.map(col) :+ col("__band").as("band")
        :+ col("batch_id")): _*)
  }

  /** Greedy k-center (farthest-point) coreset selection (Gonzalez
    * 1985) — the diversity sampler of active-learning and data-curation
    * pipelines: starting from an explicit seed, repeatedly add the
    * point FARTHEST (squared-L2) from the chosen set; the result's
    * covering radius is within 2x of the optimal k-center radius.
    * Deterministic end to end: distances accumulate in DECIMAL(30,18)
    * per dimension (order-independent, replays in any engine) and
    * argmax ties break to the lowest id.
    *
    * Scale shape: the corpus explodes once to (id, dim, x) and is
    * materialized; each of the FIXED k-1 rounds is {one broadcast join
    * of the single new center's dim rows + one hash aggregate + one
    * elementwise min against the running distance column} — only
    * (id, dist) scalars shuffle, never vectors, and the global argmax
    * is a sort-limit(1), not a collect. Rounds are a static stage
    * graph; [[graft.Materialize.cut]] bounds lineage per round.
    *
    * Returns (rank, center_id, dist_to_set): dist_to_set is the
    * max-min distance at selection time (rank 1 = the seed at 0), the
    * running coverage-radius curve a curation job thresholds on.
    */
  /** Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    * greedily pick `k` vectors maximizing
    * `lambda·rel(i) − (1−lambda)·max_{s∈S} cos(i, s)` — relevance here
    * is cosine to the corpus centroid, the "pick representative but
    * mutually diverse exemplars" primitive behind eval-set curation and
    * prompt-example selection. [[kCenterGreedy]] optimizes pure
    * coverage; MMR trades coverage against centrality with an explicit
    * dial.
    *
    * `lambda` must be exactly representable in binary (0.5, 0.75,
    * 0.25...) so `1 − lambda` is too — the score expression replays
    * bit-for-bit in any engine without a fuzz tolerance.
    *
    * Scale shape is [[kCenterGreedy]]'s: one materialized (id, dim, x)
    * explode; per fixed round, {broadcast of the single pick's dim
    * rows + one hash aggregate + an elementwise greatest against the
    * running max-sim column}; only (id, rel, maxsim) scalars shuffle;
    * the argmax is a sort-limit(1). Cosines use decimal-exact dot
    * products over exact per-id norms, rounded at 12 before every
    * comparison (the argmax-stability contract).
    *
    * Returns (rank, vec_id, mmr_score): the score at selection time,
    * monotone non-increasing, the knee of which sizes the exemplar set.
    */
  def mmrSelect(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lambda: Double = 0.75): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda out of [0,1]: $lambda")
    require(lambda * 4 == math.rint(lambda * 4),
      s"lambda must be a multiple of 0.25 so 1-lambda is exact: $lambda")
    // In-row round kernel (round 14): vectors stay packed as arrays and
    // each round's max-sim update is one codegen'd ExactDotExpr per row
    // against the broadcast pick — the previous form re-aggregated the
    // exploded (id, dim, x) table through a decimal HashAggregate every
    // round (the k-means round-13 defect class). Same quantization
    // (per-product DECIMAL(38,18) HALF_UP, exact sum) so every cosine
    // is bit-identical; the centroid still comes from one exploded
    // aggregation, then travels as a broadcast array.
    val vecs = Materialize.cut(
      df.select(col(idCol).cast("long").as("__id"),
        col(vecCol).as("__vec"))
        .withColumn("__n", sqrt(graft.functions.Native.exactDot(
          col("__vec"), col("__vec")))))
    val cnt = df.select(count(lit(1)).as("__cnt"))
    val cent = vecs.select(posexplode(col("__vec")))
      .select(col("pos").as("__d"), col("col").cast("double").as("__x"))
      .groupBy(col("__d"))
      .agg(sum(col("__x").cast("decimal(38,18)")).as("__s"))
      .crossJoin(broadcast(cnt))
      .select(col("__d"), (col("__s").cast("double") / col("__cnt")).as("__c"))
    val centArr = cent
      .agg(sort_array(collect_list(struct(col("__d"), col("__c")))).as("__p"))
      .select(transform(col("__p"), p => p("__c")).as("__cent"))
      .select(col("__cent"),
        sqrt(graft.functions.Native.exactDot(col("__cent"), col("__cent")))
          .as("__cn"))
    val rel = vecs.crossJoin(broadcast(centArr))
      .select(col("__id"), col("__vec"), col("__n"),
        round(graft.functions.Native.exactDot(col("__vec"), col("__cent"))
          / (col("__n") * col("__cn")), 12).as("__rel"))
    var state = Materialize.cut(rel.withColumn("__ms", lit(0.0)))
    var picks: DataFrame = null
    for (r <- 1 to k) {
      val pick = Materialize.cut(state
        .select(col("__id"),
          round(lit(lambda) * col("__rel")
            - lit(1.0 - lambda) * col("__ms"), 12).as("__sc"))
        .orderBy(col("__sc").desc, col("__id")).limit(1))
      val tagged = pick.select(lit(r.toLong).as("rank"),
        col("__id").as("vec_id"), col("__sc").as("mmr_score"))
      picks = if (picks == null) tagged else picks.unionByName(tagged)
      if (r < k) {
        val pickId = pick.select(col("__id"))
        val pv = broadcast(state.join(broadcast(pickId), Seq("__id"))
          .select(col("__vec").as("__pv"), col("__n").as("__pn")))
        state = Materialize.cut(state
          .join(broadcast(pickId.select(col("__id").as("__pid"))),
            col("__id") === col("__pid"), "left_anti")
          .crossJoin(pv)
          .select(col("__id"), col("__vec"), col("__n"), col("__rel"),
            greatest(col("__ms"),
              round(graft.functions.Native.exactDot(col("__vec"), col("__pv"))
                / (col("__n") * col("__pn")), 12)).as("__ms")))
      }
    }
    picks
  }

  def kCenterGreedy(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      seedId: Long,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    // In-row round kernel (round 14): vectors stay packed and each
    // round's distance pass is one codegen'd ExactL2DistExpr per row
    // against the broadcast new center — the previous form re-exploded
    // and re-aggregated (id, dim, x) through a decimal HashAggregate
    // every round (the k-means round-13 defect class). Same per-term
    // 18-dp HALF_UP quantization and exact decimal sum, so every
    // distance (and hence every argmax pick) is value-identical.
    val vecs = Materialize.cut(
      df.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec")))
    def distTo(centerId: DataFrame): DataFrame = {
      val cvec = broadcast(vecs
        .join(broadcast(centerId), Seq("__id"))
        .select(col("__vec").as("__cv")))
      vecs.crossJoin(cvec)
        .select(col("__id"),
          graft.functions.Native.exactL2(col("__vec"), col("__cv"))
            .as("__dist"))
    }
    val seed = Seq(seedId).toDF("__id")
    var mind = Materialize.cut(distTo(seed))
    var picks = seed.select(lit(1L).as("rank"), col("__id").as("center_id"),
      lit(0).cast("decimal(38,18)").as("__raw"))
    for (r <- 2L to k.toLong) {
      // one-row argmax, kept as a DataFrame — no driver collect
      val next = Materialize.cut(
        mind.orderBy(col("__dist").desc, col("__id")).limit(1))
      picks = picks.unionByName(next.select(lit(r).as("rank"),
        col("__id").as("center_id"), col("__dist").as("__raw")))
      mind = Materialize.cut(
        mind.select(col("__id"), col("__dist").as("__prev"))
          .join(distTo(next.select(col("__id"))), Seq("__id"))
          .select(col("__id"), least(col("__prev"), col("__dist")).as("__dist")))
    }
    picks.select(col("rank"), col("center_id"),
      round(col("__raw").cast("double"), 12).as("dist_to_set"))
  }
}

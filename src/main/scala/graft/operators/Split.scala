package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T1: stratified train/test split (reference `transform_data.py:121-123`,
  * sklearn `train_test_split(test_size, random_state, stratify=y)`).
  *
  * Exact per-class fractions, deterministic under seed: rank rows within
  * each class by a seeded content hash of the caller-supplied tie-break
  * columns (`xxhash64(tieBreak..., seed)`), send the first
  * `ceil(n * testFrac)` to test — sklearn also sizes the test split with
  * ceil. The hash order is a pure function of row CONTENT, never of
  * partitioning: a recomputed lineage (executor loss, unpersisted
  * upstream, AQE re-plan) reproduces the identical membership, where a
  * `rand(seed)` order silently depends on partition layout and row
  * arrival order — on a real cluster that is a train/test-overlap bug
  * waiting for the first retried stage. When no tie-break columns are
  * given, ALL columns are hashed (full row content). Row-identical
  * parity with sklearn is impossible (different PRNG streams); parity is
  * distributional: disjoint, exhaustive, per-class sizes exact.
  *
  * Scale: the rank is [[GlobalRank.rowNumber]] so no partition ever
  * holds a whole class (the fraud workload is 2 classes, 90%/10% — a
  * per-class window would funnel ~90% of the data through ONE task's
  * sort). Its order-aligned bucket is the TOP 6 BITS of the ordering
  * hash (sign bit flipped so bucket id is monotone in the hash's signed
  * sort order): every row of bucket b precedes every row of bucket b+1
  * in the global hash order, so the two-level rank is byte-identical
  * membership to a single-window rank, computed across 64-way
  * parallelism per class.
  */
object Split {

  final case class SplitResult(train: DataFrame, test: DataFrame)

  private val SaltShift = 58 // top 6 bits: 64 salt buckets

  def stratified(
      df: DataFrame,
      labelCol: String,
      testFrac: Double,
      seed: Long,
      tieBreak: Seq[Column] = Nil): SplitResult = {
    // No caller tie-break: hash ALL columns. Every path now goes
    // through the two-level salted rank — the old rand() fallback ran a
    // whole-class single-partition window (one task sorting 90% of a
    // 100 TB table) AND its membership depended on partition layout.
    // Hashing full row content is deterministic, recomputation-stable,
    // and salts like any other tie-break; exact duplicate rows share a
    // rank order arbitrarily but per-class COUNTS stay exact either way.
    val tb = if (tieBreak.nonEmpty) tieBreak else df.columns.toSeq.map(col)
    val tagged = saltedRank(df, labelCol, seed, tb)
      .withColumn("__is_test", col("__rn") <= ceil(col("__n") * lit(testFrac)))
    SplitResult(
      train = tagged.filter(!col("__is_test")).select(df.columns.map(col): _*),
      test = tagged.filter(col("__is_test")).select(df.columns.map(col): _*))
  }

  /** The shared two-level salted per-class global rank: df plus
    * `__salt`, `__n` (class size) and `__rn` (exact 1-based rank in the
    * seeded content-hash order within the class). The label joins back
    * null-safely, so a NULL label is a real class here as it is to
    * `groupBy`. [[Balance.undersample]] ranks through the same order.
    */
  private[operators] def saltedRank(
      df: DataFrame, labelCol: String, seed: Long,
      tb: Seq[Column]): DataFrame = {
    val hash = xxhash64(tb :+ lit(seed): _*)
    // signed order ⟺ unsigned order of (hash ^ Long.MinValue); top 6
    // bits of that are an order-aligned range bucketing: bucket id is
    // monotone non-decreasing along the (hash, tb...) sort, and hash
    // ties (which compare by tb next) share a bucket by construction
    val salt = shiftrightunsigned(hash.bitwiseXOR(lit(Long.MinValue)), SaltShift)
    GlobalRank.rowNumber(df.withColumn("__salt", salt),
      keys = Seq(col(labelCol)), bucket = Seq(col("__salt")), order = hash +: tb)
  }

  /** Stratified k-fold assignment (sklearn `StratifiedKFold` semantics
    * at the membership level): every row gets a `fold` in [0, k) via
    * `(rank − 1) mod k` of the same seeded content-hash rank the
    * train/test split uses, so per-class fold sizes are exactly
    * balanced (differ by at most one) and membership is deterministic
    * under the seed and recomputation-stable — same two-level salted
    * rank, no whole-class window. Fold f's validation set is
    * `fold === f`; its training set is everything else.
    */
  def stratifiedKFold(
      df: DataFrame,
      labelCol: String,
      k: Int,
      seed: Long,
      tieBreak: Seq[Column]): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(tieBreak.nonEmpty,
      "stratifiedKFold needs content tie-break columns: fold membership " +
        "must be a function of row content, not partition layout")
    saltedRank(df, labelCol, seed, tieBreak)
      .withColumn("fold", pmod(col("__rn") - 1, lit(k.toLong)))
      .drop("__salt", "__n", "__rn")
  }

  /** Group-aware fold assignment (sklearn `GroupKFold`'s leakage
    * contract): every row of a GROUP lands in the same fold, so no
    * entity (a user's events, a domain's documents) straddles
    * train/validation — the split that prevents within-entity leakage
    * from inflating offline metrics. Fold is a pure function of the
    * group value and seed (`md5Hash60("<group>:<seed>") mod k`): no
    * rank, no shuffle — ONE narrow map, the cheapest possible split at
    * corpus scale, and an incremental batch folds identically without
    * seeing the corpus. Trade vs sklearn: hash-random fold SIZES
    * (sklearn balances greedily, which needs a global group-size sort
    * and is not recomputation-stable); at corpus group counts the
    * imbalance is negligible. Null groups hash through a sentinel into
    * one deterministic fold rather than being dropped.
    */
  def groupKFold(
      df: DataFrame, groupCol: String, k: Int, seed: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val g = coalesce(col(groupCol).cast("string"), lit(" graft_null"))
    df.withColumn("fold",
      pmod(graft.functions.TextFunctions.md5Hash60(
        concat(g, lit(":" + seed))), lit(k.toLong)))
  }

  /** Split-size audit: per-class train/test row counts. The counts (not
    * the membership) are fully determined by n and testFrac — oracle-able.
    */
  def summary(df: DataFrame, labelCol: String, testFrac: Double, seed: Long,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val SplitResult(train, test) = stratified(df, labelCol, testFrac, seed, tieBreak)
    val t = train.groupBy(col(labelCol)).agg(count(lit(1)).as("n_train"))
    val s = test.groupBy(col(labelCol)).agg(count(lit(1)).as("n_test"))
    // full outer + coalesce: a class whose train (or test) half is empty
    // must still appear with a zero count, not vanish from the audit
    t.join(s, Seq(labelCol), "full_outer")
      .select(col(labelCol),
        coalesce(col("n_train"), lit(0L)).as("n_train"),
        coalesce(col("n_test"), lit(0L)).as("n_test"))
      .orderBy(col(labelCol))
  }
}

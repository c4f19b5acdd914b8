package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** T2/T3: class rebalancing (reference `transform_data.py:103-111` —
  * imblearn `SMOTE(random_state=42)` / `RandomUnderSampler(random_state=42)`).
  *
  * Both strategies are first-class (the reference *intends* SMOTE but a
  * positional-arg bug routes `transform_data_for_ml` to the undersampler —
  * SURVEY.md preamble; here strategy is an explicit argument).
  *
  * Undersampling: exact without-replacement downsample of every class to
  * the minority size — keep each class's first `n_min` rows in the
  * seeded content-hash order of the tie-break columns that
  * [[Split.stratified]] ranks by (recompute-stable; see [[Split]] on why
  * `rand(seed)` order is a cluster hazard), through the same two-level
  * [[GlobalRank.rowNumber]], so no task ever sorts a whole class.
  *
  * SMOTE ([[Smote]]): minority kNN in feature space via LSH bucketing,
  * then seeded linear interpolation toward a sampled neighbor. No
  * driver-side loops; every stage is a DataFrame op.
  */
object Balance {

  /** T3: downsample every class to the global minority-class size.
    * Deterministic under seed; `tieBreak` columns must make the order
    * total (an id column).
    */
  def undersample(
      df: DataFrame,
      labelCol: String,
      seed: Long,
      tieBreak: Seq[Column]): DataFrame = {
    require(tieBreak.nonEmpty,
      "undersample needs content tie-break columns: membership must be a " +
        "function of row content, not partition layout")
    // driver read bounded by the class count: `counts` holds one row
    // per distinct label, and first() brings back its one-row minimum
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("__cnt"))
    val minCount = counts.agg(min(col("__cnt"))).first().getLong(0)
    Split.saltedRank(df, labelCol, seed, tieBreak)
      .filter(col("__rn") <= lit(minCount))
      .select(df.columns.map(col): _*)
  }

  /** Class counts — the audit the reference logs before/after resampling
    * (transform_data.py:105,110).
    */
  def classCounts(df: DataFrame, labelCol: String): DataFrame =
    df.groupBy(col(labelCol)).agg(count(lit(1)).as("count")).orderBy(col(labelCol))
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global rank and running sum without a whole-key sort — the
  * two-level decomposition every order-dependent sampler, split and
  * cumulative metric here shares.
  *
  * The naive form, `row_number() OVER (PARTITION BY keys ORDER BY …)`,
  * sorts each whole key (or, with no keys, the whole table) in ONE
  * task: the fraud table's majority class, a corpus's dominant domain,
  * every distinct score. Here the caller supplies `bucket` columns that
  * split each key into ranges of the order, and the rank is
  * `row_number within (keys, bucket) + rows of the key in earlier
  * buckets`. The per-bucket offsets come from a window over the tiny
  * (keys × buckets)-row count aggregate — the only unpartitioned or
  * whole-key window, and it never sees a data row — joined back with
  * `broadcast`, so the data-sized window runs at (keys × buckets)-way
  * parallelism and there is no driver collect.
  *
  * The result is the exact rank in `(bucket asc, order…)` order within
  * `keys`. When the bucket is ORDER-ALIGNED (monotone non-decreasing
  * along `order`, ties sharing a bucket) that is the rank in `order`
  * itself — byte-identical to the naive window. Callers choose the
  * bucketing: top bits of a uniform hash ([[Split]], [[Mixture]],
  * [[Curriculum]]), approximate quantile boundaries ([[Selection]],
  * [[Evaluation]]), fixed-width id ranges ([[TextAnalysis]],
  * [[ScaleAudit]]); a bucket that is NOT order-aligned (a `pmod` hash
  * salt; no caller uses one today) simply defines a different, equally
  * deterministic total order. A bad bucketing costs balance, never
  * correctness.
  *
  * Keys and buckets join back null-safely: a NULL key is a real group
  * to `groupBy` and `Window`, and a plain equi-join would silently drop
  * every one of its rows.
  */
object GlobalRank {

  /** `df` plus `__rn` (exact 1-based rank in (`bucket` asc, `order`…)
    * order within `keys`) and `__n` (rows in the key). `keys` and
    * `bucket` should be plain column references: each is evaluated on
    * both the data and the aggregate side. An unread `__n` is pruned
    * from the plan.
    */
  def rowNumber(
      df: DataFrame,
      keys: Seq[Column],
      bucket: Seq[Column],
      order: Seq[Column]): DataFrame = {
    require(bucket.nonEmpty, "rowNumber needs at least one bucket column")
    val (k, b) = (aliases("__gk", keys), aliases("__gb", bucket))
    val offsets = perBucket(df, keys ++ bucket, k ++ b)
      .agg(count(lit(1)).as("__bn"))
      .select(k.map(col) ++ b.map(col) :+
        coalesce(sum(col("__bn")).over(offsetWindow(k, b)), lit(0L)).as("__off") :+
        sum(col("__bn")).over(Window.partitionBy(k.map(col): _*)).as("__n"): _*)
    joinOffsets(df, keys ++ bucket, k ++ b, offsets)
      .withColumn("__rn",
        row_number().over(Window.partitionBy(keys ++ bucket: _*).orderBy(order: _*))
          + col("__off"))
      .drop(k ++ b :+ "__off": _*)
  }

  /** `df` plus, for each `(value, out)` pair, `out` = the running sum of
    * `value` in (`bucket` asc, `order`…) order within `keys`: over the
    * rows up to and including this one when `inclusive`, else over the
    * rows strictly before it (0 for a key's first row). Sums keep the
    * value's own `sum` type.
    */
  def runningSum(
      df: DataFrame,
      keys: Seq[Column],
      bucket: Seq[Column],
      order: Seq[Column],
      values: Seq[(String, String)],
      inclusive: Boolean): DataFrame = {
    require(bucket.nonEmpty && values.nonEmpty,
      "runningSum needs at least one bucket and one value column")
    val (k, b) = (aliases("__gk", keys), aliases("__gb", bucket))
    val offs = aliases("__off", values)
    val sums = values.zip(offs).map { case ((v, _), o) => sum(col(v)).as(o) }
    val offsets = perBucket(df, keys ++ bucket, k ++ b)
      .agg(sums.head, sums.tail: _*)
      .select(k.map(col) ++ b.map(col) ++ offs.map(o =>
        coalesce(sum(col(o)).over(offsetWindow(k, b)), lit(0L)).as(o)): _*)
    val frame = Window.partitionBy(keys ++ bucket: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, if (inclusive) Window.currentRow else -1L)
    def within(v: String): Column =
      if (inclusive) sum(col(v)).over(frame)
      else coalesce(sum(col(v)).over(frame), lit(0L))
    joinOffsets(df, keys ++ bucket, k ++ b, offsets)
      .select(col("*") +: values.zip(offs).map { case ((v, out), o) =>
        (within(v) + col(o)).as(out) }: _*)
      .drop(k ++ b ++ offs: _*)
  }

  private def aliases(prefix: String, cols: Seq[_]): Seq[String] =
    cols.indices.map(i => s"$prefix$i")

  private def perBucket(df: DataFrame, cols: Seq[Column], names: Seq[String]) =
    df.groupBy(cols.zip(names).map { case (c, a) => c.as(a) }: _*)

  // rows of the same key in strictly earlier buckets — over the
  // aggregate, one row per (key, bucket)
  private def offsetWindow(k: Seq[String], b: Seq[String]) =
    Window.partitionBy(k.map(col): _*).orderBy(b.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)

  private def joinOffsets(
      df: DataFrame, cols: Seq[Column], names: Seq[String],
      offsets: DataFrame): DataFrame =
    df.join(broadcast(offsets),
      cols.zip(names).map { case (c, a) => c <=> col(a) }.reduce(_ && _))
}

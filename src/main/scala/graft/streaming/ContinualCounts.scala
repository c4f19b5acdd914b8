package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Sketches

/** Streaming heavy-hitter service on the Count-Min sketch: each
  * arriving micro-batch builds its own d x w pane
  * ([[Sketches.countMinBuild]]) and merges into the ACCUMULATED sketch
  * by cell-wise SUM — the linear-sketch property means the streamed
  * state after batch i EQUALS the one-shot batch sketch over
  * everything seen through batch i, bit for bit, so the serving path
  * needs no reconciliation pass. After each merge the fixed watchlist
  * is probed ([[Sketches.countMinEstimate]]) and the per-batch
  * estimates stream out.
  *
  * Scale shape: state is d*w cells total — CONSTANT in stream length
  * and item cardinality (the whole point of sketch-backed serving);
  * each trigger costs one pane build (hash aggregate over the batch)
  * plus a d*w-row merge, and state crosses triggers through
  * [[Materialize.cut]] (reliable `checkpoint()` on clusters). The
  * within-trigger probe join broadcasts both tiny sides.
  */
object ContinualCounts {

  /** One stepped batch: the watchlist estimates after this batch's
    * merge, and the merged sketch to carry forward.
    */
  def mergeAndProbe(
      sketch: DataFrame,
      batch: DataFrame,
      itemCol: String,
      watch: DataFrame,
      d: Int,
      w: Int): (DataFrame, DataFrame) = {
    val pane = Sketches.countMinBuild(batch, itemCol, d, w)
    val merged = Materialize.cut(
      sketch.unionByName(pane)
        .groupBy(col("row"), col("bucket"))
        .agg(sum(col("c")).as("c")))
    val est = Materialize.cut(
      Sketches.countMinEstimate(merged, watch, itemCol, d, w))
    (est, merged)
  }

  /** The [[Continual]] service: [[mergeAndProbe]] from an empty sketch. */
  def service(
      itemCol: String,
      watch: DataFrame,
      d: Int,
      w: Int): ContinualService[DataFrame] =
    ContinualService(emptySketch, (sketch, batch, batchId) => {
      val (est, merged) = mergeAndProbe(sketch, batch, itemCol, watch, d, w)
      (est.select(lit(batchId).as("batch_id"), col(itemCol),
        col("cms_est")), merged)
    })

  private def emptySketch(
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long)].toDF("row", "bucket", "c")
  }
}

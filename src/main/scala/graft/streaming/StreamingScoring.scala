package graft.streaming

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{RangeJoin, TimeFeatures}

/** Real-time scoring of the fraud feature pipeline (BASELINE
  * `spark_approach: "MLlib + Structured Streaming"`): the batch EP1
  * transform chain applied to a `readStream` of transactions.
  *
  * Composition rules the plan relies on:
  *   - geolocation is a STREAM-STATIC broadcast range join against a
  *     SNAPSHOT of the IP dimension: [[enrich]] materializes the ranges
  *     once, when the query is defined, and every micro-batch broadcasts
  *     that snapshot — no re-scan, re-dedup or re-parse of the source
  *     per trigger, no streaming state (the static side is a table, as
  *     in the Structured Streaming paper's stream-static join). The
  *     refresh contract follows: a changed IP map takes effect only when
  *     the query is restarted;
  *   - stateless features (hour/weekday/elapsed) are narrow maps;
  *   - the fitted `PipelineModel.transform` is also per-row stateless
  *     (indexers/encoders/scalers carry their statistics), so it
  *     composes with streaming DataFrames directly;
  *   - the stateful velocity feature comes from
  *     [[StreamingOps.velocityWithState]] upstream, or a sliding-window
  *     approximation via [[StreamingOps.slidingVelocity]].
  */
object StreamingScoring {

  /** Enrich a (possibly streaming) transaction frame with country +
    * temporal features — everything except the stateful velocity, which
    * has its own streaming operator.
    *
    * On a streaming `tx` the dimension is snapshotted here: `ipRanges`,
    * projected to the columns geolocation reads, is [[Materialize.cut]]
    * once (one eager job, so a bad IP source fails in this call, not at
    * the first trigger) and the stream joins the snapshot. A changed IP
    * map therefore means restarting the query. In local mode the
    * snapshot is executor blocks, which [[graft.SessionHygiene.reset]]
    * drops; with `spark.graft.reliableCheckpoint` it is a checkpoint
    * file. A static `tx` joins `ipRanges` as given: no cut, no job.
    */
  def enrich(
      tx: DataFrame,
      ipRanges: DataFrame,
      ipCol: String = "ip_address_int",
      purchaseTs: String = "purchase_time",
      signupTs: String = "signup_time"): DataFrame = {
    val dim =
      if (tx.isStreaming) Materialize.cut(ipRanges.select(
        "lower_bound_ip_address_int", "upper_bound_ip_address_int", "country"))
      else ipRanges
    val geo = RangeJoin.geolocate(tx, dim, ipCol = ipCol)
    geo
      .withColumn("hour_of_day", TimeFeatures.hourOfDay(col(purchaseTs)))
      .withColumn("day_of_week", TimeFeatures.dayOfWeekMon0(col(purchaseTs)))
      .withColumn("time_since_signup_seconds",
        TimeFeatures.secondsBetween(col(signupTs), col(purchaseTs)))
      .withColumn("time_since_signup_hours",
        TimeFeatures.hoursBetween(col(signupTs), col(purchaseTs)))
  }

  /** Score an enriched stream with a batch-fitted model. */
  def score(enriched: DataFrame, model: PipelineModel): DataFrame =
    model.transform(enriched)
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.TextAnalysis

/** Streaming sequence-packing service: documents arrive in
  * micro-batches and each batch's packing-manifest rows ship
  * immediately, with global token offsets continuing across batches —
  * the continual-ingest counterpart of [[graft.operators.TextAnalysis
  * .sequencePack]] exactly as [[ContinualDedup]] is to batch semantic
  * dedup. The streamed manifest after batch i row-equals the one-shot
  * pack over everything seen through batch i (append-only ids), so a
  * training run can consume sequences while the crawl is still
  * landing.
  *
  * Scale shape: cross-batch state is ONE row — (max id, total tokens),
  * the compressed manifest [[TextAnalysis.sequencePackAppend]]
  * aggregates anyway — so state is CONSTANT in stream length; each
  * trigger costs the batch's own two-level cumsum plus a broadcast of
  * that row. State crosses triggers through [[Materialize.cut]].
  */
object ContinualPacking {

  /** Empty compressed state: zero documents, zero tokens. */
  def emptyState(
      spark: org.apache.spark.sql.SparkSession, idCol: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF(idCol, "n_tokens")
  }

  /** Pack one batch against the running state: the batch's manifest
    * rows, and the state it leaves behind — again one (max id, total
    * tokens) row.
    */
  def step(
      state: DataFrame, batch: DataFrame, idCol: String,
      tokenCountCol: String, seqLen: Int): (DataFrame, DataFrame) = {
    val manifest = Materialize.cut(TextAnalysis.sequencePackAppend(
      state, batch, idCol, tokenCountCol, seqLen))
    val newState = Materialize.cut(
      state.select(col(idCol), col("n_tokens"))
        .unionByName(manifest.select(col(idCol), col("n_tokens")))
        .agg(max(col(idCol)).as(idCol), sum(col("n_tokens")).as("n_tokens")))
    (manifest, newState)
  }

  /** The [[Continual]] service: [[step]] from the empty state. */
  def service(
      idCol: String, tokenCountCol: String,
      seqLen: Int): ContinualService[DataFrame] =
    ContinualService(emptyState(_, idCol), (state, batch, batchId) => {
      val (manifest, next) = step(state, batch, idCol, tokenCountCol, seqLen)
      (manifest.select(lit(batchId).as("batch_id"), col("*")), next)
    })
}

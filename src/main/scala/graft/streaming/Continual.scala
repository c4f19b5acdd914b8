package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** A continual `foreachBatch` service: its starting state and its
  * per-batch step. `step` returns the batch's output — already carrying
  * `batch_id` in its final column order, so the replay and the stream
  * emit the same projection — and the state to carry into the next
  * batch. Steps are pure: they never mutate `state`, so a step can be
  * recomputed from the same state after a failed sink.
  */
final case class ContinualService[S](
    init: SparkSession => S,
    step: (S, DataFrame, Long) => (DataFrame, S))

/** The one fold behind every continual service (semantic / minhash /
  * simhash / winnow dedup, counts, packing, preference, ANN, frontier,
  * coverage, crawl): [[replay]] runs it over an ordered batch sequence
  * in batch mode — the deterministic contract the oracles re-derive —
  * and [[start]] runs the SAME step under `foreachBatch`, so the stream
  * emits exactly the replay's rows for the same batch split.
  *
  * Commit order (the Structured Streaming epoch rule): compute the
  * batch's output from the current state → hand it to `onBatch` → only
  * then advance the state and the last committed batch id. A sink that
  * throws therefore leaves the state untouched, and the engine's
  * re-delivery of that batch id recomputes and re-emits it; a batch id
  * at or below the last committed one (re-delivery after a SUCCESSFUL
  * sink) is skipped, because no step is idempotent — a second merge
  * double-counts a sketch or pair table, a second append makes a dedup
  * index self-match, a second pack advances offsets twice, a second
  * ANN fold double-weights every later re-centroid mean, and a second
  * frontier or coverage step re-emits rows that downstream sums count.
  *
  * Contract on the caller:
  *   - the sink must be idempotent on `batch_id`
  *     ([[StreamingSink.writeBatchIdempotent]]): a sink that wrote part
  *     of a batch before throwing sees that batch again;
  *   - state lives in this process. A restart rebuilds it from
  *     `init`, so a restartable deployment re-feeds the stream from its
  *     first batch (durable, checkpointed state is out of scope here).
  */
object Continual {

  private def fold[S](
      svc: ContinualService[S], batches: Seq[DataFrame]): (Seq[DataFrame], S) = {
    require(batches.nonEmpty, "Continual: need at least one batch")
    var state = svc.init(batches.head.sparkSession)
    val outs = batches.zipWithIndex.map { case (b, i) =>
      val (out, next) = svc.step(state, b, i.toLong)
      state = next
      out
    }
    (outs, state)
  }

  /** Deterministic batch-mode replay: every batch's output (batch ids
    * 0, 1, … in sequence order), unioned.
    */
  def replay[S](svc: ContinualService[S], batches: Seq[DataFrame]): DataFrame =
    fold(svc, batches)._1.reduce(_.unionByName(_))

  /** The state after replaying `batches` — the replay's other output
    * (e.g. the final ANN centroids to persist back).
    */
  def replayState[S](svc: ContinualService[S], batches: Seq[DataFrame]): S =
    fold(svc, batches)._2

  /** The stateful `foreachBatch` function [[start]] installs — exposed so
    * the re-delivery guard and the commit order are directly testable.
    * Until a batch commits, each delivery starts from a fresh `init`.
    */
  def batchStep[S](svc: ContinualService[S])(
      onBatch: DataFrame => Unit): (DataFrame, Long) => Unit = {
    var state: Option[S] = None
    var lastMerged = -1L
    (batch, batchId) =>
      if (batchId > lastMerged) {
        val (out, next) = svc.step(
          state.getOrElse(svc.init(batch.sparkSession)), batch, batchId)
        onBatch(out)
        state = Some(next)
        lastMerged = batchId
      }
  }

  def start[S](svc: ContinualService[S], incoming: DataFrame, queryName: String)(
      onBatch: DataFrame => Unit): StreamingQuery =
    incoming.writeStream
      .queryName(queryName)
      .foreachBatch(batchStep(svc)(onBatch))
      .start()
}

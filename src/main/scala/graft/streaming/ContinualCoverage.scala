package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Continual tokenizer-coverage audit: every arriving document batch
  * is measured against the FROZEN persisted WordPiece vocabulary
  * ([[graft.operators.TokenizerStore.loadWordpieceVocab]] →
  * [[TextAnalysis.wordpieceCoverage]]) — per-batch, per-group
  * occurrence-weighted OOV rate and fertility, the production
  * RE-TRAIN TRIGGER signal: a vocabulary trained on yesterday's
  * corpus drifts as new sources/snapshots arrive, and the first
  * operational question is "which arriving slice does the frozen
  * vocab serve badly, and since when". The batch twin is q443; this
  * is its `foreachBatch` deployment shape, completing the continual
  * family (minhash [[ContinualMinhash]], semantic [[ContinualDedup]],
  * ANN [[ContinualAnn]], frontier [[ContinualFrontier]]).
  *
  * Unlike the dedup streams there is NO accumulated state — the
  * vocabulary is deliberately frozen (that is what makes drift
  * measurable), so batches are independent and the only cross-trigger
  * concern is the at-least-once guard: a re-delivered batch id must
  * not re-emit its rows (downstream dashboards sum them).
  *
  * Scale shape per micro-batch: segmentation runs on the batch's
  * DISTINCT word table, the vocabulary join broadcasts, output is
  * group-cardinality — the stream's cost scales with arriving tokens
  * only, never with corpus history.
  */
object ContinualCoverage {

  /** The [[Continual]] service: stateless, one coverage frame per batch. */
  def service(
      vocab: DataFrame,
      textCol: String,
      groupCol: String): ContinualService[Unit] =
    ContinualService(_ => (), (_, batch, batchId) =>
      (TextAnalysis.wordpieceCoverage(batch, textCol, groupCol, vocab)
        .select(lit(batchId).as("batch_id"), col("group_key"),
          col("n_words"), col("n_unk"), col("oov_rate"),
          col("mean_pieces")), ()))
}

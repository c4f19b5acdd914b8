package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFunctions
import graft.operators.TextDedup

/** Continual-crawl SIMHASH near-dup detection: arriving document
  * batches probe the ACCUMULATED signature table
  * ([[TextDedup.simhashNearDupPairsAgainstIndex]]); non-duplicate
  * survivors' signatures fold in and become corpus for every later
  * batch — the third and last dedup family's `foreachBatch` twin
  * ([[ContinualMinhash]] = probabilistic set similarity,
  * [[ContinualWinnow]] = guaranteed shared-run detection, this =
  * Hamming distance over 60/64-bit fingerprints), completing the
  * batch / persisted / continual 3×3 for all three families. On a
  * real deployment the in-memory signature frame is the parquet index
  * ([[TextDedup.saveSimhashIndex]] /
  * [[TextDedup.appendToSimhashIndex]]) — same plan shape, state on
  * object storage, and the SMALLEST state of the three (8 bytes per
  * corpus document; banding is a free projection re-derived at probe
  * time).
  *
  * Scale shape per micro-batch: only the BATCH is signed (the corpus
  * never re-signs — the point of the index); candidates come from
  * band-key equality over the accumulated signatures, the verify is a
  * single xor/popcount per candidate pair, and the index grows by the
  * batch survivors' 8-byte rows. State crosses triggers through
  * [[Materialize.cut]].
  *
  * Batch ordering is the semantics (the [[ContinualMinhash]]
  * contract): a document is a duplicate iff the initial corpus or a
  * STRICTLY EARLIER batch's survivor sits within `maxHamming`;
  * within-batch duplicates are not collapsed, so the flow replays
  * deterministically given the batch split ([[Continual.replay]]).
  */
object ContinualSimhash {

  private def signatures(
      df: DataFrame, textCol: String, idCol: String,
      hashFn: Column => Column, bits: Int): DataFrame =
    TextDedup.simhashSignatures(df, textCol, idCol, hashFn, bits)
      .select(col(idCol).as("id"), col("sig"))

  /** One checked batch: incoming rows with verdicts (idCol, is_dup,
    * matched_id — the smallest matching corpus id, null when new),
    * plus the grown signature table (id, sig).
    */
  def checkAndAppend(
      index: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 8,
      hashFn: Column => Column = TextFunctions.md5Hash60,
      bits: Int = 60): (DataFrame, DataFrame) = {
    // sign-once discipline (round 14): the batch is tokenized and
    // signed EXACTLY ONCE into a materialized signature delta; the
    // probe reads it and the state grows by a lazy semi-join of the
    // SAME rows against the verdicts (constant lineage depth — both
    // inputs are checkpointed). The old flow signed the batch twice
    // per trigger (probe + survivor delta). coalesce(1): a micro-batch
    // delta is small by construction ([[ContinualDedup]]'s sizing
    // note).
    val batchSigs = Materialize.cut(
      signatures(batch, textCol, idCol, hashFn, bits).coalesce(1))
    val hits = TextDedup.simhashNearDupPairsAgainstIndexSigned(
      index, batchSigs, maxHamming, bits)
      .groupBy(col("id_b").as("__id"))
      .agg(min(col("id_a")).as("matched_id"))
    val checked = Materialize.cut(
      batch.select(col(idCol))
        .join(hits, col(idCol) === col("__id"), "left")
        .select(col(idCol), col("matched_id").isNotNull.as("is_dup"),
          col("matched_id")))
    val survIds = checked.filter(!col("is_dup"))
      .select(col(idCol).as("id"))
    (checked,
      index.unionByName(batchSigs.join(survIds, Seq("id"), "leftsemi")))
  }

  /** The [[Continual]] service: [[checkAndAppend]] from corpus0. */
  def service(
      corpus0: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 8,
      hashFn: Column => Column = TextFunctions.md5Hash60,
      bits: Int = 60): ContinualService[DataFrame] =
    ContinualService(
      _ => Materialize.cut(signatures(corpus0, textCol, idCol, hashFn, bits)),
      (ix, batch, batchId) => {
        val (checked, next) = checkAndAppend(ix, batch, textCol, idCol,
          maxHamming, hashFn, bits)
        (checked.select(col(idCol), lit(batchId).as("batch_id"),
          col("is_dup"), col("matched_id")), next)
      })
}

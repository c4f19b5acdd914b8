package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.TextDedup

/** Continual-crawl EXACT-RECALL overlap detection: arriving document
  * batches probe the ACCUMULATED winnowing fingerprint index
  * ([[TextDedup.winnowOverlapAgainstIndex]]); non-overlapping
  * survivors' fingerprint rows fold into the index and become corpus
  * for every later batch — the winnowing twin of [[ContinualMinhash]]
  * (probabilistic whole-document similarity there, guaranteed
  * shared-run detection here: any shared token run >= w + k - 1 with
  * anything already ingested fires). On a real deployment the
  * in-memory index frame is the parquet index
  * ([[TextDedup.saveWinnowIndex]] / [[TextDedup.appendToWinnowIndex]])
  * — same plan shape, state on object storage.
  *
  * Scale shape per micro-batch: only the BATCH is fingerprinted (the
  * corpus never re-fingerprints — the point of the index); the
  * boilerplate df-prune runs at probe time over the accumulated
  * posting lists, so it stays correct as the corpus grows (the
  * [[TextDedup.saveWinnowIndex]] argument); state crosses triggers
  * through [[Materialize.cut]].
  *
  * Batch ordering is the semantics ([[ContinualMinhash]]'s contract):
  * a document overlaps iff the initial corpus or a STRICTLY EARLIER
  * batch's survivor shares >= minShared pruned fingerprints;
  * within-batch overlaps are not collapsed, so the flow replays
  * deterministically given the batch split ([[Continual.replay]]).
  */
object ContinualWinnow {

  /** One checked batch: incoming rows with verdicts (idCol,
    * is_overlap, matched_id — the smallest overlapping corpus id,
    * null when new), plus the grown fingerprint index (id, pos, fp).
    */
  def checkAndAppend(
      index: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 3,
      maxDf: Int = 50): (DataFrame, DataFrame) = {
    // sign-once discipline (round 14): the batch is fingerprinted
    // EXACTLY ONCE into a materialized delta; the probe reads it and
    // the state grows by a lazy semi-join of the SAME rows against the
    // verdicts (constant lineage depth — both inputs are
    // checkpointed). The old flow fingerprinted the batch twice per
    // trigger (probe + survivor delta). coalesce(1): a micro-batch
    // delta is small by construction ([[ContinualDedup]]'s sizing
    // note).
    val batchFps = Materialize.cut(
      TextDedup.winnowFingerprints(batch, textCol, idCol, k, w)
        .select(col(idCol).as("id"), col("pos"), col("fp"))
        .coalesce(1))
    val hits = TextDedup.winnowOverlapAgainstIndexSigned(
      index, batchFps, minShared, maxDf)
      .groupBy(col("new_id").as("__id"))
      .agg(min(col("corpus_id")).as("matched_id"))
    val checked = Materialize.cut(
      batch.select(col(idCol))
        .join(hits, col(idCol) === col("__id"), "left")
        .select(col(idCol), col("matched_id").isNotNull.as("is_overlap"),
          col("matched_id")))
    val survIds = checked.filter(!col("is_overlap"))
      .select(col(idCol).as("id"))
    (checked,
      index.unionByName(batchFps.join(survIds, Seq("id"), "leftsemi")))
  }

  /** The [[Continual]] service: [[checkAndAppend]] from corpus0. */
  def service(
      corpus0: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 3,
      maxDf: Int = 50): ContinualService[DataFrame] =
    ContinualService(
      _ => Materialize.cut(
        TextDedup.winnowFingerprints(corpus0, textCol, idCol, k, w)
          .select(col(idCol).as("id"), col("pos"), col("fp"))),
      (ix, batch, batchId) => {
        val (checked, next) = checkAndAppend(ix, batch, textCol, idCol, k,
          w, minShared, maxDf)
        (checked.select(col(idCol), lit(batchId).as("batch_id"),
          col("is_overlap"), col("matched_id")), next)
      })
}

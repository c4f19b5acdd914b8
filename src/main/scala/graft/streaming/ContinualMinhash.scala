package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFunctions
import graft.operators.TextDedup
import graft.operators.TextDedup.MinhashIndex

/** Continual-crawl NEAR-DUP dedup over text: arriving document batches
  * probe the ACCUMULATED minhash-LSH index
  * ([[TextDedup.minhashNearDupPairsAgainstIndex]]); survivors' band
  * and shingle rows fold into the index and become corpus for every
  * later batch — the text twin of [[ContinualDedup]] (semantic /
  * embedding space), completing the continual family for the dedup
  * side. On a real deployment the in-memory index frames are the
  * parquet index ([[TextDedup.saveMinhashIndex]] /
  * [[TextDedup.appendToMinhashIndex]]) — same plan shape, the state
  * just lives on object storage instead of executor blocks.
  *
  * Scale shape per micro-batch: the batch alone is shingled and
  * signed (the corpus never re-signs — that is the entire point of
  * the index); candidates come from band-key collisions, the exact
  * Jaccard verify joins stored shingle rows of CANDIDATE ids only,
  * and the index grows by the batch's survivors. State crosses
  * triggers through [[Materialize.cut]], so lineage stays bounded for
  * arbitrarily long streams.
  *
  * Batch ordering is the semantics: a document is a duplicate iff
  * some document in the initial corpus OR a survivor of a STRICTLY
  * EARLIER batch matches it (jaccard >= threshold). Within-batch
  * duplicates are deliberately not collapsed — the
  * [[ContinualDedup]] contract — so the flow replays
  * deterministically given the batch split ([[Continual.replay]],
  * which the q441 oracle re-derives in SQL).
  */
object ContinualMinhash {

  /** One checked batch: incoming rows with verdicts
    * (idCol, is_dup, matched_id — the smallest matching corpus id,
    * null when new), plus the grown index to carry forward.
    *
    * Sign-once discipline (round 14): the batch is tokenized and
    * shingled EXACTLY ONCE — into the materialized shingle delta —
    * and everything else derives from it: the band delta is one hash
    * aggregate over those rows, the probe reads both materialized
    * tables ([[TextDedup.minhashNearDupPairsIndexToIndex]]), and the
    * state grows by semi-join filters of the SAME tables against the
    * verdicts. The old flow shingled the batch three times per
    * trigger (probe, band delta, shingle delta). Delta legs coalesce
    * to one partition before the cut: a micro-batch delta is small by
    * construction, and a union of per-core near-empty legs makes
    * every later probe pay dead task overhead ([[ContinualDedup]]'s
    * sizing note).
    */
  def checkAndAppend(
      index: MinhashIndex,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      hashFn: Column => Column = TextFunctions.md5Hash60)
      : (DataFrame, MinhashIndex) = {
    val batchShingles = Materialize.cut(
      TextDedup.shingleTable(batch, textCol, idCol, n)
        .select(col(idCol).as("id"), col("__s").as("shingle"))
        .coalesce(1))
    val batchBands = Materialize.cut(
      TextDedup.minhashBandsFromShingles(batchShingles, numHashes,
        bands, hashFn).coalesce(1))
    val hits = TextDedup.minhashNearDupPairsIndexToIndex(
      index, MinhashIndex(batchBands, batchShingles), threshold)
      .groupBy(col("id_b").as("__id"))
      .agg(min(col("id_a")).as("matched_id"))
    val checked = Materialize.cut(
      batch.select(col(idCol))
        .join(hits, col(idCol) === col("__id"), "left")
        .select(col(idCol), col("matched_id").isNotNull.as("is_dup"),
          col("matched_id")))
    val survIds = checked.filter(!col("is_dup"))
      .select(col(idCol).as("id"))
    // append-only state: the delta legs stay LAZY semi-joins of the
    // two materialized batch tables against the materialized verdicts
    // — lineage depth is constant (every input is checkpointed), and
    // a later probe's scan of the leg costs the same id-broadcast
    // filter whether or not it was re-materialized first.
    (checked, MinhashIndex(
      index.bands.unionByName(
        batchBands.join(survIds, Seq("id"), "leftsemi")),
      index.shingles.unionByName(
        batchShingles.join(survIds, Seq("id"), "leftsemi"))))
  }

  /** The [[Continual]] service: [[checkAndAppend]] from corpus0's index. */
  def service(
      corpus0: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      numHashes: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.8,
      hashFn: Column => Column = TextFunctions.md5Hash60)
      : ContinualService[MinhashIndex] =
    ContinualService(
      _ => {
        // seed with the same sign-once split as [[checkAndAppend]]: the
        // corpus is shingled once, the band table derives from the
        // materialized shingle rows
        val sh0 = Materialize.cut(
          TextDedup.shingleTable(corpus0, textCol, idCol, n)
            .select(col(idCol).as("id"), col("__s").as("shingle")))
        MinhashIndex(
          Materialize.cut(TextDedup.minhashBandsFromShingles(
            sh0, numHashes, bands, hashFn)),
          sh0)
      },
      (ix, batch, batchId) => {
        val (checked, next) = checkAndAppend(ix, batch, textCol, idCol, n,
          numHashes, bands, threshold, hashFn)
        (checked.select(col(idCol), lit(batchId).as("batch_id"),
          col("is_dup"), col("matched_id")), next)
      })
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Preference

/** Continual preference-rating service: pairwise A-vs-B verdicts
  * arrive as micro-batches (judge-model outputs, human labels), each
  * batch's oriented duel counts fold into the ACCUMULATED pair table
  * by sum, and fresh Bradley–Terry ratings
  * ([[Preference.bradleyTerryFromPairs]]) are emitted after every
  * merge — the leaderboard that updates as verdicts stream in.
  *
  * Pair counts are ADDITIVE, so the streamed state after batch i
  * EQUALS the one-shot pair aggregation over everything seen through
  * batch i, and the emitted ratings equal
  * [[Preference.bradleyTerry]] over the same prefix — the
  * batch/stream equivalence the spec pins (the [[ContinualCounts]]
  * linear-state discipline, applied to a preference model).
  *
  * Scale shape: cross-batch state is the ORIENTED PAIR TABLE —
  * item-pair cardinality, CONSTANT in stream length (items are
  * models/policies, few by construction); each trigger costs one
  * batch-sized hash aggregate, a pair-table merge, and the MM rounds
  * on the merged table (broadcast joins, `Materialize.cut` per
  * round). State crosses triggers through [[Materialize.cut]].
  */
object ContinualPreference {

  /** One stepped batch: merge the batch's oriented duel counts into
    * the accumulated pair table, re-rate; returns the ratings and the
    * merged table to carry forward.
    */
  def mergeAndRate(
      pairs: DataFrame,
      batch: DataFrame,
      winnerCol: String,
      loserCol: String,
      rounds: Int = 5): (DataFrame, DataFrame) = {
    val batchPairs = batch
      .select(col(winnerCol).as("a"), col(loserCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
    val merged = Materialize.cut(
      pairs.unionByName(batchPairs)
        .groupBy(col("a"), col("b")).agg(sum(col("n")).as("n")))
    val ratings = Materialize.cut(
      Preference.bradleyTerryFromPairs(merged, rounds))
    (ratings, merged)
  }

  /** The [[Continual]] service: [[mergeAndRate]]. The pair table is
    * `None` until the first batch, whose columns type it ([[emptyPairsLike]]).
    */
  def service(
      winnerCol: String,
      loserCol: String,
      rounds: Int = 5): ContinualService[Option[DataFrame]] =
    ContinualService(_ => None, (pairs, batch, batchId) => {
      val (ratings, merged) = mergeAndRate(
        pairs.getOrElse(emptyPairsLike(batch, winnerCol, loserCol)),
        batch, winnerCol, loserCol, rounds)
      (ratings.select(lit(batchId).as("batch_id"), col("item"),
        col("wins"), col("matches"), col("rating"), col("rank")),
        Some(merged))
    })

  /** Typed empty accumulator: the pair table's item type is DERIVED
    * from the incoming batch's winner/loser columns rather than
    * hardcoded string — a stream whose items are e.g. bigint model
    * ids previously got silently string-coerced (or failed under
    * ANSI) at the first `unionByName` in [[mergeAndRate]], changing
    * the emitted item type versus the one-shot
    * [[graft.operators.Preference.bradleyTerry]].
    */
  private def emptyPairsLike(
      batch: DataFrame, winnerCol: String, loserCol: String): DataFrame =
    batch.limit(0).select(col(winnerCol).as("a"),
      col(loserCol).as("b"), lit(0L).as("n"))
}

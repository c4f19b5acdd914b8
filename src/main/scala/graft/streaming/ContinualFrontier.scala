package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.UrlFunctions
import graft.operators.Crawl

/** Continual crawl frontier: arriving URL batches are deduplicated
  * against the accumulated SEEN set (by canonical URL —
  * [[UrlFunctions.canonicalizeUrl]], so `https://WWW.h.com:443/a` and
  * `https://h.com/a` collapse), gated through the robots rule table
  * ([[Crawl.robotsDecision]]), and the survivors are scheduled with
  * per-host politeness ranks that CONTINUE across batches — the
  * serving loop a fetcher actually runs, completing the crawl family
  * next to [[ContinualAnn]]/[[ContinualDedup]]/[[ContinualPacking]].
  *
  * Semantics: a URL is new iff its canonical form was seen neither in
  * the initial frontier history nor in any STRICTLY EARLIER batch nor
  * earlier (by id) within its own batch; only new+allowed URLs are
  * scheduled, and a host's rank sequence never restarts — batch k's
  * first URL on host h fetches after every host-h URL of batches
  * < k. Verdicts are emitted for EVERY incoming row (is_dup_url,
  * allow, nullable host_rank/fetch_offset_ms) so the drop reasons
  * stay auditable.
  *
  * Scale shape per micro-batch: one canonical projection
  * (batch-sized), one anti-join against the seen set (id+canonical
  * scalars only), one broadcast rule join, one per-host window over
  * the batch, and a broadcast join against the per-host counter table
  * (host-cardinality-sized). The seen set is the state that grows —
  * on a real deployment it is a bucketed table keyed by canonical
  * hash (or a rotating Bloom front-filter with the exact table behind
  * it); host counters are tiny.
  */
object ContinualFrontier {

  /** Cross-batch state: the seen canonical URLs and the per-host
    * counters of scheduled URLs.
    */
  final case class FrontierState(seen: DataFrame, hostCounts: DataFrame)

  def foldBatch(
      state: FrontierState,
      batch: DataFrame,
      idCol: String,
      urlCol: String,
      rules: DataFrame,
      delayMs: Long): (DataFrame, FrontierState) = {
    require(delayMs >= 0, s"delayMs must be >= 0, got $delayMs")
    val FrontierState(seen, hostCounts) = state
    // scheme-less URLs canonicalize to NULL (the q370 contract);
    // fall back to the raw string so they dedup as themselves instead
    // of all colliding on the null key
    val canon = batch.select(col(idCol), col(urlCol),
      coalesce(UrlFunctions.canonicalizeUrl(col(urlCol)), col(urlCol))
        .as("__canon"))
    // within-batch first occurrence by id, then the cross-batch set
    val wc = Window.partitionBy(col("__canon")).orderBy(col(idCol))
    val marked = canon
      .withColumn("__first", row_number().over(wc) === 1)
      .join(seen.select(col("__canon"), lit(true).as("__seen")),
        Seq("__canon"), "left")
      .withColumn("is_dup_url", !col("__first") || col("__seen").isNotNull)
    val dec = Crawl.robotsDecision(
      marked.filter(!col("is_dup_url")), idCol, urlCol, rules)
      .select(col(idCol), col("host"), col("allow"))
    val wh = Window.partitionBy(col("host")).orderBy(col(idCol))
    val sched = dec.filter(col("allow"))
      .join(broadcast(hostCounts), Seq("host"), "left")
      .withColumn("host_rank",
        (row_number().over(wh) + coalesce(col("__n"), lit(0L)))
          .cast("long"))
      .withColumn("fetch_offset_ms", (col("host_rank") - 1L) * delayMs)
      .select(col(idCol), col("host_rank"), col("fetch_offset_ms"))
    val verdicts = Materialize.cut(marked
      .join(dec.select(col(idCol), col("host"), col("allow")),
        Seq(idCol), "left")
      .join(sched, Seq(idCol), "left")
      .select(col(idCol), col(urlCol), col("is_dup_url"),
        col("host"), col("allow"), col("host_rank"),
        col("fetch_offset_ms")))
    // append-only state (round 14): cut only the batch's newly-seen
    // canon URLs — the old cut(seen.union(delta)) re-materialized the
    // whole accumulated URL set every trigger (O(seen) writes per
    // batch instead of O(batch)). Row-identical either way. hostCounts
    // below stays a re-aggregated merge: it is broadcast every batch,
    // so it must remain host-cardinality, which the groupBy guarantees.
    val newSeen = seen.select(col("__canon")).unionByName(
      Materialize.cut(marked.filter(col("__first") && col("__seen").isNull)
        .select(col("__canon"))))
    val newCounts = Materialize.cut(
      hostCounts.select(col("host"), col("__n"))
        .unionByName(verdicts.filter(col("host_rank").isNotNull)
          .groupBy(col("host")).agg(count(lit(1)).as("__n")))
        .groupBy(col("host")).agg(sum(col("__n")).as("__n")))
    (verdicts, FrontierState(newSeen, newCounts))
  }

  /** The [[Continual]] service: [[foldBatch]] from an empty history. */
  def service(
      idCol: String,
      urlCol: String,
      rules: DataFrame,
      delayMs: Long): ContinualService[FrontierState] =
    ContinualService(
      spark => FrontierState(
        spark.range(0).select(lit("").as("__canon")).filter(lit(false)),
        spark.range(0).select(lit("").as("host"), lit(0L).as("__n"))
          .filter(lit(false))),
      (state, batch, batchId) => {
        val (verdicts, next) = foldBatch(state, batch, idCol, urlCol,
          rules, delayMs)
        (verdicts.select(col(idCol), col(urlCol), lit(batchId).as("batch_id"),
          col("is_dup_url"), col("host"), col("allow"),
          col("host_rank"), col("fetch_offset_ms")), next)
      })
}

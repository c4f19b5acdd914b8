package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Multimodal, TextAnalysis}
import graft.operators.TextDedup.MinhashIndex
import graft.pipeline.WarcPipeline
import graft.pipeline.WarcPipeline.WarcPipelineConfig

/** The streaming twin of [[WarcPipeline]] — a composed continual
  * crawl service: batches of fetched WARC.gz archives arrive, and
  * each trigger runs the WHOLE chain —
  *
  *   extraction + quality/language gate
  *   ([[WarcPipeline.extractAndGate]], the SAME code path as the
  *   batch capstone) → near-dup probe against the ACCUMULATED minhash
  *   index ([[ContinualMinhash.checkAndAppend]]: survivors fold in
  *   and become corpus for every later batch) → token counts under
  *   the FROZEN WordPiece vocabulary → sequence packing with RUNNING
  *   global offsets ([[ContinualPacking.step]]'s 1-row state)
  *
  * — emitting one manifest row per gated document: its dedup verdict
  * and, for survivors, its packed placement. The batch capstone
  * proves the chain; production crawls land continuously — this is
  * the service a training run tails while the crawl is still
  * fetching.
  *
  * Scale shape per micro-batch: the archive walk is map-only and only
  * the BATCH is shingled/signed (the corpus index never re-signs);
  * the vocabulary is frozen (no accumulated tokenizer state — the
  * re-train trigger is [[ContinualCoverage]]'s job); packing state is
  * ONE row. Cross-trigger state = the minhash index (bands +
  * shingles, the [[TextDedup.saveMinhashIndex]] parquet shape on a
  * real deployment) + the 1-row pack state, both crossing triggers
  * through [[Materialize.cut]].
  *
  * Contracts inherited from the parts: batch ordering is the dedup
  * semantics ([[ContinualMinhash]] — a doc is a dup iff the initial
  * corpus or a STRICTLY EARLIER batch's survivor matches); media ids
  * must be globally increasing across batches for the packing
  * manifest's `append_ok` to hold ([[ContinualPacking]]); ids must be
  * disjoint from the index's.
  */
object ContinualCrawl {

  /** Cross-trigger state: the accumulated dedup index and the 1-row
    * packing state.
    */
  final case class CrawlState(index: MinhashIndex, pack: DataFrame)

  private val packCols = Seq("n_tokens", "start_offset", "first_seq",
    "last_seq", "offset_in_seq", "n_seqs_spanned", "crosses_boundary",
    "append_ok")

  /** One stepped batch: one manifest row per GATED document —
    * (media_id, is_dup, matched_id, and for survivors the
    * [[TextAnalysis.sequencePackAppend]] placement columns: n_tokens,
    * start_offset, first_seq, last_seq, offset_in_seq,
    * n_seqs_spanned, crosses_boundary, append_ok; null for dups) —
    * plus the state to carry forward.
    */
  def step(
      state: CrawlState,
      media: Dataset[Multimodal.MediaRow],
      vocab: DataFrame,
      cfg: WarcPipelineConfig = WarcPipelineConfig()): (DataFrame, CrawlState) = {
    val (_, gated) = WarcPipeline.extractAndGate(media, cfg,
      cutExtracted = false)
    val (checked, index) = ContinualMinhash.checkAndAppend(
      state.index, gated, "text", "media_id", cfg.n, cfg.numHashes,
      cfg.bands, cfg.nearDupThreshold, cfg.hashFn)
    val survivors = gated.join(
      checked.filter(!col("is_dup")).select(col("media_id")),
      Seq("media_id"))
    val counts = TextAnalysis.wordpieceTokenCounts(
      survivors, "text", "media_id", vocab)
    val (packed, pack) = ContinualPacking.step(
      state.pack, counts, "media_id", "n_tokens", cfg.targetTokens)
    // no cut: both join sides are already materialized (checked by
    // ContinualMinhash, packed by ContinualPacking), the join is
    // verdict-row-sized and has a single consumer — re-materializing
    // it was one more barrier job per trigger for nothing (round 14)
    val manifest =
      checked.select(col("media_id"), col("is_dup"), col("matched_id"))
        .join(packed.select(col("media_id") +: packCols.map(col): _*),
          Seq("media_id"), "left")
    (manifest, CrawlState(index, pack))
  }

  /** The [[Continual]] service: [[step]] over MediaRow-shaped batches. */
  def service(
      index0: MinhashIndex,
      vocab: DataFrame,
      cfg: WarcPipelineConfig = WarcPipelineConfig())
      : ContinualService[CrawlState] =
    ContinualService(
      spark => CrawlState(
        MinhashIndex(Materialize.cut(index0.bands),
          Materialize.cut(index0.shingles)),
        ContinualPacking.emptyState(spark, "media_id")),
      (state, batch, batchId) => {
        import batch.sparkSession.implicits._
        val (manifest, next) =
          step(state, batch.as[Multimodal.MediaRow], vocab, cfg)
        (manifest.select(lit(batchId).as("batch_id"), col("*")), next)
      })
}

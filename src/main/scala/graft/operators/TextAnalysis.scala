package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.TextFunctions

/** Text-analysis operators for training-data pipelines: quality scoring,
  * token counting, language identification, fingerprinting. Pure column
  * expressions over a text column — one narrow map stage, no shuffle.
  */
object TextAnalysis {

  /** Feature-hashing document embeddings (the hashing trick, mean
    * pooling): every token deterministically maps to a `dim`-vector of
    * md5-derived uniforms in [-0.5, 0.5), and the document vector is
    * the token-vector mean — the zero-vocabulary featurizer that turns
    * raw text into joinable dense vectors with no model artifact to
    * ship. Long form (id, d, value): the natural shape for feeding the
    * [[Similarity]] family, whose scorers consume (id, dim, value)
    * triples.
    *
    * Scale shape: tokens explode in-row, dims expand in-row, and both
    * feed the per-(id, d) partial hash aggregate inside the same
    * codegen stage — shuffled rows are per-partition partial sums,
    * bounded by ids x dim. Sums accumulate in decimal; one double
    * division per output cell.
    */
  def hashEmbedding(
      df: DataFrame, idCol: String, textCol: String, dim: Int,
      seed: Long): DataFrame = {
    require(dim >= 1 && dim <= 256, s"dim out of range: $dim")
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("__w"))
    val dims = toks.select(col(idCol), col("__w"),
      explode(expr(s"sequence(0, ${dim - 1})")).as("d"))
    val v = (pmod(
      TextFunctions.md5Hash60(concat(
        lit(s"${seed}_"), col("__w"), lit("_"), col("d").cast("string"))),
      lit(1000000L)).cast("double") / 1000000.0) - 0.5
    dims
      .withColumn("__v", v.cast("decimal(30,18)"))
      .groupBy(col(idCol), col("d"))
      .agg((sum(col("__v")).cast("double") / count(lit(1))).as("value"))
      .select(col(idCol), col("d"), round(col("value"), 12).as("value"))
  }

  /** Per-document surface statistics: char/token counts, mean token
    * length, punctuation/digit/whitespace ratios.
    */
  def textStats(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = TextFunctions.tokens(t)
    val nChars = length(t).cast("long")
    // denominator via nullif: empty text yields NULL ratios (matching
    // SQL division-by-zero), not NaN
    val denom = nullif(nChars, lit(0L))
    df
      .withColumn("n_chars", nChars)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("mean_token_len",
        length(array_join(toks, "")).cast("double") / size(toks))
      .withColumn("punct_ratio",
        (nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("double")
          / denom)
      .withColumn("digit_ratio",
        (nChars - length(regexp_replace(t, "[0-9]", ""))).cast("double")
          / denom)
      .withColumn("space_ratio",
        (nChars - length(regexp_replace(t, "\\s", ""))).cast("double")
          / denom)
  }

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks each count as one token — the standard cheap
    * proxy for subword-tokenizer counts.
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .cast("long")

  /** Stopword tables for the n-gram-free language-ID heuristic. Public
    * top-frequency function words per language.
    */
  private val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "en", "por", "que"))

  /** Language-ID heuristic: the language whose stopword table has the
    * highest hit count over the document's tokens; 'und' (undetermined)
    * when nothing hits. Deterministic tie-break: alphabetical language
    * order via greatest(struct) on (hits, reversed-rank).
    */
  def languageId(text: Column): Column = {
    val toks = TextFunctions.tokens(text)
    // greatest() picks max (hits, rank, lang); rank = reversed alphabet
    // position so a hit-count tie resolves to the alphabetically FIRST
    // language, as documented
    val langs = Stopwords.toSeq.sortBy(_._1)
    val scored = langs.zipWithIndex.map { case ((langCode, words), i) =>
      val hits = size(filter(toks, t => t.isInCollection(words)))
      struct(hits.as("hits"), lit(langs.size - i).as("rank"),
        lit(langCode).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1] — the usual cheap filters:
    * penalize extreme length, high punctuation/digit density, and
    * one-char mean token length. Weights are explicit config, not magic.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val stats = textStats(df, textCol)
    stats.withColumn("quality_score",
      greatest(lit(0.0), lit(1.0)
        - when(col("n_tokens") < 5, 0.5).otherwise(0.0)
        - when(col("punct_ratio") > 0.3, 0.3).otherwise(0.0)
        - when(col("digit_ratio") > 0.3, 0.2).otherwise(0.0)
        - when(col("mean_token_len") < 2.0, 0.2).otherwise(0.0)))
  }

  /** TF-IDF term weights over a corpus, dataflow form: explode tokens ->
    * per-(doc, term) counts -> document frequencies -> weight =
    * (count/doc_len) * ln(N/df). Two hash aggregations and one join on
    * the term — the standard scalable shape (no vocabulary collected to
    * the driver, unlike fit-based vectorizers).
    */
  /** Shared term statistics for the weighting schemes: per-(doc, term)
    * counts, per-doc lengths, per-term document frequencies — one
    * tokenization, two hash aggregations.
    */
  private def termStats(
      df: DataFrame, textCol: String, idCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val termCounts = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tc"))
    val docLens = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val docFreq = termCounts.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    (termCounts, docLens, docFreq)
  }

  def tfidf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val (termCounts, docLens, docFreq) = termStats(df, textCol, idCol)
    // corpus size rides as a broadcast 1-row aggregate so the whole
    // operator stays one lazy plan (no eager count() job on compose)
    val nDocs = broadcast(
      df.agg(countDistinct(col(idCol)).cast("double").as("__nd")))
    termCounts
      .join(docLens, Seq(idCol.toString))
      .join(docFreq, Seq("term"))
      .crossJoin(nDocs)
      .withColumn("tf", col("tc").cast("double") / col("dl"))
      .withColumn("idf", log(col("__nd") / col("df")))
      .withColumn("tfidf", col("tf") * col("idf"))
      .select(col(idCol), col("term"), col("tc"), col("tf"), col("idf"),
        col("tfidf"))
  }

  /** Okapi BM25 term weights over a corpus — same dataflow shape as
    * [[tfidf]] (two hash aggregations + a term join, nothing collected
    * to the driver) with the BM25 saturation/length normalization:
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * score = idf * tc*(k1+1) / (tc + k1*(1 - b + b*dl/avgdl)).
    */
  def bm25(
      df: DataFrame, textCol: String, idCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val (termCounts, docLens, docFreq) = termStats(df, textCol, idCol)
    // corpus constants ride as a broadcast 1-row aggregate (lazy plan);
    // avgdl = total tokens / total docs, both exact longs
    val consts = broadcast(docLens.agg(
      sum(col("dl")).cast("double").as("__tot"),
      count(lit(1)).cast("double").as("__nd")))
    termCounts
      .join(docLens, Seq(idCol.toString))
      .join(docFreq, Seq("term"))
      .crossJoin(consts)
      .withColumn("idf",
        log(lit(1.0) + (col("__nd") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("bm25",
        col("idf") * (col("tc") * lit(k1 + 1.0)) /
          (col("tc") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / (col("__tot") / col("__nd")))))
      .select(col(idCol), col("term"), col("tc"), col("idf"), col("bm25"))
  }

  /** Unigram LM score: mean natural-log-probability of the document's
    * token occurrences under the CORPUS unigram distribution — the
    * cheap end of the CCNet-style LM perplexity filter (low score =
    * tokens rare in this corpus = off-distribution or noise). Same
    * dataflow as [[tfidf]]: one tokenization, two hash aggregations, a
    * term join; corpus total rides as a broadcast 1-row aggregate.
    * Per-term contributions are cast to DECIMAL before the per-doc sum
    * so accumulation order can't perturb the double result (the q64/q67
    * ln-parity discipline).
    */
  def unigramLogProb(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val (termCounts, docLens, _) = termStats(df, textCol, idCol)
    val globalCounts = termCounts.groupBy(col("term"))
      .agg(sum(col("tc")).as("__gc"))
    val total = broadcast(docLens.agg(sum(col("dl")).cast("double").as("__tot")))
    termCounts
      .join(globalCounts, Seq("term"))
      .crossJoin(total)
      .withColumn("__contrib",
        (col("tc") * log(col("__gc") / col("__tot"))).cast("decimal(30,12)"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("__slp"), sum(col("tc")).as("__dl"))
      .select(col(idCol), col("__dl").cast("long").as("n_tokens"),
        (col("__slp").cast("double") / col("__dl")).as("unigram_logprob"))
  }

  /** Interpolated bigram-LM score — the full CCNet-style perplexity
    * filter (Wenzek et al. 2020 score documents under an LM trained on
    * a clean reference corpus; high perplexity = off-distribution):
    * train bigram + unigram counts on `ref` (the caller's clean slice —
    * a trusted source, a curated sample), then score EVERY document of
    * `df` by the mean natural-log-probability of its bigrams under
    *
    *   P(w2|w1) = lBigram · C(w1,w2)/C(w1)  +  lUnigram · C(w2)/T
    *              +  lFloor / (V + 1)
    *
    * (T = reference token occurrences, V = reference vocab size). The
    * uniform floor keeps P > 0 for unseen events, so the score is
    * total — no OOV special-casing — and `lFloor > 0` is required.
    * Output: (id, n_bigrams, bigram_logprob, perplexity =
    * exp(-logprob)); documents with fewer than two tokens have no
    * bigrams and are excluded. Per-bigram contributions go through
    * DECIMAL before the per-doc sum (q93's accumulation-order
    * discipline), so the whole train-plus-score pipeline replays
    * bit-for-bit in SQL.
    *
    * Plan shape: reference counts are two hash aggregations; scoring
    * joins the document bigram counts against them on term keys —
    * shuffles carry (id, w1, w2, n) tuples, never documents — and T/V
    * ride as a broadcast 1-row aggregate. Zipfian term skew lands on
    * the JOIN key's build side, not a window, so AQE's skew handling
    * applies; nothing is collected to the driver.
    */
  /** A trained bigram LM: reference unigram counts (term, uc) and
    * bigram counts (w1, w2, bc) — the artifact [[bigramLogProbWith]]
    * scores against, persistable via [[graft.operators
    * .TokenizerStore.saveBigramLm]] (counts are longs; parquet
    * round-trips them bit-exactly, so a loaded LM scores identically
    * to a fresh one).
    */
  final case class BigramLm(unigrams: DataFrame, bigrams: DataFrame)

  /** Train the [[BigramLm]] counts on a clean reference corpus — the
    * train-once half of the CCNet filter (the score half reads
    * EVERYTHING; at 100 TB fusing them re-pays training per run, the
    * tokenizer-store argument applied to LMs).
    */
  def trainBigramLm(ref: DataFrame, textCol: String): BigramLm = {
    val t = col("__t")
    val refUni = ref
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("uc"))
    val refBg = ref
      .select(TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(t) >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
    BigramLm(refUni, refBg)
  }

  /** Score documents under an already-trained (possibly LOADED)
    * [[BigramLm]] — the apply half of [[bigramLogProb]], same
    * interpolation, decimal accumulation, and output shape.
    */
  def bigramLogProbWith(
      df: DataFrame,
      lm: BigramLm,
      textCol: String,
      idCol: String,
      lBigram: Double = 0.7,
      lUnigram: Double = 0.2,
      lFloor: Double = 0.1): DataFrame = {
    require(lFloor > 0, s"lFloor must be > 0 (total probability), got $lFloor")
    require(lBigram >= 0 && lUnigram >= 0, "negative interpolation weight")
    def bigramCounts(d: DataFrame, outId: String): DataFrame = {
      val t = col("__t")
      d.select(col(idCol).as(outId), TextFunctions.tokens(col(textCol)).as("__t"))
        .filter(size(t) >= 2)
        .select(col(outId), explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
        .select(col(outId), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
        .groupBy(col(outId), col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
    }
    val refUni = lm.unigrams.select(col("term"), col("uc"))
    val refStats = broadcast(refUni.agg(
      sum(col("uc")).cast("double").as("__tot"),
      count(lit(1)).cast("double").as("__v")))
    val refBg = lm.bigrams.select(col("w1"), col("w2"), col("bc"))
    val scored = bigramCounts(df, idCol)
      .join(refBg, Seq("w1", "w2"), "left")
      .join(refUni.select(col("term").as("w1"), col("uc").as("__uc1")),
        Seq("w1"), "left")
      .join(refUni.select(col("term").as("w2"), col("uc").as("__uc2")),
        Seq("w2"), "left")
      .crossJoin(refStats)
      .withColumn("__p",
        lit(lBigram) * when(col("__uc1").isNotNull,
          coalesce(col("bc"), lit(0L)) / col("__uc1").cast("double"))
          .otherwise(lit(0.0))
          + lit(lUnigram) * (coalesce(col("__uc2"), lit(0L)) / col("__tot"))
          + lit(lFloor) / (col("__v") + lit(1.0)))
    scored
      .withColumn("__contrib", (col("n") * log(col("__p"))).cast("decimal(30,12)"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("__slp"), sum(col("n")).as("__nb"))
      .select(col(idCol), col("__nb").cast("long").as("n_bigrams"),
        (col("__slp").cast("double") / col("__nb")).as("bigram_logprob"),
        exp(-(col("__slp").cast("double") / col("__nb"))).as("perplexity"))
  }

  /** The one-call train-plus-score form: [[trainBigramLm]] on `ref`
    * feeding [[bigramLogProbWith]] — see the [[BigramLm]] docs above
    * for the interpolation and scale shape.
    */
  def bigramLogProb(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      lBigram: Double = 0.7,
      lUnigram: Double = 0.2,
      lFloor: Double = 0.1): DataFrame =
    bigramLogProbWith(df, trainBigramLm(ref, textCol), textCol, idCol,
      lBigram, lUnigram, lFloor)

  /** Per-document sentence segmentation stats: sentences split on
    * [.!?]+ runs (the regex segmenter every quality pipeline starts
    * with before shipping a real one), empty segments dropped, then
    * count / mean / min / max sentence length in WORDS. Long-sentence
    * and one-sentence-wall documents are quality-filter signals
    * (Gopher's "mean words per sentence" cut); the mean is an exact
    * ratio of integer totals.
    *
    * One projection + one explode + one hash aggregate per doc —
    * embarrassingly parallel, no shuffle beyond the doc key.
    */
  def sentenceStats(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sentences = df.select(col(idCol),
      explode(split(col(textCol), "[.!?]+")).as("__s"))
      .select(col(idCol), trim(col("__s")).as("__s"))
      .where(length(col("__s")) > 0)
      .select(col(idCol),
        size(split(col("__s"), "\\s+")).cast("long").as("__w"))
    sentences.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("__w")).as("n_words"),
        (sum(col("__w")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_sentence_words"),
        min(col("__w")).as("min_sentence_words"),
        max(col("__w")).as("max_sentence_words"))
  }

  /** BPE merge training (Sennrich et al. 2016) as pure dataflow: learn
    * `rounds` byte-pair merges from the corpus. The scale story is the
    * classic one — BPE trains on the VOCABULARY table (word, freq),
    * not the corpus: one tokenize+count collapses 100 TB of text to a
    * vocab-sized table, and every round is then an explode of adjacent
    * symbol pairs + a weighted count + a one-row argmax (the merge —
    * O(1) driver state, the [[Classify.logisticGd]] shape), applied
    * back with a plain string replace.
    *
    * Symbol strings ride as space-separated segments (" h e l l o ");
    * a merge replaces " l r " with " lr ". Runs of a repeated pair
    * merge alternately (plain substring replace consumes its trailing
    * space) — a documented delta from lookahead-regex BPE, chosen
    * because plain replace behaves IDENTICALLY in every engine while
    * RE2 (DuckDB) has no lookahead. Ties argmax to (count desc, left,
    * right).
    *
    * Output: one row per round — (round, left, right, pair_count).
    */
  private def bpeTrain(df: DataFrame, textCol: String, rounds: Int)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    require(rounds >= 1 && rounds <= 10, s"rounds out of range: $rounds")
    val vocab = Materialize.cut(df
      .select(explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__f"))
      .withColumn("__repr",
        concat(lit(" "), regexp_replace(col("__w"), "(.)", "$1 "))))
    var cur = vocab
    val merges = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    for (r <- 1 to rounds) {
      val syms = col("__syms")
      val pairs = cur
        .withColumn("__syms", split(trim(col("__repr")), " "))
        .where(size(syms) >= 2)
        .select(col("__f"), explode(zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
        .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
        .agg(sum(col("__f")).as("__c"))
      val win = pairs
        .orderBy(col("__c").desc, col("__l").asc, col("__r").asc)
        .limit(1).collect().headOption
      win match {
        case Some(row) =>
          val (l, rr, c) = (row.getString(0), row.getString(1),
            row.getLong(2))
          merges += ((r, l, rr, c))
          cur = Materialize.cut(cur.withColumn("__repr",
            regexp_replace(col("__repr"),
              java.util.regex.Pattern.quote(s" $l $rr "),
              java.util.regex.Matcher.quoteReplacement(s" $l$rr "))))
        case None => // vocabulary fully merged — stop early
      }
    }
    (cur, merges.toSeq)
  }

  /** Learned merge table: (round, merge_left, merge_right, pair_count).
    * SCALE CONTRACT: training is inherently sequential — one argmax +
    * one vocab rewrite per round — which is why `rounds` is hard-bounded
    * (<= 10) and the input is meant to be a bounded SAMPLE of the
    * corpus. Tokenizing the full corpus with the learned table is
    * [[bpeEncode]] — a single shuffle-free projection.
    */
  def bpeMerges(
      df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = df.sparkSession
    val (_, merges) = bpeTrain(df, textCol, rounds)
    import spark.implicits._
    merges.toDF("round", "merge_left", "merge_right", "pair_count")
  }

  /** BPE encode audit: train `rounds` merges, apply them, and report
    * the top-k resulting subword symbols by corpus frequency (ties to
    * the symbol) — the vocabulary a tokenizer built from these merges
    * would spend its budget on. Counting stays on the vocab table
    * (symbol occurrences weighted by word frequency).
    */
  def bpeSymbolCounts(
      df: DataFrame, textCol: String, rounds: Int, k: Int): DataFrame = {
    require(k >= 1)
    val (finalVocab, _) = bpeTrain(df, textCol, rounds)
    finalVocab
      .select(col("__f"),
        explode(split(trim(col("__repr")), " ")).as("symbol"))
      .groupBy(col("symbol"))
      .agg(sum(col("__f")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("symbol").asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(
          col("n_occurrences").desc, col("symbol").asc)).cast("long"))
      .select(col("rank"), col("symbol"), col("n_occurrences"))
  }

  /** Tokenize with a TRAINED merge table — the scalable half of BPE.
    * [[bpeMerges]] is inherently sequential (one argmax + one corpus
    * rewrite per round; bounded at 10 rounds for exactly that reason),
    * so a real pipeline trains the table ONCE on a bounded sample and
    * APPLIES it everywhere. This is that apply: the rank-ordered merge
    * list (at most 64 entries, `require`d) is inlined as literals into
    * one chained string-replace projection — the literal-table form of
    * a broadcast. The whole operator is a single narrow map over the
    * corpus: no shuffle, no driver loop, whole-stage codegen'd, and
    * embarrassingly parallel at 100 TB.
    *
    * Merge semantics match training bit-for-bit: each merge rewrites a
    * word's spaced symbol representation via ONE non-overlapping
    * left-to-right plain replace of " l r " -> " lr " — the same
    * lookahead-free operator in Spark and DuckDB (see [[bpeMerges]]'
    * note). Merges are applied in rank order and never cross word
    * boundaries (each word is encoded inside its own lambda).
    *
    * Output: one row per non-null-text doc —
    * (idCol, n_words, n_bpe_tokens).
    */
  def bpeEncode(
      df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty && merges.size <= 64,
      s"bpeEncode inlines the merge table into one projection; " +
        s"got ${merges.size} merges (allowed 1..64) — train on a sample " +
        s"with bpeMerges and cap the rounds")
    val words = TextFunctions.tokens(col(textCol))
    def encodeWord(w: Column): Column = {
      val repr0 = concat(lit(" "), regexp_replace(w, "(.)", "$1 "))
      val reprN = merges.foldLeft(repr0) { case (c, (l, r)) =>
        call_function("replace", c, lit(s" $l $r "), lit(s" $l$r "))
      }
      size(split(trim(reprN), " ")).cast("long")
    }
    df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(words).cast("long").as("n_words"),
        aggregate(words, lit(0L), (acc, w) => acc + encodeWord(w))
          .as("n_bpe_tokens"))
  }

  /** Character-level BPE apply with NO merge-count cap — the scale
    * path past [[bpeEncode]]'s 64-literal limit: the rank-ordered
    * merge table is bound once into a codegen'd
    * [[graft.functions.BpeTokenCountExpr]] (reference-object array,
    * compiled merge loop) instead of 64 chained replace literals.
    * Bit-identical semantics to [[bpeEncode]] (spec-pinned); keep
    * `bpeEncode` as the <= 64 fast path — at tiny table sizes the
    * inlined literals stay fully inside whole-stage codegen.
    * Output: (idCol, n_words, n_bpe_tokens), one narrow projection.
    */
  def bpeEncodeIndexed(
      df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    applyBpeExpr(df, textCol, idCol,
      merges.map { case (l, r) => s" $l $r " },
      merges.map { case (l, r) => s" $l$r " },
      wordLevel = false)
  }

  /** Word-level ("phrase") BPE apply: the document is ONE symbol
    * sequence of whitespace tokens and each merge joins an adjacent
    * symbol pair into a `left_right` phrase symbol — the
    * phrase-mining/agglomeration shape, same machinery and the same
    * rank-order non-overlapping-replace semantics as the character
    * level. Output: (idCol, n_words, n_bpe_tokens <= n_words).
    */
  def bpePhraseEncode(
      df: DataFrame, textCol: String, idCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    applyBpeExpr(df, textCol, idCol,
      merges.map { case (l, r) => s" $l $r " },
      merges.map { case (l, r) => s" ${l}_$r " },
      wordLevel = true)
  }

  private def applyBpeExpr(
      df: DataFrame, textCol: String, idCol: String,
      patterns: Seq[String], replacements: Seq[String],
      wordLevel: Boolean): DataFrame = {
    import scala.collection.immutable.ArraySeq
    val pats = ArraySeq.unsafeWrapArray(patterns.toArray)
    val reps = ArraySeq.unsafeWrapArray(replacements.toArray)
    // per-call registry name, dropped after the eager analysis binds
    // the expression into the plan (the bloomPrunedJoin discipline)
    val fnName = "graft_bpe_token_count_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val registry = df.sparkSession.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(fnName,
      exprs => graft.functions.BpeTokenCountExpr(pats, reps, wordLevel,
        exprs.head),
      "scala_udf")
    try {
      df.filter(col(textCol).isNotNull)
        .select(col(idCol),
          size(TextFunctions.tokens(col(textCol))).cast("long")
            .as("n_words"),
          call_function(fnName, col(textCol)).as("n_bpe_tokens"))
    } finally {
      registry.dropFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(fnName))
    }
  }

  /** Frequency-ranked phrase merge table for [[bpePhraseEncode]] —
    * the one-shot, fully-parallel alternative to [[bpeMerges]]'
    * inherently sequential argmax loop, which is what makes merge
    * tables PAST a few dozen ranks buildable at all: level 1 ranks
    * every observed adjacent word pair by corpus frequency, level 2
    * ranks every observed (`left_mid` phrase, right) extension after
    * it; ties (count desc, left, right), truncated to `maxMerges`.
    * Counts are raw corpus pair statistics (NOT recomputed between
    * ranks — at thousands of ranks iterative retraining is a
    * different algorithm; the bounded iterative half stays
    * [[bpeMerges]]). The table is vocab²-bounded metadata, never
    * corpus-sized; the global rank window sorts only that table.
    * Output: (rank, merge_left, merge_right, pair_count).
    */
  def phraseMergeTable(
      df: DataFrame, textCol: String, maxMerges: Int): DataFrame = {
    require(maxMerges >= 1, s"maxMerges must be >= 1, got $maxMerges")
    val base = df.filter(col(textCol).isNotNull)
      .select(TextFunctions.tokens(col(textCol)).as("__t"))
    val t = col("__t")
    val big = base.where(size(t) >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("l"), b.as("r")))).as("__p"))
      .groupBy(col("__p.l").as("merge_left"),
        col("__p.r").as("merge_right"))
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("__lvl", lit(1))
    val tri = base.where(size(t) >= 3)
      .select(explode(transform(sequence(lit(1), size(t) - 2),
        i => struct(
          concat(element_at(t, i), lit("_"), element_at(t, i + 1)).as("l"),
          element_at(t, i + 2).as("r")))).as("__p"))
      .groupBy(col("__p.l").as("merge_left"),
        col("__p.r").as("merge_right"))
      .agg(count(lit(1)).as("pair_count"))
      .withColumn("__lvl", lit(2))
    big.unionByName(tri)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("__lvl"), col("pair_count").desc,
        col("merge_left"), col("merge_right"))).cast("long"))
      .filter(col("rank") <= maxMerges)
      .select(col("rank"), col("merge_left"), col("merge_right"),
        col("pair_count"))
  }

  /** Flesch reading-ease per document (Flesch 1948), with the standard
    * programmatic syllable proxy: a syllable ≈ one [aeiouy]+ vowel
    * group per word (the approximation every readability library uses
    * when no pronunciation dictionary ships). score = 206.835 −
    * 1.015·(words/sentences) − 84.6·(syllables/words). A corpus-
    * quality signal orthogonal to [[sentenceStats]]' length cuts —
    * machine-generated walls of clauses score deep negative.
    *
    * Everything is integer counts until the one final double
    * expression, floor-snapped at 6 (scores are O(100)).
    */
  def fleschReadingEase(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = lower(col(textCol))
    val base = df.select(col(idCol),
      size(expr(s"filter(split($textCol, '[.!?]+'), s -> length(trim(s)) > 0)"))
        .cast("long").as("n_sentences"),
      size(split(trim(t), "\\s+")).cast("long").as("n_words"),
      size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))).cast("long")
        .as("n_syllables"))
      .where(col("n_sentences") > 0 && col("n_words") > 0)
    base.select(col(idCol), col("n_sentences"), col("n_words"),
      col("n_syllables"),
      (floor((lit(206.835)
        - lit(1.015) * (col("n_words").cast("double")
          / col("n_sentences").cast("double"))
        - lit(84.6) * (col("n_syllables").cast("double")
          / col("n_words").cast("double"))) * lit(1e6)) / lit(1e6))
        .as("flesch"))
  }

  /** Trigram stupid-backoff language-model scoring (Brants et al. 2007
    * — the scheme built FOR corpus-scale LMs: no discounting state,
    * just counts and a fixed backoff factor, so the "model" is three
    * count tables that distribute as plain aggregates). Score of a doc
    * trigram: S(w3|w1w2) = c123/c12 when the trigram was seen in the
    * reference; else α·S(w3|w2) = α·c23/c2; else α²·c3/N; else
    * α²/(N+V) (the unseen-word floor keeps every log finite).
    *
    * Dataflow mirrors [[bigramLogProb]]: one tokenize each side,
    * count tables keyed by n-grams, LEFT joins from the doc's trigram
    * table (Zipf skew rides join keys), one-row stats broadcast;
    * contributions n·ln(S) decimal-accumulate per doc.
    */
  def trigramBackoffLogProb(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      alpha: Double = 0.4): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    def trigramCounts(d: DataFrame, outId: String): DataFrame = {
      val t = col("__t")
      d.select(col(idCol).as(outId),
        TextFunctions.tokens(col(textCol)).as("__t"))
        .filter(size(t) >= 3)
        .select(col(outId), explode(zip_with(
          zip_with(
            slice(t, lit(1), size(t) - 2), slice(t, lit(2), size(t) - 2),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(t, lit(3), size(t) - 2),
          (ab, c) => struct(ab.getField("w1").as("w1"),
            ab.getField("w2").as("w2"), c.as("w3")))).as("__tg"))
        .select(col(outId), col("__tg.w1").as("w1"),
          col("__tg.w2").as("w2"), col("__tg.w3").as("w3"))
        .groupBy(col(outId), col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("n"))
    }
    val refUni = ref
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("uc"))
    val refStats = broadcast(refUni.agg(
      sum(col("uc")).cast("double").as("__tot"),
      count(lit(1)).cast("double").as("__v")))
    val refBg = ref
      .select(TextFunctions.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
      .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .agg(count(lit(1)).as("bc"))
    val refTg = trigramCounts(ref, "__rid")
      .groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("n")).as("tc"))
    val a = lit(alpha)
    val scored = trigramCounts(df, idCol)
      .join(refTg, Seq("w1", "w2", "w3"), "left")
      .join(refBg.select(col("w1"), col("w2"), col("bc").as("__b12")),
        Seq("w1", "w2"), "left")
      .join(refBg.select(col("w1").as("w2"), col("w2").as("w3"),
        col("bc").as("__b23")), Seq("w2", "w3"), "left")
      .join(refUni.select(col("term").as("w2"), col("uc").as("__u2")),
        Seq("w2"), "left")
      .join(refUni.select(col("term").as("w3"), col("uc").as("__u3")),
        Seq("w3"), "left")
      .crossJoin(refStats)
      .withColumn("__p",
        when(col("tc").isNotNull,
          col("tc").cast("double") / col("__b12").cast("double"))
          .otherwise(a * when(col("__b23").isNotNull,
            col("__b23").cast("double") / col("__u2").cast("double"))
            .otherwise(a * when(col("__u3").isNotNull,
              col("__u3").cast("double") / col("__tot"))
              .otherwise(lit(1.0) / (col("__tot") + col("__v"))))))
    scored
      .withColumn("__contrib",
        (col("n") * log(col("__p"))).cast("decimal(30,12)"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("__slp"), sum(col("n")).as("__nt"))
      .select(col(idCol), col("__nt").cast("long").as("n_trigrams"),
        (col("__slp").cast("double") / col("__nt")).as("trigram_logprob"),
        exp(-(col("__slp").cast("double") / col("__nt"))).as("perplexity"))
  }

  /** Per-source distribution diagnostics against the corpus: unigram
    * entropy, cross-entropy vs the whole-corpus distribution, and
    * KL(source ‖ corpus) — the divergence table a data-mixing decision
    * reads ("how far is this source from the mix", the quantity DSIR
    * and DoReMi-style reweighting reason about). The corpus
    * distribution contains every source term by construction, so q > 0
    * wherever p > 0 and the KL is finite without smoothing. Per-term
    * contributions are decimal-accumulated (q93's discipline); entropy,
    * cross-entropy and KL are each their own sum, with
    * KL = Σ p·(ln p − ln q) directly so the identity
    * kl = cross_entropy − entropy holds to rounding.
    *
    * Dataflow: one tokenize, (source, term) counts, then the corpus
    * marginal is a second aggregate OVER THOSE COUNTS (the scan doesn't
    * run twice; the three reuses of the count table are the same
    * aliased subplan, which AQE dedups via ReusedExchange). Shuffles
    * carry (source, term, count) — Zipf skew lands on join keys, never
    * a single-partition window.
    */
  def sourceDivergence(
      df: DataFrame, textCol: String, domainCol: String): DataFrame = {
    val st = df.select(col(domainCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(domainCol), col("term"))
      .agg(count(lit(1)).as("__tc"))
    val srcTot = st.groupBy(col(domainCol))
      .agg(sum(col("__tc")).as("__st"), count(lit(1)).as("__v"))
    val gt = st.groupBy(col("term")).agg(sum(col("__tc")).as("__gc"))
    val tot = broadcast(gt.agg(sum(col("__gc")).cast("double").as("__gt")))
    val p = col("__tc").cast("double") / col("__st").cast("double")
    val q = col("__gc").cast("double") / col("__gt")
    st.join(gt, Seq("term"))
      .join(srcTot, Seq(domainCol))
      .crossJoin(tot)
      .withColumn("__ent", (p * log(p)).cast("decimal(30,12)"))
      .withColumn("__ce", (p * log(q)).cast("decimal(30,12)"))
      .withColumn("__kl", (p * (log(p) - log(q))).cast("decimal(30,12)"))
      .groupBy(col(domainCol))
      .agg(max(col("__st")).cast("long").as("n_tokens"),
        max(col("__v")).cast("long").as("vocab"),
        (-sum(col("__ent")).cast("double")).as("entropy"),
        (-sum(col("__ce")).cast("double")).as("cross_entropy"),
        sum(col("__kl")).cast("double").as("kl_divergence"))
  }

  /** Hashing-trick term frequencies (Weinberger et al. 2009; the
    * HashingTF vectorizer): sparse long-form vectors (id, bucket, tf)
    * with `bucket = md5Hash60(term) mod numFeatures`. The point at
    * corpus scale: NO vocabulary — a dictionary-based vectorizer needs
    * a corpus-wide term index (a shuffle plus a broadcast that grows
    * with the data); the hash needs one aggregate, features are
    * fixed-width by construction, and an incremental batch vectorizes
    * identically without ever seeing the corpus. Collisions fold rare
    * terms together — the accepted trade, bounded by numFeatures. The
    * md5-based hash replays in any engine (q53's discipline), so the
    * whole vectorization is oracle-checkable.
    */
  def hashedTf(
      df: DataFrame, textCol: String, idCol: String,
      numFeatures: Int): DataFrame = {
    require(numFeatures >= 1, s"numFeatures must be >= 1, got $numFeatures")
    df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col(idCol),
        pmod(TextFunctions.md5Hash60(col("term")), lit(numFeatures.toLong))
          .cast("long").as("bucket"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Lexicon-driven topic tagging: count each document's hits against a
    * (topic, term) lexicon — the wordlist classifier of corpus curation
    * (domain routing, FlashText-style tagging, blocklist scoring)
    * where a trained classifier is overkill or not replayable. Output is
    * long-form (id, topic, n_hits); docs with no lexicon hit emit no
    * rows (tag absence, not zero rows per topic — callers outer-join if
    * they need the dense grid). A term listed under two topics counts
    * toward both. One tokenize + ONE broadcast join + a hash aggregate:
    * the corpus never shuffles, because the lexicon is small by
    * construction — this is the keyword path's whole advantage at
    * 100 TB.
    */
  def keywordTag(
      df: DataFrame, textCol: String, idCol: String,
      lexicon: DataFrame): DataFrame =
    df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
      .join(broadcast(lexicon), Seq("term"))
      .groupBy(col(idCol), col("topic"))
      .agg(count(lit(1)).as("n_hits"))

  /** Zipf-law fit over the corpus term distribution: OLS of
    * ln(frequency) on ln(rank) for the top `topN` terms — the one-row
    * corpus health check (natural text sits near slope −1; synthetic or
    * template-heavy corpora bend the curve, and a drifting slope across
    * snapshots flags a pipeline regression). Returns (n_terms, slope,
    * intercept, r2).
    *
    * Scale honesty: ranking the FULL vocabulary needs a global sort, so
    * the fit is over the top-N head — `orderBy(...).limit(topN)` is a
    * distributed top-k (per-partition heads, one tiny final merge), and
    * the single-partition rank window after it sees only topN rows,
    * bounded by the parameter, never by the corpus. The head is where
    * Zipf structure lives; the long tail's fit contribution is noise.
    * Every OLS sum decimal-accumulates ln values rounded to 12 places,
    * so the fit replays bit-for-bit in SQL.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 1000): DataFrame = {
    require(topN >= 2, s"topN must be >= 2 to fit a line, got $topN")
    val top = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("__f"))
      .orderBy(col("__f").desc, col("term")).limit(topN)
    val w = Window.orderBy(col("__f").desc, col("term"))
    val xy = top.withColumn("__r", row_number().over(w))
      .select(log(col("__r").cast("double")).as("__x"),
        log(col("__f").cast("double")).as("__y"))
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    xy.agg(count(lit(1)).cast("double").as("__n"),
      dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
      dsum(col("__x") * col("__x")).as("__sxx"),
      dsum(col("__x") * col("__y")).as("__sxy"),
      dsum(col("__y") * col("__y")).as("__syy"))
      .select(col("__n").cast("long").as("n_terms"),
        ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          / (col("__n") * col("__sxx") - col("__sx") * col("__sx")))
          .as("slope"),
        ((col("__sy") - col("__sx")
          * ((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
            / (col("__n") * col("__sxx") - col("__sx") * col("__sx"))))
          / col("__n")).as("intercept"),
        (((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          * (col("__n") * col("__sxy") - col("__sx") * col("__sy")))
          / ((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
            * (col("__n") * col("__syy") - col("__sy") * col("__sy"))))
          .as("r2"))
  }

  /** Context-length sizing table: for each candidate training context
    * length, how many documents would truncate and what token mass the
    * cut loses — the one-table answer to "do we train at 1k, 2k, or 4k"
    * before committing a packing run. Output per candidate length:
    * (context_len, n_docs, n_truncated, sum_tokens, tokens_kept,
    * frac_tokens_lost). One scan: the length grid is a literal array
    * exploded against each row, folded by a single hash aggregate —
    * |lengths| is a handful, so the fan-out is a constant factor on a
    * narrow (token-count) projection, not a second pass per candidate.
    */
  def truncationStats(
      df: DataFrame, tokenCountCol: String, lengths: Seq[Int]): DataFrame = {
    require(lengths.nonEmpty && lengths.forall(_ >= 1),
      s"lengths must be non-empty and positive, got $lengths")
    val t = col("__t")
    df.select(col(tokenCountCol).cast("long").as("__t"),
      explode(array(lengths.map(l => lit(l.toLong)): _*)).as("context_len"))
      .groupBy(col("context_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(t > col("context_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(t).as("sum_tokens"),
        sum(least(t, col("context_len"))).as("tokens_kept"))
      .withColumn("frac_tokens_lost",
        lit(1.0) - col("tokens_kept").cast("double") / col("sum_tokens"))
  }

  /** Unigram-LM subword segmentation (the SentencePiece/Kudo 2018
    * model family, scored with corpus-substring statistics): build a
    * piece vocabulary from the corpus, then Viterbi-segment every
    * distinct word into the maximum-log-likelihood piece sequence —
    * the other half of the tokenization story next to BPE
    * ([[bpeMerges]] trains merges, [[bpeEncode]] applies them; unigram
    * segmentation is what SentencePiece-based pipelines run instead).
    *
    * Vocabulary: all substrings of length 1..`maxPieceLen` of every
    * eligible word, weighted by word frequency; the top `vocabSize` by
    * (weight, piece) keep log-prob ln(weight / vocabWeight) rounded at
    * 12 dp (the libm discipline); any out-of-vocab single character
    * costs the fixed `unkLp`, which keeps the DP total.
    *
    * Scale shape — this is the part that matters at 100 TB: the DP
    * runs once per DISTINCT word, never per occurrence, and it is ONE
    * narrow projection, not an iteration. Pieces attach by a broadcast
    * vocab join (|words| x maxPieceLen x maxWordLen rows), collapse
    * back to one array per word, and the Viterbi recursion
    *
    *   best(e) = max over pieces (s, e]: best(s) + lp(piece)
    *
    * folds IN-ROW with nested higher-order functions (`aggregate` over
    * positions, `filter`/`transform`/`array_max` over the piece array)
    * — no per-position join rounds, no lineage growth, no driver loop.
    * Ties break (score desc, fewer pieces); all adds replay in fixed
    * order, so the whole computation is engine-portable (harness q388
    * unrolls the same DP as per-position SQL rounds).
    *
    * @param maxWordLen words longer than this are excluded (both from
    *                   vocabulary weighting and from segmentation) —
    *                   the caller's length contract, checked cheaply
    * @return per distinct eligible word: (word, wcnt, best_lp,
    *         n_pieces)
    */
  /** Shared front half of the unigram family: distinct eligible words
    * with counts, substring pieces scored against the top-`vocabSize`
    * vocabulary (12-dp log-probs, `unkLp` single-char fallback),
    * collapsed to one (word, wcnt, __ps) row per word where __ps is
    * the array of (s, e, lp, piece) candidates.
    */
  private def unigramWordPieces(
      df: DataFrame, textCol: String,
      maxPieceLen: Int, vocabSize: Int,
      maxWordLen: Int, unkLp: Double): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1,8], got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxWordLen >= 1 && maxWordLen <= 32,
      s"maxWordLen must be in [1,32], got $maxWordLen")
    val words = unigramWords(df, textCol, maxWordLen)
    val subs = unigramSubs(words, maxPieceLen)
    scoredPieces(subs, substringVocabLp(subs, vocabSize), unkLp)
  }

  /** Distinct eligible words with frequencies. */
  private def unigramWords(
      df: DataFrame, textCol: String, maxWordLen: Int): DataFrame =
    df.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .filter(length(col("word")).between(1, maxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("wcnt"))

  /** All (word, wcnt, s, e, j, piece) substring candidates. */
  private def unigramSubs(words: DataFrame, maxPieceLen: Int): DataFrame =
    words
      .select(col("word"), col("wcnt"),
        explode(sequence(lit(1), length(col("word")))).as("e"))
      .select(col("word"), col("wcnt"), col("e"),
        explode(sequence(lit(1), least(lit(maxPieceLen), col("e")))).as("j"))
      .withColumn("s", col("e") - col("j"))
      .withColumn("piece", expr("substring(word, s + 1, j)"))

  /** Seed vocabulary: top-K substring weights via sort-limit
    * (TakeOrdered — no global window), log-probs normalized over the
    * kept vocabulary. Output: (piece, lp).
    */
  private def substringVocabLp(subs: DataFrame, vocabSize: Int): DataFrame = {
    val vocab = subs.groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
    val total = vocab.agg(sum(col("cnt")).as("__tot")) // 1 row, broadcast
    vocab.crossJoin(broadcast(total))
      .select(col("piece"),
        round(log(col("cnt").cast("double") / col("__tot").cast("double")),
          12).as("lp"))
  }

  /** Attach `vocabLp` (piece, lp) scores to the substring candidates
    * with the single-char fallback, collapsed to one (word, wcnt,
    * __ps) row per word.
    */
  private def scoredPieces(
      subs: DataFrame, vocabLp: DataFrame, unkLp: Double): DataFrame =
    subs
      .join(broadcast(vocabLp.select(col("piece"), col("lp"))),
        Seq("piece"), "left")
      .withColumn("lp",
        coalesce(col("lp"), when(col("j") === 1, lit(unkLp))))
      .filter(col("lp").isNotNull)
      .groupBy(col("word"), col("wcnt"))
      .agg(collect_list(
        struct(col("s"), col("e"), col("lp"), col("piece"))).as("__ps"))

  /** The path-carrying Viterbi fold: accumulator element (best, negnp,
    * path) — the comparison order IS the tie-break order, so array_max
    * picks (max score, fewest pieces, lexicographically-last path)
    * deterministically. Evaluates to the best path string (leading
    * space).
    */
  private def pathDpCol: Column =
    aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0.0).as("best"), lit(0).as("negnp"),
        lit("").as("path"))),
      (acc, e) => {
        val cands = transform(
          filter(col("__ps"), p => p("e") === e),
          p => struct(
            (element_at(acc, p("s") + 1)("best") + p("lp")).as("best"),
            (element_at(acc, p("s") + 1)("negnp") - 1).as("negnp"),
            concat(element_at(acc, p("s") + 1)("path"), lit(" "),
              p("piece")).as("path")))
        concat(acc, array(array_max(cands)))
      },
      acc => element_at(acc, length(col("word")) + 1)("path"))

  /** Frequency-weighted piece counts along every word's best path. */
  private def pathPieceCounts(pieces: DataFrame): DataFrame =
    pieces
      .withColumn("__path", pathDpCol)
      .select(col("wcnt"),
        explode(split(ltrim(col("__path")), " ")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))

  def unigramSegment(
      df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, vocabSize: Int = 200,
      maxWordLen: Int = 16, unkLp: Double = -20.0): DataFrame =
    viterbiStats(unigramWordPieces(
      df, textCol, maxPieceLen, vocabSize, maxWordLen, unkLp))

  /** Viterbi segmentation under an EXPLICIT vocabulary — the apply
    * half of the train/apply split: `vocab` is a (piece, lp) table
    * (a [[unigramEmTrain]]/[[unigramHardEmRound]] result, typically
    * loaded from [[TokenizerStore]]), broadcast into the scoring join
    * exactly like the internally-seeded [[unigramSegment]]. Train
    * once, segment everywhere — no per-run re-derivation of the
    * vocabulary at 100 TB. Same DP, ties, and output shape as
    * [[unigramSegment]].
    */
  def unigramSegmentWith(
      df: DataFrame, textCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 16,
      unkLp: Double = -20.0): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1,8], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 32,
      s"maxWordLen must be in [1,32], got $maxWordLen")
    val words = unigramWords(df, textCol, maxWordLen)
    viterbiStats(
      scoredPieces(unigramSubs(words, maxPieceLen), vocab, unkLp))
  }

  /** GPT-2-style pretokenization pattern (Radford et al. 2019 —
    * `encoder.py`'s split regex), SIMPLIFIED to the lookahead-free
    * core so the same pattern runs identically under Java regex and
    * RE2: English contractions, space-prefixed letter runs,
    * space-prefixed digit runs, space-prefixed punctuation runs,
    * residual whitespace. Both engines use leftmost-first alternation,
    * so splits agree token-for-token. The whitespace set is the
    * EXPLICIT class `[ \t\n\f\r]` rather than `\s`: Java's `\s`
    * includes U+000B (vertical tab) while RE2's does not, so the
    * shorthand made the two engines split VT-bearing documents
    * differently — with the explicit class both compile the identical
    * set (VT lands deterministically in the punctuation run).
    */
  val Gpt2PretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\f\\r]+"

  /** Corpus pretoken inventory under [[Gpt2PretokenPattern]]: the
    * BPE-family pretokenizer's output distribution — what a GPT-style
    * tokenizer trains FROM (merges never cross pretoken boundaries).
    * Spaces render as `Ġ` (the GPT-2 byte-encoder convention)
    * so space-prefixed and word-initial forms stay distinct, visible
    * columns. One explode + one hash aggregation; map-side partial
    * aggregation absorbs the repetition.
    *
    * @return (pretoken, cnt, n_docs) per distinct pretoken
    */
  def pretokenCounts(df: DataFrame, textCol: String,
      idCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
      explode(regexp_extract_all(col(textCol),
        lit(Gpt2PretokenPattern), lit(0))).as("__t"))
      .select(col("__id"),
        regexp_replace(col("__t"), " ", "Ġ").as("pretoken"))
      .groupBy(col("pretoken"))
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("__id")).as("n_docs"))

  /** Frequency-seeded WordPiece vocabulary: every substring candidate
    * in its surface form — word-initial pieces bare, word-interior
    * pieces `##`-prefixed (the BERT convention) — weighted by word
    * frequency, kept to the `vocabSize` heaviest (count desc, piece
    * asc — engine-portable tie-break). The classic likelihood-trained
    * WordPiece vocabulary can be substituted via
    * [[wordpieceSegmentWith]]; this seed is the deterministic stand-in
    * that exercises the same apply path.
    *
    * @return (piece, cnt)
    */
  def wordpieceVocab(
      df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, vocabSize: Int = 200,
      maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1,8], got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val subs = unigramSubs(unigramWords(df, textCol, maxWordLen),
      maxPieceLen)
    subs
      .select(wordpieceForm(col("s"), col("piece")).as("piece"),
        col("wcnt"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
  }

  /** `##`-prefix word-interior pieces (BERT surface form). */
  private def wordpieceForm(s: Column, piece: Column): Column =
    when(s === 0, piece).otherwise(concat(lit("##"), piece))

  /** WordPiece greedy longest-match-first segmentation (the BERT
    * tokenizer's runtime, Devlin et al. 2019 / Wu et al. 2016): from
    * each position take the LONGEST vocabulary piece (word-initial
    * bare, continuations `##`-prefixed); any position with no match
    * makes the whole word `[UNK]` — greedy, not Viterbi, which is
    * exactly what distinguishes it from [[unigramSegmentWith]].
    *
    * The whole greedy loop folds IN-ROW with nested higher-order
    * functions (codegen'd, no UDF, no per-position join rounds): the
    * accumulator carries (pos, path, failed); each tick consumes ≥ 1
    * character, so `length(word)` ticks always suffice. Candidate
    * membership is one broadcast join against `vocab` before the fold.
    * Scale shape: |distinct words| rows × ≤ maxWordLen·maxPieceLen
    * candidate structs each — the corpus never re-shuffles.
    *
    * @param vocab (piece, …) table in surface form (`##` continuations)
    * @return per distinct eligible word: (word, wcnt, is_unk, n_pieces
    *         (0 when UNK), pieces (space-joined; `[UNK]` when UNK))
    */
  def wordpieceSegmentWith(
      df: DataFrame, textCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1,8], got $maxPieceLen")
    require(maxWordLen >= 1 && maxWordLen <= 32,
      s"maxWordLen must be in [1,32], got $maxWordLen")
    val words = unigramWords(df, textCol, maxWordLen)
    val cands = unigramSubs(words, maxPieceLen)
      .select(col("word"), col("s"), col("e"),
        wordpieceForm(col("s"), col("piece")).as("wp"))
    val matched = cands
      .join(broadcast(vocab.select(col("piece").as("wp"))), Seq("wp"))
      .groupBy(col("word"))
      .agg(collect_list(struct(col("s"), col("e"), col("wp"))).as("__ms"))
    val greedy = aggregate(
      sequence(lit(1), length(col("word"))),
      struct(lit(0).as("pos"), lit("").as("path"), lit(false).as("failed")),
      (acc, _) => {
        val here = filter(coalesce(col("__ms"),
          array().cast("array<struct<s:int,e:int,wp:string>>")),
          m => m("s") === acc("pos"))
        val best = array_max(transform(here,
          m => struct(m("e").as("e"), m("wp").as("wp"))))
        when(acc("failed") || acc("pos") >= length(col("word")), acc)
          .when(size(here) === 0,
            struct(length(col("word")).as("pos"), acc("path").as("path"),
              lit(true).as("failed")))
          .otherwise(struct(best("e").as("pos"),
            concat(acc("path"), lit(" "), best("wp")).as("path"),
            lit(false).as("failed")))
      },
      acc => acc)
    words
      .join(matched, Seq("word"), "left")
      .withColumn("__g", greedy)
      .select(col("word"), col("wcnt"),
        col("__g")("failed").as("is_unk"),
        when(col("__g")("failed"), lit(0))
          .otherwise(size(split(ltrim(col("__g")("path")), " ")))
          .as("n_pieces"),
        when(col("__g")("failed"), lit("[UNK]"))
          .otherwise(ltrim(col("__g")("path"))).as("pieces"))
  }

  /** Per-group tokenizer coverage audit under a (loaded) WordPiece
    * vocabulary: for every group (source, snapshot, language bucket),
    * the occurrence-weighted OOV rate and fertility (mean pieces per
    * word) — the first question a corpus owner asks of a tokenizer
    * ("which sources does this vocab serve badly?") and the signal
    * that decides re-training. Overlong words (> maxWordLen) count as
    * `[UNK]` of one piece, the BERT max_input_chars_per_word rule —
    * the [[graft.operators.Chat.tokenLossMask]] convention, so the
    * audit measures exactly what the mask/pack path will do.
    *
    * Scale shape: segmentation runs on the DISTINCT word table (the
    * [[wordpieceSegmentWith]] contract); occurrences join back by
    * word and aggregate to group grain — group-cardinality output.
    */
  def wordpieceCoverage(
      df: DataFrame, textCol: String, groupCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    val words = df
      .select(col(groupCol).as("group_key"),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 1)
    val seg = wordpieceSegmentWith(
      words.select(col("word")).distinct(), "word", vocab,
      maxPieceLen, maxWordLen)
      .select(col("word"), col("is_unk"), col("n_pieces"))
    words
      .join(broadcast(seg), Seq("word"), "left")
      .withColumn("__unk", col("is_unk").isNull || col("is_unk"))
      .withColumn("__np",
        when(col("__unk"), lit(1)).otherwise(col("n_pieces")).cast("long"))
      .groupBy(col("group_key"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(col("__unk").cast("long")).as("n_unk"),
        round(sum(col("__unk").cast("long")).cast("double")
          / count(lit(1)), 12).as("oov_rate"),
        round(sum(col("__np")).cast("double") / count(lit(1)), 12)
          .as("mean_pieces"))
  }

  /** Per-DOCUMENT token counts under a (loaded) WordPiece vocabulary —
    * the sequence-budget input for token packing
    * ([[graft.operators.Chat.packConversationsByTokens]]): each word
    * contributes its piece count, with unsegmentable or overlong
    * (> maxWordLen) words counting as one `[UNK]` (the
    * [[wordpieceCoverage]] / [[graft.operators.Chat.tokenLossMask]]
    * convention, so the count is exactly what the mask/pack path
    * produces). Same scale shape as the coverage audit: segmentation
    * on the DISTINCT word table, occurrences join back broadcast and
    * aggregate to the document grain.
    *
    * @return (idCol, n_tokens) — one row per document with >= 1 word
    */
  def wordpieceTokenCounts(
      df: DataFrame, textCol: String, idCol: String, vocab: DataFrame,
      maxPieceLen: Int = 4, maxWordLen: Int = 16): DataFrame = {
    val words = df
      .select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(length(col("word")) >= 1)
    val seg = wordpieceSegmentWith(
      words.select(col("word")).distinct(), "word", vocab,
      maxPieceLen, maxWordLen)
      .select(col("word"), col("is_unk"), col("n_pieces"))
    words
      .join(broadcast(seg), Seq("word"), "left")
      .withColumn("__np",
        when(col("is_unk").isNull || col("is_unk"), lit(1L))
          .otherwise(col("n_pieces").cast("long")))
      .groupBy(col(idCol))
      .agg(sum(col("__np")).as("n_tokens"))
  }

  /** Seeded-vocabulary WordPiece: [[wordpieceVocab]] feeding
    * [[wordpieceSegmentWith]] — the one-call form of the trio's third
    * tokenizer (BPE q291/q333, unigram q388/q394, WordPiece here).
    */
  def wordpieceSegment(
      df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, vocabSize: Int = 200,
      maxWordLen: Int = 16): DataFrame =
    wordpieceSegmentWith(df, textCol,
      wordpieceVocab(df, textCol, maxPieceLen, vocabSize, maxWordLen),
      maxPieceLen, maxWordLen)

  /** The in-row Viterbi over scored (word, wcnt, __ps) rows:
    * accumulator acc(i+1) = (best, n_pieces) of the prefix of length
    * i; the j = 1 fallback guarantees a candidate at every position,
    * so array_max never sees an empty array.
    */
  private def viterbiStats(pieces: DataFrame): DataFrame = {
    val dp = aggregate(
      sequence(lit(1), length(col("word"))),
      array(struct(lit(0.0).as("best"), lit(0).as("np"))),
      (acc, e) => {
        val cands = transform(
          filter(col("__ps"), p => p("e") === e),
          p => struct(
            (element_at(acc, p("s") + 1)("best") + p("lp")).as("best"),
            (-(element_at(acc, p("s") + 1)("np") + 1)).as("negnp")))
        val top = array_max(cands)
        concat(acc,
          array(struct(top("best").as("best"), (-top("negnp")).as("np"))))
      },
      acc => element_at(acc, length(col("word")) + 1))
    pieces
      .withColumn("__dp", dp)
      .select(col("word"), col("wcnt"),
        col("__dp")("best").as("best_lp"),
        col("__dp")("np").as("n_pieces"))
  }

  /** One hard-EM (Viterbi-EM) re-estimation round for the unigram
    * tokenizer: segment every distinct word along its maximum-
    * likelihood path under the current piece probabilities (the
    * [[unigramSegment]] vocabulary), then re-count pieces ALONG THOSE
    * PATHS weighted by word frequency and renormalize — the E/M step
    * SentencePiece alternates to prune a seed vocabulary toward the
    * pieces segmentation actually uses. Substring mass double-counts
    * overlapping candidates; path mass doesn't, which is why one round
    * already reshapes the distribution (whole frequent words gain,
    * interior fragments starve).
    *
    * Same in-row DP as [[unigramSegment]] with the argmax PATH carried
    * through the accumulator (pieces joined into a string — ties break
    * (score, fewer pieces, lexicographically-last path), all three
    * keys engine-portable). The re-count is one explode + hash
    * aggregate over |words| short arrays. Harness q389 replays DP,
    * tie-breaks, and renormalization in unrolled SQL rounds.
    *
    * @return the re-estimated distribution: (piece, cnt, lp) for every
    *         piece used by at least one best path; cnt is the
    *         frequency-weighted path count, lp = round(ln(cnt/total), 12)
    */
  def unigramHardEmRound(
      df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, vocabSize: Int = 200,
      maxWordLen: Int = 16, unkLp: Double = -20.0): DataFrame = {
    val pieces = unigramWordPieces(
      df, textCol, maxPieceLen, vocabSize, maxWordLen, unkLp)
    val counts = pathPieceCounts(pieces)
    val total = counts.agg(sum(col("cnt")).as("__tot")) // 1 row, broadcast
    counts.crossJoin(broadcast(total))
      .select(col("piece"), col("cnt"),
        round(log(col("cnt").cast("double") / col("__tot").cast("double")),
          12).as("lp"))
  }

  /** Bounded unigram hard-EM TRAINING loop — the full SentencePiece
    * shape next to BPE's train/apply: start from the substring-weight
    * seed vocabulary, then for each round segment every word along its
    * Viterbi path under the CURRENT probabilities, re-count pieces
    * along the paths, PRUNE to the `vocabSize` heaviest, and
    * renormalize over the kept set. Unlike [[unigramHardEmRound]] (one
    * un-pruned M-step), the loop is what shrinks a seed vocabulary
    * toward the pieces segmentation actually uses.
    *
    * `rounds` is require-bounded and the loop composes ONE lazy plan —
    * no driver collect anywhere; the per-round vocabulary (≤ vocabSize
    * rows) is lineage-cut and broadcast back into the next round's
    * scoring join, so each round costs one broadcast join + the in-row
    * DP + one explode/HashAggregate, at any corpus size. Harness q394
    * replays two full rounds in unrolled SQL.
    *
    * @return the trained distribution: (piece, cnt, lp) for the kept
    *         vocabulary after the final round, lp normalized over it
    */
  def unigramEmTrain(
      df: DataFrame, textCol: String,
      rounds: Int = 2, maxPieceLen: Int = 4, vocabSize: Int = 200,
      maxWordLen: Int = 16, unkLp: Double = -20.0): DataFrame = {
    require(rounds >= 1 && rounds <= 4, s"rounds must be in [1,4], got $rounds")
    require(maxPieceLen >= 1 && maxPieceLen <= 8,
      s"maxPieceLen must be in [1,8], got $maxPieceLen")
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxWordLen >= 1 && maxWordLen <= 32,
      s"maxWordLen must be in [1,32], got $maxWordLen")
    val words = Materialize.cut(unigramWords(df, textCol, maxWordLen))
    val subs = unigramSubs(words, maxPieceLen)
    var vocab = Materialize.cut(
      substringVocabLp(subs, vocabSize)
        .select(col("piece"), lit(0L).as("cnt"), col("lp")))
    for (_ <- 1 to rounds) {
      val counts = pathPieceCounts(scoredPieces(subs, vocab, unkLp))
      val kept = counts.orderBy(col("cnt").desc, col("piece")).limit(vocabSize)
      val total = kept.agg(sum(col("cnt")).as("__tot")) // 1 row, broadcast
      vocab = Materialize.cut(kept.crossJoin(broadcast(total))
        .select(col("piece"), col("cnt"),
          round(log(col("cnt").cast("double") / col("__tot").cast("double")),
            12).as("lp")))
    }
    vocab
  }

  /** GPT-style sequence packing plan: concatenate the corpus in
    * `idCol` order and cut every `seqLen` tokens — the packing every
    * autoregressive pretraining run performs, planned as a table so
    * the writer knows, for every document, which training sequences it
    * lands in and whether a cut splits it. The boundary-crossing
    * fraction this exposes is the attention-contamination metric
    * packing decisions are made on (vs the truncation losses
    * [[truncationStats]] tables for the pad-and-truncate alternative).
    *
    * The global running token offset is the exclusive
    * [[GlobalRank.runningSum]] over fixed-width id buckets, as in
    * [[ScaleAudit.planExportShards]] — no single-partition window ever
    * sees per-row data, so the plan distributes at any corpus size. All
    * arithmetic is integer; the oracle (harness q386) replays it with
    * one window cumsum.
    *
    * @param df            one row per document
    * @param tokenCountCol precomputed token count (caller picks the
    *                      tokenizer — [[bpeishTokenCount]], whitespace,
    *                      a real BPE apply)
    * @param seqLen        training context length (tokens per sequence)
    * @param bucketWidth   id-bucket width of the two-level cumsum
    * @return per document: (idCol, n_tokens, start_offset, first_seq,
    *         last_seq, offset_in_seq, n_seqs_spanned, crosses_boundary)
    *         — a zero-token document occupies no span and reports its
    *         would-be sequence with n_seqs_spanned = 1
    */
  def sequencePack(
      df: DataFrame, idCol: String, tokenCountCol: String,
      seqLen: Int, bucketWidth: Long = 1024L): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(tokenCountCol).cast("long").as("__n"))
      .withColumn("__b",
        ((col("__id") - pmod(col("__id"), lit(bucketWidth)))
          / lit(bucketWidth)).cast("long"))
    def seqOf(tok: Column): Column =
      ((tok - pmod(tok, lit(seqLen.toLong))) / lit(seqLen.toLong)).cast("long")
    GlobalRank.runningSum(base, keys = Nil, bucket = Seq(col("__b")),
        order = Seq(col("__id")), values = Seq("__n" -> "start_offset"), inclusive = false)
      .withColumn("first_seq", seqOf(col("start_offset")))
      .withColumn("last_seq",
        when(col("__n") > 0L, seqOf(col("start_offset") + col("__n") - 1L))
          .otherwise(col("first_seq")))
      .withColumn("offset_in_seq", pmod(col("start_offset"), lit(seqLen.toLong)))
      .withColumn("n_seqs_spanned", col("last_seq") - col("first_seq") + 1L)
      .withColumn("crosses_boundary", col("n_seqs_spanned") > 1L)
      .select(col("__id").as(idCol), col("__n").as("n_tokens"),
        col("start_offset"), col("first_seq"), col("last_seq"),
        col("offset_in_seq"), col("n_seqs_spanned"), col("crosses_boundary"))
  }

  /** Incremental [[sequencePack]]: extend a FROZEN packing manifest
    * with an appended document batch without re-planning the corpus —
    * the continual-ingest shape ([[TextDedup]]'s incremental winnowing,
    * `streaming.ContinualDedup`) applied to packing. The batch's
    * offsets continue from the manifest's total token count, so
    * manifest ∪ append is row-identical to packing the full corpus in
    * one shot when ids are append-only (spec-pinned).
    *
    * The manifest contributes two broadcast scalars (total tokens, max
    * id) — the frozen rows are scanned once, never re-windowed. Rows
    * that violate the append-only id contract still pack
    * deterministically but carry `append_ok = false` so the caller can
    * quarantine them instead of silently corrupting the plan.
    *
    * @param manifest prior [[sequencePack]] output (needs idCol +
    *                 n_tokens)
    * @return the new batch's manifest rows + `append_ok`
    */
  def sequencePackAppend(
      manifest: DataFrame, newDocs: DataFrame, idCol: String,
      tokenCountCol: String, seqLen: Int,
      bucketWidth: Long = 1024L): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val frozen = manifest.agg(
      coalesce(sum(col("n_tokens")), lit(0L)).as("__base"),
      max(col(idCol)).as("__maxid")) // 1 row, broadcast below
    val packed = sequencePack(newDocs, idCol, tokenCountCol, seqLen,
      bucketWidth)
    def seqOf(tok: Column): Column =
      ((tok - pmod(tok, lit(seqLen.toLong))) / lit(seqLen.toLong)).cast("long")
    packed.crossJoin(broadcast(frozen))
      .withColumn("start_offset", col("start_offset") + col("__base"))
      .withColumn("first_seq", seqOf(col("start_offset")))
      .withColumn("last_seq",
        when(col("n_tokens") > 0L,
          seqOf(col("start_offset") + col("n_tokens") - 1L))
          .otherwise(seqOf(col("start_offset"))))
      .withColumn("offset_in_seq",
        pmod(col("start_offset"), lit(seqLen.toLong)))
      .withColumn("n_seqs_spanned", col("last_seq") - col("first_seq") + 1L)
      .withColumn("crosses_boundary", col("n_seqs_spanned") > 1L)
      .withColumn("append_ok",
        col("__maxid").isNull || col(idCol) > col("__maxid"))
      .drop("__base", "__maxid")
  }

  /** Seeded token-dropout augmentation (the EDA random-deletion
    * transform of Wei & Zou 2019, made reproducible): each token
    * position drops independently when its content hash
    * md5("<id>:<pos>:<seed>") falls under `dropFrac` of the 60-bit
    * space, and the surviving tokens rebuild in order. Hash membership,
    * not rand(): a recomputed lineage regenerates the IDENTICAL
    * augmented corpus (the [[graft.operators.Mixture.sampleByHash]]
    * discipline, per position), different seeds give independent
    * augmentation epochs, and the whole transform replays in SQL.
    * Output: (id, n_tokens, n_kept, aug_text); a fully-dropped document
    * survives with aug_text = "" rather than disappearing. The rebuild
    * is a per-DOCUMENT sorted collect — bounded by document length,
    * partitioned by id, the same shape [[TextDedup.removeDupSpans]]
    * uses.
    */
  def tokenDropout(
      df: DataFrame, textCol: String, idCol: String,
      dropFrac: Double, seed: Long): DataFrame = {
    require(dropFrac >= 0.0 && dropFrac < 1.0,
      s"dropFrac must be in [0,1), got $dropFrac")
    val base = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val pos = base.select(col(idCol), posexplode(col("__t")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__tok")
    val h = TextFunctions.md5Hash60(concat(
      col(idCol).cast("string"), lit(":"), col("__p").cast("string"),
      lit(":" + seed)))
    val kept = pos
      .filter(h >= lit((dropFrac * (1L << 60).toDouble).toLong))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("__p"), col("__tok")))),
          e => e.getField("__tok")), " ").as("aug_text"))
    base.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("aug_text"), lit("")).as("aug_text"))
  }

  private val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val UrlRe = "(?i)https?://[^\\s]+"

  /** PII scrubbing: redact emails and URLs (case-insensitive; the
    * regexes are plain RE2/Java-compatible, so any engine replays
    * them), with match counts for audit. The two audit counts run
    * independent extracts over the original text, so an email embedded
    * in a URL query-string is counted in BOTH audits; the redacted
    * output replaces emails first, then URLs.
    */
  def redactPii(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df
      .withColumn("n_emails",
        size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_urls",
        size(regexp_extract_all(t, lit(UrlRe), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(t, EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"))
  }

  /** Token-window chunking for training-data preparation: fixed-size
    * token windows with overlap (`step = size - overlap`), the standard
    * pre-tokenizer document splitter. Chunk starts are a `sequence`
    * column exploded per document — a narrow row-generating map, no
    * shuffle; clamped slices make the last chunk short instead of
    * padded.
    */
  def chunkTokens(
      df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      "need chunkSize > overlap >= 0")
    val step = chunkSize - overlap
    val toks = TextFunctions.tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= chunkSize, lit(1)).otherwise(
      ceil((n - lit(chunkSize)).cast("double") / step).cast("int") + 1)
    df.select(col(idCol), toks.as("__toks"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(col(idCol), col("pos").cast("long").as("chunk_idx"),
        slice(col("__toks"), col("pos") * step + 1, lit(chunkSize)).as("__c"))
      .select(col(idCol), col("chunk_idx"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Sequence packing (concat-and-cut): assign documents/chunks to
    * fixed-token-budget training bins. The stream is SHARDED by
    * `pmod(id, shards)` so no partition ever carries a global running
    * sum — the per-shard window is the only ordering, and shards scale
    * horizontally (each is an independent packing stream, which is how
    * production packers parallelize). Within a shard, docs concatenate
    * in id order and a doc belongs to the bin where its FIRST token
    * lands (the concat-then-split convention: a doc may straddle the
    * cut; the trainer's splitter owns the tail). Deterministic — pure
    * arithmetic on (id, token count), no rand, no partition
    * dependence. Returns one row per (shard, bin) with doc and token
    * tallies.
    *
    * Sizing `shards`: set it ≈ total cluster cores — parallelism is
    * bounded by it (each shard is one window partition carrying
    * ~1/shards of the corpus). Any value ≥ 1 is semantically correct;
    * `shards = 1` is the fully-serial degenerate case (one global
    * packing stream), useful only when exact single-stream bin layout
    * matters more than parallelism.
    */
  def packSequences(
      df: DataFrame,
      idCol: String,
      tokenCountCol: String,
      targetTokens: Int,
      shards: Int = 64): DataFrame = {
    require(targetTokens > 0 && shards > 0, "need positive target and shards")
    val w = Window.partitionBy(col("__shard")).orderBy(col(idCol))
    df.withColumn("__shard", pmod(col(idCol), lit(shards)))
      .withColumn("__end", sum(col(tokenCountCol)).over(w))
      .withColumn("bin",
        floor((col("__end") - col(tokenCountCol)) / lit(targetTokens)))
      .groupBy(col("__shard").cast("long").as("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokenCountCol)).cast("long").as("sum_tokens"))
  }

  /** Gopher-style repetition statistics (the public repetition filter
    * family of Rae et al. 2021, "Scaling Language Models: Methods,
    * Analysis & Insights from Training Gopher", appendix A1.1):
    * repetitive documents are low-value training data, and the cheap
    * signals are the share of the most frequent token and the fraction
    * of n-gram occurrences whose n-gram appears more than once. Per
    * document: `n_tokens`, `top_token_frac` (count of the modal token /
    * total tokens), `dup_token_frac`, `dup_2gram_frac`, `dup_3gram_frac`
    * (occurrences belonging to repeated uni/bi/tri-grams over total
    * occurrences of that order).
    *
    * Dataflow shape is [[tfidf]]'s: per gram order, one explode + two
    * hash aggregations keyed by (doc, gram) then (doc) — partial
    * aggregation absorbs the repetition map-side, nothing is collected,
    * and no per-row O(len²) array scan (the arrays stay O(len) per row;
    * counting happens in the aggregate). Documents shorter than n
    * tokens have no n-grams: their fraction is NULL, not 0.
    */
  def repetitionStats(
      df: DataFrame, textCol: String, idCol: String,
      singleScan: Boolean = false): DataFrame = {
    // Two plan shapes, same exact result (spec-asserted):
    //   - three-branch (default): one scan + (id, gram) aggregate PER
    //     gram order, joined on id. Wins when the input is cheap to
    //     re-read (OS-cached local parquet, a materialized upstream
    //     stage) — measured ~1.8x faster at sf0.1 than single-scan,
    //     because re-scanning costs ~nothing and three narrow pipelines
    //     beat one wide explode;
    //   - singleScan = true: all three gram orders explode out of ONE
    //     scan + tokenization. Wins when the scan dominates — a 100 TB
    //     corpus read from object storage is priced per scan, and this
    //     shape reads it once instead of three times. No order tag
    //     travels with the grams: tokens carry no whitespace by
    //     construction, so an n-gram has exactly n-1 spaces — order is
    //     recomputed after the first aggregate on the (much smaller)
    //     distinct-gram rows, and cross-order key collisions are
    //     impossible, making (id, gram) alone a valid count key.
    def gramsOf(toks: Column, n: Int): Column =
      if (n == 1) toks
      else {
        val cnt = size(toks) - (n - 1)
        when(cnt > 0, transform(sequence(lit(1), cnt),
          i => array_join(slice(toks, i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))
      }
    val finalCols = (in: DataFrame) => in.select(col(idCol),
      col("__n1").cast("long").as("n_tokens"),
      round(col("__top1").cast("double") / col("__n1"), 12)
        .as("top_token_frac"),
      round(col("__dup1").cast("double") / col("__n1"), 12)
        .as("dup_token_frac"),
      round(col("__dup2").cast("double") / col("__n2"), 12)
        .as("dup_2gram_frac"),
      round(col("__dup3").cast("double") / col("__n3"), 12)
        .as("dup_3gram_frac"))
    if (singleScan) {
      val stats = df
        .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__toks"))
        .select(col(idCol), explode(flatten(array(
          gramsOf(col("__toks"), 1), gramsOf(col("__toks"), 2),
          gramsOf(col("__toks"), 3)))).as("__g"))
        .groupBy(col(idCol), col("__g"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__o", size(split(col("__g"), " ", -1)))
        .groupBy(col(idCol), col("__o"))
        .agg(sum(col("__c")).as("__tot"), max(col("__c")).as("__top"),
          sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as("__dup"))
      def pick(o: Int, c: String) = max(when(col("__o") === o, col(c)))
      finalCols(stats.groupBy(col(idCol))
        .agg(pick(1, "__tot").as("__n1"), pick(1, "__top").as("__top1"),
          pick(1, "__dup").as("__dup1"),
          pick(2, "__tot").as("__n2"), pick(2, "__dup").as("__dup2"),
          pick(3, "__tot").as("__n3"), pick(3, "__dup").as("__dup3")))
    } else {
      val base = df.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("__toks"))
      def gramStats(n: Int, total: String, top: String, dup: String): DataFrame =
        base.select(col(idCol), explode(gramsOf(col("__toks"), n)).as("__g"))
          .groupBy(col(idCol), col("__g"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col(idCol))
          .agg(sum(col("__c")).as(total), max(col("__c")).as(top),
            sum(when(col("__c") > 1, col("__c")).otherwise(0L)).as(dup))
      val t1 = gramStats(1, "__n1", "__top1", "__dup1")
      val t2 = gramStats(2, "__n2", "__top2", "__dup2")
      val t3 = gramStats(3, "__n3", "__top3", "__dup3")
      finalCols(t1.join(t2, Seq(idCol), "left").join(t3, Seq(idCol), "left"))
    }
  }

  /** The unigram slice of [[repetitionStats]] — n_tokens and
    * top_token_frac only, from ONE explode + aggregate. A pipeline that
    * gates on the top-token share alone (the strongest single Gopher
    * signal) pays one gram order instead of three; values are identical
    * to the full operator's columns of the same name.
    */
  def topTokenStats(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("__t"))
      .groupBy(col(idCol), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(sum(col("__c")).as("__tot"), max(col("__c")).as("__top"))
      .select(col(idCol),
        col("__tot").cast("long").as("n_tokens"),
        round(col("__top").cast("double") / col("__tot"), 12)
          .as("top_token_frac"))

  /** Vocabulary richness: token/type counts and type-token ratio. */
  def vocabStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 12)
        .as("ttr"))
  }

  /** Per-domain corpus report — the dataset-card rollup every corpus
    * release ships: document and token counts, aggregate quality, and
    * language diversity per source. Pure composition of the already-
    * verified signals ([[qualityScore]], [[languageId]]) into one
    * grouped aggregate; quality sums accumulate in DECIMAL so the
    * rollup is order-independent.
    */
  def corpusReport(
      df: DataFrame, textCol: String, idCol: String,
      domainCol: String): DataFrame = {
    val scored = qualityScore(df, textCol)
      .withColumn("__lang", languageId(col(textCol)))
    scored.groupBy(col(domainCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("sum_tokens"),
        sum(col("quality_score").cast("decimal(25,6)")).cast("double")
          .as("sum_quality"),
        countDistinct(col("__lang")).as("n_langs"))
      .orderBy(col(domainCol))
  }

  /** Canonical + order-sensitive document fingerprints. */
  def fingerprints(df: DataFrame, textCol: String): DataFrame =
    df
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol)))
      .withColumn("rolling_hash",
        TextFunctions.rollingHash(TextFunctions.tokens(col(textCol))))

  /** Checksum-validated payment-card redaction via the codegen'd
    * [[graft.functions.LuhnExpr]] scanner: maximal 13-19-digit runs
    * that pass the Luhn check become `[CARD]`; everything else —
    * including pattern-lookalike order ids that fail the checksum —
    * passes through untouched. One narrow map, no regex engine, no
    * shuffle; the complement to [[redactPii]]'s pattern-only scrub.
    */
  def redactCardNumbers(
      df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    df.select(col(idCol),
      graft.functions.LuhnExpr.luhnCount(spark, col(textCol)).as("n_cards"),
      graft.functions.LuhnExpr.luhnMask(spark, col(textCol)).as("redacted_text"))
  }

  /** T5/UL2-style span corruption, block-local so membership is a pure
    * per-position hash (seed-reproducible, engine-replayable — the same
    * property [[tokenDropout]] has, lifted from single tokens to spans):
    *
    *   - positions split into fixed blocks of `blockSize` (a power of
    *     two, so block id and offset are bit ops);
    *   - a block is corrupted iff `hash(id, block, seed) % corruptDen
    *     == 0` (expected corruption rate 1/corruptDen of blocks);
    *   - inside a corrupted block, the span `[start, start+spanLen)`
    *     (start hashed per block) is masked; the masked RUN collapses
    *     to one `<extra_id_k>` sentinel in the corrupted text, and the
    *     per-doc targets line is the T5 decoder string
    *     `<extra_id_0> tok … <extra_id_1> tok …`.
    *
    * Block-locality means spans never straddle or merge across blocks —
    * that is what makes the mask a stateless per-position expression
    * instead of a sequential scan, so the whole operator is
    * posexplode → narrow maps → one per-doc aggregate: embarrassingly
    * parallel at 100 TB, shuffling (id, pos, token) triples once.
    * Sentinel ids are dense per document in block order.
    */
  def spanCorrupt(
      df: DataFrame, textCol: String, idCol: String,
      blockSize: Int = 16, spanLen: Int = 3, corruptDen: Int = 4,
      seed: Long = 42L): DataFrame = {
    require(blockSize > 0 && (blockSize & (blockSize - 1)) == 0,
      s"blockSize must be a power of two, got $blockSize")
    require(spanLen >= 1 && spanLen < blockSize,
      s"spanLen must be in [1, blockSize), got $spanLen")
    require(corruptDen >= 1, s"corruptDen must be >= 1, got $corruptDen")
    val shift = Integer.numberOfTrailingZeros(blockSize)
    val starts = blockSize - spanLen + 1
    val base = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("__t"))
    val pos = base.select(col(idCol), posexplode(col("__t")))
      .withColumnRenamed("pos", "__p").withColumnRenamed("col", "__tok")
      .withColumn("__b", shiftright(col("__p"), shift))
    val hCorrupt = TextFunctions.md5Hash60(concat(
      col(idCol).cast("string"), lit(":b:"), col("__b").cast("string"),
      lit(":" + seed)))
    val hStart = TextFunctions.md5Hash60(concat(
      col(idCol).cast("string"), lit(":s:"), col("__b").cast("string"),
      lit(":" + seed)))
    val marked = pos
      .withColumn("__start", when(pmod(hCorrupt, lit(corruptDen.toLong)) === 0,
        pmod(hStart, lit(starts.toLong))).otherwise(lit(null)))
      .withColumn("__off", col("__p").bitwiseAND(lit((blockSize - 1).toLong)))
      .withColumn("__masked",
        col("__start").isNotNull && col("__off") >= col("__start") &&
          col("__off") < col("__start") + spanLen)
    // sentinel ids: dense per doc, in block order, over blocks that
    // actually masked >= 1 token (a hashed start past a short tail
    // block masks nothing and gets no sentinel)
    val spanHeads = marked.filter(col("__masked"))
      .groupBy(col(idCol), col("__b"))
      .agg(min(col("__p")).as("__hp"))
      .withColumn("__k",
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("__b"))) - 1)
    val sentinels = spanHeads.select(col(idCol), col("__hp").as("__p"),
      concat(lit("<extra_id_"), col("__k").cast("string"), lit(">")).as("__tok"))
    val corrupted = marked.filter(!col("__masked"))
      .select(col(idCol), col("__p"), col("__tok"))
      .unionByName(sentinels)
      .groupBy(col(idCol))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("__p"), col("__tok")))),
        e => e.getField("__tok")), " ").as("corrupted_text"))
    // targets: "<extra_id_k> tok tok ..." in position order — prefix the
    // sentinel onto each span's FIRST token, then one ordered aggregate
    val targetToks = marked.filter(col("__masked"))
      .join(spanHeads, Seq(idCol, "__b"))
      .select(col(idCol), col("__p"),
        when(col("__p") === col("__hp"),
          concat(lit("<extra_id_"), col("__k").cast("string"), lit("> "), col("__tok")))
          .otherwise(col("__tok")).as("__tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_masked"),
        array_join(transform(
          sort_array(collect_list(struct(col("__p"), col("__tok")))),
          e => e.getField("__tok")), " ").as("target_text"))
    val nSpans = spanHeads.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"))
    base.select(col(idCol), size(col("__t")).cast("long").as("n_tokens"))
      .join(corrupted, Seq(idCol), "left")
      .join(targetToks, Seq(idCol), "left")
      .join(nSpans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        coalesce(col("corrupted_text"), lit("")).as("corrupted_text"),
        coalesce(col("target_text"), lit("")).as("target_text"))
  }

  /** Interpolated Kneser-Ney bigram log-probability of each document
    * under a reference corpus — the classic LM-quality filter one step
    * up from [[trigramBackoffLogProb]]'s stupid backoff: instead of a
    * fixed backoff multiplier, absolute discounting frees mass
    * per-history and the lower-order distribution is the *continuation*
    * probability (how many distinct histories precede w), which scores
    * collocation-bound words ("francisco") low even when frequent.
    *
    *   P(w2|w1) = max(c(w1,w2) - d, 0)/c(w1)
    *            + d * N1+(w1,*)/c(w1) * Pcont(w2)
    *   Pcont(w2) = N1+(*,w2) / |distinct bigram types|
    *
    * Unseen history w1 falls back to Pcont(w2); a w2 never seen ending
    * a reference bigram gets the uniform floor 1/(B+1). All model
    * tables are bigram-level aggregates of the reference — three hash
    * aggs — and scoring is a per-doc-bigram left join; nothing is
    * driver-side, so the model side scales with reference vocabulary
    * and the scoring side with corpus size.
    *
    * Numeric parity: per-doc sum of n*ln(p) accumulates in decimal;
    * one double division by the bigram count at the end.
    */
  def knBigramLogProb(
      df: DataFrame,
      ref: DataFrame,
      textCol: String,
      idCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    def bigrams(d: DataFrame, outId: String): DataFrame = {
      val t = col("__t")
      d.select(col(outId), TextFunctions.tokens(col(textCol)).as("__t"))
        .filter(size(t) >= 2)
        .select(col(outId), explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("__bg"))
        .select(col(outId), col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
        .groupBy(col(outId), col("w1"), col("w2"))
        .agg(count(lit(1)).as("n"))
    }
    val refBg = bigrams(ref.select(col(textCol), lit(0L).as("__rid")), "__rid")
      .groupBy(col("w1"), col("w2")).agg(sum(col("n")).as("bc"))
    val hist = refBg.groupBy(col("w1"))
      .agg(sum(col("bc")).as("c1"), count(lit(1)).as("n1fw"))
    val cont = refBg.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
    val types = broadcast(refBg.agg(
      count(lit(1)).cast("double").as("__btypes")))
    val d = lit(discount)
    val scored = bigrams(df, idCol)
      .join(refBg, Seq("w1", "w2"), "left")
      .join(hist, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
      .crossJoin(types)
      .withColumn("__pcont",
        coalesce(col("n1bw").cast("double") / col("__btypes"),
          lit(1.0) / (col("__btypes") + 1)))
      .withColumn("__p",
        when(col("c1").isNotNull,
          // bc null (history seen, bigram not) -> discounted mass 0;
          // coalesce BEFORE greatest: engines disagree on greatest(null)
          greatest(coalesce(col("bc").cast("double"), lit(0.0)) - d,
            lit(0.0)) / col("c1").cast("double") +
            d * col("n1fw").cast("double") / col("c1").cast("double") *
            col("__pcont"))
          .otherwise(col("__pcont")))
    scored
      .withColumn("__contrib",
        (col("n") * log(col("__p"))).cast("decimal(30,12)"))
      .groupBy(col(idCol))
      .agg(sum(col("__contrib")).as("__slp"), sum(col("n")).as("__nb"))
      .select(col(idCol), col("__nb").cast("long").as("n_bigrams"),
        (col("__slp").cast("double") / col("__nb")).as("kn_logprob"),
        exp(-(col("__slp").cast("double") / col("__nb"))).as("perplexity"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing — the language-
    * modeling IR baseline beside [[bm25]]:
    *
    *   score(q, D) = sum_{w in q} log( (tf(w,D) + mu * cf(w)/|C|)
    *                                   / (|D| + mu) )
    *
    * Every document scores every query term (smoothing gives unseen
    * terms mass), so the score decomposes as
    *   sum log(mu * cf/|C|) - |q| * log(|D| + mu)     [background]
    *   + sum_{matched} [log(tf + mu*cf/|C|) - log(mu*cf/|C|)]
    * and only the *matched* doc-term pairs need a join — the inverted-
    * index shape: shuffle is bounded by postings, not |docs| x |terms|.
    * Query terms absent from the whole corpus are dropped (cf = 0 has
    * no defined Dirichlet mass), mirroring standard QL implementations.
    *
    * Output: one row per document with any query term, scored; `k`
    * highest kept globally (ties by id).
    */
  def queryLikelihood(
      df: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      mu: Double = 2000.0,
      k: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(mu > 0, s"mu must be positive, got $mu")
    val toks = df.select(col(idCol),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val docLen = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val cf = toks.groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val corpus = broadcast(toks.agg(count(lit(1)).cast("double").as("__ctot")))
    val q = df.sparkSession.createDataFrame(
      queryTerms.distinct.map(Tuple1(_))).toDF("term")
    // background model of the query terms present in the corpus —
    // tiny (|q| rows): broadcast both into the postings join
    val qModel = broadcast(q.join(cf, Seq("term")).crossJoin(corpus)
      .select(col("term"),
        (lit(mu) * col("cf").cast("double") / col("__ctot")).as("__bg")))
    val qBgSum = broadcast(qModel.agg(
      sum(log(col("__bg")).cast("decimal(30,12)")).cast("double").as("__bgsum"),
      count(lit(1)).cast("double").as("__nq")))
    val matched = toks.join(qModel, Seq("term"))
      .groupBy(col(idCol), col("term"), col("__bg"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("__lift",
        (log(col("tf").cast("double") + col("__bg")) - log(col("__bg")))
          .cast("decimal(30,12)"))
      .groupBy(col(idCol)).agg(sum(col("__lift")).as("__lsum"),
        count(lit(1)).as("n_matched"))
    matched
      .join(docLen, Seq(idCol))
      .crossJoin(qBgSum)
      .select(col(idCol), col("n_matched"),
        // round BEFORE the top-k cut: a 1-ulp cross-engine divergence
        // in the raw double must not reorder the selection boundary
        round(col("__lsum").cast("double") + col("__bgsum") -
          col("__nq") * log(col("dl").cast("double") + mu), 10).as("ql_score"))
      .orderBy(col("ql_score").desc, col(idCol))
      .limit(k)
  }

  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004):
    * corpus-wide word co-occurrence graph (undirected edges between
    * tokens within `window` positions of each other in any document)
    * ranked by [[Graphs.pageRank]] — the unsupervised keyword scorer
    * that needs no training data, here over the whole corpus rather
    * than one document so the graph build is a real dataflow.
    *
    * Scale shape: co-occurrence pairs come from an offset-exploded
    * equi-join on (doc, position) — no range condition — and collapse
    * to DISTINCT vocabulary-sized edges before the (vocabulary-sized)
    * pageRank iterations; the corpus-sized token table is touched
    * exactly twice (pairs + vertex set).
    */
  def textRankKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      iters: Int = 3,
      topN: Int = 20): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val tok = df
      .select(col(idCol).as("__doc"),
        posexplode(TextFunctions.tokens(col(textCol))))
      .select(col("__doc"), col("pos").as("__p"), col("col").as("__w"))
      .where(col("__w") =!= "")
    val lhs = tok.select(col("__doc"), col("__p"), col("__w").as("w1"),
      explode(sequence(lit(1), lit(window))).as("__off"))
    val rhs = tok.select(col("__doc").as("__d2"), col("__p").as("__p2"),
      col("__w").as("w2"))
    val pairs = lhs.join(rhs,
        col("__doc") === col("__d2") && col("__p") + col("__off") === col("__p2"))
      .filter(col("w1") =!= col("w2"))
      .select(col("w1"), col("w2")).distinct()
    val edges = pairs.select(col("w1").as("src"), col("w2").as("dst"))
      .unionByName(pairs.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
    val vertices = tok.select(col("__w").as("word")).distinct()
    Graphs.pageRank(vertices, "word", edges, "src", "dst", iters)
      .orderBy(col("pagerank").desc, col("word"))
      .limit(topN)
      .select(col("word"), round(col("pagerank"), 12).as("pagerank"))
  }

  /** Tokenizer fertility by language: subword-proxy tokens per
    * whitespace word (the HF "fertility" metric), plus bytes/token and
    * chars/token — the per-language cost model that sizes a token
    * budget against a byte budget before a training run (a language at
    * fertility 3 burns 3x the context of one at 1.2 for the same text).
    * Token proxy is [[bpeishTokenCount]]; words are non-empty
    * whitespace tokens. One narrow projection + one hash aggregate on
    * the language key; all sums are integer counts (exact at any
    * parallelism), ratios are computed once per group and rounded.
    */
  def tokenizerFertility(
      df: DataFrame, langCol: String, textCol: String): DataFrame = {
    val words = size(filter(TextFunctions.tokens(col(textCol)),
      w => w =!= ""))
    df.select(col(langCol).as("lang"),
        words.cast("long").as("__w"),
        bpeishTokenCount(col(textCol)).as("__t"),
        octet_length(col(textCol)).cast("long").as("__b"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__w")).as("n_words"),
        sum(col("__t")).as("n_tokens"),
        sum(col("__b")).as("n_bytes"),
        sum(col("__c")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double")
          / nullif(col("n_words"), lit(0L)).cast("double"), 12)
          .as("fertility"),
        round(col("n_bytes").cast("double")
          / nullif(col("n_tokens"), lit(0L)).cast("double"), 12)
          .as("bytes_per_token"),
        round(col("n_chars").cast("double")
          / nullif(col("n_tokens"), lit(0L)).cast("double"), 12)
          .as("chars_per_token"))
  }

  /** Heaps'-law fit V(N) = K·N^β over the corpus's vocabulary-growth
    * curve: documents are consumed in id order, each contributing its
    * token count to the running total N and its never-seen-before
    * tokens to the running vocabulary V; OLS of ln V on ln N yields
    * (β, K, r²) — the standard estimate of how vocabulary (and thus
    * embedding-table pressure and OOV rates) grows with corpus size,
    * the forward-extrapolation companion to [[zipfFit]]'s head check.
    *
    * Scale shape: first-occurrence is a token-keyed min aggregate (the
    * vocab never travels as a set), and the two running totals are one
    * [[GlobalRank.runningSum]] over fixed-width doc-id buckets (its
    * only unpartitioned window runs over corpus/width bucket totals,
    * 1024x smaller than the input). No global single-partition window
    * touches per-doc rows.
    * OLS sums decimal-accumulate 12-place products of ln values, the
    * [[zipfFit]] parity discipline.
    */
  def heapsLawFit(
      df: DataFrame, idCol: String, textCol: String,
      bucketWidth: Long = 1024L): DataFrame = {
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val tok = df.select(col(idCol).cast("long").as("__doc"),
        explode(TextFunctions.tokens(col(textCol))).as("__w"))
      .where(col("__w") =!= "")
    val perDocTok = tok.groupBy(col("__doc"))
      .agg(count(lit(1)).as("__nt"))
    val perDocNew = tok.groupBy(col("__w"))
      .agg(min(col("__doc")).as("__doc"))
      .groupBy(col("__doc")).agg(count(lit(1)).as("__nv"))
    val perDoc = perDocTok
      .join(perDocNew, Seq("__doc"), "left")
      .na.fill(0L, Seq("__nv"))
      .withColumn("__b",
        ((col("__doc") - pmod(col("__doc"), lit(bucketWidth)))
          / lit(bucketWidth)).cast("long"))
    val xy = GlobalRank.runningSum(perDoc, keys = Nil, bucket = Seq(col("__b")),
        order = Seq(col("__doc")), values = Seq("__nt" -> "__N", "__nv" -> "__V"),
        inclusive = true)
      .select(log(col("__N").cast("double")).as("__x"),
        log(col("__V").cast("double")).as("__y"))
    def dsum(c: Column) = sum(c.cast("decimal(30,12)")).cast("double")
    val slope = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
      (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    xy.agg(count(lit(1)).cast("double").as("__n"),
        dsum(col("__x")).as("__sx"), dsum(col("__y")).as("__sy"),
        dsum(col("__x") * col("__x")).as("__sxx"),
        dsum(col("__x") * col("__y")).as("__sxy"),
        dsum(col("__y") * col("__y")).as("__syy"))
      .select(col("__n").cast("long").as("n_docs"),
        slope.as("heaps_beta"),
        exp((col("__sy") - col("__sx") * slope) / col("__n")).as("heaps_k"),
        (((col("__n") * col("__sxy") - col("__sx") * col("__sy"))
          * (col("__n") * col("__sxy") - col("__sx") * col("__sy")))
          / ((col("__n") * col("__sxx") - col("__sx") * col("__sx"))
            * (col("__n") * col("__syy") - col("__sy") * col("__sy"))))
          .as("r2"))
  }
}

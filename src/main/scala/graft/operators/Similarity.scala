package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over an embedding column (`array<float>`):
  *
  *   - [[cosineTopK]]: brute-force exact top-k — broadcast the (small)
  *     query set against the corpus; correctness baseline and the right
  *     plan whenever |queries| is bounded;
  *   - [[lshCosineTopK]]: random-hyperplane LSH — sign-bit sketches,
  *     multi-band bucketing, exact re-rank within buckets. The scale
  *     path: corpus is bucketed by equi-join keys, so each query only
  *     scores its colliding candidates;
  *   - [[cosineNearDupPairs]]: all corpus pairs above a cosine threshold
  *     via the same banding (embedding near-dedup).
  *
  * Dot products are pure column expressions (`zip_with` + decimal-exact
  * `aggregate`) — no UDFs, no driver-side math. Hyperplanes are
  * generated deterministically from a seed via md5-derived uniforms, so
  * results are reproducible without a Math.random dependency.
  *
  * Defined behavior for malformed rows: a null or empty embedding has
  * no dimensions to explode, so the row is EXCLUDED from sketching,
  * candidate generation, scoring, and top-k output (its cosine is
  * undefined — there is nothing meaningful to rank). Vectors are
  * assumed uniform-dimension: a ragged row scores over the dimensions
  * it shares with its partner (the per-dimension join keeps only
  * common indices), it is not detected. Validate dimensions upstream
  * if the source cannot guarantee them.
  */
object Similarity {

  /** Exact dot product with decimal accumulation (order-independent,
    * cross-engine reproducible). Lowers to the codegen'd
    * [[graft.functions.ExactDotExpr]] — bit-identical values to the
    * old `aggregate(zip_with(...))` fold (same per-element decimal
    * quantization, exact sum), but one tight loop per row inside
    * whole-stage codegen instead of an interpreted two-lambda tree;
    * the single largest per-row cost of every cosine path before the
    * round-13 optimization pass.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.Native.exactDot(a, b)

  /** Plain double dot product — the sequential left-to-right fold,
    * no decimal quantization; used as a prefilter where the final
    * answer is still decided by the exact path. Lowers to the
    * codegen'd [[graft.functions.PlainDotExpr]] (bit-identical to the
    * old lambda fold: same element order, same double adds).
    */
  def dotDouble(a: Column, b: Column): Column =
    graft.functions.Native.plainDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Per-id exact norms in dataflow form: explode dims, decimal-`sum`
    * the squares, sqrt — equal to [[norm]] (exact decimal adds), but a
    * tiny generic aggregate instead of a 64-term generated expression.
    * Generated-code size is the cold-start cost that dominates these
    * queries on a fresh JVM: a 64-wide unrolled decimal chain costs
    * seconds of janino+JIT per distinct stage, while this shape reuses
    * Spark's stock HashAggregate codegen.
    */
  private def normTable(
      df: DataFrame, idCol: String, outId: String, vecCol: String,
      outNorm: String): DataFrame =
    df.select(col(idCol).as(outId), posexplode(col(vecCol)))
      .select(col(outId), col("col").cast("double").as("__x"))
      .groupBy(col(outId))
      .agg(sqrt(sum((col("__x") * col("__x")).cast("decimal(30,18)"))
        .cast("double")).as(outNorm))

  /** Exact cosine for an explicit (query_id, neighbor_id) pair list:
    * explode corpus dims once, broadcast-join the exploded query dims,
    * decimal-`sum` per pair, then attach norms. All shuffles carry ids
    * and scalars; the expensive side (corpus) is joined by id, so cost
    * is O(|pairs| * dim) rows through one HashAggregate.
    */
  private def scorePairs(
      pairs: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    // Same in-row shape as [[exactPairCosine]]: whole vectors +
    // precomputed norms attach by id (corpus via one hash join of
    // O(|pairs|) rows, queries broadcast), the exact decimal [[dot]]
    // folds per row — bit-identical to the old explode/HashAggregate
    // path, minus the |pairs|·dim keyed shuffle. Null/empty vectors had
    // no dims to explode and so dropped their pairs; the filter keeps
    // that contract.
    val cSide = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__vc"),
        norm(col(vecCol)).as("__cn"))
    val qSide = broadcast(
      queries.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
        .select(col(idCol).as("query_id"), col(vecCol).as("__vq"),
          norm(col(vecCol)).as("__qn")))
    pairs
      .join(cSide, Seq("neighbor_id"))
      .join(qSide, Seq("query_id"))
      .withColumn("cosine",
        dot(col("__vq"), col("__vc")) / (col("__qn") * col("__cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** Exact cosine for symmetric (id_a, id_b) corpus pairs — like
    * [[scorePairs]] but with both sides joined by id (no broadcast:
    * corpus-scale on both ends, pair list assumed small relative to the
    * corpus).
    */
  private def exactPairCosine(
      pairs: DataFrame, df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Attach whole vectors + precomputed norms by id (two hash joins of
    // O(|pairs|) rows), then fold the dot product IN-ROW with the exact
    // decimal [[dot]]. Bit-identical to the old explode-and-HashAggregate
    // shape (decimal adds are exact, so an ordered fold equals an
    // unordered sum of the same quantized terms) but the shuffles carry
    // |pairs| rows instead of |pairs|·dim exploded triples — measured 2x
    // on the sf0.1 kNN-graph build, and strictly less shuffle volume at
    // any scale (one packed array per row vs dim keyed rows).
    // null/empty embeddings had no dimensions to explode in the old
    // shape and so dropped their pairs — keep that documented contract
    val scorable = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    val aSide = scorable.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      norm(col(vecCol)).as("__na"))
    val bSide = scorable.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      norm(col(vecCol)).as("__nb"))
    pairs
      .join(aSide, Seq("id_a"))
      .join(bSide, Seq("id_b"))
      .withColumn("cosine",
        dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cosine"))
  }

  /** Brute-force exact cosine top-k: for each row of `queries`, the k
    * nearest corpus rows (excluding identical ids). The pair list is
    * corpus x queries (queries broadcast — the corpus never shuffles
    * whole vectors, only (id, dim, value) triples into the dot
    * aggregate).
    */
  def cosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    val pairs = corpus.select(col(idCol).as("neighbor_id"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"))))
      .filter(col("neighbor_id") =!= col("query_id"))
    rankTopK(scorePairs(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** Hard-negative mining for contrastive training: for each query row,
    * the `k` corpus rows MOST similar to it among those with a
    * DIFFERENT label — the negatives that sit right at the decision
    * boundary, which is what embedding/reranker training wants (random
    * negatives are trivially separable and teach nothing).
    *
    * Same plan shape as [[cosineTopK]]: the query (id, label) side
    * broadcasts, the corpus never shuffles whole vectors (scoring is
    * the shared (id, dim, value)-triple aggregate), and the label
    * constraint prunes pairs BEFORE any dot product is computed.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame = {
    val pairs = corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__nl"))
      .crossJoin(broadcast(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("__ql"))))
      .filter(col("neighbor_id") =!= col("query_id") &&
        !(col("__nl") <=> col("__ql")))
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(scorePairs(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** Fixed-point int8 quantization of a float vector:
    * `q_i = clamp(floor(v_i * 128), -128, 127)` — the memory-compression
    * step of quantized ANN (4x smaller vectors, integer dot products).
    * The scale is a FIXED power of two, not a data-dependent min/max:
    * float→double widening is exact and multiplying by 2^7 is exact in
    * binary floating point, so every engine computes the identical
    * codes bit-for-bit (a learned scale would inherit the traversal
    * order of its float statistics). Embeddings are unit-scale
    * (|v_i| < 1 after normalization), so the code range is never
    * saturated in practice; the clamp guards pathological inputs.
    */
  def quantizeFixed(vec: Column): Column =
    transform(vec, x =>
      greatest(lit(-128L), least(lit(127L), floor(x.cast("double") * 128))))

  /** Top-k neighbors by integer dot product in the quantized space —
    * the cheap first pass of a quantized retrieval stack (the exact
    * decimal re-rank of [[cosineTopK]] is the refine pass). The plan is
    * a pure broadcast map: quantized query vectors (tiny — int8 codes)
    * broadcast against the corpus, the dot computed per pair by the
    * codegen'd [[graft.functions.QuantizedDotExpr]] — the corpus never
    * shuffles AT ALL; only (query_id, neighbor_id, qdot) id/score rows
    * enter the top-k rank. The dot is a LONG sum (dim * 128² per term,
    * overflow-free for any realistic dim), so scores are exact integers
    * with no float parity concerns. Rows with null/empty vectors are
    * excluded (the object-level undefined-cosine contract).
    */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    corpus.sparkSession.sessionState.functionRegistry
      .createOrReplaceTempFunction("graft_quantized_dot",
        exprs => graft.functions.QuantizedDotExpr(exprs(0), exprs(1)),
        "scala_udf")
    def codes(df: DataFrame, outId: String, outVec: String): DataFrame =
      df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
        .select(col(idCol).as(outId), quantizeFixed(col(vecCol)).as(outVec))
    val dots = codes(corpus, "neighbor_id", "__qc")
      .crossJoin(broadcast(codes(queries, "query_id", "__qq")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        call_function("graft_quantized_dot", col("__qc"), col("__qq"))
          .as("qdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("neighbor_id"))
    dots.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("qdot").cast("long").as("qdot"))
  }

  /** Product-quantization encode against an EXPLICIT codebook table
    * (`sub`, `code`, `cvec` — one `subDim`-length entry per (subvector,
    * code)): each row's vector is cut into `dim / subDim` subvectors and
    * every subvector is replaced by the id of its nearest codebook entry
    * (squared L2, decimal-exact, ties toward the smaller code). Output is
    * (outId, sub, code) — the inverted-index payload of PQ: m single-byte
    * codes per document instead of dim floats, a 32x+ compression of the
    * searchable corpus. Like [[ivfSearchTopK]]'s explicit centroids, the
    * codebook is separated from the search so a caller can train it any
    * way (KMeans per subspace, sampled corpus rows) while the harness
    * drives it with deterministic entries that replay in plain SQL.
    *
    * Plan shape: the codebook explodes to a broadcast (sub, dwi, code,
    * value) table (m x codes x subDim rows — tiny by construction); the
    * corpus explodes once into (id, dim, value) triples, joins the
    * broadcast, and two stock HashAggregates later only (id, sub, code)
    * rows remain. The corpus never shuffles vectors, and the argmin
    * window partitions by (id, sub) — cardinality rows x m, no skew.
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      outId: String,
      vecCol: String,
      codebooks: DataFrame,
      subDim: Int): DataFrame = {
    require(subDim >= 1, s"subDim must be >= 1, got $subDim")
    val cb = broadcast(
      codebooks.select(col("sub"), col("code"), posexplode(col("cvec")))
        .select(col("sub"), col("code"), col("pos").as("__dwi"),
          col("col").cast("double").as("__cv")))
    val dims = df.select(col(idCol).as(outId), posexplode(col(vecCol)))
      .select(col(outId),
        (col("pos") / lit(subDim)).cast("int").as("sub"),
        pmod(col("pos"), lit(subDim)).as("__dwi"),
        col("col").cast("double").as("__x"))
    val dist = dims.join(cb, Seq("sub", "__dwi"))
      .groupBy(col(outId), col("sub"), col("code"))
      .agg(sum(((col("__x") - col("__cv")) * (col("__x") - col("__cv")))
        .cast("decimal(30,18)")).as("__dist"))
    val w = Window.partitionBy(col(outId), col("sub"))
      .orderBy(col("__dist"), col("code"))
    dist.withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1)
      .select(col(outId), col("sub"), col("code"))
  }

  /** PQ top-k by asymmetric distance computation (ADC): the corpus is
    * its [[pqEncode]] code table; each query precomputes a distance
    * table (dot of the query subvector with every codebook entry,
    * decimal-exact) and scoring is ONE broadcast equi-join of the code
    * table against the distance table plus a HashAggregate — the
    * approximate dot is the sum of m table lookups, and raw corpus
    * vectors are never read again after encoding. That is the PQ scale
    * story at 100 TB: the per-query scan is over m-byte codes (ids +
    * two small ints through the shuffle), not 256-byte vectors, and the
    * re-encode is a one-time index build. Scores are approximate by
    * construction (quantization error); recall vs the exact baseline is
    * spec-pinned, and rank ties break toward the smaller neighbor id.
    */
  def pqSearchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      codebooks: DataFrame,
      subDim: Int): DataFrame = {
    val codes = pqEncode(corpus, idCol, "neighbor_id", vecCol, codebooks, subDim)
    val qtab = broadcast(pqQueryTable(queries, idCol, vecCol, codebooks, subDim))
    val scored = codes.join(qtab, Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__qdot")).as("__pq"))
      .select(col("query_id"), col("neighbor_id"),
        col("__pq").cast("double").as("pq_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("pq_dot"))
  }

  /** Per-query ADC distance table: (query_id, sub, code, __qdot) — the
    * decimal-exact dot of every query subvector with every codebook
    * entry. Complete by construction (each (sub, code) appears for each
    * query), m × codes rows per query: tiny, built once, broadcast.
    */
  private def pqQueryTable(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: DataFrame,
      subDim: Int): DataFrame = {
    val cb = broadcast(
      codebooks.select(col("sub"), col("code"), posexplode(col("cvec")))
        .select(col("sub"), col("code"), col("pos").as("__dwi"),
          col("col").cast("double").as("__cv")))
    queries.select(col(idCol).as("query_id"), posexplode(col(vecCol)))
      .select(col("query_id"),
        (col("pos") / lit(subDim)).cast("int").as("sub"),
        pmod(col("pos"), lit(subDim)).as("__dwi"),
        col("col").cast("double").as("__xq"))
      .join(cb, Seq("sub", "__dwi"))
      .groupBy(col("query_id"), col("sub"), col("code"))
      .agg(sum((col("__xq") * col("__cv")).cast("decimal(30,18)"))
        .as("__qdot"))
  }

  /** IVF-PQ top-k — the composition that actually runs billion-vector
    * ANN in practice: the coarse quantizer ([[topCellsByCosine]],
    * explicit centroids) restricts each query to its `nprobe` cells'
    * inverted lists, and scoring inside those lists is pure PQ ADC over
    * the [[pqEncode]] code table. Per-query work is
    * |corpus| × nprobe / nlist code rows — each an id plus two small
    * ints — instead of a full-corpus vector scan; the raw vectors are
    * touched only at index-build (assignment + encode), never at query
    * time. The codebook is global (not per-cell residual): residual
    * encoding would couple the codebook to the quantizer and make the
    * explicit-table replay impossible; the recall gap at these codebook
    * sizes is spec-pinned instead. Deterministic end to end — both
    * stages replay in plain SQL, which is how the harness oracles it.
    */
  def ivfPqSearchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int,
      codebooks: DataFrame,
      subDim: Int): DataFrame = {
    val assigned = topCellsByCosine(corpus, idCol, "neighbor_id", vecCol,
      centroids, 1)
    val probed = topCellsByCosine(queries, idCol, "query_id", vecCol,
      centroids, nprobe)
    val codes = pqEncode(corpus, idCol, "neighbor_id", vecCol, codebooks, subDim)
    val qtab = broadcast(pqQueryTable(queries, idCol, vecCol, codebooks, subDim))
    // inverted lists = code table keyed by cell; candidates fan out only
    // over probed cells, then ADC is one broadcast lookup + HashAggregate
    val scored = codes.join(assigned, Seq("neighbor_id"))
      .join(broadcast(probed), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(qtab, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__qdot")).as("__pq"))
      .select(col("query_id"), col("neighbor_id"),
        col("__pq").cast("double").as("pq_dot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_dot").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("pq_dot"))
  }

  /** Label-noise audit by neighborhood disagreement (the signal behind
    * confident-learning / kNN label QA): for each query row, the share
    * of its k nearest neighbors (exact cosine) whose label differs —
    * rows whose neighborhoods vote against them are the mislabel
    * candidates a training-data QA pass reviews first. Output per
    * query: (query_id, label, n_neighbors, n_diff, disagreement).
    * Label comparison is null-safe (a null label disagrees with a
    * non-null one, agrees with another null). Same bounded-query
    * contract as [[cosineTopK]]: the query set broadcasts, the corpus
    * never shuffles vectors; swap in an ANN top-k upstream for
    * corpus × corpus audits.
    */
  def labelDisagreement(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int): DataFrame =
    cosineTopK(corpus, queries, idCol, vecCol, k)
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("__nl")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("__ql"))), Seq("query_id"))
      .groupBy(col("query_id"))
      .agg(max(col("__ql")).as("label"),
        count(lit(1)).as("n_neighbors"),
        sum(when(not(col("__nl") <=> col("__ql")), 1L).otherwise(0L))
          .as("n_diff"))
      .withColumn("disagreement",
        col("n_diff").cast("double") / col("n_neighbors"))

  /** Deterministic pseudo-random hyperplanes, computed ONCE on the
    * driver (md5-derived uniforms in [-0.5, 0.5), seeded) and shipped as
    * literal arrays — the per-row cost is just the dot product, no
    * per-row hashing.
    */
  private[graft] def hyperplaneValues(h: Int, dim: Int, seed: Long): Array[Double] =
    Array.tabulate(dim) { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${seed}_${h}_$d".getBytes("UTF-8"))
      val hex = md.map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0 - 0.5
    }

  /** Sign-bit sketch: bit h = sign(v . hyperplane_h), packed big-endian
    * into a long. The hyperplane dot accumulates in DECIMAL so the sign
    * is order-independent and engine-independent — a double fold could
    * flip the sign of a near-zero projection under a different summation
    * order, silently changing bucket assignments between engines.
    */
  def signSketch(vec: Column, numBits: Int, dim: Int, seed: Long): Column =
    (0 until numBits).map { h =>
      val hp = typedLit(hyperplaneValues(h, dim, seed))
      // the exact decimal [[dot]] (codegen'd kernel) — same quantized
      // terms and exact sum as the old inline fold, per plane
      val dotP = dot(vec, hp)
      when(dotP > 0, lit(1L << (numBits - 1 - h))).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Sign sketches in dataflow form: explode dimensions, broadcast-join
    * the (bit, dim) hyperplane table, decimal-`sum` per (id, bit), pack
    * bits. Bit-identical to [[signSketch]] (decimal sums below precision
    * 38 are exact, so fold-vs-sum order is irrelevant), but every stage
    * is a codegen'd HashAggregate instead of a per-row interpreted
    * lambda tree — and shuffle volume is ids + 64 doubles, then ids +
    * numBits decimals. Returns (id, __sk).
    */
  private def signSketchTable(
      df: DataFrame, idCol: String, outId: String, vecCol: String,
      numBits: Int, dim: Int, seed: Long): DataFrame = {
    // Hyperplanes ride as a constant-folded nested array literal and the
    // whole numBits x dim sketch folds IN-ROW (per-plane exact decimal
    // dot -> sign bit -> weighted sum): zero joins, zero aggregates,
    // zero shuffle — a narrow map over the vectors. Bit-identical to the
    // old explode/join/double-HashAggregate shape (same quantized dot
    // terms, same sign decisions), which at sf0.1 pushed
    // |corpus|·dim·numBits exploded rows through two aggregates and was
    // the single largest cost of every LSH query. Null/empty vectors
    // are excluded as before (they had no rows to explode).
    val planes = array((0 until numBits).map { h =>
      array(hyperplaneValues(h, dim, seed).map(lit): _*)
    }: _*)
    val weights = array((0 until numBits).map(h =>
      lit(1L << (numBits - 1 - h))): _*)
    // sign via the certified-fast [[graft.functions.ExactDotPositiveExpr]]:
    // identical decision to `dot(...) > 0` (exact-decimal fallback when
    // the double bound can't certify), without paying the decimal
    // quantization on the ~all rows whose projection is far from zero
    val bits = zip_with(planes, weights, (p, w) =>
      when(graft.functions.Native.exactDotPositive(col(vecCol), p),
        w).otherwise(lit(0L)))
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).as(outId),
        aggregate(bits, lit(0L), (a, b) => a + b).as("__sk"))
  }

  /** LSH ANN top-k: bucket corpus + queries by band keys of the sign
    * sketch, exact cosine re-rank within collisions. Recall < 1 by
    * construction; tune bits/bands for the recall target.
    */
  /** ANN index-quality audit: per-query recall@k of the LSH path
    * against the exact brute-force top-k over the same corpus — the
    * measure-before-you-trust step of deploying an approximate index
    * (tune bits/bands until the audited recall meets target, on a
    * bounded query sample, never the full corpus). Denominator is the
    * actual exact-neighbor count, so short corpora don't inflate
    * recall. Both sides are this module's own operators; cost is the
    * sample's brute-force scan plus the LSH probe.
    */
  def lshRecallAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
    val approx = lshCosineTopK(
      corpus, queries, idCol, vecCol, k, numBits, bands, dim, seed)
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__hit")), Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_exact"))
  }

  /** nDCG@k of the LSH index against the exact top-k (binary
    * relevance: an approx neighbor is relevant iff it appears in the
    * exact top-k). Rank-discounted where [[lshRecallAtK]] is set-based
    * — the metric that punishes an index for burying the best
    * neighbors at the bottom of k. Per-rank discounts 1/log2(r+1)
    * floor-snap at 12 and decimal-accumulate; ndcg = dcg/idcg is one
    * double division. Same dataflow cost as the recall audit (the
    * exact side is the expensive pass, bounded-query by contract).
    */
  def lshNdcgAtK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    val exact = cosineTopK(corpus, queries, idCol, vecCol, k)
    val approx = lshCosineTopK(
      corpus, queries, idCol, vecCol, k, numBits, bands, dim, seed)
    def disc(rank: Column): Column =
      floor(lit(1.0) / log2(rank.cast("double") + lit(1.0)) * lit(1e12)) /
        lit(1e12)
    val dcg = approx
      .join(exact.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__rel")), Seq("query_id", "neighbor_id"), "left")
      .withColumn("__w",
        when(col("__rel").isNotNull, disc(col("rank"))).otherwise(lit(0.0)))
      .groupBy(col("query_id"))
      .agg(sum(col("__w").cast("decimal(38,12)")).cast("double").as("__dcg"))
    val idcg = exact
      .withColumn("__w", disc(col("rank")))
      .groupBy(col("query_id"))
      .agg(sum(col("__w").cast("decimal(38,12)")).cast("double")
        .as("__idcg"), count(lit(1)).as("n_exact"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"), col("n_exact"),
        (floor(coalesce(col("__dcg"), lit(0.0)) / col("__idcg") * lit(1e12))
          / lit(1e12)).as("ndcg"))
  }

  def lshCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0)
    val r = numBits / bands
    // candidate pairs carry ids only through the join + distinct;
    // vectors re-attach afterwards — no arrays through shuffles
    def banded(df: DataFrame, id: String): DataFrame = {
      val sk = signSketchTable(df, idCol, id, vecCol, numBits, dim, seed)
      val bandKeys = (0 until bands).map(bi =>
        concat_ws("_", lit(bi),
          shiftright(col("__sk"), bi * r).bitwiseAND(lit((1L << r) - 1))))
      sk.select(col(id), posexplode(array(bandKeys: _*)))
        .withColumnRenamed("col", "band_key").drop("pos")
    }
    val cand = banded(corpus, "neighbor_id")
      .join(banded(queries, "query_id"), Seq("band_key"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    rankTopK(scorePairs(cand, corpus, queries, idCol, vecCol), k)
  }

  /** IVF-style ANN top-k: partition the corpus into `nlist` KMeans cells
    * (fit once, seeded), route each query to its `nprobe` nearest
    * centroids, exact cosine re-rank inside the probed cells. The
    * inverted-file layout of vector search as DataFrames: the corpus
    * shuffles once on cell id; each query scores ~nprobe/nlist of the
    * corpus. Complements [[lshCosineTopK]] — IVF adapts to the data
    * distribution where the sign-sketch is data-independent.
    */
  def ivfCosineTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val corpusVec = corpus.select(col(idCol), col(vecCol))
      .withColumn("__vec", array_to_vector(col(vecCol).cast("array<double>")))
    // coarse quantizer: a handful of Lloyd iterations is plenty for
    // routing cells (FAISS-style IVF trains its quantizer the same way);
    // default 20 iterations just burn bench time
    val model = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("__vec").setPredictionCol("__cell")
      .fit(corpusVec)
    val assigned = model.transform(corpusVec)
      .select(col(idCol).as("neighbor_id"), col("__cell"))
    val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      val arr = c.toArray
      (i, arr, math.sqrt(arr.map(x => x * x).sum))
    }.toSeq
    val centroidDf = broadcast(
      corpus.sparkSession.createDataFrame(centroids)
        .toDF("__cell", "__centroid", "__cnorm"))
    // routing: each query to its nprobe nearest centroids by double
    // cosine (ranking only, never output — exactness not needed here)
    val qN = normTable(queries, idCol, "query_id", vecCol, "__qn")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .join(qN, Seq("query_id"))
    val wCell = Window.partitionBy(col("query_id"))
      .orderBy(col("__cdist").desc, col("__cell"))
    val probed = q.crossJoin(centroidDf)
      .withColumn("__cdist",
        dotDouble(col("__qv"), col("__centroid")) /
          (col("__qn") * col("__cnorm")))
      .withColumn("__cr", row_number().over(wCell))
      .filter(col("__cr") <= nprobe)
      .select(col("query_id"), col("__cell"))
    // probed cells -> candidate pairs (ids only), exact re-rank shared
    // with the other ANN paths
    val pairs = broadcast(probed).join(assigned, Seq("__cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(scorePairs(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** IVF search against an EXPLICIT centroid table (`cell`, `cvec`) —
    * the quantizer is separated from the search so the routing can be
    * driven either by [[ivfCosineTopK]]'s KMeans fit (adaptive, not
    * replayable outside Spark) or by caller-chosen deterministic seeds
    * (replayable end to end in plain SQL, which is how the harness
    * oracles it). Assignment and probing both use the decimal-exact
    * cosine, so cell membership is bit-reproducible across engines and
    * partitionings; ties break toward the smaller cell id.
    *
    * Plan shape: centroids broadcast whole (nlist × dim is tiny by
    * construction), assignment/probing is a broadcast nested loop with
    * an in-row decimal dot, and the exact re-rank joins packed vectors
    * by id — each query scores just the members of its nprobe probed
    * cells, and shuffles carry O(|pairs|) packed rows.
    */
  def ivfSearchTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroids: DataFrame,
      nprobe: Int): DataFrame = {
    val assigned = topCellsByCosine(corpus, idCol, "neighbor_id", vecCol,
      centroids, 1)
    val probed = topCellsByCosine(queries, idCol, "query_id", vecCol,
      centroids, nprobe)
    val pairs = broadcast(probed).join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
    rankTopK(scorePairs(pairs, corpus, queries, idCol, vecCol), k)
  }

  /** Persist a trained ANN index — IVF centroids (`cell`, `cvec`) and
    * PQ codebooks (`sub`, `code`, `cvec`) — as two parquet tables
    * under `path`. A serving pipeline trains ONCE and persists; every
    * query-time call then [[loadIndex]]es instead of re-deriving
    * centroids/codebooks from the corpus. Floats/doubles round-trip
    * parquet bit-exactly, so a search over the loaded index reproduces
    * the freshly-built index answer EXACTLY (spec-pinned round trip;
    * q374 reruns q118's oracle over a loaded index). The tables are
    * nlist×dim and m×codes×subDim — metadata-sized at any corpus
    * scale; the corpus itself is never written here.
    */
  def saveIndex(
      centroids: DataFrame, codebooks: DataFrame, path: String): Unit = {
    centroids.select(col("cell"), col("cvec"))
      .write.mode("overwrite").parquet(path + "/centroids")
    codebooks.select(col("sub"), col("code"), col("cvec"))
      .write.mode("overwrite").parquet(path + "/codebooks")
  }

  /** Load a persisted ANN index: (centroids, codebooks). See
    * [[saveIndex]].
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(path + "/centroids"),
      spark.read.parquet(path + "/codebooks"))

  /** Exact-cosine cell assignment against an explicit (`cell`,
    * `cvec`) centroid table — the public arity of the shared
    * assignment/probing path ([[ivfSearchTopK]] top-1): broadcast
    * centroids, in-row decimal dot, ties toward the smaller cell id.
    * Output (idCol, cell).
    */
  def ivfAssign(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    topCellsByCosine(df, idCol, idCol, vecCol, centroids, 1)

  /** Persist the corpus cell assignments of a built IVF index —
    * the third artifact next to [[saveIndex]]'s centroids/codebooks;
    * (idCol, cell), corpus-sized but two columns wide.
    */
  def saveAssignments(
      assign: DataFrame, idCol: String, path: String): Unit =
    assign.select(col(idCol), col("cell"))
      .write.mode("overwrite").parquet(path + "/assign")

  /** Load persisted assignments (see [[saveAssignments]]). */
  def loadAssignments(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path + "/assign")

  /** Incremental IVF maintenance — fold a NEW vector batch into a
    * persisted index without a rebuild (completes the continual-crawl
    * story next to ContinualDedup / incrementalComponents /
    * sequencePackAppend): load the persisted centroids, assign only
    * the batch (broadcast centroids + in-row decimal dot — batch-
    * sized work, corpus never re-read), append the assignments to the
    * index, and return them. Because assignment is a pure function of
    * (vector, centroids) and the centroids are frozen, the appended
    * index is EXACTLY the from-scratch assignment of the grown corpus
    * (oracle-pinned by harness q400). When [[ivfDriftTrigger]] flags
    * a cell, re-centroid then — not on every batch.
    */
  def ivfAppendBatch(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (centroids, _) = loadIndex(spark, path)
    val assign = ivfAssign(batch, idCol, vecCol, centroids)
    assign.select(col(idCol), col("cell"))
      .write.mode("append").parquet(path + "/assign")
    assign
  }

  /** Re-centroid trigger for incremental maintenance: per cell, the
    * L2 distance between the NEW batch's mean vector (assigned to
    * that cell) and the persisted centroid — the per-cell arity of
    * [[LinAlg.centroidDrift]]'s snapshot alarm. A drifting cell means
    * new data lands far from its quantizer point (recall decays
    * there); cells above `threshold` re-centroid, the rest keep
    * serving. Means follow the 12 dp decimal discipline; drift_l2
    * rounds at 12 dp. Output: (cell, n_new, drift_l2,
    * needs_recentroid).
    *
    * Shape: one broadcast-centroid assignment of the batch, one
    * (cell, dim) hash aggregate, one broadcast join against the
    * nlist x dim centroid dims — batch-sized, never corpus-sized.
    */
  def ivfDriftTrigger(
      batch: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = ivfAssign(batch, idCol, vecCol, centroids)
      .join(batch.select(col(idCol), col(vecCol)), Seq(idCol))
    val batchMeans = assigned
      .select(col("cell"), posexplode(col(vecCol)))
      .select(col("cell"), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
      .groupBy(col("cell"), col("__d"))
      .agg(round(sum(col("__x").cast(DecimalType(30, 18))).cast("double")
        / count(lit(1)), 12).as("__m"),
        count(lit(1)).as("__n"))
    val centDims = broadcast(centroids
      .select(col("cell"), posexplode(col("cvec")))
      .select(col("cell"), col("pos").as("__d"),
        col("col").cast("double").as("__c")))
    batchMeans.join(centDims, Seq("cell", "__d"))
      .groupBy(col("cell"))
      .agg(max(col("__n")).as("n_new"),
        round(sqrt(sum(((col("__m") - col("__c"))
          * (col("__m") - col("__c"))).cast(DecimalType(38, 18)))
          .cast("double")), 12).as("drift_l2"))
      .withColumn("needs_recentroid", col("drift_l2") > threshold)
  }

  /** Re-centroid the cells [[ivfDriftTrigger]] flagged — the repair
    * half of incremental IVF maintenance. Each flagged cell's new
    * centroid is the per-dim decimal mean (rounded at 12 dp, the
    * iterative-mean discipline) over ALL its member vectors as
    * recorded in `assign` — the accumulated corpus plus every folded
    * batch; unflagged cells keep their frozen `cvec` verbatim.
    * Existing assignments are NOT revisited: re-centroiding moves the
    * quantizer point for FUTURE batches (the append-only index
    * contract), it does not re-bucket history.
    *
    * Output (cell, cvec array<double>) — the [[ivfSearchTopK]] /
    * [[saveIndex]] centroid shape, so the result drops straight back
    * into the persisted index.
    *
    * Shape: one broadcast semi-join of assignments on the (≤ nlist)
    * flagged cells, one (cell, dim) hash aggregate over ONLY those
    * cells' members, one collect-per-cell of nlist x dim rows — never
    * a full-corpus re-cluster, never a shuffle wider than the flagged
    * membership.
    */
  def ivfRecentroid(
      vectors: DataFrame, idCol: String, vecCol: String,
      assign: DataFrame, centroids: DataFrame,
      flagged: DataFrame): DataFrame = {
    val flagCells = flagged.select(col("cell"))
    val members = assign.select(col(idCol), col("cell"))
      .join(broadcast(flagCells), Seq("cell"), "leftsemi")
      .join(vectors.select(col(idCol), col(vecCol)), Seq(idCol))
    val means = members
      .select(col("cell"), posexplode(col(vecCol)))
      .select(col("cell"), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
      .groupBy(col("cell"), col("__d"))
      .agg(round(sum(col("__x").cast(DecimalType(30, 18))).cast("double")
        / count(lit(1)), 12).as("__m"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("__d"), col("__m")))),
        s => s.getField("__m")).as("cvec"))
    val frozen = centroids
      .join(broadcast(flagCells), Seq("cell"), "leftanti")
      .select(col("cell"),
        transform(col("cvec"), x => x.cast("double")).as("cvec"))
    frozen.unionByName(means)
  }

  /** Top-N centroid cells per row by exact cosine against an explicit
    * (`cell`, `cvec`) table (N=1: corpus assignment; N=nprobe: query
    * routing) — ONE code path for both sides of every IVF variant, so
    * assignment and probing can never skew. Decimal-exact dots, ties
    * toward the smaller cell id.
    */
  private def topCellsByCosine(
      df: DataFrame,
      idCol: String,
      outId: String,
      vecCol: String,
      centroids: DataFrame,
      topN: Int): DataFrame = {
    // centroids broadcast whole (nlist x dim is tiny by construction);
    // the decimal-exact dot folds in-row per (row, cell), replacing the
    // old explode/join/HashAggregate with one broadcast nested loop of
    // |df| x nlist rows — same bit-exact cosines, two fewer shuffles
    val cellSide = broadcast(centroids.select(col("cell"),
      col("cvec").as("__cvec"), norm(col("cvec")).as("__cn")))
    val dN = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(col(idCol).as(outId), col(vecCol).as("__v"),
        norm(col(vecCol)).as("__nr"))
    val w = Window.partitionBy(col(outId)).orderBy(
      (col("__dot") / (col("__nr") * col("__cn"))).desc, col("cell"))
    dN.crossJoin(cellSide)
      .withColumn("__dot", dot(col("__v"), col("__cvec")))
      .withColumn("__cr", row_number().over(w))
      .filter(col("__cr") <= topN)
      .select(col(outId), col("cell"))
  }

  /** Per-label centroid embeddings in long form (label, d, mean_x) —
    * the vector aggregate of a training-data pipeline (class prototypes,
    * cluster summaries). Dataflow: explode dims, one hash aggregate;
    * exact decimal sums over the float inputs so the mean is
    * order-independent; rounded to 12 decimals for cross-engine parity.
    */
  def labelCentroids(
      df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)))
      .groupBy(col(labelCol), col("pos"))
      .agg(round(
        sum(col("col").cast("double").cast("decimal(30,18)")).cast("double")
          / count(lit(1)), 12).as("mean_x"))
      .select(col(labelCol), col("pos").cast("long").as("d"), col("mean_x"))

  /** Exact near-dup pairs within blocking-key groups: the per-pair cost
    * is one double dot (prefilter with an epsilon guard band); the exact
    * decimal path only runs for survivors, so the answer is identical to
    * all-exact evaluation while the hot loop stays cheap.
    */
  def blockedCosineNearDup(
      df: DataFrame,
      blockCol: String,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64): DataFrame = {
    // vectors flattened to `dim` scalar columns before the join: the
    // hot per-pair stage (all within-block pairs) then contains only a
    // plain double product chain inside whole-stage codegen — no array
    // access, no lambdas, no decimal. The approx filter keeps a 1e-6
    // guard band, far wider than double-vs-exact summation error over
    // 64 bounded terms; the exact decimal dot then runs only for the
    // few survivors, in dataflow form (tiny generated code).
    def flat(side: String) = (0 until dim).map(i =>
      element_at(col(vecCol), i + 1).cast("double").as(s"__$side$i"))
    val aN = normTable(df, idCol, "id_a", vecCol, "__na")
    val bN = normTable(df, idCol, "id_b", vecCol, "__nb")
    val a = df.select(col(blockCol).as("__blk") +: col(idCol).as("id_a") +:
      flat("a"): _*).join(aN, Seq("id_a"))
    val b = df.select(col(blockCol).as("__blk") +: col(idCol).as("id_b") +:
      flat("b"): _*).join(bN, Seq("id_b"))
    val dotApprox = (0 until dim).map(i =>
      col(s"__a$i") * col(s"__b$i")).reduce(_ + _)
    val survivors = a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .filter(dotApprox / (col("__na") * col("__nb")) >= threshold - 1e-6)
      .select(col("id_a"), col("id_b"))
    exactPairCosine(survivors, df, idCol, vecCol)
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Embedding near-dup: corpus pairs with cosine >= threshold, found
    * via sketch-band candidates, verified exactly.
    */
  /** Johnson–Lindenstrauss random projection to `outDim` dimensions in
    * long form (outId, d, value): each output coordinate is the
    * decimal-exact dot of the row's vector with a seeded md5-derived
    * hyperplane — the same deterministic plane family the LSH sketches
    * use ([[hyperplaneValues]]), so the reduction is reproducible
    * across engines and incremental batches without shipping a fitted
    * model. The standard pre-step before ANN/clustering when 64+ dims
    * are mostly noise: distances are preserved to (1 ± ε) with
    * outDim = O(ln n / ε²). Long form by design — every downstream
    * operator here (norms, dots, centroids) consumes exploded
    * dimensions anyway, so no array rebuild, no collect, one broadcast
    * plane table + one HashAggregate.
    */
  def projectRandom(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      outDim: Int,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(outDim >= 1, s"outDim must be >= 1, got $outDim")
    val spark = df.sparkSession
    val hp = broadcast(spark.createDataFrame(
      for {
        h <- 0 until outDim
        row = hyperplaneValues(h, dim, seed)
        d <- 0 until dim
      } yield (h, d, row(d)))
      .toDF("__h", "__d", "__v"))
    df.select(col(idCol), posexplode(col(vecCol)))
      .select(col(idCol), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
      .join(hp, Seq("__d"))
      .groupBy(col(idCol), col("__h"))
      .agg(sum((col("__x") * col("__v")).cast("decimal(30,18)"))
        .cast("double").as("value"))
      .select(col(idCol), col("__h").as("d"), col("value"))
  }

  /** Corpus-wide k-NN graph via LSH banding — the ALL-ROWS variant of
    * [[lshCosineTopK]], for when the "query set" is the corpus itself
    * (graph-based curation: community detection over the similarity
    * graph, graph-propagated quality labels, diversity-aware selection).
    * [[lshCosineTopK]] broadcasts its query side, which is exactly
    * wrong here; this path scores candidates with the near-dup family's
    * non-broadcast exact scorer, so BOTH sides shuffle ids and scalars
    * only. Edges are directed (a → its top-k); a row whose sketch
    * collides with nothing emits no edges (it has no measured
    * neighbors) rather than forcing a full scan — the recall/cost knob
    * is (numBits, bands), spec-pinned like every ANN path here.
    *
    * Parameter warning, measured: candidate volume is
    * Σ_bands Σ_buckets c² — with r = numBits/bands bits per band there
    * are only 2^r buckets, so r = 2 makes the self-join ~n²/4 (at 5k
    * vectors that is 25M pairs × dim rows; at corpus scale it is the
    * whole job). Size r so 2^r approaches the per-band distinct-sketch
    * count — r = 8 (bands of one byte) is the floor for corpus-sized
    * inputs.
    */
  def lshKnnGraph(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      numBits: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0)
    val r = numBits / bands
    val sk = signSketchTable(corpus, idCol, idCol, vecCol, numBits, dim, seed)
    val bandKeys = (0 until bands).map(bi =>
      concat_ws("_", lit(bi),
        shiftright(col("__sk"), bi * r).bitwiseAND(lit((1L << r) - 1))))
    val bandedT = sk.select(col(idCol), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("col", "band_key").drop("pos")
    val cand = bandedT.select(col(idCol).as("id_a"), col("band_key"))
      .join(bandedT.select(col(idCol).as("id_b"), col("band_key")),
        Seq("band_key"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cosine").desc, col("id_b"))
    exactPairCosine(cand, corpus, idCol, vecCol)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("rank").cast("long").as("rank"),
        col("id_b"), col("cosine"))
  }

  def cosineNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBits: Int = 16,
      bands: Int = 8,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0)
    val r = numBits / bands
    val sk = signSketchTable(corpus, idCol, idCol, vecCol, numBits, dim, seed)
    val bandKeys = (0 until bands).map(bi =>
      concat_ws("_", lit(bi),
        shiftright(col("__sk"), bi * r).bitwiseAND(lit((1L << r) - 1))))
    val banded = sk.select(col(idCol), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("col", "band_key").drop("pos")
    val cand = banded.select(col(idCol).as("id_a"), col("band_key"))
      .join(banded.select(col(idCol).as("id_b"), col("band_key")), Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    exactPairCosine(cand, corpus, idCol, vecCol)
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** SemDeDup-style semantic dedup (cluster-then-prune, after Abbas et
    * al. 2023, arXiv:2303.09540): assign every vector to its nearest
    * centroid by exact decimal cosine, find within-cell pairs with
    * cosine >= `threshold`, connect them transitively, and keep ONE
    * representative per semantic cluster — the member most similar to
    * its cell centroid (ties to the smallest id), i.e. the most
    * prototypical copy.
    *
    * Centroids are an EXPLICIT (cell, cvec) table, like
    * [[ivfSearchTopK]]: deterministic, replayable in plain SQL, and the
    * caller can feed KMeans centers for the adaptive variant. Rows with
    * null/empty embeddings have no dimensions to score and are excluded
    * (the object-level contract).
    *
    * Plan shape at 100 TB: the centroid dim/norm tables broadcast
    * (nlist x dim is tiny by construction); the corpus moves as (id,
    * dim, value) triples through one HashAggregate for assignment; the
    * pairwise stage is confined within cells — the SemDeDup bargain is
    * exactly that nlist must grow with the corpus (the paper runs ~50k
    * clusters on billions of docs) so each cell stays a bounded block;
    * the component loop then touches edge-incident ids only
    * ([[Components.connectedComponents]]).
    *
    * @return (idCol, cell, cluster_id, centroid_cosine, kept) for every
    *         assigned row — `kept=false` rows are the semantic
    *         duplicates a caller would drop
    */
  /** Nearest-centroid assignment with the exact decimal cosine:
    * (__id, cell, __ccos), materialized — every caller re-enters the
    * assignment from several plan directions, and each re-entry would
    * otherwise replay the explode + aggregate + window.
    */
  private def assignCells(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    // In-row rewrite (round 13): one broadcast of the tiny (cell, cvec,
    // norm) table and one codegen'd exact-decimal [[dot]] per (row,
    // cell) — no |rows|·dim explode, no |rows|·dim·nlist join rows
    // through a HashAggregate. __ccos is bit-identical to the old
    // exploded shape: the dot's quantized terms and exact sum equal the
    // per-dim decimal sum, including RAGGED rows (the per-dim equi-join
    // summed over the SHARED dim prefix — replicated by the
    // slice-to-min guard). Rows/centroids with null/empty vectors had
    // no dims to explode and stay excluded. Documented delta: a null
    // ELEMENT inside a vector now nulls that pair's cosine (ranked
    // last) where the old sum skipped the dim; the operator contract
    // already declares malformed vectors undefined.
    val cents = broadcast(
      centroids.filter(col("cvec").isNotNull && size(col("cvec")) > 0)
        .select(col("cell"), col("cvec").as("__cvec"),
          norm(col("cvec")).as("__cn")))
    val mLen = least(size(col(vecCol)), size(col("__cvec")))
    val dotC = when(size(col(vecCol)) === size(col("__cvec")),
      dot(col(vecCol), col("__cvec")))
      .otherwise(dot(slice(col(vecCol), lit(1), mLen),
        slice(col("__cvec"), lit(1), mLen)))
    val wCell = Window.partitionBy(col("__id"))
      .orderBy(col("__ccos").desc, col("cell"))
    graft.Materialize.cut(
      // fan out a row-group-bound scan before the rows x cells kernel
      // — the per-(row, centroid) exact dot is the whole cost of the
      // assignment and otherwise runs on one core ([[FanOut.byKey]],
      // no-op at real input scale)
      FanOut.byKey(
        df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
          .select(col(idCol).as("__id"), col(vecCol),
            norm(col(vecCol)).as("__nr")),
        col("__id"))
        .crossJoin(cents)
        .withColumn("__ccos", dotC / (col("__nr") * col("__cn")))
        .withColumn("__cr", row_number().over(wCell))
        .filter(col("__cr") === 1)
        .select(col("__id"), col("cell"), col("__ccos")))
  }

  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      dim: Int = 64,
      maxIter: Int = 20): DataFrame = {
    val assigned = assignCells(corpus, idCol, vecCol, centroids)
    val withCell = corpus.select(col(idCol), col(vecCol))
      .join(assigned.select(col("__id").as(idCol), col("cell")), Seq(idCol))
    val pairs =
      blockedCosineNearDup(withCell, "cell", idCol, vecCol, threshold, dim)
    val labels = Components.connectedComponents(
      withCell.select(col(idCol)),
      pairs.select(col("id_a"), col("id_b")), idCol, maxIter)
    val wRep = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__ccos").desc, col(idCol))
    labels
      .join(assigned.select(col("__id").as(idCol), col("cell"), col("__ccos")),
        Seq(idCol))
      .withColumn("__rn", row_number().over(wRep))
      .select(col(idCol), col("cell"), col("cluster_id"),
        col("__ccos").as("centroid_cosine"), (col("__rn") === 1).as("kept"))
  }

  /** Incremental semantic dedup — the ingestion twin of
    * [[semanticDedup]], mirroring
    * [[TextDedup.minhashNearDupPairsAgainst]]: an INCOMING batch is
    * checked against the EXISTING corpus, never corpus x corpus. An
    * incoming vector is dropped when any corpus vector in its assigned
    * cell has cosine >= `threshold`; survivors are new semantic
    * content. Within-batch duplicates are deliberately NOT collapsed
    * here (run [[semanticDedup]] on the batch for that) — the two
    * checks compose, and keeping them separate keeps each replayable.
    *
    * Both sides route through the same explicit centroid table, so the
    * candidate join is cell-equi (|batch-in-cell| x |corpus-in-cell|,
    * never |batch| x |corpus|), with ids + flattened scalars in the
    * shuffle — the [[blockedCosineNearDup]] double-prefilter +
    * decimal-exact verify discipline applied across two tables.
    *
    * @return incoming rows as (idCol, cell, is_dup, matched_id):
    *         `matched_id` = the smallest matching corpus id (null when
    *         `is_dup` is false)
    */
  def semanticDedupAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      threshold: Double,
      dim: Int = 64): DataFrame = {
    semanticDedupAgainstAssigned(
      assignedForDedup(corpus, idCol, vecCol, centroids),
      assignedForDedup(incoming, idCol, vecCol, centroids),
      idCol, vecCol, threshold, dim)
  }

  /** The corpus-STATE shape of [[semanticDedupAgainst]]: every row with
    * its vector, exact-decimal norm and assigned nearest-centroid cell
    * — (idCol, vecCol, __norm, cell). A continual service
    * ([[graft.streaming.ContinualDedup]]) carries THIS as its
    * accumulated state: cell and norm are deterministic functions of
    * the vector and the frozen centroid table, so assigning a row once
    * when it enters the corpus equals re-assigning it every trigger —
    * minus the per-trigger O(corpus·cells) kernel + per-row window +
    * materialization that re-assignment costs. Null/empty vectors are
    * excluded (never assignable), exactly as [[assignCells]] drops
    * them.
    */
  def assignedForDedup(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame =
    assignCells(df, idCol, vecCol, centroids)
      .select(col("__id").as(idCol), col("cell"))
      .join(df.select(col(idCol), col(vecCol),
        norm(col(vecCol)).as("__norm")), Seq(idCol))

  /** [[semanticDedupAgainst]] over ALREADY-ASSIGNED sides (both in the
    * [[assignedForDedup]] shape): both go straight to the cell-equi
    * candidate join — no per-call assignment kernel. Verdicts are
    * identical to [[semanticDedupAgainst]] on the unassigned frames —
    * same prefilter, same exact verify, same tie-break — because
    * cell/norm are the same deterministic per-row values either way.
    */
  def semanticDedupAgainstAssigned(
      corpusAssigned: DataFrame,
      batchAssigned: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int = 64): DataFrame = {
    // Round-13 rewrite: vectors travel as ARRAYS through the one
    // cell-equi join; the double prefilter is the same unrolled
    // element_at chain (identical values and null semantics — a vector
    // shorter than `dim` nulls the chain and drops the pair, as the
    // flattened-column form did), and the exact verify is the codegen'd
    // [[dot]] over the shared dim prefix — same quantized terms and
    // exact sum as the old per-dim explode-join aggregate, minus the
    // |survivors|·dim keyed shuffle and two whole explode passes.
    val a = corpusAssigned.select(col(idCol).as("id_a"), col("cell"),
      col(vecCol).as("__va"), col("__norm").as("__na"))
    val b = batchAssigned.select(col(idCol).as("id_b"), col("cell"),
      col(vecCol).as("__vb"), col("__norm").as("__nb"))
    val dotApprox = (0 until dim).map(i =>
      element_at(col("__va"), i + 1).cast("double") *
        element_at(col("__vb"), i + 1).cast("double")).reduce(_ + _)
    val mLen = least(size(col("__va")), size(col("__vb")))
    val exactDot = when(size(col("__va")) === size(col("__vb")),
      dot(col("__va"), col("__vb")))
      .otherwise(dot(slice(col("__va"), lit(1), mLen),
        slice(col("__vb"), lit(1), mLen)))
    val matches = a.join(b, Seq("cell"))
      .filter(dotApprox / (col("__na") * col("__nb")) >= threshold - 1e-6)
      .filter(exactDot / (col("__na") * col("__nb")) >= threshold)
      .groupBy(col("id_b"))
      .agg(min(col("id_a")).as("matched_id"))
    b.select(col("id_b"), col("cell"))
      .join(matches, Seq("id_b"), "left")
      .select(col("id_b").as(idCol), col("cell"),
        col("matched_id").isNotNull.as("is_dup"), col("matched_id"))
  }

  /** Embedding-space geometry audit (the anisotropy diagnostic of
    * Ethayarajh 2019): per label — mean and std of vector norms, and
    * anisotropy_hat = ‖μ‖²/E[‖x‖²], the share of second-moment mass
    * sitting in the common direction (→1 when all vectors point the
    * same way, →0 for isotropic spreads). A collapsed embedding space
    * scores high anisotropy and low norm spread — the pre-flight check
    * before trusting cosine similarity downstream.
    *
    * One per-dim aggregate (exact decimal sums for μ and the second
    * moments), one per-vector norm aggregate, one join of two
    * |labels|-row tables. Doubles only in the final ratios.
    */
  def embeddingGeometry(
      df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dims = df.select(col(labelCol).as("__lbl"), posexplode(col(vecCol)))
      .select(col("__lbl"), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
    // per (label, dim): mean coordinate; then ||mu||^2 per label
    val mu2 = dims.groupBy(col("__lbl"), col("__d"))
      .agg((sum(col("__x").cast("decimal(30,12)")).cast("double")
        / count(lit(1)).cast("double")).as("__m"))
      .groupBy(col("__lbl"))
      .agg(sum(round(col("__m") * col("__m"), 12).cast("decimal(38,12)"))
        .cast("double").as("__mu2"))
    val n2 = df.select(col(labelCol).as("__lbl"),
      col(idCol).as("__rid"), posexplode(col(vecCol)))
      .select(col("__lbl"), col("__rid"),
        col("col").cast("double").as("__x"))
      .groupBy(col("__lbl"), col("__rid"))
      .agg(sum((col("__x") * col("__x")).cast("decimal(30,18)"))
        .cast("double").as("__n2"))
    val stats = n2.groupBy(col("__lbl"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("__n2"), 12).cast("decimal(38,12)")).cast("double")
          / count(lit(1)).cast("double")).as("__en2"),
        (sum(round(sqrt(col("__n2")), 12).cast("decimal(38,12)"))
          .cast("double") / count(lit(1)).cast("double")).as("mean_norm"))
    stats.join(mu2, Seq("__lbl"))
      .select(col("__lbl").as("label"), col("n"),
        (floor(col("mean_norm") * lit(1e10)) / lit(1e10)).as("mean_norm"),
        (floor(col("__mu2") / col("__en2") * lit(1e10)) / lit(1e10))
          .as("anisotropy"))
  }

  /** Simplified silhouette per cluster (Hruschka et al. 2004): for each
    * vector, a = Euclidean distance to its OWN centroid, b = min
    * distance to any other centroid, s = (b − a)/max(a, b); reported
    * as the per-cluster mean and the share of negative-silhouette
    * (likely misassigned) points. The simplification is the scale
    * story: the classic silhouette needs all-pairs distances (O(n²) —
    * a non-starter at corpus scale); point-to-centroid needs one
    * BROADCAST of |clusters|·dims numbers and a single pass.
    *
    * Parity: squared distances accumulate per-dim decimal(30,18)
    * products (q58's discipline); s is one double expression; the
    * per-cluster mean decimal-accumulates floor-snapped s values
    * (floor, not round — see huberOlsByGroup's rule).
    */
  def simplifiedSilhouette(
      df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dims = df.select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
      posexplode(col(vecCol)))
      .select(col("__id"), col("__lbl"), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
    val centroids = dims.groupBy(col("__lbl").as("__c"), col("__d"))
      .agg(round(sum(col("__x").cast("decimal(30,12)")).cast("double")
        / count(lit(1)).cast("double"), 12).as("__cx"))
    val d2 = dims.join(broadcast(centroids), Seq("__d"))
      .groupBy(col("__id"), col("__lbl"), col("__c"))
      .agg(sum(((col("__x") - col("__cx")) * (col("__x") - col("__cx")))
        .cast("decimal(30,18)")).cast("double").as("__d2"))
    val perPoint = d2
      .withColumn("__own", when(col("__lbl") === col("__c"), col("__d2")))
      .withColumn("__other", when(col("__lbl") =!= col("__c"), col("__d2")))
      .groupBy(col("__id"), col("__lbl"))
      .agg(sqrt(max(col("__own"))).as("__a"),
        sqrt(min(col("__other"))).as("__b"))
      .withColumn("__s",
        floor((col("__b") - col("__a"))
          / greatest(col("__a"), col("__b")) * lit(1e9)) / lit(1e9))
    perPoint.groupBy(col("__lbl").as("label"))
      .agg(count(lit(1)).as("n"),
        (sum(col("__s").cast("decimal(38,9)")).cast("double")
          / count(lit(1)).cast("double")).as("__ms"),
        sum(when(col("__s") < 0d, 1L).otherwise(0L)).as("n_negative"))
      .select(col("label"), col("n"),
        (floor(col("__ms") * lit(1e9)) / lit(1e9)).as("mean_silhouette"),
        col("n_negative"))
  }

  /** Rocchio nearest-centroid classification by cosine: per-label mean
    * vectors (each coordinate an exact decimal mean rounded at 12),
    * then every vector scores against every centroid and takes the
    * argmax — reported as the confusion matrix (label, pred, n). The
    * centroid classifier is the 1-aggregate baseline every embedding
    * pipeline should beat before reaching for kNN: training is one
    * pass, the model is |labels|·dims numbers, and scoring is a
    * BROADCAST join (the corpus never shuffles — compare
    * [[cosineTopK]]'s bounded-query contract).
    *
    * Parity: dot products and norms accumulate decimal(30,18) per-dim
    * products (q58's discipline); cosine is one double expression;
    * ties argmax to the smallest label.
    */
  def nearestCentroid(
      df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    // In-row scoring (round 14): centroids are packed once into
    // broadcast arrays and every (row, centroid) cosine is one
    // codegen'd ExactDotExpr — the previous form pushed rows x dim x
    // labels through a decimal HashAggregate (and re-exploded the
    // corpus for the norms — 8 scans in the q274 plan). Same per-term
    // 18-dp quantization and exact sums, so every cosine and argmax is
    // value-identical.
    val vecs = graft.Materialize.cut(
      df.select(col(idCol).as("__id"), col(labelCol).as("__lbl"),
        col(vecCol).as("__vec"))
        .withColumn("__vn", sqrt(graft.functions.Native.exactDot(
          col("__vec"), col("__vec")))))
    val cent = vecs.select(col("__lbl").as("__c"), posexplode(col("__vec")))
      .select(col("__c"), col("pos").as("__d"),
        col("col").cast("double").as("__x"))
      .groupBy(col("__c"), col("__d"))
      .agg(round(sum(col("__x").cast("decimal(30,12)")).cast("double")
        / count(lit(1)).cast("double"), 12).as("__cx"))
    val centArr = cent
      .groupBy(col("__c"))
      .agg(transform(sort_array(collect_list(struct(col("__d"),
        col("__cx")))), p => p("__cx")).as("__carr"))
      .withColumn("__cn", sqrt(graft.functions.Native.exactDot(
        col("__carr"), col("__carr"))))
    val scored = vecs.crossJoin(broadcast(centArr))
      .select(col("__id"), col("__lbl"), col("__c"),
        (graft.functions.Native.exactDot(col("__vec"), col("__carr"))
          / (col("__vn") * col("__cn"))).as("__cos"))
    val w = Window.partitionBy(col("__id"))
      .orderBy(col("__cos").desc, col("__c").asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col("__lbl").as("label"), col("__c").as("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Matryoshka-style dimension-truncation audit: for each prefix
    * length in `dims`, the top-k-by-cosine neighbor lists computed on
    * the TRUNCATED vectors, scored by overlap with the full-dimension
    * top-k — "how many retrieval dimensions do these embeddings
    * actually need". MRL-trained embeddings hold recall at small
    * prefixes; conventionally-trained ones decay — this measures which
    * you have before you pay for full-width ANN indexes.
    *
    * Plan shape per prefix: the [[cosineTopK]] broadcast-argmin on
    * `slice(vec, 1, d)` (queries bounded and broadcast; corpus vectors
    * never shuffle). The dims axis is a Scala-side union of a constant
    * number of plans — k plans of the same shape, not a data fan-out.
    *
    * Output: (dim, query_id, recall) — |top-k_d intersect top-k_full| / k.
    */
  def dimTruncationRecall(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dims: Seq[Int],
      k: Int): DataFrame = {
    require(dims.nonEmpty, "dims must be non-empty")
    def sliced(df: DataFrame, d: Int): DataFrame =
      df.withColumn(vecCol, slice(col(vecCol), 1, d))
    val full = cosineTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val perDim = dims.map { d =>
      cosineTopK(sliced(corpus, d), sliced(queries, d), idCol, vecCol, k)
        .select(lit(d).as("dim"), col("query_id"), col("neighbor_id"))
    }.reduce(_ unionByName _)
    perDim
      .join(full.withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("dim"), col("query_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double") /
        lit(k.toDouble)).as("recall"))
  }

  /** Cross-corpus LSH candidate pairs — the blocker that feeds the
    * candidate-parameterized [[bitextMarginMine]] / [[Valuation
    * .knnShapley]] arities at scale: band both sides' sign sketches
    * (the same md5-derived hyperplanes as [[lshCosineTopK]], so the
    * whole candidate set replays in SQL) and emit the distinct
    * (left_id, right_id) band collisions. No self-pair exclusion:
    * left and right are DISTINCT corpora, so equal id values are
    * legitimate pairs, not the same row. Shape: two narrow sketch
    * projections, one band-key equi-join, one dedup — candidate count
    * is collision-bounded, never |L|x|R|.
    */
  def lshCandidatePairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      numBits: Int = 16,
      bands: Int = 4,
      dim: Int = 64,
      seed: Long = 42L): DataFrame = {
    require(numBits % bands == 0,
      s"numBits ($numBits) must divide evenly into bands ($bands)")
    val r = numBits / bands
    def banded(df: DataFrame, id: String): DataFrame = {
      val sk = signSketchTable(df, idCol, id, vecCol, numBits, dim, seed)
      val bandKeys = (0 until bands).map(bi =>
        concat_ws("_", lit(bi),
          shiftright(col("__sk"), bi * r).bitwiseAND(lit((1L << r) - 1))))
      sk.select(col(id), posexplode(array(bandKeys: _*)))
        .withColumnRenamed("col", "band_key").drop("pos")
    }
    banded(left, "left_id")
      .join(banded(right, "right_id"), Seq("band_key"))
      .select(col("left_id"), col("right_id"))
      .distinct()
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, ACL 2019): align
    * two embedding corpora (source/target languages, two crawl
    * snapshots, two modalities) by MUTUAL-BEST margin score rather
    * than raw cosine —
    *
    *   margin(x, y) = cos(x, y) / ((avgNNk(x) + avgNNk(y)) / 2)
    *
    * where avgNNk is the mean cosine of the row's k nearest cross-side
    * neighbors. The ratio cancels hubness (rows that are "close to
    * everything" score high cosine against everything; dividing by
    * their own neighborhood density demotes them), which is why margin
    * mining is the standard for parallel-corpus extraction at scale
    * (CCMatrix/LASER pipelines).
    *
    * Dataflow: candidates are the union of forward and backward top-k
    * lists (never all pairs downstream — scoring, averages, and the
    * mutual-best ranks all run on O((|L|+|R|)·k) candidate rows). This
    * arity scores ALL |L|x|R| pairs before ranking — exact but
    * quadratic; at two large monolingual corpora use the
    * candidate-pair overload with [[lshCandidatePairs]] (or IVF cell
    * routing), which is the CCMatrix/LASER shape: the margin math is
    * agnostic to how candidates arrived. Left and right are DISTINCT
    * corpora (two languages, two snapshots) — a left row and a right
    * row with the same id value are still a legitimate pair, so no
    * self-pair exclusion applies (ids are only "the same row" within
    * one corpus). Neighborhood means fold through DECIMAL(30,18); the
    * mutual-best ranks break ties by id; margin rounds at 12 dp
    * (harness q385 replays the whole pipeline in SQL).
    *
    * @return (left_id, right_id, cosine, margin): the mutual-best
    *         pairs with margin >= threshold
    */
  def bitextMarginMine(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double): DataFrame =
    // the cross join is unique by construction — no dedup shuffle
    marginMineCore(left, right, idCol, vecCol, k, threshold,
      right.select(col(idCol).as("neighbor_id"))
        .crossJoin(broadcast(left.select(col(idCol).as("query_id")))))

  /** Candidate-parameterized margin mining — the 100 TB arity: score
    * and rank only a (left_id, right_id) candidate-pair table (from
    * [[lshCandidatePairs]], IVF cell routing, or any blocker) instead
    * of all |L|x|R| pairs. Forward/backward top-k and the avgNNk
    * neighborhood means are computed WITHIN the candidate set — the
    * standard truncation of large-scale mining pipelines (a margin
    * against the candidate neighborhood, exact whenever the candidate
    * set contains each row's true k nearest). Identical math to the
    * brute arity; with an all-pairs candidate table the two are
    * row-identical (spec-pinned).
    *
    * @param candidates (left_id, right_id) pairs; duplicates are
    *                   deduped before scoring
    */
  def bitextMarginMine(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      candidates: DataFrame): DataFrame =
    marginMineCore(left, right, idCol, vecCol, k, threshold,
      candidates
        .select(col("left_id").as("query_id"),
          col("right_id").as("neighbor_id"))
        .distinct())

  private def marginMineCore(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      threshold: Double,
      pairs: DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // cosine is symmetric, so ONE scored pair table serves both top-k
    // directions — half the dot-product work of two cosineTopK calls;
    // cut so the two rank windows read the materialized scores instead
    // of re-running the scoring pipeline
    val allScored = graft.Materialize.cut(
      scorePairs(pairs, right, left, idCol, vecCol))
    val fwd = rankTopK(allScored, k)
      .select(col("query_id").as("lid"), col("neighbor_id").as("rid"),
        col("cosine"))
    val bwd = rankTopK(allScored.select(
        col("neighbor_id").as("query_id"),
        col("query_id").as("neighbor_id"), col("cosine")), k)
      .select(col("neighbor_id").as("lid"), col("query_id").as("rid"),
        col("cosine"))
    def nnAvg(df: DataFrame, key: String, out: String) =
      df.groupBy(col(key))
        .agg((sum(col("cosine").cast(DecimalType(30, 18))).cast("double")
          / count(lit(1))).as(out))
    val avgL = nnAvg(fwd, "lid", "__avg_l")
    val avgR = nnAvg(bwd, "rid", "__avg_r")
    // forward and backward cosines of the same pair are bit-identical
    // (the decimal dot is symmetric), so max() is pure dedup
    val cand = fwd.unionByName(bwd)
      .groupBy(col("lid"), col("rid"))
      .agg(max(col("cosine")).as("cosine"))
    val scored = cand
      .join(avgL, Seq("lid"))
      .join(avgR, Seq("rid"))
      .withColumn("margin",
        col("cosine") / ((col("__avg_l") + col("__avg_r")) / lit(2.0)))
    val wL = Window.partitionBy(col("lid"))
      .orderBy(col("margin").desc, col("rid"))
    val wR = Window.partitionBy(col("rid"))
      .orderBy(col("margin").desc, col("lid"))
    scored
      .withColumn("__rl", row_number().over(wL))
      .withColumn("__rr", row_number().over(wR))
      .filter(col("__rl") === 1 && col("__rr") === 1
        && col("margin") >= threshold)
      .select(col("lid").as("left_id"), col("rid").as("right_id"),
        col("cosine"), round(col("margin"), 12).as("margin"))
  }
}

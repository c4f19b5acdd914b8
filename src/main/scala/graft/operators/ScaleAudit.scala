package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Pre-flight audits for running a plan at scale: join-key skew
  * profiling (the number that decides whether a join needs salting)
  * and reshape helpers live in [[Reshape]].
  */
object ScaleAudit {

  /** Join-key skew profile for one key column: distinct keys, total
    * rows, the heaviest key's share, and the skew ratio
    * max_freq / mean_freq — the number to check BEFORE keying a join
    * or aggregation on the column (ratio ≫ 1 ⇒ one reducer drags the
    * stage; see [[SkewJoin.saltedJoin]] for the fix). Emits one row
    * per audited column so a whole schema profiles in one pass each.
    *
    * Shape: per-key hash count, then a one-row summary — the classic
    * two-level aggregate; nothing global except the final single-row
    * reduce.
    */
  def keySkewProfile(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    keyCols.map { k =>
      df.groupBy(col(k).as("__key")).agg(count(lit(1)).as("__n"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("__n")).as("n_rows"),
          max(col("__n")).as("max_freq"))
        .select(
          lit(k).as("key_col"),
          col("n_keys"), col("n_rows"), col("max_freq"),
          (col("max_freq").cast("double")
            / (col("n_rows").cast("double") / col("n_keys").cast("double")))
            .as("skew_ratio"),
          (col("max_freq").cast("double") / col("n_rows").cast("double"))
            .as("top_key_share"))
    }.reduce(_ unionAll _)
  }

  /** Pre-flight equi-join cardinality profile: the EXACT output row
    * count Σ_k n_a(k)·n_b(k) computed from the two sides' key
    * histograms — two hash aggregates and a key-cardinality-sized
    * join, never the data join itself — plus the single worst key and
    * its share of the output. This is the audit that decides shuffle
    * join vs broadcast vs [[SkewJoin.saltedJoin]] BEFORE burning the
    * shuffle: a top_share near 1 at 100 TB means one task gets the
    * output. Keys compare as canonical strings (any key type); ties
    * for the top key break toward the larger key string (struct max).
    * Per-key products and the output total accumulate in
    * DECIMAL(38,0) — exactly the skewed 100 TB scales this audit
    * targets are where n_a(k)·n_b(k) silently overflows Long — and
    * top_share divides the decimal values; the count outputs present
    * as doubles (both engines cast the same exact decimal, so the
    * doubles are bit-identical; IEEE-rounded beyond 2^53, which is
    * immaterial for a broadcast-vs-salt decision). Output one row:
    * (n_keys_a, n_keys_b, n_keys_matched, rows_a, rows_b,
    * output_rows, top_key, top_key_rows, top_share).
    */
  def joinCardinalityProfile(
      a: DataFrame, b: DataFrame, aKey: String, bKey: String): DataFrame = {
    val ha = a.select(col(aKey).cast("string").as("__k"))
      .where(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__na"))
    val hb = b.select(col(bKey).cast("string").as("__k"))
      .where(col("__k").isNotNull)
      .groupBy(col("__k")).agg(count(lit(1)).as("__nb"))
    // decimal(19,0) holds any Long count; the product's precision
    // (19+19+1 → capped at 38, scale 0) holds up to 1e38 rows — no
    // silent Long wrap at petabyte key frequencies
    val matched = ha.join(hb, Seq("__k"))
      .select(col("__k"),
        (col("__na").cast(DecimalType(19, 0))
          * col("__nb").cast(DecimalType(19, 0))).as("__out"))
    val aTot = ha.agg(count(lit(1)).as("n_keys_a"),
      sum(col("__na")).as("rows_a"))
    val bTot = hb.agg(count(lit(1)).as("n_keys_b"),
      sum(col("__nb")).as("rows_b"))
    matched
      .agg(count(lit(1)).as("n_keys_matched"),
        coalesce(sum(col("__out")),
          lit(0L).cast(DecimalType(38, 0))).as("__out_dec"),
        max(struct(col("__out"), col("__k"))).as("__top"))
      .crossJoin(broadcast(aTot)).crossJoin(broadcast(bTot))
      .select(col("n_keys_a"), col("n_keys_b"), col("n_keys_matched"),
        col("rows_a"), col("rows_b"),
        col("__out_dec").cast("double").as("output_rows"),
        col("__top.__k").as("top_key"),
        col("__top.__out").cast("double").as("top_key_rows"),
        when(col("__out_dec") > 0,
          floor(col("__top.__out").cast("double")
            / col("__out_dec").cast("double") * 1e9) / 1e9)
          .as("top_share"))
  }

  /** Scan-pruning simulator: how many "files" of a layout would a 2-D
    * box predicate touch, given per-file min/max column stats — the
    * decision tool behind [[graft.functions.MortonExpr]] layouts.
    * Rows are binned into files by `fileKey` (a layout key column:
    * the Morton code for z-order, a single dimension for linear
    * layout) divided into `stride`-wide value ranges; per file the
    * simulator keeps min/max of both dimensions (exactly the footer
    * stats a parquet writer would) and counts files whose stat range
    * intersects the box [x1,x2]×[y1,y2]. One row: files total,
    * files touched, rows total, rows in touched files, and the
    * touched fraction.
    *
    * Shape: one hash aggregate keyed by file id, one single-row
    * reduce. The simulation IS the plan a real layout would execute:
    * row-group pruning on min/max is precisely this intersection
    * test.
    */
  def pruningStats(
      df: DataFrame, xCol: String, yCol: String,
      fileKey: org.apache.spark.sql.Column, stride: Long,
      x1: Long, x2: Long, y1: Long, y2: Long): DataFrame = {
    require(stride > 0)
    val files = df
      .select(col(xCol).as("__x"), col(yCol).as("__y"),
        (fileKey.cast("long") / lit(stride)).cast("long").as("__file"))
      .groupBy(col("__file"))
      .agg(
        min(col("__x")).as("__xmin"), max(col("__x")).as("__xmax"),
        min(col("__y")).as("__ymin"), max(col("__y")).as("__ymax"),
        count(lit(1)).as("__rows"))
    val touched = col("__xmin") <= x2 && col("__xmax") >= x1 &&
      col("__ymin") <= y2 && col("__ymax") >= y1
    files.agg(
      count(lit(1)).as("n_files"),
      sum(when(touched, 1L).otherwise(0L)).as("files_touched"),
      sum(col("__rows")).as("n_rows"),
      sum(when(touched, col("__rows")).otherwise(0L)).as("rows_touched"))
      .select(col("n_files"), col("files_touched"), col("n_rows"),
        col("rows_touched"),
        (col("files_touched").cast("double") / col("n_files").cast("double"))
          .as("touched_frac"))
  }

  /** Co-sortedness audit for layout planning: if the table is laid out
    * per `keyCol` in `(orderCol, tieCol)` order, how sorted does
    * `valueCol` come out? Reports per key the adjacent-descent
    * fraction and the longest nondecreasing run — the inputs to "will
    * min/max pruning on valueCol work under this layout, or does it
    * need its own sort/Z-order" (correlated columns prune nearly free;
    * see [[pruningStats]]). A perfectly co-sorted key scores 0
    * descents and one run spanning all rows.
    *
    * Shape: one per-key window pass — lag for descents, the
    * gaps-and-islands cumulative-descent trick for run ids — plus two
    * hash aggregates. Everything integer; the fraction is one double
    * ratio.
    */
  def sortednessAudit(
      df: DataFrame, keyCol: String, orderCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol), col(tieCol))
    val marked = df
      .select(col(keyCol), col(orderCol), col(tieCol),
        col(valueCol).as("__v"))
      .withColumn("__desc",
        when(col("__v") < lag(col("__v"), 1).over(w), 1L).otherwise(0L))
      .withColumn("__run", sum(col("__desc")).over(w))
    val runs = marked.groupBy(col(keyCol), col("__run"))
      .agg(count(lit(1)).as("__len"))
    val perKey = marked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("__desc")).as("n_descents"))
    perKey.join(
      runs.groupBy(col(keyCol)).agg(max(col("__len")).as("longest_run")),
      Seq(keyCol))
      .select(col(keyCol), col("n"), col("n_descents"),
        (col("n_descents").cast("double")
          / greatest(col("n") - 1, lit(1L)).cast("double"))
          .as("descent_frac"),
        col("longest_run"))
  }

  /** Rendezvous (highest-random-weight) shard-assignment audit
    * (Thaler & Ravishankar 1998): each key routes to
    * argmax_node md5(node:key) — the stateless consistent-placement
    * scheme whose defining property is minimal movement (removing one
    * node reassigns ONLY that node's keys, ~1/n of traffic, vs ~all
    * under mod-n). Reports per-node key and row counts plus the
    * balance ratio against a perfectly even split — the capacity-
    * planning number for sharding a keyed service or a bucketed
    * layout.
    *
    * Shape: one hash aggregate to distinct keys, a |nodes|-way
    * per-key argmax expressed as `greatest` over the fixed node list
    * (pure expression — no join, no shuffle beyond the key distinct),
    * then a |nodes|-row summary. Deterministic md5 weights replay in
    * the oracle.
    */
  def rendezvousShards(
      df: DataFrame, keyCol: String, nodes: Seq[String]): DataFrame = {
    require(nodes.nonEmpty && nodes.distinct.size == nodes.size,
      "nodes must be non-empty and unique")
    import graft.functions.TextFunctions
    val keyed = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).cast("string").as("__key"))
      .agg(count(lit(1)).as("__rows"))
    // argmax over the fixed node list as a struct-max: (weight, node)
    // pairs compare lexicographically, ties to the larger node name —
    // mirror with the same tie rule in SQL
    val pairs = nodes.map { n =>
      struct(TextFunctions.md5Hash60(concat(lit(n + ":"), col("__key")))
        .as("w"), lit(n).as("node"))
    }
    val assigned = keyed.withColumn("__best", greatest(pairs: _*))
    val tot = assigned.agg(count(lit(1)).as("__k"), sum(col("__rows"))
      .as("__r"))
    assigned.groupBy(col("__best.node").as("node"))
      .agg(count(lit(1)).as("n_keys"), sum(col("__rows")).as("n_rows"))
      .crossJoin(broadcast(tot))
      .select(col("node"), col("n_keys"), col("n_rows"),
        (col("n_keys").cast("double")
          / (col("__k").cast("double") / lit(nodes.size.toDouble)))
          .as("key_balance"),
        (col("n_rows").cast("double")
          / (col("__r").cast("double") / lit(nodes.size.toDouble)))
          .as("row_balance"))
  }

  /** Contiguous export-shard plan: consume rows in `idCol` order,
    * accumulate a running byte total, and assign each row to the shard
    * its start offset falls in (`shard = (cum − size) div target` —
    * the concatenated-file split, so every shard except the last holds
    * ≥ `targetBytes` once its first overflowing row lands). The
    * planner a 100 TB export actually runs before writing: it turns
    * "write ~1 GiB files" into explicit (shard → contiguous id range)
    * assignments that a partitioned writer can execute without a
    * global sort, and its output doubles as the manifest.
    *
    * The running total is the exclusive [[GlobalRank.runningSum]] over
    * fixed-width id buckets — no single-partition window ever sees
    * per-row data. Output per shard: row count, byte size, and the
    * [min_id, max_id] range; bounded by corpusBytes/target rows.
    */
  def planExportShards(
      df: DataFrame, idCol: String, bytesCol: String,
      targetBytes: Long, bucketWidth: Long = 1024L): DataFrame = {
    require(targetBytes >= 1L, s"targetBytes must be >= 1, got $targetBytes")
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(bytesCol).cast("long").as("__sz"))
      .withColumn("__b",
        ((col("__id") - pmod(col("__id"), lit(bucketWidth)))
          / lit(bucketWidth)).cast("long"))
    val planned = GlobalRank.runningSum(base, keys = Nil, bucket = Seq(col("__b")),
        order = Seq(col("__id")), values = Seq("__sz" -> "__start"), inclusive = false)
      .withColumn("shard",
        ((col("__start") - pmod(col("__start"), lit(targetBytes)))
          / lit(targetBytes)).cast("long"))
    planned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__sz")).as("bytes"),
        min(col("__id")).as("min_id"),
        max(col("__id")).as("max_id"))
  }

  /** Per-group content checksum: rows canonicalize to
    * `col1|col2|...` (nulls as a control-char sentinel so `("a", null)` and
    * `("a|", null-free)` differ), hash to 60 bits (md5-derived,
    * engine-portable), and SUM per group modulo 2^61−1 — an
    * order-independent, mergeable, partition-parallel fingerprint. Two
    * copies of a table agree per group iff (n_rows, checksum) agree
    * (up to hash collision); this is the row-level reconciliation a
    * 100 TB migration runs instead of sorting both sides.
    *
    * Caller contract: pick `cols` whose STRING rendering is canonical
    * across the engines being compared (integers/strings are; raw
    * doubles are not — round or format them first).
    */
  def groupChecksum(
      df: DataFrame, groupCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one content column")
    import graft.functions.TextFunctions
    val canonical = concat_ws("|",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0001"))): _*)
    df.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n_rows"),
        pmod(sum(TextFunctions.md5Hash60(canonical).cast("decimal(38,0)")),
          lit(2305843009213693951L)).cast("long").as("checksum"))
  }

  /** Reconcile two table snapshots by [[groupChecksum]]: full-outer
    * join of the per-group fingerprints with a verdict per group —
    * `match`, `count_mismatch`, `content_mismatch` (same count,
    * different bytes), or `missing_in_left`/`missing_in_right`. The
    * join runs on the group aggregates (one row per group), never on
    * the data.
    */
  def checksumReconcile(
      left: DataFrame, right: DataFrame, groupCol: String,
      cols: Seq[String]): DataFrame = {
    val a = groupChecksum(left, groupCol, cols)
      .select(col("grp"), col("n_rows").as("n_left"),
        col("checksum").as("checksum_left"))
    val b = groupChecksum(right, groupCol, cols)
      .select(col("grp"), col("n_rows").as("n_right"),
        col("checksum").as("checksum_right"))
    a.join(b, Seq("grp"), "full_outer")
      .withColumn("status",
        when(col("n_left").isNull, lit("missing_in_left"))
          .when(col("n_right").isNull, lit("missing_in_right"))
          .when(col("n_left") =!= col("n_right"), lit("count_mismatch"))
          .when(col("checksum_left") =!= col("checksum_right"),
            lit("content_mismatch"))
          .otherwise(lit("match")))
  }

  /** Mergeable partial-aggregate audit: summarize each shard
    * independently (count / exact decimal sum / min / max per key),
    * merge the shard summaries, and compare against the direct
    * single-pass aggregate. This is the associativity contract every
    * map-side combine, AQE partial agg, and incremental-refresh
    * pipeline silently relies on — made explicit and checkable.
    * Decimal sums make the merge EXACT (double partial sums would
    * differ from the direct pass by summation order at scale).
    *
    * Output per key: n, total, vmin, vmax (from the merged partials)
    * plus `merge_exact` — whether all four match the direct pass
    * bit-for-bit.
    */
  def partialAggAudit(
      df: DataFrame,
      shardCol: org.apache.spark.sql.Column,
      keyCol: String,
      valueCol: String): DataFrame = {
    val partials = df
      .groupBy(shardCol.as("__shard"), col(keyCol))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(30,6)")).cast("decimal(30,6)")
          .as("__s"),
        min(col(valueCol)).as("__mn"), max(col(valueCol)).as("__mx"))
    val merged = partials.groupBy(col(keyCol))
      .agg(sum(col("__n")).as("n"),
        sum(col("__s")).cast("decimal(30,6)").as("__sum"),
        min(col("__mn")).as("vmin"), max(col("__mx")).as("vmax"))
    val direct = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__dn"),
        sum(col(valueCol).cast("decimal(30,6)")).cast("decimal(30,6)")
          .as("__ds"),
        min(col(valueCol)).as("__dmn"), max(col(valueCol)).as("__dmx"))
    merged.join(direct, Seq(keyCol))
      .select(col(keyCol), col("n"),
        col("__sum").cast("double").as("total"),
        col("vmin"), col("vmax"),
        (col("n") === col("__dn") && col("__sum") === col("__ds") &&
          col("vmin") === col("__dmn") && col("vmax") === col("__dmx"))
          .as("merge_exact"))
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** T2: SMOTE oversampling (reference `transform_data.py:23,107-108`,
  * imblearn `SMOTE(random_state=42)`, k=5 neighbors).
  *
  * Semantics: the minority class is synthesized up to the majority size;
  * each synthetic sample lies on the segment between a minority row x and
  * one of its k EXACT nearest minority neighbors x_nn:
  * `x + u * (x_nn - x)`, `u ~ U(0,1)`.
  *
  * Spark-first plan, one pass over each class (no driver loops, no
  * index fit, no per-row shuffle):
  *   1. [[neighbours]]: one aggregate gathers the class's
  *      `(hash, id, features)` into one pool, and ONE projection per
  *      class row computes from it both its k nearest other rows,
  *      ordered by (squared Euclidean distance, id), and its rank in the
  *      seeded `(xxhash64(id, seed), id)` order;
  *   2. deterministic copy-fanout via `explode(sequence(...))` to hit the
  *      exact deficit count: every row gets `deficit / n` copies, the
  *      first `deficit % n` rows of the seeded order one more — the one
  *      row-generating op in the engine, done with a generator
  *      expression rather than a custom Generator (SURVEY.md §2.10);
  *   3. neighbor choice and interpolation factor drawn per synthetic
  *      row from seeded content hashes of `(id, copy)`.
  *
  * A class with at most k rows interpolates toward all of its other
  * rows; a one-row class duplicates itself (u·0 interpolation), so the
  * output size is always exact. A class whose estimated pool (rows ×
  * (64 + 8 × feature width) bytes) exceeds
  * `spark.sql.autoBroadcastJoinThreshold` (its 10 MB default when
  * broadcasts are off) fails up front with the class named.
  *
  * Row identity: `idCol` (a unique key) is REQUIRED — the plan carries
  * the caller's stable id and holds NO persisted state, so the operator
  * composes into long-lived sessions without leaking cache blocks, and
  * recomputed lineage (executor loss) cannot re-identify rows
  * differently. There is deliberately no `monotonically_increasing_id`
  * fallback: mid is only stable while its blocks stay pinned, so any
  * fallback either leaks persisted state (contradicting this contract)
  * or silently mis-identifies rows under recompute. A caller without a
  * natural key should derive one deterministically (a content hash, or
  * a key minted upstream of the pipeline). Every draw hashes that key
  * rather than calling `rand`, so the output is a pure function of the
  * input rows and the seed, whatever their partitioning and whichever
  * join Spark picks for the pool.
  *
  * Features ride in an `array<double>` column; non-feature columns of a
  * synthetic row are inherited from its seed row; parity with imblearn is
  * via invariants (balanced counts, synthetics on segments toward exact
  * nearest neighbors), not row-identity — PRNG streams differ
  * (SURVEY.md §5.3).
  */
object Smote {

  /** Rows and widest feature array of one class: what sizes its pool. */
  private final case class ClassSize(rows: Long, width: Int)

  /** Bytes of one pool entry besides its feature doubles (row header,
    * hash, id, array header), for the pool-size estimate.
    */
  private val PoolRowBytes = 64L

  def smote(
      df: DataFrame,
      labelCol: String,
      featuresCol: String,
      k: Int = 5,
      seed: Long = 42L,
      idCol: String): DataFrame = {
    // driver collect bounded by the class count: one (label, count,
    // width) row per distinct label
    val sizes = df.groupBy(col(labelCol))
      .agg(count(lit(1)), coalesce(max(size(col(featuresCol))), lit(0)))
      .collect().map(r => r.get(0) -> ClassSize(r.getLong(1), r.getInt(2)))
    require(sizes.length >= 2, "SMOTE needs at least two classes")
    val nMaj = sizes.map(_._2.rows).max
    val minorities = sizes.filter(_._2.rows < nMaj)
    // each class is one pool: bounded by the broadcast threshold, or by
    // its 10 MB default when broadcasts are off
    val threshold = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val poolCap =
      if (threshold > 0) threshold
      else SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.defaultValue.get
    minorities.foreach { case (classLabel, cls) =>
      val bytes = cls.rows * (PoolRowBytes + 8L * cls.width)
      require(bytes <= poolCap, s"SMOTE class $classLabel: ${cls.rows} rows x " +
        s"${cls.width} features is about $bytes bytes of neighbour pool, over " +
        s"the $poolCap-byte cap (spark.sql.autoBroadcastJoinThreshold); " +
        "raise the threshold to synthesize this class")
    }
    // imblearn 'auto': every non-majority class is synthesized up to the
    // majority size, each from its own neighborhood graph
    minorities.zipWithIndex.foldLeft(df) {
      case (acc, ((classLabel, cls), i)) =>
        acc.unionByName(syntheticRows(
          df, labelCol, featuresCol, classLabel, cls.rows, nMaj - cls.rows,
          k, seed + 101 * i, idCol))
    }
  }

  /** Synthetic rows for one class: [[neighbours]], exact copy-count
    * fanout, seeded interpolation (see object doc).
    */
  private def syntheticRows(
      df: DataFrame,
      labelCol: String,
      featuresCol: String,
      classLabel: Any,
      nClass: Long,
      nNeeded: Long,
      k: Int,
      seed: Long,
      idCol: String): DataFrame = {
    val minority = df.filter(col(labelCol) === lit(classLabel))
    val base = nNeeded / nClass
    val extra = nNeeded % nClass
    // uniform [0, 1) from the top 53 bits of a seeded hash of the copy
    val draw = (salt: Long) => shiftrightunsigned(
      xxhash64(col(idCol), col("__copy"), lit(seed + salt)), 11).cast("double") /
      lit(9007199254740992.0)
    val nnCount = size(col("__nns"))
    neighbours(minority, idCol, featuresCol, k, seed)
      .withColumn("__copies",
        lit(base) + when(col("__rank") <= extra, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("__copy", explode(sequence(lit(1L), col("__copies"))))
      .withColumn("__u", draw(3))
      .withColumn("__nn",
        when(nnCount > 0,
          element_at(col("__nns"), floor(draw(2) * nnCount).cast("int") + 1)
            .getField("f"))
          .otherwise(col(featuresCol)))
      .withColumn(featuresCol,
        zip_with(col(featuresCol), col("__nn"),
          (x, y) => x + col("__u") * (y - x)))
      .select(df.columns.map(col): _*)
  }

  /** `cls` (one class's rows, `idCol` unique) plus, for each row:
    *   - `__nns`: its `k` nearest OTHER rows of `cls` as
    *     `array<struct<d, id, f>>`, ordered by (d, id) where `d` is the
    *     double squared Euclidean distance, summed left to right over
    *     the features, and `f` the neighbor's features — all other rows
    *     when the class has at most k+1. A null distance (a null or
    *     missing feature on either side) counts as +Infinity, so such a
    *     row sorts after every row with a distance;
    *   - `__rank`: its 1-based rank in `(xxhash64(id, seed), id)` order.
    *
    * One global aggregate gathers the class's `(hash, id, features)`
    * into a single pool row, crossed with every class row; one
    * projection per row reads the pool. Spark broadcasts the pool row
    * when `spark.sql.autoBroadcastJoinThreshold` allows (a projection
    * over the class's own partitions, no shuffle) and runs the cross
    * join as a cartesian product when broadcasts are off. The pool
    * holds the whole class in one row, so the caller bounds the class
    * size ([[smote]] caps it by that threshold). The work is
    * O(n²·dim) per class: every row is compared with every other.
    */
  def neighbours(
      cls: DataFrame,
      idCol: String,
      featuresCol: String,
      k: Int,
      seed: Long): DataFrame = {
    val id = col(idCol)
    val hashed = cls.withColumn("__h", xxhash64(id, lit(seed)))
    val pool = hashed.agg(collect_list(struct(col("__h").as("h"), id.as("id"),
      col(featuresCol).as("f"))).as("__pool"))
    val entries = col("__pool")
    val dist = (f: Column) => coalesce(
      aggregate(zip_with(col(featuresCol), f, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t),
      lit(Double.PositiveInfinity))
    val nearest = slice(array_sort(transform(filter(entries, p => p("id") =!= id),
      p => struct(dist(p("f")).as("d"), p("id").as("id"), p("f").as("f")))), 1, k)
    val before = size(filter(entries,
      p => p("h") < col("__h") || (p("h") === col("__h") && p("id") < id)))
    hashed.crossJoin(pool)
      .select(cls.columns.map(col) :+ nearest.as("__nns") :+
        (before + 1L).as("__rank"): _*)
  }
}

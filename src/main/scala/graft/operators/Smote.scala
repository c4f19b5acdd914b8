package graft.operators

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T2: SMOTE oversampling (reference `transform_data.py:23,107-108`,
  * imblearn `SMOTE(random_state=42)`, k=5 neighbors).
  *
  * Semantics: the minority class is synthesized up to the majority size;
  * each synthetic sample lies on the segment between a minority row x and
  * one of its k nearest minority neighbors x_nn:
  * `x + u * (x_nn - x)`, `u ~ U(0,1)`.
  *
  * Spark-first plan (no driver loops, no cartesian product):
  *   1. kNN candidates via `BucketedRandomProjectionLSH` self-join on the
  *      minority rows only (shuffle bounded by bucket collisions, the
  *      standard sub-quadratic kNN at scale);
  *   2. per-row top-k by exact Euclidean distance (window over the LSH
  *      candidate pairs);
  *   3. deterministic copy-fanout via `explode(sequence(...))` to hit the
  *      exact deficit count, neighbor choice + interpolation factor from
  *      seeded `rand` — the one row-generating op in the engine, done
  *      with a generator expression rather than a custom Generator
  *      (SURVEY.md §2.10).
  *
  * Rows with no LSH bucket collision fall back to self-duplication
  * (u·0 interpolation) so the output size is always exact.
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
  * a key minted upstream of the pipeline).
  *
  * Features ride in an `array<double>` column; non-feature columns of a
  * synthetic row are inherited from its seed row; parity with imblearn is
  * via invariants (balanced counts, synthetics on minority segments), not
  * row-identity — PRNG streams differ (SURVEY.md §5.3).
  */
object Smote {

  def smote(
      df: DataFrame,
      labelCol: String,
      featuresCol: String,
      k: Int = 5,
      seed: Long = 42L,
      numHashTables: Int = 3,
      bucketLength: Double = 2.0,
      idCol: String): DataFrame = {
    // driver collect bounded by the class count: one (label, count)
    // row per distinct label
    val counts = df.groupBy(col(labelCol)).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.get(0) -> r.getLong(1))
    require(counts.length >= 2, "SMOTE needs at least two classes")
    val nMaj = counts.map(_._2).max
    // imblearn 'auto': every non-majority class is synthesized up to the
    // majority size, each from its own neighborhood graph
    counts.filter(_._2 < nMaj).zipWithIndex.foldLeft(df) {
      case (acc, ((classLabel, nClass), i)) =>
        acc.unionByName(syntheticRows(
          df, labelCol, featuresCol, classLabel, nClass, nMaj - nClass,
          k, seed + 101 * i, numHashTables, bucketLength, idCol))
    }
  }

  /** Synthetic rows for one class: LSH kNN over the class's rows, exact
    * copy-count fanout, seeded interpolation (see object doc).
    */
  private def syntheticRows(
      df: DataFrame,
      labelCol: String,
      featuresCol: String,
      classLabel: Any,
      nMin: Long,
      nNeeded: Long,
      k: Int,
      seed: Long,
      numHashTables: Int,
      bucketLength: Double,
      idCol: String): DataFrame = {
    val minority = df.filter(col(labelCol) === lit(classLabel))
      .withColumn("__id", col(idCol))
      .withColumn("__vec", array_to_vector(col(featuresCol)))

    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__vec").setOutputCol("__hashes")
      .setNumHashTables(numHashTables)
      .setBucketLength(bucketLength)
      .setSeed(seed)
    val model = lsh.fit(minority)

    // candidate pairs sharing >=1 bucket; exact top-k by distance per row
    val pairs = model
      .approxSimilarityJoin(minority, minority, Double.MaxValue, "__dist")
      .filter(col("datasetA.__id") =!= col("datasetB.__id"))
      .select(
        col("datasetA.__id").as("__id"),
        col("datasetB." + featuresCol).as("__nn_feat"),
        col("__dist"))
    val wk = Window.partitionBy(col("__id")).orderBy(col("__dist"), col("__nn_feat"))
    val neighbors = pairs
      .withColumn("__rk", row_number().over(wk))
      .filter(col("__rk") <= k)
      .groupBy(col("__id"))
      .agg(collect_list(col("__nn_feat")).as("__nns"))

    // fan out each minority row to its exact synthetic copy count: base
    // copies for all, one extra for the first (nNeeded % nMin) rows in a
    // seeded pseudo-random global order — (salt, hash, id), ranked by
    // [[GlobalRank.rowNumber]] with the `pmod` salt as its bucket, so no
    // single partition ever holds the whole minority class. The salt is
    // not order-aligned with the hash; it defines the order's first key.
    val base = nNeeded / nMin
    val extra = nNeeded % nMin
    val salts = 64
    val salted = minority
      .join(neighbors, Seq("__id"), "left")
      .withColumn("__salt", pmod(xxhash64(col("__id"), lit(seed)), lit(salts.toLong)))
    val fanned = GlobalRank.rowNumber(salted, keys = Nil, bucket = Seq(col("__salt")),
        order = Seq(xxhash64(col("__id"), lit(seed + 1)), col("__id")))
      .withColumn("__copies",
        lit(base) + when(col("__rn") <= extra, 1L).otherwise(0L))
      .filter(col("__copies") > 0)
      .withColumn("__copy", explode(sequence(lit(1L), col("__copies"))))

    // materialize rand draws once per synthetic row — referencing a rand
    // Column twice (or inside a higher-order lambda) can re-evaluate it
    val nnCount = coalesce(size(col("__nns")), lit(0))
    val synthetic = fanned
      .withColumn("__pick", floor(rand(seed + 2) * nnCount).cast("int"))
      .withColumn("__u", rand(seed + 3))
      .withColumn("__nn",
        when(nnCount > 0, element_at(col("__nns"), col("__pick") + 1))
          .otherwise(col(featuresCol)))
      .withColumn(featuresCol,
        zip_with(col(featuresCol), col("__nn"),
          (x, y) => x + col("__u") * (y - x)))
      .select(df.columns.map(col): _*)

    synthetic
  }
}

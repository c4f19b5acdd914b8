package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curriculum ordering: assign every row a GLOBAL 1-based training-order
  * index in (difficulty bucket, deterministic shuffle hash) order — the
  * easy-first (or any staged) example schedule of curriculum learning,
  * with a within-bucket order that is a seeded content hash, so the
  * "shuffle" replays identically on recomputation and on incremental
  * re-runs.
  *
  * The naive formulation is `row_number() OVER (ORDER BY bucket, hash)`
  * — a single-partition sort of the whole corpus, the canonical
  * scale-killer. Here the rank is [[GlobalRank.rowNumber]] with no key
  * and the bucket (difficulty bucket, salt), the salt being the TOP 6
  * BITS of the shuffle hash (order-aligned: every row of salt s
  * precedes every row of salt s+1 within a bucket). Byte-identical to
  * the single-window rank at any scale.
  */
object Curriculum {

  /** `df` plus `train_order` (global 1-based index in
    * (`bucket` asc, `hash` asc, `tieCol` asc) order). `hash` must be a
    * non-negative long narrower than 64 bits (`hashBits` wide, e.g.
    * [[graft.functions.TextFunctions.md5Hash60]] with 60); `tieCol`
    * completes the total order when hashes collide.
    */
  def order(
      df: DataFrame,
      bucket: Column,
      hash: Column,
      tieCol: String,
      hashBits: Int = 60): DataFrame = {
    require(hashBits > 6 && hashBits <= 63,
      s"hashBits must be in (6, 63], got $hashBits")
    val tagged = df
      .withColumn("__b", bucket)
      .withColumn("__h", hash)
      .withColumn("__salt", shiftrightunsigned(col("__h"), hashBits - 6))
    GlobalRank.rowNumber(tagged, keys = Nil,
        bucket = Seq(col("__b"), col("__salt")), order = Seq(col("__h"), col(tieCol)))
      .withColumnRenamed("__rn", "train_order")
      .drop("__b", "__h", "__salt", "__n")
  }
}

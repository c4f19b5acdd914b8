package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.GlobalRank

/** GlobalRank — the two-level rank and running sum must equal the naive
  * single window over (keys; bucket, order…) on every input shape: null
  * keys, heavy ties, a single bucket, an empty frame, and a bucket that
  * is not aligned with the order (a `pmod` hash salt).
  */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private final case class Case(
      name: String, df: DataFrame, keys: Seq[String], bucket: Column)

  // 300 rows: key k in {a, b, NULL}; score v with heavy ties (5 values);
  // id unique, so (bucket, v, id) is a total order
  private lazy val base = (1L to 300L)
    .map(i => (i, if (i % 3 == 0) None else Some(if (i % 3 == 1) "a" else "b"),
      i % 5, i % 4))
    .toDF("id", "k", "v", "w")

  private lazy val cases = Seq(
    // order-aligned: bucket = floor(v / 2), ties share a bucket
    Case("null keys, heavy ties", base, Seq("k"), floor($"v" / 2)),
    Case("one bucket", base, Seq("k"), lit(0)),
    Case("no keys", base, Nil, floor($"v" / 2)),
    Case("empty frame", base.filter(lit(false)), Seq("k"), floor($"v" / 2)),
    // not order-aligned: the bucket is the order's first key
    Case("non-order-aligned salt", base, Seq("k"),
      pmod(xxhash64($"id", lit(42L)), lit(8L))))

  private def order = Seq($"v", $"id")

  private def sorted(df: DataFrame, cols: String*): Seq[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
      .sortBy(_.head.asInstanceOf[Long])

  test("rowNumber and runningSum equal the naive single window") {
    for (c <- cases) {
      val df = c.df.withColumn("__bk", c.bucket)
      val naive = Window.partitionBy(c.keys.map(col): _*)
        .orderBy(col("__bk") +: order: _*)
      val prefix = naive.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val before = naive.rowsBetween(Window.unboundedPreceding, -1)
      val want = df
        .withColumn("rn", row_number().over(naive).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(c.keys.map(col): _*)))
        .withColumn("cv", sum($"v").over(prefix))
        .withColumn("cw", sum($"w").over(prefix))
        .withColumn("xv", coalesce(sum($"v").over(before), lit(0L)))
      val ranked = GlobalRank.rowNumber(df, c.keys.map(col), Seq(col("__bk")), order)
      val inc = GlobalRank.runningSum(df, c.keys.map(col), Seq(col("__bk")), order,
        Seq("v" -> "cv", "w" -> "cw"), inclusive = true)
      val exc = GlobalRank.runningSum(df, c.keys.map(col), Seq(col("__bk")), order,
        Seq("v" -> "xv"), inclusive = false)
      assert(ranked.count() === c.df.count(), c.name)
      assert(sorted(ranked, "id", "__rn", "__n") === sorted(want, "id", "rn", "n"), c.name)
      assert(sorted(inc, "id", "cv", "cw") === sorted(want, "id", "cv", "cw"), c.name)
      assert(sorted(exc, "id", "xv") === sorted(want, "id", "xv"), c.name)
      // the helper adds only its outputs; its join columns are dropped
      assert(ranked.columns.toSeq === df.columns.toSeq :+ "__n" :+ "__rn", c.name)
      assert(exc.columns.toSeq === df.columns.toSeq :+ "xv", c.name)
    }
  }
}

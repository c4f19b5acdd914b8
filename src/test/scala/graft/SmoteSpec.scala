package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Smote

/** SMOTE's neighbour sets and synthetic geometry against a brute-force
  * exact k-NN computed here, and its one-pool size cap.
  */
class SmoteSpec extends SparkSpec {
  import spark.implicits._

  // majority 0 (200 rows), minority 1 (40), and two classes at or below
  // k: 2 (3 rows) and 3 (1 row). Gaussian features spread wider than a
  // typical LSH bucket, so an approximate index misses true neighbours.
  private val rows: Seq[(Long, Int, Array[Double])] = {
    val rnd = new scala.util.Random(11)
    val label = (i: Int) => if (i <= 200) 0 else if (i <= 240) 1 else if (i <= 243) 2 else 3
    (1 to 244).map(i => (i.toLong, label(i), Array.fill(6)(rnd.nextGaussian() * 3.0)))
  }
  private lazy val df = rows.toDF("id", "label", "f").repartition(3)
  private val k = 3

  /** Squared L2 as the engine orders it: double terms summed left to
    * right; a missing feature on either side makes it +Infinity.
    */
  private def dist(a: Seq[Option[Double]], b: Seq[Option[Double]]): Double =
    if (a.length != b.length || a.exists(_.isEmpty) || b.exists(_.isEmpty))
      Double.PositiveInfinity
    else a.flatten.zip(b.flatten).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }

  /** id -> its k nearest other ids among `cls`, by (distance, id). */
  private def bruteKnn(cls: Seq[(Long, Seq[Option[Double]])]): Map[Long, Seq[Long]] =
    cls.map { case (id, f) =>
      id -> cls.filter(_._1 != id)
        .map { case (nid, g) => (dist(f, g), nid) }
        .sortWith { case ((da, ia), (db, ib)) =>
          val c = java.lang.Double.compare(da, db); c < 0 || (c == 0 && ia < ib) }
        .take(k).map(_._2)
    }.toMap

  private def asOpt(f: Array[Double]): Seq[Option[Double]] = f.toSeq.map(Some(_))

  private lazy val exactKnn: Map[Long, Seq[Long]] =
    rows.groupBy(_._2).values.flatMap(cls => bruteKnn(cls.map(r => r._1 -> asOpt(r._3)))).toMap

  private def withThreshold[A](bytes: String)(body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def neighbourIds(n: DataFrame): Map[Long, Seq[Long]] =
    n.select($"id", $"__nns.id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def sorted(d: DataFrame): Seq[(Long, Int, Seq[Double])] =
    d.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2))).toSeq
      .sortBy(r => (r._1, r._3.mkString(",")))

  test("smote: every synthetic row lies on a segment toward an exact k-NN") {
    val out = Smote.smote(df, "label", "f", k = k, seed = 42L, idCol = "id")
    val seeds = rows.map(r => r._1 -> r._3).toMap
    val got = out.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    assert(got.groupBy(_._2).view.mapValues(_.length).toMap ===
      Map(0 -> 200, 1 -> 200, 2 -> 200, 3 -> 200))
    val synthetic = got.filter { case (id, _, f) => !f.sameElements(seeds(id)) }
    // the one-row class can only duplicate itself; every other seed has
    // a neighbour, and u = 0 has probability 2^-53 per draw
    assert(synthetic.length === (200 - 40) + (200 - 3))
    val off = synthetic.filterNot { case (id, _, s) =>
      val x = seeds(id)
      exactKnn(id).exists { nid =>
        val d = seeds(nid).zip(x).map { case (a, b) => a - b }
        val u = s.zip(x).zip(d).map { case ((si, xi), di) => (si - xi) * di }.sum /
          d.map(v => v * v).sum
        u >= -1e-12 && u <= 1 + 1e-12 &&
          s.indices.forall(i => math.abs(x(i) + u * d(i) - s(i)) < 1e-9)
      }
    }
    assert(off.length === 0, "synthetic rows off every exact-neighbour " +
      s"segment, e.g. id ${off.headOption.map(_._1)}")
  }

  test("neighbours: exact k-NN by (distance, id) and the seeded rank") {
    // the 40-row minority class, plus a copy of its first row moved 2e6
    // along one feature (past what a DECIMAL(30,18) square holds) and a
    // row with a null feature, whose distances are all missing
    val minorityRows = rows.filter(_._2 == 1).map(r => r._1 -> asOpt(r._3))
    val far = minorityRows.head._2.updated(0, Some(minorityRows.head._2.head.get + 2e6))
    val nullRow = minorityRows(1)._2.updated(2, None)
    val cls = minorityRows ++ Seq(301L -> far, 302L -> nullRow)
    val minority = cls.toDF("id", "f").repartition(2)
    val n = Smote.neighbours(minority, "id", "f", k, seed = 7L)
    val got = neighbourIds(n)
    val want = bruteKnn(cls)
    assert(want(302L) === cls.map(_._1).filter(_ != 302L).sorted.take(k))
    assert(!want(minorityRows.head._1).contains(301L))
    assert(got === want)
    val rank = Window.orderBy(xxhash64($"id", lit(7L)), $"id")
    val wantRank = minority.select($"id", row_number().over(rank).cast("long").as("r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(n.select($"id", $"__rank").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap === wantRank)
  }

  test("smote: a class over the broadcast threshold fails; broadcasts off change nothing") {
    val minority = df.filter($"label" === 1)
    val one = sorted(Smote.smote(df, "label", "f", k = k, seed = 42L, idCol = "id"))
    val onePlan = Smote.neighbours(minority, "id", "f", k, seed = 7L)
      .queryExecution.executedPlan.toString
    assert(onePlan.contains("BroadcastNestedLoopJoin"), onePlan)
    // 40 rows x 6 doubles is about 4.5 KB of pool
    val err = withThreshold("2048") {
      intercept[IllegalArgumentException](
        Smote.smote(df, "label", "f", k = k, seed = 42L, idCol = "id"))
    }
    assert(err.getMessage.contains("SMOTE class 1:"), err.getMessage)
    assert(err.getMessage.contains("spark.sql.autoBroadcastJoinThreshold"))
    val (off, offPlan) = withThreshold("-1") {
      (sorted(Smote.smote(df, "label", "f", k = k, seed = 42L, idCol = "id")),
        Smote.neighbours(minority, "id", "f", k, seed = 7L)
          .queryExecution.executedPlan.toString)
    }
    assert(!offPlan.contains("Broadcast"), offPlan)
    assert(off === one)
  }
}

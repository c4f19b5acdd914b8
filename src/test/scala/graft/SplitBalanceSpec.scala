package graft

import org.apache.spark.sql.functions._

import graft.operators.{Balance, Smote, Split}

class SplitBalanceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = (1 to 100).map(i => (i.toLong, if (i <= 80) 0 else 1, i * 1.0))
    .toDF("id", "label", "x")

  test("stratified split: disjoint, exhaustive, exact per-class ceil sizes") {
    val r = Split.stratified(df, "label", 0.2, seed = 42L, tieBreak = Seq($"id"))
    assert(r.train.count() + r.test.count() === 100)
    assert(r.train.join(r.test, "id").count() === 0)
    val testByClass = r.test.groupBy("label").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(testByClass === Map(0 -> 16L, 1 -> 4L)) // ceil(80*.2), ceil(20*.2)
  }

  test("stratified split deterministic under seed") {
    val a = Split.stratified(df, "label", 0.2, 42L, Seq($"id")).test
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Split.stratified(df, "label", 0.2, 42L, Seq($"id")).test
      .select("id").collect().map(_.getLong(0)).toSet
    val c = Split.stratified(df, "label", 0.2, 7L, Seq($"id")).test
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a === b)
    assert(a !== c) // different seed shuffles membership
  }

  test("stratified split: salted two-level rank equals the single-window rank") {
    import org.apache.spark.sql.expressions.Window
    val seed = 42L
    val hash = xxhash64($"id", lit(seed))
    // reference membership: the unsalted per-class global rank (the
    // pre-salting formulation) — the salted rank must be byte-identical
    val wR = Window.partitionBy($"label").orderBy(hash, $"id")
    val wN = Window.partitionBy($"label")
    val ref = df.withColumn("rn", row_number().over(wR))
      .withColumn("n", count(lit(1)).over(wN))
      .filter($"rn" <= ceil($"n" * lit(0.2))).select("id")
      .collect().map(_.getLong(0)).toSet
    val got = Split.stratified(df, "label", 0.2, seed, Seq($"id")).test
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === ref)
    // and the salt genuinely spreads the class across >1 bucket
    val buckets = df.select(
      shiftrightunsigned(hash.bitwiseXOR(lit(Long.MinValue)), 58).as("s"))
      .distinct().count()
    assert(buckets > 1, s"expected >1 salt bucket, got $buckets")
  }

  test("stratifiedKFold: exhaustive, balanced per class, deterministic, disjoint from fold") {
    val folded = Split.stratifiedKFold(df, "label", k = 5, seed = 42L,
      tieBreak = Seq($"id"))
    assert(folded.count() === 100)
    // per-class fold sizes differ by at most one and sum to the class size
    val sizes = folded.groupBy("label", "fold").count().collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert((0 until 5).map(f => sizes((0, f.toLong))).sum === 80L)
    assert((0 until 5).map(f => sizes((1, f.toLong))).sum === 20L)
    assert(sizes.filterKeys(_._1 == 0).values.toSet === Set(16L)) // 80/5 exact
    assert(sizes.filterKeys(_._1 == 1).values.toSet === Set(4L))  // 20/5 exact
    // deterministic under seed; different seed shuffles membership
    def m(seed: Long) = Split.stratifiedKFold(df, "label", 5, seed, Seq($"id"))
      .select("id", "fold").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(42L) === m(42L))
    assert(m(42L) !== m(7L))
    // fold 0's validation and training sets partition the data
    val v0 = folded.filter($"fold" === 0)
    val t0 = folded.filter($"fold" =!= 0)
    assert(v0.count() + t0.count() === 100 && v0.join(t0, "id").count() === 0)
  }

  test("null labels are a real class: split and folds keep every row") {
    val withNull = Seq((1L, Some(0)), (2L, Some(0)), (3L, Some(0)),
      (4L, None), (5L, None)).toDF("id", "label")
    val r = Split.stratified(withNull, "label", 0.4, 42L, Seq($"id"))
    assert(r.train.count() + r.test.count() === 5)
    val nullTest = r.test.filter($"label".isNull).count()
    assert(nullTest === 1L) // ceil(2 * 0.4)
    val folded = Split.stratifiedKFold(withNull, "label", 2, 42L, Seq($"id"))
    assert(folded.count() === 5)
    assert(folded.filter($"label".isNull).count() === 2L)
  }

  test("stratified split extremes: frac 0 keeps all in train; frac 1 all in test") {
    val zero = Split.stratified(df, "label", 0.0, 42L, Seq($"id"))
    assert(zero.train.count() === 100 && zero.test.count() === 0)
    val one = Split.stratified(df, "label", 1.0, 42L, Seq($"id"))
    assert(one.train.count() === 0 && one.test.count() === 100)
  }

  test("undersample: balanced at minority size, subset of original") {
    val u = Balance.undersample(df, "label", 42L, Seq($"id"))
    val counts = u.groupBy("label").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(counts === Map(0 -> 20L, 1 -> 20L))
    assert(u.join(df, Seq("id"), "left_anti").count() === 0)
  }

  test("undersample: membership equals the naive per-class row_number window") {
    import org.apache.spark.sql.expressions.Window
    // reference: one whole-class window over the seeded content-hash
    // order, keeping the first n_min = 20 rows of every class
    val w = Window.partitionBy($"label").orderBy(xxhash64($"id", lit(42L)), $"id")
    val ref = df.withColumn("rn", row_number().over(w)).filter($"rn" <= 20)
      .select("id").collect().map(_.getLong(0)).toSet
    val got = Balance.undersample(df.repartition(7), "label", 42L, Seq($"id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === ref)
  }

  test("smote multiclass: every non-majority class lifted to majority size") {
    val tri = ((1 to 60).map(i => (i.toLong, 0)) ++
      (61 to 80).map(i => (i.toLong, 1)) ++
      (81 to 90).map(i => (i.toLong, 2)))
      .map { case (id, lbl) => (id, lbl, Array(id * 1.0, id * 3.0)) }
      .toDF("id", "label", "f")
    val s = Smote.smote(tri, "label", "f", k = 3, seed = 42L,
      idCol = "id")
    val counts = s.groupBy("label").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(counts === Map(0 -> 60L, 1 -> 60L, 2 -> 60L))
  }

  test("smote with idCol leaves no persisted blocks after materialization") {
    val feat = df.withColumn("f", array($"x", $"x" * 2.0))
      .select($"id", $"label", $"f")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Smote.smote(feat, "label", "f", k = 3, seed = 42L,
      idCol = "id").count()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"smote leaked persisted RDDs: ${after -- before}")
  }

  // there is deliberately NO no-idCol smote test: the operator requires
  // a caller-supplied unique key at the type level — a mid fallback
  // either pins persisted state or mis-identifies rows under recompute

  test("groupKFold: whole groups share a fold, folds bounded, nulls kept") {
    val df = (1 to 200).map(i => (i.toLong, (i % 17).toLong))
      .toDF("id", "grp")
      .union(Seq((900L, Option.empty[Long]), (901L, Option.empty[Long]))
        .toDF("id", "grp"))
    val r = graft.operators.Split.groupKFold(df, "grp", k = 4, seed = 7L)
    assert(r.count() === 202) // null groups are kept, not dropped
    assert(r.filter($"fold" < 0 || $"fold" >= 4).isEmpty)
    // leakage contract: one fold per group (null group included)
    val perGroup = r.groupBy($"grp").agg(countDistinct($"fold").as("nf"))
    assert(perGroup.filter($"nf" =!= 1).isEmpty)
    // deterministic under the seed; different seed moves some group
    val a = r.select("id", "fold").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = graft.operators.Split.groupKFold(df, "grp", k = 4, seed = 7L)
      .select("id", "fold").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a === b)
    val c = graft.operators.Split.groupKFold(df, "grp", k = 4, seed = 8L)
      .select("id", "fold").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a !== c)
  }

  test("smote: exact balance; synthetics inside minority bounding box") {
    val feat = df.withColumn("f", array($"x", $"x" * 2.0))
      .select($"id", $"label", $"f")
    val s = Smote.smote(feat, "label", "f", k = 3, seed = 42L,
      idCol = "id")
    val counts = s.groupBy("label").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(counts === Map(0 -> 80L, 1 -> 80L))
    // minority x range is [81, 100]; every synthetic f[0] must stay inside
    val mins = s.filter($"label" === 1)
      .select(element_at($"f", 1)).collect().map(_.getDouble(0))
    assert(mins.forall(v => v >= 81.0 && v <= 100.0))
    // synthetics lie on segments: f[1] == 2 * f[0] is preserved by
    // linear interpolation between points on that line
    val ratios = s.filter($"label" === 1)
      .select(element_at($"f", 2) / element_at($"f", 1)).collect().map(_.getDouble(0))
    assert(ratios.forall(r => math.abs(r - 2.0) < 1e-9))
  }
}

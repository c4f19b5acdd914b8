package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Mixture

class MixtureSpec extends SparkSpec {
  import spark.implicits._

  // 3 domains with skewed counts: a=60, b=30, c=10
  private def corpus = {
    val rows = (0 until 60).map(i => (i.toLong, "a")) ++
      (100 until 130).map(i => (i.toLong, "b")) ++
      (200 until 210).map(i => (i.toLong, "c"))
    rows.toDF("id", "dom")
  }

  test("quota arithmetic: largest total servable without upsampling") {
    val w = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    // N = min(floor(60/.5)=120, floor(30/.3)=100, floor(10/.2)=50) = 50
    // quotas: floor(.5*50)=25, floor(.3*50)=15, floor(.2*50)=10
    val got = Mixture.mixtureSummary(corpus, "dom", w, "id", 42L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 25L, "b" -> 15L, "c" -> 10L))
  }

  test("membership: deterministic, equals the unsalted single-window rank") {
    val w = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val s1 = Mixture.sampleMixture(corpus, "dom", w, "id", 42L)
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Mixture.sampleMixture(corpus.repartition(7), "dom", w, "id", 42L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 === s2, "membership must not depend on partitioning")
    // reference: plain per-domain window over the same hash order
    val h = TextFunctions.md5Hash60(concat($"id".cast("string"), lit(":42")))
    val ranked = corpus.withColumn("__h", h)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"dom").orderBy($"__h", $"id")))
    val quota = Map("a" -> 25, "b" -> 15, "c" -> 10)
    val ref = ranked.collect()
      .filter(r => r.getAs[Int]("rn") <= quota(r.getAs[String]("dom")))
      .map(_.getAs[Long]("id")).toSet
    assert(s1 === ref, "salted two-level rank must equal the global rank")
  }

  test("evalSample: exact k per group, small groups kept whole, partition-invariant") {
    val df = ((1L to 40L).map(i => (i, "big")) ++ Seq((100L, "tiny"), (101L, "tiny")))
      .toDF("id", "src")
    val got = Mixture.evalSample(df, "src", "id", k = 5, seed = 7L)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(got.count(_._1 == "big") === 5)
    assert(got.count(_._1 == "tiny") === 2) // group smaller than k: keep all
    // equals the naive per-group hash rank
    val h = TextFunctions.md5Hash60(concat($"id".cast("string"), lit(":7")))
    val ref = df.withColumn("__h", h)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"src").orderBy($"__h", $"id")))
      .filter($"rn" <= 5).select("id").collect().map(_.getLong(0)).toSet
    assert(got.map(_._2).toSet === ref)
    // and does not depend on physical layout
    val re = Mixture.evalSample(df.repartition(13), "src", "id", k = 5, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    assert(re === got.map(_._2).toSet)
  }

  test("evalSample: a null group is a group and keeps min(k, n_null) rows") {
    // the naive per-group window (q174's PARTITION BY source) ranks the
    // NULL group like any other; an equi-join on the group drops it
    val df = ((1L to 20L).map(i => (i, Option("big"))) ++
      (50L to 57L).map(i => (i, Option.empty[String])) ++
      Seq((90L, Option.empty[String]))).toDF("id", "src")
    val got = Mixture.evalSample(df, "src", "id", k = 5, seed = 7L)
    assert(got.filter($"src".isNull).count() === 5L) // min(5, 9)
    assert(got.filter($"src" === "big").count() === 5L)
    val small = Mixture.evalSample(df.filter($"src".isNull && $"id" < 53L),
      "src", "id", k = 5, seed = 7L)
    assert(small.count() === 3L) // min(5, 3): the whole null group
  }

  test("sampleByTokenBudget: first-fit prefix within token quotas, salt-invariant") {
    // tokens: domain a rows carry 10 tokens each (60 rows -> 600),
    // b carry 20 (30 rows -> 600), c carry 5 (10 rows -> 50)
    val toks = corpus.withColumn("n_tok",
      when($"dom" === "a", 10L).when($"dom" === "b", 20L).otherwise(5L))
    val w = Map("a" -> 0.5, "b" -> 0.4, "c" -> 0.1)
    // B = min(floor(600/.5)=1200, floor(600/.4)=1500, floor(50/.1)=500) = 500
    // quotas: a floor(250)=250 -> 25 rows; b floor(200)=200 -> 10 rows;
    // c floor(50)=50 -> all 10 rows
    val got = Mixture.sampleByTokenBudget(toks, "dom", w, "n_tok", "id", 42L)
    val counts = got.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("a" -> 25L, "b" -> 10L, "c" -> 10L))
    // membership equals the unsalted single-window cumsum reference
    val h = TextFunctions.md5Hash60(concat($"id".cast("string"), lit(":42")))
    val ref = toks.withColumn("__h", h)
      .withColumn("cum", sum($"n_tok").over(
        Window.partitionBy($"dom").orderBy($"__h", $"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .collect()
      .filter(r => r.getAs[Long]("cum") <=
        Map("a" -> 250L, "b" -> 200L, "c" -> 50L)(r.getAs[String]("dom")))
      .map(_.getAs[Long]("id")).toSet
    assert(got.select("id").collect().map(_.getLong(0)).toSet === ref)
  }

  test("unweighted domains are dropped; different seed shifts membership") {
    val w = Map("a" -> 1.0)
    val kept = Mixture.sampleMixture(corpus, "dom", w, "id", 42L)
    assert(kept.select("dom").distinct().collect().map(_.getString(0)).toSeq
      === Seq("a"))
    assert(kept.count() === 60L) // floor(1.0 * floor(60/1.0)) = 60
    val w2 = Map("a" -> 0.5, "b" -> 0.5)
    val m1 = Mixture.sampleMixture(corpus, "dom", w2, "id", 1L)
      .select("id").collect().map(_.getLong(0)).toSet
    val m2 = Mixture.sampleMixture(corpus, "dom", w2, "id", 2L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(m1 !== m2, "seed must drive the content-hash order")
  }

  test("sampleByHash: deterministic, near-frac rate, monotone in frac") {
    val df = (1L to 5000L).toDF("id")
    val a = Mixture.sampleByHash(df, "id", 0.3, 42L)
      .collect().map(_.getLong(0)).toSet
    val b = Mixture.sampleByHash(df, "id", 0.3, 42L)
      .collect().map(_.getLong(0)).toSet
    assert(a === b) // content-stable: same membership on recompute
    assert(math.abs(a.size - 1500) < 120, s"rate off: ${a.size}") // ~4 sigma
    val c = Mixture.sampleByHash(df, "id", 0.3, 7L)
      .collect().map(_.getLong(0)).toSet
    assert(a !== c) // seed changes membership
    // a smaller frac under the same seed is a SUBSET (hash threshold)
    val small = Mixture.sampleByHash(df, "id", 0.1, 42L)
      .collect().map(_.getLong(0)).toSet
    assert(small.subsetOf(a))
    // edges
    assert(Mixture.sampleByHash(df, "id", 0.0, 42L).count() === 0)
    assert(Mixture.sampleByHash(df, "id", 1.0, 42L).count() === 5000)
    // null ids sample deterministically as one group, never silently drop
    val withNull = Seq(Some(1L), Some(2L), None, None).toDF("id")
    assert(Mixture.sampleByHash(withNull, "id", 1.0, 42L).count() === 4)
    val n0 = Mixture.sampleByHash(withNull, "id", 0.5, 42L)
      .filter($"id".isNull).count()
    assert(n0 === 0L || n0 === 2L) // all-or-nothing for the null group
  }

  test("interleaveByWeight: every prefix tracks the weights within O(1), deterministic") {
    val df = ((1 to 200).map(i => (i.toLong, "A")) ++
      (1000 to 1100).map(i => (i.toLong, "B"))).toDF("doc_id", "source")
    val w = Map("A" -> 2.0 / 3, "B" -> 1.0 / 3)
    val order = Mixture.interleaveByWeight(df, "source", "doc_id", w, 42L)
      .orderBy($"order_key", $"source", $"doc_id")
      .select("source").collect().map(_.getString(0))
    // stride scheduling: domain counts in every prefix stay within ~1
    // of the weighted share
    var a = 0
    order.zipWithIndex.foreach { case (s, i) =>
      if (s == "A") a += 1
      val p = i + 1
      assert(math.abs(a - w("A") * p) <= 1.0 + 1e-9,
        s"prefix $p: A=$a want ${w("A") * p}")
    }
    // deterministic under the seed
    val again = Mixture.interleaveByWeight(df, "source", "doc_id", w, 42L)
      .orderBy($"order_key", $"source", $"doc_id")
      .select("source").collect().map(_.getString(0))
    assert(order.toSeq === again.toSeq)
    // unweighted domains are dropped
    val extra = df.union(Seq((5000L, "C")).toDF("doc_id", "source"))
    assert(Mixture.interleaveByWeight(extra, "source", "doc_id", w, 42L)
      .filter($"source" === "C").isEmpty)
  }

  test("sampleByDecay: fresh rows always kept, thresholds nested, deterministic") {
    val ref = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val refUs = ref.getTime * 1000L
    val rows = (1 to 500).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${1 + i % 30}%02d 12:00:00"))
    } ++ Seq((900L, ref), (901L, java.sql.Timestamp.valueOf("2024-02-05 00:00:00")))
    val df = rows.toDF("event_id", "ts")
    val wide = Mixture.sampleByDecay(df, "event_id", "ts", refUs, 30.0, 42L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    val narrow = Mixture.sampleByDecay(df, "event_id", "ts", refUs, 3.0, 42L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    // age <= 0 keeps with probability 1 (threshold = full hash range)
    assert(wide.contains(900L) && wide.contains(901L))
    assert(narrow.contains(900L) && narrow.contains(901L))
    // shorter half-life only evicts, never admits: nested membership
    assert(narrow.subsetOf(wide))
    assert(narrow.size < wide.size)
    // pure function of (id, seed, ts): identical on recompute
    val again = Mixture.sampleByDecay(df, "event_id", "ts", refUs, 30.0, 42L)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(again === wide)
  }

  test("temperatureWeights: hand-computed flattening; T=1 is the natural mix") {
    val df = Seq(
      (1L, "A", "a b"),
      (2L, "B", "c c c d d d")).toDF("doc_id", "source", "text")
    val r = Mixture.temperatureWeights(df, "source", "text", temperature = 2.0)
      .orderBy($"source").collect()
    // token shares 2/8 and 6/8; T=2 takes square roots then normalizes
    val pwA = math.sqrt(0.25); val pwB = math.sqrt(0.75); val z = pwA + pwB
    assert(r(0).getAs[Long]("n_docs") === 1L &&
      r(0).getAs[Long]("n_tokens") === 2L)
    assert(math.abs(r(0).getAs[Double]("token_share") - 0.25) < 1e-12)
    assert(math.abs(r(0).getAs[Double]("w_temp") - pwA / z) < 1e-12)
    assert(math.abs(r(1).getAs[Double]("w_temp") - pwB / z) < 1e-12)
    // temperature flattens: the small source is upsampled, the big one down
    assert(r(0).getAs[Double]("upsample") > 1.0)
    assert(r(1).getAs[Double]("upsample") < 1.0)
    val t1 = Mixture.temperatureWeights(df, "source", "text", temperature = 1.0)
      .orderBy($"source").collect()
    t1.foreach { row =>
      assert(math.abs(row.getAs[Double]("w_temp")
        - row.getAs[Double]("token_share")) < 1e-12)
      assert(math.abs(row.getAs[Double]("upsample") - 1.0) < 1e-12)
    }
  }

  test("importanceResample: target-like docs score higher; deterministic; n caps") {
    // two sub-languages with disjoint vocabularies; target is the "alpha"
    // slice, so alpha docs must carry strictly higher log importance
    val alpha = "alpha beta gamma delta epsilon zeta eta theta"
    val beta = "omega psi chi phi upsilon tau sigma rho"
    val raw = Seq(
      (1L, alpha, "t"), (2L, alpha + " " + alpha, "t"),
      (3L, beta, "r"), (4L, beta + " " + beta, "r"),
      (5L, alpha + " " + beta, "m")).toDF("doc_id", "text", "src")
    val target = raw.filter($"src" === "t")
    val all = Mixture.importanceResample(
      raw, target, "text", "doc_id", n = 5, numBuckets = 64, seed = 1L)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(all.size === 5) // n >= |raw| returns everything
    // pure-alpha docs beat the mixed doc, which beats pure-beta docs
    assert(all(1L) > all(5L) && all(2L) > all(5L))
    assert(all(5L) > all(3L) && all(5L) > all(4L))
    // membership and scores are identical on a second run (content-hash
    // Gumbel, not rand())
    val a = Mixture.importanceResample(
      raw, target, "text", "doc_id", n = 3, numBuckets = 64, seed = 1L)
      .collect().map(_.getLong(0)).toSet
    val b = Mixture.importanceResample(
      raw, target, "text", "doc_id", n = 3, numBuckets = 64, seed = 1L)
      .collect().map(_.getLong(0)).toSet
    assert(a === b && a.size === 3)
  }

  test("waterfillAllocation: saturation, water level, all-fit case") {
    val supply = Seq(("a", 2L), ("b", 5L), ("c", 10L)).toDF("k", "s")
    def alloc(b: Long) = Mixture.waterfillAllocation(supply, "k", "s", b)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("allocation"), r.getAs[Boolean]("saturated"))).toMap
    val tight = alloc(12L)
    // a (2) and b (5) saturate; c gets the level (12-7)/1 = 5
    assert(tight("a") === ((2.0, true)))
    assert(tight("b") === ((5.0, true)))
    assert(tight("c") === ((5.0, false)))
    assert(tight.values.map(_._1).sum === 12.0)
    // budget >= total supply: everything saturates at its supply
    val loose = alloc(20L)
    assert(loose.values.forall(_._2))
    assert(loose.values.map(_._1).sum === 17.0)
    // budget below n * min: nobody saturates, equal split
    val scarce = alloc(3L)
    assert(scarce.values.forall(!_._2))
    assert(scarce.values.forall(v => math.abs(v._1 - 1.0) < 1e-12))
  }

  test("doremiRound: zero excess is uniform; excess upweights; the " +
    "smoothing floor holds; weights sum to ~1") {
    val flat = Seq(("a", 0.0), ("b", 0.0), ("c", 0.0), ("d", 0.0))
      .toDF("dom", "ex")
    val u = Mixture.doremiRound(flat, "dom", "ex")
      .collect().map(_.getDouble(2))
    assert(u.forall(w => math.abs(w - 0.25) < 1e-8))

    val skew = Seq(("a", 5.0), ("b", 0.0), ("c", -3.0)).toDF("dom", "ex")
    val got = Mixture.doremiRound(skew, "dom", "ex",
      eta = 0.5, smoothing = 0.1)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2))).toMap
    assert(got("c")._1 === 0.0) // negative excess clamps to 0
    assert(got("a")._2 > got("b")._2 && got("b")._2 === got("c")._2)
    // smoothing floor: every weight >= s/K (minus the 1e-9 floor snap)
    assert(got.values.forall(_._2 >= 0.1 / 3 - 1e-9))
    val s = got.values.map(_._2).sum
    assert(math.abs(s - 1.0) < 1e-6)
    // hand replay of domain a's weight
    val raws = Seq(5.0, 0.0, 0.0).map(e =>
      BigDecimal(math.exp(0.5 * e)).setScale(12,
        BigDecimal.RoundingMode.HALF_UP))
    val wA = math.floor((0.9 * raws.head.toDouble / raws.sum.toDouble
      + 0.1 / 3.0) * 1e9) / 1e9
    assert(got("a")._2 === wA)
  }

  test("dataConstrainedPlan: fresh allocations pass through at " +
    "utilization 1; repeated domains decay by the closed form") {
    def snap(x: Double, s: Double) = math.floor(x * s) / s
    val a = Seq(("A", (1 to 10).map(i => s"t$i").mkString(" ")))
    val b = (1 to 10).map(j =>
      ("B", (1 to 10).map(i => s"u$j$i").mkString(" ")))
    val df = (a ++ b).toDF("src", "text") // U_A = 10, U_B = 100
    val out = Mixture.dataConstrainedPlan(df, "src", "text",
      budgetMultiple = 0.5)
      .orderBy("domain").collect()
    val (ra, rb) = (out(0), out(1))
    // tot = 110, uniform halves: alloc = 0.5 * 110 / 2 = 27.5 each
    assert(ra.getAs[Double]("alloc_tokens") === 27.5)
    // B: 27.5 <= 100 -> all fresh
    assert(rb.getAs[Double]("effective_tokens") === 27.5)
    assert(rb.getAs[Double]("utilization") === 1.0)
    // A: U = 10, epochs 2.75, R = 1.75 -> the paper's decay
    val decay = snap(math.exp(-1.75 / 15.4), 1e12)
    val eff = 10.0 * (1.0 + 15.4 * (1.0 - decay))
    assert(ra.getAs[Double]("epochs") === 2.75)
    assert(ra.getAs[Double]("effective_tokens") === snap(eff, 1e6))
    assert(ra.getAs[Double]("utilization") === snap(eff / 27.5, 1e6))
    assert(ra.getAs[Long]("unique_tokens") === 10L)
    assert(ra.getAs[Long]("n_docs") === 1L)
    // explicit weights: 3:1 split shifts the allocations, B stays fresh
    val w = Mixture.dataConstrainedPlan(df, "src", "text",
      budgetMultiple = 0.5, weights = Map("A" -> 3.0, "B" -> 1.0))
      .orderBy("domain").collect()
    assert(w(0).getAs[Double]("alloc_tokens") === 41.25)
    assert(w(1).getAs[Double]("alloc_tokens") === 13.75)
    assert(w(1).getAs[Double]("utilization") === 1.0)
  }
}

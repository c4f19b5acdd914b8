package graft

import org.apache.spark.sql.functions._

import graft.functions.{IpFunctions, IpToIntExpr}
import graft.operators.{Eda, Multimodal, TextAnalysis, TextDedup}

/** Regressions for review findings: null handling, range edges, and
  * doc/behavior agreement.
  */
class ReviewRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("histogram drops null values instead of binning them last") {
    val df = Seq(Some(1.0), Some(2.0), None, None).map(v => (v, "a"))
      .toDF("x", "cls")
    val rows = Eda.histogram(df, "x", "cls", bins = 4).collect()
    assert(rows.map(_.getLong(2)).sum === 2L) // only the two non-null rows
  }

  test("skewSafeCountDistinct ignores nulls like COUNT(DISTINCT)") {
    val df = Seq(("a", Some(1)), ("a", Some(1)), ("a", None), ("b", Some(2)))
      .toDF("k", "v")
    val got = Eda.skewSafeCountDistinct(df, "k", "v").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("a" -> 1L, "b" -> 1L))
  }

  test("native ip parser nulls out-of-long-range numerics like try_cast") {
    assert(IpToIntExpr.parseBoxed("2e19") === null)
    assert(IpToIntExpr.parseBoxed("-2e19") === null)
    assert(IpToIntExpr.parseBoxed("9e18") === java.lang.Long.valueOf(9000000000000000000L))
    // and the Column path agrees
    val r = Seq("2e19").toDF("ip").select(IpFunctions.ipToInt($"ip")).head
    assert(r.isNullAt(0))
  }

  test("shingleTable n=1 yields distinct unigrams (no unresolved column)") {
    val df = Seq((1L, "a b a c")).toDF("id", "text")
    val got = TextDedup.shingleTable(df, "text", "id", n = 1)
      .select("__s").collect().map(_.getString(0)).toSet
    assert(got === Set("a", "b", "c"))
  }

  test("multimodal decode survives null text") {
    val media = Multimodal.mediaFromText(
      Seq((1L, null.asInstanceOf[String]), (2L, "ab")).toDF("id", "text"),
      "id", "text")
    val rows = Multimodal.decodeFeatures(media).collect()
      .map(f => f.media_id -> f.n_bytes).toMap
    assert(rows === Map(1L -> 0L, 2L -> 2L))
  }

  test("languageId hit-count tie resolves to alphabetically first language") {
    // 'que' is in both es and fr stopword tables; tie -> es
    val got = Seq("que zzz").toDF("text")
      .select(TextAnalysis.languageId($"text")).head.getString(0)
    assert(got === "es")
  }

  test("split summary keeps classes whose train half is empty") {
    val df = Seq((1L, 0), (2L, 0), (3L, 0), (4L, 0), (5L, 0), (6L, 1))
      .toDF("id", "label")
    val got = graft.operators.Split.summary(df, "label", 0.2, 42L).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // class 1 has 1 row: ceil(0.2) = 1 test, 0 train — must still appear
    assert(got(1) === (0L, 1L))
    assert(got(0) === (4L, 1L))
  }

  test("nullAudit on empty input returns zeros, not nulls") {
    val df = Seq((1, "a")).toDF("x", "y").filter(lit(false))
    val r = graft.operators.Cleaning.nullAudit(df, Seq("x", "y")).head
    assert(r.getLong(0) === 0L && r.getLong(1) === 0L && r.getLong(2) === 0L)
  }

  test("textStats ratios are null (not NaN) for empty text") {
    val r = TextAnalysis.textStats(Seq((1L, "")).toDF("id", "text"), "text")
      .select("punct_ratio").head
    assert(r.isNullAt(0))
  }

  test("tfidf composes lazily and weights rarer terms higher") {
    val docs = Seq((1L, "apple banana"), (2L, "apple cherry")).toDF("id", "text")
    val w = TextAnalysis.tfidf(docs, "text", "id").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getAs[Double]("tfidf")).toMap
    assert(w((1L, "apple")) === 0.0) // in every doc -> idf ln(1) = 0
    assert(w((1L, "banana")) > 0.0)
  }

  test("removeDupSpans: short docs untouched; k=1 scrubs repeated tokens; empty text survives") {
    // both docs are 3 tokens long, shorter than k=5: no shingles exist,
    // so even identical docs stay untouched
    val short = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val gotShort = TextDedup.removeDupSpans(short, "text", "doc_id", k = 5)
      .orderBy($"doc_id").collect().map(_.getString(4))
    assert(gotShort.toSeq === Seq("a b c", "a b c"))
    // k=1: every globally-repeated token is a span
    val k1 = Seq((1L, "x y x"), (2L, "y z")).toDF("doc_id", "text")
    val gotK1 = TextDedup.removeDupSpans(k1, "text", "doc_id", k = 1)
      .orderBy($"doc_id").collect()
      .map(r => (r.getString(4), r.getLong(3)))
    assert(gotK1.toSeq === Seq(("", 3L), ("z", 1L))) // x repeats in-doc, y across
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    val gotEmpty = TextDedup.removeDupSpans(empty, "text", "doc_id", k = 5).head
    assert(gotEmpty.getString(4) === "" && gotEmpty.getLong(2) === 1L)
  }

  test("importanceResample: empty target degrades to smoothed-prior scoring, no crash") {
    val raw = Seq((1L, "aa bb cc"), (2L, "dd ee ff gg")).toDF("doc_id", "text")
    val target = raw.filter($"doc_id" < 0)
    val got = graft.operators.Mixture.importanceResample(
      raw, target, "text", "doc_id", n = 2, numBuckets = 16, seed = 3L)
      .collect()
    assert(got.length === 2) // every doc still scored and returned
    got.foreach(r => assert(!r.isNullAt(2)))
  }

  test("semanticDedup excludes unassignable rows: empty centroids and null embeddings") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0f, 0.0f))).toDF("cell", "cvec")
    val got = Similarity.semanticDedup(
      corpus, "vec_id", "embedding", cents, threshold = 0.9, dim = 2)
      .collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L)) // the null-embedding row is excluded
    val noCents = cents.filter($"cell" < 0)
    assert(Similarity.semanticDedup(
      corpus, "vec_id", "embedding", noCents, threshold = 0.9, dim = 2)
      .count() === 0L)
  }

  test("semanticDedupAgainst with empty corpus marks nothing as dup") {
    import graft.operators.Similarity
    val corpus = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
      .filter($"vec_id" < 0)
    val batch = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq((0, Array(1.0f, 0.0f))).toDF("cell", "cvec")
    val got = Similarity.semanticDedupAgainst(
      corpus, batch, "vec_id", "embedding", cents, threshold = 0.5, dim = 2)
      .collect()
    assert(got.length === 1 && !got(0).getBoolean(2) && got(0).isNullAt(3))
  }

  test("hardNegatives yields nothing when every corpus row shares the query label") {
    import graft.operators.Similarity
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f), "A"), (2L, Array(0.9f, 0.1f), "A"),
      (3L, Array(0.8f, 0.2f), "A")).toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegatives(
      corpus, corpus.filter($"vec_id" === 1L), "vec_id", "embedding",
      "label", k = 5).count() === 0L)
  }
  test("validateTurns: NULL idx orders first in every engine and " +
    "counts once in idx_gaps (twice-NULL adds one duplicate)") {
    import graft.operators.Chat
    val turns = Seq(
      (1L, Option.empty[Int], "user", "a"), (1L, Some(1), "assistant", "b"),
      (2L, Option.empty[Int], "user", "a"),
      (2L, Option.empty[Int], "assistant", "b"))
      .toDF("conv_id", "idx", "role", "content")
    val got = Chat.validateTurns(turns, "conv_id", "idx", "role", "content")
      .orderBy("conv_id").collect()
    // conv 1: NULL idx -> sentinel orders FIRST (the user turn), so
    // starts_with_assistant stays 0; one below-1 violation only
    assert(got(0).getAs[Long]("idx_gaps") === 1L)
    assert(got(0).getAs[Long]("starts_with_assistant") === 0L)
    assert(got(0).getAs[Long]("bad_alternations") === 0L)
    // conv 2: both idx NULL -> both below 1 (2) plus one duplicate (1)
    assert(got(1).getAs[Long]("idx_gaps") === 3L)
  }

  test("dataConstrainedPlan fails fast on a zero-token domain and on " +
    "a weights key absent from the corpus") {
    import graft.operators.Mixture
    val ok = Seq(("A", "one two three"), ("B", "four five"))
      .toDF("src", "text")
    val nullDom = ok.unionByName(
      Seq(("C", Option.empty[String])).toDF("src", "text"))
    val e1 = intercept[Exception] {
      Mixture.dataConstrainedPlan(nullDom, "src", "text", 2.0).collect()
    }
    assert(e1.getMessage.contains("zero unique tokens"))
    val e2 = intercept[Exception] {
      Mixture.dataConstrainedPlan(ok, "src", "text", 2.0,
        weights = Map("A" -> 1.0, "TYPO" -> 1.0)).collect()
    }
    assert(e2.getMessage.contains("weight keys"))
  }

  test("simhash index probe drops (never self-matches) an id present " +
    "on both sides") {
    import graft.functions.TextFunctions
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val sigs = TextDedup.simhashSignatures(docs, "text", "doc_id",
      TextFunctions.md5Hash60, bits = 60)
      .select($"doc_id".as("id"), $"sig")
    assert(TextDedup.simhashNearDupPairsAgainstIndex(
      sigs, docs, "text", "doc_id", maxHamming = 8,
      hashFn = TextFunctions.md5Hash60, bits = 60).count() === 0L)
  }

  test("continual replayBatches rejects an empty batch sequence " +
    "instead of throwing from reduce") {
    import graft.streaming.{Continual, ContinualCoverage, ContinualWinnow}
    val vocab = TextAnalysis.wordpieceVocab(
      Seq("abc abc").toDF("text"), "text")
    val corpus0 = Seq((1L, "a b c")).toDF("id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Continual.replay(ContinualCoverage.service(vocab, "text", "id"),
        Seq.empty)
    }
    assert(e1.getMessage.contains("at least one batch"))
    val e2 = intercept[IllegalArgumentException] {
      Continual.replay(ContinualWinnow.service(corpus0, "text", "id"),
        Seq.empty)
    }
    assert(e2.getMessage.contains("at least one batch"))
  }
}

package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SessionHygiene
import graft.queries.Registry
import graft.sources.Tables

/** `query_mix`: a closed loop with one client over a fixed list of
  * oracled registry queries on the committed sf0.01 tables. The seed
  * permutes only the order.
  *
  * Each timed query calls the query function (`queries.build`, including
  * any eager cuts) and writes its result as parquet (`queries.execute`),
  * resetting the session between queries as the harness does. The
  * results directory also gets `oracle_sql.json`, so that
  * `tools/verify_local.py` compares the written results with the
  * registry oracle afterwards.
  */
object QueryMix extends Main.Workload {

  /** Light queries: the first oracled query of eight `*Queries` families
    * (the cheapest eight of the eighteen families' first queries).
    */
  val Light: Seq[String] = Seq(
    "q10_null_audit", "q50_text_stats", "q01_pricing_summary",
    "q168_cohort_retention", "q20_velocity_24h", "q301_interpolate",
    "q188_rfm", "q159_csv_roundtrip")

  /** Heavy tail at sf0.1: KS statistic (a global rank), propensity
    * matching and Jaro-Winkler linkage.
    */
  val HeavyTail: Seq[String] = Seq("q150_ks_stat", "q303_psm_att", "q248_jw_linkage")

  val Queries: Seq[String] = Light ++ HeavyTail

  /** Set-up's warm-up queries; none of them is measured. */
  private val WarmUp = Seq("q02_range_join", "q12_dedup")

  private val TableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val registry: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** Warm the session as a long-lived query service is warm: table
    * footers, and two unmeasured queries through parse, plan, joins,
    * aggregation, windows, shuffle and write.
    */
  def prepare(spark: SparkSession, a: Main.Args, o: Outcome): Unit = {
    TableNames.foreach(t => Tables.load(spark, a.data, t).limit(1).collect())
    WarmUp.foreach { q =>
      registry(q)(spark, a.data).write.format("noop").mode("overwrite").save()
      SessionHygiene.reset(spark)
    }
  }

  private def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Queries)

  /** One timed query: (build s, execute s). Execution writes the result
    * as one parquet file, the form the oracle compare reads.
    */
  private def once(spark: SparkSession, a: Main.Args, name: String,
      outDir: File, t: Tracer): (Double, Double) = {
    val fn = registry(name)
    val (df, buildS) = Measure.timed(t.span("queries.build")(fn(spark, a.data)))
    val (_, execS) = Measure.timed(t.span("queries.execute") {
      df.coalesce(1).write.mode("overwrite").parquet(new File(outDir, name).getPath)
    })
    t.span("SessionHygiene.reset")(SessionHygiene.reset(spark))
    (buildS, execS)
  }

  /** The oracle SQL of every query in the mix, for the compare. */
  private def oracleSql: Map[String, String] =
    Registry.oracleSql.filter(q => Queries.contains(q._1))

  def run(spark: SparkSession, a: Main.Args, o: Outcome): Unit = {
    val names = order(a.seed)
    val missing = names.filterNot(registry.contains)
    o.check("query_mix names registered", missing.isEmpty, missing.mkString(", "))
    val outDir = new File(a.work, "results")
    outDir.mkdirs()
    Files.write(new File(outDir, "oracle_sql.json").toPath,
      Stats.json(oracleSql).getBytes(StandardCharsets.UTF_8))
    o.checks("results_dir") = outDir.getPath
    o.checks("queries") = names
    val perQuery = Seq.newBuilder[Double]
    val passes = Measure.loop(a.seconds, minOps = 1) {
      val times = names.filter(registry.contains).flatMap { name =>
        o.attempt(s"query_mix $name") {
          val (b, e) = once(spark, a, name, outDir, Tracer.Off)
          System.err.println(f"[perfbench] $name%-32s build $b%.3f s, execute $e%.3f s")
          b + e
        }
      }
      perQuery ++= times
      if (times.size == names.size) Some(times.sum) else None
    }
    val qs = perQuery.result()
    if (qs.nonEmpty && passes.nonEmpty) {
      o.e2e("op_p50_ms") = Stats.median(qs) * 1e3
      o.e2e("op_p90_ms") = Stats.percentile(qs, 90) * 1e3
      o.e2e("items_per_s") = qs.size / qs.sum
      o.named("query_p50_s") = Stats.median(qs)
      o.named("query_p90_s") = Stats.percentile(qs, 90)
      o.named("query_total_s") = Stats.median(passes)
      o.named("query_passes") = passes.size.toDouble
    }
    if (a.trace) traced(spark, a, o, names, passes)
  }

  private def traced(spark: SparkSession, a: Main.Args, o: Outcome,
      names: Seq[String], untraced: Seq[Double]): Unit = {
    val t = new Recorder(spark, s"${a.workload}-${a.seed}-traced")
    val outDir = new File(a.work, "results_traced")
    t.start()
    val t0 = System.nanoTime()
    names.filter(registry.contains).foreach { name =>
      o.attempt(s"query_mix traced $name") {
        t.span(s"query:$name")(once(spark, a, name, outDir, t))
      }
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    t.stop()
    Layers.report(t, o, untraced, tracedS)
  }
}

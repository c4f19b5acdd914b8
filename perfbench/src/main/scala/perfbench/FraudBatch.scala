package perfbench

import java.io.File

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, SessionHygiene}
import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.operators.{RangeJoin, Smote, Split, TimeFeatures}
import graft.pipeline.Processor
import graft.pipeline.Processor.{PipelineOutputs, PreppedDataset}
import graft.sources.{CsvSource, PipelineConfig}

/** `fraud_batch`: EP1 from CSVs to written parquet sinks.
  *
  * Untraced, each operation is `Processor.runPipeline` followed by
  * `Processor.writeOutputs`, exactly as a user calls them. Traced, the
  * same public functions `runPipeline` composes are called one by one in
  * the same order, each boundary forced with `Materialize.cut` inside a
  * span, so each layer's time is its own. The traced sinks must equal
  * the untraced ones (checked by digest on the Python side).
  */
object FraudBatch extends Main.Workload {

  /** Share of the reference row counts the generated inputs hold. */
  val Fraction = 0.01

  def config(files: Gen.Files): PipelineConfig =
    PipelineConfig.Default.copy(dataPaths = files.dataPaths)

  def runUntraced(spark: SparkSession, cfg: PipelineConfig, outDir: String): Unit =
    Processor.writeOutputs(Processor.runPipeline(spark, cfg), outDir)

  private val schemas = Map(
    "fraud_data" -> CsvSource.fraudData,
    "ip_to_country" -> CsvSource.ipToCountry,
    "creditcard_data" -> CsvSource.creditcard)

  /** `runPipeline` + `writeOutputs` with a forced cut at every boundary. */
  def runTraced(spark: SparkSession, cfg: PipelineConfig, outDir: String,
      t: Recorder): Unit = {
    val cut = Materialize.cut _
    val raw = t.span("sources.read") {
      cfg.dataPaths.map { case (name, path) =>
        name -> cut(CsvSource.read(spark, path, schemas(name)))
      }
    }
    val (fraud, ipMap, credit) = t.span("operators.clean") {
      val f = cut(Processor.cleanFraud(raw("fraud_data")))
      t.count("operators.clean_rows_in", raw("fraud_data").count().toDouble)
      t.count("operators.clean_rows_out", f.count().toDouble)
      (f, cut(Processor.cleanIpMap(raw("ip_to_country"))),
        cut(Processor.cleanCreditcard(raw("creditcard_data"))))
    }
    // Processor.transformFraud, split at its geolocate / feature boundary
    val geo = t.span("operators.geolocate") {
      val g = cut(RangeJoin.geolocate(fraud, ipMap))
      t.count("operators.geolocate_rows", g.count().toDouble)
      t.count("operators.geolocate_hits",
        g.filter(col("country") =!= "Unknown").count().toDouble)
      g
    }
    val fraudX = t.span("operators.velocity") {
      cut(TimeFeatures.engineerFraudFeatures(geo)
        .drop("signup_time", "purchase_time", "device_id", "ip_address",
          "ip_address_int")
        .withColumnRenamed("class", "label"))
    }
    val fraudPrep = prepare(fraudX, cfg, cfg.numericalFeatures,
      cfg.categoricalFeatures, "user_id", t)
    val creditRenamed = credit.withColumnRenamed("Class", "label")
    val creditX = creditRenamed
      .withColumn("__row_id", xxhash64(creditRenamed.columns.map(col): _*))
    val creditPrep = prepare(creditX, cfg,
      credit.columns.filterNot(_ == "Class").toSeq, Seq.empty, "__row_id", t)
    t.span("pipeline.write") {
      Processor.writeOutputs(PipelineOutputs(fraudPrep, creditPrep), outDir)
    }
  }

  /** `Processor.preprocessDataset` ("drop" / "smote"), cut per stage. */
  private def prepare(df: DataFrame, cfg: PipelineConfig, numericCols: Seq[String],
      categoricalCols: Seq[String], idCol: String, t: Recorder): PreppedDataset = {
    require(cfg.missingValueStrategy == "drop" && cfg.imbalanceStrategy == "smote",
      "the traced pipeline mirrors the reference defaults only")
    val cut = Materialize.cut _
    val complete = df.na.drop(numericCols)
    val stringified = categoricalCols.foldLeft(complete)(
      (d, c) => d.withColumn(c, col(c).cast("string")))
    val (train, test) = t.span("operators.split") {
      val s = Split.stratified(stringified, "label", cfg.testSize, cfg.randomState,
        Seq(col(idCol)))
      (cut(s.train), cut(s.test))
    }
    val fcfg = FeatureConfig(numericCols, categoricalCols)
    val (model, trainF, testF) = t.span("ml.fit") {
      FeaturePipeline.fitTransform(train, test, fcfg)
    }
    val names = FeaturePipeline.featureNames(model, fcfg)
    val slim = (d: DataFrame) => d.select(
      col(idCol), col("label").cast("long").as("label"),
      vector_to_array(col("features")).as("features"))
    val (slimTrain, slimTest) = t.span("ml.transform") {
      (cut(slim(trainF)), cut(slim(testF)))
    }
    val balanced = t.span("operators.smote") {
      t.count("operators.smote_minority_rows",
        slimTrain.groupBy("label").count().collect().map(_.getLong(1)).min.toDouble)
      val out = cut(Smote.smote(slimTrain, "label", "features", k = 5,
        seed = cfg.randomState, idCol = idCol))
      t.count("operators.smote_rows_out", out.count().toDouble)
      out
    }
    PreppedDataset(balanced, slimTest, names)
  }

  /** Spark-side values the DuckDB oracle recomputes from the same CSVs:
    * clean counts, per-country counts and velocity sums.
    */
  def checkValues(spark: SparkSession, cfg: PipelineConfig): Map[String, Any] = {
    val read = (n: String) => CsvSource.read(spark, cfg.dataPaths(n), schemas(n))
    val fraud = Processor.cleanFraud(read("fraud_data"))
    val ipMap = Processor.cleanIpMap(read("ip_to_country"))
    // cached for the checks only: the pipeline under test never is
    val x = Processor.transformFraud(fraud, ipMap).cache()
    val sums = x.agg(
      count(lit(1)), sum("user_transactions_24h"), sum("device_transactions_24h"),
      sum("ip_transactions_24h")).head()
    val values = Map(
      "clean_fraud_rows" -> fraud.count(),
      "clean_ip_rows" -> ipMap.count(),
      "clean_credit_rows" -> Processor.cleanCreditcard(read("creditcard_data")).count(),
      "transformed_rows" -> sums.getLong(0),
      "velocity_user_sum" -> sums.getLong(1),
      "velocity_device_sum" -> sums.getLong(2),
      "velocity_ip_sum" -> sums.getLong(3),
      "country_counts" -> x.groupBy("country").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    try values finally x.unpersist(true)
  }

  /** EP1 has no set-up of its own beyond the session. */
  def prepare(spark: SparkSession, a: Main.Args, o: Outcome): Unit = ()

  def run(spark: SparkSession, a: Main.Args, o: Outcome): Unit = {
    val files = Gen.write(new File(a.work, "inputs"), a.seed, Fraction)
    val cfg = config(files)
    val sinks = new File(a.work, "sinks").getPath
    val size = Gen.sizes(Fraction)
    val inputRows = (size.fraud + size.ipRanges + size.creditcard).toDouble
    // EP1 is a batch job: each operation runs in the session as the job
    // would, cold codegen included, so there is no warm-up operation.
    // Traced, the one untraced operation runs with the listener attached
    // (no spans, no cuts) to count CSV scans of the unforced plan.
    val audit = new Recorder(spark, s"${a.workload}-${a.seed}-audit")
    if (a.trace) audit.start()
    val times = Measure.loop(if (a.trace) 0.0 else a.seconds, minOps = 1) {
      o.attempt("fraud_batch run") {
        val (_, dt) = Measure.timed {
          if (a.trace) audit.span("pipeline.run")(runUntraced(spark, cfg, sinks))
          else runUntraced(spark, cfg, sinks)
        }
        SessionHygiene.reset(spark)
        System.err.println(f"[perfbench] fraud_batch run $dt%.3f s")
        dt
      }
    }
    // the checks below re-read the CSVs: they are not the program's scans
    if (a.trace) audit.stop()
    o.checks("sinks") = sinks
    o.checks("inputs") = Map("fraud" -> files.fraud,
      "ip_to_country" -> files.ipToCountry, "creditcard" -> files.creditcard)
    o.attempt("fraud_batch check values") {
      o.checks("spark") = checkValues(spark, cfg)
    }
    if (times.nonEmpty) {
      val p50 = Stats.median(times)
      o.e2e("op_p50_ms") = p50 * 1e3
      o.e2e("op_p90_ms") = Stats.percentile(times, 90) * 1e3
      o.e2e("items_per_s") = inputRows / p50
      o.named("batch_s") = p50
      o.named("batch_runs") = times.size.toDouble
    }
    if (a.trace) {
      val csvMb = cfg.dataPaths.values.map(p => new File(p).length / 1e6).sum
      val runMb = audit.layers.get("pipeline.run")
        .flatMap(_.get("sources.bytes_read_mb")).getOrElse(0.0)
      o.layers("sources.scans") = 3 * runMb / csvMb
      o.trace("audit_spans") = audit.spanRecords
      traced(spark, a, cfg, o, times)
    }
  }

  private def traced(spark: SparkSession, a: Main.Args, cfg: PipelineConfig,
      o: Outcome, untraced: Seq[Double]): Unit = {
    val t = new Recorder(spark, s"${a.workload}-${a.seed}-traced")
    t.start()
    val sinks = new File(a.work, "sinks_traced").getPath
    val t0 = System.nanoTime()
    o.attempt("fraud_batch traced run") {
      t.span("EP1")(runTraced(spark, cfg, sinks, t))
      t.span("SessionHygiene.reset")(SessionHygiene.reset(spark))
    }
    val tracedS = (System.nanoTime() - t0) / 1e9
    t.stop()
    o.checks("sinks_traced") = sinks
    Layers.report(t, o, untraced, tracedS)
    val c = (k: String) => t.total(k)
    o.layers("operators.clean_keep_ratio") =
      c("operators.clean_rows_out") / c("operators.clean_rows_in")
    o.layers("operators.geolocate_hit_ratio") =
      c("operators.geolocate_hits") / c("operators.geolocate_rows")
    o.layers("operators.smote_minority_rows") = c("operators.smote_minority_rows")
    o.layers("operators.smote_rows_out") = c("operators.smote_rows_out")
    o.layers("pipeline.write_mb") = c("pipeline.write_mb")
  }
}

package graft.pipeline

import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.ml.FeaturePipeline
import graft.ml.FeaturePipeline.FeatureConfig
import graft.operators._
import graft.sources.{CsvSource, PipelineConfig}

/** EP1/EP2/EP3 orchestration (reference `src/processor.py` +
  * `run_pipeline.py`): config -> load -> clean -> transform -> split ->
  * featurize -> rebalance -> parquet sinks.
  *
  * Spark shape (SURVEY.md §3): steps up to the split are ONE lazy
  * DataFrame DAG — narrow maps, one broadcast range join, three window
  * shuffles. [[preprocessDataset]] materializes it once at the split
  * input and cuts each later frame that more than one action reads, so
  * no action re-runs the chain above it; [[runPipeline]] returns
  * materialized outputs, and runs its two independent branches at the
  * same time.
  */
object Processor {

  /** Clean the fraud table (clean_data.py:71-86): drop null-IP rows,
    * coerce the two time columns, dedup, derive the uint32 IP.
    */
  def cleanFraud(df: DataFrame): DataFrame = {
    val noNull = Cleaning.dropNullRows(df, Seq("ip_address"))
    val times = Cleaning.coerceTimestamps(noNull, Seq("signup_time", "purchase_time"))
    Cleaning.withIpInt(Cleaning.dedup(times), "ip_address", "ip_address_int")
  }

  /** Clean the IP->country map (clean_data.py:88-96). */
  def cleanIpMap(df: DataFrame): DataFrame = {
    val d = Cleaning.dedup(df)
    Cleaning.withIpInt(
      Cleaning.withIpInt(d, "lower_bound_ip_address", "lower_bound_ip_address_int"),
      "upper_bound_ip_address", "upper_bound_ip_address_int")
  }

  /** Clean the creditcard table (clean_data.py:98-105): dedup only. */
  def cleanCreditcard(df: DataFrame): DataFrame = Cleaning.dedup(df)

  /** transform_data.py:113-132 fraud branch up to X/y prep: geolocate,
    * engineer temporal + velocity features, drop leak/id columns.
    */
  def transformFraud(fraud: DataFrame, ipMap: DataFrame): DataFrame = {
    val geo = RangeJoin.geolocate(fraud, ipMap)
    val feat = TimeFeatures.engineerFraudFeatures(geo)
    feat
      .drop("signup_time", "purchase_time", "device_id", "ip_address",
        "ip_address_int")
      .withColumnRenamed("class", "label")
  }

  final case class PreppedDataset(
      train: DataFrame,
      test: DataFrame,
      featureNames: Seq[String])

  /** EP3 (processor.py:56-85): stratified split -> fit-on-train
    * featurization -> rebalance train by strategy. Test is never
    * resampled (imblearn contract).
    *
    * Eager: the returned train and test are materialized
    * ([[graft.Materialize.cut]]), and so is every frame inside that
    * more than one action reads — the split input (the rank window and
    * its offsets aggregate), the train side (each estimator fit and
    * the transform) and the slim train features (SMOTE's class sizes,
    * each class's pool aggregate and its projection). Those
    * intermediate cuts are released before returning, on failure too,
    * so the only blocks left are the two returned frames'.
    */
  def preprocessDataset(
      df: DataFrame,
      cfg: PipelineConfig,
      numericCols: Seq[String],
      categoricalCols: Seq[String],
      idCol: String): PreppedDataset = {
    // missing_value_strategy extends to engineered features: a row whose
    // timestamp failed coercion has null time features, which no
    // estimator accepts downstream. "drop" removes such rows; "impute"
    // fills them with the column mean (the strategy the reference
    // declares but never implemented — clean_data.py:24-25)
    val complete = cfg.missingValueStrategy match {
      case "drop"          => df.na.drop(numericCols)
      case "impute"        => Cleaning.imputeMean(df, numericCols)
      case "impute_median" => Cleaning.imputeMedian(df, numericCols)
      // a typo'd strategy must fail here, like imbalanceStrategy does —
      // silently skipping null handling surfaces later as an opaque
      // VectorAssembler error (or worse, a clean-looking wrong run)
      case other => throw new IllegalArgumentException(
        s"unknown missing value strategy: $other " +
          "(expected drop | impute | impute_median)")
    }
    // resolved before the first job, so a typo fails without any work
    val rebalance: DataFrame => DataFrame = cfg.imbalanceStrategy match {
      case "smote" => d =>
        Smote.smote(d, "label", "features", k = 5, seed = cfg.randomState,
          idCol = idCol)
      case "undersample" => d =>
        Balance.undersample(d, "label", cfg.randomState, Seq(col(idCol)))
      case other =>
        throw new IllegalArgumentException(s"unknown imbalance strategy: $other")
    }
    val slim = (d: DataFrame) => d.select(
      col(idCol), col("label").cast("long").as("label"),
      vector_to_array(col("features")).as("features"))
    val fcfg = FeatureConfig(numericCols, categoricalCols)
    val cuts = mutable.Buffer.empty[DataFrame]
    val cut = (d: DataFrame) => { val c = Materialize.cut(d); cuts += c; c }
    try {
      // categorical inputs must be strings for StringIndexer; numeric
      // category codes (hour_of_day) cast through
      val stringified = cut(categoricalCols.foldLeft(complete)(
        (d, c) => d.withColumn(c, col(c).cast("string"))))
      val split = Split.stratified(
        stringified, "label", cfg.testSize, cfg.randomState, Seq(col(idCol)))
      val (model, trainF, testF) =
        FeaturePipeline.fitTransform(cut(split.train), split.test, fcfg)
      val out = PreppedDataset(cut(rebalance(cut(slim(trainF)))), cut(slim(testF)),
        FeaturePipeline.featureNames(model, fcfg))
      cuts --= Seq(out.train, out.test)
      out
    } finally cuts.foreach(Materialize.release)
  }

  final case class PipelineOutputs(
      fraud: PreppedDataset,
      creditcard: PreppedDataset)

  /** EP1 (processor.py:87-113): full batch pipeline over the three domain
    * CSVs. Returns both prepped datasets; [[writeOutputs]] persists the
    * named parquet sinks (the reference's result dict,
    * transform_data.py:150-161).
    *
    * Eager: the returned frames are materialized (see
    * [[preprocessDataset]]), so [[writeOutputs]] and any other action
    * on them reads their blocks and re-runs nothing upstream. They hold
    * the only blocks the call leaves; a caller done with them drops
    * them with [[graft.Materialize.release]] or
    * [[graft.SessionHygiene.reset]]. The fraud and creditcard branches
    * share no frame, so they run at the same time: fraud on the calling
    * thread, creditcard on a fresh one, which inherits the caller's
    * Spark local properties (job group, description, scheduler pool).
    * Both have finished before this returns or throws; when one fails,
    * the other's outputs are released and the first failure is thrown.
    */
  def runPipeline(spark: SparkSession, cfg: PipelineConfig): PipelineOutputs = {
    val tables = CsvSource.loadAll(spark, cfg.dataPaths)
    val fraud = cleanFraud(tables("fraud_data"))
    val ipMap = cleanIpMap(tables("ip_to_country"))
    val credit = cleanCreditcard(tables("creditcard_data"))

    val fraudX = transformFraud(fraud, ipMap)

    // content-hash row id, NOT monotonically_increasing_id: the split
    // membership and SMOTE's row identity hash on this id, and a
    // monotonic id is a function of partition layout — this DAG can run
    // more than once (the impute strategies' statistics pass reads it
    // before the first cut), and any layout change between executions
    // would reassign ids, flipping split membership (train/test
    // leakage). Rows are distinct after cleanCreditcard's dedup, so the
    // full-row hash is unique up to a 2^-64-scale birthday collision —
    // and a pure function of content, identical on every recomputation.
    val creditRenamed = credit.withColumnRenamed("Class", "label")
    val creditX = creditRenamed
      .withColumn("__row_id", xxhash64(creditRenamed.columns.map(col): _*))
    val creditNums = credit.columns.filterNot(c => c == "Class").toSeq

    val prepped = alongside(Seq(
      () => preprocessDataset(
        fraudX, cfg, cfg.numericalFeatures, cfg.categoricalFeatures, "user_id"),
      () => preprocessDataset(creditX, cfg, creditNums, Seq.empty, "__row_id")))
    if (prepped.exists(_.isFailure)) {
      prepped.foreach(_.foreach { p =>
        Materialize.release(p.train); Materialize.release(p.test) })
      throwFirstFailure(prepped)
    }
    PipelineOutputs(prepped(0).get, prepped(1).get)
  }

  /** Runs the first task on the calling thread and each other one on a
    * fresh thread, and returns once all have finished, their results in
    * task order. Fresh threads, not pooled ones, because Spark's local
    * properties (job group, description, scheduler pool) are inherited
    * when a thread is created: a pool thread carries those of whichever
    * caller made it.
    */
  private def alongside[A](tasks: Seq[() => A]): Seq[Try[A]] = {
    val rest = tasks.drop(1).map { task =>
      val result = new AtomicReference[Try[A]](
        Failure(new IllegalStateException("task did not run")))
      val t = new Thread(
        () => result.set(try Success(task()) catch { case e: Throwable => Failure(e) }),
        "graft-ep1-task")
      t.setDaemon(true)
      t.start()
      (t, result)
    }
    val first = try tasks.headOption.map(task => Try(task())).toSeq
      finally rest.foreach(_._1.join())
    first ++ rest.map(_._2.get)
  }

  /** Throws the first failure among `results`, the later ones added to
    * it as suppressed; returns when there is none.
    */
  private def throwFirstFailure(results: Seq[Try[_]]): Unit =
    results.collect { case Failure(e) => e } match {
      case first +: others =>
        others.foreach(first.addSuppressed)
        throw first
      case _ =>
    }

  /** Writes the six parquet sinks under `outDir`, all at the same time
    * (see [[runPipeline]] for the threads). Every write has finished
    * before this returns or throws; when any fails, the first failure
    * is thrown with the others suppressed.
    */
  def writeOutputs(out: PipelineOutputs, outDir: String): Unit = {
    val spark = out.fraud.train.sparkSession
    import spark.implicits._
    // the reference's feature-name lists (transform_data.py:150-161) as
    // their own named sinks
    val names = (p: PreppedDataset) =>
      p.featureNames.zipWithIndex.map { case (n, i) => (i.toLong, n) }
        .toDF("idx", "feature_name")
    val sinks = Seq(
      "fraud_train" -> out.fraud.train,
      "fraud_test" -> out.fraud.test,
      "credit_train" -> out.creditcard.train,
      "credit_test" -> out.creditcard.test,
      "fraud_feature_names" -> names(out.fraud),
      "credit_feature_names" -> names(out.creditcard))
    throwFirstFailure(alongside(sinks.map { case (name, frame) =>
      () => frame.write.mode("overwrite").parquet(s"$outDir/$name")
    }))
  }

  /** EP2 (processor.py:21-54): the EDA fan-out as named result frames
    * over one cached input.
    */
  def edaReport(df: DataFrame, numericCols: Seq[String],
      categoricalCols: Seq[String], targetCol: String): Map[String, DataFrame] = {
    // no internal cache: each report frame re-scans the input, which at
    // corpus scale is the right default (pinning a 100 TB input for a
    // handful of small aggregates is the wrong trade, and a returned
    // Map gives no hook to ever unpersist). A caller holding a small,
    // expensive-to-recompute input can cache it around this call.
    val base = Map(
      "describe" -> Eda.describe(df, numericCols),
      "class_distribution" -> Eda.valueCounts(df, targetCol))
    val rates = categoricalCols.map(c =>
      s"rate_by_$c" -> Eda.groupedMean(df, c, targetCol)).toMap
    val hists = numericCols.map(c =>
      s"hist_$c" -> Eda.histogram(df, c, targetCol, bins = 50)).toMap
    base ++ rates ++ hists
  }
}

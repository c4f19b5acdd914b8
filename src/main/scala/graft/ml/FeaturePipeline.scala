package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.feature.{OneHotEncoder, OneHotEncoderModel, StandardScaler, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame

/** ML featurization surface (reference `transform_data.py:69-99` +
  * `processor.py:56-85`): the sklearn
  * `ColumnTransformer([num -> StandardScaler, cat -> OneHotEncoder])`
  * re-expressed as one MLlib `Pipeline`.
  *
  * Stage mapping (SURVEY.md §2.9):
  *   - M1 categorical cast  -> one multi-column StringIndexer
  *     (handleInvalid="keep", alphabetAsc — sklearn sorts categories
  *     lexicographically);
  *   - M2 one-hot           -> OneHotEncoder(dropLast=true): the indexer's
  *     keep bucket is the LAST index, so dropping it reproduces sklearn
  *     `handle_unknown='ignore'` exactly — unseen categories encode as
  *     all-zeros while every training-seen category keeps its slot;
  *   - M3 scaling           -> StandardScaler(withMean=true, withStd=true);
  *     MLlib uses sample std (ddof=1) vs sklearn population (ddof=0) —
  *     negligible at n >> 1, documented tolerance (SURVEY.md M3);
  *   - M4/M5 composition    -> VectorAssembler(num) -> scaler -> final
  *     VectorAssembler, fit on train only, transform train+test;
  *   - M6 feature names     -> [[featureNames]], sklearn
  *     `get_feature_names_out` format ("num__age", "cat__source_Ads").
  */
object FeaturePipeline {

  final case class FeatureConfig(
      numericCols: Seq[String],
      categoricalCols: Seq[String],
      outputCol: String = "features")

  def build(cfg: FeatureConfig): Pipeline = {
    // one multi-column stage: its fit collects every column's labels in
    // a single pass, where a stage per column scans the input once each
    val indexer = new StringIndexer()
      .setInputCols(cfg.categoricalCols.toArray)
      .setOutputCols(cfg.categoricalCols.map(c => s"__${c}_idx").toArray)
      .setHandleInvalid("keep")
      .setStringOrderType("alphabetAsc")
    val encoder = new OneHotEncoder()
      .setInputCols(cfg.categoricalCols.map(c => s"__${c}_idx").toArray)
      .setOutputCols(cfg.categoricalCols.map(c => s"__${c}_oh").toArray)
      .setDropLast(true)
    val numStages =
      if (cfg.numericCols.nonEmpty)
        Seq(
          new VectorAssembler()
            .setInputCols(cfg.numericCols.toArray).setOutputCol("__num_raw"),
          new StandardScaler()
            .setInputCol("__num_raw").setOutputCol("__num_scaled")
            .setWithMean(true).setWithStd(true))
      else Seq.empty
    val numOut = if (cfg.numericCols.nonEmpty) Seq("__num_scaled") else Seq.empty
    val catStages = if (cfg.categoricalCols.nonEmpty) Seq(indexer, encoder) else Seq.empty
    val catOut = cfg.categoricalCols.map(c => s"__${c}_oh")
    val assembler = new VectorAssembler()
      .setInputCols((numOut ++ catOut).toArray)
      .setOutputCol(cfg.outputCol)
    new Pipeline().setStages((numStages ++ catStages :+ assembler).toArray)
  }

  /** Fit on train only, transform both — the reference's
    * fit_transform(train) / transform(test) contract
    * (transform_data.py:125-127,140-142).
    */
  def fitTransform(
      train: DataFrame,
      test: DataFrame,
      cfg: FeatureConfig): (PipelineModel, DataFrame, DataFrame) = {
    val model = build(cfg).fit(train)
    (model, model.transform(train), model.transform(test))
  }

  /** M6: sklearn `get_feature_names_out()`-style names, derived from the
    * fitted stages (indexer labels in alphabetical order; the dropped
    * keep-slot never appears).
    */
  def featureNames(model: PipelineModel, cfg: FeatureConfig): Seq[String] = {
    val numNames = cfg.numericCols.map(c => s"num__$c")
    val labelsByCol: Map[String, Array[String]] = model.stages.collect {
      case si: StringIndexerModel => si.getInputCols.zip(si.labelsArray)
    }.flatten.toMap
    val catNames = cfg.categoricalCols.flatMap { c =>
      labelsByCol(c).map(l => s"cat__${c}_$l")
    }
    numNames ++ catNames
  }
}

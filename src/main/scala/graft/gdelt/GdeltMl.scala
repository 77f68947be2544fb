package graft.gdelt

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{CountVectorizerModel, StringIndexer, StringIndexerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.VocabularyCut

/** The reference's two ML jobs (SURVEY.md §2.9) on org.apache.spark.ml —
  * the same JVM API the reference calls through PySpark, so results match
  * within optimizer tolerance (LBFGS, StringIndexer frequency ordering).
  */
object GdeltMl {

  /** 6-feature week classifier + AUC with train == eval — deliberately
    * reproducing the reference's no-split quirk
    * (general_ml_and_source_sentiment_analysis.py:50-69). */
  case class WeekModel(auc: Double, coefficients: Map[String, Double],
      intercept: Double, labels: Seq[String])

  /** `label_week` indexed into `label` over the rows of the two labelled
    * weeks, the only rows the three models fit on. Days outside both
    * windows carry `label_week = other` (GdeltExprs.weekLabel); with them
    * the label is 3-class, which BinaryClassificationEvaluator rejects
    * and whose multinomial model has no `coefficients`. */
  private def indexedWeeks(df: DataFrame): (StringIndexerModel, DataFrame) = {
    val labelled = df.filter(col("label_week").isin("week_feb", "week_may"))
    val indexer = new StringIndexer()
      .setInputCol("label_week").setOutputCol("label").fit(labelled)
    (indexer, indexer.transform(labelled))
  }

  val weekFeatures: Seq[String] =
    Seq("k_openai", "k_google", "k_anthropic", "v2tone_1", "v2tone_3", "v2tone_6")

  def weekClassifier(features: DataFrame): WeekModel = {
    val (indexerModel, indexed) = indexedWeeks(features)
    val assembled = new VectorAssembler()
      .setInputCols(weekFeatures.toArray).setOutputCol("features")
      .transform(indexed.na.fill(0, weekFeatures))
    val model: LogisticRegressionModel =
      new LogisticRegression()
        .setFeaturesCol("features").setLabelCol("label")
        .fit(assembled)
    val auc = new BinaryClassificationEvaluator().setLabelCol("label")
      .evaluate(model.transform(assembled))
    WeekModel(auc,
      weekFeatures.zip(model.coefficients.toArray).toMap,
      model.intercept,
      indexerModel.labelsArray.head.toSeq)
  }

  /** The reference's abandoned FIRST-TRY job, ported faithfully
    * (original_first_try_glue_job.py): 13 features (url/token counts +
    * flags + all 7 V2Tone components), randomSplit [0.8, 0.2] seed 42
    * (M5), default LR, held-out AUC, and — the M11 shape the final jobs
    * dropped — label values introspected from the SCHEMA's ml_attr
    * metadata rather than the fitted indexer model. */
  final case class FirstTryResult(auc: Double,
      coefficients: Map[String, Double], positiveLabel: String)

  val firstTryFeatures: Seq[String] =
    Seq("url_length", "num_themes", "num_orgs",
      "k_openai", "k_google", "k_anthropic") ++ (1 to 7).map(i => s"v2tone_$i")

  def firstTryClassifier(features: DataFrame): FirstTryResult = {
    val indexed = indexedWeeks(features)._2
    val assembled = new VectorAssembler()
      .setInputCols(firstTryFeatures.toArray).setOutputCol("features")
      .transform(indexed.na.fill(0, firstTryFeatures))
    val Array(train, test) = assembled.randomSplit(Array(0.8, 0.2), seed = 42)
    val model = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label").fit(train)
    val auc = new BinaryClassificationEvaluator().setLabelCol("label")
      .evaluate(model.transform(test))
    // M11: schema-metadata introspection, the literal port of
    // df.schema["label"].metadata["ml_attr"]["vals"][1]
    val labelVals = indexed.schema("label").metadata
      .getMetadata("ml_attr").getStringArray("vals")
    FirstTryResult(auc,
      firstTryFeatures.zip(model.coefficients.toArray).toMap,
      labelVals(1))
  }

  /** Theme bag-of-words classifier: CountVectorizer(1000, minDF=5) + LR
    * (regParam 0.1); coefficients read back against the CV vocabulary and
    * ranked — positive ⇒ predicts the less-frequent label
    * (theme_ml_job.py:57-79). Returns (theme, score) ranked desc. The
    * 1,000-theme vocabulary is cut in a total order (VocabularyCut), not
    * by CountVectorizer.fit, so real GKG exports — with more than 1,000
    * themes past minDF — get the same model on every run. */
  def themeModel(core: DataFrame): DataFrame = {
    val dfMl = indexedWeeks(core.select(col("label_week"), col("themes_arr"))
      .filter(col("themes_arr").isNotNull))._2
    val cvModel = new CountVectorizerModel(
        VocabularyCut(dfMl, "themes_arr", vocabSize = 1000, minDF = 5))
      .setInputCol("themes_arr").setOutputCol("features")
    val indexed = cvModel.transform(dfMl)
    val lr = new LogisticRegression()
      .setFeaturesCol("features").setLabelCol("label").setRegParam(0.1)
    val weights = lr.fit(indexed).coefficients.toArray
    val spark = core.sparkSession
    import spark.implicits._
    cvModel.vocabulary.toSeq.zip(weights.toSeq)
      .toDF("theme", "score")
      .orderBy(col("score").desc, col("theme").asc)
  }
}

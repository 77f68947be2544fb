package graft.gdelt

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.report.Markdown

/** The reference's whole batch flow as ONE runnable job (SURVEY §3):
  * raw GKG JSON export → core parquet → ml-features parquet → the four
  * markdown reports (summary / network / theme / entity-sentiment) →
  * both published PNG graphs. Replaces build_datasets.py (pandas ETL) +
  * transform_pandas_friendly_to_spark_friendly.py (the ns-timestamp fixup
  * — unnecessary here, we write µs) + the report scripts, distributed end
  * to end. GdeltPipelineSpec runs the whole chain from raw JSONL in one
  * test and asserts the full artifact set.
  *
  * Usage: runMain graft.gdelt.GdeltPipeline <rawJson|rawJsonl> <outDir>
  */
object GdeltPipeline {

  /** Raw GKG DataFrame → (core, mlFeatures), both written under outDir. */
  def run(spark: SparkSession, raw: DataFrame, outDir: String): (DataFrame, DataFrame) = {
    val core = GdeltEtl.core(raw)
    Tables.writeParquet(core, s"$outDir/gdelt_core.parquet")
    val coreBack = spark.read.parquet(s"$outDir/gdelt_core.parquet")
    val ml = GdeltEtl.mlFeatures(coreBack)
    Tables.writeParquet(ml, s"$outDir/gdelt_ml_features.parquet")
    val mlBack = spark.read.parquet(s"$outDir/gdelt_ml_features.parquet")
    // the model (the pipeline's most expensive tail step) is fitted once
    // and every report table collected once, shared by the four markdown
    // reports and both graphs
    val model = GdeltMl.weekClassifier(mlBack)
    val tables = GdeltReport.tables(coreBack, model)
    Markdown.write(s"$outDir/summary_report.md", GdeltReport.summary(tables))
    Markdown.write(s"$outDir/network_report.md", GdeltReport.network(tables))
    Markdown.write(s"$outDir/theme_report.md", GdeltReport.themes(tables))
    Markdown.write(s"$outDir/entity_sentiment_report.md",
      GdeltReport.entitySentiment(tables))
    GdeltGraphs.writeShareOfVoiceStats(tables.stats,
      s"$outDir/graph_share_of_voice.png")
    GdeltGraphs.writeFeatureImportanceModel(tables.model,
      s"$outDir/graph_feature_importance.png")
    (coreBack, mlBack)
  }

  def main(args: Array[String]): Unit = {
    val Array(rawPath, outDir) = args.take(2)
    val spark = graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[4]"))
    spark.sparkContext.setLogLevel("WARN")
    // the reference's export can be a JSON array or JSONL; multiLine
    // handles both shapes the pandas loader accepted (build_datasets.py:57-69)
    val raw =
      if (rawPath.endsWith(".jsonl")) Tables.jsonLines(spark, rawPath)
      else Tables.multiLineJson(spark, rawPath)
    run(spark, raw, outDir)
    spark.stop()
  }
}

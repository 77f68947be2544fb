package graft.gdelt

import java.nio.file.{Files, Paths}

import graft.report.Charts
import graft.report.Markdown.Table

/** The reference's two flagship PNG graphs, rendered by the engine's S8
  * chart sink from the same collected tables the markdown reports use
  * ([[GdeltReport.Tables]]) — closing the last reference output class
  * (published under reference gdelt/graphs/). Chart inputs are tiny
  * RESULT tables (per-week stats, six model coefficients); all heavy
  * lifting happened in the distributed aggregation/fit that produced
  * them, so neither writer runs a Spark job. */
object GdeltGraphs {

  /** graph_share_of_voice.png: per-week grouped bars of the % of
    * articles mentioning each company, from the collected
    * [[GdeltAnalysis.summaryStats]] (reference
    * general_ml_and_source_sentiment_analysis.py:196-230 — pandas
    * `.plot(kind='bar')` over the same pct columns). */
  def writeShareOfVoiceStats(stats: Table, path: String): Unit =
    Charts.writeGroupedBarChartPng(stats.rows, "label_week",
      Seq("pct_google", "pct_openai", "pct_anthropic"),
      "Tech Giant Share of Voice", path)

  /** graph_feature_importance.png: horizontal diverging bars of the
    * week-classifier coefficients, oriented so positive bars read as
    * "linked to the may week" like the reference's annotation
    * (reference :158-193 hardcodes a sign flip; StringIndexer's
    * frequency-based label order is data-dependent, so the sign here is
    * derived from the fitted model's label order instead). */
  def writeFeatureImportanceModel(model: GdeltMl.WeekModel, path: String): Unit = {
    // coefficients point toward label 1
    val sign = if (model.labels.lift(1).contains("week_may")) 1.0 else -1.0
    val ordered = GdeltMl.weekFeatures.map(f => f -> sign * model.coefficients(f))
    Files.write(Paths.get(path), Charts.hBarChart(ordered.map(_._1),
      ordered.map(_._2), "What distinguishes the two periods? (Model Impact)"))
  }
}

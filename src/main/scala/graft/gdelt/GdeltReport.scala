package graft.gdelt

import org.apache.spark.sql.DataFrame

import graft.exec.FanOut
import graft.report.Markdown
import graft.report.Markdown.Table

/** Markdown report assembly (SURVEY §2.1 S7): the engine's equivalent of
  * the reference's f-string report writers
  * (reference gdelt/scripts/general_ml_and_source_sentiment_analysis.py:75-136,
  * sentiment_analysis.py:48-62, network_analysis.py:82-127) — all tables
  * come from collected aggregate results, never raw rows. [[tables]]
  * collects every table and fits both models once per run; the four
  * renderers and the two graphs (GdeltGraphs) read only that value.
  */
object GdeltReport {

  /** One company's tables: top sources, partners and themes. */
  final case class Company(name: String, sources: Table, partners: Table,
      themes: Table)

  /** Every table of one run's reports and graphs, collected. */
  final case class Tables(stats: Table, sentiment: Table,
      companies: Seq[Company], qa: Table,
      themeCoefficients: Seq[(String, Double)], model: GdeltMl.WeekModel)

  /** Collect a small, already-aggregated relation (at most 100 rows). */
  def collect(df: DataFrame): Table =
    Table(df.columns.toSeq, df.limit(100).collect().toSeq)

  /** Every report table evaluated exactly once, and both models fitted
    * (the week classifier on `features`, the theme model on `core`): the
    * eleven branches are independent, so they run at the same time
    * (FanOut) and come back in report order. */
  def tables(core: DataFrame, features: DataFrame): Tables = {
    def table(name: String)(df: => DataFrame) = new FanOut.Branch(name, collect(df))
    val stats = table("stats")(GdeltAnalysis.summaryStats(core))
    val sentiment = table("sentiment")(GdeltAnalysis.entitySentiment(core))
    val companies = Seq(
      ("Google", "k_google", GdeltAnalysis.ignoreGoogle),
      ("OpenAI", "k_openai", GdeltAnalysis.ignoreOpenai)).map {
      case (name, flag, ignore) => (name,
        table(s"$name-sources")(GdeltAnalysis.topSources(core, flag, name)),
        table(s"$name-partners")(GdeltAnalysis.topPartners(core, flag, name, ignore)),
        table(s"$name-themes")(GdeltAnalysis.topThemes(core, flag, name)))
    }
    val qa = table("qa")(GdeltAnalysis.qaSummary(core))
    // vocabulary-sized (≤1000 rows by construction)
    val themeModel = new FanOut.Branch("theme-model", GdeltMl.themeModel(core)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
    val weekModel = new FanOut.Branch("week-model", GdeltMl.weekClassifier(features))
    FanOut.run("gdelt-report", Seq(stats, sentiment) ++
      companies.flatMap { case (_, s, p, t) => Seq(s, p, t) } ++
      Seq(qa, themeModel, weekModel))
    Tables(stats.get, sentiment.get,
      companies.map { case (name, s, p, t) => Company(name, s.get, p.get, t.get) },
      qa.get, themeModel.get, weekModel.get)
  }

  private def sections(t: Tables, title: String, table: Company => Table) =
    t.companies.map(c => Markdown.section(s"Top ${c.name} $title", table(c)))

  /** The summary-report shape: stats, model quality, per-company sources. */
  def summary(t: Tables): String = {
    val coefRows = GdeltMl.weekFeatures
      .map(f => f"| $f | ${t.model.coefficients(f)}%+.4f |")
      .mkString("\n")
    (Seq(
      "# ANALYTICAL SUMMARY",
      Markdown.section("Share of voice by week", t.stats),
      f"## Model\n\nLogistic Regression AUC: **${t.model.auc}%.2f**\n\n" +
        s"| Feature | Coefficient |\n| --- | --- |\n$coefRows",
      Markdown.section("Entity sentiment", t.sentiment)) ++
      sections(t, "sources", _.sources) :+
      Markdown.section("QA invariants", t.qa)).mkString("\n\n")
  }

  /** The network-report shape: per-company top sources and top partner
    * organizations (reference gdelt/scripts/network_analysis.py:82-127). */
  def network(t: Tables): String =
    ("# NETWORK ANALYSIS" +: (sections(t, "sources", _.sources) ++
      sections(t, "partners", _.partners))).mkString("\n\n")

  /** The theme-report shape: per-company dominant themes plus the
    * regularized theme-bag model's 8 most discriminative coefficients in
    * both directions (reference S3-scripts/.../theme_ml_job.py:86-135 —
    * the pandas top-8-per-direction slice done in-engine). The two slices
    * are clamped to half the vocabulary so they never overlap — a small
    * vocabulary (< 16 terms) must not print the same coefficient under
    * both headings. */
  def themes(t: Tables): String = {
    val coef = t.themeCoefficients
    val n = math.min(8, coef.length / 2)
    def tbl(rows: Seq[(String, Double)]) =
      "| theme | score |\n| --- | --- |\n" + rows
        .map { case (theme, score) => f"| $theme | $score%+.4f |" }
        .mkString("\n")
    (("# THEME ANALYSIS" +: sections(t, "themes", _.themes)) ++ Seq(
      s"## Most positive theme coefficients\n\n${tbl(coef.take(n))}",
      s"## Most negative theme coefficients\n\n${tbl(coef.takeRight(n).reverse)}"
    )).mkString("\n\n")
  }

  /** The entity-sentiment-report shape: stacked per-company average tone
    * by week (reference gdelt/scripts/sentiment_analysis.py:48-62). */
  def entitySentiment(t: Tables): String = Seq(
    "# ENTITY SENTIMENT",
    Markdown.section("Average tone by company and week", t.sentiment)
  ).mkString("\n\n")
}

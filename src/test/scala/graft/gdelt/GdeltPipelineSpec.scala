package graft.gdelt

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** The flagship user journey as ONE unit: raw GKG JSONL → core parquet →
  * ml-features parquet → all four markdown reports → both PNG graphs,
  * through GdeltPipeline.run into a temp dir, asserting the full
  * artifact set. The per-stage golden specs (GdeltEtlSpec /
  * GdeltGoldenSpec / GdeltReportSpec / ChartsSpec) pin stage semantics
  * against the reference's published outputs; this spec pins that the
  * stages actually compose — schema hand-offs, write/read-back
  * round-trips, and the report/graph fan-out at the end. */
class GdeltPipelineSpec extends AnyFunSuite with Matchers with SparkTestSession {

  /** Synthetic GKG export: 80 unique-URL articles split across the two
    * reference windows, with enough theme support (>= minDF 5 per theme)
    * for the CountVectorizer stage and both keyword-flag classes
    * populated for the LR stages. One duplicate URL row on top proves
    * the dedup stage runs inside the composed pipeline too. `extra` rows
    * are appended verbatim. */
  private def writeRawJsonl(path: java.nio.file.Path,
      extra: Seq[String] = Nil): Unit = {
    val themes = Seq("TAX_FNCACT", "ECON_STOCKMARKET", "SCIENCE", "GENERAL_GOVERNMENT")
    val rows = (0 until 80).map { i =>
      val feb = i % 2 == 0
      val date = if (feb) f"202402${12 + i % 8}%02d090000" else f"202405${13 + i % 8}%02d090000"
      val brand = i % 4 match {
        case 0 => "openai"
        case 1 => "google"
        case 2 => "anthropic"
        case _ => "tech"
      }
      val theme = themes(i % themes.size)
      val tone = if (feb) "1.5,3.0,2.5,0.5,0.1,1.0,0.2" else "2.5,4.0,1.5,0.5,0.1,2.0,0.2"
      s"""{"GKGRECORDID":"2024-$i","DATE":"$date","URL":"https://site$i.example.com/$brand-news-$i",""" +
        s""""Themes":"$theme;AI_TOPIC","Organizations":"microsoft;nvidia","V2Tone":"$tone"}"""
    } :+ // duplicate of row 0 under a later GKGRECORDID: dedup must drop it
      s"""{"GKGRECORDID":"2024-dup","DATE":"20240212090000","URL":"https://site0.example.com/openai-news-0",""" +
      s""""Themes":"TAX_FNCACT;AI_TOPIC","Organizations":"microsoft;nvidia","V2Tone":"1.5,3.0,2.5,0.5,0.1,1.0,0.2"}"""
    java.nio.file.Files.write(path,
      (rows ++ extra).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  test("raw JSONL -> core -> ml-features -> 4 reports + 2 graphs, one run, full artifact set") {
    val dir = java.nio.file.Files.createTempDirectory("gdelt_e2e")
    val raw = dir.resolve("raw.jsonl")
    writeRawJsonl(raw)
    val out = dir.resolve("out").toString

    val (core, ml) = GdeltPipeline.run(spark,
      graft.io.Tables.jsonLines(spark, raw.toString), out)

    // ETL artifacts: written, read back, deduplicated, schema intact
    core.count() shouldBe 80L // 81 raw rows, 1 duplicate URL dropped
    ml.count() shouldBe 80L
    core.columns should contain allOf ("url", "domain", "label_week",
      "themes_arr", "orgs_arr", "v2tone_1", "k_openai", "k_google", "k_anthropic")
    ml.columns should not contain "themes_arr" // feature projection, not core
    core.select("label_week").distinct().collect()
      .map(_.getString(0)).sorted shouldBe Array("week_feb", "week_may")

    // the full artifact fan-out exists on disk
    val names = Seq("gdelt_core.parquet", "gdelt_ml_features.parquet",
      "summary_report.md", "network_report.md", "theme_report.md",
      "entity_sentiment_report.md", "graph_share_of_voice.png",
      "graph_feature_importance.png")
    names.foreach { n =>
      withClue(s"missing artifact $n: ") {
        new java.io.File(out, n).exists() shouldBe true
      }
    }

    // each report carries its stable section skeleton (values are pinned
    // by the golden specs on the reference corpus, not here)
    def text(n: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out, n)),
      java.nio.charset.StandardCharsets.UTF_8)
    text("summary_report.md") should (include("# ANALYTICAL SUMMARY")
      and include("Share of voice by week") and include("Logistic Regression AUC")
      and include("QA invariants"))
    text("network_report.md") should (include("# NETWORK ANALYSIS")
      and include("Top Google sources") and include("Top OpenAI partners"))
    text("theme_report.md") should (include("# THEME ANALYSIS")
      and include("Top Google themes")
      and include("Most positive theme coefficients")
      and include("Most negative theme coefficients"))
    text("entity_sentiment_report.md") should (include("# ENTITY SENTIMENT")
      and include("| Google |") and include("| OpenAI |") and include("| Anthropic |"))

    // both graphs decode as real PNGs with non-trivial dimensions
    Seq("graph_share_of_voice.png", "graph_feature_importance.png").foreach { n =>
      val img = javax.imageio.ImageIO.read(new java.io.File(out, n))
      withClue(s"$n: ") {
        img should not be null
        img.getWidth should be > 100
        img.getHeight should be > 100
      }
    }
  }

  test("days outside both labelled weeks stay in core as `other`, and the " +
    "models fit on the two weeks only") {
    val dir = java.nio.file.Files.createTempDirectory("gdelt_other")
    val raw = dir.resolve("raw.jsonl")
    // five March articles: inside neither window
    val march = (0 until 5).map { i =>
      s"""{"GKGRECORDID":"2024-m$i","DATE":"202403${10 + i}090000",""" +
        s""""URL":"https://march$i.example.com/google-news-$i",""" +
        s""""Themes":"SCIENCE;AI_TOPIC","Organizations":"microsoft",""" +
        s""""V2Tone":"2.0,3.5,2.0,0.5,0.1,1.5,0.2"}"""
    }
    writeRawJsonl(raw, march)
    val out = dir.resolve("out").toString

    val (core, ml) = GdeltPipeline.run(spark,
      graft.io.Tables.jsonLines(spark, raw.toString), out)

    core.count() shouldBe 85L
    core.filter(org.apache.spark.sql.functions.col("label_week") === "other")
      .count() shouldBe 5L
    GdeltMl.weekClassifier(ml).labels.sorted shouldBe Seq("week_feb", "week_may")
    Seq("summary_report.md", "theme_report.md",
      "graph_feature_importance.png").foreach { n =>
      new java.io.File(out, n).exists() shouldBe true
    }
  }

  /** The four reports of the 80-article fixture, full text. The tables
    * follow from how [[writeRawJsonl]] builds the rows: even i are Feb
    * days 12–18 (week_feb), odd i are May days 14–20 (week_may); the URL
    * brand cycles openai, google, anthropic, tech with i % 4, so Feb
    * holds the 20 openai and 20 anthropic articles and May the 20 google
    * and 20 tech ones; every host's registrable domain is example.com;
    * V2Tone gives tone 1.5 / negativity 2.5 in Feb and 2.5 / 1.5 in May;
    * every row names microsoft and nvidia, and carries AI_TOPIC plus the
    * i % 4 theme (TAX_FNCACT, ECON_STOCKMARKET, SCIENCE,
    * GENERAL_GOVERNMENT); the duplicate of row 0 is dropped. Only the AUC
    * and the coefficient lines come from the fitted models, as the
    * engine printed them. */
  private val summaryGolden =
    """# ANALYTICAL SUMMARY

      >## Share of voice by week

      >| label_week | total | avg_tone | avg_neg | pct_google | pct_openai | pct_anthropic |
      >| --- | --- | --- | --- | --- | --- | --- |
      >| week_feb | 40 | 1.5 | 2.5 | 0.0 | 50.0 | 50.0 |
      >| week_may | 40 | 2.5 | 1.5 | 50.0 | 0.0 | 0.0 |


      >## Model

      >Logistic Regression AUC: **1.00**

      >| Feature | Coefficient |
      >| --- | --- |
      >| k_openai | -6.9585 |
      >| k_google | +1.3850 |
      >| k_anthropic | -6.9585 |
      >| v2tone_1 | +10.4378 |
      >| v2tone_3 | -10.4378 |
      >| v2tone_6 | +10.4378 |

      >## Entity sentiment

      >| Company | label_week | avg_tone | count |
      >| --- | --- | --- | --- |
      >| Anthropic | week_feb | 1.5 | 20 |
      >| Google | week_may | 2.5 | 20 |
      >| OpenAI | week_feb | 1.5 | 20 |


      >## Top Google sources

      >| source | article_count | avg_sentiment | Company |
      >| --- | --- | --- | --- |
      >| example.com | 20 | 2.5 | Google |


      >## Top OpenAI sources

      >| source | article_count | avg_sentiment | Company |
      >| --- | --- | --- | --- |
      >| example.com | 20 | 1.5 | OpenAI |


      >## QA invariants

      >| rows | unique_urls | first_day | last_day | n_week_feb | n_week_may | pct_missing_themes | pct_missing_orgs |
      >| --- | --- | --- | --- | --- | --- | --- | --- |
      >| 80 | 80 | 2024-02-12 | 2024-05-20 | 40 | 40 | 0.0 | 0.0 |""".stripMargin('>') + "\n"

  private val networkGolden =
    """# NETWORK ANALYSIS

      >## Top Google sources

      >| source | article_count | avg_sentiment | Company |
      >| --- | --- | --- | --- |
      >| example.com | 20 | 2.5 | Google |


      >## Top OpenAI sources

      >| source | article_count | avg_sentiment | Company |
      >| --- | --- | --- | --- |
      >| example.com | 20 | 1.5 | OpenAI |


      >## Top Google partners

      >| partner | count | Main_Entity |
      >| --- | --- | --- |
      >| microsoft | 20 | Google |
      >| nvidia | 20 | Google |


      >## Top OpenAI partners

      >| partner | count | Main_Entity |
      >| --- | --- | --- |
      >| microsoft | 20 | OpenAI |
      >| nvidia | 20 | OpenAI |""".stripMargin('>') + "\n"

  private val themeGolden =
    """# THEME ANALYSIS

      >## Top Google themes

      >| theme | count | Company |
      >| --- | --- | --- |
      >| AI_TOPIC | 20 | Google |
      >| ECON_STOCKMARKET | 20 | Google |


      >## Top OpenAI themes

      >| theme | count | Company |
      >| --- | --- | --- |
      >| AI_TOPIC | 20 | OpenAI |
      >| TAX_FNCACT | 20 | OpenAI |


      >## Most positive theme coefficients

      >| theme | score |
      >| --- | --- |
      >| ECON_STOCKMARKET | +1.8262 |
      >| GENERAL_GOVERNMENT | +1.8262 |

      >## Most negative theme coefficients

      >| theme | score |
      >| --- | --- |
      >| TAX_FNCACT | -1.8262 |
      >| SCIENCE | -1.8262 |""".stripMargin('>')

  private val sentimentGolden =
    """# ENTITY SENTIMENT

      >## Average tone by company and week

      >| Company | label_week | avg_tone | count |
      >| --- | --- | --- | --- |
      >| Anthropic | week_feb | 1.5 | 20 |
      >| Google | week_may | 2.5 | 20 |
      >| OpenAI | week_feb | 1.5 | 20 |""".stripMargin('>') + "\n"

  test("the fixture's four reports match their golden text") {
    val dir = java.nio.file.Files.createTempDirectory("gdelt_golden")
    val raw = dir.resolve("raw.jsonl")
    writeRawJsonl(raw)
    val out = dir.resolve("out").toString
    GdeltPipeline.run(spark, graft.io.Tables.jsonLines(spark, raw.toString), out)
    def text(n: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out, n)),
      java.nio.charset.StandardCharsets.UTF_8)
    text("summary_report.md") shouldBe summaryGolden
    text("network_report.md") shouldBe networkGolden
    text("theme_report.md") shouldBe themeGolden
    text("entity_sentiment_report.md") shouldBe sentimentGolden
  }

  /** The fixture through GdeltPipeline.run once: its output dir. */
  private def fixtureRun(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val raw = dir.resolve("raw.jsonl")
    writeRawJsonl(raw)
    val out = dir.resolve("out").toString
    GdeltPipeline.run(spark, graft.io.Tables.jsonLines(spark, raw.toString), out)
    out
  }

  test("the fanned-out report set equals each table's own sequential " +
    "collect, in report order, and two runs give byte-identical reports") {
    val out = fixtureRun("gdelt_fanout")
    val core = spark.read.parquet(s"$out/gdelt_core.parquet")
    val ml = spark.read.parquet(s"$out/gdelt_ml_features.parquet")
    val t = GdeltReport.tables(core, ml)
    import GdeltReport.collect
    t.stats shouldBe collect(GdeltAnalysis.summaryStats(core))
    t.sentiment shouldBe collect(GdeltAnalysis.entitySentiment(core))
    t.companies.map(_.name) shouldBe Seq("Google", "OpenAI")
    Seq(("k_google", GdeltAnalysis.ignoreGoogle),
      ("k_openai", GdeltAnalysis.ignoreOpenai)).zip(t.companies).foreach {
      case ((flag, ignore), c) =>
        c.sources shouldBe collect(GdeltAnalysis.topSources(core, flag, c.name))
        c.partners shouldBe collect(
          GdeltAnalysis.topPartners(core, flag, c.name, ignore))
        c.themes shouldBe collect(GdeltAnalysis.topThemes(core, flag, c.name))
    }
    t.qa shouldBe collect(GdeltAnalysis.qaSummary(core))
    t.themeCoefficients shouldBe GdeltMl.themeModel(core).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    t.model shouldBe GdeltMl.weekClassifier(ml)

    val again = fixtureRun("gdelt_fanout_again")
    Seq("summary_report.md", "network_report.md", "theme_report.md",
      "entity_sentiment_report.md", "graph_share_of_voice.png",
      "graph_feature_importance.png").foreach { n =>
      def bytes(d: String) = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d, n)).toSeq
      withClue(s"$n: ") { bytes(again) shouldBe bytes(out) }
    }
  }

  test("a failing report branch reaches the caller only after every " +
    "branch has ended, and leaves no thread, job or session state behind") {
    val out = fixtureRun("gdelt_fanout_fail")
    val core = spark.read.parquet(s"$out/gdelt_core.parquet")
    // the week classifier's branch fails in analysis; the other ten run
    val broken = spark.read.parquet(s"$out/gdelt_ml_features.parquet")
      .drop("v2tone_1")
    val sc = spark.sparkContext
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def state = (spark.conf.getAll, classic.sharedState.cacheManager.isEmpty,
      sc.getPersistentRDDs.keySet,
      org.apache.spark.GraftTestInternals.listenerCount(sc))
    val before = state
    val e = intercept[Exception] {
      GdeltReport.tables(core, broken)
    }
    e.getMessage should include("v2tone_1")
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("gdelt-report-"))
      .map(_.getName) shouldBe empty
    sc.statusTracker.getActiveJobIds() shouldBe empty
    state shouldBe before
  }
}

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
}

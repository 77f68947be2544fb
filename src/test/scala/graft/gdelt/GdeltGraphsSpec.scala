package graft.gdelt

import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.report.Charts

/** Golden-flavored: render the reference's two flagship graphs from its
  * own published tables and check the pixels encode the published
  * numbers (color mass per series proportional to the plotted values). */
class GdeltGraphsSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def countColor(img: java.awt.image.BufferedImage, c: java.awt.Color): Int = {
    val rgb = c.getRGB
    (0 until img.getHeight).map(y =>
      (0 until img.getWidth).count(x => img.getRGB(x, y) == rgb)).sum
  }

  test("share-of-voice graph from the published core table") {
    val core = spark.read
      .parquet("/root/reference/gdelt/data/gdelt_core_fixed.parquet")
    val dir = java.nio.file.Files.createTempDirectory("gdelt_graphs_").toString
    GdeltGraphs.writeShareOfVoiceStats(
      GdeltReport.collect(GdeltAnalysis.summaryStats(core)), s"$dir/sov.png")
    val img = ImageIO.read(new java.io.File(s"$dir/sov.png"))
    img.getWidth shouldBe 800
    // published stats: google ≈ 68.5/79.1 %, openai ≈ 1.19/2.16 %,
    // anthropic ≈ 0.0/0.1 % — the blue (google) mass must dwarf the red
    // (openai) mass by roughly their ratio
    val stats = GdeltAnalysis.summaryStats(core).collect()
      .map(r => (r.getDouble(r.fieldIndex("pct_google")),
        r.getDouble(r.fieldIndex("pct_openai"))))
    val expectRatio = stats.map(_._1).sum / stats.map(_._2).sum
    val gotRatio = countColor(img, Charts.Blue).toDouble /
      countColor(img, Charts.Red)
    gotRatio shouldBe expectRatio +- expectRatio * 0.2
  }

  test("feature-importance graph from the published feature table") {
    val ml = spark.read
      .parquet("/root/reference/gdelt/data/gdelt_ml_features.parquet")
    val dir = java.nio.file.Files.createTempDirectory("gdelt_graphs_").toString
    GdeltGraphs.writeFeatureImportanceModel(GdeltMl.weekClassifier(ml), s"$dir/fi.png")
    val img = ImageIO.read(new java.io.File(s"$dir/fi.png"))
    img.getWidth shouldBe 880
    // the golden coefficients have both signs, so both diverging colors
    // must be present
    countColor(img, Charts.Red) should be > 0
    countColor(img, Charts.Blue) should be > 0
  }
}

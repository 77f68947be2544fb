package graft.gdelt

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** S7 end-to-end: the markdown report rendered from the reference's own
  * parquet must carry the published golden numbers. */
class GdeltReportSpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("summary report renders the published numbers and writes to disk") {
    val core = spark.read.parquet("/root/reference/gdelt/data/gdelt_core_fixed.parquet")
    val feats = spark.read.parquet("/root/reference/gdelt/data/gdelt_ml_features.parquet")
    val out = Files.createTempDirectory("graft-report").resolve("summary.md")
    graft.report.Markdown.write(out.toString, GdeltReport.summary(
      GdeltReport.tables(core, feats)))

    val md = Files.readString(out)
    md should include("AUC: **0.72**")
    md should include("| week_feb | 1002 | 0.59 |")  // count + avg tone
    md should include("| week_may | 2413 | 2.06 |")
    md should include("indiatimes.com | 35")
    md should include("yahoo.com | 82")
    // renderer structure: header separator rows present
    md should include("| --- |")
    Files.deleteIfExists(out)
    Files.deleteIfExists(Paths.get(out.getParent.toString))
  }
}

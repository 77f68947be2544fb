package graft.gdelt

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.ml.VocabularyCut

/** The theme model's 1,000-theme vocabulary in a total order: the highest
  * total counts first, ties broken by theme ascending, among the themes in
  * at least 5 articles — whatever the input's partitioning, so the model
  * is the same on every run even when more than 1,000 themes are tied at
  * the cut, as in real GKG exports. */
class ThemeVocabCutSpec extends AnyFunSuite with Matchers
    with SparkTestSession {

  // 400 articles, even ones in week_feb and odd ones in week_may:
  // 100 `high` themes in 10 articles each, 1,200 `tied` themes in 5
  // articles each (so the cut at 1,000 falls inside them), and 50 `rare`
  // themes listed twice in each of 4 articles (count 8, but below minDF)
  private val high = (0 until 100).map(i => f"HIGH_$i%04d")
  private val tied = (0 until 1200).map(i => f"TIED_$i%04d")
  private val rare = (0 until 50).map(i => f"RARE_$i%04d")

  private def core = {
    import spark.implicits._
    val docs = 400
    def spread(themes: Seq[String], per: Int, copies: Int) =
      themes.zipWithIndex.flatMap { case (t, j) =>
        (0 until per).map(k => ((j * per + k) % docs) -> Seq.fill(copies)(t))
      }
    val byDoc = (spread(high, 10, 1) ++ spread(tied, 5, 1) ++ spread(rare, 4, 2))
      .groupBy(_._1).map { case (d, ts) => d -> ts.flatMap(_._2) }
    (0 until docs).map { d =>
      (if (d % 2 == 0) "week_feb" else "week_may", byDoc(d))
    }.toDF("label_week", "themes_arr")
  }

  private val expected = high.sorted ++ tied.sorted.take(1000 - high.size)

  test("the theme model keeps the highest-count themes, then the first " +
    "tied ones by name, and two partitionings give the same model") {
    val a = GdeltMl.themeModel(core.repartition(4)).collect().toSeq
    val b = GdeltMl.themeModel(core.repartition(7)).collect().toSeq
    a.map(_.getString(0)).toSet shouldBe expected.toSet
    a.map(_.getString(0)).toSet shouldBe b.map(_.getString(0)).toSet
  }

  test("the cut counts every occurrence, filters on document frequency " +
    "and returns the vocabulary in cut order") {
    VocabularyCut(core.repartition(3), "themes_arr", 1000, minDF = 5) shouldBe
      expected
    // with minDF 1 the twice-listed rare themes (count 8) come first
    VocabularyCut(core, "themes_arr", 160) shouldBe
      high.sorted ++ rare.sorted ++ tied.sorted.take(10)
  }
}

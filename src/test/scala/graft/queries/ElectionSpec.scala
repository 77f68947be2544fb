package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** The one dial election behind the six ANN curves (q131/q138/q156/
  * q162/q163/q165), with both branches of each rule forced on
  * hand-made curves — no corpus, so no branch depends on which one the
  * testdata happens to take. */
class ElectionSpec extends AnyFunSuite with Matchers with SparkTestSession {

  import Similarity.{chosenFlags, electCurve, RECALL_TARGET_BP}

  private val target = Some(RECALL_TARGET_BP)

  private def exactlyOneChosen(flags: Seq[Long]): Unit = {
    flags.count(_ == 1L) shouldBe 1
    flags.count(_ == 0L) shouldBe flags.size - 1
  }

  test("target met: the smallest dial meeting the target is elected") {
    val flags = chosenFlags(target, Seq(5000L, 8000L, 9100L, 9900L))
    flags shouldBe Seq(0L, 1L, 0L, 0L)
    exactlyOneChosen(flags)
    // the smallest meeting dial, not the highest recall, and not a
    // later point that also meets
    val dip = chosenFlags(target, Seq(8100L, 7000L, 9000L, 9500L))
    dip shouldBe Seq(1L, 0L, 0L, 0L)
    exactlyOneChosen(dip)
  }

  test("target missed everywhere: the largest dial is elected") {
    // the largest dial even where a smaller one has higher recall
    val flags = chosenFlags(target, Seq(1000L, 2000L, 7999L, 3000L))
    flags shouldBe Seq(0L, 0L, 0L, 1L)
    exactlyOneChosen(flags)
    val three = chosenFlags(target, Seq(0L, 0L, 0L))
    three shouldBe Seq(0L, 0L, 1L)
    exactlyOneChosen(three)
  }

  test("no target: the highest recall wins, a tie goes to the first " +
    "declared dial (raw before resid)") {
    val tie = chosenFlags(None, Seq(3160L, 3160L))
    tie shouldBe Seq(1L, 0L)
    exactlyOneChosen(tie)
    val residWins = chosenFlags(None, Seq(2970L, 3160L))
    residWins shouldBe Seq(0L, 1L)
    exactlyOneChosen(residWins)
    val rawWins = chosenFlags(None, Seq(3160L, 2970L))
    rawWins shouldBe Seq(1L, 0L)
    exactlyOneChosen(rawWins)
  }

  test("electCurve: collected rows come back in declared dial order " +
    "with exactly one chosen = 1 row") {
    import spark.implicits._
    // rows out of declared order; 4 and 8 meet the target, 4 is elected
    val np = electCurve(Similarity.NprobeDial,
      Seq((8L, 9500L), (1L, 4000L), (4L, 8200L), (2L, 7000L))
        .toDF("nprobe", "recall_bp")).collect()
    np.map(_.getAs[Long]("nprobe")).toSeq shouldBe Seq(1L, 2L, 4L, 8L)
    np.map(_.getAs[Long]("chosen")).toSeq shouldBe Seq(0L, 0L, 1L, 0L)
    // a geometry tie handed over resid-first still elects raw
    val geom = electCurve(Similarity.GeometryDial,
      Seq(("resid", 3160L), ("raw", 3160L)).toDF("geom", "recall_bp"))
      .collect()
    geom.map(_.getAs[String]("geom")).toSeq shouldBe Seq("raw", "resid")
    geom.filter(_.getAs[Long]("chosen") == 1L).map(_.getAs[String]("geom"))
      .toSeq shouldBe Seq("raw")
    exactlyOneChosen(geom.map(_.getAs[Long]("chosen")).toSeq)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one session factory behind Bench, Verify, ShowPlan, ScaleUp,
  * GdeltPipeline.main and the test session sets exactly the five confs
  * Bench has always run with. */
class SessionSpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("the session factory sets local[n], n shuffle partitions, UTC, " +
    "nanos-as-long parquet reads and no UI") {
    Session.confs(32).toMap shouldBe Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    // the shared test session comes from the same factory at 4 cores
    val conf = spark.sparkContext.getConf
    Session.confs(4).foreach { case (k, v) =>
      withClue(s"$k: ") { conf.get(k) shouldBe v }
    }
  }
}

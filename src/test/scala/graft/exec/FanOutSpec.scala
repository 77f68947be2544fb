package graft.exec

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** FanOut's contract: one named daemon thread per branch, results in
  * branch order, every branch ended before the call returns, the first
  * failure rethrown with the others suppressed, and nothing left running. */
class FanOutSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def alive(prefix: String): Seq[String] =
    Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName.startsWith(prefix)).map(_.getName)

  test("branches run at the same time on named daemon threads and come " +
    "back in branch order, whatever order they finish in") {
    // every branch waits for all three to have started: a pool with
    // fewer threads than branches would never let this call return
    val started = new CountDownLatch(3)
    val branches = Seq(300L, 150L, 0L).zipWithIndex.map { case (ms, i) =>
      new FanOut.Branch(s"b$i", {
        started.countDown()
        started.await()
        Thread.sleep(ms)
        val t = Thread.currentThread
        (i, t.getName, t.isDaemon, spark.range(0, 1000 * (i + 1)).count())
      })
    }
    FanOut.run("fanout-order", branches)
    branches.map(_.get) shouldBe Seq(
      (0, "fanout-order-b0", true, 1000L),
      (1, "fanout-order-b1", true, 2000L),
      (2, "fanout-order-b2", true, 3000L))
    alive("fanout-order-") shouldBe empty
  }

  test("the first failure in branch order reaches the caller with the " +
    "others suppressed, after the slow branch has ended") {
    val sc = spark.sparkContext
    val before = (spark.conf.getAll, sc.getPersistentRDDs.keySet,
      org.apache.spark.GraftTestInternals.listenerCount(sc))
    @volatile var slowEnded = false
    val slow = new FanOut.Branch("slow", {
      Thread.sleep(500)
      val n = spark.range(0, 100000, 1, 4).selectExpr("sum(id)").collect()
      slowEnded = true
      n
    })
    val first = new FanOut.Branch[Long]("first",
      throw new IllegalStateException("injected"))
    val second = new FanOut.Branch("second",
      spark.range(0, 10).selectExpr("assert_true(id < 0)").collect())
    val e = intercept[IllegalStateException] {
      FanOut.run("fanout-fail", Seq(slow, first, second))
    }
    e.getMessage shouldBe "injected"
    e.getSuppressed.length shouldBe 1
    e.getSuppressed.head.getMessage should include("id < 0")
    slowEnded shouldBe true
    alive("fanout-fail-") shouldBe empty
    sc.statusTracker.getActiveJobIds() shouldBe empty
    (spark.conf.getAll, sc.getPersistentRDDs.keySet,
      org.apache.spark.GraftTestInternals.listenerCount(sc)) shouldBe before
  }
}

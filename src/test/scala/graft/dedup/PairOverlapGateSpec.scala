package graft.dedup

import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** The pairOverlapPlan attach-join size gate, BOTH ways (standing
  * COVERAGE rule): under the doc-count gate the per-doc hash arrays
  * broadcast into the pair attach; past it (forced via
  * `broadcastLimit = 0` with auto-broadcast off) the attach runs as a
  * real shuffle join — and the overlap stats must be identical. Also
  * pins the hash-domain core against a hand-computable fixture (the
  * values the string-set formulation would produce). */
class PairOverlapGateSpec extends AnyFunSuite with Matchers
    with SparkTestSession {

  import spark.implicits._

  private def fixture = {
    // doc1: tokens a..f -> shingles {abc,bcd,cde,def}; doc2 shares a
    // 4-token run (shingles {bcd,cde}) plus its own; doc3 disjoint
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "b c d e x y"),
      (3L, "p q r s t")).toDF("doc_id", "text")
    val sh = TextDedup.shingleRows(docs, "doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    (sh, pairs)
  }

  private def overlap(limit: Long): (Seq[(Long, Long, Long, Long, Long)],
      String) = {
    val (sh, pairs) = fixture
    val (df, cached) = TextDedup.pairOverlapPlan(sh, pairs, limit)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    cached.foreach(_.unpersist(blocking = false))
    (rows, plan)
  }

  test("hash-domain overlap equals the string-set ground truth") {
    val (rows, plan) = overlap(Long.MaxValue)
    // doc1: 4 shingles, doc2: 4 shingles, shared {b c d, c d e} = 2;
    // doc3: 3 shingles, shared with doc1 = 0
    rows shouldBe Seq((1L, 2L, 2L, 4L, 4L), (1L, 3L, 0L, 4L, 3L))
    plan should include("BroadcastHashJoin")
  }

  test("forced shuffle attach (broadcastLimit = 0, auto-broadcast off) " +
    "is a real non-broadcast join with identical overlap stats") {
    val (viaBroadcast, _) = overlap(Long.MaxValue)
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val (viaShuffle, plan) = overlap(0L)
      plan should not include "BroadcastHashJoin"
      viaShuffle shouldBe viaBroadcast
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("scorers keep a pair exactly at the threshold and drop it just above") {
    val (sh, pairs) = fixture
    val (ov, cached) = TextDedup.pairOverlapPlan(sh, pairs)
    def kept(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    try {
      // doc1/doc2: 2 shared of 4 + 4 shingles -> Jaccard 2/6, containment
      // 2/4 both ways; doc1/doc3 shares nothing and survives neither
      val jac = 1.0 / 3
      kept(TextDedup.jaccardAtLeast(ov, jac)) shouldBe Seq((1L, 2L))
      kept(TextDedup.jaccardAtLeast(ov, Math.nextUp(jac))) shouldBe empty
      val cont = TextDedup.containmentAtLeast(ov, 0.5)
      kept(cont) shouldBe Seq((1L, 2L))
      cont.select("cont_a", "cont_b").collect().map(r =>
        (r.getDouble(0), r.getDouble(1))).toSeq shouldBe Seq((0.5, 0.5))
      kept(TextDedup.containmentAtLeast(ov, Math.nextUp(0.5))) shouldBe empty
    } finally cached.foreach(_.unpersist(blocking = false))
  }
}

package graft.nlp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.queries.MlQueries

/** The TF-IDF vocabulary cut (1,500 bigrams) in a total order: the
  * highest total counts first, ties broken by term ascending, whatever
  * the input's partitioning — so the phrases are the same on every pass
  * even when more than 1,500 distinct bigrams are tied at the cut. */
class TfidfVocabCutSpec extends AnyFunSuite with Matchers
    with SparkTestSession {

  test("the vocabulary keeps the highest-count bigrams, then the " +
    "lexicographically first tied ones, and two runs give the same phrases") {
    import spark.implicits._
    // one bigram per two-token document: 200 bigrams in two documents
    // each, then 2,000 in one document each, so the cut at 1,500 falls
    // inside the 2,000 tied ones
    val high = (0 until 200).map(i => f"h$i%04d g$i%04d")
    val tied = (0 until 2000).map(i => f"t$i%04d u$i%04d")
    val docs = (high ++ high ++ tied).zipWithIndex
      .map { case (text, i) => (i.toLong, text) }.toDF("doc_id", "text")
    def run(df: DataFrame) = {
      val (top, vocab) = MlQueries.tfidfTopTermsWithVocab(df)
      (vocab.toSeq, top.collect().map(r => r.getLong(0) -> r.getString(1)).toMap)
    }
    val (vocabA, phrasesA) = run(docs.repartition(4))
    val (vocabB, phrasesB) = run(docs.repartition(7))
    val expected = high.sorted ++ tied.sorted.take(1500 - high.size)
    vocabA.toSet shouldBe expected.toSet
    vocabB.toSet shouldBe expected.toSet
    phrasesA shouldBe phrasesB
    // the vocabulary's index order is the cut's order
    vocabA shouldBe expected
    // a kept bigram is its document's phrase; a cut one leaves none
    phrasesA(0L) shouldBe "h0000 g0000"
    phrasesA(400L + 1299) shouldBe "t1299 u1299"
    phrasesA(400L + 1300) shouldBe ""
  }
}

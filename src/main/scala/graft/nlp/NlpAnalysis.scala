package graft.nlp

import org.apache.spark.ml.feature.{CountVectorizerModel, IDF, NGram, StopWordsRemover, Tokenizer}
import org.apache.spark.ml.linalg.{SparseVector, Vector}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.VocabularyCut
import graft.queries.Q

/** The reference's Common Crawl NLP job end to end (reference
  * common-crawl/scripts/nlp_analysis.py): whole-file HTML scan →
  * process_html (UD1) → period filter → modality counts (UD2) →
  * Tokenizer → StopWordsRemover (custom list) → short-token filter (UD3,
  * as a built-in array filter — no UDF) → bigram NGram → the 1,500
  * most frequent bigrams (CountVectorizer(1500, minDF=1), cut in a total
  * order) → IDF → top-5 TF-IDF phrases (UD4), all in [[tfidfTopK]].
  *
  * Output schema matches the reference's nlp_final_results.csv:
  * (period, top_phrases, modalities). NlpGoldenSpec pins it against the
  * checked-in corpus + results.
  */
object NlpAnalysis {

  /** Custom stopword list (nlp_analysis.py:128-137): default English +
    * boilerplate + the company names (focus on features, not companies). */
  val stopWords: Array[String] =
    StopWordsRemover.loadDefaultStopWords("english") ++ Seq(
      "said", "also", "new", "use", "using", "like", "one", "time", "get", "make",
      "toms", "guide", "news", "report", "published", "advertisement", "click", "share",
      "updated", "image", "credit", "posted", "april", "june", "days", "ago", "best",
      "triggerhydrate", "consoleerror", "function", "return", "var", "true", "false",
      "ai", "google", "openai", "gpt", "gemini")

  /** HTML corpus → (period, text, modalities) — UD1 + UD2 + the period
    * filter (nlp_analysis.py:100-122). */
  def processed(raw: DataFrame): DataFrame =
    raw.withColumn("extracted", HtmlFns.processHtmlUdf(col("value")))
      .withColumn("period", col("extracted").getItem(0))
      .withColumn("text", col("extracted").getItem(1))
      .filter(col("period").isin("Feb_Gemini_Era", "May_AI_Wars"))
      .filter(size(col("extracted")) > 0)
      .withColumn("modalities", HtmlFns.countModalitiesUdf(col("text")))

  /** Full pipeline → one row per valid article:
    * (period, top_phrases, modalities). */
  def topPhrases(spark: SparkSession, inputPath: String): DataFrame =
    topPhrasesFrom(graft.io.Tables.wholeTextDocs(spark, inputPath))

  /** [[topPhrases]] over an already-loaded (…, value) HTML relation — the
    * entry other sources compose with: `Warc.htmlDocs(...)` pipes a WARC
    * segment's response records through the exact same analysis
    * (WarcNlpE2eSpec pins golden parity for that composition). */
  def topPhrasesFrom(raw: DataFrame): DataFrame =
    tfidfTopK(processed(raw), stopWords, Seq("period", "modalities"))._1
      .select(col("period"), col("top_terms").as("top_phrases"),
        col("modalities"))

  /** Size of the TF-IDF bigram vocabulary. */
  private val VocabSize = 1500

  /** The one TF-IDF top-5 kernel (nlp_analysis.py:125-164, M6-M10 + UD4),
    * behind [[topPhrasesFrom]] and q29 (MlQueries.tfidfTopTermsWithVocab):
    * Tokenizer → StopWordsRemover(`stopWords`) → len>2 (UD3) → bigram
    * NGram → vocabulary cut → CountVectorizerModel → IDF → the top-5 terms
    * per document. `docs` holds `text` and the `keep` columns, which are
    * carried through. Returns the collected (keep…, top_terms) rows and
    * the vocabulary.
    *
    * The vocabulary is cut in a total order ([[graft.ml.VocabularyCut]],
    * `minDF` 1): CountVectorizer.fit's arbitrary cut made the phrases
    * differ between passes once a corpus has more than 1,500 distinct
    * bigrams. */
  def tfidfTopK(docs: DataFrame, stopWords: Array[String], keep: Seq[String])
      : (DataFrame, Array[String]) = {
    val tokens = new StopWordsRemover()
      .setInputCol("raw_tokens").setOutputCol("tokens").setStopWords(stopWords)
      .transform(new Tokenizer()
        .setInputCol("text").setOutputCol("raw_tokens").transform(docs))
      // UD3 filter_short — built-in array filter, no UDF needed
      .withColumn("tokens", filter(col("tokens"), t => length(t) > 2))
    // three actions read this (the vocabulary cut, IDF.fit, the final
    // collect): persist it so the scan + parse + tokenize + n-gram work
    // runs once, not three times
    val bigrams = new NGram().setN(2)
      .setInputCol("tokens").setOutputCol("bigrams").transform(tokens)
      .select((keep :+ "bigrams").map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val vocab = VocabularyCut(bigrams, "bigrams", VocabSize)
      val tf = new CountVectorizerModel(vocab)
        .setInputCol("bigrams").setOutputCol("tf").transform(bigrams)
      val scored = new IDF().setInputCol("tf").setOutputCol("tfidf")
        .fit(tf).transform(tf)
      // UD4 get_top_k: top-5 tf-idf terms. The reference tie-breaks by
      // vocabulary index (Python stable sort), which is not reproducible
      // even across reference reruns — ties break on the term string.
      // Pattern-match, not an unchecked SparseVector cast: a dense vector
      // must not become a runtime ClassCastException.
      val terms = docs.sparkSession.sparkContext.broadcast(vocab)
      val topK = udf { v: Vector =>
        val (indices, values) = v match {
          case sv: SparseVector => (sv.indices, sv.values)
          case dv => (Array.range(0, dv.size), dv.toArray)
        }
        indices.zip(values)
          .map { case (i, value) => (terms.value(i), value) }
          .sortBy { case (term, value) => (-value, term) }
          .take(5)
          .map(_._1)
      }
      (Q.localized(scored.select(
        keep.map(col) :+ topK(col("tfidf")).as("top_terms"): _*)), vocab)
    } finally bigrams.unpersist(blocking = false)
  }
}

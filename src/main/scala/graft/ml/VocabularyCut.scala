package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CountVectorizer.fit's vocabulary, cut in a total order: the
  * `vocabSize` terms of the array column `terms` with the highest total
  * count, ties broken by term ascending, among the terms found in at
  * least `minDF` rows (documents). CountVectorizer.fit keeps an arbitrary
  * subset of the terms tied at the cut — its order among equal counts
  * depends on partition merge order — so a corpus with more distinct
  * terms than `vocabSize` gets a different vocabulary, and different
  * results, from pass to pass. The returned array is the vocabulary in
  * index order, for `new CountVectorizerModel(vocab)`. With `minDF` 1
  * every term qualifies, and only the counts are computed.
  */
object VocabularyCut {

  def apply(docs: DataFrame, terms: String, vocabSize: Int, minDF: Long = 1L): Array[String] = {
    val counts =
      if (minDF <= 1) docs.select(explode(col(terms)).as("term")).groupBy(col("term")).count()
      else docs.select(explode(array_distinct(col(terms))).as("term"), col(terms).as("doc"))
        .groupBy(col("term"))
        .agg(sum(size(filter(col("doc"), _ === col("term")))).as("count"),
          count(lit(1)).as("df"))
        .filter(col("df") >= minDF)
    counts.orderBy(col("count").desc, col("term").asc)
      .limit(vocabSize).collect().map(_.getString(0))
  }
}

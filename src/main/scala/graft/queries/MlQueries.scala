package graft.queries

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.ml.feature.{StopWordsRemover, VectorAssembler}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.Tables.table

/** spark.ml surface, mirroring the reference's ML layer (SURVEY.md §2.9):
  * VectorAssembler + LogisticRegression + AUC + coefficient readback
  * (reference general_ml_and_source_sentiment_analysis.py:50-69), and the
  * Tokenizer → StopWordsRemover → NGram → CountVectorizer → IDF → top-k
  * TF-IDF pipeline (reference nlp_analysis.py:125-164).
  *
  * The model INTERNALS are not ANSI-SQL-expressible, so through round 11
  * these were the registry's only two `no_oracle` rows (rows-only in the
  * driver report; value-pinned by MlSpec + the GDELT golden). Round 12
  * puts both under the hash gate with the q30 bounds-oracle discipline:
  * each registered query emits SQL-anchored exact columns (value-compared
  * cross-engine) plus engine-computed VALIDATION flags whose expected
  * value is a literal constant in the oracle — the flags assert
  * mathematically-guaranteed invariants (the regularized optimality
  * condition at the LR optimum; exact agreement between the spark.ml
  * TF-IDF pipeline and its independent relational re-derivation), so a
  * broken model or pipeline flips a flag and fails the gate at the
  * driver's SF, not just at MlSpec's sf0.001. The rich readback tables
  * remain the library surface ([[lrCoefficientTable]],
  * [[tfidfTopTerms]]) and keep their MlSpec value checks.
  */
object MlQueries {

  private val LrFeatures =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Target parquet bytes per fit-input partition (~40k lineitem rows) —
    * the measured per-pass task-overhead / parallelism balance point for
    * the iterative L-BFGS fit (see fitLr width note). */
  private val FitPartBytes = 640L * 1024

  /** Shared LR fit: assembled training frame (persisted — L-BFGS is
    * iterative, ~25 passes; without the persist each pass re-reads
    * parquet and re-assembles vectors, measured ~93s → single digits at
    * sf0.1) + the fitted model. Caller unpersists. */
  private def fitLr(spark: SparkSession, dir: String)
      : (DataFrame, LogisticRegressionModel) = {
    val df = table(spark, dir, "lineitem")
      .select(
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"))
      .na.fill(0.0, LrFeatures)
    // L-BFGS is ~20 treeAggregate passes over the cached frame, so its
    // parallelism is the fit's parallelism — and a small parquet input
    // arrives as ONE scan partition (a parquet file splits only at
    // row-group boundaries; openCostInBytes floors the split size), which
    // serializes every pass on one core. Spread it once, BEFORE
    // assembling (the exchange then carries the four narrow doubles, not
    // UDT vectors — §2.3 project-before-exchange) and before the persist.
    // Width is BYTES-PROPORTIONAL (~640 KB of parquet ≈ 40k rows per
    // partition), clamped to [1, 2·cores], NOT defaultParallelism: every
    // pass pays task-launch overhead × width, so a core-count width
    // over-splits small fits (driver r18: c32 5.0 s vs c8 2.6 s on the
    // same data; measured optimum ~16 partitions at BOTH 8 and 32 cores,
    // OPTIMIZATION_r19.md). The split estimate comes from file metadata
    // (no plan→RDD probe — round-18 advice); when the scan already
    // yields at least this many partitions (any real SF), no exchange is
    // added at scale.
    val (splits, bytes) =
      graft.io.Tables.scanSplitEstimate(spark, s"$dir/lineitem.parquet")
    val width = math.max(1L, math.min(
      2L * spark.sparkContext.defaultParallelism,
      (bytes + FitPartBytes - 1) / FitPartBytes)).toInt
    val spread = if (splits < width) df.repartition(width) else df
    val assembled = new VectorAssembler()
      .setInputCols(LrFeatures.toArray).setOutputCol("features")
      .transform(spread)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // tol stops L-BFGS as soon as the loss plateaus — on this data it
    // converges in well under the 25-iteration cap, and every saved
    // iteration is a full pass over the training set
    val lr = new LogisticRegression()
      .setMaxIter(25).setRegParam(0.01).setStandardization(true)
      .setTol(1e-5)
    (assembled, lr.fit(assembled))
  }

  /** Exact Mann-Whitney AUC over a (label, p1) score frame — q28's
    * verification anchor for the sort-free binned integrator. The U
    * statistic needs `negBelow`, a GLOBAL exclusive running total of
    * negatives over distinct scores in ascending order; with nearly-
    * continuous scores (l_extendedprice is a feature) that relation is
    * ~row-count-sized, so the branch choice is the repo's standing
    * size-gate rule (COVERAGE.md; the `pageRank(localLimit)` /
    * `q118PairsPlan(broadcastLimit)` discipline):
    *   - at or under `localLimit` rows (gated on the TRAINING row count,
    *     an upper bound on distinct scores that the caller already has
    *     from the gradient pass — no extra action): a no-partition
    *     cumulative window. One task, bounded by the gate.
    *   - above it: [[graft.operators.PrefixSum.exclusiveRunningTotal]],
    *     the two-pass range-partitioned distributed scan. Its fixed
    *     machinery (sampling pass + pinned persist + offsets job) costs
    *     ~2s at the 10× replica (honest A/B in PERF.md) — which is why
    *     it is gated rather than unconditional — but every stage is
    *     |relation|/n per task, so it holds at any SF while the window
    *     branch's single task would not.
    * Both branches sum LONGS, so they are bit-identical; MlSpec forces
    * the distributed branch with localLimit = 0 and pins equality. */
  private[queries] def exactMannWhitneyAuc(scored: DataFrame,
      nRows: Long, localLimit: Long = 1L << 20): Double = {
    val grouped = scored.groupBy(col("p1"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("label")).cast("long").as("pos"))
      .withColumn("neg", col("cnt") - col("pos"))
    val uAgg = Seq(
      sum(col("pos") * (col("negBelow") + col("neg") * 0.5)).as("u"),
      sum(col("pos")).cast("double").as("p"),
      sum(col("neg")).cast("double").as("nn"))
    val u =
      if (nRows <= localLimit) {
        val wBelow = Window.orderBy(col("p1"))
          .rowsBetween(Window.unboundedPreceding, -1)
        grouped
          .withColumn("negBelow",
            coalesce(sum(col("neg")).over(wBelow), lit(0L)))
          .agg(uAgg.head, uAgg.tail: _*)
          .head()
      } else {
        val (ranked, cached) = graft.operators.PrefixSum
          .exclusiveRunningTotal(grouped, "p1", "neg", "negBelow")
        val r = ranked.agg(uAgg.head, uAgg.tail: _*).head()
        cached.unpersist(blocking = false)
        r
      }
    if (u.getDouble(1) == 0 || u.getDouble(2) == 0) 0.5
    else u.getDouble(0) / (u.getDouble(1) * u.getDouble(2))
  }

  /** The coefficient + AUC readback table, the way the reference's
    * report reads a model back (M1-M4, M11) — the library surface q28
    * exposed through round 11, value-pinned by MlSpec (gradient
    * optimality + exact-AUC recomputation at sf0.001). Train == eval,
    * like the reference's final jobs (SURVEY §2.9 M5 quirk). AUC via
    * the sort-free binned integrator (one hash agg;
    * BinaryClassificationEvaluator's global sortByKey is the 100 TB
    * bottleneck and it bins to ~1000 points afterwards anyway) — the
    * exact evaluator remains the reference-parity path in GdeltMl, and
    * BinnedAucSpec pins the two within 0.002. */
  def lrCoefficientTable(spark: SparkSession, dir: String): DataFrame = {
    val (assembled, model) = fitLr(spark, dir)
    val auc = graft.ml.BinnedAuc.auc(
      model.transform(assembled)
        .select(col("label"),
          org.apache.spark.ml.functions.vector_to_array(col("probability"))
            .getItem(1).as("p1")),
      "p1", "label")
    assembled.unpersist(blocking = false)
    val rows = LrFeatures.zip(model.coefficients.toArray).map {
      case (f, c) => Row(f, math.rint(c * 1e6) / 1e6)
    } :+ Row("intercept", math.rint(model.intercept * 1e6) / 1e6) :+
      Row("auc", math.rint(auc * 1e4) / 1e4)
    val schema = StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
  }

  /** The spark.ml TF-IDF pipeline's per-doc top-5 table (M6-M10 + UD4 —
    * the direct analog of nlp_analysis.py:157-164) over a (doc_id, text)
    * frame, plus its vocabulary: the NLP job's kernel
    * (NlpAnalysis.tfidfTopK) with the default English stopwords. q29
    * passes a PERSISTED projection shared with its relational twin, so
    * the one genuinely common input (the raw documents scan, the heaviest
    * cost both sides share) is paid once while every downstream step
    * stays independently derived on each side. */
  def tfidfTopTermsWithVocab(docs: DataFrame): (DataFrame, Array[String]) = {
    val (top, vocab) = graft.nlp.NlpAnalysis.tfidfTopK(docs,
      StopWordsRemover.loadDefaultStopWords("english"), Seq("doc_id"))
    (top.select(col("doc_id"), array_join(col("top_terms"), ", ").as("top_terms"))
      .orderBy(col("doc_id")), vocab)
  }

  /** q29's library surface, value-pinned by MlSpec's full local
    * re-derivation at sf0.001. */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTermsWithVocab(
      table(spark, dir, "documents").select(col("doc_id"), col("text")))._1

  val defs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q28: logistic regression on lineitem features, under the hash gate
    // via the q30 bounds discipline. The oracle's exact anchors are the
    // training-set row and positive-label counts (value-compared); the
    // two flags are engine-computed invariants whose expected value is
    // literal TRUE:
    //   grad_optimal — at the optimum of spark.ml's objective (mean
    //     log-loss + (regParam/2)·||β_std||², standardized features) the
    //     gradient in standardized space must vanish; the engine
    //     recomputes that gradient DISTRIBUTED (one agg pass over the
    //     training frame: E[(μ−y)·x_j] per feature + E[μ−y], stds via
    //     stddev_samp — spark.ml's (n−1) summarizer convention) and
    //     asserts the ∞-norm under tolerance. This is the same KKT check
    //     MlSpec runs locally at sf0.001, now holding at the driver's SF
    //     (and any SF — the optimality condition is scale-free). A
    //     NON-converged or mis-read-back model cannot pass it.
    //   auc_matches_exact — the production binned AUC integrator
    //     (BinnedAuc, sort-free) agrees with the exact Mann-Whitney AUC
    //     to ±0.005; the exact side ([[exactMannWhitneyAuc]]) needs a
    //     global running total over distinct scores and is size-gated:
    //     a cumulative window under 2²⁰ training rows, the distributed
    //     PrefixSum scan above — so the anchor is no longer priced
    //     "test SF only"; it holds at any SF. Production callers read
    //     the binned integrator alone.
    // The coefficient sign pattern deliberately is NOT pinned: the
    // synthetic labels carry no feature signal (MlSpec's header — AUC
    // hovers at 0.5), so signs are noise and would flake across SFs;
    // gradient optimality is the stronger, scale-stable invariant.
    Q("q28_lr_coefficients",
      oracle = Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos,
               TRUE AS grad_optimal,
               TRUE AS auc_matches_exact
        FROM lineitem"""),
      run = (spark, dir) => {
        val (assembled, model) = fitLr(spark, dir)
        val beta = model.coefficients.toArray
        val b0 = model.intercept
        val marginCol = LrFeatures.zipWithIndex.foldLeft(lit(b0): org.apache.spark.sql.Column) {
          case (acc, (f, j)) => acc + col(f) * lit(beta(j))
        }
        val mu = lit(1.0) / (lit(1.0) + exp(-marginCol))
        // one distributed pass: counts, E[(μ−y)·x_j], E[μ−y], stds
        val aggs =
          Seq(count(lit(1)).as("n"), sum(col("label")).cast("long").as("npos"),
            avg(mu - col("label")).as("g0")) ++
            LrFeatures.zipWithIndex.flatMap { case (f, j) =>
              Seq(avg((mu - col("label")) * col(f)).as(s"g$j"),
                stddev_samp(col(f)).as(s"s$j"))
            }
        val st = assembled.agg(aggs.head, aggs.tail: _*).head()
        val nRows = st.getAs[Long]("n")
        val nPos = st.getAs[Long]("npos")
        val lambda = 0.01
        // solver's own convergence verdict: L-BFGS stopping before the
        // iteration cap means it met tol (1e-5 relative objective) —
        // the second leg of the two-tier flag below
        val converged = model.summary.totalIterations < model.getMaxIter
        val gradInf = (LrFeatures.indices.map { j =>
          val s = st.getAs[Double](s"s$j")
          // a zero-variance feature has no standardized coordinate:
          // spark.ml's standardization zeroes its coefficient and the
          // optimality condition carries no component for it — dividing
          // by s = 0 would turn a HEALTHY model into Infinity/NaN and a
          // false gate failure on degenerate (constant-column) corpora
          if (s == 0.0 || s.isNaN) 0.0
          else math.abs(st.getAs[Double](s"g$j") / s + lambda * beta(j) * s)
        } :+ math.abs(st.getAs[Double]("g0"))).max
        // AUC agreement: binned integrator vs exact Mann-Whitney, both
        // over the same score column. Scores come from the mu EXPRESSION
        // (sigmoid of the read-back coefficients over raw columns) rather
        // than model.transform — one codegen projection over the cached
        // assembled frame instead of a second vector-ops pass; agreement
        // between transform's probability and this expression is itself
        // what the coefficient readback + gradient check establish.
        val scored = assembled.select(col("label"), mu.as("p1"))
        val binned = graft.ml.BinnedAuc.auc(scored, "p1", "label")
        val exact = exactMannWhitneyAuc(scored, nRows)
        assembled.unpersist(blocking = false)
        import spark.implicits._
        // grad_optimal is TWO-TIER (round-13 advice: a fixed 5e-3 bound
        // could trip on a legitimately-converged near-tolerance fit at
        // an untested SF — a false alarm, not silent corruption): the
        // tight tier is the mathematically expected region (observed
        // ~1e-6 at every tested SF); the loose tier accepts a fit the
        // SOLVER declared converged as long as the standardized
        // gradient is still an order below anything a broken readback
        // produces (coefficient corruption puts components at O(0.1–1)).
        // Expected failure modes when this flag trips — both real
        // defects: gradInf > 5e-2 (mis-read-back / corrupted
        // coefficients) or the solver exhausting maxIter without
        // meeting tol (divergence / data pathology).
        val gradOptimal = gradInf <= 5e-3 || (converged && gradInf <= 5e-2)
        Seq((nRows, nPos, gradOptimal, math.abs(binned - exact) <= 0.005))
          .toDF("n_rows", "n_pos", "grad_optimal", "auc_matches_exact")
      }),

    // ------------------------------------------------------------------
    // q29: bigram TF-IDF top-5 per document — the spark.ml pipeline
    // (M6-M10 + UD4) under the hash gate: the engine runs BOTH the ml
    // pipeline and an independent relational re-derivation of the same
    // math (the q48 formulation with the pipeline's tokenizer/stopword
    // semantics, restricted to the pipeline's 1,500-bigram vocabulary so
    // the vocabulary cut affects both sides identically) and emits ONE
    // row per document asserting the two top-5 lists are IDENTICAL.
    // Guaranteed, not statistical: both sides compute tf·ln((N+1)/(df+1))
    // from the same integer counts in the same JVM (bit-identical
    // doubles) and break ties on the term string, so any divergence is a
    // real pipeline defect. doc_id is the SQL-anchored exact column (one
    // row per document, value-compared); the flag's expected value is
    // literal TRUE. The per-doc top-terms table stays available as
    // [[tfidfTopTerms]], value-pinned by MlSpec's full local
    // re-derivation (which additionally proves the truncation-no-op case
    // end-to-end at sf0.001).
    Q("q29_tfidf_bigrams",
      oracle = Some("""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
               TRUE AS ml_matches_relational
        FROM documents ORDER BY doc_id"""),
      run = (spark, dir) => {
        // ONE persisted scan of the heavy (doc_id, text) projection
        // feeds both the ml pipeline and the relational twin: the raw
        // scan is the single input the two sides legitimately share
        // (they must agree on the corpus BYTES to be comparable at
        // all), while tokenization onward stays fully independent on
        // each side — the twin still catches a Tokenizer/StopWords/
        // NGram/CountVectorizer/IDF regression. Measured A/B at the
        // 10× replica in PERF.md (round 13).
        val docs = table(spark, dir, "documents")
          .select(col("doc_id"), col("text"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (mlTop, vocab) = tfidfTopTermsWithVocab(docs)
        // relational twin with the PIPELINE's token semantics: lowercase,
        // split on \s (Tokenizer), default-english stopword removal
        // (StopWordsRemover), len>2 — then the q48 tf·idf/top-5 shape,
        // semi-joined to the pipeline's vocabulary (≤1500 terms, broadcast)
        // stopword membership via isin (a >10-literal In optimizes to
        // InSet — one hash probe per token) rather than array_contains
        // over a 181-element literal array (a linear scan per token:
        // tokens × 181 string compares dominated the twin's 10× wall)
        val stop = StopWordsRemover.loadDefaultStopWords("english").toSeq
        val toks = filter(split(lower(col("text")), "\\s"),
          t => length(t) > 2 && !t.isin(stop: _*))
        val n2 = greatest(size(col("tk")) - 1, lit(0))
        val big = docs.select(col("doc_id"), toks.as("tk"))
          .select(col("doc_id"),
            explode(arrays_zip(slice(col("tk"), lit(1), n2),
              slice(col("tk"), lit(2), n2))).as("g"))
          .select(col("doc_id"),
            concat_ws(" ", col("g").getField("0"), col("g").getField("1"))
              .as("bigram"))
        import spark.implicits._
        val vocabDf = vocab.toSeq.toDF("bigram")
        val tf = big.join(broadcast(vocabDf), Seq("bigram"), "left_semi")
          .groupBy(col("doc_id"), col("bigram"))
          .agg(count(lit(1)).as("tf"))
        // df via a window over the tf relation (the q48 lesson: a
        // groupBy+join-back re-derives the whole explode+agg pass)
        val wDf = Window.partitionBy(col("bigram"))
        val nd = docs.agg(count(lit(1)).as("n_docs"))
        val wTop = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("bigram").asc)
        val relTop = tf.withColumn("df", count(lit(1)).over(wDf))
          .crossJoin(broadcast(nd))
          .select(col("doc_id"), col("bigram"),
            (col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
              .as("tfidf"))
          .withColumn("rank", row_number().over(wTop))
          .filter(col("rank") <= 5)
          .groupBy(col("doc_id"))
          .agg(array_join(
            transform(
              array_sort(collect_list(struct(col("rank"), col("bigram")))),
              x => x.getField("bigram")), ", ").as("rel_terms"))
        // the equality check's join carries ONLY (doc_id, two 5-term
        // strings): mlTop is already a localized relation and the
        // narrow relTop side broadcasts, so no doc-count-sized hash
        // exchange ships for a ≤60-byte-per-row comparison
        val out = Q.localized(mlTop
          .join(broadcast(relTop), Seq("doc_id"), "left")
          .select(col("doc_id"),
            (col("top_terms") === coalesce(col("rel_terms"), lit("")))
              .as("ml_matches_relational"))
          .orderBy(col("doc_id")))
        docs.unpersist(blocking = false)
        out
      })
  )
}

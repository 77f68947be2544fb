package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** Physical-plan assertions: the scale properties the query comments claim
  * must actually appear in the executed plan — filter pushdown reaching
  * the parquet scan, column pruning, broadcast joins staying broadcast,
  * top-k compiling to TakeOrderedAndProject (no global sort), and
  * map-side partial aggregation before every exchange. */
class PlanSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def plan(name: String): String = {
    val df = Registry.queries(name)(spark, sf0001)
    df.collect() // finalize AQE so the plan carries codegen ids / final joins
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q06: lang predicates are pushed into the parquet scan") {
    val p = plan("q06_predicates")
    p should include("PushedFilters")
    p should include regex "PushedFilters:.*IsNotNull\\(lang\\)"
    p should include regex "PushedFilters:.*In\\(lang"
  }

  test("q02: column pruning — scan reads only the two referenced part columns") {
    val p = plan("q02_topk_brands")
    p should include regex "ReadSchema: struct<p_brand:string,p_retailprice:"
  }

  test("q02: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("q02_topk_brands")
    p should include("TakeOrderedAndProject")
  }

  test("q08/q09: dimension joins are broadcast, no shuffle on the fact side for q08") {
    plan("q08_join_broadcast") should include("BroadcastHashJoin")
    val p9 = plan("q09_join_star")
    "BroadcastHashJoin".r.findAllIn(p9).length should be >= 2
  }

  test("q10/q11: semi and anti joins plan as such") {
    plan("q10_join_semi") should include("LeftSemi")
    plan("q11_join_anti") should include("LeftAnti")
  }

  test("q55: salted skew join is a ShuffledHashJoin keyed on (key, salt); " +
    "the inner dim-labeling join stays broadcast") {
    val p = plan("q55_skew_salted_join")
    p should include("ShuffledHashJoin")  // the hinted, salted fact⋈dim
    p should include("BroadcastHashJoin") // supplier⋈nation snowflake arm
    p should include(graft.operators.SkewJoin.SaltCol) // salt is a join key
    p should not include "SortMergeJoin"
  }

  test("q77: salted LEFT join keeps the (key, salt) ShuffledHashJoin shape " +
    "with LeftOuter semantics") {
    val p = plan("q77_skew_salted_left")
    p should include("ShuffledHashJoin")
    p should include("LeftOuter")
    p should include(graft.operators.SkewJoin.SaltCol)
    p should not include "SortMergeJoin"
  }

  test("q78 (library plan): incremental dedup is anti-join cascades + an equi " +
    "bucket join — no cartesian (the query's mat() cut hides this shape)") {
    import spark.implicits._
    val corpus = Seq(1L -> "alpha beta gamma delta epsilon zeta").toDF("doc_id", "text")
    val batch = Seq(10L -> "alpha beta gamma delta epsilon eta").toDF("doc_id", "text")
    val (result, cached) = graft.dedup.TextDedup
      .incrementalDeduplicatePlan(corpus, batch, "doc_id", "text", 0.5)
    val p = result.queryExecution.explainString(ExplainMode.fromString("simple"))
    cached.foreach(_.unpersist(blocking = false))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    // exact-vs-corpus hash drop and the final dup-id drop are anti-joins
    "LeftAnti".r.findAllIn(p).length should be >= 2
  }

  test("q57: flagship ETL chain — dedup rank pushed map-side, partial aggs, " +
    "narrow parse stage") {
    val p = Registry.queries("q57_etl_report")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // dedup-by-key: Catalyst pushes a partial top-1-per-key
    // (WindowGroupLimit) BELOW the dedup shuffle — the map-side-combine
    // analog for row_number, so duplicate-heavy keys never flood the wire
    "WindowGroupLimit".r.findAllIn(p).length should be >= 2 // partial + final
    p should include regex "hashpartitioning\\(dedup_key"
    // report agg partial-aggregates before its exchange
    "HashAggregate".r.findAllIn(p).length should be >= 2
    p should not include "CartesianProduct"
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val p = plan("q01_share_of_voice")
    p should include("HashAggregate")
    "HashAggregate".r.findAllIn(p).length should be >= 2 // partial + final
  }

  test("q12: window query hash-shuffles exactly once (on the partition key)") {
    // one data shuffle (hashpartitioning on the window key); the trailing
    // rangepartitioning exchange is the presentation ORDER BY, not data
    // flow. Simple mode on the unexecuted plan: the post-AQE formatted
    // output would list initial+final plans and double-count.
    val p = Registry.queries("q12_window_top_order")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include regex "hashpartitioning\\(o_custkey"
    // and the rank-1 filter is pushed map-side ahead of the shuffle
    p should include("WindowGroupLimit")
  }

  test("q62: funnel's three stage-windows share ONE user_id shuffle") {
    // the sequential funnel is three min-over-user windows with the same
    // partitioning — Catalyst must plan a single hashpartitioning
    // exchange feeding all three Window operators (the global funnel
    // reduce after them is a SinglePartition exchange, not a hash one)
    val p = Registry.queries("q62_funnel")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include regex "hashpartitioning\\(user_id"
    "Window".r.findAllIn(p).length should be >= 3
  }

  test("q66: transition mining is one window shuffle + one partial-agg'd pair count") {
    val p = Registry.queries("q66_transitions")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2 // window + pair groupBy
    "HashAggregate".r.findAllIn(p).length should be >= 2          // partial before exchange
  }

  test("q63: cube expands grouping sets in one pass (Expand + partial aggs, one scan)") {
    val p = Registry.queries("q63_cube")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("Expand")
    "HashAggregate".r.findAllIn(p).length should be >= 2
    "Scan parquet".r.findAllIn(p).length shouldBe 1
  }

  test("q64: quantization is a pure narrow projection — no hash shuffle, pruned scan") {
    val p = Registry.queries("q64_embedding_quantize")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 0 // only the ORDER BY range exchange
    val f = Registry.queries("q64_embedding_quantize")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    f should include regex "ReadSchema: struct<vec_id:bigint,embedding:array<float>>"
  }

  test("q65: LSH signatures computed scan-side — only the signature histogram shuffles") {
    val p = Registry.queries("q65_hyperplane_lsh")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include regex "hashpartitioning\\(signature"
    "HashAggregate".r.findAllIn(p).length should be >= 2 // partial histogram map-side
    p should not include "CartesianProduct"               // planes are literals, not a join
  }

  test("q67: LSH near-dup candidates come from an EQUI-join on the signature — " +
    "no cartesian, no nested loop") {
    val p = Registry.queries("q67_lsh_neardup")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    p should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
  }

  test("q68: temperature-mix thresholds broadcast back to the corpus — the " +
    "document side never hash-shuffles for the sampling filter") {
    val p = Registry.queries("q68_temperature_mix")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("q71: the LSH index probe is PARTITION-PRUNED — the scan carries a " +
    "sig_hi partition filter, so probe I/O is one bucket, not the corpus") {
    val p = plan("q71_lsh_index_probe")
    p should include regex "PartitionFilters:.*sig_hi"
  }

  test("q71: the probe's top-k is TakeOrderedAndProject (per-partition " +
    "heaps), not a bucket-wide global rank window — bucket occupancy " +
    "grows with corpus size, so a whole-bucket single-task sort would " +
    "be the scale bottleneck; the rank window runs over <= k rows") {
    val p = plan("q71_lsh_index_probe")
    p should include("TakeOrderedAndProject")
  }

  test("q17/q52/q73: steady-state plans READ the shared neardup pair " +
    "artifact — no shingle re-derivation in any of the three") {
    // the registered results are Q.localized (LocalTableScan), so the
    // pin targets the shared relation all three consume: invoking q17
    // builds the per-process artifact, after which verifiedPairsIndexed
    // must be a PURE parquet scan of it — no shingle build (arrays_zip),
    // no LSH self-join, no exchange of any kind
    plan("q17_neardup_minhash") // first invocation: builds the artifact
    val pi = Dedup.verifiedPairsIndexed(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    pi should include("neardup_pair_index")
    pi should not include "arrays_zip"
    pi should not include "Exchange"
    // q52's artifact form must actually work end to end on the testdata
    // (exact pass from documents + the artifact's restricted pair side)
    val restricted = graft.dedup.TextDedup.deduplicateWithPairs(
      graft.io.Tables.table(spark, sf0001, "documents"), "doc_id", "text",
      Dedup.verifiedPairsIndexed(spark, sf0001))
    restricted.count() should be > 0L
    restricted.unpersist(blocking = false)
  }

  test("q19: the pair dedup runs AFTER the hamming cut — the distinct " +
    "keys are the 3 narrow output columns and the cut is evaluated " +
    "join-side, so no exchange ever carries the wide pre-filter " +
    "candidate rows with both raw signatures") {
    // the registered result is Q.localized (LocalTableScan) — pin the
    // extracted pair pipeline itself, fed by q18's signature relation
    val sig = Registry.queries("q18_simhash")(spark, sf0001)
    val df = Dedup.q19PairsPlan(sig)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    // a regression that dedups before the filter would key the distinct
    // on (doc_a, doc_b, sim_a, sim_b) — here it is the narrow triple
    p should include regex
      "HashAggregate\\(keys=\\[doc_a#\\d+L, doc_b#\\d+L, hamming#\\d+L\\]"
    p should not include regex ("HashAggregate\\(keys=\\[[^\\]]*sim")
    // the bit_count(xor) cut sits below the aggregate (Catalyst pushes
    // it into the band join itself), so any exchange the distinct DOES
    // need at larger SF is survivor-sized; and no exchange is keyed on
    // raw signature columns
    p should include regex
      "Join [^\\n]*bit_count[^\\n]*|BroadcastHashJoin [^\\n]*bit_count"
    p should not include regex ("hashpartitioning\\([^)]*sim")
  }

  test("q35/q69: steady-state plans READ the shared rare-blocked overlap " +
    "artifact — scoring is pure arithmetic over the scan") {
    plan("q35_ngram_jaccard") // first invocation: builds the artifact
    val po = Dedup.rareOverlapIndexed(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    po should include("rare_overlap_stats")
    po should not include "arrays_zip"
    po should not include "Exchange"
  }

  test("q79: embedding-dedup candidates are the q67 signature EQUI-join — " +
    "no cartesian anywhere in pairs or clustering") {
    // the pair plan, pre-clustering (clusters() iterates jobs; pin the
    // single-job candidate+verify shape the loop consumes)
    val p = Registry.queries("q79_embedding_dedup")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  test("q80: z-order layout is one scan + a broadcast 1-row bounds stitch — " +
    "the only hash exchange is the final file_id rollup") {
    val p = Registry.queries("q80_zorder_layout")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // the bounds stitch must be a broadcast nested-loop over ONE row,
    // never a shuffle of the fact side against it
    p should include("BroadcastNestedLoopJoin")
    p should not include "CartesianProduct"
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("q72: snapshot diff is a FULL OUTER equi-join shipping (key, hash) " +
    "only, with a partial-agg'd status rollup") {
    val p = Registry.queries("q72_snapshot_diff")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("FullOuter")
    p should not include "CartesianProduct"
    "HashAggregate".r.findAllIn(p).length should be >= 2
  }

  test("q74: the RANGE frame costs the one user_id window shuffle — no extra") {
    val p = Registry.queries("q74_range_frame")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include regex "hashpartitioning\\(user_id"
  }

  test("q75: weighted sampling is TakeOrderedAndProject — per-partition " +
    "heaps, no global sort, no pre-shuffle") {
    val p = Registry.queries("q75_weighted_sample")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("TakeOrderedAndProject")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 0
  }

  test("q85: the hash split is a narrow projection — exactly one hash " +
    "shuffle (the manifest agg), partial aggregation before it") {
    val p = Registry.queries("q85_hash_split")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include("partial_count")
  }

  test("q86: fertility is one scan + one ≤5-group hash shuffle") {
    val p = Registry.queries("q86_tokenizer_fertility")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include("partial_sum")
  }

  test("q87: entropy shuffles (doc, type) counts then per-doc sums — two " +
    "hash exchanges, both behind partial aggregation, text never shuffled") {
    val p = Registry.queries("q87_token_entropy")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    p should include("partial_count")
  }

  test("q88: the manifest head is TakeOrderedAndProject over the shard " +
    "relation — no cartesian, weights broadcast") {
    val p = Registry.queries("q88_shard_interleave")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("TakeOrderedAndProject")
    p should include("BroadcastHashJoin")
    p should not include "CartesianProduct"
  }

  test("q33: as-of join is one union + one hash shuffle — no range-join explosion") {
    val p = Registry.queries("q33_asof_join")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("Union")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
  }

  test("q20: similarity scoring uses the native codegen dot product in a codegen span") {
    val p = plan("q20_ann_cosine")
    p should include("graft_dot")
    p should include("codegen id")
  }

  test("q20: the fixed-count query sample compiles to TakeOrderedAndProject " +
    "(per-partition top-N, no global sort) and is broadcast") {
    val p = plan("q20_ann_cosine")
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin")
  }

  test("q129: same linear-scan shape as q20 — codegen dot product, " +
    "broadcast probe set via TakeOrderedAndProject, label " +
    "anti-condition join-side, map-side WindowGroupLimit on the " +
    "per-probe rank") {
    val p = plan("q129_hard_negatives")
    p should include("graft_dot")
    p should include("TakeOrderedAndProject")
    p should include("BroadcastNestedLoopJoin")
    p should include("WindowGroupLimit")
  }

  test("q135/q136/q151: PQ serving plans read the PACKED index artifact " +
    "— native packed-ADC expression in a codegen span over a parquet " +
    "scan of 24-byte rows, NO inline encode and NO corpus assignment " +
    "in the serve (both ran once at index build); q136/q151's cell " +
    "restriction is a broadcast equi-join, probe rank map-side " +
    "WindowGroupLimit") {
    val p135 = plan("q135_pq_adc_topk")
    p135 should include("graft_pq_adc_num_packed")
    (p135 should not).include("graft_pq_encode") // serve reads codes
    p135 should include("codegen id")
    p135 should include("BroadcastNestedLoopJoin") // constant probe set
    p135 should include("WindowGroupLimit")
    // the corpus-sized scan side is the packed index: the read schema
    // carries the 8-byte code word (the embeddings table appears only
    // under the QUERY_N-row probe-side TakeOrderedAndProject)
    p135 should include("packed")
    val p136 = plan("q136_ivfpq_topk")
    p136 should include("graft_pq_adc_num_packed")
    (p136 should not).include("graft_pq_encode")
    p136 should include("BroadcastHashJoin")      // cell-keyed, not cartesian
    (p136 should not).include("CartesianProduct")
    p136 should include("WindowGroupLimit")
    val p151 = plan("q151_ivfpq_auto_nprobe")
    p151 should include("graft_pq_adc_num_packed")
    p151 should include("BroadcastHashJoin")
    (p151 should not).include("CartesianProduct")
    p151 should include("WindowGroupLimit")
  }

  test("q158/q160: trained and residual IVF-PQ serves keep the packed " +
    "shape — native packed-ADC over the durable index, NO inline " +
    "encode and NO corpus assignment in the serve (quantizer passes " +
    "ran once at index build), cell restriction a broadcast equi-join, " +
    "no cartesian") {
    for (name <- Seq("q158_ivfpq_trained", "q160_ivfpq_residual")) {
      val p = plan(name)
      p should include("graft_pq_adc_num_packed")
      (p should not).include("graft_pq_encode")
      (p should not).include("graft_nearest_centroid)") // no corpus assign
      p should include("BroadcastHashJoin")
      (p should not).include("CartesianProduct")
      p should include("WindowGroupLimit")
      p should include("packed")
    }
  }

  test("q164: the trained production serve keeps the two-stage shape — " +
    "packed-ADC shortlist over the durable trained index (no inline " +
    "encode, no corpus assignment), exact re-rank over broadcast " +
    "shortlist/probe joins, no cartesian") {
    val p = plan("q164_trained_production")
    p should include("graft_pq_adc_num_packed")
    (p should not).include("graft_pq_encode")
    (p should not).include("graft_nearest_centroid)") // no corpus assign
    p should include("BroadcastHashJoin")
    (p should not).include("CartesianProduct")
    p should include("WindowGroupLimit")
    p should include("packed")
    p should include("graft_dot") // the exact re-rank stage's cosine
  }

  test("dedup verify plan (q17's shape): candidate restriction and pair-driven " +
    "intersection are LeftSemi joins; no shingle-keyed self-join, no cartesian") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val (planned, cached) = graft.dedup.TextDedup
      .nearDuplicatePairsPlan(docs, "doc_id", "text", 0.5)
    try {
      val p = planned.queryExecution
        .explainString(ExplainMode.fromString("simple"))
      // two distinct semi joins: shingles→candidate docs, and the
      // (doc_b, s) match that counts intersections pair-driven
      "LeftSemi".r.findAllIn(p).length should be >= 2
      p should not include "CartesianProduct"
      p should not include "BroadcastNestedLoopJoin"
      "HashAggregate".r.findAllIn(p).length should be >= 2 // partial+final minhash
      // (no numeric exchange pin: persisted branches — sh/cand/shc — are
      // re-printed at every reuse site in the plan text, so a textual
      // exchange count multiplies per consumer and does not measure the
      // executed shuffle count)
    } finally cached.foreach(_.unpersist(blocking = false))
  }

  test("IVF probe plan (q36's shape): query/codebook sides broadcast — probe is a " +
    "BroadcastHashJoin on the cell id; the corpus never sort-merge-shuffles for scoring") {
    import org.apache.spark.sql.functions.col
    val emb = graft.io.Tables.table(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val cents = graft.similarity.VectorSearch.ringCentroids(emb, "vec_id", 101)
    val planned = graft.similarity.VectorSearch
      .ivfTopKPlan(emb, queries, cents, "vec_id", "embedding", 10)
    val p = planned.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    p should include("BroadcastHashJoin") // cell-probe join
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    // cell assignment is the NATIVE map-side expression: one fused
    // k×dim loop per row inside the scan stage — no n×k expansion,
    // no aggregate, no sort, no vec_id exchange at all (the retired
    // max_by shape sorted the expansion carrying the vectors:
    // AnnScaleProbe measured 124.8 s at 200k×448)
    p should include("graft_nearest_centroid")
    p should not include "partial_max_by"
    // no SortAggregate anywhere: the corpus-side assignment is
    // aggregate-free, and the probe-side nprobe ranking (the one
    // remaining vec_id aggregate — QUERY-set-sized by construction)
    // hash-aggregates its collect_list
    p should not include "SortAggregate"
    p should include regex "hashpartitioning\\(q_id" // final ranking window
  }

  test("trained-codebook IVF with nprobe=2 (q54's shape) keeps the broadcast probe") {
    import org.apache.spark.sql.functions.col
    val emb = graft.io.Tables.table(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val cents = graft.similarity.VectorSearch
      .trainCodebook(emb.sample(0.5, 42L), "vec_id", "embedding", k = 4, maxIter = 2)
    val planned = graft.similarity.VectorSearch
      .ivfTopKPlan(emb, queries, cents, "vec_id", "embedding", 10, nprobe = 2)
    val p = planned.queryExecution
      .explainString(ExplainMode.fromString("simple"))
    p should include("BroadcastHashJoin")
    p should not include "SortMergeJoin"
    p should not include "CartesianProduct"
    // nprobe=2 cells come from a partial collect+sort+slice aggregate
    // over the query subset, not a window rank over the expansion
    p should include("partial_collect_list")
  }

  test("q102: spans cross every exchange as 56-bit longs, never strings — " +
    "only the two span passes explode; the totals pass is tokenize-only") {
    val p = Registry.queries("q102_repeated_spans")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    // exchanges: (h, doc_id)×2 — the per-(span, doc) dedup computed for
    // the rep-set and for the semi-filtered rollup (no common-subtree
    // sharing in Spark; recompute-over-persist at corpus-token scale) —
    // plus (h) for the distinct-doc count and (doc_id) for the flagged
    // per-doc sum; nothing shuffles the span text itself, which only
    // ever exists map-side under the md5
    "Exchange hashpartitioning\\(h#\\d+L, doc_id".r.findAllIn(p).length shouldBe 2
    "Exchange hashpartitioning\\(h#\\d+L,".r.findAllIn(p).length shouldBe 3
    "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).length shouldBe 1
    p should include("LeftSemi")          // repeated-span membership probe
    p should include("BroadcastHashJoin") // per-doc stitch is broadcast
    p should not include "SortMergeJoin"
    // three scans, but only two span explodes — the totals scan is
    // tokenize-only arithmetic (the measured-cheaper shape; see query)
    "FileScan".r.findAllIn(p).length shouldBe 3
    "Generate explode".r.findAllIn(p).length shouldBe 2
    "HashAggregate".r.findAllIn(p).length should be >= 6 // partial+final ×3
  }

  test("q103: top-20 pairs compile to TakeOrderedAndProject; both rollups " +
    "partial-aggregate; pairs explode from the token HISTOGRAM, not the corpus") {
    val p = Registry.queries("q103_bpe_pair_counts")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("TakeOrderedAndProject")
    p should not include "SortMergeJoin"
    // two generates: corpus→tokens, then histogram→pairs; the pair
    // explode must sit ABOVE the token aggregate (repetition absorbed
    // before character work). Guard both anchors: indexOf -1 on a
    // renamed operator would otherwise satisfy the < vacuously.
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 2
    val pairGen = p.indexOf("Generate explode(transform")
    val tokAgg = p.indexOf("HashAggregate(keys=[tok")
    pairGen should be >= 0
    tokAgg should be >= 0
    pairGen should be < tokAgg
  }

  test("q107: winnow runs in-row and is derived ONCE — a single explode " +
    "feeds the window-count df pass; exchanges key on fp/doc_id longs, " +
    "never k-gram text") {
    val df = Registry.queries("q107_winnow_fingerprints")(spark, sf0001)
    df.collect()
    // a finalized AdaptiveSparkPlan prints Final AND Initial sections —
    // count operators in the executed (final) section only
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    // one winnow scan + the tokenize-only totals scan; ONE explode (the
    // positional k-gram stream — no rep-set join-back re-derivation)
    "FileScan".r.findAllIn(p).length shouldBe 2
    "Generate (pos)?explode".r.findAllIn(p).length shouldBe 1
    // exchanges carry 56-bit fp longs or doc_id — the k-gram strings
    // exist only map-side under the md5
    "Exchange hashpartitioning\\(fp#\\d+L".r.findAllIn(p).length should be >= 1
    p should not include "SortMergeJoin"
    p should include("Window") // the df count rides the fp window
  }

  test("q108: model-based filter is map-only until the bounded decile " +
    "rollup — one scan, one partial-aggregated hash exchange, no join, " +
    "no explode") {
    val df = Registry.queries("q108_quality_filter")(spark, sf0001)
    df.collect()
    // final AQE section only (see q107 note)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    "FileScan".r.findAllIn(p).length shouldBe 1
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    "HashAggregate".r.findAllIn(p).length shouldBe 2 // partial + final
    p should not include "Join"
    p should not include "Generate"
  }

  test("q100: SemDeDup centroid assignment is the native map-side " +
    "nearest-centroid expression — no n×k expansion, no aggregate/sort, " +
    "no assignment exchange") {
    val p = Registry.queries("q100_semantic_dedup")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("graft_nearest_centroid")
    p should not include "partial_max_by"
    // the pre-r15 shapes ranked the expansion through a vec_id Window
    // (full n×k shuffle) or sorted it under a max_by SortAggregate
    // carrying the vectors; both are gone
    p should not include "Window"
    p should not include "CartesianProduct"
  }

  test("q51: banded range join is an equi-join — no nested loop, no cartesian") {
    val p = Registry.queries("q51_range_join_banded")(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    p should include regex "user_id.*bucket|bucket.*user_id" // the band key
  }

  test("q92: bucketed co-located join — SortMergeJoin with ZERO hash " +
    "exchanges below the aggregation (co-partitioning comes from storage)") {
    // no collect(): with AQE finalized, explainString prints Final AND
    // Initial plans and every exchange would count twice
    val df = Registry.queries("q92_bucketed_join")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("SortMergeJoin")
    // the ONLY hash exchange is the 35-group aggregation above the join;
    // both join inputs read bucket-aligned, shuffle-free
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    val formatted = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    formatted should include("Bucketed: true")
  }

  test("q93: SCD2 — change-window, run-aggregation and lead-window all " +
    "ride ONE user-keyed exchange (subset-partitioning reuse)") {
    val df = Registry.queries("q93_scd2_intervals")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should not include "CartesianProduct"
  }

  test("q94 (library plan): tertile thresholds broadcast back — no " +
    "cartesian; the 1-row stitch is a broadcast (Q.localized hides this)") {
    val (df, cached) = TextAnalysis.perplexityBucketsPlan(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    cached.foreach(_.unpersist(blocking = false))
    p should not include "CartesianProduct"
    p should include("BroadcastNestedLoopJoin") // the 1-row threshold stitch
    // steady state reads the shared q83/q94 score artifact — the bigram
    // model training/scoring joins must NOT appear in q94's own plan
    p should include("bigram_lm_scores")
  }

  test("q95: grouping sets compile to one Expand + one partially-aggregated " +
    "exchange — not a per-set rescan") {
    val df = Registry.queries("q95_grouping_sets")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("Expand")
    "Exchange hashpartitioning".r.findAllIn(p).length shouldBe 1
    p should include("partial_count")
  }

  test("q97: the dim filter becomes a DYNAMIC partition filter on the " +
    "fact scan — partitions prune at run time, before any fact row reads") {
    val df = Registry.queries("q97_dynamic_pruning")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("dynamicpruning")
    p should include regex "PartitionFilters: \\[.*dynamicpruning"
  }

  test("q98: incremental refresh — both censuses partial-aggregate, the " +
    "merge is a group-keyed full-outer, no data-scale join") {
    val df = Registry.queries("q98_incremental_agg")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("FullOuter")
    p should include("partial_count")
    p should not include "CartesianProduct"
  }

  test("q99: gap fill generates per-entity calendars (explode after a " +
    "grouped span agg) — no global-calendar cartesian") {
    val df = Registry.queries("q99_gap_fill")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("Generate explode")
    p should not include "CartesianProduct"
    p should not include "BroadcastNestedLoopJoin"
  }

  /** Structural tripwire for the CollapseProject-lambda quadratic (the
    * round-11 q107/q112 lesson, PERF.md): when a projected array column
    * is referenced positionally inside a higher-order-function lambda,
    * CollapseProject inlines the column's DEFINING expression into the
    * lambda body — the tokenizer regex then re-runs per element,
    * O(k-grams²) per row. The plan signature is the regex/split landing
    * INSIDE a lambdafunction. Safe shapes (zip-slice + posexplode;
    * lambdas referencing only their lambda variable) never show it. */
  private def assertNoInlinedLambdaRederivation(p: String): Unit =
    p.linesIterator.filter(_.contains("lambdafunction")).foreach { l =>
      withClue(s"re-derivation inlined into a HOF lambda: $l\n") {
        l should not include "regexp_extract_all"
        l should not include "split("
      }
    }

  test("q112: contamination spans are the q107 window-frame shape — " +
    "zip-slice posexplode (no nested-lambda re-derivation), broadcast " +
    "benchmark side, islands ride ONE doc_id window") {
    val df = Registry.queries("q112_contamination_spans")(spark, sf0001)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    assertNoInlinedLambdaRederivation(p)
    p should include("Window")
    p should not include "SortMergeJoin" // benchmark set broadcasts
    "Generate posexplode".r.findAllIn(p).length should be <= 2
  }

  test("q107: the winnow stream's lambdas never contain the tokenizer " +
    "(the structural form of the round-11 quadratic)") {
    val df = Registry.queries("q107_winnow_fingerprints")(spark, sf0001)
    df.collect()
    assertNoInlinedLambdaRederivation(df.queryExecution
      .explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0))
  }

  test("q123: the KS cumulative window sorts GRID CELLS (int) after a " +
    "partially-aggregated (type, cell) reduction — no window over raw " +
    "double values anywhere in the plan (the round-12 scale-killer), " +
    "and the per-type window input is grid-bounded") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val nn = graft.io.Tables.table(spark, sf0001, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("value"))
      .filter(col("value").isNotNull)
    val cnts = DriftOps.ksCounts(nn, DriftOps.timeMid(nn))
    val stat = DriftOps.ksStat(cnts)
    stat.collect()
    val p = stat.queryExecution.explainString(ExplainMode.fromString("simple"))
    // the one Window in the statistic orders by the int cell, never the
    // raw double value
    p should include("Window")
    p should include regex "windowspecdefinition\\(event_type#\\d+, cell#\\d+ ASC"
    p should not include regex ("windowspecdefinition\\([^)]*value#")
    // the counts relation entering the window is partial-aggregated
    // before its exchange (map-side combine on (type, cell))
    val pc = cnts.queryExecution.explainString(ExplainMode.fromString("simple"))
    pc should include("partial_sum")
    // and provably grid-bounded: every cell is inside [0, 2^16)
    import org.apache.spark.sql.functions.{max => smax, min => smin}
    val mm = cnts.agg(smin("cell"), smax("cell")).collect().head
    mm.getInt(0) should be >= 0
    mm.getInt(1) should be < DriftOps.KS_CELLS
  }

  test("q110: steady state READS the durable co-purchase edge artifact " +
    "(no lineitem self-join), and at dimension scale the local gate " +
    "fires — the result is a LocalTableScan, zero exchanges") {
    val df = Registry.queries("q110_pagerank")(spark, sf0001)
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("LocalTableScan") // local fast path fired
    p should not include "Exchange"
    val pe = GraphOps.coPurchaseEdges(spark, sf0001)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    pe should include("copurchase_edges")
    pe should not include "Join"
    pe should not include "Exchange"
  }

  test("q118: the pair pipeline's exchanges carry ONLY longs (hash " +
    "domain — shingle strings never shuffle), steady state reads the " +
    "ppjoin index, and the verify kernel is the native intersect-count") {
    plan("q118_prefix_filter_join") // first invocation resolves the index
    val df = Dedup.q118PairsPlan(spark, sf0001)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    p should include("ppjoin_index")
    p should not include "arrays_zip" // no shingle re-derivation
    p should include("graft_intersect_count") // the codegen verify kernel
    // ONE broadcast serves both array-attach joins (A/B projections
    // canonicalize identically over the shared hinted scan) — the
    // ~500MB-at-the-gate array side ships once, not twice
    p should include("ReusedExchange")
    val keys = "Exchange hashpartitioning\\((\\w+#\\d+L?)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    keys should not be empty
    withClue(s"exchange keys $keys: ") {
      all(keys) should endWith("L")
    }
  }

  test("SketchVerify.exactTopK (q89/q96's shared finish tail): the " +
    "candidate restriction is a broadcast SEMI-join (no driver-side " +
    "isin ship) and the top-k is TakeOrderedAndProject") {
    // the registered q89/q96 results are Q.localized — pin the shared
    // tail itself on a real occurrence relation + a tiny candidate set
    import org.apache.spark.sql.functions.{col, explode}
    val occ = graft.io.Tables.table(spark, sf0001, "documents")
      .select(explode(graft.functions.TextFns.tokens(col("text")))
        .as("token"))
    import spark.implicits._
    val cands = Seq("the", "and", "of").toDF("token")
    val p = SketchVerify.exactTopK(occ, cands, "token", 20)
      .queryExecution.explainString(ExplainMode.fromString("simple"))
    p should include("LeftSemi")
    p should include("TakeOrderedAndProject")
    p should not include "SortMergeJoin"
  }

  test("relational suite stays inside whole-stage codegen (no UDF breaks)") {
    Seq("q01_share_of_voice", "q05_having_min_support", "q06_predicates",
      "q08_join_broadcast").foreach { q =>
      val p = plan(q)
      p should include("codegen id") // formatted mode's codegen-span marker
      p should not include "BatchEvalPython"
    }
  }

  test("q126: the bloom probe is a codegen Filter on the semi-join's " +
    "PROBE side (below the join — clean shingles die map-side before " +
    "any exchange), not a ScalaUDF fence") {
    import org.apache.spark.sql.functions.col
    val docs = graft.io.Tables.table(spark, sf0001, "documents")
    val df = graft.text.Decontamination.contaminatedBloom(
      docs.filter(col("doc_id") >= 10), docs.filter(col("doc_id") < 10),
      "doc_id", "text", mat = graft.exec.Materializer.Passthrough)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    p should include("graft_might_contain")
    p should not include "ScalaUDF"
    p should not include "BatchEvalPython"
    // tree prints parents above children: the probe filter must sit
    // BELOW the confirming semi-join
    val joinAt = p.indexOf("LeftSemi")
    val probeAt = p.indexOf("graft_might_contain")
    joinAt should be >= 0
    probeAt should be > joinAt
  }

  test("q127: the candidate join is an equi-join on the 64-bit variant " +
    "hash, and the levenshtein verify runs BEFORE the pair distinct — " +
    "only survivors reach the dedup exchange") {
    import org.apache.spark.sql.functions.col
    val names = graft.io.Tables.table(spark, sf0001, "part")
      .select(col("p_name").as("name")).distinct()
    val df = Dedup.editDist1Pairs(names)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      .split("== Initial Plan ==")(0)
    // equi-join on vk (hash-partitionable); never a nested-loop fallback
    p should include("vk")
    p should not include "BroadcastNestedLoopJoin"
    p should not include "CartesianProduct"
    // the pair distinct aggregates the verified output columns, with the
    // levenshtein cut evaluated join-side (below the aggregate)
    val aggAt = p.indexOf("HashAggregate(keys=[name_a")
    val levAt = p.indexOf("levenshtein")
    aggAt should be >= 0
    levAt should be > aggAt
  }

  test("q145: the chunker is MAP-ONLY — no hash exchange, no join, no " +
    "aggregate; the only exchange is the output sort's range partitioning") {
    val p = plan("q145_chunk_overlap")
    p should not include "Exchange hashpartitioning"
    p should not include "HashAggregate"
    p should not include "Join"
    // (the output sort's range exchange is the only one in the plan,
    // but AQE collapses it at spec scale and the formatted dump repeats
    // operators — counting it is environment-dependent, the absences
    // above are the load-bearing pins)
  }

  test("q146: the leakage audit READS the pair artifact and never rejoins " +
    "the corpus — split labels are inline hash arithmetic on the pair side") {
    plan("q17_neardup_minhash") // ensure the per-process artifact exists
    val p = plan("q146_split_leakage")
    p should include("neardup_pair_index")
    // no join of any kind: the split label is a pure function of the id
    p should not include "Join"
    // no shingle re-derivation, no documents scan
    p should not include "arrays_zip"
    p should not include "documents"
    // one bounded rollup over the labeled pairs (distinct + census aggs)
    p should include("HashAggregate")
  }
}

package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

import graft.exec.Materializer

/** Reusable text-deduplication API over any (id, text) relation — the
  * library form of the q15/q16/q17 building blocks, for callers that want
  * "deduplicate this corpus" rather than a benchmark query. All stages are
  * the scale-shaped plans documented in graft.queries.Dedup: shuffle keys
  * are hashes, shingles build shuffle-free, Jaccard verification is
  * candidate-restricted below the aggregation.
  */
object TextDedup {

  /** Exact dedup: one survivor per byte-identical text (min id wins —
    * deterministic, unlike bare dropDuplicates). NULL-text rows are not
    * duplicates of each other (no content to compare) and all pass
    * through. Returns the surviving rows of `df`. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol)).as("graft_fp"))
      .agg(min(col(idCol)).as(idCol))
      .drop("graft_fp")
    df.filter(col(textCol).isNull)
      .unionByName(df.join(keep, Seq(idCol), "left_semi"))
  }

  /** Shared 3-token shingle relation (doc_id, s): lowercase whitespace
    * tokens, shingles via slice+arrays_zip (shuffle-free, codegen; no
    * higher-order lambdas, no per-doc window — see graft.queries.Dedup's
    * header for the measurements). NOT deduplicated: MinHash is
    * min-over-multiset, and Jaccard dedups only its restricted slice.
    * Single source of truth for Dedup / TextDedup / Decontamination. */
  private[graft] def shingleRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = graft.functions.TextFns.tokens(col(textCol))
    val n = greatest(size(toks) - 2, lit(0))
    val z = arrays_zip(
      slice(toks, lit(1), n), slice(toks, lit(2), n), slice(toks, lit(3), n))
    df.select(col(idCol).as("doc_id"), explode(z).as("g"))
      .select(col("doc_id"), concat_ws(" ", col("g").getField("0"),
        col("g").getField("1"), col("g").getField("2")).as("s"))
  }

  /** Per-pair shingle-set overlap stats (doc_a, doc_b, n_inter, na, nb)
    * for a candidate pair set — the common core under Jaccard
    * (symmetric) and containment (asymmetric) scoring, in the HASH
    * DOMAIN (the q118 verify representation): the shingle relation is
    * semi-joined down to candidate docs, each doc's distinct shingle
    * set becomes ONE sorted 56-bit-hash array row ([[hashArrays]]),
    * arrays attach to the pairs (broadcast under the doc-count gate,
    * shuffle past it — PairOverlapGateSpec forces both), and the
    * intersection is the allocation-free codegen IntersectCount merge.
    * Cost ∝ |pairs| rows carrying two ~n×8B arrays — versus the prior
    * pair-driven STRING expansion (|pairs| × shingles-per-doc exploded
    * rows + a semi-join over them), measured 40.0s → 24.3s cold q17 on
    * the 150k-doc family replica (2.79M candidates, identical verified
    * pair count). Values are
    * identical to string-set counting absent a 56-bit md5-half
    * collision WITHIN one pair's shingle union (~n²/2⁵⁷ ≈ 1e-13 per
    * pair); both engines' q118 precedent applies — and the DuckDB
    * oracles still count STRING sets, so the driver gate would surface
    * even that freak case rather than hide it. */
  private[graft] def pairOverlapPlan(sh: DataFrame, pairs: DataFrame,
      broadcastLimit: Long = 1L << 20): (DataFrame, Seq[DataFrame]) = {
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val ha = hashArrays(sh.join(candDocs, Seq("doc_id"), "left_semi"))
      .persist(MEMORY_AND_DISK)
    val h = broadcastUnder(ha, broadcastLimit)
    (overlapStats(pairs, h, h), Seq(ha))
  }

  /** The array-attach size gate (~0.5KB per doc ⇒ ~500MB at 2²⁰ docs);
    * past it the shuffle join IS the right plan. Passed as BOTH
    * [[overlapStats]] sides, ONE broadcast serves both (ReuseExchange). */
  private[graft] def broadcastUnder(arr: DataFrame, limit: Long): DataFrame =
    if (arr.count() <= limit) broadcast(arr) else arr

  /** The attach + intersect kernel: pairs (doc_a, doc_b) join each
    * side's [[hashArrays]]; the native IntersectCount merge yields (doc_a,
    * doc_b, n_inter, na, nb). A filter on na/nb is pushed below it. */
  private[graft] def overlapStats(pairs: DataFrame, arrA: DataFrame,
      arrB: DataFrame): DataFrame =
    pairs
      .join(arrA.select(col("doc_id").as("doc_a"),
        col("harr").as("__ha"), col("nsh").as("na")), "doc_a")
      .join(arrB.select(col("doc_id").as("doc_b"),
        col("harr").as("__hb"), col("nsh").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        org.apache.spark.sql.graft.SetExprs
          .intersectCount(col("__ha"), col("__hb")).as("n_inter"),
        col("na"), col("nb"))

  /** (doc_a, doc_b, jaccard) of an [[overlapStats]] relation, RAW, kept
    * at jaccard >= `threshold`. */
  private[graft] def jaccardAtLeast(overlap: DataFrame,
      threshold: Double): DataFrame = {
    val j = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter")).cast("double")
    overlap
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** (doc_a, doc_b, cont_a = |A∩B|/|A|, cont_b = |A∩B|/|B|) of an
    * [[overlapStats]] relation, RAW, kept when either reaches
    * `threshold`. */
  private[graft] def containmentAtLeast(overlap: DataFrame,
      threshold: Double): DataFrame = {
    val ca = col("n_inter").cast("double") / col("na").cast("double")
    val cb = col("n_inter").cast("double") / col("nb").cast("double")
    overlap
      .filter(greatest(ca, cb) >= threshold)
      .select(col("doc_a"), col("doc_b"), ca.as("cont_a"), cb.as("cont_b"))
  }

  /** Materialize a (plan, persisted intermediates) pair, then release. */
  private def cut(mat: Materializer, plan: (DataFrame, Seq[DataFrame])): DataFrame = {
    val out = mat(plan._1)
    plan._2.foreach(_.unpersist(blocking = false))
    out
  }

  /** Verified near-duplicate pairs (id_a < id_b, jaccard >= threshold):
    * MinHash r=2-band LSH candidates, co-shingle-count Jaccard verify.
    * `mat` picks the lineage-cut storage: the default Local is fastest
    * but not fault-tolerant — at cluster scale pass
    * Materializer.Reliable (or .Parquet) so executor loss doesn't abort
    * the whole pipeline. Materialization is always distributed: at
    * corpus scale the verified pair set is itself huge, and the cut is
    * required — self-join DAGs nest the upstream plan many times over,
    * so without it a re-dedup of a dedup output blows the plan tree up
    * exponentially. */
  def nearDuplicatePairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, numHashes: Int = 8,
      mat: Materializer = Materializer.Local): DataFrame =
    cut(mat, nearDuplicatePairsPlan(df, idCol, textCol, threshold, numHashes))

  /** Containment pairs (id_a < id_b): asymmetric shingle overlap —
    * cont_a = |A∩B|/|A|, cont_b = |A∩B|/|B| — kept when EITHER direction
    * reaches `threshold`. Catches a short document embedded in a long
    * one, which [[nearDuplicatePairs]]' symmetric Jaccard structurally
    * misses (the union term drowns the small side); the quote/copy
    * detector of the dedup family (q69). Candidates come from the same
    * MinHash LSH banding, so cost is ∝ candidates, never all-pairs —
    * note LSH recall is tuned to Jaccard, so for aggressive containment
    * mining at low Jaccard pair df-blocking (q69's rare-shingle scheme)
    * or a smaller band width is the production knob. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8, numHashes: Int = 8,
      mat: Materializer = Materializer.Local): DataFrame =
    cut(mat, lshScoredPlan(df, idCol, textCol, numHashes)(
      containmentAtLeast(_, threshold)))

  /** The un-materialized plan behind [[nearDuplicatePairs]], plus the
    * intermediates it persisted (caller must unpersist after acting on
    * the result). Exposed so PlanSpec can assert the physical shape,
    * which the mat() cut in the public API hides. */
  private[graft] def nearDuplicatePairsPlan(df: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.5,
      numHashes: Int = 8): (DataFrame, Seq[DataFrame]) =
    lshScoredPlan(df, idCol, textCol, numHashes)(jaccardAtLeast(_, threshold))

  /** Shingles → LSH candidates → overlap stats → `score`, plus what it
    * persisted. */
  private def lshScoredPlan(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int)(score: DataFrame => DataFrame)
      : (DataFrame, Seq[DataFrame]) = {
    require(numHashes % 2 == 0, "numHashes must be even (r=2 banding)")
    val (overlap, cached) = candidateOverlapPlan(
      shingleRows(df, idCol, textCol))(lshCandidates(_, numHashes))
    (score(overlap), cached)
  }

  /** Persist `shingles` and their `candidates` (LSH, or q35/q69's rare
    * blocking), then [[pairOverlapPlan]]; plus every persisted frame. */
  private[graft] def candidateOverlapPlan(shingles: DataFrame)(
      candidates: DataFrame => DataFrame): (DataFrame, Seq[DataFrame]) = {
    val sh = shingles.persist(MEMORY_AND_DISK)
    val cand = candidates(sh).persist(MEMORY_AND_DISK)
    val (overlap, cached) = pairOverlapPlan(sh, cand)
    (overlap, Seq(sh, cand) ++ cached)
  }

  /** MinHash r=2-band LSH candidate pairs (doc_a < doc_b, distinct) from
    * a shingle relation: per-doc signatures via one partial-agg groupBy,
    * band keys, bucket equi-join. Shared by the Jaccard and containment
    * paths. */
  private[graft] def lshCandidates(sh: DataFrame, numHashes: Int): DataFrame = {
    val banded = bandedSignatures(sh, numHashes)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** (doc_id, mh1..mhN) MinHash signatures of a shingle relation via one
    * partial-agg groupBy, double-hashed (graft.functions.TextFns: g_k =
    * (h1 + k·h2) mod 2^56 from ONE md5 per shingle row — 1 digest
    * instead of numHashes, and the agg state is N longs, not N 32-char
    * strings; the mod is load-bearing, see TextFns.Km56Mask).
    * The two-step select keeps the md5 in its own projection so it is
    * computed once per row (CollapseProject declines to inline a
    * non-cheap alias used twice). Single signature definition for
    * Dedup's q16 and every banding path. */
  private[graft] def minhashSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    import graft.functions.TextFns
    val hp = sh.select(col("doc_id"), md5(col("s")).as("m"))
      .select(col("doc_id"),
        TextFns.hash56(col("m"), 1).as("h1"), TextFns.hash56(col("m"), 15).as("h2"))
    // the & mask makes the family MODULAR — without it the upper g_k's
    // argmin collapses onto the smallest-h2 shingle and LSH band
    // precision degrades from j² toward j (TextFns.Km56Mask)
    val mins = (1 to numHashes).map(k =>
      min((col("h1") + lit(k.toLong) * col("h2"))
        .bitwiseAND(lit(TextFns.Km56Mask))).as(s"mh$k"))
    hp.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** r=2 band key over a signature: md5 of the two member hashes'
    * decimal renderings, '|'-separated (unambiguous, and BIGINT→VARCHAR
    * renders identically on Spark and DuckDB). */
  private[graft] def bandKeyCol(b: Int): Column =
    md5(concat(col(s"mh${2 * b - 1}").cast("string"), lit("|"),
      col(s"mh${2 * b}").cast("string")))

  /** (doc_id, band, bk) band-key rows of a shingle relation.
    * Shared by the self-join ([[lshCandidates]]) and the incremental
    * cross-relation bucket join. */
  private[graft] def bandedSignatures(sh: DataFrame, numHashes: Int): DataFrame = {
    val sig = minhashSignatures(sh, numHashes)
    sig.select(col("doc_id"),
      posexplode(array((1 to numHashes / 2).map(bandKeyCol): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bk"))
  }

  /** Per-doc sorted distinct 56-bit shingle-hash arrays (doc_id, harr,
    * nsh) from a shingle relation — the q118 verify representation: a
    * doc's whole shingle SET as one ~n×8B array row, pre-sorted so the
    * native codegen IntersectCount merge skips its sort. The incremental
    * verify runs on these instead of the pair-driven string expansion
    * (which costs |pairs|×shingles-per-doc exploded rows); at 525k 10×
    * candidates that swap measured 9.9s → sub-second. Strings leave the
    * plan at the md5 — every downstream exchange carries longs. */
  private[graft] def hashArrays(sh: DataFrame): DataFrame =
    sortedArrays(hashedShingles(sh))

  /** Distinct (doc_id, h = 56-bit md5 half) of a shingle relation. */
  private[graft] def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      graft.functions.TextFns.hash56(md5(col("s")), 1).as("h"))
      .distinct()

  /** (doc_id, harr, nsh) of a [[hashedShingles]] relation. */
  private[graft] def sortedArrays(hs: DataFrame): DataFrame =
    hs.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("h"))).as("harr"),
        count(lit(1)).as("nsh"))

  /** INCREMENTAL dedup — the daily-ingest shape: drop from `batch` every
    * document that (1) exactly duplicates an earlier batch document
    * (deterministic min-id survivor), (2) exactly duplicates any corpus
    * document (anti-join on the 32-byte content hash — the shuffle never
    * carries text), or (3) NEARLY duplicates a corpus document (MinHash
    * LSH candidates across the two sides, hash-array Jaccard >=
    * `threshold`). Returns the surviving batch rows.
    *
    * The corpus is never compared against ITSELF — its internal
    * duplicates are settled history — so per-ingest work is bounded by
    * the batch's shingles and its cross-candidates, not by corpus².
    * In production the corpus-side signatures/bands are a precomputed
    * materialized index (the q71 discipline); here they derive on the
    * fly from the corpus relation. Ids must be unique ACROSS both
    * inputs. Null-text batch rows survive (nothing to compare),
    * mirroring [[deduplicate]]; near-duplication WITHIN the batch is out
    * of scope — compose [[deduplicate]] over the batch first when one
    * ingest can near-duplicate itself. */
  def incrementalDeduplicate(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      numHashes: Int = 8, mat: Materializer = Materializer.Local): DataFrame =
    cut(mat, incrementalDeduplicatePlan(corpus, batch, idCol, textCol,
      threshold, numHashes))

  /** The un-materialized plan behind [[incrementalDeduplicate]], plus its
    * persisted intermediates (caller unpersists after acting on the
    * result). Exposed so PlanSpec can assert the anti-join cascade, which
    * the mat() cut in the public API hides. */
  private[graft] def incrementalDeduplicatePlan(corpus: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 8): (DataFrame, Seq[DataFrame]) = {
    val (tables, shC) = corpusTables(corpus, idCol, textCol, numHashes)
    val (result, cached) = incrementalCore(batch, idCol, textCol, threshold,
      numHashes, tables.toMap)
    (result, shC +: cached)
  }

  /** The corpus side of the incremental cascade — `hashes` (distinct
    * content md5s), `bands` (doc_id, band, bk), `harr` ([[hashArrays]])
    * — plus the persisted shingles they share (caller unpersists). One
    * derivation for the in-query corpus side and [[buildDedupIndex]]. */
  private def corpusTables(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int): (Seq[(String, DataFrame)], DataFrame) = {
    require(numHashes % 2 == 0, "numHashes must be even (r=2 banding)")
    val sh = shingleRows(docs, idCol, textCol).persist(MEMORY_AND_DISK)
    (Seq("hashes" -> docs.filter(col(textCol).isNotNull)
        .select(md5(col(textCol)).as("__ch")).distinct(),
      "bands" -> bandedSignatures(sh, numHashes),
      "harr" -> hashArrays(sh)), sh)
  }

  /** The shared incremental cascade against ANY corpus-side
    * representation (derived in-query or read from a materialized
    * index): exact-within-batch, exact-vs-corpus hash anti-join,
    * cross-band candidates, array-intersect verify, final anti-join.
    *
    * The verify (round 12, the q118 lesson): candidate pairs join each
    * side's pre-sorted 56-bit hash ARRAY ([[hashArrays]]), the PPJoin
    * length filter (min(na,nb) ≥ t·max — a necessary condition for
    * J ≥ t, so it only discards pairs that cannot pass) prunes before
    * any array work, and the intersection is the native codegen
    * IntersectCount merge — per-pair cost is one linear merge of two
    * small long arrays, replacing the pair-driven string expansion
    * whose exploded |pairs|×shingles-per-doc rows dominated the 10×
    * wall time (measured 9.9s → sub-second at 525k candidates). */
  private def incrementalCore(batch: DataFrame, idCol: String,
      textCol: String, threshold: Double, numHashes: Int,
      corpus: String => DataFrame): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    // (1) exact within batch: min-id survivor per content hash
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    val bx = batch.filter(col(textCol).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .unionByName(batch.filter(col(textCol).isNull))
    // (2) exact vs corpus: hash-only anti-join
    val bxx = bx.join(corpus("hashes"), md5(bx(textCol)) === col("__ch"), "left_anti")
      .persist(MEMORY_AND_DISK)
    // (3) near vs corpus: cross-banded candidates, array-intersect verify
    val shB = shingleRows(bxx, idCol, textCol).persist(MEMORY_AND_DISK)
    val pairs = bandedSignatures(shB, numHashes).as("a")
      .join(corpus("bands").as("b"),
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .persist(MEMORY_AND_DISK)
    val overlap = overlapStats(pairs, hashArrays(shB), corpus("harr"))
      // PPJoin length filter BEFORE the merge: J ≥ t forces
      // min(na,nb) ≥ t·max(na,nb)
      .filter(col("na") >= ceil(lit(threshold) * col("nb")) &&
        col("nb") >= ceil(lit(threshold) * col("na")))
    val dupIds = jaccardAtLeast(overlap, threshold)
      .select(col("doc_a").as(idCol)).distinct()
    val result = bxx.join(dupIds, Seq(idCol), "left_anti")
    (result, Seq(bxx, shB, pairs))
  }

  /** Materialize the corpus-side dedup index under `dir` as three parquet
    * tables — `hashes` (distinct content md5s), `bands` (doc_id, band,
    * bk), `harr` (doc_id, harr, nsh — the verify-side [[hashArrays]]) —
    * the artifact a production ingest keeps BETWEEN batches so each
    * increment pays only batch-side derivation ([[incrementalDeduplicate]]
    * re-derives all three per call). Rebuilding after corpus growth is
    * the corpus owner's compaction job; single-writer per dir. */
  def buildDedupIndex(corpus: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int = 8): Unit =
    writeDedupIndex(corpus, idCol, textCol, dir, numHashes, "overwrite")

  /** Append `docs` (typically a batch's dedup SURVIVORS) to a
    * [[buildDedupIndex]] artifact, so the NEXT increment also dedups
    * against them — the growing-corpus half of the ingest loop
    * (StreamingIncrementalDedupSpec drives it from foreachBatch).
    * Parquet append only; same single-writer-per-dir contract. */
  def appendToDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int = 8): Unit =
    writeDedupIndex(docs, idCol, textCol, dir, numHashes, "append")

  private def writeDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      dir: String, numHashes: Int, mode: String): Unit = {
    val (tables, sh) = corpusTables(docs, idCol, textCol, numHashes)
    tables.foreach { case (t, df) => df.write.mode(mode).parquet(s"$dir/$t") }
    sh.unpersist(blocking = false)
  }

  /** [[incrementalDeduplicate]] against a [[buildDedupIndex]] artifact:
    * identical semantics and results (TextDedupSpec pins the equality),
    * but the corpus side is READ, not derived — steady-state ingest cost
    * is the batch-side half. */
  def incrementalDeduplicateIndexed(indexDir: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      numHashes: Int = 8, mat: Materializer = Materializer.Local,
      // how index tables are read: plain read by default (an appendable
      // index dir must re-list per call); callers probing an IMMUTABLE
      // published artifact (q78) pass ArtifactStore.readPublished to
      // skip the per-call listing + footer-inference jobs
      read: (org.apache.spark.sql.SparkSession, String) => DataFrame =
        (s, p) => s.read.parquet(p)): DataFrame = {
    require(numHashes % 2 == 0, "numHashes must be even (r=2 banding)")
    cut(mat, incrementalCore(batch, idCol, textCol, threshold, numHashes,
      t => read(batch.sparkSession, s"$indexDir/$t")))
  }

  /** Collapse near-duplicate pairs into clusters by iterative min-label
    * propagation WITH POINTER JUMPING (connected components): each doc's
    * label converges to the min id in its component. Each round first
    * adopts the min label among a node and its neighbors (the standard
    * Spark CC label-exchange), then jumps each label through the label
    * of its label — so the distance a min label has traveled more than
    * doubles per round (d ← 2d+2) and iteration count is O(log longest
    * chain) instead of O(longest chain). Pair graphs from dedup are
    * near-cliques (1-2 rounds either way); the jump is what keeps a
    * pathological chain-shaped corpus from costing a shuffle per hop.
    * THROWS if the graph has not converged within maxIter rounds (a
    * silent partial clustering would return wrong survivors). Returns
    * (id, cluster_id). */
  def clusters(pairs: DataFrame, maxIter: Int = 50,
      mat: Materializer = Materializer.Local): DataFrame =
    clustersWithRounds(pairs, maxIter, mat)._1

  /** Broadcast-size gate for [[clustersAuto]]'s local fast path: 2^20
    * edges ≈ 16 MB of id pairs — the same order as Spark's own
    * broadcast-join threshold, and far above any realistic verified
    * near-dup pair count short of a pathological corpus. */
  val ClustersLocalLimit: Long = 1L << 20

  /** [[clusters]] with a size-gated LOCAL fast path. A verified near-dup
    * pair graph is almost always broadcast-sized relative to its corpus
    * (pair count ~ dup rate × corpus, and the verify already ran), and
    * a multi-round distributed fixpoint over a few thousand edges is
    * pure scheduler overhead — each round costs jobs, shuffles and
    * persists to move labels no bigger than a task's closure. So: count
    * the pairs (one job over the already-persisted verify output); at
    * most `localLimit` edges, collect the LONG id pairs and run
    * union-find with path compression on the driver (O(E α(E)), the
    * root kept at the component min so labels are IDENTICAL to the
    * distributed min-label fixpoint — spec-pinned), returning a plain
    * local-relation DataFrame; above the limit, run the distributed
    * [[clusters]] loop unchanged. The gate, not the caller, decides —
    * the same plan scales from a 290-edge sf0.1 graph to a 100 TB
    * corpus whose pair graph genuinely outgrows one machine. */
  def clustersAuto(pairs: DataFrame, maxIter: Int = 50,
      mat: Materializer = Materializer.Local,
      localLimit: Long = ClustersLocalLimit): DataFrame = {
    val p = pairs.persist(MEMORY_AND_DISK)
    val n = p.count()
    if (n > localLimit) {
      // clusters() materializes its result through mat() before
      // returning, so the gate's persist can be released immediately
      val r = clusters(p, maxIter, mat)
      p.unpersist(blocking = false)
      r
    } else {
      val edges = p
        .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
        .collect()
      p.unpersist(blocking = false)
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r) != r) r = parent.get(r)
        var c = x0 // path compression
        while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
        r
      }
      edges.foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        parent.putIfAbsent(a, a)
        parent.putIfAbsent(b, b)
        val (ra, rb) = (find(a), find(b))
        // union-by-min keeps every root at its component's min id —
        // the distributed loop's exact fixpoint
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
      val spark = pairs.sparkSession
      import scala.jdk.CollectionConverters._
      val rows = parent.keySet().asScala.toSeq
        .map(id => (id.longValue(), find(id.longValue())))
      import spark.implicits._
      rows.toDF("id", "cluster_id")
    }
  }

  /** Rounds between eager mat() plan cuts in the CC loop: the label
    * relation is referenced up to 4× by each round's plan, so the
    * logical tree grows ~4^k between cuts — k=4 bounds analysis at a few
    * thousand nodes while letting the common near-clique case (≤3
    * rounds) run on cheap lazy persists with zero extra jobs. */
  private val CC_CUT_EVERY = 4

  /** [[clusters]] plus the number of rounds it took — exposed (with the
    * jump toggle) so TextDedupSpec can pin that pointer jumping really
    * reduces rounds on a chain fixture. */
  private[graft] def clustersWithRounds(pairs: DataFrame, maxIter: Int = 50,
      mat: Materializer = Materializer.Local,
      pointerJump: Boolean = true): (DataFrame, Int) = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("cluster_id", col("id"))
      .persist(MEMORY_AND_DISK)
    // the persisted round to release once the next round is materialized
    var prevRound: Option[DataFrame] = Some(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // each node adopts the min label among itself and its neighbors.
      // The previous label rides along in the same relation, so the
      // convergence check is a filter over this iteration's materialized
      // result — no extra join+shuffle per round just to detect fixpoint.
      val fromNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster_id")).as("n_min"))
      val propagated = labels.join(fromNeighbors, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("prev"),
          least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
            .as("cluster_id"))
      // pointer jump: label ← label(label). Every label is the id of a
      // node in the same component (mins of node ids), so the lookup
      // self-join always hits; labels only decrease and never leave
      // the component, preserving the fixpoint (= component min).
      // Costs one extra equi-join per round, wins exponentially fewer
      // rounds on chains (covered distance d ← 2d+2 per round) — so it
      // is ADAPTIVE: the first two rounds run plain (dedup pair graphs
      // are near-cliques that converge by then, and the jump would be
      // pure overhead); a graph still unconverged at round 3 is
      // chain-shaped and gets the acceleration from there on.
      val roundTemp =
        if (pointerJump && i >= 2) Some(propagated.persist(MEMORY_AND_DISK))
        else None
      val stepped = roundTemp match {
        case None => propagated
        case Some(p) => p.as("x")
          .join(p.select(col("id").as("j_id"), col("cluster_id").as("j_lbl")).as("y"),
            col("x.cluster_id") === col("y.j_id"), "left")
          .select(col("x.id").as("id"), col("x.prev").as("prev"),
            coalesce(col("y.j_lbl"), col("x.cluster_id")).as("cluster_id"))
      }
      // most rounds end in a lazy persist (materialized by the
      // convergence count — one job per round); every CC_CUT_EVERY-th
      // round ends in an eager mat() LINEAGE CUT instead, which bounds
      // the otherwise-exponential logical-plan growth (~4^k between
      // cuts) and, under a Reliable/Parquet mat, is a durable restart
      // point at cluster scale. Cut-round block release is the
      // ContextCleaner's (the cut becomes unreachable next round).
      val cutRound = i % CC_CUT_EVERY == CC_CUT_EVERY - 1
      val next = if (cutRound) mat(stepped) else stepped.persist(MEMORY_AND_DISK)
      val changed =
        next.filter(col("cluster_id") =!= col("prev")).limit(1).count()
      roundTemp.foreach(_.unpersist(blocking = false))
      prevRound.foreach(_.unpersist(blocking = false))
      prevRound = if (cutRound) None else Some(next)
      labels = next.select(col("id"), col("cluster_id"))
      converged = changed == 0
      i += 1
    }
    edges.unpersist(blocking = false)
    if (!converged) {
      prevRound.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"clusters() did not converge in $maxIter rounds — the pair graph " +
          "has a chain longer than maxIter; raise maxIter")
    }
    // final cut: the result must survive the prevRound unpersist and cut
    // lineage for downstream self-joins (one row per doc in any pair —
    // potentially huge, never collected). Skipped when the last round
    // already ended in a mat() cut (prevRound None) — labels is then a
    // trivial select over the cut relation and re-cutting would just
    // duplicate the materialization.
    val out = if (prevRound.isEmpty) labels else mat(labels)
    prevRound.foreach(_.unpersist(blocking = false))
    (out, i)
  }

  /** [[deduplicate]] against a PRECOMPUTED verified near-dup pair
    * relation (doc_a, doc_b, ...) derived over a SUPERSET of `df`'s rows
    * — the artifact form of fuzzy dedup: the exact pass still runs, and
    * the expensive shingle→MinHash→LSH→Jaccard derivation is replaced by
    * restricting `pairs` to the exact survivors. Sound because a doc's
    * signature/bands depend only on its own text and jaccard(a,b) only
    * on the two texts: pairs(S) = pairs(full) ∩ S×S for any id subset S,
    * so the restricted artifact is bit-identical to a from-scratch
    * derivation over the survivors (TextDedupSpec pins the equality
    * against [[deduplicate]]). The restriction is two hash semi-joins
    * keyed on ids — pair-count-sized, never corpus² — so at 100 TB the
    * steady-state cost is the exact pass plus clustering. */
  def deduplicateWithPairs(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, mat: Materializer = Materializer.Local): DataFrame = {
    val exactKept = exact(df, idCol, textCol).persist(MEMORY_AND_DISK)
    val ids = exactKept.select(col(idCol))
    val restricted = pairs
      .join(ids.withColumnRenamed(idCol, "doc_a"), Seq("doc_a"), "left_semi")
      .join(ids.withColumnRenamed(idCol, "doc_b"), Seq("doc_b"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
    val out = dropClusterLosers(exactKept, idCol, restricted, mat)
    exactKept.unpersist(blocking = false)
    out
  }

  /** Drop from `kept` every doc whose `pairs` cluster has a smaller id. */
  private def dropClusterLosers(kept: DataFrame, idCol: String,
      pairs: DataFrame, mat: Materializer): DataFrame = {
    val cl = clustersAuto(pairs, mat = mat)
    val losers = cl.filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    val out = mat(kept.join(losers, Seq(idCol), "left_anti"))
    cl.unpersist(blocking = false)
    out
  }

  /** Full fuzzy dedup: exact dedup first (so byte-identical docs collapse
    * regardless of length — docs under 3 tokens produce no shingles and
    * would otherwise never enter LSH), then drop every remaining doc that
    * shares a near-dup cluster with a smaller id. The exact pass is also
    * the cheap standard pre-filter: it shrinks the corpus the expensive
    * LSH stage sees. Returns the surviving rows of `df`. `mat` picks the
    * lineage-cut storage for every stage (see [[nearDuplicatePairs]]) —
    * at cluster scale pass Materializer.Reliable/.Parquet so one lost
    * executor doesn't restart the ~15-job pipeline from zero. */
  def deduplicate(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5,
      mat: Materializer = Materializer.Local): DataFrame = {
    val exactKept = exact(df, idCol, textCol)
      .persist(MEMORY_AND_DISK)
    val pairs = nearDuplicatePairs(exactKept, idCol, textCol, threshold, mat = mat)
    val out = dropClusterLosers(exactKept, idCol, pairs, mat)
    Seq(pairs, exactKept).foreach(_.unpersist(blocking = false))
    out
  }
}

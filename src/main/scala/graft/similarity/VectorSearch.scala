package graft.similarity

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CentroidExprs, CentroidSet}

import graft.functions.VectorFns._

/** Reusable similarity-search API over any (id, embedding) relation — the
  * library form of the q20/q36 building blocks. Scoring runs through the
  * native codegen dot product (org.apache.spark.sql.graft.DotProduct);
  * the corpus never shuffles for scoring — queries (or the centroid
  * codebook) broadcast instead.
  */
object VectorSearch {

  /** Normalize: project (id, vec<double>, norm). */
  private def normed(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("vec_id"), toDoubleArray(col(vecCol)).as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** Exact brute-force cosine top-k: every query scored against the whole
    * corpus (the recall ceiling; O(|corpus|·|queries|) — use ivfTopK for
    * large query sets). Returns (q_id, rank, neighbor, cosine). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val n = normed(corpus, idCol, vecCol)
    val qs = normed(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    exactTopK(n.crossJoin(broadcast(qs)), k)
  }

  /** Exact cosine top-k over candidate pairs (vec_id, v, nrm) ×
    * (q_id, qv, qn), self excluded: (q_id, rank, neighbor, cosine). */
  private def exactTopK(cand: DataFrame, k: Int): DataFrame =
    topKPerProbe(cand.filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("neighbor"),
          cosine(col("v"), col("qv"), col("nrm"), col("qn")).as("cosine")),
      "cosine", k)
      .select(col("q_id"), col("rank"), col("neighbor"), col("cosine"))

  /** The per-probe top-k ranking rule every search, serve, ground truth
    * and sweep shares: within each (`keys`…, q_id) partition, `score`
    * descending with the smaller `neighbor` first on ties, numbered as
    * a BIGINT `rank` (row_number: 1..n, no gaps) and kept while
    * rank <= k. Returns `scored` with `rank` appended. */
  private[graft] def topKPerProbe(scored: DataFrame, score: String, k: Int,
      keys: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy((keys :+ "q_id").map(col): _*)
      .orderBy(col(score).desc, col("neighbor").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** IVF-style approximate top-k: assign corpus vectors to a broadcast
    * centroid codebook (nearest-centroid cell), then search only each
    * query's `nprobe` nearest cells. `nprobe` is IVF's recall/cost dial:
    * 1 = cheapest, |centroids| = exhaustive (provably identical to
    * bruteForceTopK, see VectorSearchSpec). `centroids` must be small
    * enough to broadcast — at scale it is the trained coarse quantizer.
    * `mat` picks the lineage-cut storage for the distributed result
    * (never a driver collect: queries×k rows can be large when the
    * query set is) — default Local; pass Materializer.Reliable/.Parquet
    * on a cluster so the cut survives executor loss. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 1,
      mat: graft.exec.Materializer = graft.exec.Materializer.Local): DataFrame =
    mat(ivfTopKPlan(corpus, queries, centroids, idCol, vecCol, k, nprobe))

  /** The assignment/probe ranking score in integer MICRO-units:
    * floor(cos·10⁶ + 0.5) — the Q.cents construction (pure IEEE double
    * arithmetic, bit-identical in both engines; the retired 6dp `round`
    * depended on each engine's decimal-rounding path). Oracle twin:
    * `CAST(floor(cosExpr * 1000000.0 + 0.5) AS BIGINT)`. */
  private[graft] def scoreMu(cos: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(cos * lit(1000000.0) + lit(0.5)).cast("long")

  /** Nearest-cell (argmax) assignment of every vector in normed `n`
    * (vec_id, v, nrm) against centroids `cents` (c_id, cv, cn): max
    * micro-unit cosine score ([[scoreMu]]), min-c_id tie-break —
    * engine-independent. Implemented as the NATIVE map-side expression
    * [[org.apache.spark.sql.graft.NearestCentroid]]: the codebook
    * (bounded by [[CentroidBudget]] — collected here, ≤ ~34 MB) ships
    * as a TorrentBroadcast and each row is assigned by a fused k×dim
    * primitive loop INSIDE the scan stage — no row expansion, no
    * aggregate, no sort, no exchange. The crossJoin→partial-max_by shape
    * this replaces forced a SortAggregate that sorted the n×k expansion
    * carrying the vectors (AnnScaleProbe: 124.8 s for 200k × 448; this
    * path does the same 89.6 M dot products map-side in seconds).
    * Returns (vec_id, v, nrm, c_id). */
  private[graft] def assignCells(n: DataFrame, cents: DataFrame): DataFrame =
    n.select(col("vec_id"), col("v"), col("nrm"), CentroidExprs.nearestCentroid(
      broadcastCentroids(cents), col("v"), col("nrm")).as("c_id"))

  /** Collects a centroid relation (c_id, cv, cn) — bounded by
    * [[CentroidBudget]] — and broadcasts it as the native expressions'
    * centroid set. */
  private[graft] def broadcastCentroids(cents: DataFrame)
      : Broadcast[CentroidSet] = {
    val rows = cents.select(col("c_id").cast("long"), col("cv"), col("cn"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    cents.sparkSession.sparkContext.broadcast(
      CentroidExprs.centroidSet(rows.toSeq))
  }

  /** The `nprobe` nearest cells per QUERY vector in normed `queries`
    * (vec_id, v, nrm), same (score desc, c_id asc) rule over the same
    * [[scoreMu]] micro-units (probe and assignment MUST rank identically
    * or a corpus-member query could probe a different cell than it was
    * assigned to). An argmax can't produce a top-k, so this stays a
    * collect+sort+slice aggregate over the crossJoin — it only ever runs
    * over the query subset, so the k-entry pre-slice buffers are bounded
    * by design; the full corpus never takes this path. Emits one
    * (q_id, qv, qn, qcell) row per probed cell. */
  private[graft] def probeCells(queries: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame =
    queries.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(
        slice(array_sort(collect_list(struct(
          (-scoreMu(cosine(col("v"), col("cv"), col("nrm"), col("cn"))))
            .as("ns"),
          col("c_id")))), 1, nprobe).as("cells"),
        first(col("v")).as("v"),
        first(col("nrm")).as("nrm"))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), explode(col("cells.c_id")).as("qcell"))

  /** The un-materialized plan behind [[ivfTopK]] (single-consumer
    * throughout, so nothing is persisted). Exposed so PlanSpec can
    * assert the broadcast-codebook shape, which the localCheckpoint in
    * the public API hides. */
  private[graft] def ivfTopKPlan(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val n = normed(corpus, idCol, vecCol)
    val cents = normed(centroids, idCol, vecCol)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val assigned = assignCells(n, cents)
    // queries are assigned to cells from their OWN vectors (same
    // nearest-centroid rule as the corpus) — queries need not be corpus
    // members, matching bruteForceTopK's contract. One (q, cell) row per
    // probed cell: cells partition the corpus, so probing more cells
    // unions disjoint candidate sets — no neighbor dedup needed.
    val qs = probeCells(normed(queries, idCol, vecCol), cents, nprobe)
    exactTopK(assigned.join(broadcast(qs), col("c_id") === col("qcell")), k)
  }

  /** Convenience: deterministic id-ring codebook for corpora without a
    * trained quantizer (every id ≡ 0 mod `mod`). CAUTION — a modulus
    * codebook's cardinality tracks the corpus LINEARLY (|cents| = n/mod):
    * the broadcast grows without bound and flat assignment degenerates to
    * n²/mod dot products. Prefer [[derivedK]]-sized codebooks (q36's
    * construction) or [[trainCodebook]] for anything that scales. */
  def ringCentroids(corpus: DataFrame, idCol: String, mod: Int): DataFrame =
    corpus.filter(col(idCol) % mod === 0)

  /** Default coarse-quantizer size ceiling: 2^16 centroids ≈ 34 MB of
    * 64-dim doubles — comfortably broadcastable, and the flat-assignment
    * cost past the cap is n·2^16 dot products, the standard large-scale
    * IVF shape (FAISS-style indexes cap their coarse codebooks the same
    * way). */
  val CentroidBudget: Long = 1L << 16

  /** The coarse-quantizer size rule: k = min(budget, ceil(sqrt(n))),
    * floored at 1. k ≈ √n balances the two costs a flat IVF pays —
    * assignment (n·k dot products) and per-probe cell scans (n/k rows) —
    * so both grow as n^1.5 until the budget caps k, after which the
    * centroid broadcast and the per-vector assignment work are CONSTANT
    * in the corpus size. A codebook whose size tracks the corpus
    * linearly (the retired vec_id-modulus construction) fails both ways
    * at once: the broadcast grows to an executor OOM and assignment is
    * quadratic. Pure function of (n, budget) so the DuckDB oracle can
    * mirror it with least(budget, ceil(sqrt(count(*)))). */
  def derivedK(n: Long, budget: Long = CentroidBudget): Int = {
    require(budget >= 1, s"centroid budget must be >= 1, got $budget")
    val root = math.ceil(math.sqrt(math.max(n, 0L).toDouble)).toLong
    math.max(1L, math.min(budget, root)).toInt
  }

  /** Train a coarse quantizer: spark.ml KMeans over L2-NORMALIZED input
    * vectors, fixed seed for reproducibility. Normalizing the inputs
    * makes the fit an APPROXIMATION of spherical k-means (centers are
    * means of unit vectors but are not re-normalized each iteration, so
    * the euclidean training assignment is not exactly the cosine order);
    * at search time this does not matter for consistency — [[ivfTopK]]
    * assigns cells by cosine, which is invariant to center norms — it
    * only means the cell boundaries are near-, not exactly-, spherical.
    * Returns a (idCol, vecCol) centroid DataFrame that plugs straight
    * into [[ivfTopK]]. At 100 TB this fits on a SAMPLE of the corpus
    * (KMeans cost is per-iteration linear in rows); the codebook stays
    * k × dim doubles — always broadcastable. The training input is
    * coalesced to `trainPartitions`: KMeans runs ~4·maxIter tiny jobs
    * (init steps + Lloyd iterations), and a train-sized relation spread
    * over corpus-sized partitioning pays per-job task-scheduling
    * overhead ~partitions times over — size it to the sample, not the
    * corpus.
    *
    * `normalize = false` fits RAW euclidean k-means instead — the PQ
    * sub-codebook case (q142): subspace slices are quantized by plain
    * squared-L2 geometry, and unit-normalizing an 8-dim slice would
    * train centers for a sphere the data does not live on. */
  def trainCodebook(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 10, seed: Long = 42L,
      trainPartitions: Int = 8, initMode: String = "k-means||",
      normalize: Boolean = true): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.feature.Normalizer
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.sql.types._
    val spark = corpus.sparkSession
    val raw = corpus.select(
      array_to_vector(toDoubleArray(col(vecCol))).as("raw"))
      .coalesce(trainPartitions)
    val feats =
      if (normalize)
        new Normalizer().setP(2.0)
          .setInputCol("raw").setOutputCol("features").transform(raw)
      else raw.withColumnRenamed("raw", "features")
    val model = new KMeans().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setInitMode(initMode).setFeaturesCol("features").fit(feats)
    import scala.jdk.CollectionConverters._
    val rows = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i.toLong, c.toArray.toSeq)
    }.toSeq.asJava
    val schema = StructType(Seq(
      StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Idempotent codebook materialization: [[trainCodebook]] + parquet
    * write, but ONLY when `path` holds no codebook built for this
    * `cacheKey` (corpus source-file identity is the intended staleness
    * key) — otherwise the artifact is reused in place. Delegates to
    * [[graft.exec.ArtifactStore.ensureAt]], so staleness (key in the
    * `_GRAFT_OK` marker), publish atomicity / marker-last object-store
    * mode, GC liveness and race repair are the store's one contract
    * rather than a caller-managed sidecar. Returns true when a
    * (re)train happened. Output columns: (c_id BIGINT,
    * cv ARRAY<DOUBLE>), single file (a codebook is k × dim doubles —
    * always tiny). */
  def ensureCodebook(train: DataFrame, idCol: String, vecCol: String,
      k: Int, maxIter: Int, path: String, cacheKey: String): Boolean = {
    // the training parameters are part of the staleness key — a caller
    // that bumps k must never silently reuse old-k geometry
    val fullKey = s"$cacheKey|k=$k|maxIter=$maxIter"
    val family = new org.apache.hadoop.fs.Path(path).getName
    graft.exec.ArtifactStore.ensureAt(train.sparkSession, family, fullKey,
      at = Some(path)) { buildPath =>
      trainCodebook(train, idCol, vecCol, k, maxIter)
        .select(col(idCol).as("c_id"), col(vecCol).as("cv"))
        .coalesce(1).write.mode("overwrite").parquet(buildPath)
    }
  }

  /** Build a two-level codebook on the driver (inputs are bounded by
    * [[CentroidBudget]] by construction): `supers` must be a PREFIX
    * subset of `cents` (q133 uses the first ceil(√k) of the md5-order
    * codebook); every non-super centroid joins its nearest super's
    * group by the same micro-unit score + min-id rule the expression
    * applies per row, and a super always anchors its own group — so no
    * group is empty even when replica corpora carry byte-identical
    * centroid vectors under different ids. Per-row assignment cost
    * through [[org.apache.spark.sql.graft.NearestCentroidTwoLevel]] is
    * s + |group| ≈ 2√k dot products instead of k. */
  def groupedCodebook(cents: Seq[(Long, Array[Double], Double)],
      supers: Seq[(Long, Array[Double], Double)])
      : org.apache.spark.sql.graft.GroupedCentroidSet = {
    import org.apache.spark.sql.graft.GroupedCentroidSet
    val sSorted = supers.sortBy(_._1).toArray
    val superIdSet = sSorted.map(_._1).toSet
    val sIdx = sSorted.map(_._1).zipWithIndex.toMap
    val members = Array.fill(sSorted.length)(
      scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)])
    cents.foreach { case c @ (cid, cv, cn) =>
      if (superIdSet(cid)) members(sIdx(cid)) += c
      else {
        var bestMu = Long.MinValue
        var best = 0
        var k = 0
        while (k < sSorted.length) {
          val (_, sv, sn) = sSorted(k)
          val n = math.min(cv.length, sv.length)
          var s = 0.0
          var i = 0
          while (i < n) { s += cv(i) * sv(i); i += 1 }
          val mu = math.floor(s / (cn * sn) * 1000000.0 + 0.5).toLong
          if (mu > bestMu) { bestMu = mu; best = k } // asc scan: min id ties
          k += 1
        }
        members(best) += c
      }
    }
    GroupedCentroidSet(sSorted.map(_._1), sSorted.map(_._2),
      sSorted.map(_._3), members.map(b => CentroidExprs.centroidSet(b.toSeq)))
  }

  /** Load-and-search helper over the testdata embeddings table. */
  def searchTestdata(spark: SparkSession, sfDir: String, k: Int): DataFrame = {
    val emb = graft.io.Tables.table(spark, sfDir, "embeddings")
    bruteForceTopK(emb, emb.filter(col("vec_id") % 53 === 0), "vec_id", "embedding", k)
  }
}

package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.exec.ArtifactStore

/** The round-16 durable-ANN-evaluation contract: exact ground truth and
  * the nprobe curve live in the ArtifactStore (source-identity staleness
  * keys — regenerating the corpus under the SAME directory must rebuild,
  * the defect the retired dir-string TrieMap had), and the bit-packed
  * ivfpq_index artifact serves bitwise-identically to the inline
  * row-form construction it replaced (q135 full-scan, q136/q151
  * cell-restricted, packed word round trip). */
class AnnArtifactSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val sf = sf0001

  private def withRoot[A](f: String => A): A = {
    val dir = Files.createTempDirectory("graft-ann-store").toFile.getAbsolutePath
    ArtifactStore.setRootForTest(Some(dir))
    try f(dir)
    finally ArtifactStore.setRootForTest(None)
  }

  /** A tiny deterministic corpus written as `<dir>/embeddings.parquet`
    * (the testdata physical shape): 64-dim float vectors from a seeded
    * LCG, ids offset by `idBase` so two generations differ. */
  private def writeCorpus(dir: String, idBase: Long, rows: Int): Unit = {
    import spark.implicits._
    var seed = 0x5EED + idBase
    def next(): Float = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0).toFloat
    }
    (0 until rows).map { i =>
      (idBase + i, Array.fill(64)(next()), (i % 3))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Independent exact ground truth: brute-force per-probe top-10 by
    * 4dp cosine with neighbor tie-break, probes = the full-corpus
    * md5-order sample (the ann_gt_pq construction), driver-side. */
  private def refGroundTruth(dir: String): Set[(Long, Long)] = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val probes = rows
      .sortBy { case (id, _) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id)
      }
      .take(32)
    probes.flatMap { case (qId, qv) =>
      rows.filter(_._1 != qId)
        .map { case (id, v) =>
          val cos = v.zip(qv).map { case (a, b) => a * b }.sum /
            (nrm(v) * nrm(qv))
          (id, BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP))
        }
        .sortBy { case (id, c) => (-c, id) }
        .take(10)
        .map { case (id, _) => (qId, id) }
    }.toSet
  }

  test("ground-truth artifact is durable, correct, and rebuilds when " +
    "the corpus under the same dir is regenerated (staleness key)") {
    withRoot { root =>
      val dir = Files.createTempDirectory("graft-ann-corpus")
        .toFile.getAbsolutePath
      writeCorpus(dir, idBase = 0L, rows = 120)
      val gt1 = Similarity.pqGroundTruth(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      gt1 shouldBe refGroundTruth(dir)

      // same process, same dir: served from the store, same bytes
      val gt1b = Similarity.pqGroundTruth(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      gt1b shouldBe gt1

      // REGENERATE the corpus under the same directory; a fresh process
      // (memo cleared, same store root) must re-key off the new file
      // identity and rebuild — not serve generation A's pairs
      writeCorpus(dir, idBase = 10000L, rows = 120)
      ArtifactStore.setRootForTest(Some(root))
      val gt2 = Similarity.pqGroundTruth(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      gt2 should not be gt1
      gt2 shouldBe refGroundTruth(dir)
    }
  }

  test("nprobe curve artifact: one elected row, elected depth readable, " +
    "and regeneration under the same dir rebuilds the curve") {
    withRoot { root =>
      val dir = Files.createTempDirectory("graft-ann-corpus2")
        .toFile.getAbsolutePath
      writeCorpus(dir, idBase = 0L, rows = 200)
      val curve1 = Similarity.nprobeCurve(spark, dir).collect()
      curve1.map(_.getAs[Long]("nprobe")).toSeq shouldBe Seq(1L, 2L, 4L, 8L)
      curve1.count(_.getAs[Long]("chosen") == 1L) shouldBe 1
      val elected = Similarity.electedNprobe(spark, dir)
      curve1.find(_.getAs[Long]("chosen") == 1L)
        .get.getAs[Long]("nprobe") shouldBe elected.toLong

      writeCorpus(dir, idBase = 50000L, rows = 200)
      ArtifactStore.setRootForTest(Some(root))
      val curve2 = Similarity.nprobeCurve(spark, dir).collect()
      // recall arithmetic fields must reflect generation B, not a stale
      // generation-A curve (total_candidates tracks the new cells)
      curve2.map(_.toSeq).toSeq should not be curve1.map(_.toSeq).toSeq
    }
  }

  test("packed code word round-trips: unpack(pack(codes)) == codes for " +
    "every corpus vector") {
    withRoot { _ =>
      val n = Similarity.normed(spark, sf)
      val bc = spark.sparkContext.broadcast(Similarity.pqCodebook(n))
      val codes = transform(
        org.apache.spark.sql.graft.PqExprs.pqEncode(bc, col("v")),
        s => s.getField("code"))
      val bad = n.select(col("vec_id"), codes.as("codes"))
        .withColumn("rt", Similarity.unpackCodes(Similarity.packCodes(col("codes"))))
        .filter(col("codes") =!= col("rt"))
        .count()
      bad shouldBe 0L
    }
  }

  test("packed-index full-scan ADC serve is bitwise-identical to the " +
    "inline row-form serve (the q135 shapes)") {
    withRoot { _ =>
      val n = Similarity.normed(spark, sf)
      val cb = Similarity.pqCodebook(n)
      val bcCb = spark.sparkContext.broadcast(cb)
      val probes = Similarity.pqProbes(n)
      val coded = n.select(col("vec_id"), col("nrm"),
        transform(org.apache.spark.sql.graft.PqExprs.pqEncode(bcCb, col("v")),
          s => s.getField("code")).as("codes"))
      val inline = Similarity.pqAdcServe(coded, probes, cb).collect().toSeq
      val packed = Similarity.pqAdcServePacked(
        Similarity.ivfPqIndex(spark, sf), probes, cb).collect().toSeq
      packed shouldBe inline
    }
  }

  test("cell-restricted packed serve at nprobe=1 equals an independent " +
    "own-cell row-form construction (the q136 identity), and at " +
    "nprobe=2 an independent two-cell construction (the q151 shape)") {
    withRoot { _ =>
      val n = Similarity.normed(spark, sf)
      val cents = Similarity.boundedCents(n)
      val cb = Similarity.pqCodebook(n)
      val bcCb = spark.sparkContext.broadcast(cb)
      val probes = Similarity.pqProbes(n)
      val bcLut = Similarity.pqLutBroadcast(probes, cb)
      val assigned = graft.similarity.VectorSearch.assignCells(n, cents)
      val coded = assigned.select(col("vec_id"), col("nrm"), col("c_id"),
        transform(org.apache.spark.sql.graft.PqExprs.pqEncode(bcCb, col("v")),
          s => s.getField("code")).as("codes"))
      def inlineServe(nprobe: Int): Seq[Row] = {
        val qs = graft.similarity.VectorSearch.probeCells(
            probes.select(col("q_id").as("vec_id"), col("qv").as("v"),
              col("qn").as("nrm")), cents, nprobe)
          .select(col("q_id"), col("qn"), col("qcell"))
        val wRank = Window.partitionBy(col("q_id"))
          .orderBy(col("adc_mu").desc, col("neighbor").asc)
        coded.join(broadcast(qs), col("c_id") === col("qcell"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("num", org.apache.spark.sql.graft.PqExprs
            .pqAdcNum(bcLut, col("q_id"), col("codes")))
          .withColumn("adc_mu",
            floor(col("num") / (col("qn") * col("nrm")) * lit(1000000.0)
              + lit(0.5)).cast("long"))
          .select(col("q_id"), col("vec_id").as("neighbor"), col("adc_mu"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= 10)
          .select(col("q_id"), col("rank"), col("neighbor"), col("adc_mu"))
          .orderBy(col("q_id"), col("rank")).collect().toSeq
      }
      Similarity.ivfPqServe(spark, sf, nprobe = 1).collect().toSeq shouldBe
        inlineServe(1)
      Similarity.ivfPqServe(spark, sf, nprobe = 2).collect().toSeq shouldBe
        inlineServe(2)
    }
  }

  test("width-elected packed index: the full-width entry is the same " +
    "artifact as the default construction, and narrow-width entries " +
    "serve bitwise-identically to the inline prefix-codebook serve " +
    "(the q155 shapes)") {
    withRoot { _ =>
      // full width resolves to the SAME (family, key) → same files
      val full = Similarity.ivfPqIndex(spark, sf)
      val fullW = Similarity.ivfPqIndex(spark, sf, Similarity.PQ_KSUB)
      fullW.inputFiles.sorted.toSeq shouldBe full.inputFiles.sorted.toSeq

      val n = Similarity.normed(spark, sf)
      val probes = Similarity.pqProbes(n)
      for (w <- Seq(4, 8)) {
        val cbW = Similarity.prefixCodebook(n, w)
        val bcW = spark.sparkContext.broadcast(cbW)
        val coded = n.select(col("vec_id"), col("nrm"),
          transform(
            org.apache.spark.sql.graft.PqExprs.pqEncode(bcW, col("v")),
            s => s.getField("code")).as("codes"))
        val inline = Similarity.pqAdcServe(coded, probes, cbW)
          .collect().toSeq
        val packed = Similarity.pqAdcServePacked(
          Similarity.ivfPqIndex(spark, sf, w), probes, cbW)
          .collect().toSeq
        packed shouldBe inline
      }
    }
  }

  test("q157 production composition: q157 equals q153 row for row " +
    "EXACTLY WHEN the width election lands full and the geometry " +
    "election lands raw — and on the current corpora both outcomes " +
    "occur across scales (sf0.001 elects residual, sf0.01 elects raw), " +
    "so both sides of the conditional are exercised") {
    withRoot { _ =>
      // documents the expectation the equality rests on — if testdata
      // regeneration ever lets a narrower width clear 8000 bp, this
      // trips first and the equality below becomes conditional
      Similarity.electedWidth(spark, sf) shouldBe Similarity.PQ_KSUB
      val prod = Registry.queries("q157_ann_production")(spark, sf)
        .collect().toSeq
      val rerank = Registry.queries("q153_ivfpq_rerank")(spark, sf)
        .collect().toSeq
      prod should not be empty
      if (Similarity.electedGeometry(spark, sf) == "raw") {
        prod shouldBe rerank
      } else {
        // residual elected (sf0.001's isotropic tail makes residual
        // recall win at this scale): q157 must serve the residual
        // branch, which genuinely diverges from q153's raw shortlist
        prod should not be rerank
        prod shouldBe Similarity.productionServeAt(spark, sf, "resid")
          .collect().toSeq
      }
    }
  }

  /** Independent inline row-form construction of q158's serve over
    * whatever trained quantizer bytes are CURRENTLY persisted at the
    * fixed paths: trained centers + trained PQ codes as long-typed
    * rows, cell-restricted ADC at nprobe = 2. The q158 parity and
    * staleness tests both diff the registered (index-cached) serve
    * against this live-bytes derivation. */
  private def inlineTrainedServe(dir: String): Seq[Row] = {
    import org.apache.spark.sql.graft.PqExprs
    val n = Similarity.normed(spark, dir)
    val cents = spark.read.parquet(Similarity.TrainedCentroidsPath)
      .select(col("c_id"), col("cv"))
      .withColumn("cn", graft.functions.VectorFns.l2norm(col("cv")))
    val cb = org.apache.spark.sql.graft.PqCodebook(8, 16, 8,
      spark.read.parquet(Similarity.TrainedPqPath)
        .orderBy(col("c_id")).collect()
        .map(_.getSeq[Double](1).toArray))
    val bcCb = spark.sparkContext.broadcast(cb)
    val probes = Similarity.pqProbes(n)
    val bcLut = Similarity.pqLutBroadcast(probes, cb)
    val assigned = graft.similarity.VectorSearch.assignCells(n, cents)
    val coded = assigned.select(col("vec_id"), col("nrm"), col("c_id"),
      transform(PqExprs.pqEncode(bcCb, col("v")),
        s => s.getField("code")).as("codes"))
    val qs = graft.similarity.VectorSearch.probeCells(
        probes.select(col("q_id").as("vec_id"), col("qv").as("v"),
          col("qn").as("nrm")), cents, nprobe = 2)
      .select(col("q_id"), col("qn"), col("qcell"))
    val wRank = Window.partitionBy(col("q_id"))
      .orderBy(col("adc_mu").desc, col("neighbor").asc)
    coded.join(broadcast(qs), col("c_id") === col("qcell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("num", PqExprs.pqAdcNum(bcLut, col("q_id"), col("codes")))
      .withColumn("adc_mu",
        floor(col("num") / (col("qn") * col("nrm")) * lit(1000000.0)
          + lit(0.5)).cast("long"))
      .select(col("q_id"), col("vec_id").as("neighbor"), col("adc_mu"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("rank"), col("neighbor"), col("adc_mu"))
      .orderBy(col("q_id"), col("rank")).collect().toSeq
  }

  test("geometry election (q165 → q157): two curve rows with exactly " +
    "one chosen (ties to raw), BOTH production branches equal their " +
    "compositional definitions, and q157 serves the elected branch") {
    withRoot { _ =>
      val curve = Similarity.geometryCurve(spark, sf).collect()
      curve.map(_.getString(0)).toSeq shouldBe Seq("raw", "resid")
      curve.count(_.getAs[Long]("chosen") == 1L) shouldBe 1
      val elected = Similarity.electedGeometry(spark, sf)
      Seq("raw", "resid") should contain(elected)
      // the election rule itself: higher recall wins, ties to raw
      def bp(g: String) = curve.find(_.getString(0) == g)
        .get.getAs[Long]("recall_bp")
      val expect = if (bp("resid") > bp("raw")) "resid" else "raw"
      elected shouldBe expect

      // both branches forced, each against its compositional definition
      val rawBranch = Similarity.productionServeAt(spark, sf, "raw")
        .collect().toSeq
      rawBranch shouldBe Similarity.ivfPqRerank(spark, sf,
        Similarity.electedRerankR(spark, sf),
        ksub = Similarity.electedWidth(spark, sf)).collect().toSeq
      val residBranch = Similarity.productionServeAt(spark, sf, "resid")
        .collect().toSeq
      residBranch shouldBe Similarity.exactRerank(spark, sf,
        Similarity.ivfPqResidServe(spark, sf,
            Similarity.electedNprobe(spark, sf),
            topk = Similarity.electedRerankR(spark, sf))
          .select(col("q_id"), col("neighbor"))).collect().toSeq
      rawBranch should not be empty
      residBranch should not be empty

      // q157 serves whichever branch the election chose
      val prod = Registry.queries("q157_ann_production")(spark, sf)
        .collect().toSeq
      prod shouldBe (if (elected == "resid") residBranch else rawBranch)
    }
  }

  test("q158 trained IVF-PQ: the packed-index cell serve equals an " +
    "independent inline row-form construction over the SAME persisted " +
    "trained quantizers (the AnnArtifact parity discipline on the " +
    "trained pair)") {
    // trained artifacts live at fixed paths under the default store
    // root (their paths are baked into the registry's oracle SQL), so
    // this test runs without a root override — q158's own ensure calls
    // resolve or build them
    val viaIndex = Registry.queries("q158_ivfpq_trained")(spark, sf0001)
      .collect().toSeq
    viaIndex should not be empty
    viaIndex shouldBe inlineTrainedServe(sf0001)
  }

  test("q158 staleness: rebuilding the fixed-path quantizers with " +
    "DIFFERENT center bytes under the same corpus re-keys the cached " +
    "packed index — the serve follows the live bytes, never a stale " +
    "generation (the r17 driver-gate failure, forced)") {
    // own corpus dir so the scenario doesn't perturb the sf corpora
    val dir = Files.createTempDirectory("graft-ann-corpus-stale")
      .toFile.getAbsolutePath
    writeCorpus(dir, idBase = 0L, rows = 120)
    val serve1 = Registry.queries("q158_ivfpq_trained")(spark, dir)
      .collect().toSeq
    serve1 should not be empty

    // simulate the hazard VERDICT r17 confirmed on disk: a retrain of
    // the fixed path lands DIFFERENT center bytes under the SAME marker
    // key (in production: an interleaved other-corpus run rebuilds in
    // place, then this corpus retrains without byte-identical KMeans
    // reproduction). Negated centers re-tile every cell assignment.
    val centsPath = Similarity.TrainedCentroidsPath
    val markerFile = java.nio.file.Paths.get(centsPath, "_GRAFT_OK")
    val markerKey = java.nio.file.Files.readAllBytes(markerFile)
    val planted = spark.read.parquet(centsPath)
      .select(col("c_id"), expr("transform(cv, x -> -x)").as("cv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    import spark.implicits._
    planted.toSeq.toDF("c_id", "cv")
      .coalesce(1).write.mode("overwrite").parquet(centsPath)
    java.nio.file.Files.write(markerFile, markerKey)
    try {
      // the registered serve must now reflect the PLANTED geometry:
      // the content-identity key makes the derivative rebuild from the
      // live bytes (before the fix: memo/key hit -> the stale cached
      // index served generation-A cells and both assertions failed)
      val serve2 = Registry.queries("q158_ivfpq_trained")(spark, dir)
        .collect().toSeq
      serve2 should not be serve1
      serve2 shouldBe inlineTrainedServe(dir)
    } finally {
      // leave the fixed path marker-less so the next consumer retrains
      // real geometry instead of serving the planted centers
      java.nio.file.Files.deleteIfExists(markerFile)
      ()
    }
  }

  test("trained election arc (q162/q163/q164): exactly one elected row " +
    "per curve, elected dials on the grids, and the DEGENERATE-dial " +
    "identity — the trained serve at q158's pinned nprobe=2 with R=TOPK " +
    "re-orders exactly q158's neighbor sets") {
    // fixed-path trained artifacts, so no root override (q158 pattern)
    val trained = Similarity.TrainedPair
    val curve = Similarity.nprobeCurve(spark, sf0001, trained).collect()
    curve.map(_.getAs[Long]("nprobe")).toSeq shouldBe Seq(1L, 2L, 4L, 8L)
    curve.count(_.getAs[Long]("chosen") == 1L) shouldBe 1
    Similarity.NPROBES should contain(
      Similarity.electedNprobe(spark, sf0001, trained).toLong)
    // recall must be monotone non-decreasing in nprobe (more probed
    // cells can only add candidates) — a cheap arithmetic sanity pin
    val bps = curve.sortBy(_.getAs[Long]("nprobe"))
      .map(_.getAs[Long]("recall_bp")).toSeq
    bps.zip(bps.tail).foreach { case (a, b) => b should be >= a }

    val rcurve = Similarity.rerankDepthCurve(spark, sf0001, trained).collect()
    rcurve.map(_.getAs[Long]("r")).toSeq shouldBe Seq(10L, 20L, 50L, 100L)
    rcurve.count(_.getAs[Long]("chosen") == 1L) shouldBe 1
    Similarity.RERANK_RS should contain(
      Similarity.electedRerankR(spark, sf0001, trained).toLong)

    // degenerate dials: exact re-rank of the nprobe=2, R=TOPK trained
    // shortlist permutes q158's per-probe top-10 — identical SETS
    def neighborSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor")).toSet }
    val q158 = Registry.queries("q158_ivfpq_trained")(spark, sf0001)
    val degen = Similarity.exactRerank(spark, sf0001,
      Similarity.ivfPqServe(spark, sf0001, nprobe = 2, topk = 10, q = trained)
        .select(col("q_id"), col("neighbor")))
    neighborSets(degen) shouldBe neighborSets(q158)

    // production serve: non-empty, TOPK rows per probe, and equal to
    // the compositional definition built inline from its public stages
    val prod = Registry.queries("q164_trained_production")(spark, sf0001)
      .collect().toSeq
    prod should not be empty
    val inline = Similarity.exactRerank(spark, sf0001,
      Similarity.ivfPqServe(spark, sf0001,
          Similarity.electedNprobe(spark, sf0001, trained),
          Similarity.electedRerankR(spark, sf0001, trained), q = trained)
        .select(col("q_id"), col("neighbor"))).collect().toSeq
    prod shouldBe inline
  }

  test("q160 residual artifact: the materialized (idx, cb) pair equals " +
    "an independent inline derivation — codebook is the md5-prefix of " +
    "the residual relation, codes are the residual encode packed " +
    "(the AnnArtifact parity discipline on the residual geometry)") {
    withRoot { _ =>
      import org.apache.spark.sql.graft.PqExprs
      val root = Similarity.ivfPqResidArtifact(spark, sf)
      val idx = spark.read.parquet(s"$root/idx")
      val cb = Similarity.loadResidCb(spark, root)
      val n = Similarity.normed(spark, sf)
      val cents = Similarity.boundedCents(n)
      val resid = Similarity.residuals(n, cents)
      // codebook = first KSUB residuals in md5 order, exactly
      val expectCb = resid
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(Similarity.PQ_KSUB).select(col("rv")).collect()
        .map(_.getSeq[Double](0).toSeq)
      cb.cents.map(_.toSeq).toSeq shouldBe expectCb.toSeq
      // index rows = inline residual encode, packed, bitwise
      val bc = spark.sparkContext.broadcast(cb)
      val inline = resid.select(col("vec_id"), col("nrm"), col("c_id"),
          Similarity.packCodes(transform(PqExprs.pqEncode(bc, col("rv")),
            s => s.getField("code"))).as("packed"))
        .collect().map(_.toSeq).toSet
      val got = idx.collect().map(_.toSeq).toSet
      got should not be empty
      got shouldBe inline
    }
  }

  test("sq8_index artifact: the rehydrated relation equals the inline " +
    "derivation EXACTLY (every serve downstream is a deterministic " +
    "function of it, so this is the q140/q141 bitwise pin)") {
    withRoot { _ =>
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), col("nrm"), col("amax"), col("sv"))
          .collect().map(_.toSeq).toSet
      val inline = rows(Similarity.sq8(Similarity.normed(spark, sf)))
      val indexed = rows(Similarity.sq8Index(spark, sf))
      indexed should not be empty
      indexed shouldBe inline
    }
  }

  test("q71's LSH index is a content-keyed store entry: two runs on a " +
    "fresh root publish exactly one <root>/lsh_index/<key>/_GRAFT_OK, no " +
    "fixed-path dir, and the same rows") {
    withRoot { root =>
      import scala.jdk.CollectionConverters._
      val q71 = Registry.queries("q71_lsh_index_probe")
      val first = q71(spark, sf).collect().toSeq
      val second = q71(spark, sf).collect().toSeq
      first should not be empty
      second shouldBe first
      val base = java.nio.file.Paths.get(root)
      val markers = Files.walk(base).iterator().asScala
        .filter(_.getFileName.toString == "_GRAFT_OK")
        .map(p => base.relativize(p).toString).toSet
      val key = ArtifactStore.sourceKey(spark, sf, "embeddings")
      markers shouldBe Set(s"lsh_index/$key/_GRAFT_OK")
      new java.io.File(root, "q71_lsh_index").exists() shouldBe false
    }
  }

  test("in-process corpus regeneration: invalidateSourceKeys() re-keys " +
    "the derived artifacts without a process restart (the store's " +
    "documented escape hatch for its immutable-corpus assumption)") {
    withRoot { _ =>
      val dir = Files.createTempDirectory("graft-ann-corpus3")
        .toFile.getAbsolutePath
      writeCorpus(dir, idBase = 0L, rows = 120)
      val gt1 = Similarity.pqGroundTruth(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      writeCorpus(dir, idBase = 20000L, rows = 120)
      ArtifactStore.invalidateSourceKeys()
      val gt2 = Similarity.pqGroundTruth(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      gt2 should not be gt1
      gt2 shouldBe refGroundTruth(dir)
    }
  }

  test("q153/q154 re-rank contract: R=TOPK degenerates to q151's " +
    "neighbor SET (exact re-ordering of the same 10), and the re-ranked " +
    "per-probe hit count against ground truth is >= the unrefined ADC " +
    "ranking's (every ground-truth member reaching the shortlist " +
    "survives an exact re-rank)") {
    withRoot { _ =>
      def neighborSets(df: org.apache.spark.sql.DataFrame) =
        df.collect().groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor")).toSet }
      val unrefined = Similarity.ivfPqServe(spark, sf,
        Similarity.electedNprobe(spark, sf))
      neighborSets(Similarity.ivfPqRerank(spark, sf, r = 10)) shouldBe
        neighborSets(unrefined)

      val gt = Similarity.pqGroundTruth(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      def hits(sets: Map[Long, Set[Long]]): Map[Long, Int] =
        sets.map { case (q, ns) => q -> ns.count(n => gt((q, n))) }
      val elected = Similarity.electedRerankR(spark, sf)
      Similarity.RERANK_RS should contain(elected.toLong)
      val hU = hits(neighborSets(unrefined))
      val hR = hits(neighborSets(Similarity.ivfPqRerank(spark, sf, elected)))
      hR.keySet shouldBe hU.keySet
      hR.foreach { case (q, h) => h should be >= hU(q) }
      // and the re-rank strictly helps somewhere, or the elected R
      // would be free recall left on the table (holds on this corpus;
      // if a future corpus makes ADC exact-faithful this pin can relax)
      hR.values.sum should be >= hU.values.sum
    }
  }

  test("the trained artifact paths follow the store root of the call, " +
    "not the root active when Similarity first loaded") {
    withRoot { root =>
      Similarity.TrainedCentroidsPath shouldBe s"$root/q54_centroids"
      Similarity.TrainedPqPath shouldBe s"$root/q142_pq_codebook"
    }
    Similarity.TrainedCentroidsPath shouldBe
      ArtifactStore.fixedPath("q54_centroids")
    Similarity.TrainedPqPath shouldBe
      ArtifactStore.fixedPath("q142_pq_codebook")
  }
}

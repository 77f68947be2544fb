package graft.similarity

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

class VectorSearchSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")

  test("bruteForceTopK: k ranked neighbors per query, self excluded, cosine descending") {
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val out = VectorSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect()
    val nQ = queries.count()
    out.length.toLong shouldBe nQ * 5
    out.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.map(_.getLong(1)).toSeq shouldBe (1L to 5L)
      sorted.map(_.getDouble(3)).toSeq shouldBe
        sorted.map(_.getDouble(3)).sortBy(-_).toSeq
      sorted.foreach(_.getLong(2) should not be q)
    }
  }

  test("topKPerProbe: k per probe by score desc, ties to the smaller neighbor, " +
    "gap-free BIGINT ranks; an extra key ranks each (key, q_id) on its own") {
    import spark.implicits._
    // probe 1 has six candidates, two of them (7 and 3) tied at 0.5 for
    // the last of k = 3 places; probe 2 has two, fewer than k, also tied
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 4L, 0.7), (1L, 7L, 0.5), (1L, 3L, 0.5),
      (1L, 5L, 0.2), (1L, 1L, 0.1), (2L, 8L, 0.4), (2L, 6L, 0.4)
    ).toDF("q_id", "neighbor", "score")
    def ranked(df: org.apache.spark.sql.DataFrame, keys: Seq[String]) = {
      val out = VectorSearch.topKPerProbe(df, "score", 3, keys)
      out.schema("rank").dataType shouldBe org.apache.spark.sql.types.LongType
      out.collect().toSeq
        .groupBy(r => (keys :+ "q_id").map(r.getAs[Long](_)))
        .map { case (g, rows) => g -> rows.sortBy(_.getAs[Long]("rank"))
          .map(r => r.getAs[Long]("rank") -> r.getAs[Long]("neighbor")) }
    }
    ranked(scored, Nil) shouldBe Map(
      Seq(1L) -> Seq(1L -> 10L, 2L -> 4L, 3L -> 3L),
      Seq(2L) -> Seq(1L -> 6L, 2L -> 8L))
    // the sweep shape: dial 2 drops neighbor 10, so its probe 1 ranks
    // 4, 3, 7 — ranked apart from dial 1's copy of the same probe
    val swept = scored.withColumn("dial", lit(1L)).unionByName(
      scored.filter(col("neighbor") =!= 10L).withColumn("dial", lit(2L)))
    ranked(swept, Seq("dial")) shouldBe Map(
      Seq(1L, 1L) -> Seq(1L -> 10L, 2L -> 4L, 3L -> 3L),
      Seq(2L, 1L) -> Seq(1L -> 4L, 2L -> 3L, 3L -> 7L),
      Seq(1L, 2L) -> Seq(1L -> 6L, 2L -> 8L),
      Seq(2L, 2L) -> Seq(1L -> 6L, 2L -> 8L))
  }

  test("ivfTopK: rank-1 within the probed cell agrees with brute force when the cell holds it") {
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val cents = VectorSearch.ringCentroids(emb, "vec_id", 101)
    val ivf = VectorSearch.ivfTopK(emb, queries, cents, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val bf = VectorSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // nprobe=1 recall: a decent share of rank-1 neighbors must match the
    // exact answer (cells are coarse at this corpus size)
    val qIds = ivf.keys.map(_._1).toSet
    val hit = qIds.count(q => ivf.get(q -> 1L) == bf.get(q -> 1L))
    hit.toDouble / qIds.size should be >= 0.3
    // every ivf neighbor must at least be a real corpus vector ≠ query
    ivf.foreach { case ((q, _), n) => n should not be q }
  }

  test("ivfTopK nprobe: recall is monotone in probed cells, and probing every " +
    "cell reproduces brute force exactly") {
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val cents = VectorSearch.ringCentroids(emb, "vec_id", 101)
    val nCells = cents.count().toInt
    nCells should be >= 2 // the comparison below must be non-trivial
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bf = ranks(VectorSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    def recall(nprobe: Int): Double = {
      val ivf = ranks(VectorSearch.ivfTopK(emb, queries, cents, "vec_id", "embedding", 5, nprobe))
      ivf.intersect(bf).size.toDouble / bf.size
    }
    val r1 = recall(1)
    val rHalf = recall(math.max(1, nCells / 2))
    val rAll = recall(nCells)
    r1 should be <= rHalf
    rHalf should be <= rAll
    rAll shouldBe 1.0 // cells partition the corpus: probing all ≡ exhaustive
  }

  test("trainCodebook: k seeded-deterministic centroids that drive ivfTopK; " +
    "full probe still reproduces brute force") {
    val queries = emb.filter(col("vec_id") % 53 === 0)
    val k = 8
    val cb = VectorSearch.trainCodebook(emb, "vec_id", "embedding", k)
    cb.count() shouldBe k
    // same seed → identical centers (cell-for-cell)
    val cb2 = VectorSearch.trainCodebook(emb, "vec_id", "embedding", k)
    cb.orderBy("vec_id").collect().map(_.getSeq[Double](1)) shouldBe
      cb2.orderBy("vec_id").collect().map(_.getSeq[Double](1))
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bf = ranks(VectorSearch.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val all = ranks(VectorSearch.ivfTopK(emb, queries, cb, "vec_id", "embedding", 5, k))
    all shouldBe bf // trained cells still partition the corpus
    val one = ranks(VectorSearch.ivfTopK(emb, queries, cb, "vec_id", "embedding", 5, 1))
    (one.intersect(bf).size.toDouble / bf.size) should be >= 0.2
  }

  test("searchTestdata wires the table reader to the search") {
    VectorSearch.searchTestdata(spark, sf0001, 3)
      .groupBy("q_id").count().collect().foreach(_.getLong(1) shouldBe 3L)
  }

  test("ensureCodebook: fits on miss, reuses on hit, refits on a changed cache key") {
    val dir = java.nio.file.Files.createTempDirectory("cbk").toString + "/cb"
    // miss: trains and writes (c_id, cv) + the key sidecar
    VectorSearch.ensureCodebook(emb, "vec_id", "embedding",
      k = 4, maxIter = 2, path = dir, cacheKey = "sfA|100") shouldBe true
    val first = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    first.keySet shouldBe (0L until 4L).toSet
    // hit: same key — no retrain, artifact bytes untouched
    val mtime = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified()).max
    VectorSearch.ensureCodebook(emb, "vec_id", "embedding",
      k = 4, maxIter = 2, path = dir, cacheKey = "sfA|100") shouldBe false
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(_.lastModified()).max shouldBe mtime
    // changed key (different corpus identity/count): refit
    VectorSearch.ensureCodebook(emb, "vec_id", "embedding",
      k = 4, maxIter = 2, path = dir, cacheKey = "sfA|101") shouldBe true
    // the refit codebook is readable and k-sized either way
    spark.read.parquet(dir).count() shouldBe 4L
  }
}

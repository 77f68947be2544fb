package graft.dedup

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

class TextDedupSpec extends AnyFunSuite with Matchers with SparkTestSession {

  private def corpus = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    Seq(
      1L -> base,
      2L -> base, // exact duplicate of 1
      3L -> (base + " extra trailing words here"), // near-dup of 1/2
      4L -> "completely different text about spark query engines and shuffles today",
      5L -> ("prefix words " + base), // near-dup of 1/2/3
      6L -> "another unrelated document mentioning embeddings and vectors only"
    ).toDF("doc_id", "text")
  }

  test("exact: min-id survivor per identical text") {
    val survivors = TextDedup.exact(corpus, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    survivors shouldBe Array(1L, 3L, 4L, 5L, 6L)
  }

  test("incrementalDeduplicate: batch deduped against the corpus, corpus never " +
    "against itself") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    // corpus is INTERNALLY duplicated (settled history — must not matter)
    val hist = Seq(
      1L -> base,
      2L -> base,
      3L -> "completely different text about spark query engines and shuffles today"
    ).toDF("doc_id", "text")
    val batch = Seq(
      10L -> base, // exact dup of corpus 1/2: dropped
      11L -> (base + " extra trailing words here"), // near-dup of corpus: dropped
      12L -> "a genuinely fresh document about streaming watermarks and state stores",
      13L -> "a genuinely fresh document about streaming watermarks and state stores", // in-batch exact dup of 12: dropped
      14L -> "short one", // < 3 tokens of shingle material: survives on exact checks alone
      15L -> (null: String) // null text: survives (nothing to compare)
    ).toDF("doc_id", "text")
    val out = TextDedup.incrementalDeduplicate(hist, batch, "doc_id", "text", 0.5)
    out.select("doc_id").collect().map(_.getLong(0)).sorted shouldBe
      Array(12L, 14L, 15L)
    // survivors keep their full rows, not just ids
    out.columns should contain allOf ("doc_id", "text")
  }

  test("incrementalDeduplicateIndexed: a materialized index changes nothing but the I/O") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and then " +
      "runs far away into the deep dark forest tonight"
    val hist = Seq(1L -> base,
      3L -> "completely different text about spark query engines and shuffles today"
    ).toDF("doc_id", "text")
    val batch = Seq(
      10L -> base,
      11L -> (base + " extra trailing words here"),
      12L -> "a genuinely fresh document about streaming watermarks and state stores"
    ).toDF("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("dedup_idx").toString + "/ix"
    TextDedup.buildDedupIndex(hist, "doc_id", "text", idx)
    // the artifact holds the three corpus-side tables
    Seq("hashes", "bands", "harr").foreach { t =>
      spark.read.parquet(s"$idx/$t").count() should be > 0L
    }
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val indexed = ids(TextDedup.incrementalDeduplicateIndexed(
      idx, batch, "doc_id", "text", 0.5))
    val derived = ids(TextDedup.incrementalDeduplicate(
      hist, batch, "doc_id", "text", 0.5))
    indexed shouldBe derived
    indexed shouldBe Seq(12L)
  }

  test("nearDuplicatePairs: catches exact and fuzzy matches, none across topics") {
    val pairs = TextDedup.nearDuplicatePairs(corpus, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    pairs should contain(1L -> 2L) // exact pair has jaccard 1.0
    pairs.flatMap(p => Set(p._1, p._2)) should not contain 4L
    pairs.flatMap(p => Set(p._1, p._2)) should not contain 6L
  }

  test("containmentPairs: a document embedded in a longer one is caught at a " +
    "containment threshold its symmetric Jaccard could never reach") {
    import spark.implicits._
    val small = (1 to 30).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (1 to 12).map(i => s"pad$i").mkString(" ")
    val docs = Seq(10L -> small, 20L -> big, 30L -> "unrelated words entirely alone")
      .toDF("doc_id", "text")
    // jaccard(small, big) ~= 28/40 = 0.7 -- inside LSH reach, but a 0.9
    // symmetric threshold misses it; containment of the small side is 1.0
    TextDedup.nearDuplicatePairs(docs, "doc_id", "text", 0.9).count() shouldBe 0L
    val cont = TextDedup.containmentPairs(docs, "doc_id", "text", 0.95)
      .collect()
    cont.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq((10L, 20L))
    cont.head.getDouble(2) shouldBe 1.0 // every small-doc shingle is in big
    cont.head.getDouble(3) should be < 0.95 // the asymmetry, recorded
  }

  test("clusters: connected components converge to min id") {
    import spark.implicits._
    // a path 10-11, 11-12 plus an isolated pair 20-21: label propagation
    // must chain 12 to 10 through 11
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val cl = TextDedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cl(10L) shouldBe 10L
    cl(11L) shouldBe 10L
    cl(12L) shouldBe 10L
    cl(20L) shouldBe 20L
    cl(21L) shouldBe 20L
  }

  test("clustersAuto: local union-find labels EXACTLY equal the distributed fixpoint") {
    import spark.implicits._
    // chain + clique + isolated pair — every shape the label rules cover;
    // also out-of-order unions (larger root attached first) so the
    // union-by-min path is actually exercised
    val pairs = Seq(
      (5L, 6L), (6L, 7L), (7L, 8L),           // chain, min in front
      (33L, 31L), (32L, 33L), (31L, 32L),     // clique given shuffled
      (20L, 21L)).toDF("doc_a", "doc_b")
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = m(TextDedup.clustersAuto(pairs)) // far under the gate
    val dist = m(TextDedup.clustersAuto(pairs, localLimit = 0L)) // forced distributed
    local shouldBe dist
    local(8L) shouldBe 5L
    local(31L) shouldBe 31L
    local(33L) shouldBe 31L
    local(21L) shouldBe 20L
  }

  test("pointer jumping: fewer rounds than plain propagation on a chain") {
    import spark.implicits._
    // a pure chain 0-1-2-...-23 is the worst case for plain min-label
    // propagation (one hop per round); with the label(label) jump the
    // covered distance more than doubles per round
    val n = 24L
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (cl, roundsJump) = TextDedup.clustersWithRounds(pairs)
    val (_, roundsPlain) =
      TextDedup.clustersWithRounds(pairs, pointerJump = false)
    cl.collect().map(_.getLong(1)).toSet shouldBe Set(0L) // one component, min label
    roundsJump should be < roundsPlain
    roundsJump should be <= 7 // O(log chain), not O(chain)
  }

  test("deduplicate: one survivor per near-dup cluster, unrelated docs untouched") {
    val survivors = TextDedup.deduplicate(corpus, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    survivors should contain(1L) // cluster min survives
    survivors should contain(4L)
    survivors should contain(6L)
    survivors should not contain 2L // exact dup dropped
    survivors.length should be < 6
  }

  test("deduplicateWithPairs: a precomputed FULL-TABLE pair artifact yields " +
    "the exact deduplicate() result (pairs(S) = pairs(full) ∩ S×S)") {
    // the fixture has an exact duplicate (doc 2 of doc 1), so the full
    // pair relation contains survivor↔non-survivor pairs the restriction
    // must drop — the case that would corrupt clustering if unsound
    val fullPairs = TextDedup.nearDuplicatePairs(corpus, "doc_id", "text", 0.5)
    val viaArtifact = TextDedup
      .deduplicateWithPairs(corpus, "doc_id", "text", fullPairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val direct = TextDedup.deduplicate(corpus, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    viaArtifact shouldBe direct
  }

  test("deduplicate: byte-identical SHORT docs (< 3 tokens, no shingles) collapse via the exact pass") {
    import spark.implicits._
    val docs = Seq(
      1L -> "hello world", // 2 tokens: produces zero 3-shingles
      2L -> "hello world", // byte-identical — must still be deduplicated
      3L -> "hi",
      4L -> "hi",
      5L -> "something else entirely different here"
    ).toDF("doc_id", "text")
    val survivors = TextDedup.deduplicate(docs, "doc_id", "text", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    survivors shouldBe Array(1L, 3L, 5L)
  }

  test("nearDuplicatePairs: a boilerplate line repeated across 100 docs " +
    "completes with output identical to an independent naive implementation") {
    import spark.implicits._
    // every doc shares the same 10-token boilerplate (8 shared shingles
    // with candidate-df 100+ — the pair-driven intersection must stay
    // linear in pairs, not df²), plus unique filler; two planted near-dup
    // pairs on top
    val boiler = "subscribe to our newsletter for daily updates and breaking news"
    val docs: Seq[(Long, String)] =
      (1 to 100).map { i =>
        i.toLong -> (boiler + s" unique$i alpha$i beta$i gamma$i delta$i " +
          s"epsilon$i zeta$i eta$i theta$i iota$i")
      } ++ Seq(
        200L -> (boiler + " identical planted pair body text goes right here now"),
        201L -> (boiler + " identical planted pair body text goes right here now"),
        202L -> (boiler + " nearly identical other planted body text ends with apple"),
        203L -> (boiler + " nearly identical other planted body text ends with orange"))
    val result = TextDedup
      .nearDuplicatePairs(docs.toDF("doc_id", "text"), "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2))

    // independent naive reference: same shingle/minhash/band math in plain
    // Scala, all-pairs — no LSH-vs-hot-path shortcuts to accidentally share
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingleSet(text: String): Set[String] =
      text.split("\\s+").filter(_.nonEmpty).sliding(3)
        .filter(_.length == 3).map(_.mkString(" ")).toSet
    val sh = docs.map { case (id, t) => id -> shingleSet(t) }.toMap
    def h56(hex: String, off: Int): Long =
      java.lang.Long.parseLong(hex.substring(off, off + 14), 16)
    def bands(s: Set[String]): Seq[String] = {
      val mh = (1 to 8).map(k => s.map { x =>
        val m = md5hex(x); h56(m, 0) + k * h56(m, 14)
      }.min)
      (1 to 4).map(b => md5hex(s"${mh(2 * b - 2)}|${mh(2 * b - 1)}"))
    }
    val bandKeys = sh.view.mapValues(bands).toMap
    val ids = docs.map(_._1).sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      if bandKeys(a).zip(bandKeys(b)).exists { case (x, y) => x == y }
      j = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      if j >= 0.5
    } yield (a, b, j)).sortBy(p => (p._1, p._2))

    expected.map(p => (p._1, p._2)) should contain allOf ((200L, 201L), (202L, 203L))
    result.map(p => (p._1, p._2)).toSeq shouldBe expected.map(p => (p._1, p._2))
    result.zip(expected).foreach { case ((_, _, got), (_, _, want)) =>
      got shouldBe want +- 1e-12
    }
  }

  test("deduplicate on the testdata corpus shrinks it and keeps it stable") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val n = docs.count()
    val once = TextDedup.deduplicate(docs, "doc_id", "text", 0.5)
    val afterOnce = once.count()
    afterOnce should be < n
    // idempotence: a second pass removes nothing
    TextDedup.deduplicate(once, "doc_id", "text", 0.5).count() shouldBe afterOnce
  }
}

package graft.exec

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

/** Pins the per-process memo discipline the r18 optimization round
  * introduced (and the r18 verdict asked to spec-force): the memos hold
  * METADATA (resolved relations) and ≤16-entry decision scalars only —
  * anything row-count-unbounded memoized across invocations would be
  * result caching, which the bench/oracle contract forbids.
  *
  *  - [[ArtifactStore.memoScalar]] REJECTS datasets and collections
  *    past [[ArtifactStore.MemoScalarMaxElems]] at memo time (runtime
  *    guard, tested here), so a future call site cannot drift.
  *  - Query paths read ensure artifacts only through readPublished /
  *    readFixed — the set of bare `.read.parquet` call sites in query
  *    source is pinned by an explicit allowlist below; a new bare read
  *    must be argued here (schema probe or appendable dir) or routed
  *    through the store.
  */
class MemoDisciplineSpec extends AnyFunSuite with Matchers
    with SparkTestSession {

  private def tag(s: String) = s"memo_discipline_spec|$s|${System.nanoTime()}"

  test("memoScalar accepts true decision scalars and bounded codebooks") {
    ArtifactStore.memoScalar(spark, tag("long"))(42L) shouldBe 42L
    val arr16 = Array.tabulate(16)(i => Array.fill(8)(i.toDouble))
    ArtifactStore.memoScalar(spark, tag("cb16"))(arr16).length shouldBe 16
    // a codebook-style wrapper: one level of Product is walked
    case class Cb(m: Int, cents: Array[Array[Double]])
    ArtifactStore.memoScalar(spark, tag("wrap"))(Cb(2, arr16)).m shouldBe 2
  }

  test("memoScalar rejects row-count-unbounded values at memo time") {
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("seq17"))(Seq.range(0, 17))
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("arr17"))(Array.range(0, 17))
    case class Wrap(xs: Array[Int])
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("wrap17"))(Wrap(Array.range(0, 17)))
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("df"))(spark.range(3).toDF())
    // a lazy infinite collection is rejected without being forced
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("lazy"))(LazyList.from(0))
    // an iterator is single-pass data whatever its length
    an[IllegalArgumentException] should be thrownBy
      ArtifactStore.memoScalar(spark, tag("iter17"))(Iterator.range(0, 17))
  }

  test("query paths take ensure-artifact reads through the store: bare " +
    ".read.parquet call sites in query source match the argued allowlist") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    // file -> allowed count, with the reason a bare read is legitimate
    val allow = Map(
      // readStream schema probes (footer read memoized in
      // rawSchemaCache; a relation memo would be the wrong shape for a
      // streaming source definition)
      "StreamingQueries.scala" -> 3,
      // one-time CREATE TABLE DDL derivation, guarded by
      // catalog.tableExists — runs once per session, not per invocation
      "ScaleOps.scala" -> 2)
    // the project root comes from the build (build.sbt passes sbt's
    // baseDirectory to the forked test JVM), not the working directory
    val base = Paths.get(sys.props.getOrElse("graft.baseDir", fail(
      "system property graft.baseDir is unset; run the tests through sbt, " +
        "whose build.sbt passes the project's baseDirectory")))
    val qdir = base.resolve("src/main/scala/graft/queries")
    assert(Files.isDirectory(qdir), s"$qdir not found under the project " +
      s"root $base that graft.baseDir names")
    val counts = Files.list(qdir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val text = new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        // count code occurrences of `.read.parquet(`; comment lines
        // (scaladoc/`//`) are excluded so documentation can cite it
        val n = text.linesIterator
          .map(_.trim)
          .filterNot(l => l.startsWith("//") || l.startsWith("*") ||
            l.startsWith("/*"))
          .count(_.contains(".read.parquet("))
        p.getFileName.toString -> n
      }
      .filter(_._2 > 0).toMap
    withClue(s"bare .read.parquet call sites per query file: $counts — " +
      "route new reads through ArtifactStore.readPublished/readFixed " +
      "or argue the exception in MemoDisciplineSpec's allowlist: ") {
      counts shouldBe allow
    }
    // the shared dedup library's one bare read is the APPENDABLE
    // incremental-index default (must re-list per call — documented);
    // q78 overrides it with readPublished for its immutable index
    val td = new String(Files.readAllBytes(
      base.resolve("src/main/scala/graft/dedup/TextDedup.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    td.linesIterator.map(_.trim)
      .filterNot(l => l.startsWith("//") || l.startsWith("*"))
      .count(_.contains(".read.parquet(")) shouldBe 1
  }
}

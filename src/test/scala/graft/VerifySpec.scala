package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The correctness dump's named-run and failure contract: a query that
  * throws must not leave an earlier run's dump behind (the DuckDB
  * compare would read that stale parquet as its result), and a named
  * dump writes exactly the named results and oracle keys. */
class VerifySpec extends AnyFunSuite with Matchers with SparkTestSession {

  private val name = "q02_topk_brands"

  private def entries(dir: Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("a query that throws deletes its stale dump dir and is returned " +
    "as failed") {
    val out = Files.createTempDirectory("verify_spec")
    val stale = Files.createDirectories(out.resolve(name))
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    val failed = Verify.dump(spark, out.resolve("no_such_sf").toString,
      out.toString, Seq(name))
    failed shouldBe Seq(name)
    Files.exists(stale) shouldBe false
  }

  test("a named dump writes exactly that query's dir and oracle key") {
    val out = Files.createTempDirectory("verify_spec")
    Verify.dump(spark, sf0001, out.toString, Seq(name)) shouldBe empty
    entries(out) shouldBe Set(name, "oracle_sql.json")
    val oracle = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
    oracle.fieldNames().asScala.toSet shouldBe Set(name)
    oracle.get(name).asText() shouldBe SparkEntry.oracleSql(name)
    spark.read.parquet(out.resolve(name).toString).collect().toSet shouldBe
      SparkEntry.queries(name)(spark, sf0001).collect().toSet
  }

  test("unknown names are rejected before anything is written") {
    val out = Files.createTempDirectory("verify_spec")
    an[IllegalArgumentException] should be thrownBy
      Verify.dump(spark, sf0001, out.toString, Seq(name, "no_such_query"))
    entries(out) shouldBe empty
  }
}

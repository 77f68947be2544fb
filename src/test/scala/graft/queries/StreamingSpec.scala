package graft.queries

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession

class StreamingSpec extends AnyFunSuite with Matchers with SparkTestSession {

  test("q27: streaming tumbling-window result equals the batch equivalent") {
    val streamed = Registry.queries("q27_stream_tumbling")(spark, sf0001)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val batch = graft.io.Tables.table(spark, sf0001, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2)
          .as("total_value"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    streamed shouldBe batch
    streamed should not be empty
  }

  test("q27 leaves no temp view behind (memory sink dropped per invocation)") {
    Registry.queries("q27_stream_tumbling")(spark, sf0001).collect()
    spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("stream_tumbling_")) shouldBe 0
  }

  test("q27 and q96 leave the session conf as they found it") {
    // the keys the streams scope start unset, so a restore that writes
    // back the registered default (leaving the key explicitly set) shows
    Seq("spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.checkpoint.fileChecksum.enabled",
      "spark.sql.streaming.stateStore.providerClass").foreach(spark.conf.unset)
    val before = spark.conf.getAll
    Seq("q27_stream_tumbling", "q96_stream_heavy_hitters")
      .foreach(Registry.queries(_)(spark, sf0001).collect())
    spark.conf.getAll shouldBe before
  }

  test("q144: streaming ANN serve equals the batch IVF serve (q36) bitwise") {
    // the twin discipline made executable: the online serve and the batch
    // serve share one oracle, so they must agree row-for-row — any drift
    // in probe routing, scoring, or tie-breaks between the streaming and
    // batch constructions fails here before it reaches the gate
    def rows(name: String) =
      Registry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    val streamed = rows("q144_stream_ann_serve")
    val batch = rows("q36_ann_ivf")
    streamed shouldBe batch
    streamed should not be empty
  }

  test("q144 leaves no temp view behind (memory sink dropped per invocation)") {
    Registry.queries("q144_stream_ann_serve")(spark, sf0001).collect()
    spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("stream_ann_")) shouldBe 0
  }

  test("q159: streaming ELECTED packed IVF-PQ serve equals the batch " +
    "composition it mirrors bitwise — ivfPqServe at the elected nprobe " +
    "AND elected width (and hence q151 whenever the width election " +
    "lands on the full codebook)") {
    def tuples(rs: Array[org.apache.spark.sql.Row]) =
      rs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val streamed = tuples(
      Registry.queries("q159_stream_ivfpq_serve")(spark, sf0001).collect())
    val batch = tuples(
      Similarity.ivfPqServe(spark, sf0001,
        Similarity.electedNprobe(spark, sf0001),
        ksub = Similarity.electedWidth(spark, sf0001)).collect())
    streamed shouldBe batch
    streamed should not be empty
    // while the width election lands full (AnnArtifactSpec pins it on
    // the current corpora), the composed serve coincides with q151
    if (Similarity.electedWidth(spark, sf0001) == Similarity.PQ_KSUB)
      streamed shouldBe tuples(
        Registry.queries("q151_ivfpq_auto_nprobe")(spark, sf0001).collect())
  }

  test("q159 leaves no temp view behind (memory sink dropped per invocation)") {
    Registry.queries("q159_stream_ivfpq_serve")(spark, sf0001).collect()
    spark.catalog.listTables().collect()
      .map(_.name).count(_.startsWith("stream_ivfpq_")) shouldBe 0
  }

  test("q148: ingest-time chunker equals the batch chunker (q145) bitwise") {
    def rows(name: String) =
      Registry.queries(name)(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    val streamed = rows("q148_stream_chunks")
    streamed shouldBe rows("q145_chunk_overlap")
    streamed should not be empty
  }

  test("watermark bounds state: late rows beyond the watermark are dropped (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val counts = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("string").as("start"), col("n"))

    val sink = "wmtest_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = counts.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      // batch 1: two rows in [10:00,10:10), one in [10:10,10:20)
      input.addData((ts(1), 1L), (ts(2), 2L), (ts(11), 3L))
      q.processAllAvailable()
      // batch 2: advance event time far ahead -> watermark passes 10:20,
      // closing both earlier windows
      input.addData((ts(45), 4L))
      q.processAllAvailable()
      // batch 3: a LATE row for the already-closed first window — must be
      // dropped by the watermark, not re-emitted
      input.addData((ts(3), 5L))
      q.processAllAvailable()
      val out = spark.table(sink).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      out should contain("2024-01-01 10:00:00" -> 2L)
      out should contain("2024-01-01 10:10:00" -> 1L)
      // the late row did not resurrect the closed window
      out("2024-01-01 10:00:00") shouldBe 2L
    } finally {
      q.stop()
      spark.catalog.dropTempView(sink)
    }
  }
}

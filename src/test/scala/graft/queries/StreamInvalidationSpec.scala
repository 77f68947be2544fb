package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkTestSession
import graft.exec.ArtifactStore

/** The stream sources' per-session memos (raw schema, state partition
  * count) are corpus memos like the table reads: after an in-place
  * rewrite of `events.parquet`, ArtifactStore.invalidateSourceKeys must
  * make the next stream re-probe the file. */
class StreamInvalidationSpec extends AnyFunSuite with Matchers
    with SparkTestSession {

  test("q27 reads events.parquet rewritten in another physical shape " +
    "after invalidateSourceKeys") {
    val dir = Files.createTempDirectory("graft_stream_invalidate").toString
    val events = graft.io.Tables.events(spark, sf0001)
    def q27() = Registry.queries("q27_stream_tumbling")(spark, dir).collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // first shape: ts as TIMESTAMP_NTZ (micros)
    events.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.parquet(s"$dir/events.parquet")
    val ntz = q27()
    ntz should not be empty
    // second shape, same events: ts as nanoseconds in a plain INT64
    events.withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    ArtifactStore.invalidateSourceKeys()
    q27() shouldBe ntz
  }
}

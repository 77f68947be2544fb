package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Builds an N× scale-up of a testdata scale-factor directory for
  * declared-scale bench validation (PERF.md): fact tables are replicated
  * N times with consistently shifted keys (join fan-out and selectivity
  * preserved), dimension tables (region, nation) stay fixed — exactly how
  * a real lake grows. Document text gets a per-copy version token so
  * copies are near-duplicates (not byte-identical), which stress-tests
  * the LSH/dedup path the way a production crawl with syndicated content
  * would.
  *
  * Run: runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [copies=10]
  * Then: SPARK_GRAFT_SF_DIR=<dstDir> runMain graft.Bench
  */
object ScaleUp {

  // key shifts (beyond any real max key in the source tables) applied per
  // copy so every copy's keys are disjoint but reference the same shapes
  private val SHIFT = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(32)
    spark.sparkContext.setLogLevel("WARN")

    def rep(name: String, keyCols: Seq[String] = Seq.empty)(
        shift: (DataFrame, Long) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      // SHIFT must clear every shifted key's true max or copies collide
      // (silently corrupting join fan-out) — validate, don't assume
      keyCols.foreach { kc =>
        val mx = base.agg(max(col(kc))).collect().head.getLong(0)
        require(mx < SHIFT,
          s"$name.$kc max $mx >= SHIFT $SHIFT — raise SHIFT for this source")
      }
      val scaled = (0 until copies).map(i => shift(base, i * SHIFT))
        .reduce(_ unionByName _)
      // many output files on purpose: a scaled lake must not ship as one
      // row group (that is the under-split corner Tables.table guards)
      scaled.repartition(32).write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x$copies -> $dst")
    }

    // dims: fixed (copied once, unshifted)
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$dst/$n.parquet")
    }
    rep("customer", Seq("c_custkey")) { (df, s) =>
      df.withColumn("c_custkey", col("c_custkey") + s)
    }
    rep("supplier", Seq("s_suppkey")) { (df, s) =>
      df.withColumn("s_suppkey", col("s_suppkey") + s)
    }
    rep("part", Seq("p_partkey")) { (df, s) =>
      df.withColumn("p_partkey", col("p_partkey") + s)
    }
    rep("orders", Seq("o_orderkey", "o_custkey")) { (df, s) =>
      df.withColumn("o_orderkey", col("o_orderkey") + s)
        .withColumn("o_custkey", col("o_custkey") + s)
    }
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey")) { (df, s) =>
      df.withColumn("l_orderkey", col("l_orderkey") + s)
        .withColumn("l_partkey", col("l_partkey") + s)
        .withColumn("l_suppkey", col("l_suppkey") + s)
    }
    rep("documents", Seq("doc_id")) { (df, s) =>
      val v = (s / SHIFT).toString
      df.withColumn("doc_id", col("doc_id") + s)
        .withColumn("text", concat(lit(s"v$v "), col("text")))
    }
    rep("embeddings", Seq("vec_id")) { (df, s) =>
      df.withColumn("vec_id", col("vec_id") + s)
    }
    // events: replicated in whatever physical shape the source carries —
    // TIMESTAMP(NANOS) reads (and re-writes) as raw nanos BIGINT under
    // nanosAsLong (session config above); TIMESTAMP(MICROS) testdata
    // round-trips as TIMESTAMP_NTZ. Tables.withEventTime adapts to either
    // on read, so the replica needs no shape normalization here.
    // The VALUE column gets a deterministic per-row sub-cent jitter
    // (xxhash64 of the shifted event_id, so copies differ): the source
    // feed is 2dp-quantized, which kept the replica's distinct-value
    // set tiny and let the pre-round-13 distinct-raw-value KS look flat
    // in every bench — the round-12 verdict's point. With the jitter
    // the 10× replica carries ~|rows| distinct CONTINUOUS doubles per
    // type, so the grid-bounded q123/q124 is exercised on exactly the
    // feed shape it was rebuilt for (distribution shift is ≤ 0.01 per
    // value — PSI buckets and threshold queries are unaffected at their
    // 10-bucket / decile granularity; nulls stay null)
    rep("events", Seq("event_id", "user_id")) { (df, s) =>
      df.withColumn("event_id", col("event_id") + s)
        .withColumn("user_id", col("user_id") + s)
        .withColumn("value",
          col("value") +
            pmod(xxhash64(col("event_id")), lit(10000L)).cast("double")
              / lit(1000000.0))
    }
    spark.stop()
  }
}

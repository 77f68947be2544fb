package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode,
  TTLConfig, ValueState}

import graft.functions.SpaceSavingAgg

/** Streaming heavy hitters: the [[SpaceSavingAgg]] sketch as
  * transformWithState keyed state — the unbounded-stream answer to "what
  * are the top tokens/URLs/user-agents RIGHT NOW" that an exact
  * streaming groupBy cannot give (its state grows with the distinct-key
  * count; at web-scale vocabularies that is unbounded).
  *
  * Sharding: items are grouped by `hashCode mod buckets`, so each item
  * belongs to EXACTLY ONE bucket's sketch — the global answer is the
  * plain union of the per-bucket summaries (no cross-sketch merge
  * ambiguity), each bucket holds a capacity-bounded `ValueState`, and
  * the per-bucket noise floor is n_bucket/capacity (tighter than a
  * single global sketch's n/capacity). Total state: buckets × capacity
  * entries, FIXED for the life of the stream.
  *
  * Each micro-batch emits every updated bucket's full summary stamped
  * with a per-bucket update sequence (OutputMode.Update) — a consumer
  * keeps the max-seq row set per bucket, exactly how [[StreamingHeavyHittersSpec]]
  * reads the memory sink. Requires the RocksDB state store provider
  * (the transformWithState contract).
  */
object StreamingHeavyHitters {

  /** One summary entry of bucket `bucket` as of that bucket's `seq`-th
    * update. */
  final case class Summary(bucket: Int, seq: Long, item: String,
      count: Long, err: Long)

  class HeavyHittersProcessor(capacity: Int)
      extends StatefulProcessor[Int, String, Summary] {

    @transient private lazy val agg = new SpaceSavingAgg.SpaceSaving(capacity)
    @transient private var st: ValueState[SpaceSavingAgg.Buf] = _
    @transient private var seq: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[SpaceSavingAgg.Buf]("sketch",
        Encoders.product[SpaceSavingAgg.Buf], TTLConfig.NONE)
      seq = getHandle.getValueState[Long]("seq",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(bucket: Int, rows: Iterator[String],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[Summary] = {
      val b0 = if (st.exists()) st.get() else agg.zero
      val folded = rows.foldLeft(b0)(agg.reduce)
      // finish() compacts; storing the compacted form keeps the state
      // row at ≤ capacity entries regardless of batch size
      val items = agg.finish(folded)
      st.update(SpaceSavingAgg.Buf(items, Seq.empty, 0))
      val n = (if (seq.exists()) seq.get() else 0L) + 1L
      seq.update(n)
      items.iterator.map(i => Summary(bucket, n, i.item, i.count, i.err))
    }
  }

  /** Track heavy hitters over a streaming Dataset of items. The result
    * streams per-bucket summaries in Update mode; group the latest seq
    * per bucket for the current global answer. */
  def track(spark: SparkSession, items: Dataset[String],
      buckets: Int = 16, capacity: Int = 256): Dataset[Summary] = {
    import spark.implicits._
    require(buckets > 0 && capacity > 0, "buckets and capacity must be positive")
    items
      .groupByKey(s => math.floorMod(if (s == null) 0 else s.hashCode, buckets))
      .transformWithState(new HeavyHittersProcessor(capacity),
        TimeMode.None(), OutputMode.Update())
  }
}

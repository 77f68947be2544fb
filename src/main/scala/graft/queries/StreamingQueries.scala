package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming demonstration: the reference is batch-only
  * (SURVEY.md §2.10), so these queries are the engine's streaming surface
  * over the `events` table. Each runs a real streaming query (file source →
  * transform → memory sink) to completion and returns the result table,
  * which makes it oracle-checkable against an equivalent batch SQL.
  *
  * Streaming state partitioning: stateful streaming pins its shuffle
  * partitioning at first start (no AQE) and every micro-batch touches
  * every state store — so the partition count is scoped down around
  * .start() and AUTO-SIZED from the input manifest (see
  * [[streamPartitions]]) instead of inheriting the batch-tuned session
  * value or needing an env knob per capture.
  *
  * Scale: the same plans run unchanged against a kafka/file stream on a
  * cluster; state is bounded by (window × event_type) cardinality for the
  * aggregations and by the watermark horizon for the dedup.
  */
object StreamingQueries {

  /** Auto-sized streaming state partition count per sfDir, memoized per
    * session (one directory listing; cleared with every corpus memo by
    * ArtifactStore.invalidateSourceKeys). Stateful streaming pins its shuffle
    * partitioning at first start (no AQE) and every micro-batch
    * opens+commits every state store instance (stream-stream joins keep
    * FOUR per partition), each commit a file write+fsync into the
    * checkpoint — so the count must be sized to STATE volume, which for
    * these event-keyed queries tracks input volume. Both directions were
    * MEASURED (PERF.md round 9): at sf0.1 (~2 MB events, dozens-of-rows
    * state) 1 partition beats 4 (per-partition overhead dominates); at
    * the 10× replica (~20 MB, 1M-row dedup/join state) 4 beats 1. The
    * rule ceil(bytes / 6 MiB) clamped to [1, 8] reproduces both measured
    * optima and grows smoothly between them; on a real deployment the
    * state-volume estimate would come from the source (Kafka lag / file
    * manifest) the same way. */
  private def streamPartitions(spark: SparkSession, dir: String): Int = {
    val sized = graft.exec.SessionMemo.getOrElseUpdate(spark, "streamParts|" + dir) {
      // events may ship as a single file OR a directory of part
      // files (a Spark-written replica) — recurse, File.length() of
      // a directory is the dirent size, not the content
      def sizeOf(f: java.io.File): Long =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf).sum
        else f.length()
      val bytes = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty)
        .filter(_.getName.startsWith("events.parquet"))
        .map(sizeOf).sum
      math.min(8, math.ceil(bytes / (6.0 * 1024 * 1024)).toInt)
    }
    // floor at min(4, cores): the r9 "1 beats 4 at sf0.1" result no
    // longer holds on the current code — re-measured r19 back-to-back
    // at BOTH 32 and 8 cores over the seven heaviest stateful
    // streams, 4 partitions beat 1 by ~0.6 s aggregate each time
    // (state-store commit cost shrank across rounds while the
    // per-batch compute parallelism gain stayed). Cores-adaptive, so
    // a 2-core host still gets 2, and the bytes rule keeps growing
    // it toward 8 at replica scale.
    math.max(math.min(4, spark.sparkContext.defaultParallelism), sized)
  }

  /** Run `body` with `settings` applied to the session conf, then leave
    * the conf as it was: a key that was explicitly set before gets its
    * old value back, every other key is unset. (Reading a registered key
    * returns its default, so writing that read back would leave the key
    * explicitly set.) Queries run sequentially in Verify/Bench. */
  private def withConf[A](spark: SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally settings.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** The streaming-sized shuffle partition count for `dir`, as a
    * [[withConf]] setting. */
  private def streamPartitionsConf(spark: SparkSession, dir: String) =
    "spark.sql.shuffle.partitions" -> streamPartitions(spark, dir).toString

  /** A stream source's raw schema, probed once per session: every
    * streaming query needs it (readStream requires an explicit schema),
    * and the batch-side footer read it comes from is pure fixed overhead
    * when repeated per query. Memoized with the corpus reads, so
    * ArtifactStore.invalidateSourceKeys re-probes a rewritten file. */
  private def rawSchema(spark: SparkSession, key: String)(
      probe: => org.apache.spark.sql.types.StructType) =
    graft.exec.SessionMemo.getOrElseUpdate(spark, "rawSchema|" + key)(probe)

  /** The events file-stream source. Must use the *raw* schema (whatever
    * shape the file carries — nanos-long or TIMESTAMP_NTZ, see
    * Tables.eventsRaw) and apply the same schema-adaptive normalization
    * per batch; the glob form exists because FileStreamSource needs a
    * directory basePath, so the single file is addressed through a
    * pattern under its parent dir. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = rawSchema(spark, dir)(graft.io.Tables.eventsRaw(spark, dir).schema)
    graft.io.Tables.withEventTime(
      spark.readStream.schema(schema).parquet(s"$dir/events.parque*"))
  }

  /** The embeddings file-stream source (q125) — same footer-probed
    * schema + glob-under-parent discipline as [[eventsStream]]. */
  private def embeddingsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = rawSchema(spark, dir + "#embeddings")(
      spark.read.parquet(s"$dir/embeddings.parquet").schema)
    spark.readStream.schema(schema).parquet(s"$dir/embeddings.parque*")
  }

  /** The documents file-stream source (q128) — same discipline. */
  private def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = rawSchema(spark, dir + "#documents")(
      spark.read.parquet(s"$dir/documents.parquet").schema)
    spark.readStream.schema(schema).parquet(s"$dir/documents.parque*")
  }

  /** Stream-side twin of Tables.table's compute-heavy under-split rule:
    * a small parquet file arrives in a micro-batch as ONE scan partition
    * (FileStreamSource plans batch files through the same split rules —
    * openCostInBytes floors the split at 4 MB), so a stateless
    * compute-heavy map (tokenize/shingle/encode — the scan-stage work)
    * serializes on one core per batch while the stateful exchange
    * downstream is already scoped by [[streamPartitionsConf]]. Measured
    * (r19, JobProbe): q128's single data micro-batch spent 1.87 s in
    * that one-task stage. Spread the raw rows across the session's
    * cores BEFORE the heavy map (§2.3: the exchange carries the narrow
    * source row, cheapest point in the pipeline); when the batch's file
    * set already splits to at least the core count (any real SF /
    * many-file feed), no exchange is added. */
  private def spreadIfUnderSplit(spark: SparkSession, dir: String,
      file: String, df: DataFrame): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    val (splits, _) =
      graft.io.Tables.scanSplitEstimate(spark, s"$dir/$file")
    if (splits < cores) df.repartition(cores) else df
  }

  /** Shared harness: run `streamed` to completion into a uniquely-named
    * memory sink in `mode`, localize `finish` of the sink table, and drop
    * the temp view — a UUID-named memory sink left registered would leak
    * cached driver memory on every invocation. Trigger.AvailableNow is
    * the production batch-over-stream discipline: process everything
    * available (including the watermark-advance no-data batch that
    * append-mode emission needs) then stop on its own — awaitTermination
    * replaces the processAllAvailable poll+stop pair.
    *
    * `noDataBatch = false` skips the watermark-advance no-data micro-batch
    * (measured ~0.3-0.7 s each: a full trigger of planning + WAL + state
    * commits that emits zero rows). Only valid for queries whose SINK rows
    * are all produced by data batches — dedup and inner stream-stream
    * joins emit on arrival; the no-data batch exists solely to EVICT state,
    * which a run-to-completion query discards with the checkpoint anyway.
    * Append-mode windowed aggregations (q49) MUST keep it: their emission
    * rule is "watermark passed the window end", which only fires there. */
  private def runToMemorySink(spark: SparkSession, dir: String,
      prefix: String, mode: String, streamed: DataFrame,
      noDataBatch: Boolean = true)(
      finish: DataFrame => DataFrame): DataFrame = {
    val sink = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    // the checkpoint (offset/commit WAL + state store files) for these
    // run-to-completion memory-sink queries is ephemeral by construction
    // — the query is drained and dropped in the same call — so it goes
    // on tmpfs when available: every micro-batch pays several fsyncs
    // into it, pure fixed overhead on a disk-backed /tmp. A PRODUCTION
    // writeStream (durable sink, query outliving the process) must
    // checkpoint to reliable shared storage instead.
    // 4 GiB of usable tmpfs required — a container's default 64 MB
    // /dev/shm would overflow under a multi-file stream's state+WAL and
    // fail queries that run fine on disk-backed temp checkpoints. (A
    // crashed JVM can leak its ckpt dir into RAM until reboot; the
    // normal path below deletes it.)
    val shm = new java.io.File("/dev/shm")
    val ckpt = if (shm.isDirectory && shm.canWrite &&
        shm.getUsableSpace >= 4L * 1024 * 1024 * 1024)
      Some(s"/dev/shm/graft_ckpt/$sink") else None
    // Spark 4's checkpoint-file checksums are OFF for these
    // run-to-completion checkpoints: the checkpoint is ephemeral by
    // construction (drained and deleted in this very call — see ckpt
    // above), so integrity companions protect nothing, while their
    // writer pays a second file per checkpoint file through Hadoop's
    // LOCAL FS — whose permission/stat calls fork an external process
    // each (measured r19, StreamStartProbe: Shell.runCommand under
    // ChecksumCheckpointFileManager was the single hottest driver
    // stack in q58, ~1.3 s of a 2.8 s run). A PRODUCTION stream
    // (durable checkpoint outliving the process) keeps the default.
    val q = withConf(spark, streamPartitionsConf(spark, dir),
        "spark.sql.streaming.noDataMicroBatches.enabled" -> noDataBatch.toString,
        "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false") {
      val w = streamed.writeStream.format("memory").queryName(sink)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(mode)
      ckpt.foreach(w.option("checkpointLocation", _))
      w.start()
    }
    try q.awaitTermination() finally {
      q.stop()
      ckpt.foreach { c =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(c))
      }
    }
    // the finish agg/sort runs over the (small, driver-local) sink table:
    // at session partitioning it pays 32 task launches per exchange for
    // a few thousand rows — scope it down with the same knob
    try withConf(spark, streamPartitionsConf(spark, dir))(
      Q.localized(finish(spark.table(sink))))
    finally spark.catalog.dropTempView(sink)
  }

  /** The streaming ANN serves' sink (q144, q159): per-probe TopKAgg
    * rows (key = zero-padded q_id, entries) read back in the batch
    * serves' (q_id, rank, neighbor, `score`) shape, (q_id, rank) order. */
  private def probeTopKRows(sink: DataFrame,
      score: org.apache.spark.sql.Column): DataFrame =
    sink.select(col("key").cast("long").as("q_id"), posexplode(col("entries")))
      .select(col("q_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.payload").cast("long").as("neighbor"), score)
      .orderBy(col("q_id"), col("rank"))

  private def windowAgg(stream: DataFrame, w: org.apache.spark.sql.Column) =
    stream.groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Q.dollars(sum(Q.cents(col("value"))))
          .as("total_value"))

  val defs: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // q27: tumbling 1-day window counts + exact decimal sums per type.
    Q("q27_stream_tumbling",
      oracle = Some("""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               count(*) AS n,
               round(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      run = (spark, dir) => runToMemorySink(spark, dir, "stream_tumbling_",
        "complete",
        windowAgg(eventsStream(spark, dir), window(col("ts"), "1 day"))) {
        _.select(col("w.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_value"))
          .orderBy(col("day"), col("event_type"))
      }),

    // ------------------------------------------------------------------
    // q38: SLIDING windows (2-day length, 1-day slide) — each event lands
    // in two overlapping windows; state is bounded by
    // (windows-in-watermark × event_type). The oracle expands the two
    // epoch-aligned window starts per event relationally (unnest) and
    // aggregates — the same semantics Spark's window() generator applies.
    Q("q38_stream_sliding",
      oracle = Some("""
        WITH expanded AS (
          SELECT unnest([CAST(date_trunc('day', ts) AS TIMESTAMP),
                         CAST(date_trunc('day', ts) AS TIMESTAMP) - INTERVAL 1 DAY])
                   AS w_start,
                 event_type, value
          FROM events)
        SELECT epoch_us(w_start) AS w_start_us, event_type,
               count(*) AS n,
               round(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
        FROM expanded
        GROUP BY w_start, event_type
        ORDER BY w_start_us, event_type"""),
      run = (spark, dir) => runToMemorySink(spark, dir, "stream_sliding_",
        "complete",
        windowAgg(eventsStream(spark, dir), window(col("ts"), "2 days", "1 day"))) {
        _.select(unix_micros(col("w.start")).as("w_start_us"),
          col("event_type"), col("n"), col("total_value"))
          .orderBy(col("w_start_us"), col("event_type"))
      }),

    // ------------------------------------------------------------------
    // q49: WATERMARKED APPEND-mode tumbling counts — the production
    // discipline q27/q38 (complete-mode) don't exercise under the oracle
    // gate: a 1-hour watermark bounds state, and the sink receives a
    // window only once, when the watermark passes its end. Mechanics: the
    // data batch leaves the watermark at 0 (it advances between batches),
    // then the no-data micro-batch Spark triggers on watermark advance
    // emits every closed window; processAllAvailable returns after both.
    // The oracle replays the same rule in batch SQL: watermark =
    // ms-floored max event time minus 1h (Spark tracks event time in
    // milliseconds), emitted ⟺ window.end <= watermark (the engine's
    // eviction predicate is LessThanOrEqual on the window end).
    Q("q49_stream_watermark_append",
      oracle = Some("""
        WITH m AS (
          SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us
          FROM events)
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
               count(*) AS n,
               round(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
        FROM events, m
        WHERE epoch_us(CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY)
              <= wm_us
        GROUP BY 1, 2
        ORDER BY 1, 2"""),
      run = (spark, dir) => runToMemorySink(spark, dir, "stream_wm_append_",
        "append",
        windowAgg(eventsStream(spark, dir).withWatermark("ts", "1 hour"),
          window(col("ts"), "1 day"))) {
        _.select(col("w.start").cast("date").as("day"), col("event_type"),
          col("n"), col("total_value"))
          .orderBy(col("day"), col("event_type"))
      }),

    // ------------------------------------------------------------------
    // q56: STREAM-STREAM INTERVAL JOIN (attribution shape) — see the
    // in-body comment.
    Q("q56_stream_stream_join",
      oracle = Some("""
        SELECT v.user_id AS user_id,
               count(*) AS n_pairs,
               round(sum(CAST(floor((p.value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS attributed_value
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        GROUP BY 1
        ORDER BY 1"""),
      run = (spark, dir) => {
        // STREAM-STREAM INTERVAL JOIN (attribution shape): each view
        // matched to the same user's purchases within the following 12
        // hours, both sides watermarked so the join state is bounded —
        // Spark derives each side's state horizon from the watermark ±
        // the interval bounds and evicts buffered rows past it. Inner
        // join in append mode emits matches as both sides arrive (no
        // watermark wait), so the result is batch-equivalent, which is
        // exactly what the oracle's batch interval self-join pins. At
        // 100 TB this is the plan that replaces "join two firehoses by
        // key within a time budget" — state scales with the watermark
        // horizon × per-user rate, never with stream length.
        val views = eventsStream(spark, dir)
          .filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = eventsStream(spark, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "1 hour")
        val pairs = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"))
          .select(col("v_user"), col("p_value"))
        // inner-join append emits every match in the data batch that
        // completes it; the no-data batch would only evict state
        runToMemorySink(spark, dir, "stream_ssjoin_", "append", pairs,
            noDataBatch = false) {
          _.groupBy(col("v_user").as("user_id"))
            .agg(count(lit(1)).as("n_pairs"),
              Q.dollars(sum(Q.cents(col("p_value"))))
                .as("attributed_value"))
            .orderBy(col("user_id"))
        }
      }),

    // ------------------------------------------------------------------
    // q61: STREAM-STATIC ENRICHMENT JOIN — the most common production
    // streaming join: each event enriched against a broadcast dimension
    // (here nation, keyed by user_id mod 25). Stateless — no watermark,
    // no join state; the static side is broadcast and probed per
    // micro-batch, so at 100 TB/day the stream side never shuffles for
    // the enrichment. The windowless grouped agg then runs in complete
    // mode over tiny (25-row) state.
    Q("q61_stream_static_join",
      oracle = Some("""
        SELECT n_name,
               count(*) AS n_events,
               round(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
        FROM events JOIN nation ON user_id % 25 = n_nationkey
        GROUP BY 1
        ORDER BY 1"""),
      run = (spark, dir) => {
        val dim = broadcast(graft.io.Tables.table(spark, dir, "nation")
          .select(col("n_nationkey"), col("n_name")))
        runToMemorySink(spark, dir, "stream_enrich_", "complete",
          eventsStream(spark, dir)
            .join(dim, pmod(col("user_id"), lit(25L)) === col("n_nationkey"))
            .groupBy(col("n_name"))
            .agg(count(lit(1)).as("n_events"),
              Q.dollars(sum(Q.cents(col("value"))))
                .as("total_value"))) {
          _.select(col("n_name"), col("n_events"), col("total_value"))
            .orderBy(col("n_name"))
        }
      }),

    // ------------------------------------------------------------------
    // q58: STREAM-STREAM LEFT OUTER INTERVAL JOIN — q56's production
    // completion: views with NO purchase in the window must also come
    // out (null-extended) so the pipeline can count non-converting
    // impressions. Outer semantics in streaming are watermark-driven:
    // the null-extended row for a view is emitted only when its state is
    // EVICTED — when the global watermark proves no future purchase can
    // match it (wm > v_ts + 12h; Spark derives the eviction bound from
    // the join's time condition). Matched pairs still emit on arrival.
    // The oracle replays both rules in batch SQL: all matched pairs,
    // plus unmatched views whose window end is strictly below the final
    // watermark (ms-floored min of the two sides' max event time, minus
    // the 1h delay — the same construction q49 pins for aggregations).
    // Views not yet evictable and unmatched are emitted by NEITHER side.
    // This query NEEDS the no-data batch (eviction fires there).
    Q("q58_stream_outer_join",
      oracle = Some("""
        WITH m AS (
          SELECT least(
            (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
              WHERE event_type = 'view'),
            (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM events
              WHERE event_type = 'purchase')) - 3600000000 AS wm_us),
        pairs AS (
          SELECT v.user_id, p.value
          FROM events v JOIN events p
            ON v.user_id = p.user_id
           AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR
          WHERE v.event_type = 'view' AND p.event_type = 'purchase'),
        evicted_unmatched AS (
          SELECT v.user_id, CAST(NULL AS DOUBLE) AS value
          FROM events v, m
          WHERE v.event_type = 'view'
            AND NOT EXISTS (
              SELECT 1 FROM events p
              WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
                AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 12 HOUR)
            AND epoch_us(v.ts + INTERVAL 12 HOUR) < wm_us),
        unioned AS (
          SELECT * FROM pairs UNION ALL SELECT * FROM evicted_unmatched)
        SELECT user_id,
               count(*) AS n_rows,
               count(value) AS n_matched,
               round(coalesce(sum(CAST(floor((value) * 100 + 0.5) AS BIGINT)), 0)
                     / 100.0, 2) AS attributed_value
        FROM unioned
        GROUP BY 1
        ORDER BY 1"""),
      run = (spark, dir) => {
        val views = eventsStream(spark, dir)
          .filter(col("event_type") === "view")
          .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
          .withWatermark("v_ts", "1 hour")
        val purchases = eventsStream(spark, dir)
          .filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
          .withWatermark("p_ts", "1 hour")
        val joined = views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 12 HOURS"),
          "leftOuter")
          .select(col("v_user"), col("p_value"))
        runToMemorySink(spark, dir, "stream_souter_", "append", joined) {
          _.groupBy(col("v_user").as("user_id"))
            .agg(count(lit(1)).as("n_rows"),
              count(col("p_value")).as("n_matched"),
              Q.dollars(coalesce(sum(Q.cents(col("p_value"))), lit(0L)))
                .as("attributed_value"))
            .orderBy(col("user_id"))
        }
      }),

    // ------------------------------------------------------------------
    // q53: STREAMING EXACT DEDUP with watermark-bounded state
    // (dropDuplicatesWithinWatermark): every input event is deliberately
    // delivered TWICE (duplicate-delivery modeled in-plan via a 2-way
    // explode — one file source, so the stream pays one file log and one
    // scan instead of the union-of-two-sources it previously ran), the
    // operator emits each event_id once, and the sink's per-type counts
    // hash-match the batch distinct counts. State is bounded by the
    // 1-hour watermark — the producer-retry/at-least-once-ingest dedup
    // every production pipeline needs, previously covered only by
    // StreamingDedupSpec (MemoryStream), now under the oracle gate.
    Q("q53_stream_dedup",
      oracle = Some("""
        SELECT event_type, count(DISTINCT event_id) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type"""),
      // dedup emits each first occurrence in the batch it arrives; the
      // no-data batch would only evict expired state
      run = (spark, dir) => runToMemorySink(spark, dir, "stream_dedup_",
        "append",
        eventsStream(spark, dir)
          .withColumn("delivery", explode(array(lit(1), lit(2))))
          .drop("delivery")
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .select(col("event_id"), col("event_type")), noDataBatch = false) {
        _.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      }),

    // ------------------------------------------------------------------
    // q76: ARBITRARY KEYED STATE under the oracle gate — the per-user
    // funnel FSM (graft.streaming.StatefulFunnel, flatMapGroupsWithState)
    // run as a real streaming query over the events stream, stage
    // completions counted at the sink. The built-in-stateful queries
    // (q27-q61) cover windows/dedup/joins; this is the
    // custom-state-machine rung — three longs of state per user, emission
    // the moment a stage completes. The oracle replays the batch funnel
    // derivation (q62's CTEs): the single-file AvailableNow batch
    // preserves per-user event-time order inside the fold (advance()
    // sorts each batch), so FSM counts ≡ batch counts exactly — the same
    // equivalence StatefulFunnelSpec pins cross-batch on MemoryStream.
    Q("q76_stream_funnel",
      oracle = Some("""
        WITH t AS (
          SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
        s AS (
          SELECT user_id, min(tus) AS signup_us
          FROM t WHERE event_type = 'signup' GROUP BY user_id),
        c AS (
          SELECT t.user_id, min(tus) AS click_us
          FROM t JOIN s USING (user_id)
          WHERE event_type = 'click' AND tus > signup_us GROUP BY t.user_id),
        p AS (
          SELECT t.user_id, min(tus) AS purchase_us
          FROM t JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND tus > click_us GROUP BY t.user_id)
        SELECT stage, n_users FROM (
          SELECT 'signup' AS stage, (SELECT count(*) FROM s) AS n_users
          UNION ALL SELECT 'click', (SELECT count(*) FROM c)
          UNION ALL SELECT 'purchase', (SELECT count(*) FROM p))
        ORDER BY stage"""),
      // production wiring: trackEvicting (watermark + EventTimeTimeout
      // state eviction). The abandonment horizon is set to a YEAR — far
      // beyond the events table's event-time span — so the batch-oracle
      // equivalence holds under ANY micro-batch layout, not just the
      // single AvailableNow batch this run happens to produce (were the
      // horizon shorter than the data's span, a batch split could evict
      // a slow user's state before their completion arrived and the
      // sink would undershoot the oracle). The three-stage finalizer
      // frame ignores `abandoned` records by construction either way.
      run = (spark, dir) => {
        import spark.implicits._
        val stream = eventsStream(spark, dir)
          .select(col("user_id").as("userId"),
            col("event_type").as("eventType"),
            unix_micros(col("ts")).as("tus"))
          .as[graft.streaming.StatefulFunnel.Event]
        runToMemorySink(spark, dir, "stream_funnel_", "append",
          graft.streaming.StatefulFunnel.trackEvicting(spark, stream,
            abandonAfterUs = 365L * 24 * 3600 * 1000000L).toDF(),
          noDataBatch = false) { sink =>
          // left-join the sink counts onto a literal three-stage frame:
          // the oracle's UNION ALL always emits all three stages (counts
          // possibly 0), so a corpus with zero completions of a stage
          // must still produce its row rather than fail on row count
          val stages = Seq("signup", "click", "purchase").toDF("stage")
          stages.join(
              sink.groupBy(col("stage")).agg(count(lit(1)).as("n")),
              Seq("stage"), "left")
            .select(col("stage"), coalesce(col("n"), lit(0L)).as("n_users"))
            .orderBy(col("stage"))
        }
      }),

    // ------------------------------------------------------------------
    // q96: STREAMING HEAVY HITTERS UNDER THE GATE — the q89
    // sketch-then-verify contract moved onto an unbounded stream: the
    // token feed runs through graft.streaming.StreamingHeavyHitters
    // (SpaceSaving as transformWithState keyed state — total state
    // FIXED at buckets × capacity however many distinct tokens flow by),
    // the FINAL per-bucket summaries (max update-seq per bucket)
    // nominate candidates, and only those are exactly recounted batch-
    // side via SketchVerify.exactTopK — the shared broadcast-semi-join
    // finish tail q89 uses, so the streaming monitor and its batch
    // sibling share one verify contract. The result is EXACT top-20, which
    // is why plain GROUP-BY SQL can hash-gate a sketch-driven streaming
    // pipeline: SpaceSaving's no-false-negative guarantee holds at
    // bucket granularity (floor n_bucket/512) ACROSS micro-batches —
    // cross-batch accumulation is the property StreamingHeavyHittersSpec
    // pins, and the driver's gate pins it again on real data.
    Q("q96_stream_heavy_hitters",
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, ${graft.functions.TextFns.sql.tokens} AS tk
          FROM documents),
        ex AS (SELECT unnest(tk) AS token FROM toks),
        cnt AS (SELECT token, count(*) AS n FROM ex GROUP BY token)
        SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
                 AS rank,
               token, n
        FROM cnt ORDER BY n DESC, token LIMIT 20"""),
      run = (spark, dir) => {
        import spark.implicits._
        // transformWithState requires the RocksDB state store provider;
        // scope it to this query
        withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
          val docSchema = rawSchema(spark, s"$dir#documents")(
            spark.read.parquet(s"$dir/documents.parquet").schema)
          // spread before the heavy tokenize explode (the q128 rule):
          // back-to-back isolated A/B (two alternations, min-of-5) has
          // 1.77-1.78 s spread vs 1.85-2.04 s without. The SpaceSaving
          // guarantee and the exact recount tail are arrival-order-
          // independent, so the gated result is unchanged.
          val tokens = spreadIfUnderSplit(spark, dir, "documents.parquet",
              spark.readStream.schema(docSchema)
                .parquet(s"$dir/documents.parque*"))
            .select(explode(
              graft.functions.TextFns.tokens(col("text"))).as("token"))
            .as[String]
          runToMemorySink(spark, dir, "stream_hh_", "update",
            graft.streaming.StreamingHeavyHitters
              .track(spark, tokens, buckets = 8, capacity = 512).toDF(),
            noDataBatch = false) { sink =>
            // current global answer = each bucket's max-seq summary
            val wB = org.apache.spark.sql.expressions.Window
              .partitionBy(col("bucket"))
            val cands = sink
              .withColumn("mx", max(col("seq")).over(wB))
              .where(col("seq") === col("mx"))
              .select(col("item").as("token")).distinct()
            val occ = graft.io.Tables.table(spark, dir, "documents")
              .select(explode(
                graft.functions.TextFns.tokens(col("text"))).as("token"))
            // the shared SketchVerify finish tail — identical to q89's,
            // so the streaming monitor and the batch query cannot
            // diverge in how candidates are recounted and ranked
            graft.queries.SketchVerify.exactTopK(occ, cands, "token", 20)
          }
        }
      }),

    // ------------------------------------------------------------------
    // q117: STREAMING PSI DRIFT — the q113 contract on a stream (the
    // q96 convention: same statistic, same oracle, live source). The
    // production shape of drift monitoring: the REFERENCE side (split
    // point, bucket edges, reference bucket counts) is a FROZEN batch
    // artifact — computed once, driver-localized, broadcast — while the
    // CURRENT side accumulates from the live stream as a complete-mode
    // bucket-count aggregation whose state is bounded by |types|×10
    // groups regardless of stream volume. The final PSI arithmetic is
    // DriftOps.psiFinish — the very code q113 runs, so the batch and
    // streaming monitors cannot diverge. A live deployment would swap
    // the run-to-completion sink for update-mode emission per
    // micro-batch (PSI-over-time); state and plan are unchanged.
    Q("q117_stream_psi",
      oracle = Some(DriftOps.psiOracleSql),
      run = (spark, dir) => {
        val evB = graft.io.Tables.table(spark, dir, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("value"))
        val mid = DriftOps.timeMid(evB)
        val edges = DriftOps.refEdges(evB, mid)
        val refCnts = Q.localized(evB.filter(col("us") < mid)
          .join(edges, "event_type")
          .select(col("event_type"), DriftOps.bucketCol.as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("cr")))
        // live half: stream → static-joined frozen edges → bucket counts
        val cur = eventsStream(spark, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("value"))
          .filter(col("us") >= mid)
          .join(edges, "event_type")
          .select(col("event_type"), DriftOps.bucketCol.as("bucket"))
          .groupBy("event_type", "bucket").agg(count(lit(1)).as("cc"))
        runToMemorySink(spark, dir, "stream_psi_", "complete", cur,
          noDataBatch = false) { sink =>
          DriftOps.psiFinish(edges,
            refCnts.join(sink.select("event_type", "bucket", "cc"),
              Seq("event_type", "bucket"), "full_outer"))
        }
      }),

    // ------------------------------------------------------------------
    // q121: STREAMING CHI-SQUARE DRIFT — q114's categorical statistic on
    // a live stream (the q117/q96 convention, one oracle gating both):
    // frozen reference type-counts batch-derived; current counts a
    // complete-mode groupBy whose state is |types| rows at any stream
    // volume; final arithmetic DriftOps.chi2Finish — the code q114
    // runs, so the monitors cannot diverge. Together q117+q121 are the
    // numeric and categorical live drift monitors over one frozen
    // reference artifact.
    Q("q121_stream_chi2",
      oracle = Some(DriftOps.chi2OracleSql),
      run = (spark, dir) => {
        val evB = graft.io.Tables.table(spark, dir, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
        val mid = DriftOps.timeMid(evB)
        val refCnts = Q.localized(evB.filter(col("us") < mid)
          .groupBy("event_type").agg(count(lit(1)).as("cr")))
        val cur = eventsStream(spark, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("us"))
          .filter(col("us") >= mid)
          .groupBy("event_type").agg(count(lit(1)).as("cc"))
        runToMemorySink(spark, dir, "stream_chi2_", "complete", cur,
          noDataBatch = false) { sink =>
          DriftOps.chi2Finish(
            refCnts.join(sink.select("event_type", "cc"),
                Seq("event_type"), "full_outer")
              .select(col("event_type"),
                coalesce(col("cr"), lit(0L)).as("cr"),
                coalesce(col("cc"), lit(0L)).as("cc")))
        }
      }),

    // ------------------------------------------------------------------
    // q124: STREAMING KOLMOGOROV-SMIRNOV DRIFT — q123's grid KS on a
    // live stream, completing the live monitor family (q117
    // numeric-bucketed PSI, q121 categorical chi², q124 fine-grid KS)
    // over one frozen reference split. Frozen side: per-(type, cell)
    // reference counts at q123's 2¹⁶-cell micro-grid, batch-derived
    // and localized. Live side: a complete-mode groupBy(type, cell)
    // count against the broadcast frozen edges — state is PROVABLY
    // bounded by |types|·2¹⁶ rows however many events flow by,
    // continuous-valued or not (the round-12 form's state was one row
    // per observed raw DOUBLE — corpus-sized on a continuous feed);
    // the edge clamp absorbs any live value outside the calibration
    // range into a boundary cell. The replay twin derives its edges
    // from the complete window so the statistic equals q123's (and one
    // oracle gates both); a live deployment freezes calibration edges
    // once. Final arithmetic is DriftOps.ksFinish — the code q123
    // runs, so the monitors cannot diverge.
    Q("q124_stream_ks",
      oracle = Some(DriftOps.ksOracleSql),
      run = (spark, dir) => {
        // null values dropped on every side (the q123/ksDrift contract —
        // mirrored in the shared oracle's WHERE): mid, the edges, the
        // frozen reference and the live side must all see the same
        // population
        val evB = graft.io.Tables.table(spark, dir, "events")
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("value"))
          .filter(col("value").isNotNull)
        // fused: mid + full-window edges from ONE per-type pass (§2.3
        // aggregate-once — the batch half drops from 3 scans to 2)
        val (edges, mid) = DriftOps.ksEdgesWithMid(evB)
        val refCnts = Q.localized(evB.filter(col("us") < mid)
          .join(edges, "event_type")
          .select(col("event_type"), DriftOps.ksCellCol.as("cell"))
          .groupBy("event_type", "cell").agg(count(lit(1)).as("cr")))
        val cur = eventsStream(spark, dir)
          .select(col("event_type"), unix_micros(col("ts")).as("us"),
            col("value"))
          .filter(col("value").isNotNull && col("us") >= mid)
          .join(edges, "event_type")
          .select(col("event_type"), DriftOps.ksCellCol.as("cell"))
          .groupBy("event_type", "cell").agg(count(lit(1)).as("cc"))
        runToMemorySink(spark, dir, "stream_ks_", "complete", cur,
          noDataBatch = false) { sink =>
          DriftOps.ksFinish(
            refCnts.join(sink.select("event_type", "cell", "cc"),
                Seq("event_type", "cell"), "full_outer")
              .select(col("event_type"), col("cell"),
                coalesce(col("cr"), lit(0L)).as("cr"),
                coalesce(col("cc"), lit(0L)).as("cc")))
        }
      }),

    // ------------------------------------------------------------------
    // q125: STREAMING CENTROID DRIFT — q119's semantic monitor on a
    // live vector feed, completing the drift-monitor matrix: every
    // statistic (PSI, chi², KS, centroid) now has a batch query and a
    // streaming twin sharing ONE finish tail and ONE oracle. The
    // production shape: the reference epoch's per-dim centroid cells
    // (label, dim, mean, n) are a frozen batch artifact — |labels|×dims
    // rows — while the CURRENT epoch accumulates from the live
    // embedding stream as a complete-mode (label, dim) mean whose state
    // is |labels|×dims regardless of stream volume (the posexplode is
    // stateless). Final arithmetic is DriftOps.centroidFinish — the
    // code q119 runs — over the union of frozen and live cells, so the
    // monitors cannot diverge and q119's oracle replay gates both.
    Q("q125_stream_centroid",
      oracle = Some(DriftOps.centroidOracleSql),
      run = (spark, dir) => {
        val refCells = Q.localized(DriftOps.centroidCells(
          graft.io.Tables.table(spark, dir, "embeddings")
            .filter(col("vec_id") % 2 === 0), lit(0)))
        // NOT spread: back-to-back A/B has the spread 2.02 s vs
        // 1.81-1.90 s without — posexplode is lighter than the exchange
        val cur = embeddingsStream(spark, dir)
          .filter(col("vec_id") % 2 === 1)
          .select(col("label"),
            posexplode(col("embedding").cast("array<double>"))
              .as(Seq("dim", "x")))
          .groupBy("label", "dim")
          .agg(avg("x").as("m"), count(lit(1)).as("n"))
        runToMemorySink(spark, dir, "stream_centroid_", "complete", cur,
          noDataBatch = false) { sink =>
          DriftOps.centroidFinish(refCells.unionByName(
            sink.select(col("label"), lit(1).as("half"), col("dim"),
              col("m"), col("n"))))
        }
      }),

    // ------------------------------------------------------------------
    // q128: STREAMING DECONTAMINATION — q126's sketch-then-verify
    // contract on a live document feed (the ingest-time screen a
    // training pipeline runs as crawl data lands, instead of a
    // lake-wide batch sweep later). The eval suite is STATIC by nature:
    // its distinct shingle hashes and the Bloom filter over them are
    // built once in batch before the stream starts. Per micro-batch,
    // everything up to the aggregation is STATELESS: shingle explode,
    // the codegen graft_might_contain probe (map-side — clean
    // documents' shingles die inside the scan stage of every batch),
    // and the stream-static broadcast semi-join that removes Bloom
    // false positives. The only state is the complete-mode per-doc
    // count, keyed by CONTAMINATED doc ids only — state tracks
    // contamination volume, not stream volume. Output is richer than
    // q126's id list: (doc_id, n_matched shingle occurrences), the
    // severity signal an ingest gate thresholds on. One oracle replays
    // the exact batch semantics — a Bloom false negative, a shingle
    // mismatch between the batch and stream constructions, or
    // cross-batch count drift would all break the hash.
    Q("q128_stream_decontam",
      oracle = Some(s"""
        WITH tkq128 AS (
          SELECT doc_id, ${graft.functions.TextFns.sql.tokens} AS tk
          FROM documents),
        exq128 AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
                 i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS s
          FROM tkq128 WHERE len(tk) >= 3),
        evq128 AS (SELECT DISTINCT s FROM exq128 WHERE doc_id < 10)
        SELECT doc_id, count(*) AS n_matched
        FROM exq128
        WHERE doc_id >= 10 AND s IN (SELECT s FROM evq128)
        GROUP BY doc_id
        ORDER BY doc_id"""),
      run = (spark, dir) => {
        import org.apache.spark.sql.graft.SketchExprs
        // batch-side eval prep (static suite): distinct md5 hashes +
        // the size-bounded Bloom over them (Decontamination's sizing).
        // ONE collect job feeds all three consumers — the local eval
        // relation, its count, and the Bloom build (driver-side
        // putString over the already-localized, eval-suite-bounded
        // rows; the probe's mightContainBinary(utf8) is putString's
        // exact hash path). The previous shape paid two more Spark
        // jobs (count + stat.bloomFilter) over the same local rows.
        val evalPlan = graft.dedup.TextDedup.shingleRows(
            graft.io.Tables.table(spark, dir, "documents")
              .filter(col("doc_id") < 10), "doc_id", "text")
          .select(md5(col("s")).as("h")).distinct()
        val shRows = evalPlan.collect()
        val evalSh = {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(shRows.toSeq.asJava, evalPlan.schema)
        }
        val bloom = {
          val n = math.max(shRows.length.toLong, 1L)
          val bf = org.apache.spark.util.sketch.BloomFilter.create(n,
            graft.text.Decontamination.boundedBloomBits(
              n, 0.01, graft.text.Decontamination.MaxFilterBits))
          shRows.foreach(r => bf.putString(r.getString(0)))
          bf
        }
        val bloomBytes = SketchExprs.serialize(bloom)
        val flagged = graft.dedup.TextDedup.shingleRows(
            spreadIfUnderSplit(spark, dir, "documents.parquet",
              documentsStream(spark, dir).filter(col("doc_id") >= 10)),
            "doc_id", "text")
          .select(col("doc_id"), md5(col("s")).as("h"))
          .filter(SketchExprs.bloomProbe(spark, bloomBytes, col("h")))
          .join(broadcast(evalSh), Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_matched"))
        runToMemorySink(spark, dir, "stream_decontam_", "complete",
          flagged, noDataBatch = false) {
          _.select(col("doc_id"), col("n_matched")).orderBy(col("doc_id"))
        }
      }),

    // ------------------------------------------------------------------
    // q139: STREAMING PQ ENCODE — q134's index-build half running at
    // INGEST: as vectors land on the stream, each row is assigned its
    // m sub-codes by the same native graft_pq_encode expression, so
    // the PQ code table a deployment serves from (q135/q136) is built
    // incrementally instead of by a lake-wide batch sweep later. The
    // codebook is STATIC by nature (the KSUB md5-prefix vectors) and
    // is built once in batch before the stream starts — the q128
    // Bloom-filter discipline. Everything per micro-batch is a
    // STATELESS map (encode inside the scan stage, posexplode): no
    // watermark, no aggregation, ZERO state at any stream volume —
    // contrast q128, whose state tracks contamination volume. Output
    // is q134's relation exactly, append-mode; ONE oracle (q134's,
    // verbatim) gates both the batch and streaming constructions —
    // the q119/q125 twin discipline.
    Q("q139_stream_pq_codes",
      oracle = Some(Similarity.pqCodesOracleSql),
      run = (spark, dir) => {
        import org.apache.spark.sql.graft.PqExprs
        val cb = Similarity.pqCodebook(Similarity.normed(spark, dir))
        val bc = spark.sparkContext.broadcast(cb)
        // NOT spread (spreadIfUnderSplit): back-to-back isolated A/B
        // (two alternations, min-of-5) has the spread 0.95-1.03 s vs
        // 0.83-0.93 s without — the encode map is lighter than the
        // added exchange (see OPTIMIZATION_r19.md)
        val enc = embeddingsStream(spark, dir)
          .select(col("vec_id"), posexplode(
            PqExprs.pqEncode(bc, col("embedding").cast("array<double>"))))
          .select(col("vec_id"), (col("pos") + 1).cast("long").as("j"),
            col("col.code").as("code"), col("col.d2_mu").as("d2_mu"))
        runToMemorySink(spark, dir, "stream_pq_", "append", enc) {
          _.orderBy(col("vec_id"), col("j"))
        }
      }),

    // ------------------------------------------------------------------
    // q144: STREAMING ANN SERVING — the QUERY-side twin of q139's
    // ingest-side encode, completing the online ANN story: probe
    // vectors arrive on a live stream and each is answered with its
    // exact in-cell top-k against the STATIC materialized index (q36's
    // bounded-codebook IVF — the index is batch-built before the stream
    // starts, the q128/q139 static-side discipline). Per micro-batch:
    // probe normalization and nearest-cell routing run MAP-SIDE inside
    // the batch's scan stage (the native graft_nearest_centroid
    // expression over the broadcast codebook — stateless), then one
    // stream-static equi-join on the cell id scans only the probed
    // cells (≈ batch_probes × √N candidate rows, never the corpus), and
    // the per-probe top-k accumulates through the typed TopKAgg
    // aggregator — partial buffers combine map-side, so streaming state
    // is ≤ k entries PER PROBE EVER SEEN: state tracks query volume,
    // not corpus volume. UPDATE output mode is deployment-load-bearing:
    // each probe lands in exactly one batch (unique vec_ids, one file),
    // so its k-entry aggregate is complete the moment that batch
    // commits and update emits each probe ONCE — output volume ∝
    // probes, where complete mode would re-emit every probe ever seen
    // on every subsequent batch (quadratic in batches on a long-lived
    // serve). Scores, ranks and tie-breaks are q36's bitwise (4dp
    // cosine desc, neighbor asc — TopKAgg's payload order via
    // fixed-width ids); ONE oracle (q36's, verbatim) gates both the
    // batch and streaming serves — a double emission would double sink
    // rows and break the hash, so the once-per-probe claim is gated,
    // not asserted. Corpus contract inherited from the whole q20/q36
    // family: vectors are non-zero (a zero norm makes cosine NaN, where
    // the batch row_number ranks NaN FIRST but TopKAgg's Double.compare
    // ranks it LAST — q140 documents the same exclusion explicitly; a
    // zero vector would fail the shared oracle gate loudly, not
    // silently diverge).
    Q("q144_stream_ann_serve",
      oracle = Some(Similarity.ivfServeOracleSql),
      run = (spark, dir) => {
        import spark.implicits._
        import graft.functions.TopKAgg
        import graft.functions.VectorFns.{cosine, l2norm, toDoubleArray}
        // batch-side static index: normed corpus, bounded codebook,
        // map-side cell assignment — persisted for the stream's lifetime
        // so "batch-built index" holds in the PLAN too (an unpersisted
        // static side is re-executed per micro-batch; a deployment reads
        // the materialized assignment from the ArtifactStore instead,
        // the q54/q142 discipline)
        val n = Similarity.normed(spark, dir)
        val cents = Similarity.Md5Pair.cents(spark, dir)
        val assigned = graft.similarity.VectorSearch.assignCells(n, cents)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // probe stream: the q36 modulus probe set arriving live; per-row
        // normalize + route to the nearest cell — stateless map
        val probes = graft.similarity.VectorSearch.assignCells(
          embeddingsStream(spark, dir)
            .filter(col("vec_id") % Similarity.QUERY_MOD === 0)
            .select(col("vec_id"), toDoubleArray(col("embedding")).as("v"))
            .withColumn("nrm", l2norm(col("v"))),
          cents)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"), col("c_id").as("qcell"))
        val scored = probes
          .join(assigned, col("qcell") === col("c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .select(
            format_string("%019d", col("q_id")).as("key"),
            round(cosine(col("v"), col("qv"), col("nrm"), col("qn")), 4)
              .as("score"),
            format_string("%019d", col("vec_id")).as("payload"))
          .as[TopKAgg.ScoredRow]
          .groupByKey(_.key).agg(TopKAgg.topK(Similarity.TOPK))
          .toDF("key", "entries")
        try runToMemorySink(spark, dir, "stream_ann_", "update", scored,
          noDataBatch = false)(probeTopKRows(_, col("col.score").as("cosine")))
        finally assigned.unpersist(blocking = false)
      }),

    // ------------------------------------------------------------------
    // q148: STREAMING CHUNKER — q145's RAG-prep chunk store built at
    // INGEST (the q139 discipline on the text side): documents landing
    // on the stream are tokenized, windowed and fingerprinted inside
    // each micro-batch's scan stage, so the chunk store a retrieval
    // system indexes grows with the crawl instead of by a lake-wide
    // batch sweep later. Every operator is a STATELESS map (the
    // chunkRows plan verbatim — tokenize, slice-built explode, hashing):
    // no watermark, no aggregation, ZERO state at any stream volume.
    // Append-mode output is q145's relation exactly; ONE oracle (q145's,
    // verbatim) gates both constructions.
    Q("q148_stream_chunks",
      oracle = Some(CurationOps.chunkOverlapOracleSql),
      run = (spark, dir) => {
        // NOT spread: the A/B is a wash inside the noise band
        // (1.16-1.17 s spread vs 1.11-1.43 s without) — keep the
        // exchange-free plan (OPTIMIZATION_r19.md)
        val chunks = CurationOps.chunkRows(documentsStream(spark, dir))
        runToMemorySink(spark, dir, "stream_chunks_", "append", chunks) {
          _.orderBy(col("doc_id"), col("chunk_no"))
        }
      }),

    // ------------------------------------------------------------------
    // q159: STREAMING ELECTED IVF-PQ SERVING — the online twin of the
    // batch tier's ELECTED composition, upgrading q144's exact in-cell
    // streaming serve to the PACKED tier a production ANN deployment
    // actually runs: probe vectors arrive on a live stream and each is
    // answered from the STATIC bit-packed ivfpq_index built at the
    // q138-ELECTED width, probed at the q131-elected nprobe (round 18
    // — through r17 the stream read the DEFAULT-width index, one
    // composition short of the batch tier it mirrors; the oracle now
    // unrolls BOTH elections). The static half resolves BEFORE the
    // stream starts (the q128/q139 discipline): the width election
    // (3-row artifact read), the width-elected packed index artifact,
    // the coarse codebook, the depth election (a 4-row artifact read),
    // the declared probe-set ids and their prefix-codebook LUTs.
    // Per micro-batch: normalization + elected-depth
    // MULTI-CELL routing run map-side in ONE scan-stage call via the
    // native graft_nearest_centroids expression (top-p cells per row;
    // probeCells' collect_list aggregate would be a SECOND stateful
    // operator, which a streaming plan that still needs its own top-k
    // state cannot chain), exploded to ≤ nprobe stateless (probe,
    // cell) rows; one stream-static equi-join on the cell id scans
    // only the probed cells' 24-byte packed rows; the native packed
    // ADC scores each 8-byte code word; per-probe top-k accumulates
    // through TopKAgg — state ≤ k entries per probe ever seen (query
    // volume, not corpus volume). UPDATE mode emits each probe once
    // (the q144 argument: unique probe ids land in one batch each).
    // adc_mu ≤ ~10⁶ rides TopKAgg's double score exactly (integer-
    // valued, far under 2⁵³) and casts back to BIGINT at the sink.
    // ONE oracle — both elections unrolled inline — gates both this
    // stream and the batch composition it mirrors (ivfPqServe at the
    // elected nprobe and width): any drift breaks the hash, and
    // StreamingSpec pins stream ≡ batch bitwise.
    Q("q159_stream_ivfpq_serve",
      oracle = Some(Similarity.ivfPqWidthElectedOracleSql),
      run = (spark, dir) => {
        import spark.implicits._
        import graft.functions.TopKAgg
        import graft.functions.VectorFns.{l2norm, toDoubleArray}
        import org.apache.spark.sql.graft.{CentroidExprs, PqExprs}
        val n = Similarity.normed(spark, dir)
        val w = Similarity.electedWidth(spark, dir)
        // persisted for the stream's lifetime so the artifact parquet
        // isn't re-read per micro-batch
        val idx = Similarity.ivfPqIndex(spark, dir, w)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val cents = Similarity.Md5Pair.cents(spark, dir)
        val nprobe = Similarity.electedNprobe(spark, dir)
        val cb = Similarity.Md5Pair.codebook(spark, dir, w)
        val probesStatic = Similarity.pqProbes(n)
        val bcLut = Similarity.pqLutBroadcast(probesStatic, cb)
        val probeIds = probesStatic.select(col("q_id")).collect()
          .map(_.getLong(0)).toSeq
        val bcCents = graft.similarity.VectorSearch.broadcastCentroids(cents)
        val probes = embeddingsStream(spark, dir)
          .filter(col("vec_id").isin(probeIds: _*))
          .select(col("vec_id").as("q_id"),
            toDoubleArray(col("embedding")).as("qv"))
          .withColumn("qn", l2norm(col("qv")))
          .withColumn("qcell", explode(CentroidExprs.nearestCentroids(
            bcCents, nprobe, col("qv"), col("qn"))))
          .select(col("q_id"), col("qn"), col("qcell"))
        val scored = probes
          .join(idx, col("qcell") === col("c_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("num",
            PqExprs.pqAdcNumPacked(bcLut, col("q_id"), col("packed")))
          .select(
            format_string("%019d", col("q_id")).as("key"),
            graft.similarity.VectorSearch.scoreMu(col("num")
              / (col("qn") * col("nrm"))).cast("double").as("score"),
            format_string("%019d", col("vec_id")).as("payload"))
          .as[TopKAgg.ScoredRow]
          .groupByKey(_.key).agg(TopKAgg.topK(Similarity.TOPK))
          .toDF("key", "entries")
        try runToMemorySink(spark, dir, "stream_ivfpq_", "update", scored,
          noDataBatch = false)(
          probeTopKRows(_, col("col.score").cast("long").as("adc_mu")))
        finally idx.unpersist(blocking = false)
      })
  )
}

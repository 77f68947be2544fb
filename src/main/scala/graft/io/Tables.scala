package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers/writers for the engine.
  *
  * Testdata star schema (TESTDATA.md): one parquet file per table under a
  * scale-factor directory. At cluster scale these would be directories of
  * many parquet files (possibly partitioned); `spark.read.parquet` handles
  * both transparently, and all schema information comes from parquet
  * footers (schema-on-read), with explicit StructTypes reserved for the
  * reference-shaped ETL tables (see graft.etl).
  *
  * Reference source operators covered here (SURVEY.md §2.1):
  *  - S1 parquet scan            -> table()
  *  - S2 whole-file text scan    -> wholeTextDocs()
  *  - S3 multi-line JSON scan    -> multiLineJson() / jsonLines()
  *  - S4 parquet sink            -> writeParquet()
  *  - S5 csv sink                -> writeCsv()
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose per-row scan-side work is heavy (full-text tokenize /
    * regex / vector math) and therefore must not serialize on a single
    * input split. */
  private val computeHeavy = Set("documents", "embeddings")

  /** S1: columnar scan. Filters/projections above this are pushed into the
    * parquet reader by Catalyst (verify via explain: PushedFilters/ReadSchema).
    *
    * Parallelism note: parquet splits at ROW-GROUP granularity, and the
    * local testdata ships one row group per table — so a bare scan yields
    * ONE task and everything upstream of the first shuffle runs on one
    * core. For the compute-heavy text/vector tables we repartition when
    * (and only when) the scan is under-split relative to the cluster; on a
    * real lake (many files / many row groups) the condition is false and
    * no exchange is added. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df =
      if (name == "events") events(spark, sfDir)
      else readMemo(spark, s"$sfDir/$name.parquet")
    val cores = spark.sparkContext.defaultParallelism
    if (computeHeavy(name) && underSplit(spark, s"$sfDir/$name.parquet"))
      df.repartition(cores)
    else df
  }

  // Per-session resolved base-table relations live in the weak-keyed
  // graft.exec.SessionMemo (shared with ArtifactStore). Metadata memo
  // only: every `spark.read.parquet` call re-lists the path and
  // re-infers the footer schema — a small driver-side job (~30-80 ms
  // with its planning gap, measured round 18 with JobProbe) paid by
  // EVERY query invocation on EVERY bench run. The corpus is immutable
  // per process (the same contract ArtifactStore.sourceKey memoizes
  // under, with the same escape hatch — [[invalidateReads]] is wired
  // into ArtifactStore.invalidateSourceKeys); actions on the memoized
  // relation still scan the parquet bytes every time.
  private def readMemo(spark: SparkSession, path: String): DataFrame =
    graft.exec.SessionMemo.getOrElseUpdate(spark, "tbl|" + path)(
      spark.read.parquet(path))

  /** Forget every memoized read (the shared SessionMemo: base tables,
    * artifact relations, scalars) so the next call re-lists and
    * re-infers — for tests/notebooks that regenerate a corpus under an
    * unchanged directory (see ArtifactStore.invalidateSourceKeys, which
    * calls this). */
  def invalidateReads(): Unit = {
    graft.exec.SessionMemo.clearAll(); splitEstimateCache.clear()
  }

  /** Memoized split estimate per (path, split conf) — one cheap
    * listStatus per path per JVM, instead of forcing a plan→RDD
    * conversion on every read just to probe getNumPartitions. */
  private val splitEstimateCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private def underSplit(spark: SparkSession, path: String): Boolean =
    scanSplitEstimate(spark, path)._1 < spark.sparkContext.defaultParallelism / 2

  /** (estimated scan split count, total data bytes) for `path`, from
    * file-system metadata alone — reproduces Spark's own file-split
    * planning (FilePartition.maxSplitBytes: clamp bytes-per-core between
    * openCostInBytes and maxPartitionBytes, then pack). Public so query
    * code that must size a repartition of an under-split scan (q28's
    * L-BFGS fit input) can read the split count WITHOUT forcing a
    * plan→RDD conversion (`df.rdd.getNumPartitions` plans the whole scan
    * a second time just to probe it — round-18 advice). */
  def scanSplitEstimate(spark: SparkSession, path: String): (Long, Long) = {
    import org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    val cores = spark.sparkContext.defaultParallelism
    val maxPartitionBytes =
      byteStringAsBytes(spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val openCost =
      byteStringAsBytes(spark.conf.get("spark.sql.files.openCostInBytes", "4MB"))
    // key includes every input to the decision — a JVM hosting sessions
    // with different core counts or split confs must not share answers
    val key = s"$path|$cores|$maxPartitionBytes|$openCost"
    splitEstimateCache.getOrElseUpdate(key, {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = listDataFiles(fs, hPath)
      val dataBytes = files.map(_.getLen).sum
      val totalBytes = files.map(_.getLen + openCost).sum
      val bytesPerCore = totalBytes / math.max(1, cores)
      val maxSplitBytes =
        math.min(maxPartitionBytes, math.max(openCost, bytesPerCore))
      val estimatedSplits =
        math.max(1L, (totalBytes + maxSplitBytes - 1) / math.max(1L, maxSplitBytes))
      (estimatedSplits, dataBytes)
    })
  }

  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val st = fs.getFileStatus(path)
    if (st.isFile) Seq(st)
    else fs.listStatus(path).toSeq.flatMap { s =>
      if (s.isDirectory) listDataFiles(fs, s.getPath)
      else if (s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith(".")) Nil
      else Seq(s)
    }
  }

  /** `events.ts` has shipped in two parquet shapes across testdata
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects outright, the same nanosecond corner the reference hit
    * (reference gdelt/scripts/transform_pandas_friendly_to_spark_friendly.py:17-23,
    * which *dropped* the column) — and plain TIMESTAMP(MICROS) with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). The reader handles
    * both: nanosAsLong exposes a nanos file as raw int64, and
    * withEventTime normalizes whatever arrives (see below).
    *
    * The nanosAsLong flag is SESSION-WIDE (it changes how every
    * nanosecond-timestamp parquet in the session is read) — so the engine's
    * drivers (Verify/Bench/ShowPlan) and the test harness set it once at
    * SparkSession construction; the set here is a defensive no-op in those
    * paths and exists only so ad-hoc sessions can call this directly.
    * (Set unconditionally: nanosAsLong is a registered SQLConf, so
    * conf.getOption always returns Some(default) — a presence check would
    * never fire. Runtime set of this conf is permitted.) */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set(NANOS_AS_LONG, "true")
    readMemo(spark, s"$sfDir/events.parquet")
  }

  val NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

  def events(spark: SparkSession, sfDir: String): DataFrame =
    withEventTime(eventsRaw(spark, sfDir))

  /** Normalize `ts` to a session-tz TIMESTAMP, adapting to the schema the
    * file actually carries; applied to both batch and stream reads.
    *
    *  - LongType: raw nanos exposed by nanosAsLong → integer-div to
    *    micros — the identical truncation DuckDB applies, so oracle
    *    comparisons stay exact.
    *  - TIMESTAMP_NTZ (micros parquet, isAdjustedToUTC=false): cast to
    *    TIMESTAMP — value-preserving under the engine's pinned UTC
    *    session timezone, and required because the window/watermark
    *    queries and their DuckDB oracles were built against TIMESTAMP.
    *  - TIMESTAMP: already the target type, pass through.
    *
    * Branching on the READ schema (not on a config) is what makes a
    * testdata regeneration that flips the physical type a no-op here. */
  def withEventTime(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other (expected nanos-long, TIMESTAMP_NTZ, or TIMESTAMP)")
    }
  }

  /** S2: one row per whole file, recursive — reference reads raw HTML this way
    * (reference common-crawl/scripts/nlp_analysis.py:34-37). */
  def wholeTextDocs(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("wholetext", "true")
      .option("recursiveFileLookup", "true")
      .text(path)

  /** S3: multi-line JSON array (reference common-crawl.ipynb cell 3). */
  def multiLineJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").json(path)

  /** S3 variant: JSONL (reference build_datasets.py:57-69 handles both). */
  def jsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** S4: parquet sink (overwrite, like reference build_datasets.py:114-115). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** S5: single-file CSV with header (reference nlp_analysis.py:168-169 uses
    * coalesce(1); only sane for small result tables, never for data tables). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** CSV SOURCE with an explicit schema and PERMISSIVE corrupt-record
    * capture — the ingestion contract for third-party feeds at scale: a
    * malformed row must neither kill the job (FAILFAST would, on row one
    * of file 40,000) nor silently vanish (DROPMALFORMED); it parses to
    * nulls with the raw line preserved in `_corrupt_record`, so a
    * quarantine sink can keep it for re-ingestion (`df.filter($"_corrupt_
    * record".isNotNull)`). Header-aware; schema is BY POSITION under
    * PERMISSIVE like every Spark CSV read — feeds that reorder columns
    * need a header-driven projection upstream. */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .csv(path)

  /** ORC interop (the Hive-warehouse default format): same footer-schema
    * discipline as parquet; reads get the vectorized ORC reader and the
    * same pushdown/pruning Catalyst gives the parquet source. */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.queries._

/** One benchmark run in one fresh JVM: set-up, a cold pass, then timed
  * passes until `--seconds` is spent. Queries and pipeline stages run
  * one after another in one `local[nproc]` session. Every operation is
  * split into build (the registry call), plan (forcing the executed
  * plan) and execute (collecting every column of every row of that same
  * plan). The cold pass's results are written for the checker; every
  * later pass must reproduce the cold pass's result digest.
  *
  * Writes one JSON record (`--out`) with the metrics, the failures, the
  * hygiene violations and the run environment; with `--trace 1` also a
  * span file (`--spans`).
  *
  * Usage: perfbench.Runner --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--spans FILE] [--queries a,b,...]
  *   [--gkg FILE --html DIR --records N]
  */
object Runner {

  /** The registry modules, for the per-family metrics. */
  lazy val modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.defs, "WindowQueries" -> WindowQueries.defs,
    "Dedup" -> Dedup.defs, "Similarity" -> Similarity.defs,
    "TextAnalysis" -> TextAnalysis.defs, "Multimodal" -> Multimodal.defs,
    "StreamingQueries" -> StreamingQueries.defs, "MlQueries" -> MlQueries.defs,
    "ScaleOps" -> ScaleOps.defs, "EtlPipeline" -> EtlPipeline.defs,
    "CurationOps" -> CurationOps.defs, "GraphOps" -> GraphOps.defs,
    "DriftOps" -> DriftOps.defs, "BpeTrain" -> BpeTrain.defs)

  private lazy val familyOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** What an operation's timed region produced. Phase boundaries are
    * epoch ms: build [t0, t1), plan [t1, t2), execute [t2, t3). */
  final case class Outcome(t0: Double, t1: Double, t2: Double, t3: Double,
      rows: Array[Row], schema: StructType)

  /** A unit of work: `run` is the timed region, `summarize` (untimed)
    * turns its outcome into the digest every pass must reproduce plus a
    * JSON fragment for the checker. */
  final case class Op(name: String, family: String,
      run: Int => Outcome, summarize: (Int, Outcome) => (String, String))

  private def arg(args: Map[String, String], k: String): String =
    args.getOrElse(k, sys.error(s"missing --$k"))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val data = arg(args, "data")
    val work = new File(arg(args, "work")).getAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val loadStart = osBean.getSystemLoadAverage

    // ---- set-up: JVM start (class loading), the registry (every query
    // module's definitions), the session and its first query. Measured
    // once, from JVM start: a second session in the same JVM skips class
    // loading and the registry (0.4 s of about 10 s) and would not show
    // work moved into set-up.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val mainMs = System.currentTimeMillis()
    Registry.queries; familyOf
    val registryMs = System.currentTimeMillis()
    val session = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.io.Tables.NANOS_AS_LONG, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session.range(1000).selectExpr("sum(id)").collect()
    val readyMs = System.currentTimeMillis()
    val setup = Seq("setup_s" -> (readyMs - jvmStartMs) / 1000,
      "setup.jvm_s" -> (mainMs - jvmStartMs) / 1000,
      "setup.registry_s" -> (registryMs - mainMs) / 1000.0,
      "setup.session_s" -> (readyMs - registryMs) / 1000.0)
    System.err.println("[perfbench] " + setup.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))

    // ---- the workload's operations ----
    def queryOp(name: String): Op = {
      val fn = Registry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      Op(name, familyOf(name), _ => {
        val t0 = Clock.nowMs
        val df = fn(session, data)
        val t1 = Clock.nowMs
        df.queryExecution.executedPlan
        val t2 = Clock.nowMs
        val rows = df.collect()
        Outcome(t0, t1, t2, Clock.nowMs, rows, df.schema)
      }, (_, o) => (Digest.rows(o.rows, o.schema), s"""{"rows":${o.rows.length}}"""))
    }
    val pipelineOut = s"$work/pipeline"
    def gdeltOp(gkg: String): Op = Op("gdelt_pipeline", "GdeltPipeline", pass => {
      val t0 = Clock.nowMs
      val raw = graft.io.Tables.jsonLines(session, gkg)
      val t1 = Clock.nowMs
      graft.gdelt.GdeltPipeline.run(session, raw, s"$pipelineOut/pass$pass")
      val t3 = Clock.nowMs
      Outcome(t0, t1, t1, t3, Array.empty, new StructType())
    }, (pass, _) => {
      val dir = s"$pipelineOut/pass$pass"
      val s = PipelineSummary.gdelt(session.read.parquet(s"$dir/gdelt_core.parquet"), dir)
      // the directory differs per pass; the digest covers the facts only
      (Digest.text(s.replace(dir, "")), s)
    })
    def nlpOp(html: String): Op = Op("nlp_top_phrases", "NlpAnalysis", _ => {
      val t0 = Clock.nowMs
      val df = graft.nlp.NlpAnalysis.topPhrases(session, html)
      val t1 = Clock.nowMs
      df.queryExecution.executedPlan
      val t2 = Clock.nowMs
      val rows = df.collect()
      Outcome(t0, t1, t2, Clock.nowMs, rows, df.schema)
    }, (_, o) => {
      // the phrases themselves are not compared across passes: which of
      // the bigrams tied at the CountVectorizer vocabulary cut-off are
      // kept depends on partition merge order, so they may differ
      val s = PipelineSummary.nlp(o.rows)
      (Digest.text(s), s)
    })

    val ops: Seq[Op] = workload match {
      case "reference_pipeline" => Seq(gdeltOp(arg(args, "gkg")), nlpOp(arg(args, "html")))
      case _ => arg(args, "queries").split(",").toSeq.filter(_.nonEmpty).map(queryOp)
    }
    val records = args.get("records").map(_.toLong)

    // ---- passes ----
    val tracer = if (trace) Some(new Tracer(session)) else None
    val sampler = if (trace && workload == "reference_pipeline") {
      val s = new StackSampler(Thread.currentThread(), 5); s.start(); Some(s)
    } else None
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    def cpuNs: Long = osBean.getProcessCpuTime
    val hygiene = new Hygiene(session)
    val failures = ArrayBuffer.empty[(String, Int, String)]
    val spans = ArrayBuffer.empty[Span]
    var nextSpan = 1
    def span(name: String, s: Double, e: Double, parent: Int, pass: Int, q: String): Int = {
      val id = nextSpan; nextSpan += 1
      spans += Span(id, name, s, e, parent, pass, q); id
    }
    val resultsDir = s"$work/results"
    val checkFragments = ArrayBuffer.empty[String]
    var attempted = 0L
    var coldDigest = Map.empty[String, String]

    val passes = ArrayBuffer.empty[PassRec]
    def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

    def runPass(idx: Int, traced: Boolean): Unit = {
      tracer.foreach(t => if (traced) { t.install(); t.drain(); t.take() })
      hygiene.reset()
      // queries run in a seeded order per pass; the reference pipeline
      // keeps the reference's order (GDELT job, then the NLP job)
      val order =
        if (workload == "reference_pipeline") ops
        else new scala.util.Random(seed * 1000003L + idx).shuffle(ops)
      val recs = ArrayBuffer.empty[OpRec]
      val cpu0 = cpuNs
      val gc0 = gcMs
      val start = Clock.nowMs
      // result checks and hygiene are untimed: their wall, CPU and GC
      // time is taken back out of the pass
      var untimedMs = 0.0
      var untimedCpuNs = 0L
      var untimedGcMs = 0L
      order.foreach { op =>
        attempted += 1
        val isGdelt = op.name == "gdelt_pipeline"
        if (traced && idx > 0 && isGdelt) sampler.foreach(_.begin())
        val outcome =
          try Right(op.run(idx))
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        if (isGdelt) sampler.foreach(_.end())
        val u0 = Clock.nowMs
        val uc0 = cpuNs
        val ug0 = gcMs
        outcome match {
          case Left(err) =>
            failures += ((op.name, idx, err.take(500)))
            System.err.println(s"[perfbench] FAILED ${op.name} pass $idx: ${err.take(300)}")
          case Right(o) =>
            recs += OpRec(op.name, op.family, o.t0, o.t1, o.t2, o.t3)
            try {
              val (digest, fragment) = op.summarize(idx, o)
              if (idx == 0) {
                coldDigest += op.name -> digest
                if (o.schema.nonEmpty) Results.write(session, o.rows, o.schema, s"$resultsDir/${op.name}")
                checkFragments += s""""${op.name}":$fragment"""
              } else if (!coldDigest.get(op.name).contains(digest))
                failures += ((op.name, idx, "result differs from the cold pass"))
            } catch { case e: Throwable =>
              failures += ((op.name, idx, s"result check: ${e.getClass.getSimpleName}: ${e.getMessage}"))
            }
        }
        hygiene.check(op.name, idx)
        untimedMs += Clock.nowMs - u0
        untimedCpuNs += cpuNs - uc0
        untimedGcMs += gcMs - ug0
      }
      val end = Clock.nowMs
      val window = tracer.filter(_ => traced).map { t => t.drain(); t.take() }
      val out = new File(s"$pipelineOut/pass$idx")
      val (wb, wf) = Results.sizeOf(out)
      val p = PassRec(idx, traced, start, end, (end - start - untimedMs) / 1000,
        (cpuNs - cpu0 - untimedCpuNs) / 1e9, (gcMs - gc0 - untimedGcMs) / 1000.0,
        recs.toSeq, window, wb, wf)
      passes += p
      if (idx > 0) Results.delete(out)
      tracer.foreach(t => if (traced) t.uninstall())
      System.err.println(f"[perfbench] pass $idx${if (traced) " (traced)" else ""}: ${p.wallS}%.3f s, ${recs.size} ops")
    }

    runPass(0, trace)
    val coldArtifacts = Results.artifacts(sys.env.getOrElse("GRAFT_ARTIFACT_ROOT", ""))
    val timedStart = Clock.nowMs
    var idx = 1
    // at least two timed passes (one plain, one traced in a traced run)
    var heapRetainedMb = 0.0
    while (idx <= 2 || (Clock.nowMs - timedStart) / 1000 < seconds) {
      runPass(idx, trace && idx % 2 == 0)
      if (idx == 2) {
        // after a fixed amount of work (cold pass + two timed passes), so
        // runs that fit more passes stay comparable; untimed. Spark's
        // ContextCleaner frees broadcast and shuffle blocks on its own
        // thread only after a GC has found their owners dead, so the GC is
        // repeated with pauses for it (one GC read 135-187 MB for the same
        // work); queued listener events are delivered first
        org.apache.spark.perfbench.Internals.drainListenerBus(session.sparkContext)
        for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
        System.gc()
        heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      idx += 1
    }

    // ---- end of run ----
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val loadEnd = osBean.getSystemLoadAverage
    val wallS = (System.currentTimeMillis() - jvmStartMs) / 1000
    val cpuTotalS = osBean.getProcessCpuTime / 1e9

    def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
    val cold = passes.head
    val timed = passes.tail.toSeq
    val plain = timed.filterNot(_.traced)
    val traced = timed.filter(_.traced)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    // end to end (untraced timed passes)
    val passS = median(plain.map(_.wallS))
    val lat = plain.flatMap(_.ops.map(_.latencyS))
    metrics("pass_s") = passS
    metrics("cold_pass_s") = cold.wallS
    metrics("query_p50_s") = Stats.quantile(lat, 0.5)
    metrics("query_p90_s") = Stats.quantile(lat, 0.9)
    metrics("cpu_s") = median(plain.map(_.cpuS))
    // input records per second; only the reference pipeline declares them
    records.foreach(n => metrics("records_per_s") = n / passS)
    metrics("heap_retained_mb") = heapRetainedMb
    setup.foreach { case (k, v) => metrics(k) = v }

    if (trace) Layers.compute(metrics, cold, traced, plain, tracer.get, sampler,
      coldArtifacts, hygiene.count, heapPeakMb, modules.map(_._1))
    sampler.foreach(_.halt())

    // spans: run > pass > op > phase > spark job / streaming batch
    if (trace) {
      val runId = span("run", jvmStartMs, Clock.nowMs, 0, -1, "")
      val phaseIds = ArrayBuffer.empty[(Int, Double, Double, String)]
      passes.foreach { p =>
        val pid = span("pass", p.startMs, p.endMs, runId, p.idx, "")
        p.ops.foreach { o =>
          val oid = span("op", o.t0, o.t3, pid, p.idx, o.name)
          Seq(("build", o.t0, o.t1), ("plan", o.t1, o.t2), ("execute", o.t2, o.t3)).foreach {
            case (n, s, e) => phaseIds += ((span(n, s, e, oid, p.idx, o.name), s, e, o.name))
          }
        }
      }
      def parentOf(s: Double): (Int, String) = phaseIds.find { case (_, a, b, _) => s >= a && s < b }
        .map { case (id, _, _, q) => (id, q) }.getOrElse((runId, ""))
      val t = tracer.get
      t.jobs.foreach { case (s, e) => val (p, q) = parentOf(s); span("spark.job", s, e, p, -1, q) }
      t.batches.foreach { b => val (p, q) = parentOf(b.startMs); span("streaming.batch", b.startMs, b.endMs, p, -1, q) }
      args.get("spans").foreach { path =>
        val lines = spans.map { s =>
          s"""{"id":${s.id},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
            s""""parent":${s.parent},"run":"$workload-seed$seed","workload":"$workload",""" +
            s""""pass":${s.pass},"query":"${s.query}"}"""
        }
        Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      }
      // self time per span kind: own duration minus its children's
      val children = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(s => s.endMs - s.startMs).sum }
      val self = spans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(s => s.endMs - s.startMs - children.getOrElse(s.id, 0.0)).sum / 1000 }
      System.err.println("[perfbench] self time by span kind (s): " +
        self.toSeq.sortBy(-_._2).map { case (n, v) => f"$n=$v%.3f" }.mkString(" "))
      self.foreach { case (n, v) => metrics(s"self.$n") = v }
    }

    val env = Seq(
      "nproc" -> nproc.toString,
      "shm_usable_bytes" -> {
        val f = new File("/dev/shm"); if (f.isDirectory) f.getUsableSpace.toString else "0"
      },
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
      "spark" -> Json.str(session.version),
      "loadavg_start" -> loadStart.toString,
      "loadavg_end" -> loadEnd.toString,
      "process_cpu_s" -> cpuTotalS.toString,
      "wall_s" -> wallS.toString,
      "heap_peak_mb" -> heapPeakMb.toString)
    val out =
      "{" + Seq(
        s""""workload":${Json.str(workload)}""",
        s""""seed":$seed""",
        s""""trace":$trace""",
        s""""attempted":$attempted""",
        s""""metrics":${Json.obj(metrics.toSeq.map { case (k, v) => k -> v.toString })}""",
        s""""failures":[${failures.map { case (n, p, e) =>
          s"""{"op":${Json.str(n)},"pass":$p,"error":${Json.str(e)}}""" }.mkString(",")}]""",
        s""""hygiene":[${hygiene.violations.map(v => Json.str(v)).mkString(",")}]""",
        s""""results":{${checkFragments.mkString(",")}}""",
        s""""oracles":${Json.obj(ops.flatMap(o => Registry.oracles.get(o.name).map(sql => o.name -> Json.str(sql))))}""",
        s""""ops":[${passes.flatMap(p => p.ops.map(o =>
          f"""[${p.idx},"${o.name}",${(o.t1 - o.t0) / 1000}%.4f,${(o.t2 - o.t1) / 1000}%.4f,${(o.t3 - o.t2) / 1000}%.4f]""")).mkString(",")}]""",
        s""""env":${Json.obj(env)}""").mkString(",") + "}"
    Files.write(Paths.get(arg(args, "out")), out.getBytes(StandardCharsets.UTF_8))
    session.stop()
  }
}

final case class OpRec(name: String, family: String, t0: Double, t1: Double,
    t2: Double, t3: Double) { def latencyS: Double = (t3 - t0) / 1000 }

/** One pass: its wall span, and its wall, CPU and GC seconds without
  * the untimed result checks. */
final case class PassRec(idx: Int, traced: Boolean, startMs: Double, endMs: Double,
    wallS: Double, cpuS: Double, gcS: Double, ops: Seq[OpRec], window: Option[Window],
    writtenB: Long, writtenFiles: Long)

object Stats {
  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:${if (v == "NaN" || v.contains("Infinity")) "null" else v}" }
      .mkString("{", ",", "}")
}

/** Order-independent result digests: a pass may return rows in another
  * order, but never other rows. */
object Digest {
  def rows(rows: Array[Row], schema: StructType): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong
      sum += h; xor ^= h * 0x9E3779B97F4A7C15L
    }
    f"${rows.length}:${schema.simpleString.hashCode}%08x:$sum%016x:$xor%016x"
  }
  def text(s: String): String = f"${scala.util.hashing.MurmurHash3.stringHash(s)}%08x"
}

/** What the checker compares the reference pipeline against. */
object PipelineSummary {
  import org.apache.spark.sql.functions._

  /** Core-table facts the generator's truths predict, plus the output
    * files the pipeline left. */
  def gdelt(core: DataFrame, outDir: String): String = {
    val r = core.agg(count(lit(1)), countDistinct(col("url")),
      sum(col("k_openai")), sum(col("k_google")), sum(col("k_anthropic")),
      sum(when(col("url").isNull, 1).otherwise(0))).collect().head
    val weeks = core.groupBy("label_week").count().collect()
      .map(w => w.getString(0) -> w.getLong(1)).sortBy(_._1)
    s"""{"rows":${r.getLong(0)},"distinct_urls":${r.getLong(1)},""" +
      s""""k_openai":${r.getLong(2)},"k_google":${r.getLong(3)},"k_anthropic":${r.getLong(4)},""" +
      s""""null_urls":${r.getLong(5)},""" +
      s""""weeks":${Json.obj(weeks.map { case (k, v) => k -> v.toString })},""" +
      s""""dir":${Json.str(outDir)}}"""
  }

  def nlp(rows: Array[Row]): String = {
    val perPeriod = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val phrases = perPeriod.map { case (p, rs) =>
      p -> rs.map(_.getSeq[String](1).size).groupBy(identity).view.mapValues(_.length).toMap }
    s"""{"pages":${Json.obj(perPeriod.map { case (p, rs) => p -> rs.length.toString })},""" +
      s""""phrase_counts":${Json.obj(phrases.map { case (p, m) =>
        p -> Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k.toString -> v.toString }) })}}"""
  }
}

object Results {
  def write(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def sizeOf(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty).map(sizeOf)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def delete(f: File): Unit = org.apache.commons.io.FileUtils.deleteQuietly(f)

  /** (complete entries, bytes) under an artifact root: an entry is a
    * directory holding the store's completeness marker. */
  def artifacts(root: String): (Long, Long) = {
    val r = new File(root)
    if (root.isEmpty || !r.isDirectory) (0L, 0L)
    else {
      val entries = Files.walk(r.toPath).iterator().asScala
        .count(p => p.getFileName.toString == "_GRAFT_OK").toLong
      (entries, sizeOf(r)._1)
    }
  }
}

/** Session state a query must leave as it found it: SQL conf, cached
  * data, temp views, active streams and attached listeners. */
final class Hygiene(spark: SparkSession) {
  val violations = ArrayBuffer.empty[String]
  def count: Long = violations.size.toLong
  private var last = snapshot()

  private def snapshot(): Map[String, String] = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.conf.getAll.map { case (k, v) => s"conf:$k" -> v } ++ Map(
      "cached" -> (!classic.sharedState.cacheManager.isEmpty ||
        spark.sparkContext.getPersistentRDDs.nonEmpty).toString,
      "temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toString,
      "streams" -> spark.streams.active.length.toString,
      "listeners" -> org.apache.spark.perfbench.Internals.listenerCount(spark.sparkContext).toString)
  }

  def reset(): Unit = last = snapshot()

  def check(op: String, pass: Int): Unit = {
    val now = snapshot()
    (last.keySet ++ now.keySet).toSeq.sorted.foreach { k =>
      if (last.get(k) != now.get(k))
        violations += s"$op pass $pass: $k ${last.getOrElse(k, "<unset>")} -> ${now.getOrElse(k, "<unset>")}"
    }
    last = now
  }
}

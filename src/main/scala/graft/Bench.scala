package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // 3 timed runs per query by default so the JSON can report both min
    // (steady state) and median (noise-robust central tendency) — a
    // co-tenant load spike then shows up as min≪median instead of
    // silently inflating the official number. SPARK_GRAFT_BENCH_RUNS
    // overrides (any value ≥1 honored — a 1-run smoke capture is the
    // operator's call and the JSON records `runs`); junk values fall
    // back to 3 instead of crashing the capture before any query runs.
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(3)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    // Refuse to start hot: four of five official captures were
    // load-flagged because the capture began while a co-tenant build was
    // still running. Poll loadavg (30 s period, up to 10 min) until it
    // drops under the warning bar before the warmup query touches Spark.
    // SPARK_GRAFT_BENCH_NOWAIT=1 skips the wait (intentionally-loaded
    // hosts / CI); either way the JSON still self-flags via load_warning,
    // which samples loadavg AFTER this gate.
    val noWait = sys.env.get("SPARK_GRAFT_BENCH_NOWAIT").contains("1")
    if (!noWait) {
      val deadlineNs = System.nanoTime() + 10L * 60 * 1000L * 1000000L
      var load = osBean.getSystemLoadAverage
      while (load > 2.0 && System.nanoTime() < deadlineNs) {
        System.err.println(
          f"BENCH: host hot (loadavg $load%.2f > 2.0) — waiting 30 s " +
            "(SPARK_GRAFT_BENCH_NOWAIT=1 to skip)")
        Thread.sleep(30000)
        load = osBean.getSystemLoadAverage
      }
      if (load > 2.0)
        System.err.println(
          f"BENCH: still hot after 10 min (loadavg $load%.2f) — " +
            "proceeding; capture will be load_warning-flagged")
    }
    val startedAtMs = System.currentTimeMillis()
    val loadavgStart = osBean.getSystemLoadAverage // -1.0 if unavailable
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // absorb session/codegen warmup so it isn't billed to the first query
    spark.range(1000000).selectExpr("sum(id)").collect()
    // sorted: deterministic execution order keeps per-query numbers
    // comparable across rounds (Map order is hash-dependent).
    // a crashing query must NOT register as a fast successful run — record
    // failures (including flaky some-of-N crashes) in the JSON `failed`
    // list and on stderr; stdout stays a single parseable JSON line for
    // the driver, which treats `failed` as the failure signal.
    final case class R(min: Either[String, Double], median: Double,
        flaky: Option[String])
    // SPARK_GRAFT_BENCH_ONLY=q35_ngram_jaccard,q69_containment restricts
    // the run for isolation work; the JSON records whatever actually ran
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      def once(): Either[String, Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Right((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable => Left(e.getClass.getSimpleName + ": " + e.getMessage)
        } finally {
          // queries own (and release) their persists; anything still
          // cached here is a leak that would tax LATER queries' memory —
          // measured: the 10× suite inflated late heavy queries ~4× from
          // accumulated storage/GC debt. Outside the timed region.
          spark.catalog.clearCache()
        }
      }
      // stderr progress marker (stdout stays one parseable JSON line):
      // lets an operator attribute a long silent stretch to a QUERY
      // instead of thread-dump archaeology
      System.err.println(s"BENCH: running $name")
      val attempts = Seq.fill(runs)(once())
      val ok = attempts.collect { case Right(t) => t }.sorted
      val errs = attempts.collect { case Left(e) => e }
      def median(xs: Seq[Double]): Double =
        if (xs.size % 2 == 1) xs(xs.size / 2)
        else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
      name -> (if (ok.isEmpty) R(Left(errs.head), -1.0, None)
               else R(Right(ok.head), median(ok),
                 errs.headOption.map(e => s"${errs.size}/$runs runs: $e")))
    }
    // JSON string escape (quotes, backslashes, all control chars) —
    // exception messages are routinely multi-line
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // 3-decimal (ms) precision: full-precision doubles made the stdout
    // line exceed the driver's tail-capture window (BENCH_r05/r06 came
    // back front-truncated and unparseable). ms resolution is below the
    // host's run-to-run noise anyway.
    def r3(v: Double): String = "%.3f".format(v)
    val qs = results.map {
      case (k, R(Right(v), _, _)) => "\"" + k + "\":" + r3(v)
      case (k, R(Left(_), _, _))  => "\"" + k + "\":\"failed\""
    }.mkString("{", ",", "}")
    val qsMedian = results.collect {
      case (k, R(Right(_), m, _)) => "\"" + k + "\":" + r3(m)
    }.mkString("{", ",", "}")
    val failed = results.collect {
      case (k, R(Left(e), _, _))        => s"$k ($e)"
      case (k, R(Right(_), _, Some(e))) => s"$k (flaky $e)"
    }
    val total = results.collect { case (_, R(Right(v), _, _)) => v }.sum
    val totalMedian = results.collect { case (_, R(Right(_), m, _)) => m }.sum
    val failedJson = failed.map(jstr).mkString("[", ",", "]")
    val loadavgEnd = osBean.getSystemLoadAverage
    val finishedAtMs = System.currentTimeMillis()
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
    // `value`/`queries` stay min-of-N (steady state, the cross-round
    // comparable figure); `*_median` + loadavg let a reader adjudicate
    // whether the capture was load-corrupted without a rerun.
    // load_warning self-flags a hot start so a corrupted capture is
    // machine-detectable instead of needing a judge rerun.
    val loadWarning = loadavgStart > 2.0
    val common =
      s""""total_median":${r3(totalMedian)},"runs":$runs,""" +
      s""""loadavg_start":$loadavgStart,"loadavg_end":$loadavgEnd,""" +
      s""""load_warning":$loadWarning,""" +
      s""""started_at":${jstr(iso(startedAtMs))},"finished_at":${jstr(iso(finishedAtMs))},""" +
      s""""failed":$failedJson,"sf":"$sfDir""""
    // stdout: ONE compact line for the driver (per-query medians omitted —
    // they doubled the line length and cost r5/r6 their queries map to
    // tail truncation). The complete record goes to target/bench.json.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,$common}""")
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,""" +
      s""""queries_median":$qsMedian,$common}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (full + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"WARN: could not write target/bench.json: $e")
    }
    if (failed.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${failed.mkString("; ")}")
    spark.stop()
  }
}

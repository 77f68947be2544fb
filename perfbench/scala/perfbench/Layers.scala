package perfbench

import scala.collection.mutable

/** The traced run's per-layer metrics, each per traced timed pass
  * (summed over the pass, averaged over the traced passes). Layer names
  * follow the engine's modules; a layer the workload does not reach
  * reports 0. */
object Layers {
  def compute(m: mutable.Map[String, Double], cold: PassRec, traced: Seq[PassRec],
      plain: Seq[PassRec], t: Tracer, sampler: Option[StackSampler],
      artifacts: (Long, Long), hygiene: Long, heapPeakMb: Double,
      modules: Seq[String]): Unit = {
    val n = math.max(1, traced.size).toDouble
    val mb = 1024.0 * 1024.0
    def perPass(f: PassRec => Double): Double = traced.map(f).sum / n
    def win(f: Window => Double): Double = perPass(p => p.window.map(f).getOrElse(0.0))
    def opsNamed(p: PassRec, name: String) = p.ops.filter(_.name == name)

    // queries: the registry call
    m("queries.build_s") = perPass(_.ops.map(o => o.t1 - o.t0).sum / 1000)
    m("queries.build_jobs") = perPass(p =>
      t.jobs.count { case (s, _) => p.ops.exists(o => s >= o.t0 && s < o.t1) }.toDouble)
    // catalyst: every action's planning-tracker phases
    m("catalyst.analysis_s") = win(_.analysisMs) / 1000
    m("catalyst.optimizer_s") = win(_.optimizerMs) / 1000
    m("catalyst.planning_s") = win(_.planningMs) / 1000
    // spark scheduling
    m("spark.jobs") = win(_.jobs.toDouble)
    m("spark.stages") = win(_.stages.toDouble)
    m("spark.tasks") = win(_.tasks.toDouble)
    m("spark.sched_delay_s") = win(_.schedDelayMs) / 1000
    m("spark.driver_only_s") = perPass(p => p.ops.map(o =>
      (o.t3 - o.t0) - Intervals.covered(t.jobs, o.t0, o.t3)).sum / 1000)
    // spark execution
    m("spark.exec_s") = perPass(p => Intervals.covered(t.jobs, p.startMs, p.endMs) / 1000)
    m("spark.task_cpu_s") = win(_.taskCpuNs) / 1e9
    m("spark.task_run_s") = win(_.taskRunMs) / 1000
    m("spark.task_gc_s") = win(_.taskGcMs) / 1000
    m("spark.shuffle_read_mb") = win(_.shuffleReadB) / mb
    m("spark.shuffle_write_mb") = win(_.shuffleWriteB) / mb
    m("spark.spill_mb") = win(_.spillB) / mb
    m("spark.input_mb") = win(_.inputB) / mb
    m("spark.max_task_skew") = (traced.flatMap(_.window.map(_.maxSkew)) :+ 0.0).max
    // exec: ArtifactStore and memo effects
    m("exec.artifact_entries") = artifacts._1.toDouble
    m("exec.artifact_mb") = artifacts._2 / mb
    val warm = (traced ++ plain).flatMap(_.ops).groupBy(_.name)
      .map { case (k, v) => k -> Stats.quantile(v.map(_.latencyS), 0.5) }
    m("exec.cold_extra_s") = cold.ops.map(o => o.latencyS - warm.getOrElse(o.name, o.latencyS)).sum
    // streaming
    m("streaming.batches") = win(_.batches.toDouble)
    m("streaming.no_data_batches") = win(_.noDataBatches.toDouble)
    val byRun = t.batches.toSeq.groupBy(_.runId).values.toSeq
    def perStream(f: (OpRec, Seq[Batch]) => Double): Double = perPass(p => byRun.flatMap { bs =>
      val first = bs.map(_.startMs).min
      p.ops.find(o => first >= o.t0 && first < o.t1).map(o => f(o, bs))
    }.sum / 1000)
    m("streaming.start_gap_s") = perStream((o, bs) => bs.map(_.startMs).min - o.t0)
    m("streaming.getBatch_s") = win(_.getBatchMs) / 1000
    m("streaming.queryPlanning_s") = win(_.queryPlanningMs) / 1000
    m("streaming.addBatch_s") = win(_.addBatchMs) / 1000
    m("streaming.walCommit_s") = win(_.walCommitMs) / 1000
    m("streaming.commitOffsets_s") = win(_.commitOffsetsMs) / 1000
    m("streaming.state_commit_s") = win(_.stateCommitMs) / 1000
    m("streaming.state_rows") = win(_.stateRows.toDouble)
    m("streaming.stop_s") = perStream((o, bs) => math.max(0.0, o.t1 - bs.map(_.endMs).max))
    // io, gdelt, report, nlp: the reference pipeline
    val charged = sampler.map(_.charged.toMap).getOrElse(Map.empty[String, Double])
    def sampled(k: String): Double = charged.getOrElse(k, 0.0) / 1000 / n
    m("io.json_read_s") = perPass(p => opsNamed(p, "gdelt_pipeline").map(o => o.t1 - o.t0).sum / 1000)
    m("io.parquet_write_s") = sampled("io.parquet_write_s")
    m("io.written_mb") = perPass(_.writtenB / mb)
    m("io.files_written") = perPass(_.writtenFiles.toDouble)
    Seq("gdelt.etl_s", "gdelt.features_s", "gdelt.stats_s", "gdelt.ml_fit_s", "gdelt.reports_s",
      "report.markdown_s", "report.png_s").foreach(k => m(k) = sampled(k))
    m("nlp.top_phrases_s") = perPass(p => opsNamed(p, "nlp_top_phrases").map(_.latencyS).sum)
    // jvm
    m("jvm.gc_s") = perPass(_.gcS)
    m("jvm.heap_peak_mb") = heapPeakMb
    // families
    modules.foreach(f => m(s"family.$f.s") = perPass(_.ops.filter(_.family == f).map(_.latencyS).sum))
    m("hygiene.violations") = hygiene.toDouble
    m("trace.overhead_s") = Stats.quantile(traced.map(_.wallS), 0.5) - Stats.quantile(plain.map(_.wallS), 0.5)
  }
}

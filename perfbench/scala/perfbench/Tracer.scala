package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed interval. `parent` is the id of the enclosing span (0 for
  * the run itself); `pass` and `query` identify where it happened. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
    parent: Int, pass: Int, query: String)

/** Counters one traced window (a pass) accumulates from the listeners. */
final class Window {
  var jobs, stages, tasks = 0L
  var schedDelayMs, taskRunMs, taskGcMs = 0.0
  var taskCpuNs = 0.0
  var shuffleReadB, shuffleWriteB, spillB, inputB = 0.0
  var maxSkew = 0.0
  var analysisMs, optimizerMs, planningMs = 0.0
  var batches, noDataBatches = 0L
  var getBatchMs, queryPlanningMs, addBatchMs, walCommitMs, commitOffsetsMs,
      stateCommitMs = 0.0
  var stateRows = 0L
}

/** A streaming micro-batch as its progress event reports it. */
final case class Batch(runId: String, startMs: Double, endMs: Double)

/** The traced run's collectors: a SparkListener (jobs, stages, tasks),
  * a QueryExecutionListener (Catalyst phase times of every action,
  * including the eager ones a registry call runs) and a
  * StreamingQueryListener (micro-batch phases and state). Listener data
  * arrives on the bus thread; readers drain the bus first
  * ([[org.apache.spark.perfbench.Internals.drainListenerBus]]). */
final class Tracer(spark: SparkSession) {
  private var window = new Window
  val jobs = ArrayBuffer.empty[(Double, Double)] // (start, end) epoch ms
  val batches = ArrayBuffer.empty[Batch]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  /** Swap in a fresh window and return the finished one. */
  def take(): Window = synchronized { val w = window; window = new Window; w }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      window.jobs += 1; jobStart(e.jobId) = e.time.toDouble
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time.toDouble)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        window.stages += 1
        val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
        stageTaskMs.remove(key).foreach { ts =>
          if (ts.size >= 2) {
            val sorted = ts.sorted
            val median = sorted(sorted.size / 2).toDouble
            if (median > 0) window.maxSkew = math.max(window.maxSkew, sorted.last / median)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = window
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        w.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime
        w.taskGcMs += m.jvmGCTime
        w.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        w.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputB += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val p = qe.tracker.phases
        def ms(phase: String) = p.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
        window.analysisMs += ms("analysis")
        window.optimizerMs += ms("optimization")
        window.planningMs += ms("planning")
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val w = window
        w.batches += 1
        if (p.numInputRows == 0) w.noDataBatches += 1
        w.getBatchMs += ms("getBatch")
        w.queryPlanningMs += ms("queryPlanning")
        w.addBatchMs += ms("addBatch")
        w.walCommitMs += ms("walCommit")
        w.commitOffsetsMs += ms("commitOffsets")
        p.stateOperators.foreach { s =>
          w.stateCommitMs += s.commitTimeMs
          w.stateRows += s.numRowsTotal
        }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        batches += Batch(p.runId.toString, start, start + ms("triggerExecution"))
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit =
    org.apache.spark.perfbench.Internals.drainListenerBus(spark.sparkContext)
}

object Intervals {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Samples the driver thread's stack while the reference pipeline runs
  * and charges the time between samples to the pipeline stage and the
  * engine module on the stack. `GdeltPipeline.run` is one call, so the
  * stage is read from the frame it called: the first `writeParquet` is
  * the ETL, everything up to the second one the feature table, then
  * analysis statistics, the ML fit, the Markdown reports and the PNG
  * graphs. */
final class StackSampler(target: Thread, periodMs: Long) extends Thread("perfbench-sampler") {
  setDaemon(true)
  @volatile private var running = true
  @volatile private var active = false
  val charged = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var lastWriteLine = -1
  private var writes = 0
  private var lastMs = Clock.nowMs

  def begin(): Unit = synchronized {
    lastWriteLine = -1; writes = 0; lastMs = Clock.nowMs; active = true
  }
  def end(): Unit = synchronized { sample(); active = false }
  def halt(): Unit = { running = false; join() }

  override def run(): Unit =
    while (running) {
      Thread.sleep(periodMs)
      synchronized { if (active) sample() }
    }

  private def sample(): Unit = {
    val now = Clock.nowMs
    val dt = now - lastMs
    lastMs = now
    val st = target.getStackTrace
    val runIdx = st.indexWhere(f =>
      f.getClassName == "graft.gdelt.GdeltPipeline$" && f.getMethodName == "run")
    if (runIdx > 0) {
      val callee = st(runIdx - 1)
      val cls = callee.getClassName
      val stage =
        if (cls == "graft.io.Tables$" && callee.getMethodName == "writeParquet") {
          val line = st(runIdx).getLineNumber
          if (line != lastWriteLine) { writes += 1; lastWriteLine = line }
          if (writes <= 1) "gdelt.etl_s" else "gdelt.features_s"
        } else if (cls.startsWith("graft.gdelt.GdeltEtl")) {
          if (writes == 0) "gdelt.etl_s" else "gdelt.features_s"
        } else if (cls.startsWith("graft.gdelt.GdeltAnalysis") || cls.startsWith("graft.queries.Q"))
          "gdelt.stats_s"
        else if (cls.startsWith("graft.gdelt.GdeltMl")) "gdelt.ml_fit_s"
        else if (cls.startsWith("graft.gdelt.GdeltReport") || cls.startsWith("graft.report.Markdown"))
          "gdelt.reports_s"
        else if (cls.startsWith("graft.gdelt.GdeltGraphs")) "report.png_s"
        else "gdelt.features_s" // parquet read-backs between the writes
      charged(stage) += dt
      val frames = st.take(runIdx)
      if (frames.exists(_.getClassName == "graft.io.Tables$")) charged("io.parquet_write_s") += dt
      if (frames.exists(_.getClassName.startsWith("graft.report.Markdown")))
        charged("report.markdown_s") += dt
    }
  }
}

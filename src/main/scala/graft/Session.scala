package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder behind Bench, Verify, ShowPlan, ScaleUp,
  * GdeltPipeline.main and the test session: `local[cores]` with as many
  * shuffle partitions, nanos-as-long parquet reads (see
  * graft.io.Tables.NANOS_AS_LONG), no UI, and the UTC session timezone —
  * with TIMESTAMP_NTZ events testdata the cast to TIMESTAMP is
  * session-tz dependent, so an unpinned session would run (and bucket)
  * different semantics per host timezone. */
object Session {

  def confs(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    graft.io.Tables.NANOS_AS_LONG -> "true",
    "spark.ui.enabled" -> "false")

  /** The session of [[confs]], with `extra` confs applied last (so a
    * caller may also override one of the five). */
  def local(cores: Int, extra: (String, String)*): SparkSession =
    (confs(cores) ++ extra).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}

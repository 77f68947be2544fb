package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: runMain graft.Verify <sfDir> <outDir> [name...] — with names,
  * only those queries are dumped and only their keys reach the json. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.io.Tables.NANOS_AS_LONG, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = dump(spark, sfDir, outDir, names)
    spark.stop()
    // a named run fails the process on any failed dump; the full run
    // leaves failures to the compare, which sees the missing dump dir
    if (names.nonEmpty && failed.nonEmpty) {
      System.err.println(s"[verify] FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Dumps the named queries (every query when `names` is empty) under
    * `outDir` and writes their oracle SQL; returns the names that threw.
    * Each query's old dump dir is deleted first, so a query that throws
    * leaves no dir behind for a compare to mistake for its result. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      names: Seq[String]): Seq[String] = {
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def wanted(name: String) = names.isEmpty || names.contains(name)
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter(kv => wanted(kv._1)).toSeq.flatMap {
      case (name, fn) =>
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(s"$outDir/$name"))
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Print registered queries' plans in any explain mode, each under a
  * `== <name>` header. A plan that cannot be built prints
  * `ERROR: <exception>` and the next name still runs. Queries whose
  * registration materializes eagerly (ML fits, elections, streaming
  * runs) execute while their plan is built.
  * Usage: runMain graft.tools.ShowPlan <name[,name...]> [mode] [sfDir] */
object ShowPlan {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val mode = if (args.length > 1) args(1) else "formatted"
    val dir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.io.Tables.NANOS_AS_LONG, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      println(s"== $name")
      println(
        try graft.queries.Registry.queries(name)(spark, dir)
          .queryExecution.explainString(ExplainMode.fromString(mode))
        catch { case e: Throwable => s"ERROR: $e" })
    }
    spark.stop()
  }
}

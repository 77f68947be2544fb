package graft.report

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** Markdown report sink (SURVEY.md §2.1 S7): the reference renders every
  * result as an f-string markdown table driver-side after collect(); this
  * is the engine's equivalent — a small driver-side renderer fed by
  * collected aggregate rows (always post-aggregation, never raw data). It
  * runs no Spark job: the caller collects.
  */
object Markdown {

  /** A collected (small, already-aggregated) result: its column names and
    * rows. */
  final case class Table(columns: Seq[String], rows: Seq[Row])

  /** Render a collected table as a GitHub table. */
  def table(t: Table): String = {
    val header = t.columns.mkString("| ", " | ", " |")
    val sep = t.columns.map(_ => "---").mkString("| ", " | ", " |")
    val body = t.rows.map(r =>
      t.columns.indices.map(i => Option(r.get(i)).map(_.toString).getOrElse(""))
        .mkString("| ", " | ", " |"))
    (Seq(header, sep) ++ body).mkString("\n")
  }

  def section(title: String, t: Table): String =
    s"## $title\n\n${table(t)}\n"

  def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, content)
  }
}

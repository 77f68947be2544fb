package graft.report

import java.awt.{BasicStroke, Color, Font, Graphics2D, RenderingHints}
import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Row}

/** S8: PNG chart sink — the one reference output class previously outside
  * the engine (reference gdelt/scripts/general_ml_and_source_sentiment_analysis.py:141-224
  * renders matplotlib PNGs from small aggregated pandas frames). Same
  * contract here: charts render DRIVER-SIDE from an already-aggregated
  * RESULT relation (a handful of rows — top-k, per-week shares, model
  * coefficients), never from a data-scale table; the distributed work is
  * the aggregation that produced the input. Pure java.awt/javax.imageio —
  * no plotting dependency exists in this environment, and none is needed
  * for bar geometry.
  *
  * Two chart forms cover the reference's published graphs:
  *  - [[hBarChart]]: horizontal bars with diverging positive/negative
  *    colors and a zero line (graph_feature_importance.png, reference
  *    :158-193);
  *  - [[groupedBarChart]]: per-category grouped vertical bars, one color
  *    per series (graph_share_of_voice.png, reference :208-224).
  * Palette follows the reference's published hex values (:167, :212). */
object Charts {

  val Red = new Color(0xee, 0x1b, 0x27)
  val Blue = new Color(0x00, 0x3e, 0x96)
  val Navy = new Color(0x1e, 0x3a, 0x8a)
  private val SeriesColors = Array(Blue, Red, Navy)
  // chart chrome (title/axes/labels/legend text) deliberately does NOT
  // reuse a series color — series 3 (Navy) must stay distinguishable
  // from the axis/label ink
  private val Chrome = new Color(0x33, 0x33, 0x33)

  private val Margin = 60

  private def canvas(w: Int, h: Int): (BufferedImage, Graphics2D) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setRenderingHint(RenderingHints.KEY_ANTIALIASING,
      RenderingHints.VALUE_ANTIALIAS_ON)
    g.setColor(Color.WHITE)
    g.fillRect(0, 0, w, h)
    (img, g)
  }

  private def title(g: Graphics2D, text: String, w: Int): Unit = {
    g.setColor(Chrome)
    g.setFont(new Font(Font.SANS_SERIF, Font.BOLD, 14))
    val fm = g.getFontMetrics
    g.drawString(text, math.max(0, (w - fm.stringWidth(text)) / 2), 24)
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** F17 label truncation (reference network_analysis.py:167 renders node
    * labels as `n[:15] + ".."`): labels longer than `max` chars are cut to
    * the first `max` and suffixed with ".." so long entity names can't
    * collide with the bars. Truncation is per-RENDERED-label only — data
    * values are never touched (the reference applies it the same way,
    * display-side). */
  private[report] def truncateLabel(s: String, max: Int = 15): String =
    if (s.length > max) s.take(max) + ".." else s

  /** Horizontal bar chart; positive values red, negative blue, zero line
    * drawn where the axis crosses. Returns PNG bytes. */
  def hBarChart(labels: Seq[String], values: Seq[Double], chartTitle: String,
      w: Int = 880, h: Int = 480): Array[Byte] = {
    require(labels.length == values.length && labels.nonEmpty,
      "labels/values must be same-length and non-empty")
    // every row needs a few pixels or integer rowH collapses to 0 and
    // bars overdraw at the top — grow the canvas with the label count
    // instead (charts render small aggregated relations, so this stays
    // bounded in practice)
    val minRowH = 12
    val hEff = math.max(h, labels.length * minRowH + 2 * Margin)
    val (img, g) = canvas(w, hEff)
    title(g, chartTitle, w)
    val lo = math.min(0.0, values.min)
    val hi = math.max(0.0, values.max)
    val span = math.max(hi - lo, 1e-12)
    val plotW = w - 2 * Margin
    val plotH = hEff - 2 * Margin
    def x(v: Double): Int = Margin + ((v - lo) / span * plotW).round.toInt
    val rowH = plotH / labels.length
    val barH = math.max(4, (rowH * 0.6).toInt)
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 11))
    labels.indices.foreach { i =>
      val top = Margin + i * rowH + (rowH - barH) / 2
      val v = values(i)
      g.setColor(if (v > 0) Red else Blue)
      val (bx, bw) = if (v >= 0) (x(0), x(v) - x(0)) else (x(v), x(0) - x(v))
      g.fillRect(bx, top, math.max(1, bw), barH)
      g.setColor(Chrome)
      g.drawString(truncateLabel(labels(i)), 4, top + barH / 2 + 4)
    }
    g.setColor(Chrome)
    g.setStroke(new BasicStroke(1f))
    g.drawLine(x(0), Margin - 8, x(0), Margin + plotH + 8) // zero line
    g.dispose()
    png(img)
  }

  /** Grouped vertical bar chart: one bar group per category, one color
    * per series, simple legend. Returns PNG bytes. */
  def groupedBarChart(categories: Seq[String],
      series: Seq[(String, Seq[Double])], chartTitle: String,
      w: Int = 800, h: Int = 480): Array[Byte] = {
    require(categories.nonEmpty && series.nonEmpty, "empty chart")
    require(series.forall(_._2.length == categories.length),
      "every series needs one value per category")
    require(series.forall(_._2.forall(_ >= 0.0)),
      "groupedBarChart plots non-negative values (shares/counts); " +
        "diverging data belongs in hBarChart")
    val (img, g) = canvas(w, h)
    title(g, chartTitle, w)
    val hi = math.max(series.flatMap(_._2).max, 1e-12)
    val plotW = w - 2 * Margin
    val plotH = h - 2 * Margin
    val groupW = plotW / categories.length
    val barW = math.max(3, (groupW * 0.8 / series.length).toInt)
    val baseY = Margin + plotH
    g.setFont(new Font(Font.SANS_SERIF, Font.PLAIN, 11))
    categories.indices.foreach { c =>
      series.indices.foreach { s =>
        val v = math.max(0.0, series(s)._2(c))
        val bh = (v / hi * plotH).round.toInt
        val bx = Margin + c * groupW + (groupW - barW * series.length) / 2 + s * barW
        g.setColor(SeriesColors(s % SeriesColors.length))
        g.fillRect(bx, baseY - bh, barW, math.max(if (v > 0) 1 else 0, bh))
      }
      g.setColor(Chrome)
      val fm = g.getFontMetrics
      val catLabel = truncateLabel(categories(c))
      g.drawString(catLabel,
        Margin + c * groupW + (groupW - fm.stringWidth(catLabel)) / 2,
        baseY + 16)
    }
    // legend
    series.indices.foreach { s =>
      val lx = Margin + s * 140
      g.setColor(SeriesColors(s % SeriesColors.length))
      g.fillRect(lx, 34, 10, 10)
      g.setColor(Chrome)
      // legend slots are 140 px apart; truncate like every other label site
      g.drawString(truncateLabel(series(s)._1), lx + 14, 44)
    }
    g.setColor(Chrome)
    g.drawLine(Margin, baseY, Margin + plotW, baseY)
    g.dispose()
    png(img)
  }

  /** DataFrame-facing sink: collect the SMALL aggregated result
    * (labelCol, valueCol) in its own order and write a horizontal bar
    * PNG. The collect is the same driver-side step the reference's
    * `pandas.plot` performs — results only, never data-scale tables. */
  def writeHBarChartPng(df: DataFrame, labelCol: String, valueCol: String,
      chartTitle: String, path: String): Unit = {
    val rows = df.select(labelCol, valueCol).collect()
    val bytes = hBarChart(
      rows.map(r => String.valueOf(r.get(0))).toSeq, // null key → "null" bar
      rows.map(r => asDouble(r.get(1))).toSeq, chartTitle)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  /** DataFrame-facing sink: (categoryCol, seriesCols*) → grouped bar PNG. */
  def writeGroupedBarChartPng(df: DataFrame, categoryCol: String,
      seriesCols: Seq[String], chartTitle: String, path: String): Unit =
    writeGroupedBarChartPng(df.select((categoryCol +: seriesCols)
        .map(org.apache.spark.sql.functions.col): _*).collect().toSeq,
      categoryCol, seriesCols, chartTitle, path)

  /** As above, from already-collected rows (named fields). */
  def writeGroupedBarChartPng(rows: Seq[Row], categoryCol: String,
      seriesCols: Seq[String], chartTitle: String, path: String): Unit = {
    val bytes = groupedBarChart(
      // null key → "null" bar
      rows.map(r => String.valueOf(r.getAs[Any](categoryCol))),
      seriesCols.map(name => name -> rows.map(r => asDouble(r.getAs[Any](name)))),
      chartTitle)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
  }

  private def asDouble(v: Any): Double = v match {
    case null => 0.0
    case n: Number => n.doubleValue()
    case other => other.toString.toDouble
  }
}

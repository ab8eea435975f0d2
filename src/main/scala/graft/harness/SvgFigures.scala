package graft.harness

import java.util.Locale

import org.apache.spark.sql.DataFrame

import graft.stats.LocalBattery.quantile7

/** Vector FIGURE RENDERER for the reference's two published plots —
  * closing the one remaining surface gap ("figure frames emitted, no
  * graphics device"): the engine renders `figures/sample_size_se` and
  * `figures/estimates_400_400` (simulation.R:310-397 and :399-436)
  * itself, as standalone SVG built by deterministic string emission (no
  * graphics dependency; converting the vector output to PDF is a
  * viewer/`rsvg-convert` step — the drawing decisions ARE the data
  * work, the container format is presentation).
  *
  * Faithful to the reference's figure DESIGN, not a pixel clone of R's
  * base-graphics output: the same 9-color method palette
  * (simulation.R:286-307), the same log-log axes and tick sets for the
  * SE curves (x at 25…6,400, y at .25…8 — simulation.R:325-346), the
  * same legend-then-four-panels layout at the same 12:2.5 aspect, and
  * the same boxplot semantics (2 coefficient groups × 9 methods with
  * ET-WCLS-Equal excluded per simulation.R:415-416, R type-7 quartile
  * boxes, 1.5×IQR whiskers, outlier points, the y=0 reference line
  * from group coordinate 0.4 to 2.6 — ggplot's `geom_boxplot`
  * defaults, simulation.R:420-436).
  *
  * All numbers are formatted with Locale.ROOT at fixed precision, and
  * the input frames are sorted before drawing, so the byte output is
  * reproducible (SvgFiguresSpec pins the committed files).
  */
object SvgFigures {

  /** simulation.R:286-307 `method_colors` (Tableau 10-ish palette). */
  val methodColors: Map[String, String] = Map(
    "WCLS-Internal"     -> "#5778a4",
    "WCLS-Pooled"       -> "#e49444",
    "P-WCLS-Internal"   -> "#d1615d",
    "P-WCLS-Pooled"     -> "#85b6b2",
    "P-WCLS-Pooled-Obs" -> "#6a9f58",
    "ET-WCLS-Kron"      -> "#e7ca60",
    "ET-WCLS"           -> "#a87c9f",
    "DR-WCLS"           -> "#f1a2a9",
    "PET-WCLS"          -> "#967662")

  private def f(v: Double): String = "%.2f".formatLocal(Locale.ROOT, v)

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  // ---- figure 1: sample_size_se (simulation.R:310-397) ---------------

  private val SampleSizes = Seq(25, 100, 400, 1600, 6400)
  private val YTicks = Seq(0.25, 0.5, 1.0, 2.0, 4.0, 8.0)
  private val YTickLabels = Seq(".25", ".5", "1", "2", "4", "8")

  /** Render the 4-panel log-log SE-vs-sample-size figure from
    * [[FigureFrames.seCurveFrame]]'s output (the committed
    * `fig_se_curve` shape: panel, coef, method, x, empirical_se). */
  def seCurveSvg(frame: DataFrame): String = {
    val rows = frame.select("panel", "coef", "method", "x", "empirical_se")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getDouble(4)))
      .sortBy { case (p, c, m, x, _) => (p, c, m, x) }
    require(rows.nonEmpty, "empty SE-curve frame")

    val w = 1200.0; val h = 250.0
    val panels = Seq( // (title letter, coef, panel slice, x-axis label)
      ("(a)", "Intercept", "internal_100", "n external"),
      ("(b)", "Slope", "internal_100", "n external"),
      ("(c)", "Intercept", "external_100", "n internal"),
      ("(d)", "Slope", "external_100", "n internal"))
    val methods = FigureFrames.seCurveMethods
    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="${w.toInt}" height="${h.toInt}" viewBox="0 0 ${w.toInt} ${h.toInt}" font-family="Helvetica, Arial, sans-serif">\n"""
    sb ++= s"""<rect width="${w.toInt}" height="${h.toInt}" fill="white"/>\n"""

    // legend block (simulation.R:317) + rotated shared y-axis title
    methods.zipWithIndex.foreach { case (m, i) =>
      val y = 50 + i * 24
      sb ++= s"""<line x1="18" y1="$y" x2="48" y2="$y" stroke="${methodColors(m)}" stroke-width="2"/>\n"""
      sb ++= s"""<text x="54" y="${y + 4}" font-size="13">${esc(m)}</text>\n"""
    }
    sb ++= s"""<text x="200" y="135" font-size="14" transform="rotate(-90 200 135)" text-anchor="middle">Standard Error</text>\n"""

    val (lx0, lx1, ly0, ly1) = (math.log10(20.0), math.log10(6800.0),
      math.log10(0.2), math.log10(8.0))
    panels.zipWithIndex.foreach { case ((letter, coef, panel, xlab), pi) =>
      val px0 = 255.0 + pi * 238.0; val pw = 200.0
      val py0 = 30.0; val ph = 160.0
      def xm(v: Double) = px0 + (math.log10(v) - lx0) / (lx1 - lx0) * pw
      def ym(v: Double) = py0 + ph - (math.log10(v) - ly0) / (ly1 - ly0) * ph
      val sub = if (panel == "internal_100") "internal" else "external"
      sb ++= s"""<text x="${f(px0 + pw / 2)}" y="20" font-size="13" text-anchor="middle">$letter $coef, n $sub = 100</text>\n"""
      // frame + clip: a series outside the reference's fixed ylim
      // (0.2..8) clips at the panel edge, as base R's plot region does
      sb ++= s"""<clipPath id="p$pi"><rect x="${f(px0)}" y="${f(py0)}" width="${f(pw)}" height="${f(ph)}"/></clipPath>\n"""
      sb ++= s"""<rect x="${f(px0)}" y="${f(py0)}" width="${f(pw)}" height="${f(ph)}" fill="none" stroke="black" stroke-width="1"/>\n"""
      // x ticks (simulation.R:345-346) with R's comma formatting
      SampleSizes.foreach { t =>
        val lbl = if (t >= 1000) "%,d".formatLocal(Locale.ROOT, t) else t.toString
        sb ++= s"""<line x1="${f(xm(t))}" y1="${f(py0 + ph)}" x2="${f(xm(t))}" y2="${f(py0 + ph + 4)}" stroke="black"/>\n"""
        sb ++= s"""<text x="${f(xm(t))}" y="${f(py0 + ph + 16)}" font-size="10" text-anchor="middle">$lbl</text>\n"""
      }
      sb ++= s"""<text x="${f(px0 + pw / 2)}" y="${f(py0 + ph + 32)}" font-size="12" text-anchor="middle">$xlab</text>\n"""
      // y ticks (simulation.R:341-344)
      YTicks.zip(YTickLabels).foreach { case (t, lbl) =>
        sb ++= s"""<line x1="${f(px0 - 4)}" y1="${f(ym(t))}" x2="${f(px0)}" y2="${f(ym(t))}" stroke="black"/>\n"""
        sb ++= s"""<text x="${f(px0 - 7)}" y="${f(ym(t) + 3)}" font-size="10" text-anchor="end">$lbl</text>\n"""
      }
      // one type="b" series per method (line + point markers)
      sb ++= s"""<g clip-path="url(#p$pi)">\n"""
      methods.foreach { m =>
        val pts = rows.filter(r => r._1 == panel && r._2 == coef && r._3 == m)
          .sortBy(_._4).map(r => (xm(r._4.toDouble), ym(r._5)))
        if (pts.nonEmpty) {
          val path = pts.map { case (x, y) => s"${f(x)},${f(y)}" }.mkString(" ")
          sb ++= s"""<polyline points="$path" fill="none" stroke="${methodColors(m)}" stroke-width="2"/>\n"""
          pts.foreach { case (x, y) =>
            sb ++= s"""<circle cx="${f(x)}" cy="${f(y)}" r="2.5" fill="white" stroke="${methodColors(m)}" stroke-width="1.5"/>\n"""
          }
        }
      }
      sb ++= "</g>\n"
    }
    sb ++= "</svg>\n"
    sb.toString
  }

  // ---- figure 2: estimates_400_400 (simulation.R:399-436) ------------

  private case class Box(coefNum: Int, methodNum: Int, method: String,
                         q1: Double, med: Double, q3: Double,
                         loWhisk: Double, hiWhisk: Double,
                         outliers: Seq[Double])

  /** Render the grouped estimation-error boxplot figure from
    * [[FigureFrames.boxplotFrame]]'s output (the committed
    * `fig_boxplot_400_400` shape). Box statistics follow ggplot's
    * `geom_boxplot` defaults: type-7 quartiles, whiskers to the most
    * extreme value within 1.5×IQR, points beyond drawn as outliers. */
  def boxplotSvg(frame: DataFrame): String = {
    val rows = frame
      .select("coefficient", "coefficient_number", "method", "method_number",
        "estimation_error")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getInt(3),
        r.getDouble(4)))
    require(rows.nonEmpty, "empty boxplot frame")

    val boxes = rows.groupBy(r => (r._2, r._4)).toSeq.sortBy(_._1).map {
      case ((coefNum, methodNum), rs) =>
        val vals = rs.map(_._5).sorted
        val q1 = quantile7(vals, 0.25); val med = quantile7(vals, 0.5)
        val q3 = quantile7(vals, 0.75)
        val iqr = q3 - q1
        val inside = vals.filter(v => v >= q1 - 1.5 * iqr && v <= q3 + 1.5 * iqr)
        Box(coefNum, methodNum, rs.head._3, q1, med, q3,
          inside.min, inside.max,
          vals.filter(v => v < q1 - 1.5 * iqr || v > q3 + 1.5 * iqr).toSeq)
    }
    val methodsInOrder = boxes.filter(_.coefNum == 1).sortBy(_.methodNum)
      .map(b => (b.methodNum, b.method))

    val w = 1000.0; val h = 300.0
    val (px0, pw, py0, ph) = (80.0, 700.0, 15.0, 230.0)
    val allVals = boxes.flatMap(b => b.loWhisk +: b.hiWhisk +: b.outliers)
    require(allVals.max > allVals.min,
      "degenerate boxplot input (all estimation errors identical) — nothing to scale")
    val pad = 0.05 * (allVals.max - allVals.min)
    val (vLo, vHi) = (math.min(allVals.min - pad, -pad), allVals.max + pad)
    def ym(v: Double) = py0 + ph - (v - vLo) / (vHi - vLo) * ph
    // ggplot discrete x: coefficient groups centered at u=1 and u=2 on
    // a [0.4, 2.6] panel range (the reference's zero-line endpoints)
    def xu(u: Double) = px0 + (u - 0.4) / (2.6 - 0.4) * pw
    val nM = methodsInOrder.size
    val groupWidth = 0.75 // ggplot's default total dodge width
    val boxW = groupWidth / nM

    val sb = new StringBuilder
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="${w.toInt}" height="${h.toInt}" viewBox="0 0 ${w.toInt} ${h.toInt}" font-family="Helvetica, Arial, sans-serif">\n"""
    sb ++= s"""<rect width="${w.toInt}" height="${h.toInt}" fill="white"/>\n"""
    sb ++= s"""<rect x="${f(px0)}" y="${f(py0)}" width="${f(pw)}" height="${f(ph)}" fill="#ebebeb"/>\n"""
    // y axis: ~6 round ticks
    val step = {
      val raw = (vHi - vLo) / 5
      val mag = math.pow(10, math.floor(math.log10(raw)))
      Seq(1, 2, 5, 10).map(_ * mag).find(_ >= raw).getOrElse(10 * mag)
    }
    var t = math.ceil(vLo / step) * step
    while (t <= vHi) {
      sb ++= s"""<line x1="${f(px0)}" y1="${f(ym(t))}" x2="${f(px0 + pw)}" y2="${f(ym(t))}" stroke="white" stroke-width="1"/>\n"""
      sb ++= s"""<text x="${f(px0 - 6)}" y="${f(ym(t) + 3)}" font-size="11" text-anchor="end">${f(t)}</text>\n"""
      t += step
    }
    sb ++= s"""<text x="22" y="${f(py0 + ph / 2)}" font-size="13" transform="rotate(-90 22 ${f(py0 + ph / 2)})" text-anchor="middle">Estimation Error: beta_r_hat - beta_r</text>\n"""
    // the reference's y=0 segment from group coordinate 0.4 to 2.6
    sb ++= s"""<line x1="${f(xu(0.4))}" y1="${f(ym(0.0))}" x2="${f(xu(2.6))}" y2="${f(ym(0.0))}" stroke="black" stroke-width="0.6"/>\n"""
    // grouped boxes
    boxes.sortBy(b => (b.coefNum, b.methodNum)).foreach { b =>
      val slot = methodsInOrder.indexWhere(_._1 == b.methodNum)
      val cx = xu(b.coefNum - groupWidth / 2 + (slot + 0.5) * boxW)
      val bw = xu(0.4 + boxW) - xu(0.4) - 2.0
      val x0 = cx - bw / 2
      val color = methodColors(b.method)
      sb ++= s"""<line x1="${f(cx)}" y1="${f(ym(b.hiWhisk))}" x2="${f(cx)}" y2="${f(ym(b.q3))}" stroke="black" stroke-width="0.8"/>\n"""
      sb ++= s"""<line x1="${f(cx)}" y1="${f(ym(b.q1))}" x2="${f(cx)}" y2="${f(ym(b.loWhisk))}" stroke="black" stroke-width="0.8"/>\n"""
      sb ++= s"""<rect x="${f(x0)}" y="${f(ym(b.q3))}" width="${f(bw)}" height="${f(ym(b.q1) - ym(b.q3))}" fill="$color" stroke="black" stroke-width="0.8"/>\n"""
      sb ++= s"""<line x1="${f(x0)}" y1="${f(ym(b.med))}" x2="${f(x0 + bw)}" y2="${f(ym(b.med))}" stroke="black" stroke-width="1.4"/>\n"""
      b.outliers.sorted.foreach { o =>
        sb ++= s"""<circle cx="${f(cx)}" cy="${f(ym(o))}" r="1.8" fill="black"/>\n"""
      }
    }
    // group labels + legend
    Seq((1, "Intercept"), (2, "Slope")).foreach { case (g, lbl) =>
      sb ++= s"""<text x="${f(xu(g.toDouble))}" y="${f(py0 + ph + 18)}" font-size="13" text-anchor="middle">$lbl</text>\n"""
    }
    sb ++= s"""<text x="${f(px0 + pw / 2)}" y="${f(py0 + ph + 36)}" font-size="13" text-anchor="middle">Coefficient</text>\n"""
    sb ++= s"""<text x="${f(px0 + pw + 20)}" y="30" font-size="13">Method</text>\n"""
    methodsInOrder.zipWithIndex.foreach { case ((_, m), i) =>
      val y = 44 + i * 22
      sb ++= s"""<rect x="${f(px0 + pw + 20)}" y="${f(y - 9)}" width="14" height="14" fill="${methodColors(m)}" stroke="black" stroke-width="0.5"/>\n"""
      sb ++= s"""<text x="${f(px0 + pw + 40)}" y="${f(y + 2)}" font-size="12">${esc(m)}</text>\n"""
    }
    sb ++= "</svg>\n"
    sb.toString
  }
}

package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.analyze.WeatherFacts

/** S13 figure sink (analyze.py:308-491): the reference renders 5 matplotlib
  * PNGs; here the same five visualizations render as dependency-free SVG
  * (no codec/plot libs in scope — SVG is plain XML, byte-deterministic,
  * and any browser/Grafana panel displays it).
  *
  * Scale posture: the per-city means, daily means, condition counts,
  * temperature range and regression line come from the collected
  * [[graft.analyze.WeatherFacts]] (one aggregate, shared with the analysis
  * document); only the fixed-width histogram bins and a bounded
  * deterministic scatter sample query the table again. Every collect is
  * O(cities·days) / O(bins) / the sample size, never O(rows), so the sink
  * is safe at any input scale.
  */
object Figures {

  private val W = 640
  private val H = 400
  private val Margin = 48
  private val Colors = Seq("#4e79a7", "#f28e2b", "#e15759", "#76b7b2", "#59a14f",
    "#edc948", "#b07aa1", "#ff9da7", "#9c755f", "#bab0ac")

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def fmt(d: Double): String = f"$d%.2f"

  private def svg(title: String, body: String): String =
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$W" height="$H" viewBox="0 0 $W $H">
       |<rect width="$W" height="$H" fill="white"/>
       |<text x="${W / 2}" y="20" text-anchor="middle" font-size="14" font-family="sans-serif">${esc(title)}</text>
       |$body
       |</svg>
       |""".stripMargin

  /** Linear scale from data range to pixel range (guards zero span). */
  private def scale(lo: Double, hi: Double, plo: Double, phi: Double): Double => Double = {
    val span = if (hi == lo) 1.0 else hi - lo
    v => plo + (v - lo) / span * (phi - plo)
  }

  /** Vertical bar chart: one bar per (label, value). */
  def barChartSvg(title: String, data: Seq[(String, Double)]): String = {
    if (data.isEmpty) return svg(title, "")
    val hi = math.max(data.map(_._2).max, 0.0)
    val lo = math.min(data.map(_._2).min, 0.0)
    val y = scale(lo, hi, (H - Margin).toDouble, Margin.toDouble)
    val bw = (W - 2 * Margin).toDouble / data.size
    val bars = data.zipWithIndex.map { case ((label, v), i) =>
      val x = Margin + i * bw
      val top = math.min(y(v), y(0.0)); val bot = math.max(y(v), y(0.0))
      s"""<rect x="${fmt(x + bw * 0.1)}" y="${fmt(top)}" width="${fmt(bw * 0.8)}" height="${fmt(bot - top)}" fill="${Colors(i % Colors.size)}"/>
         |<text x="${fmt(x + bw / 2)}" y="${H - Margin + 16}" text-anchor="middle" font-size="10" font-family="sans-serif">${esc(label)}</text>
         |<text x="${fmt(x + bw / 2)}" y="${fmt(top - 4)}" text-anchor="middle" font-size="9" font-family="sans-serif">${fmt(v)}</text>""".stripMargin
    }
    svg(title, bars.mkString("\n"))
  }

  /** Multi-series line chart: series name → ordered (x-label, value). */
  def lineChartSvg(title: String, series: Seq[(String, Seq[(String, Double)])]): String = {
    val all = series.flatMap(_._2.map(_._2))
    if (all.isEmpty) return svg(title, "")
    val y = scale(all.min, all.max, (H - Margin).toDouble, Margin.toDouble)
    val n = series.map(_._2.size).max
    val x = scale(0.0, math.max(n - 1, 1).toDouble, Margin.toDouble, (W - Margin).toDouble)
    val lines = series.zipWithIndex.map { case ((name, pts), si) =>
      val path = pts.zipWithIndex
        .map { case ((_, v), i) => s"${fmt(x(i.toDouble))},${fmt(y(v))}" }
        .mkString(" ")
      s"""<polyline points="$path" fill="none" stroke="${Colors(si % Colors.size)}" stroke-width="1.5"/>
         |<text x="${W - Margin + 4}" y="${Margin + 14 * si + 10}" font-size="10" font-family="sans-serif" fill="${Colors(si % Colors.size)}">${esc(name)}</text>""".stripMargin
    }
    svg(title, lines.mkString("\n"))
  }

  /** Histogram from precomputed (binStart, count) pairs. */
  def histogramSvg(title: String, bins: Seq[(Double, Long)]): String =
    barChartSvg(title, bins.map { case (b, c) => fmt(b) -> c.toDouble })

  /** Scatter + fitted line (slope/intercept from the regression agg). */
  def scatterSvg(title: String, points: Seq[(Double, Double)],
                 slope: Double, intercept: Double): String = {
    if (points.isEmpty) return svg(title, "")
    val xs = points.map(_._1); val ys = points.map(_._2)
    val x = scale(xs.min, xs.max, Margin.toDouble, (W - Margin).toDouble)
    val yLine = Seq(xs.min, xs.max).map(v => intercept + slope * v)
    val y = scale(math.min(ys.min, yLine.min), math.max(ys.max, yLine.max),
      (H - Margin).toDouble, Margin.toDouble)
    val dots = points.map { case (px, py) =>
      s"""<circle cx="${fmt(x(px))}" cy="${fmt(y(py))}" r="2" fill="${Colors.head}" fill-opacity="0.6"/>"""
    }
    val trend =
      s"""<line x1="${fmt(x(xs.min))}" y1="${fmt(y(yLine.head))}" x2="${fmt(x(xs.max))}" y2="${fmt(y(yLine(1)))}" stroke="${Colors(2)}" stroke-width="1.5"/>"""
    svg(title, (dots :+ trend).mkString("\n"))
  }

  /** The reference's five figures (analyze.py:308-491) over the clean
    * weather table. Returns the written paths.
    */
  def writeFigures(clean: DataFrame, dir: String, scatterSample: Int = 500): Seq[String] =
    write(WeatherFacts.collect(clean, wind = None), clean, dir, scatterSample)

  /** The five figures from `clean`'s collected facts: only the histogram
    * bins and the scatter sample read `clean` again.
    */
  def write(facts: WeatherFacts, clean: DataFrame, dir: String,
            scatterSample: Int = 500): Seq[String] = {
    Files.createDirectories(Paths.get(dir))
    def save(name: String, content: String): String = {
      val p = Paths.get(dir, name)
      Files.write(p, content.getBytes(StandardCharsets.UTF_8))
      p.toString
    }
    def mean(r: Row) = WeatherFacts.double(r, "temperature_mean")
    // 1. avg temperature by city, desc (analyze.py:343 bar chart); a city
    // whose temperatures are all null has no mean, so no bar
    val byCity = facts.cities.flatMap(r => mean(r).map(r.getAs[String]("city") -> _))
      .sortBy(t => (t._2, t._1))(Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.String))
    // 2. daily avg temperature per city (time-series lines)
    val daily = facts.cityDays
      .flatMap(r => mean(r).zip(Option(r.getAs[Date]("date")))
        .map { case (m, d) => (r.getAs[String]("city"), d.toString, m) })
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) => c -> rows.map(t => t._2 -> t._3) }
    // 3. temperature histogram: 10 fixed-width bins computed engine-side.
    // min/max over ZERO rows (or all-null temperature) are null — render an
    // empty histogram instead of NPEing the load phase
    val overall = WeatherFacts.double(facts.overall, _)
    val range = overall("temperature_min").zip(overall("temperature_max"))
    val hist = range.fold(Seq.empty[(Double, Long)]) { case (tLo, tHi) =>
      val width = if (tHi == tLo) 1.0 else (tHi - tLo) / 10.0
      clean
        .select(least(floor((col("temperature") - tLo) / width), lit(9)).cast("int").as("bin"))
        .filter(col("bin").isNotNull)
        .groupBy("bin").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).sorted.toSeq
        .map { case (b, n) => (tLo + b * width, n) }
    }
    // 4. weather condition distribution (analyze.py:404's value_counts bar)
    val conds = facts.conditions
      .flatMap(r => Option(r.getAs[String]("condition")).map(_ -> r.getAs[Long]("n")))
      .sortBy { case (k, n) => (-n, k) }
      .map { case (k, n) => k -> n.toDouble }
    // 5. temp vs humidity scatter + regression line (analyze.py:430-448);
    // deterministic bounded sample: first N by (city, timestamp)
    val pts = clean.select(col("temperature"), col("humidity"), col("city"), col("timestamp"))
      .na.drop(Seq("temperature", "humidity"))
      .orderBy("city", "timestamp").limit(scatterSample)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    Seq(
      save("temp_by_city.svg", barChartSvg("Average temperature by city", byCity)),
      save("daily_temp.svg", lineChartSvg("Daily average temperature", daily)),
      save("temp_histogram.svg", histogramSvg("Temperature distribution", hist)),
      save("conditions.svg", barChartSvg("Weather condition distribution", conds)),
      save("temp_vs_humidity.svg", scatterSvg("Temperature vs humidity", pts,
        overall("slope").getOrElse(0.0), overall("intercept").getOrElse(0.0))))
  }
}

package graft.cli

import java.nio.file.{Files, Path}

/** Dependency-free SVG renderer for the condition timeline plot —
  * the reference's `broken_barh` figure (tsa/condition.py:448-554) as a
  * vector document instead of a matplotlib PNG: one half-height lane
  * per block (reference alpha 0.5, height 0.5), a full-height master
  * lane (height 0.8, opaque), the reference's exact lane colors
  * (true `#f03b20`, false `#2b83ba`, unknown `#bababa`), month
  * gridlines labeled `%m/%y`, the raw logic annotated above each lane,
  * and y-axis labels naming the aliases + `master`.
  *
  * The layout lives here once: [[draw]] walks the figure for the SVG
  * and [[RasterTimeline]] sinks, and [[Pptx]] takes the colours, lane
  * style and time extent for its EMU geometry.
  *
  * The input is the engine's condition frame COLLECTED to rows — a
  * report figure is inherently driver-sized (the pack kernel run-length
  * compresses validity into at most thousands of ranges per condition;
  * a plot with more ranges than pixels is unreadable anyway), and
  * TsaBatch already collects the same frame for the summary sheet.
  */
object SvgTimeline {

  /** One validity range: epoch-second bounds + per-lane 3VL values
    * (block values in block order, then master last).
    */
  final case class Range(fromSec: Long, untilSec: Long, lanes: Seq[Option[Boolean]])

  /** Lane label + the logic annotation above it (reference annotates
    * `raw_logic` per block and `alias_condition` above master).
    */
  final case class Lane(label: String, annotation: String)

  /** 0xRRGGBB lane colour of a 3VL value. */
  private[cli] def laneColor(v: Option[Boolean]): Int = v match {
    case Some(true) => 0xF03B20
    case Some(false) => 0x2B83BA
    case None => 0xBABABA
  }

  private[cli] val GridColor = 0xE5E5E5

  /** Lane height (share of the lane slot) and opacity, in integer
    * percent so the deck's EMU geometry stays integer arithmetic.
    */
  private[cli] final case class LaneStyle(heightPct: Int, alphaPct: Int)

  /** Blocks first (half-height, alpha .5), master last (0.8, opaque). */
  private[cli] def laneStyle(isMaster: Boolean): LaneStyle =
    if (isMaster) LaneStyle(80, 100) else LaneStyle(50, 50)

  /** Time extent of the ranges; `span` is at least one second. */
  private[cli] final case class Extent(t0: Long, t1: Long) {
    val span: Long = math.max(1L, t1 - t0)
  }

  private[cli] def extent(ranges: Seq[Range]): Extent =
    Extent(ranges.map(_.fromSec).min, ranges.map(_.untilSec).max)

  private val LeftPad = 110  // y labels
  private val TopPad = 8
  private val BottomPad = 28 // x labels

  /** The logical page: `width` × `height` px, lanes stacked from the
    * top pad, the time axis at `axisY`.
    */
  private[cli] final case class Frame(width: Int, laneHeight: Int, nLanes: Int) {
    require(nLanes > 0, "at least the master lane is required")
    val height: Int = TopPad + nLanes * laneHeight + BottomPad
    val plotW: Int = width - LeftPad - 12
    val axisY: Int = height - BottomPad
  }

  /** The figure's primitives in logical px; each sink anchors its own
    * text (SVG at the baseline, the raster's bitmap font top-left).
    */
  private[cli] trait Sink {
    def bar(x: Double, y: Double, w: Double, h: Double, rgb: Int, alpha: Double): Unit
    def gridline(x: Double, top: Int, bottom: Int): Unit
    def monthLabel(x: Double, axisY: Int, text: String): Unit
    def laneLabel(x: Int, yMid: Double, text: String): Unit
    def annotation(x: Double, laneTop: Double, text: String): Unit
  }

  /** Walk the figure: month grid, then per lane its bars, label and
    * annotation. With no ranges only the frame is drawn.
    */
  private[cli] def draw(f: Frame, lanes: Seq[Lane], ranges: Seq[Range], sink: Sink): Unit =
    if (ranges.nonEmpty) {
      val ext = extent(ranges)
      def x(t: Long): Double = LeftPad + (t - ext.t0).toDouble / ext.span * f.plotW

      // month gridlines at UTC month starts, labeled %m/%y (reference
      // MonthLocator + DateFormatter('%m/%y')); skipped when the span
      // contains none (sub-month plots keep just the frame)
      val utc = java.time.ZoneOffset.UTC
      var m = java.time.Instant.ofEpochSecond(ext.t0).atZone(utc).toLocalDate.withDayOfMonth(1)
      while (m.atStartOfDay(utc).toEpochSecond < ext.t1) {
        val ms = m.atStartOfDay(utc).toEpochSecond
        if (ms >= ext.t0) {
          sink.gridline(x(ms), TopPad, f.axisY)
          sink.monthLabel(x(ms), f.axisY, f"${m.getMonthValue}%02d/${m.getYear % 100}%02d")
        }
        m = m.plusMonths(1)
      }

      for ((lane, li) <- lanes.zipWithIndex) {
        val style = laneStyle(li == lanes.size - 1)
        val hFrac = style.heightPct / 100.0
        val yTop = TopPad + li * f.laneHeight + f.laneHeight * (1.0 - hFrac) / 2
        val h = f.laneHeight * hFrac
        for (r <- ranges) {
          val rx = x(r.fromSec)
          sink.bar(rx, yTop, math.max(0.5, x(r.untilSec) - rx), h,
            laneColor(r.lanes(li)), style.alphaPct / 100.0)
        }
        sink.laneLabel(6, yTop + h / 2, lane.label)
        sink.annotation(x(ranges.head.fromSec), yTop, lane.annotation)
      }
    }

  def write(path: Path, lanes: Seq[Lane], ranges: Seq[Range],
            width: Int = 1280, laneHeight: Int = 56): Unit =
    Files.writeString(path, render(lanes, ranges, width, laneHeight))

  def render(lanes: Seq[Lane], ranges: Seq[Range],
             width: Int = 1280, laneHeight: Int = 56): String = {
    val frame = Frame(width, laneHeight, lanes.size)
    val height = frame.height
    val sb = new StringBuilder
    def hex(rgb: Int): String = "#" + Integer.toHexString(0x1000000 | rgb).substring(1)
    sb ++= s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" viewBox="0 0 $width $height">"""
    sb ++= s"""<rect width="$width" height="$height" fill="white"/>"""
    draw(frame, lanes, ranges, new Sink {
      def bar(x: Double, y: Double, w: Double, h: Double, rgb: Int, alpha: Double): Unit =
        sb ++= f"""<rect x="$x%.1f" y="$y%.1f" width="$w%.1f" height="$h%.1f" fill="${hex(rgb)}" fill-opacity="$alpha%.1f"/>"""
      def gridline(x: Double, top: Int, bottom: Int): Unit =
        sb ++= f"""<line x1="$x%.1f" y1="$top" x2="$x%.1f" y2="$bottom" stroke="${hex(GridColor)}"/>"""
      def monthLabel(x: Double, axisY: Int, text: String): Unit =
        sb ++= f"""<text x="$x%.1f" y="${axisY + 18}" font-size="12" text-anchor="middle" fill="#444">$text</text>"""
      def laneLabel(x: Int, yMid: Double, text: String): Unit =
        sb ++= s"""<text x="$x" y="${yMid + 4}" font-size="13" fill="#222">${Ooxml.esc(text)}</text>"""
      def annotation(x: Double, laneTop: Double, text: String): Unit =
        sb ++= f"""<text x="$x%.1f" y="${laneTop - 3}%.1f" font-size="11" fill="#666">${Ooxml.esc(text)}</text>"""
    })
    sb ++= "</svg>"
    sb.toString
  }
}

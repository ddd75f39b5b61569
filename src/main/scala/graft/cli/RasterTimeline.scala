package graft.cli

import java.nio.file.{Files, Path}
import java.util.zip.{CRC32, Deflater}

/** Minimal dependency-free PNG encoder (RFC 2083 / the public PNG
  * spec): 8-bit RGB, filter 0 scanlines, zlib via `java.util.zip
  * .Deflater`, CRC32 chunk framing, and a `pHYs` chunk pinning the
  * reference's DPI-300 raster density (tsa/condition.py:536
  * `fig.savefig(..., dpi=300)`).
  */
object Png {

  private val Dpi300PerMeter = 11811 // round(300 / 0.0254)

  /** @param rgb row-major 0xRRGGBB pixels, length width*height */
  def encode(width: Int, height: Int, rgb: Array[Int]): Array[Byte] = {
    require(rgb.length == width * height, "pixel buffer size mismatch")
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))

    def chunk(tag: String, data: Array[Byte]): Unit = {
      def be(i: Int) = Array((i >>> 24).toByte, (i >>> 16).toByte,
        (i >>> 8).toByte, i.toByte)
      val t = tag.getBytes("US-ASCII")
      out.write(be(data.length))
      out.write(t)
      out.write(data)
      val crc = new CRC32
      crc.update(t); crc.update(data)
      out.write(be(crc.getValue.toInt))
    }

    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(width).putInt(height)
      .put(8.toByte)  // bit depth
      .put(2.toByte)  // color type: truecolor RGB
      .put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/no interlace
    chunk("IHDR", ihdr.array())

    val phys = java.nio.ByteBuffer.allocate(9)
    phys.putInt(Dpi300PerMeter).putInt(Dpi300PerMeter).put(1.toByte) // per metre
    chunk("pHYs", phys.array())

    // scanlines: filter byte 0 + raw RGB triples
    val raw = new Array[Byte](height * (1 + width * 3))
    var p = 0
    var i = 0
    for (_ <- 0 until height) {
      raw(p) = 0; p += 1
      var x = 0
      while (x < width) {
        val c = rgb(i)
        raw(p) = (c >>> 16).toByte
        raw(p + 1) = (c >>> 8).toByte
        raw(p + 2) = c.toByte
        p += 3; i += 1; x += 1
      }
    }
    val deflater = new Deflater(Deflater.BEST_COMPRESSION)
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](64 * 1024)
    val idat = new java.io.ByteArrayOutputStream()
    while (!deflater.finished()) idat.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    chunk("IDAT", idat.toByteArray)
    chunk("IEND", Array.empty)
    out.toByteArray
  }
}

/** The condition timeline as a DPI-300 PNG raster — byte-level parity
  * with the reference's output format (tsa/condition.py:448-554 renders
  * `broken_barh` to PNG at dpi=300; `cond_collection.py:379` embeds
  * it). The layout is [[SvgTimeline]]'s, drawn by a sink that fills
  * a pixel buffer at `scale`×; labels use a built-in 5×7 bitmap font
  * so the raster needs no font files, and logic annotations are left
  * out. The SVG remains the richer artifact (crisp at any zoom,
  * annotations); this sink exists for drop-in users whose tooling
  * expects the reference's PNG files.
  */
object RasterTimeline {

  import SvgTimeline.{Lane, Range}

  private val White = 0xFFFFFF

  /** Render at `scale`× the SVG's logical geometry; the default 3×
    * yields 3840 px width from the 1280 logical — the reference's
    * plot pixel scale (cond_collection.py:278 MAINPLOT_H_PX = 3840).
    */
  def write(path: Path, lanes: Seq[Lane], ranges: Seq[Range],
            width: Int = 1280, laneHeight: Int = 56, scale: Int = 3): Unit = {
    val (w, h, px) = render(lanes, ranges, width, laneHeight, scale)
    Files.write(path, Png.encode(w, h, px))
  }

  def render(lanes: Seq[Lane], ranges: Seq[Range], width: Int = 1280,
             laneHeight: Int = 56, scale: Int = 3): (Int, Int, Array[Int]) = {
    val frame = SvgTimeline.Frame(width, laneHeight, lanes.size)
    val W = width * scale
    val H = frame.height * scale
    val px = Array.fill(W * H)(White)

    SvgTimeline.draw(frame, lanes, ranges, new SvgTimeline.Sink {
      def bar(x0: Double, y0: Double, rw: Double, rh: Double, color: Int, alpha: Double): Unit = {
        val xa = math.max(0, (x0 * scale).round.toInt)
        val ya = math.max(0, (y0 * scale).round.toInt)
        val xb = math.min(W, ((x0 + rw) * scale).round.toInt)
        val yb = math.min(H, ((y0 + rh) * scale).round.toInt)
        var y = ya
        while (y < yb) {
          var x = xa
          while (x < xb) {
            val i = y * W + x
            px(i) = if (alpha >= 1.0) color else blend(px(i), color, alpha)
            x += 1
          }
          y += 1
        }
      }
      def gridline(x: Double, top: Int, bottom: Int): Unit =
        bar(x, top, 0.5, bottom - top, SvgTimeline.GridColor, 1.0)
      def monthLabel(x: Double, axisY: Int, text: String): Unit =
        drawText(px, W, H, scale, text, x - 15, axisY + 10.0, 0x444444)
      def laneLabel(x: Int, yMid: Double, text: String): Unit =
        drawText(px, W, H, scale, text, x, yMid - 3, 0x222222)
      def annotation(x: Double, laneTop: Double, text: String): Unit = ()
    })
    (W, H, px)
  }

  private def blend(base: Int, over: Int, alpha: Double): Int = {
    def ch(shift: Int) = {
      val b = (base >>> shift) & 0xFF
      val o = (over >>> shift) & 0xFF
      math.round(o * alpha + b * (1 - alpha)).toInt & 0xFF
    }
    (ch(16) << 16) | (ch(8) << 8) | ch(0)
  }

  /** 5×7 bitmap text at logical (x, y), scaled; unknown glyphs render
    * as blanks (labels are aliases/digits, fully covered).
    */
  private def drawText(px: Array[Int], W: Int, H: Int, scale: Int,
                       text: String, x: Double, y: Double, color: Int): Unit = {
    var cx = (x * scale).round.toInt
    val cy = (y * scale).round.toInt
    val s = math.max(1, scale - 1) // slightly lighter than geometry scale
    for (cRaw <- text) {
      val c = cRaw.toLower
      Font.get(c).foreach { rows =>
        for (ry <- 0 until 7; rx <- 0 until 5
             if ((rows(ry) >> (4 - rx)) & 1) == 1) {
          var dy = 0
          while (dy < s) {
            var dx = 0
            while (dx < s) {
              val xx = cx + rx * s + dx
              val yy = cy + ry * s + dy
              if (xx >= 0 && xx < W && yy >= 0 && yy < H) px(yy * W + xx) = color
              dx += 1
            }
            dy += 1
          }
        }
      }
      cx += 6 * s
    }
  }

  /** Glyphs as 7 five-bit rows (own pixel art over the classic 5×7
    * grid — covers the label charset: aliases, digits, months, ops).
    */
  private val Font: Map[Char, Array[Int]] = {
    def g(rows: String*): Array[Int] = rows.map(Integer.parseInt(_, 2)).toArray
    Map(
      '0' -> g("01110", "10001", "10011", "10101", "11001", "10001", "01110"),
      '1' -> g("00100", "01100", "00100", "00100", "00100", "00100", "01110"),
      '2' -> g("01110", "10001", "00001", "00010", "00100", "01000", "11111"),
      '3' -> g("11111", "00010", "00100", "00010", "00001", "10001", "01110"),
      '4' -> g("00010", "00110", "01010", "10010", "11111", "00010", "00010"),
      '5' -> g("11111", "10000", "11110", "00001", "00001", "10001", "01110"),
      '6' -> g("00110", "01000", "10000", "11110", "10001", "10001", "01110"),
      '7' -> g("11111", "00001", "00010", "00100", "01000", "01000", "01000"),
      '8' -> g("01110", "10001", "10001", "01110", "10001", "10001", "01110"),
      '9' -> g("01110", "10001", "10001", "01111", "00001", "00010", "01100"),
      'a' -> g("00000", "00000", "01110", "00001", "01111", "10001", "01111"),
      'b' -> g("10000", "10000", "10110", "11001", "10001", "10001", "11110"),
      'c' -> g("00000", "00000", "01110", "10000", "10000", "10001", "01110"),
      'd' -> g("00001", "00001", "01101", "10011", "10001", "10001", "01111"),
      'e' -> g("00000", "00000", "01110", "10001", "11111", "10000", "01110"),
      'f' -> g("00110", "01001", "01000", "11100", "01000", "01000", "01000"),
      'g' -> g("00000", "01111", "10001", "10001", "01111", "00001", "01110"),
      'h' -> g("10000", "10000", "10110", "11001", "10001", "10001", "10001"),
      'i' -> g("00100", "00000", "01100", "00100", "00100", "00100", "01110"),
      'j' -> g("00010", "00000", "00110", "00010", "00010", "10010", "01100"),
      'k' -> g("10000", "10000", "10010", "10100", "11000", "10100", "10010"),
      'l' -> g("01100", "00100", "00100", "00100", "00100", "00100", "01110"),
      'm' -> g("00000", "00000", "11010", "10101", "10101", "10101", "10101"),
      'n' -> g("00000", "00000", "10110", "11001", "10001", "10001", "10001"),
      'o' -> g("00000", "00000", "01110", "10001", "10001", "10001", "01110"),
      'p' -> g("00000", "00000", "11110", "10001", "11110", "10000", "10000"),
      'q' -> g("00000", "00000", "01101", "10011", "01111", "00001", "00001"),
      'r' -> g("00000", "00000", "10110", "11001", "10000", "10000", "10000"),
      's' -> g("00000", "00000", "01111", "10000", "01110", "00001", "11110"),
      't' -> g("01000", "01000", "11100", "01000", "01000", "01001", "00110"),
      'u' -> g("00000", "00000", "10001", "10001", "10001", "10011", "01101"),
      'v' -> g("00000", "00000", "10001", "10001", "10001", "01010", "00100"),
      'w' -> g("00000", "00000", "10001", "10101", "10101", "10101", "01010"),
      'x' -> g("00000", "00000", "10001", "01010", "00100", "01010", "10001"),
      'y' -> g("00000", "00000", "10001", "10001", "01111", "00001", "01110"),
      'z' -> g("00000", "00000", "11111", "00010", "00100", "01000", "11111"),
      '_' -> g("00000", "00000", "00000", "00000", "00000", "00000", "11111"),
      '/' -> g("00001", "00010", "00010", "00100", "01000", "01000", "10000"),
      '#' -> g("01010", "01010", "11111", "01010", "11111", "01010", "01010"),
      '<' -> g("00010", "00100", "01000", "10000", "01000", "00100", "00010"),
      '>' -> g("01000", "00100", "00010", "00001", "00010", "00100", "01000"),
      '=' -> g("00000", "00000", "11111", "00000", "11111", "00000", "00000"),
      '.' -> g("00000", "00000", "00000", "00000", "00000", "01100", "01100"),
      '-' -> g("00000", "00000", "00000", "11111", "00000", "00000", "00000"),
      '(' -> g("00010", "00100", "01000", "01000", "01000", "00100", "00010"),
      ')' -> g("01000", "00100", "00010", "00010", "00010", "00100", "01000"),
      ',' -> g("00000", "00000", "00000", "00000", "01100", "00100", "01000"),
      ' ' -> g("00000", "00000", "00000", "00000", "00000", "00000", "00000"))
  }
}

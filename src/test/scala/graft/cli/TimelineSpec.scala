package graft.cli

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.security.MessageDigest
import SvgTimeline.{Lane, Range}

/** Byte goldens for the three timeline sinks: the SVG string, the PNG
  * pixel array and its encoded bytes, and the deck's slide XML (the zip
  * entry's content, not the zip bytes, which carry timestamps). The
  * hashes were recorded before the sinks shared one layout, so any
  * drift in a colour, a lane fraction, the time map, the month grid or
  * the page frame shows here as a changed hash.
  */
class TimelineSpec extends AnyFunSuite {

  private def sec(iso: String): Long = java.time.Instant.parse(iso).getEpochSecond

  /** 3 block lanes + master over ~40 days: two UTC month starts (02/18,
    * 03/18), true/false/NULL mixed, an uncovered gap (Feb 10-12) and
    * 600 s ranges, narrower than one logical pixel (~2900 s).
    */
  private val full: (Seq[Lane], Seq[Range]) = {
    val lanes = Seq(Lane("a1", "s1120#keli_1 = 8"), Lane("b2", "s1120#tie_1 < 0"),
      Lane("c3", "s14#ilma between -5 and 0"), Lane("master", "(a1 and b2) or not c3"))
    val T = Some(true); val F = Some(false); val N = None
    val ranges = Seq(
      Range(sec("2018-01-25T00:00:00Z"), sec("2018-01-29T06:00:00Z"), Seq(T, F, N, T)),
      Range(sec("2018-01-29T06:00:00Z"), sec("2018-01-29T06:10:00Z"), Seq(F, F, T, F)),
      Range(sec("2018-01-29T06:10:00Z"), sec("2018-02-03T12:00:00Z"), Seq(N, T, F, N)),
      Range(sec("2018-02-03T12:00:00Z"), sec("2018-02-10T00:00:00Z"), Seq(T, T, T, T)),
      // gap: 2018-02-10 .. 2018-02-12 has no range
      Range(sec("2018-02-12T00:00:00Z"), sec("2018-02-12T00:10:00Z"), Seq(F, N, T, N)),
      Range(sec("2018-02-12T00:10:00Z"), sec("2018-02-25T18:00:00Z"), Seq(T, F, F, T)),
      Range(sec("2018-02-25T18:00:00Z"), sec("2018-03-04T00:00:00Z"), Seq(N, N, N, N)),
      Range(sec("2018-03-04T00:00:00Z"), sec("2018-03-05T00:00:00Z"), Seq(F, T, N, F)))
    (lanes, ranges)
  }

  private val masterOnly: (Seq[Lane], Seq[Range]) = (
    Seq(Lane("master", "a1")),
    Seq(Range(sec("2018-02-01T00:00:00Z"), sec("2018-02-02T00:00:00Z"), Seq(Some(true))),
        Range(sec("2018-02-02T00:00:00Z"), sec("2018-02-05T00:00:00Z"), Seq(Some(false))),
        Range(sec("2018-02-05T00:00:00Z"), sec("2018-02-06T00:00:00Z"), Seq(None))))

  private val empty: (Seq[Lane], Seq[Range]) =
    (Seq(Lane("a1", "x"), Lane("master", "a1")), Seq.empty)

  /** Markup and a control byte in both labels and annotations. */
  private val escaped: (Seq[Lane], Seq[Range]) = (
    Seq(Lane("<a&b>", "s1#k = \"8\" & <q>\u0001"), Lane("m\u0007ster", "<a&b> \"or\"")),
    Seq(Range(sec("2018-02-20T00:00:00Z"), sec("2018-03-10T00:00:00Z"), Seq(Some(true), None))))

  private val fixtures = Seq("full" -> full, "masterOnly" -> masterOnly,
    "empty" -> empty, "escaped" -> escaped)

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map(b => f"${b & 0xFF}%02x").mkString

  private def shaInts(px: Array[Int]): String = {
    val bb = java.nio.ByteBuffer.allocate(px.length * 4)
    px.foreach(bb.putInt)
    sha(bb.array())
  }

  private def slideXml(fig: (Seq[Lane], Seq[Range])): Array[Byte] = {
    val dir = Files.createTempDirectory("timeline_spec")
    val path = dir.resolve("deck.pptx")
    Pptx.write(path, Seq(Pptx.Slide("header <&>", "title", "body", "time range",
      Seq(Seq("", "valid"), Seq("time", "1 h")), "errors", Some(fig), "footer")))
    val zf = new java.util.zip.ZipFile(path.toFile)
    try zf.getInputStream(zf.getEntry("ppt/slides/slide1.xml")).readAllBytes()
    finally zf.close()
  }

  /** fixture -> (svg, png pixels, png bytes, pptx slide1.xml) SHA-256. */
  private val Goldens: Map[String, (String, String, String, String)] = Map(
    "full" -> (
      "5fab1a4bd6388b0c66656012ddfacd9a77cf0c9bc51b3281b6b918c1c66faca6",
      "5890c7c919297dd904eb996e73ddaa3c90cf4c4d7df53483a3c3dfe7867cb2f9",
      "8a5b36474b10b9a6f73f6d7a33352b905fae90838fa87cad630bc42b8c5e6714",
      "821b1f782578729d8a6c2c7e131295b8afb52bfd04723d05562883446d1cc795"),
    "masterOnly" -> (
      "69742be6146c0f814851751989f54a093fb4d2b99fb4004d2e1f1a9a21fe257a",
      "596f64fd0c8aebdbd2c01663e1a8aa70cdc164fc8fa5ac1767107e5446a126b3",
      "7ba3f68359089a1166ca92193b3abaddd6aa01c55cf10323537bd519d8462edb",
      "3fd01a72532769819cb11d10f52d5cac5627962a104ce2b5e3d584ed8eb90834"),
    "empty" -> (
      "33aaa51d693bab3bf00e9c1ae103848a1485d307eb81840d5985989fe2538469",
      "216d9092cdf079f3e034efc75fdeacf7f4755dada7111621236dccfecf00dff1",
      "76bf8ccd9533002600742b04501c1c2a652578f5a75e198e847b0c6d034bfb44",
      "fcd167354ef4d808b9bbed9166879b64146f774c3bda284a71b5d6377696dfc5"),
    "escaped" -> (
      "3bd8d1fd8b18e845156b886eb9befa52424c13bee620235f5a5603764cd3d341",
      "baa351100fffe8e7b250d1ff9a1cf7e25054ccedfef9c62423b65f5643d2cdcd",
      "bbd5cf88815b46e3eee0cae3c699dd8058abd7ed6e754f49d328107291f7c313",
      "b9f4900e3c4ddd85151b819e7b53f67e6dc074becb33b59d7c9fae7ef8f4b2fd"))

  for ((name, fig @ (lanes, ranges)) <- fixtures) {
    test(s"timeline goldens: $name") {
      val svg = sha(SvgTimeline.render(lanes, ranges).getBytes("UTF-8"))
      val (w, h, px) = RasterTimeline.render(lanes, ranges)
      val got = (svg, shaInts(px), sha(Png.encode(w, h, px)), sha(slideXml(fig)))
      assert(got == Goldens(name), s"$name: got $got")
    }
  }

  test("the escaped fixture's text is escaped and stripped of control bytes") {
    val svg = SvgTimeline.render(escaped._1, escaped._2)
    assert(svg.contains(">&lt;a&amp;b&gt;<") && svg.contains(">mster<"), svg)
    assert(!svg.exists(c => c < 0x20), "control byte leaked into the SVG")
    dbf.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(svg.getBytes("UTF-8")))
    dbf.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(slideXml(escaped)))
  }

  private def dbf = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(true)
    f
  }
}

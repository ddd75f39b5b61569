package graft.cli

import graft.SparkTest
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** End-to-end CLI regression: sheet CSV → engine → summary CSV +
  * per-condition parquet. Runs TsaBatch.main in-process (getOrCreate
  * picks up the shared test session, master already set).
  */
class TsaBatchSpec extends AnyFunSuite with SparkTest {

  test("full run: sheet to summary CSV and condition parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsabatch_spec")
    val sheets = dir.resolve("sheets"); Files.createDirectories(sheets)
    Files.writeString(sheets.resolve("demo.csv"),
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8 and s1120#tie_1 < 0"
        |""".stripMargin)

    // hourly obs for station 1120, sensors keli_1(27) and tie_1(3)
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val rows = for {
      h <- 0 until 24 * 27
      (seid, v) <- Seq(27 -> (if (h % 3 == 0) 8.0 else 2.0),
                       3 -> (if (h % 2 == 0) -2.0 else 1.0))
    } yield (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), 1120L, seid.toLong, v)
    val obsPath = dir.resolve("obs.parquet").toString
    rows.toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)

    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    TsaBatch.run(spark,
      Vector("demo" -> Files.readString(sheets.resolve("demo.csv"))),
      obsPath, out, "spec")

    val summary = Files.readAllLines(Paths.get(s"$out/spec_summary.csv"))
    assert(summary.size == 2, summary)
    val fields = summary.get(1).split(",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)")
    assert(fields(0) == "demo" && fields(1) == "testi" && fields(2) == "a1")
    val Array(validS, notvalidS, nodataS, tottimeS) =
      fields.slice(6, 10).map(_.toLong)
    assert(validS + notvalidS + nodataS == tottimeS)
    assert(validS > 0 && notvalidS > 0)

    val cond = spark.read.parquet(s"$out/conditions/testi_a1")
    assert(cond.count() > 0)
    assert(cond.columns.toSeq ==
      Seq("vfrom", "vuntil", "vdiff_s", "a1_0", "a1_1", "master"))
  }

  test("--log configures level and writes the per-run log file") {
    val dir = Files.createTempDirectory("tsabatch_log")
    val sheets = dir.resolve("sheets"); Files.createDirectories(sheets)
    Files.writeString(sheets.resolve("demo.csv"),
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8"
        |""".stripMargin)
    // dryvalidate path: logging is configured before any Spark work,
    // like the reference (tsabatch.py configures handlers before the
    // AnalysisCollection), so this exercises the flag end to end
    TsaBatch.main(Array("--input", sheets.toString, "--dryvalidate",
      "--name", "logspec", "--out", dir.resolve("res").toString,
      "--log", "debug"))
    val logFile = dir.resolve("res").resolve("logspec.log")
    assert(Files.exists(logFile), s"missing $logFile")
    val text = Files.readString(logFile)
    assert(text.contains("START OF TSABATCH"), text.take(200))
    assert(text.contains("log=debug"), text.take(200))
    // reference mode "w": a re-run overwrites, not appends
    TsaBatch.main(Array("--input", sheets.toString, "--dryvalidate",
      "--name", "logspec", "--out", dir.resolve("res").toString,
      "--log", "info"))
    val again = Files.readString(logFile)
    assert(again.contains("log=info") && !again.contains("log=debug"))
    // warning level suppresses the INFO banner — level actually applies
    TsaBatch.main(Array("--input", sheets.toString, "--dryvalidate",
      "--name", "logspec", "--out", dir.resolve("res").toString,
      "--log", "warning"))
    assert(!Files.readString(logFile).contains("START OF TSABATCH"))
    // invalid level is rejected up front
    val e = intercept[RuntimeException](TsaBatch.main(Array(
      "--input", sheets.toString, "--dryvalidate", "--log", "loud")))
    assert(e.getMessage.contains("--log"))
    // a full run logs the reference's per-sheet timing line
    // (tsa/cond_collection.py:434-436)
    import spark.implicits._
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val obsPath = dir.resolve("obs.parquet").toString
    (0 until 24).map(h => (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)),
      1120L, 27L, if (h % 3 == 0) 8.0 else 2.0))
      .toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)
    TsaBatch.configureLogging("info", dir.resolve("res").toString, "logspec")
    TsaBatch.run(spark, TsaBatch.readInput(sheets.toString), obsPath,
      dir.resolve("res").toString, "logspec")
    val fetched = Files.readString(logFile).linesIterator
      .filter(_.contains("Results fetched in")).toVector
    assert(fetched.size == 1, Files.readString(logFile).take(2000))
    assert(fetched.head.contains("INFO") && fetched.head.contains("(sheet demo)"), fetched)
    // restore the suite's quiet default — configureLogging moved the
    // root level, which would otherwise spam later suites
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.ERROR)
  }

  test("--xlsx writes a well-formed styled workbook (reference layout)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsabatch_xlsx")
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val rows = (0 until 48).map(h =>
      (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), 1120L, 27L,
        if (h % 3 == 0) 8.0 else 2.0))
    val obsPath = dir.resolve("obs.parquet").toString
    rows.toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)
    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    val sheet =
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8"
        |""".stripMargin
    TsaBatch.run(spark, Vector("demo" -> sheet), obsPath, out, "wb", xlsx = true)

    val zf = new java.util.zip.ZipFile(s"$out/wb.xlsx")
    try {
      val names = {
        val e = zf.entries(); val b = Vector.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      assert(names.contains("[Content_Types].xml") &&
        names.contains("xl/workbook.xml") && names.contains("xl/styles.xml") &&
        names.contains("xl/worksheets/sheet1.xml") &&
        names.contains("xl/worksheets/sheet2.xml"), names.toString)
      // every part must be well-formed XML
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      def xml(n: String) = {
        val in = zf.getInputStream(zf.getEntry(n))
        try dbf.newDocumentBuilder().parse(in) finally in.close()
      }
      names.filter(_.endsWith(".xml")).foreach(xml)
      def text(n: String): String = {
        val in = zf.getInputStream(zf.getEntry(n))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      assert(text("xl/workbook.xml").contains("""name="demo""""))
      // the FIRST sheet is the reference's INFO sheet
      // (tsa/analysis_collection.py:195-231): A1/B1 analysis-started,
      // A2/B2 analysis-ended, stamps as plain yyyy-MM-dd HH:mm:ss text
      val wbXml = text("xl/workbook.xml")
      assert(wbXml.indexOf("""name="INFO"""") >= 0 &&
        wbXml.indexOf("""name="INFO"""") < wbXml.indexOf("""name="demo""""),
        "INFO must be the first sheet: " + wbXml)
      val info = text("xl/worksheets/sheet1.xml")
      assert(info.contains(">analysis started<") &&
        info.contains(">analysis ended<"), info)
      assert("""<c r="A1"[^>]*t="inlineStr"><is><t[^>]*>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}<""".r
        .findFirstIn(info).isDefined, info)
      assert(info.contains("""<c r="B1""") && info.contains("""<c r="A2""") &&
        info.contains("""<c r="B2""""), info)
      val ws = text("xl/worksheets/sheet2.xml")
      // bold header cell, the reference's fixed layout (row 3 = columns)
      assert(ws.contains("""<c r="A3" s="1" t="inlineStr"><is><t xml:space="preserve">site"""), ws)
      // three percentage cells carry the 0.00 % style (s=2) in row 4
      assert(Seq("F4", "G4", "H4").forall(r => ws.contains(s"""<c r="$r" s="2">""")), ws)
      assert(text("xl/styles.xml").contains("""formatCode="0.00 %""""))
    } finally zf.close()
  }

  test("NTZ-timestamp obs input drives the full report path") {
    // parquet written WITHOUT a zone (e.g. by another engine) reads as
    // TIMESTAMP_NTZ and collects as LocalDateTime — the report path
    // must convert, not ClassCastException (regression: found by a CLI
    // smoke run over a DuckDB-written obs file)
    import spark.implicits._
    val dir = Files.createTempDirectory("tsabatch_ntz")
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val rows = (0 until 48).map(h =>
      (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), 1120L, 27L,
        if (h % 3 == 0) 8.0 else 2.0))
    val obsPath = dir.resolve("obs.parquet").toString
    rows.toDF("tfrom", "statid", "seid", "seval")
      .select(org.apache.spark.sql.functions.col("tfrom").cast("timestamp_ntz").as("tfrom"),
        $"statid", $"seid", $"seval")
      .write.parquet(obsPath)
    assert(spark.read.parquet(obsPath).schema("tfrom").dataType.typeName == "timestamp_ntz")
    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    val sheet =
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8"
        |""".stripMargin
    TsaBatch.run(spark, Vector("demo" -> sheet), obsPath, out, "ntz",
      xlsx = true, pptx = true, svg = true)
    val summary = Files.readAllLines(Paths.get(s"$out/ntz_summary.csv"))
    assert(summary.size == 2 && summary.get(1).contains("2018-02-01"))
    assert(Files.exists(Paths.get(s"$out/ntz.xlsx")))
    assert(Files.exists(Paths.get(s"$out/ntz.pptx")))
    assert(Files.exists(Paths.get(s"$out/plots/demo_testi_a1.svg")))
  }

  test("xlsx writer dedups colliding sheet names and strips control chars") {
    val dir = Files.createTempDirectory("xlsx_dedup")
    val path = dir.resolve("wb.xlsx")
    val long = "a really long collection title that truncates"
    Xlsx.write(path, Seq(
      long -> Seq(Seq(Xlsx.Str("x\u0001y"))), // control char must not survive
      long + " second" -> Seq(Seq(Xlsx.Str("z"))), // same 31-char prefix
      "tab/le:au" -> Nil, "tab?le*au" -> Nil))    // sanitize to same name
    val zf = new java.util.zip.ZipFile(path.toFile)
    try {
      def text(n: String) = {
        val in = zf.getInputStream(zf.getEntry(n))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val wb = text("xl/workbook.xml")
      val names = """name="([^"]*)"""".r.findAllMatchIn(wb).map(_.group(1)).toVector
      assert(names.size == 4 && names.distinct.size == 4, names.toString)
      // all parts still well-formed (no raw control chars anywhere)
      val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      val e = zf.entries()
      while (e.hasMoreElements) {
        val n = e.nextElement().getName
        if (n.endsWith(".xml")) {
          val in = zf.getInputStream(zf.getEntry(n))
          try dbf.newDocumentBuilder().parse(in) finally in.close()
        }
      }
      assert(!text("xl/worksheets/sheet1.xml").contains("\u0001"))
    } finally zf.close()
  }

  test("--pptx and --svg write the report deck and vector timelines") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsabatch_pptx")
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val rows = for {
      h <- 0 until 24 * 40 // spans the 02->03 month boundary for gridlines
      (seid, v) <- Seq(27 -> (if (h % 3 == 0) 8.0 else 2.0),
                       3 -> (if (h % 2 == 0) -2.0 else 1.0))
    } yield (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), 1120L, seid.toLong, v)
    val obsPath = dir.resolve("obs.parquet").toString
    rows.toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)
    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    val sheet =
      """"start","end"
        |"1.2.2018","31.3.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8 and s1120#tie_1 < 0"
        |""".stripMargin
    TsaBatch.run(spark, Vector("demo" -> sheet), obsPath, out, "deck",
      pptx = true, svg = true, png = true)

    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()

    // --- PNG timeline (S9 raster parity): decodes, reference colors ---
    val pngPath = Paths.get(s"$out/plots/demo_testi_a1.png")
    assert(Files.exists(pngPath), s"missing $pngPath")
    val img = javax.imageio.ImageIO.read(pngPath.toFile)
    assert(img != null, "PNG did not decode")
    assert(img.getWidth == 3840, img.getWidth) // the reference's plot pixel scale
    val pngPixels = (0 until img.getHeight by 7).flatMap(y =>
      (0 until img.getWidth by 7).map(x => img.getRGB(x, y) & 0xFFFFFF)).toSet
    // opaque master-lane colors present verbatim; 50%-alpha block lanes
    // blend toward white ((c + 255) / 2 per channel)
    assert(pngPixels.contains(0xF03B20), "no valid-range raster run")
    assert(pngPixels.contains(0x2B83BA), "no notvalid-range raster run")
    assert(pngPixels.contains(0xF89D90) || pngPixels.contains(0x95C1DD),
      "no alpha-blended block lane")
    // DPI-300 pHYs chunk (11811 px/metre, unit=1) — the reference's
    // savefig(dpi=300) density
    val bytes = Files.readAllBytes(pngPath)
    val phys = Array[Byte]('p', 'H', 'Y', 's',
      0, 0, 0x2E.toByte, 0x23.toByte, 0, 0, 0x2E.toByte, 0x23.toByte, 1)
    assert(bytes.sliding(phys.length).exists(_.sameElements(phys)), "no DPI-300 pHYs chunk")

    // --- SVG timeline (S9): well-formed, reference colors + lanes ---
    val svgPath = Paths.get(s"$out/plots/demo_testi_a1.svg")
    assert(Files.exists(svgPath), s"missing $svgPath")
    val svg = Files.readString(svgPath)
    dbf.newDocumentBuilder().parse(svgPath.toFile) // well-formed XML
    // all three 3VL colors appear (valid/notvalid lanes + nodata gaps
    // exist by construction of the alternating sensor values)
    assert(svg.contains("#f03b20") && svg.contains("#2b83ba"), svg.take(500))
    // y labels: both block aliases and master
    assert(svg.contains(">a1_0<") && svg.contains(">a1_1<") && svg.contains(">master<"))
    // month gridline label for March 2018 ('%m/%y')
    assert(svg.contains(">03/18<"), "missing month gridline label")

    // --- PPTX deck (S8): complete OPC structure, reference content ---
    val zf = new java.util.zip.ZipFile(s"$out/deck.pptx")
    try {
      val names = {
        val e = zf.entries(); val b = Vector.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      for (p <- Seq("[Content_Types].xml", "ppt/presentation.xml",
          "ppt/slideMasters/slideMaster1.xml", "ppt/slideLayouts/slideLayout1.xml",
          "ppt/theme/theme1.xml", "ppt/slides/slide1.xml",
          "ppt/slides/_rels/slide1.xml.rels"))
        assert(names.contains(p), s"missing part $p in $names")
      def xml(n: String) = {
        val in = zf.getInputStream(zf.getEntry(n))
        try dbf.newDocumentBuilder().parse(in) finally in.close()
      }
      names.filter(_.endsWith(".xml")).foreach(xml) // every part well-formed
      def text(n: String): String = {
        val in = zf.getInputStream(zf.getEntry(n))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val slide = text("ppt/slides/slide1.xml")
      // condition title + string (reference TITLE_IDX / BODY_IDX)
      assert(slide.contains("testi_a1"))
      assert(slide.contains("s1120#keli_1 = 8 and s1120#tie_1 &lt; 0"))
      // the validity table headers and row labels (reference 3x4 table)
      for (cell <- Seq("Voimassa", "Ei voimassa", "Tieto puuttuu",
          "Yhteensä", "Osuus tarkasteluajasta"))
        assert(slide.contains(s"<a:t>$cell</a:t>"), s"missing table cell $cell")
      // duration + percentage formats ('{d} pv {h} h {m} min', 'x.xx %')
      assert("""\d+ pv \d+ h \d+ min""".r.findFirstIn(slide).nonEmpty, "no strfdelta cell")
      assert("""\d+\.\d\d %""".r.findFirstIn(slide).nonEmpty, "no percentage cell")
      // data range text, not the no-data fallback
      assert(slide.contains("Datan tarkasteluväli"))
      // timeline drawn as native rects in the reference colors
      assert(slide.contains("""<a:srgbClr val="F03B20""""), "no valid-range rect")
      assert(slide.contains("""<a:srgbClr val="2B83BA""""), "no notvalid-range rect")
      // block lanes are half-alpha like the reference (alpha 50%)
      assert(slide.contains("""<a:alpha val="50000"/>"""), "no alpha-50 block lane")
    } finally zf.close()
  }

  test("a condition past the timeline bound gets no plot and an error message") {
    import spark.implicits._
    val dir = Files.createTempDirectory("tsabatch_bound")
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val obsPath = dir.resolve("obs.parquet").toString
    (0 until 48).map(h => (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)),
      1120L, 27L, if (h % 3 == 0) 8.0 else 2.0))
      .toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)
    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    val sheet =
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8"
        |""".stripMargin
    TsaBatch.run(spark, Vector("demo" -> sheet), obsPath, out, "bound",
      pptx = true, svg = true, png = true, timelineMaxRows = 3)

    // the summary and the condition parquet are still written
    val summary = Files.readAllLines(Paths.get(s"$out/bound_summary.csv"))
    assert(summary.size == 2)
    val nRows = summary.get(1).split(",").last.toLong
    assert(nRows > 3, summary)
    assert(spark.read.parquet(s"$out/conditions/testi_a1").count() == nRows)
    // no plot; the slide keeps its table but has no timeline shapes
    assert(!Files.exists(Paths.get(s"$out/plots/demo_testi_a1.svg")))
    assert(!Files.exists(Paths.get(s"$out/plots/demo_testi_a1.png")))
    val zf = new java.util.zip.ZipFile(s"$out/bound.pptx")
    val slide = try {
      val in = zf.getInputStream(zf.getEntry("ppt/slides/slide1.xml"))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } finally zf.close()
    assert(slide.contains("Voimassa") && !slide.contains("F03B20"))
    assert(slide.contains("timeline bound"))
    // the condition's error node says why
    val errors = Files.readString(Paths.get(s"$out/bound_ERRORS.json"))
    assert(errors.contains("testi_a1") &&
      errors.contains(s"Timeline not drawn: $nRows result rows exceed the 3-row timeline bound"),
      errors)
  }

  test("--pptx-template fills the reference's own report template") {
    import spark.implicits._
    val tpl = Paths.get("/root/reference/report_template.pptx")
    assume(Files.exists(tpl), "reference template not present")
    val dir = Files.createTempDirectory("tsabatch_tpl")
    val t0 = java.time.Instant.parse("2018-02-01T00:00:00Z")
    val rows = (0 until 48).map(h =>
      (java.sql.Timestamp.from(t0.plusSeconds(h * 3600L)), 1120L, 27L,
        if (h % 3 == 0) 8.0 else 2.0))
    val obsPath = dir.resolve("obs.parquet").toString
    rows.toDF("tfrom", "statid", "seid", "seval").write.parquet(obsPath)
    val out = dir.resolve("out").toString
    Files.createDirectories(Paths.get(out))
    val sheet =
      """"start","end"
        |"1.2.2018","28.2.2018"
        |"site","master_alias","condition"
        |"Testi","A1","s1120#keli_1 = 8"
        |""".stripMargin
    TsaBatch.run(spark, Vector("demo" -> sheet), obsPath, out, "tpl",
      pptx = true, pptxTemplate = Some(tpl))

    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    val zf = new java.util.zip.ZipFile(s"$out/tpl.pptx")
    try {
      val names = {
        val e = zf.entries(); val b = Vector.newBuilder[String]
        while (e.hasMoreElements) b += e.nextElement().getName
        b.result()
      }
      def text(n: String): String = {
        val in = zf.getInputStream(zf.getEntry(n))
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      // the template's master/theme/docProps carried over VERBATIM
      val tplZip = new java.util.zip.ZipFile(tpl.toFile)
      try {
        def tplText(n: String): String = {
          val in = tplZip.getInputStream(tplZip.getEntry(n))
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
        }
        for (p <- Seq("ppt/slideMasters/slideMaster1.xml", "ppt/theme/theme1.xml",
            "ppt/slideLayouts/slideLayout1.xml"))
          assert(text(p) == tplText(p), s"template part $p not preserved")
      } finally tplZip.close()
      // injected slide + rels present, every XML part well-formed
      assert(names.contains("ppt/slides/slide1.xml"), names.toString)
      names.filter(_.endsWith(".xml")).foreach { n =>
        val in = zf.getInputStream(zf.getEntry(n))
        try dbf.newDocumentBuilder().parse(in) finally in.close()
      }
      // presentation lists the slide with a fresh rId, rels resolve it
      assert(text("ppt/presentation.xml").contains("<p:sldIdLst><p:sldId "))
      assert(text("ppt/_rels/presentation.xml.rels").contains("Target=\"slides/slide1.xml\""))
      assert(text("[Content_Types].xml").contains("/ppt/slides/slide1.xml"))
      val slide = text("ppt/slides/slide1.xml")
      // text binds to the template's placeholders (no hardcoded xfrm):
      // title (idx absent = 0), header 17, body 13, footer 16
      assert(slide.contains("""<p:ph type="title"/>"""), slide.take(800))
      for (idx <- Seq(17, 13, 15, 19, 16))
        assert(slide.contains(s"""idx="$idx"/>"""), s"placeholder $idx not bound")
      assert(slide.contains("testi_a1"))
      // table is placed at the template's VALIDTABLE placeholder box
      // (layout puts it at x=323384, y=1284275)
      assert(slide.contains("""<a:off x="323384" y="1284275"/>"""), "table not at ph18 box")
    } finally zf.close()
  }

  test("template without the magic placeholder indices is rejected") {
    val dir = Files.createTempDirectory("tpl_bad")
    // the self-contained deck's layout has NO placeholders — exactly
    // the drift the reference guards against (cond_collection.py:283-287)
    val bad = dir.resolve("bad_template.pptx")
    Pptx.write(bad, Seq.empty)
    val ex = intercept[IllegalArgumentException] {
      Pptx.writeWithTemplate(bad, dir.resolve("out.pptx"), Seq.empty)
    }
    assert(ex.getMessage.contains("HEADER_IDX 17") || ex.getMessage.contains("required placeholders"))
  }
}

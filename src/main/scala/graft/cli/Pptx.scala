package graft.cli

import java.nio.file.Path
import java.util.zip.ZipFile

/** Minimal dependency-free PPTX writer — enough of ECMA-376
  * (PresentationML, a public standard: a ZIP of XML parts) to reproduce
  * the reference's per-condition report deck
  * (tsa/cond_collection.py:257-394): one slide per condition carrying
  * header, condition title + string, data time range, the 3×4 validity
  * table (8 pt, 0.64 cm rows, background-filled cells like the
  * reference), the error text, and the condition timeline.
  *
  * Two output modes:
  *  - [[write]] emits a SELF-CONTAINED deck — master, layout, and theme
  *    are generated, no template to keep in sync;
  *  - [[writeWithTemplate]] is the reference's exact mechanic
  *    (`pptx.Presentation(pptx_template)` + placeholder fill,
  *    tsa/cond_collection.py:262-287): every part of the provided
  *    template (master, theme, fonts, footer text) is carried over
  *    verbatim, slides are injected bound to the template layout's
  *    placeholders — validated against the same magic indices
  *    (17/0/13/15/18/19/11/16) the reference asserts — so a corporate
  *    template styles the text, and the table/timeline are placed at
  *    the placeholder geometry parsed from the layout.
  *
  * In both modes the timeline is drawn as NATIVE vector shapes (one
  * rect per validity range per lane, the reference's exact colors)
  * instead of rasterizing a matplotlib PNG to 3840 px and embedding it
  * — no image codec, and the plot stays crisp at any zoom.
  */
object Pptx {

  /** One slide of the report deck. `timeline` reuses the SVG sink's
    * lane/range model ([[SvgTimeline.Lane]]/[[SvgTimeline.Range]]).
    */
  final case class Slide(
      header: String,
      title: String,
      body: String,
      timeRange: String,
      table: Seq[Seq[String]],
      errors: String,
      timeline: Option[(Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range])],
      footer: String)

  /** EMU rectangle (914400/inch, 360000/cm). */
  final case class Box(x: Long, y: Long, cx: Long, cy: Long)

  // 16:9 deck geometry for the self-contained mode
  private val SlideW = 12192000L
  private val SlideH = 6858000L
  private val Margin = 457200L // 0.5"

  /** The reference's placeholder contract (tsa/cond_collection.py:268-277). */
  private val PhIdx: Map[String, Int] = Map(
    "HEADER_IDX" -> 17, "TITLE_IDX" -> 0, "BODY_IDX" -> 13,
    "TIMERANGE_IDX" -> 15, "VALIDTABLE_IDX" -> 18, "ERRORS_IDX" -> 19,
    "MAINPLOT_IDX" -> 11, "FOOTER_IDX" -> 16)

  /** @param clock stamps every zip entry's modification time */
  def write(path: Path, slides: Seq[Slide],
            clock: java.time.Clock = java.time.Clock.systemDefaultZone()): Unit = {
    val out = new Ooxml.StampedZip(path, clock); import out.part
    try {
      val n = slides.size
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/ppt/presentation.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.presentation.main+xml"/>""" +
          """<Override PartName="/ppt/slideMasters/slideMaster1.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slideMaster+xml"/>""" +
          """<Override PartName="/ppt/slideLayouts/slideLayout1.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slideLayout+xml"/>""" +
          """<Override PartName="/ppt/theme/theme1.xml" ContentType="application/vnd.openxmlformats-officedocument.theme+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/ppt/slides/slide$i.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>""")
            .mkString +
          "</Types>")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="ppt/presentation.xml"/>""" +
          "</Relationships>")
      part("ppt/presentation.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          s"""<p:presentation $NsP $NsA $NsR>""" +
          """<p:sldMasterIdLst><p:sldMasterId id="2147483648" r:id="rId1"/></p:sldMasterIdLst>""" +
          "<p:sldIdLst>" +
          (1 to n).map(i => s"""<p:sldId id="${255 + i}" r:id="rId${i + 1}"/>""").mkString +
          "</p:sldIdLst>" +
          s"""<p:sldSz cx="$SlideW" cy="$SlideH"/><p:notesSz cx="6858000" cy="9144000"/>""" +
          "</p:presentation>")
      part("ppt/_rels/presentation.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideMaster" Target="slideMasters/slideMaster1.xml"/>""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide$i.xml"/>""")
            .mkString +
          "</Relationships>")
      part("ppt/slideMasters/slideMaster1.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          s"""<p:sldMaster $NsP $NsA $NsR><p:cSld>$EmptyTree</p:cSld>""" +
          """<p:clrMap bg1="lt1" tx1="dk1" bg2="lt2" tx2="dk2" accent1="accent1" accent2="accent2" accent3="accent3" accent4="accent4" accent5="accent5" accent6="accent6" hlink="hlink" folHlink="folHlink"/>""" +
          """<p:sldLayoutIdLst><p:sldLayoutId id="2147483649" r:id="rId1"/></p:sldLayoutIdLst>""" +
          "</p:sldMaster>")
      part("ppt/slideMasters/_rels/slideMaster1.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideLayout" Target="../slideLayouts/slideLayout1.xml"/>""" +
          """<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/theme" Target="../theme/theme1.xml"/>""" +
          "</Relationships>")
      part("ppt/slideLayouts/slideLayout1.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          s"""<p:sldLayout $NsP $NsA $NsR><p:cSld>$EmptyTree</p:cSld>""" +
          """<p:clrMapOvr><a:masterClrMapping/></p:clrMapOvr></p:sldLayout>""")
      part("ppt/slideLayouts/_rels/slideLayout1.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideMaster" Target="../slideMasters/slideMaster1.xml"/>""" +
          "</Relationships>")
      part("ppt/theme/theme1.xml", themeXml)
      for ((s, i) <- slides.zipWithIndex) {
        part(s"ppt/slides/slide${i + 1}.xml", slideXml(s))
        part(s"ppt/slides/_rels/slide${i + 1}.xml.rels", slideRels)
      }
    } finally out.close()
  }

  /** Fill a provided template (the reference's `report_template.pptx`
    * shape: master + layout + theme, NO slides). All template parts are
    * copied verbatim; one slide per [[Slide]] is injected bound to
    * `slideLayout1`'s placeholders, so the template's styles apply to
    * the text. Throws (like tsa/cond_collection.py:283-287) when the
    * layout is missing any of the reference's placeholder indices.
    */
  def writeWithTemplate(template: Path, path: Path, slides: Seq[Slide],
                        clock: java.time.Clock = java.time.Clock.systemDefaultZone()): Unit = {
    val zip = new ZipFile(template.toFile)
    try {
      def bytesOf(name: String): Array[Byte] = {
        val e = zip.getEntry(name)
        require(e != null, s"$template: missing OOXML part $name")
        val in = zip.getInputStream(e)
        try in.readAllBytes() finally in.close()
      }
      // parse the layout's placeholders: idx → (type attr, geometry)
      val ph = layoutPlaceholders(bytesOf("ppt/slideLayouts/slideLayout1.xml"))
      val missing = PhIdx.filter { case (_, idx) => !ph.contains(idx) }
      require(missing.isEmpty,
        s"$template: layout lacks required placeholders: " +
          missing.map { case (k, v) => s"$k $v" }.mkString(", "))

      val presXml = new String(bytesOf("ppt/presentation.xml"), "UTF-8")
      require(!presXml.contains("<p:sldId "),
        s"$template: template must contain the master layout and no slides " +
          "(tsa/cond_collection.py:262-264)")
      val relsXml = new String(bytesOf("ppt/_rels/presentation.xml.rels"), "UTF-8")
      val types = new String(bytesOf("[Content_Types].xml"), "UTF-8")
      // next free rId in the presentation's relationship part
      val maxRid = """Id="rId(\d+)"""".r.findAllMatchIn(relsXml)
        .map(_.group(1).toInt).maxOption.getOrElse(0)
      val n = slides.size

      val out = new Ooxml.StampedZip(path, clock); import out.part
      try {
        val amended = Set("[Content_Types].xml", "ppt/presentation.xml",
          "ppt/_rels/presentation.xml.rels")
        val entries = zip.entries()
        while (entries.hasMoreElements) {
          val e = entries.nextElement()
          if (!e.isDirectory && !amended(e.getName)) part(e.getName, bytesOf(e.getName))
        }
        part("[Content_Types].xml", types.replace("</Types>",
          (1 to n).map(i =>
            s"""<Override PartName="/ppt/slides/slide$i.xml" ContentType="application/vnd.openxmlformats-officedocument.presentationml.slide+xml"/>""")
            .mkString + "</Types>").getBytes("UTF-8"))
        val sldIds =
          (1 to n).map(i => s"""<p:sldId id="${255 + i}" r:id="rId${maxRid + i}"/>""").mkString
        // CT_Presentation element order puts sldIdLst after the master
        // lists and before sldSz; a slide-less template saved by a real
        // editor may still carry an EMPTY <p:sldIdLst/>, so fill that
        // first, then fall back to inserting a new list before sldSz
        val withSlides =
          if (presXml.contains("<p:sldIdLst/>"))
            presXml.replace("<p:sldIdLst/>", s"<p:sldIdLst>$sldIds</p:sldIdLst>")
          else if (presXml.contains("<p:sldIdLst>"))
            presXml.replace("<p:sldIdLst>", s"<p:sldIdLst>$sldIds")
          else if (presXml.contains("<p:sldSz "))
            presXml.replace("<p:sldSz ", s"<p:sldIdLst>$sldIds</p:sldIdLst><p:sldSz ")
          else
            presXml.replace("</p:sldMasterIdLst>",
              s"</p:sldMasterIdLst><p:sldIdLst>$sldIds</p:sldIdLst>")
        // a producer using a non-`p:` prefix would make every splice a
        // silent no-op and the deck would open EMPTY — fail loudly instead
        require(n == 0 || withSlides.contains("<p:sldId "),
          s"$template: could not splice slides into presentation.xml " +
            "(unsupported namespace prefixing)")
        part("ppt/presentation.xml", withSlides.getBytes("UTF-8"))
        part("ppt/_rels/presentation.xml.rels", relsXml.replace("</Relationships>",
          (1 to n).map(i =>
            s"""<Relationship Id="rId${maxRid + i}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide" Target="slides/slide$i.xml"/>""")
            .mkString + "</Relationships>").getBytes("UTF-8"))
        for ((s, i) <- slides.zipWithIndex) {
          part(s"ppt/slides/slide${i + 1}.xml", templateSlideXml(s, ph).getBytes("UTF-8"))
          part(s"ppt/slides/_rels/slide${i + 1}.xml.rels", slideRels.getBytes("UTF-8"))
        }
      } finally out.close()
    } finally zip.close()
  }

  /** Placeholders of a layout part: idx → (`type` attribute or "",
    * optional xfrm box). A title placeholder carries no idx attribute —
    * ECMA-376 defaults it to 0, matching python-pptx's
    * `placeholder_format.idx`. The box is None when the placeholder
    * inherits its geometry from the master (common in corporate
    * layouts) — only the table/timeline positions consume it, with a
    * default-geometry fallback.
    */
  private def layoutPlaceholders(layoutXml: Array[Byte]): Map[Int, (String, Option[Box])] = {
    // untrusted input: same XXE/doctype hardening as WorkbookReader
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setExpandEntityReferences(false)
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    val doc = dbf.newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(layoutXml))
    def byLocal(e: org.w3c.dom.Element, local: String): Seq[org.w3c.dom.Element] = {
      val all = e.getElementsByTagName("*")
      (0 until all.getLength).map(all.item(_).asInstanceOf[org.w3c.dom.Element])
        .filter(x => x.getTagName == local || x.getTagName.endsWith(s":$local"))
    }
    byLocal(doc.getDocumentElement, "sp").flatMap { sp =>
      byLocal(sp, "ph").headOption.map { phEl =>
        val idx = Option(phEl.getAttribute("idx")).filter(_.nonEmpty)
          .map(_.toInt).getOrElse(0)
        // a:ext under a:xfrm is the EXTENT; a bare byLocal search would
        // also hit a:ext EXTENSION entries inside a:extLst (creationId)
        val box = for {
          xfrm <- byLocal(sp, "xfrm").headOption
          off <- byLocal(xfrm, "off").headOption
          ext <- byLocal(xfrm, "ext").headOption
        } yield Box(off.getAttribute("x").toLong, off.getAttribute("y").toLong,
          ext.getAttribute("cx").toLong, ext.getAttribute("cy").toLong)
        idx -> (phEl.getAttribute("type"), box)
      }
    }.toMap
  }

  private val slideRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/slideLayout" Target="../slideLayouts/slideLayout1.xml"/>""" +
      "</Relationships>"

  private val NsP = """xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main""""
  private val NsA = """xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main""""
  private val NsR = """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships""""
  private val EmptyTree =
    """<p:spTree><p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr><p:grpSpPr/></p:spTree>"""

  /** Minimal-but-complete theme: ECMA-376 requires the full color/font/
    * format scheme triple even when slides style themselves inline.
    */
  private def themeXml: String = {
    val fills = """<a:solidFill><a:schemeClr val="phClr"/></a:solidFill>"""
    val lns = (w: Int) =>
      s"""<a:ln w="$w"><a:solidFill><a:schemeClr val="phClr"/></a:solidFill></a:ln>"""
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<a:theme $NsA name="graft"><a:themeElements>""" +
      """<a:clrScheme name="graft">""" +
      """<a:dk1><a:srgbClr val="000000"/></a:dk1><a:lt1><a:srgbClr val="FFFFFF"/></a:lt1>""" +
      """<a:dk2><a:srgbClr val="44546A"/></a:dk2><a:lt2><a:srgbClr val="E7E6E6"/></a:lt2>""" +
      """<a:accent1><a:srgbClr val="2B83BA"/></a:accent1><a:accent2><a:srgbClr val="F03B20"/></a:accent2>""" +
      """<a:accent3><a:srgbClr val="BABABA"/></a:accent3><a:accent4><a:srgbClr val="FFC000"/></a:accent4>""" +
      """<a:accent5><a:srgbClr val="5B9BD5"/></a:accent5><a:accent6><a:srgbClr val="70AD47"/></a:accent6>""" +
      """<a:hlink><a:srgbClr val="0563C1"/></a:hlink><a:folHlink><a:srgbClr val="954F72"/></a:folHlink>""" +
      "</a:clrScheme>" +
      """<a:fontScheme name="graft">""" +
      """<a:majorFont><a:latin typeface="Calibri"/><a:ea typeface=""/><a:cs typeface=""/></a:majorFont>""" +
      """<a:minorFont><a:latin typeface="Calibri"/><a:ea typeface=""/><a:cs typeface=""/></a:minorFont>""" +
      "</a:fontScheme>" +
      """<a:fmtScheme name="graft">""" +
      s"""<a:fillStyleLst>$fills$fills$fills</a:fillStyleLst>""" +
      s"""<a:lnStyleLst>${lns(6350)}${lns(12700)}${lns(19050)}</a:lnStyleLst>""" +
      """<a:effectStyleLst><a:effectStyle><a:effectLst/></a:effectStyle><a:effectStyle><a:effectLst/></a:effectStyle><a:effectStyle><a:effectLst/></a:effectStyle></a:effectStyleLst>""" +
      s"""<a:bgFillStyleLst>$fills$fills$fills</a:bgFillStyleLst>""" +
      "</a:fmtScheme></a:themeElements></a:theme>"
  }

  /** Shape-XML builders with a per-slide id counter, shared by both
    * output modes.
    */
  private final class Shapes {
    private var id = 1
    def nextId(): Int = { id += 1; id }

    def textBox(x: Long, y: Long, cx: Long, cy: Long, text: String,
                sizePt: Int, bold: Boolean = false, color: String = "000000"): String = {
      val b = if (bold) """ b="1"""" else ""
      s"""<p:sp><p:nvSpPr><p:cNvPr id="${nextId()}" name="t"/><p:cNvSpPr/><p:nvPr/></p:nvSpPr>""" +
        s"""<p:spPr><a:xfrm><a:off x="$x" y="$y"/><a:ext cx="$cx" cy="$cy"/></a:xfrm>""" +
        """<a:prstGeom prst="rect"><a:avLst/></a:prstGeom></p:spPr>""" +
        """<p:txBody><a:bodyPr wrap="square"/><a:lstStyle/><a:p>""" +
        s"""<a:r><a:rPr lang="fi-FI" sz="${sizePt * 100}"$b><a:solidFill><a:srgbClr val="$color"/></a:solidFill></a:rPr>""" +
        s"""<a:t>${Ooxml.esc(text)}</a:t></a:r></a:p></p:txBody></p:sp>"""
    }

    /** Placeholder-bound text shape: no xfrm, no run styling — both
      * inherit from the template layout's placeholder (idx 0 = the
      * title, written without an idx attribute as ECMA-376 defaults).
      */
    def phText(idx: Int, typeAttr: String, text: String): String = {
      val t = if (typeAttr.nonEmpty) s""" type="$typeAttr"""" else ""
      val i = if (idx != 0) s""" idx="$idx"""" else ""
      s"""<p:sp><p:nvSpPr><p:cNvPr id="${nextId()}" name="ph$idx"/>""" +
        """<p:cNvSpPr><a:spLocks noGrp="1"/></p:cNvSpPr>""" +
        s"""<p:nvPr><p:ph$t$i/></p:nvPr></p:nvSpPr><p:spPr/>""" +
        """<p:txBody><a:bodyPr/><a:lstStyle/><a:p>""" +
        s"""<a:r><a:rPr lang="fi-FI"/><a:t>${Ooxml.esc(text)}</a:t></a:r></a:p></p:txBody></p:sp>"""
    }

    def rect(x: Long, y: Long, cx: Long, cy: Long, rgb: String, alphaPct: Int): String = {
      val alpha = if (alphaPct >= 100) ""
        else s"""<a:alpha val="${alphaPct * 1000}"/>"""
      s"""<p:sp><p:nvSpPr><p:cNvPr id="${nextId()}" name="r"/><p:cNvSpPr/><p:nvPr/></p:nvSpPr>""" +
        s"""<p:spPr><a:xfrm><a:off x="$x" y="$y"/><a:ext cx="$cx" cy="$cy"/></a:xfrm>""" +
        """<a:prstGeom prst="rect"><a:avLst/></a:prstGeom>""" +
        s"""<a:solidFill><a:srgbClr val="$rgb">$alpha</a:srgbClr></a:solidFill>""" +
        """<a:ln><a:noFill/></a:ln></p:spPr>""" +
        """<p:txBody><a:bodyPr/><a:lstStyle/><a:p/></p:txBody></p:sp>"""
    }

    // reference table: 0.64 cm rows (230400 EMU), 8 pt, black,
    // background-filled cells (cell.fill.background())
    def table(x: Long, y: Long, colW: Long, rows: Seq[Seq[String]]): String = {
      val nCols = rows.map(_.size).max
      s"""<p:graphicFrame><p:nvGraphicFramePr><p:cNvPr id="${nextId()}" name="tbl"/>""" +
        """<p:cNvGraphicFramePr/><p:nvPr/></p:nvGraphicFramePr>""" +
        s"""<p:xfrm><a:off x="$x" y="$y"/><a:ext cx="${colW * nCols}" cy="${230400L * rows.size}"/></p:xfrm>""" +
        """<a:graphic><a:graphicData uri="http://schemas.openxmlformats.org/drawingml/2006/table"><a:tbl><a:tblPr/>""" +
        s"""<a:tblGrid>${(1 to nCols).map(_ => s"""<a:gridCol w="$colW"/>""").mkString}</a:tblGrid>""" +
        rows.map { r =>
          """<a:tr h="230400">""" +
            r.padTo(nCols, "").map { c =>
              """<a:tc><a:txBody><a:bodyPr/><a:lstStyle/><a:p>""" +
                s"""<a:r><a:rPr lang="fi-FI" sz="800"><a:solidFill><a:srgbClr val="000000"/></a:solidFill></a:rPr><a:t>${Ooxml.esc(c)}</a:t></a:r>""" +
                """</a:p></a:txBody><a:tcPr><a:noFill/></a:tcPr></a:tc>"""
            }.mkString + "</a:tr>"
        }.mkString +
        "</a:tbl></a:graphicData></a:graphic></p:graphicFrame>"
    }

    /** Timeline lanes as native shapes inside `box` — [[SvgTimeline]]'s
      * colours and lane style in integer EMU geometry, lane labels at
      * the left (`labelW` EMU of the box reserved for them).
      */
    def timeline(box: Box, labelW: Long,
                 lanes: Seq[SvgTimeline.Lane], ranges: Seq[SvgTimeline.Range]): String = {
      if (lanes.isEmpty || ranges.isEmpty) return ""
      val sb = new StringBuilder
      val plotX = box.x + labelW
      val plotW = box.cx - labelW
      val laneH = math.min(685800L, box.cy / lanes.size)
      val ext = SvgTimeline.extent(ranges)
      def px(t: Long): Long = plotX + (t - ext.t0) * plotW / ext.span
      for ((lane, li) <- lanes.zipWithIndex) {
        val style = SvgTimeline.laneStyle(li == lanes.size - 1)
        val y = box.y + li * laneH + laneH * (100 - style.heightPct) / 200
        val h = laneH * style.heightPct / 100
        sb ++= textBox(box.x, y + h / 2 - 114300, labelW - 57150, 228600L, lane.label, 9)
        for (r <- ranges) {
          val x0 = px(r.fromSec)
          val cx = math.max(9525L, px(r.untilSec) - x0)
          sb ++= rect(x0, y, cx, h, f"${SvgTimeline.laneColor(r.lanes(li))}%06X", style.alphaPct)
        }
      }
      sb.toString
    }
  }

  private val SlideOpen =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<p:sld $NsP $NsA $NsR><p:cSld><p:spTree>""" +
      """<p:nvGrpSpPr><p:cNvPr id="1" name=""/><p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr><p:grpSpPr/>"""
  private val SlideClose =
    "</p:spTree></p:cSld><p:clrMapOvr><a:masterClrMapping/></p:clrMapOvr></p:sld>"

  private def slideXml(s: Slide): String = {
    val sh = new Shapes
    val sb = new StringBuilder
    sb ++= SlideOpen
    val w = SlideW - 2 * Margin
    sb ++= sh.textBox(Margin, 114300, w, 342900, s.header, 14, color = "666666")
    sb ++= sh.textBox(Margin, 457200, w, 457200, s.title, 28, bold = true)
    sb ++= sh.textBox(Margin, 914400, w, 342900, s.body, 12)
    sb ++= sh.textBox(Margin, 1257300, w, 342900, s.timeRange, 12)
    sb ++= sh.table(Margin, 1600200, 1828800, s.table)
    sb ++= sh.textBox(Margin, 2331800, w, 342900, s.errors, 10, color = "990000")
    s.timeline.foreach { case (lanes, ranges) =>
      sb ++= sh.timeline(
        Box(Margin, 2774600L, SlideW - 2 * Margin, SlideH - 2774600L - 457200L),
        labelW = 1371600L, lanes, ranges)
    }
    sb ++= sh.textBox(Margin, SlideH - 342900, w, 228600, s.footer, 9, color = "999999")
    sb ++= SlideClose
    sb.toString
  }

  /** Template mode: text content binds to the layout's placeholders
    * (inheriting the template's position AND styling); the table and
    * timeline — which PresentationML can't express as plain placeholder
    * text — are placed at the geometry parsed from their placeholders,
    * exactly where the template author put them.
    */
  private def templateSlideXml(s: Slide, ph: Map[Int, (String, Option[Box])]): String = {
    val sh = new Shapes
    def text(key: String, value: String): String = {
      val idx = PhIdx(key)
      sh.phText(idx, ph(idx)._1, value)
    }
    val sb = new StringBuilder
    sb ++= SlideOpen
    sb ++= text("HEADER_IDX", s.header)
    sb ++= text("TITLE_IDX", s.title)
    sb ++= text("BODY_IDX", s.body)
    sb ++= text("TIMERANGE_IDX", s.timeRange)
    // geometry-consuming shapes fall back to the self-contained layout
    // when the template placeholder inherits its box from the master
    if (s.table.nonEmpty) {
      val tblBox = ph(PhIdx("VALIDTABLE_IDX"))._2
        .getOrElse(Box(Margin, 1600200L, 1828800L * s.table.map(_.size).max, 0L))
      sb ++= sh.table(tblBox.x, tblBox.y,
        tblBox.cx / s.table.map(_.size).max, s.table)
    }
    sb ++= text("ERRORS_IDX", s.errors)
    s.timeline.foreach { case (lanes, ranges) =>
      val plotBox = ph(PhIdx("MAINPLOT_IDX"))._2.getOrElse(
        Box(Margin, 2774600L, SlideW - 2 * Margin, SlideH - 2774600L - 457200L))
      sb ++= sh.timeline(plotBox, labelW = math.min(1371600L, plotBox.cx / 6),
        lanes, ranges)
    }
    sb ++= text("FOOTER_IDX", s.footer)
    sb ++= SlideClose
    sb.toString
  }
}

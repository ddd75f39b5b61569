package graft.cli

import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Minimal dependency-free XLSX writer — enough of ECMA-376 (OOXML
  * SpreadsheetML, a public standard: a ZIP of XML parts) to reproduce
  * the reference's styled summary workbook
  * (tsa/cond_collection.py:205-255): one sheet per collection, bold
  * header cells, `0.00 %` number format on the percentage columns,
  * real datetimes. Strings are written inline (no sharedStrings part);
  * LibreOffice and Excel both read the result.
  */
object Xlsx {

  sealed trait Cell
  case object Blank extends Cell
  final case class Str(v: String, bold: Boolean = false) extends Cell
  final case class Num(v: Double) extends Cell
  /** Fraction 0-1 rendered with the reference's `0.00 %` format. */
  final case class Pct(v: Double) extends Cell
  final case class Ts(v: java.sql.Timestamp) extends Cell

  /** @param sheets (name, rows) in order; row cells map to columns A.. */
  def write(path: Path, sheets: Seq[(String, Seq[Seq[Cell]])]): Unit = {
    val out = new ZipOutputStream(Files.newOutputStream(path))
    def part(name: String, content: String): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    try {
      val n = sheets.size
      part("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
          """<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""" +
          (1 to n).map(i =>
            s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
            .mkString +
          "</Types>")
      part("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      // sanitize THEN dedup: truncation/char-replacement can collide two
      // distinct titles, and OOXML rejects duplicate sheet names
      val names = dedupNames(sheets.zipWithIndex.map {
        case ((name, _), i) => sheetName(name, i)
      })
      part("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets>""" +
          names.zipWithIndex.map { case (name, i) =>
            s"""<sheet name="${Ooxml.esc(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
          }.mkString +
          "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          (1 to n).map(i =>
            s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
            .mkString +
          s"""<Relationship Id="rId${n + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/styles" Target="styles.xml"/>""" +
          "</Relationships>")
      // styles: xf 0 normal, 1 bold, 2 percent (custom 164 = "0.00 %",
      // the reference's format string), 3 datetime (builtin 22)
      part("xl/styles.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
          """<numFmts count="1"><numFmt numFmtId="164" formatCode="0.00 %"/></numFmts>""" +
          """<fonts count="2"><font><sz val="11"/><name val="Calibri"/></font>""" +
          """<font><sz val="11"/><name val="Calibri"/><b/></font></fonts>""" +
          """<fills count="2"><fill><patternFill patternType="none"/></fill>""" +
          """<fill><patternFill patternType="gray125"/></fill></fills>""" +
          """<borders count="1"><border/></borders>""" +
          """<cellStyleXfs count="1"><xf/></cellStyleXfs>""" +
          """<cellXfs count="4">""" +
          """<xf numFmtId="0" fontId="0" applyFont="1"/>""" +
          """<xf numFmtId="0" fontId="1" applyFont="1"/>""" +
          """<xf numFmtId="164" fontId="0" applyNumberFormat="1"/>""" +
          """<xf numFmtId="22" fontId="0" applyNumberFormat="1"/>""" +
          "</cellXfs></styleSheet>")
      for (((_, rows), i) <- sheets.zipWithIndex)
        part(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(rows))
    } finally out.close()
  }

  private def sheetXml(rows: Seq[Seq[Cell]]): String = {
    val sb = new StringBuilder
    sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    for ((row, r) <- rows.zipWithIndex if row.exists(_ != Blank)) {
      sb ++= s"""<row r="${r + 1}">"""
      for ((cell, c) <- row.zipWithIndex if cell != Blank) {
        val ref = colName(c) + (r + 1)
        cell match {
          case Str(v, bold) =>
            sb ++= s"""<c r="$ref" s="${if (bold) 1 else 0}" t="inlineStr"><is><t xml:space="preserve">${Ooxml.esc(v)}</t></is></c>"""
          case Num(v) => sb ++= s"""<c r="$ref" s="0"><v>${fmt(v)}</v></c>"""
          case Pct(v) => sb ++= s"""<c r="$ref" s="2"><v>${fmt(v)}</v></c>"""
          case Ts(v) => sb ++= s"""<c r="$ref" s="3"><v>${fmt(serial(v))}</v></c>"""
          case Blank => ()
        }
      }
      sb ++= "</row>"
    }
    sb ++= "</sheetData></worksheet>"
    sb.toString
  }

  /** Excel serial date: days since 1899-12-30, in the SESSION-LESS UTC
    * reading of the timestamp (the engine pins UTC everywhere).
    */
  private def serial(ts: java.sql.Timestamp): Double =
    ts.getTime / 86400000.0 + 25569.0

  private def fmt(d: Double): String =
    if (d == d.floor && math.abs(d) < 1e15) d.toLong.toString else d.toString

  private[cli] def colName(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
    sb.toString
  }

  /** Sheet names: ≤31 chars, no []:*?/\ — the OOXML constraints. */
  private def sheetName(s: String, i: Int): String = {
    val clean = s.replaceAll("""[\[\]:*?/\\]""", "_").take(31)
    if (clean.isEmpty) s"Sheet${i + 1}" else clean
  }

  /** Suffix later collisions with ` (k)`, re-truncating to 31 — two
    * titles sharing a sanitized prefix must not share a sheet name.
    */
  private def dedupNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    names.map { n =>
      var cand = n
      var k = 2
      while (seen.contains(cand)) {
        val suffix = s" ($k)"
        cand = n.take(31 - suffix.length) + suffix
        k += 1
      }
      seen += cand
      cand
    }
  }
}

/** Shared XML text handling for the dependency-free OOXML/SVG writers. */
private[cli] object Ooxml {
  /** Escape markup AND drop XML-1.0-invalid control characters — a
    * stray control byte in sheet-derived text would make the whole
    * document unreadable even escaped (only tab/LF/CR are legal below
    * 0x20).
    */
  def esc(s: String): String = {
    val cleaned = s.filter(c => c >= 0x20 || c == '\t' || c == '\n' || c == '\r')
    cleaned.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
  }
}

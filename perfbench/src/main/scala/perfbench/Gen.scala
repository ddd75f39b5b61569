package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** Condition model of the generator. The benchmark renders it to the
  * DSL text the program parses, and evaluates it itself with [[RefEval]],
  * so the program's parse is checked too.
  */
sealed trait GBlock
/** `s<statid>#<sensor> <op> <values>` */
final case class Prim(statid: Int, sensor: String, seid: Int, op: String,
                      values: Vector[Double]) extends GBlock
/** `[site#]alias`: the master ranges of an earlier condition. */
final case class Sec(site: String, alias: String) extends GBlock {
  def id: String = s"${site}_$alias"
}

sealed trait GExpr
object GExpr {
  final case class Leaf(block: Int) extends GExpr
  final case class And(l: GExpr, r: GExpr) extends GExpr
  final case class Or(l: GExpr, r: GExpr) extends GExpr
  final case class Not(e: GExpr) extends GExpr
}

final case class GCond(site: String, alias: String, blocks: Vector[GBlock], expr: GExpr) {
  def id: String = s"${site}_$alias"
}

/** A sheet row that the program must report in its error tree.
  * @param node error-tree key of the condition under its collection
  * @param expect text one of the node's messages must contain
  */
final case class Planted(node: String, expect: String)

final case class GSheet(title: String, from: LocalDate, until: LocalDate,
                        rows: Vector[(String, String, String)],
                        conds: Vector[GCond], planted: Vector[Planted]) {
  def lo: Long = from.atStartOfDay().toEpochSecond(ZoneOffset.UTC)
  def hi: Long = until.atTime(23, 59, 59).toEpochSecond(ZoneOffset.UTC)
}

/** One (station, sensor) reading series in UTC epoch seconds. */
final case class Series(statid: Int, seid: Int, times: Array[Long], values: Array[Float])

/** What a workload's inputs hold, as counted by the generator. */
final case class Sizes(readings: Long, conditions: Int, blocks: Int,
                       rawRows: Long, rawBytes: Long) {
  def json: String =
    s"""{"readings": $readings, "conditions": $conditions, "blocks": $blocks, """ +
      s""""raw_rows": $rawRows, "raw_bytes": $rawBytes}"""
}

/** Where the raw LOTJU dump and its metadata were written, and what the
  * store ingested from it must hold.
  */
final case class Raw(dir: Path, statobsGlob: String, seobsGlob: String,
                     stationsCsv: String, sensorsCsv: String,
                     rows: Long, bytes: Long, storeRows: Long, storeSevalX2: Long)

/** Seeded generator of every benchmark input. The same seed writes
  * byte-identical files; another seed writes the same row counts.
  */
object Gen {

  /** Data lives in Jan-Mar 2018: no Helsinki DST change, so every raw
    * wall-clock time maps to exactly one instant.
    */
  val Epoch0: Long = LocalDate.of(2018, 1, 1).atStartOfDay().toEpochSecond(ZoneOffset.UTC)

  /** Sensors the generated stations report; real names and ids from the
    * program's own sensor list.
    */
  val SensorPool: Vector[String] =
    Vector("ilma", "tie_1", "tie_2", "maa_1", "kastepiste", "keli_1", "ilman_kosteus", "sade")
  private def seidOf(name: String): Int = graft.dsl.Validation.localSensorIds(name)

  /** Station ids known to the program, in id order. */
  lazy val StationIds: Vector[Int] = graft.dsl.Validation.localStationIds.toVector.sorted

  private val helsinki = ZoneId.of("Europe/Helsinki")
  private val aikaFmt = DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm:ss")

  /** Station event grid: one slot every `stepS` seconds over `days`,
    * each slot jittered by up to half a step; `gaps` runs of slots long
    * enough to exceed the 30-min cap are dropped; each sensor also skips
    * `skips` events, so its series is irregular. Values follow a wave
    * (see below), so work per seed stays about constant.
    */
  final case class Grid(days: Int, stepS: Int, gaps: Int, skips: Int, sensorsPerStation: Int)

  def stationSeries(rnd: SplittableRandom, statids: Vector[Int],
                    g: Grid): Vector[(Int, Array[Long], Vector[Series])] = {
    val slots = g.days * 86400 / g.stepS
    val gapLen = 2400 / g.stepS + 2 // > 30 min of missing slots
    statids.map { statid =>
      // gaps and skips sit at fixed, evenly spread positions, so every
      // seed has the same number of readings in any whole-day range
      val dropped = new Array[Boolean](slots)
      for (k <- 0 until g.gaps; at = (2 * k + 1) * slots / (2 * g.gaps); s <- at until at + gapLen)
        dropped(s) = true
      val events = (0 until slots).filterNot(dropped(_))
        .map(s => Epoch0 + s.toLong * g.stepS + rnd.nextInt(g.stepS / 2)).toArray
      val sensors = rnd.shuffled(SensorPool).take(g.sensorsPerStation)
      val series = sensors.zipWithIndex.map { case (name, n) =>
        val skip = new Array[Boolean](events.length)
        for (j <- 0 until g.skips) skip(((2 * j + 1).toLong * events.length / (2 * g.skips)).toInt + n) = true
        val idx = events.indices.filterNot(skip(_)).toArray
        // an 8-hour wave of seeded phase, on the 0.5 grid, with rare
        // one-step noise: threshold crossings (so islands) per day stay
        // about the same from seed to seed
        val phase = rnd.nextDouble() * 2 * math.Pi
        val values = idx.map { i =>
          val wave = 6 * math.sin(2 * math.Pi * (events(i) - Epoch0) / (8 * 3600.0) + phase)
          val noise = rnd.nextInt(50) match { case 0 => -0.5; case 1 => 0.5; case _ => 0.0 }
          (math.round(wave * 2) / 2.0 + noise).toFloat
        }
        Series(statid, seidOf(name), idx.map(events), values)
      }
      (statid, events, series)
    }
  }

  private implicit class Shuffle(rnd: SplittableRandom) {
    def shuffled[A](xs: Vector[A]): Vector[A] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector.asInstanceOf[Vector[A]]
    }
  }

  /** Write the raw LOTJU dump of `stations` plus planted junk (exact
    * duplicate rows, NULL fields, unknown LOTJU ids, dangling event ids)
    * that ingestion must drop, and the station/sensor metadata.
    */
  def writeRaw(rnd: SplittableRandom, dir: Path,
               stations: Vector[(Int, Array[Long], Vector[Series])], files: Int): Raw = {
    Files.createDirectories(dir)
    val stationLotju: Map[Int, Int] = StationIds.zipWithIndex.map { case (s, i) => s -> (20000 + i) }.toMap
    val sensorRows = graft.dsl.Validation.localSensorIds.toVector.sortBy(_._2)
    val stationsCsv = dir.resolve("stations.csv")
    Files.writeString(stationsCsv, StationIds.map(s =>
      s"$s|${stationLotju(s)}|\"station_$s\"\n").mkString)
    val sensorsCsv = dir.resolve("sensors.csv")
    Files.writeString(sensorsCsv, sensorRows.map { case (n, id) =>
      s"$id|${3000 + id}|\"${n.toUpperCase}\"\n" }.mkString)

    // events of all stations in time order, each with its reporting series
    final case class Ev(t: Long, statid: Int, readings: Vector[(Int, Float)])
    val evs = stations.flatMap { case (statid, events, series) =>
      val pos = series.map(_ => 0).toArray
      events.toVector.map { t =>
        val rs = series.indices.flatMap { k =>
          val s = series(k)
          if (pos(k) < s.times.length && s.times(pos(k)) == t) {
            pos(k) += 1; Some(s.seid -> s.values(pos(k) - 1))
          } else None
        }.toVector
        Ev(t, statid, rs)
      }
    }.sortBy(e => (e.t, e.statid))

    def aika(t: Long): String =
      java.time.Instant.ofEpochSecond(t).atZone(helsinki).format(aikaFmt) + ",000000000"
    val so = Array.fill(files)(new StringBuilder("\"ID\"|\"AIKA\"|\"ASEMA_ID\"\n"))
    val se = Array.fill(files)(
      new StringBuilder("\"ID\"|\"ANTURI_ID\"|\"ARVO\"|\"MITTATIETO_ID\"|\"TIEDOSTO_ID\"\n"))
    var soId = 400000000L
    var seId = 23800000000L
    var rows = 0L
    def soLine(f: Int, line: String, times: Int = 1): Unit =
      for (_ <- 0 until times) { so(f) ++= line; rows += 1 }
    def seLine(f: Int, line: String, times: Int = 1): Unit =
      for (_ <- 0 until times) { se(f) ++= line; rows += 1 }
    val unusedSensors = sensorRows.map(_._2).filterNot(id => SensorPool.map(seidOf).contains(id))
    var storeRows = 0L
    var sevalX2 = 0L
    evs.zipWithIndex.foreach { case (e, i) =>
      val f = (i.toLong * files / evs.size).toInt
      soId += 1
      // exact duplicates are deduped on the natural key
      // junk at fixed positions, so its amount does not depend on the seed
      soLine(f, s"$soId|${aika(e.t)}|${stationLotju(e.statid)}\n", if (i % 100 == 7) 2 else 1)
      e.readings.foreach { case (seid, v) =>
        seId += 1
        seLine(f, s"$seId|${3000 + seid}|$v|$soId|\n", if (storeRows % 97 == 3) 2 else 1)
        storeRows += 1; sevalX2 += (v * 2).toLong
      }
      i % 50 match {
        case 0 => // NULL value on an otherwise unused (event, sensor) key
          seId += 1; seLine(f, s"$seId|${3000 + unusedSensors(rnd.nextInt(unusedSensors.size))}||$soId|\n")
        case 1 => // unknown sensor LOTJU id
          seId += 1; seLine(f, s"$seId|99999|1.5|$soId|\n")
        case 2 => // event of an unknown station, with a reading
          soId += 1; soLine(f, s"$soId|${aika(e.t)}|88888\n")
          seId += 1; seLine(f, s"$seId|${3000 + e.readings.headOption.fold(1)(_._1)}|2.0|$soId|\n")
        case 3 => // event with no time, with a reading
          soId += 1; soLine(f, s"$soId||${stationLotju(e.statid)}\n")
          seId += 1; seLine(f, s"$seId|3003|2.0|$soId|\n")
        case 4 => // reading of an event that does not exist
          seId += 1; seLine(f, s"$seId|3003|2.0|1|\n")
        case _ => ()
      }
    }
    var bytes = Files.size(stationsCsv) + Files.size(sensorsCsv)
    for (f <- 0 until files) {
      val a = dir.resolve(f"tiesaa_mittatieto_$f%02d.csv")
      val b = dir.resolve(f"anturi_arvo_$f%02d.csv")
      Files.write(a, so(f).toString.getBytes(UTF_8))
      Files.write(b, se(f).toString.getBytes(UTF_8))
      bytes += Files.size(a) + Files.size(b)
    }
    Raw(dir, dir.resolve("tiesaa_mittatieto_*.csv").toString,
      dir.resolve("anturi_arvo_*.csv").toString, stationsCsv.toString, sensorsCsv.toString,
      rows, bytes, storeRows, sevalX2)
  }

  // ---- conditions ----

  /** `op` on `s` against a seeded value; the caller fixes `op`, which
    * keeps the work of a condition about the same from seed to seed.
    */
  def prim(rnd: SplittableRandom, s: Series, sensor: String, op: String): Prim = {
    val v = (rnd.nextInt(13) - 6) * 0.5
    Prim(s.statid, sensor, s.seid, op, if (op == "in") Vector(v, v + 0.5) else Vector(v))
  }

  /** Random expression over blocks 0 until n, every block used once. */
  def expr(rnd: SplittableRandom, n: Int): GExpr = {
    var es: Vector[GExpr] = (0 until n).map(i =>
      if (rnd.nextInt(4) == 0) GExpr.Not(GExpr.Leaf(i)) else GExpr.Leaf(i)).toVector
    while (es.size > 1) {
      val i = rnd.nextInt(es.size - 1)
      val e = if (rnd.nextBoolean()) GExpr.And(es(i), es(i + 1)) else GExpr.Or(es(i), es(i + 1))
      es = es.patch(i, Seq(if (rnd.nextInt(5) == 0) GExpr.Not(e) else e), 2)
    }
    es.head
  }

  private def num(v: Double): String =
    java.math.BigDecimal.valueOf(v).stripTrailingZeros.toPlainString

  def render(c: GCond): String = {
    def block(b: GBlock): String = b match {
      case p: Prim =>
        val vs = if (p.op == "in") p.values.map(num).mkString("(", ", ", ")") else num(p.values.head)
        s"s${p.statid}#${p.sensor} ${p.op} $vs"
      case s: Sec => if (s.site == c.site) s.alias else s"${s.site}#${s.alias}"
    }
    def go(e: GExpr): String = e match {
      case GExpr.Leaf(i) => block(c.blocks(i))
      case GExpr.Not(x) => "not " + wrap(x)
      case GExpr.And(l, r) => wrap(l) + " and " + wrap(r)
      case GExpr.Or(l, r) => wrap(l) + " or " + wrap(r)
    }
    def wrap(e: GExpr): String = e match {
      // "not" must follow whitespace to be read as the keyword
      case _: GExpr.And | _: GExpr.Or => "( " + go(e) + " )"
      case _ => go(e)
    }
    go(c.expr)
  }

  // ---- sheet renderings ----

  private def csvCell(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""
  private def dmy(d: LocalDate): String = s"${d.getDayOfMonth}.${d.getMonthValue}.${d.getYear}"

  def sheetCsv(s: GSheet): String =
    (Seq(Seq("start", "end"), Seq(dmy(s.from), dmy(s.until)),
      Seq("site", "master_alias", "condition")) ++
      s.rows.map { case (a, b, c) => Seq(a, b, c) })
      .map(_.map(csvCell).mkString(",")).mkString("", "\n", "\n")

  /** Minimal SpreadsheetML workbook with inline-string cells and fixed
    * ZIP entry times, so the file bytes depend on the seed only.
    */
  def writeWorkbook(path: Path, sheets: Seq[(String, Seq[Seq[String]])]): Unit = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")
    val out = new ZipOutputStream(Files.newOutputStream(path))
    def part(name: String, body: String): Unit = {
      val e = new ZipEntry(name); e.setTime(Epoch0 * 1000)
      out.putNextEntry(e); out.write(body.getBytes(UTF_8)); out.closeEntry()
    }
    val xml = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val ns = "http://schemas.openxmlformats.org"
    try {
      part("[Content_Types].xml", xml +
        s"""<Types xmlns="$ns/package/2006/content-types">""" +
        s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        sheets.indices.map(i => s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
        "</Types>")
      part("_rels/.rels", xml + s"""<Relationships xmlns="$ns/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
      part("xl/workbook.xml", xml +
        s"""<workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships"><sheets>""" +
        sheets.zipWithIndex.map { case ((n, _), i) =>
          s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""" }.mkString +
        "</sheets></workbook>")
      part("xl/_rels/workbook.xml.rels", xml + s"""<Relationships xmlns="$ns/package/2006/relationships">""" +
        sheets.indices.map(i => s"""<Relationship Id="rId${i + 1}" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""").mkString +
        "</Relationships>")
      sheets.zipWithIndex.foreach { case ((_, rows), i) =>
        part(s"xl/worksheets/sheet${i + 1}.xml", xml +
          s"""<worksheet xmlns="$ns/spreadsheetml/2006/main"><sheetData>""" +
          rows.zipWithIndex.map { case (cells, r) =>
            s"""<row r="${r + 1}">""" + cells.zipWithIndex.map { case (v, c) =>
              s"""<c r="${('A' + c).toChar}${r + 1}" t="inlineStr"><is><t>${esc(v)}</t></is></c>"""
            }.mkString + "</row>"
          }.mkString + "</sheetData></worksheet>")
      }
    } finally out.close()
  }

  def sheetCells(s: GSheet): Seq[Seq[String]] =
    Seq(Seq("start", "end"), Seq(dmy(s.from), dmy(s.until)),
      Seq("site", "master_alias", "condition")) ++ s.rows.map { case (a, b, c) => Seq(a, b, c) }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .count(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toLong)

}

package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dsl.{SheetParser, Validation}
import graft.engine.TsaEngine
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Batch entry point (reference `tsabatch.py:22-152`): parse sheet CSVs,
  * optionally dry-validate (no Spark), else run every collection against
  * the observation store and emit per-condition summary CSV + the nested
  * error-tree JSON.
  *
  * Usage:
  *   TsaBatch --input <workbook.xlsx | dir-of-sheet-csvs> --obs <obs parquet path>
  *            --out <result dir> [--dryvalidate] [--name <run name>]
  *            [--xlsx] [--pptx] [--pptx-template <file.pptx>] [--svg] [--png]
  *            [--log error|warning|info|debug]
  *
  * Unlike the reference (one Postgres session per sheet, sequential),
  * collections here become independent Spark jobs over one shared scan.
  * The presentation sinks are all optional flags: `--xlsx` the styled
  * summary workbook (S7), `--pptx` the per-condition report deck (S8,
  * reference tsa/cond_collection.py:257-394), `--svg` vector timeline
  * plots (S9, the broken_barh figure of tsa/condition.py:448-554),
  * `--png` the same timelines as DPI-300 rasters (the reference's
  * native output format) — all emitted by dependency-free writers
  * over public formats.
  */
object TsaBatch {

  /** Most condition rows [[timelineOf]] collects to the driver for one
    * plot and slide timeline. A condition's rows are its run-length
    * compressed ranges — a month of 1-minute readings flipping on every
    * reading is ~43k — and every row becomes a shape per lane in the
    * slide, so past this bound the timeline is skipped and reported in
    * the condition's error node instead of collected.
    */
  val TimelineMaxRows: Long = 100000L

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val inputDir = opts.getOrElse("input", sys.error("--input required"))
    val name = opts.getOrElse("name", "analysis")

    // --log error|warning|info|debug, reference tsabatch.py:61-79: root
    // level + a per-run file handler (results/<name>.log there; here the
    // --out dir when given, ./results otherwise), console format stays
    // log4j2's. Old logs by the same name are overwritten, as there.
    val logDest = configureLogging(
      opts.getOrElse("log", "info"),
      opts.getOrElse("out", "results"), name)
    log.info(s"START OF TSABATCH with input=$inputDir name=$name " +
      s"dryvalidate=${opts.contains("dryvalidate")}, " +
      s"log=${opts.getOrElse("log", "info")}, logs are saved to $logDest")

    val sheets = readInput(inputDir)

    if (opts.contains("dryvalidate")) {
      val res = Validation.dryValidate(sheets)
      if (!res.ok) {
        System.err.println(res.tree.toJson)
        sys.exit(1)
      }
      println(s"""{"status": "ok", "sheets": ${sheets.size}}""")
      return
    }

    val obsPath = opts.getOrElse("obs", sys.error("--obs required"))
    val outDir = opts.getOrElse("out", sys.error("--out required"))
    Files.createDirectories(Paths.get(outDir))

    // spark-submit sets spark.master as a system property; only default
    // to local[*] (with core-count shuffle partitions) when launched
    // standalone — setting either unconditionally would override a
    // cluster submit's configuration
    val builder0 = SparkSession.builder().appName(s"tsabatch-$name")
    val builder =
      if (sys.props.contains("spark.master")) builder0
      else builder0.master("local[*]")
        .config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.configure(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sheets, obsPath, outDir, name, xlsx = opts.contains("xlsx"),
      pptx = opts.contains("pptx") || opts.contains("pptx-template"),
      svg = opts.contains("svg"), png = opts.contains("png"),
      pptxTemplate = opts.get("pptx-template").map(Paths.get(_)))
    finally spark.stop()
  }

  /** Library form of the batch run (main owns the session lifecycle).
    * With `xlsx` set, also writes `<name>.xlsx` — one styled worksheet
    * per collection in the reference's exact layout
    * (tsa/cond_collection.py:205-255: bold headers, range row,
    * `0.00 %` percentage cells) via the dependency-free [[Xlsx]]
    * writer.
    *
    * @param timelineMaxRows row bound of one condition's timeline
    *   collect, checked against the summary's `n_rows`
    */
  def run(spark: SparkSession, sheets: Vector[(String, String)],
          obsPath: String, outDir: String, name: String,
          xlsx: Boolean = false, pptx: Boolean = false,
          svg: Boolean = false, png: Boolean = false,
          pptxTemplate: Option[java.nio.file.Path] = None,
          timelineMaxRows: Long = TimelineMaxRows): Unit = {
    val obs = spark.read.parquet(obsPath)
    val engine = new TsaEngine(spark)
    val summaryRows = Vector.newBuilder[String]
    summaryRows += "collection,site,master_alias,condition,data_from,data_until," +
      "valid_s,notvalid_s,nodata_s,tottime_s,percent_valid,percent_notvalid,percent_nodata,n_rows"
    var collNodes = Map.empty[String, graft.dsl.ErrorNode]
    val workbook = Vector.newBuilder[(String, Seq[Seq[Xlsx.Cell]])]
    // the reference workbook's FIRST sheet is a separate INFO sheet
    // with analysis start/end wall-clock stamps as plain strings
    // (tsa/analysis_collection.py:195-231: A1 stamp / B1 label at
    // init, A2/B2 after the last collection)
    val infoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val analysisStarted = java.time.LocalDateTime.now().format(infoFmt)
    val deck = Vector.newBuilder[Pptx.Slide]

    // Pre-parse every sheet so that after each run the engine can release
    // cached storage, keeping only catalog entries that a LATER sheet's
    // secondary blocks still reference — a long batch over one engine
    // must not accumulate per-sheet caches (the reference gets this for
    // free by opening a fresh Postgres session per sheet).
    val parsedSheets = sheets.map { case (title, csv) =>
      title -> SheetParser.parse(title, csv)
    }
    val secondaryRefs: Vector[Set[String]] = parsedSheets.map {
      case (_, p) => p.spec.map(_.conditions.flatMap(_.blocks.collect {
        case s: graft.model.SecondaryBlock => s.sourceView
      }).toSet).getOrElse(Set.empty)
    }

    for (((title, parsed), sheetIdx) <- parsedSheets.zipWithIndex) {
      var condNodes = parsed.conditionErrors.map { case (id, ce) =>
        id -> graft.dsl.ErrorNode(id, ce.messages)
      }
      val wsRows = Vector.newBuilder[Seq[Xlsx.Cell]]
      parsed.spec.foreach { spec =>
        def ts(ldt: java.time.LocalDateTime) = Xlsx.Ts(
          java.sql.Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)))
        // the reference's fixed header cells: A1/B1/D1 labels, A2/B2/D2
        // values, column headers in row 3 (to_worksheet layout)
        wsRows += Seq(Xlsx.Str("start", bold = true), Xlsx.Str("end", bold = true),
          Xlsx.Blank, Xlsx.Str("analyzed", bold = true))
        wsRows += Seq(ts(spec.timeFrom), ts(spec.timeUntil), Xlsx.Blank,
          Xlsx.Ts(new java.sql.Timestamp(System.currentTimeMillis())))
        wsRows += Seq("site", "master_alias", "condition", "data_from",
          "data_until", "valid", "notvalid", "nodata", "rows")
          .map(h => Xlsx.Str(h, bold = true))
        // the reference's per-sheet timing line
        // (tsa/cond_collection.py:434-436): wall clock only, no Spark work
        val fetchStart = System.nanoTime()
        val results = engine.run(spec, obs, Validation.localSensorIds)
        for (r <- results) {
          if (r.summary != null) {
            val s = r.summary.collect()(0)
            def tsOr(c: String): Xlsx.Cell = {
              val v = toTs(s.getAs[Any](c))
              if (v == null) Xlsx.Blank else Xlsx.Ts(v)
            }
            wsRows += Seq(Xlsx.Str(r.spec.site), Xlsx.Str(r.spec.masterAlias),
              Xlsx.Str(r.spec.rawCondition), tsOr("data_from"), tsOr("data_until"),
              Xlsx.Pct(s.getAs[Double]("percent_valid")),
              Xlsx.Pct(s.getAs[Double]("percent_notvalid")),
              Xlsx.Pct(s.getAs[Double]("percent_nodata")),
              Xlsx.Num(s.getAs[Long]("n_rows").toDouble))
            summaryRows += List(title, r.spec.site, r.spec.masterAlias,
              "\"" + r.spec.rawCondition.replace("\"", "\"\"") + "\"",
              toTs(s.getAs[Any]("data_from")),
              toTs(s.getAs[Any]("data_until")),
              s.getAs[Long]("valid_s"), s.getAs[Long]("notvalid_s"),
              s.getAs[Long]("nodata_s"), s.getAs[Long]("tottime_s"),
              s.getAs[Double]("percent_valid"), s.getAs[Double]("percent_notvalid"),
              s.getAs[Double]("percent_nodata"), s.getAs[Long]("n_rows")).mkString(",")
            // full per-range result parquet per condition — coalesced:
            // a condition's ranges are run-length compressed (thousands
            // of rows), and on a local filesystem every output file
            // fork/execs a hadoop chmod, so 200 shuffle-partition files
            // of ~10 rows each cost more than the query itself
            r.data.coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/conditions/${r.spec.idString}")
            if (pptx || svg || png) {
              // the lane data IS the condition frame, run-length
              // compressed by the pack kernel; the summary's n_rows
              // bounds the collect before it runs
              val nRows = s.getAs[Long]("n_rows")
              val tl =
                if (nRows <= timelineMaxRows) Some(timelineOf(r)).filter(_._2.nonEmpty)
                else {
                  r.errors.add(s"Timeline not drawn: $nRows result rows exceed " +
                    s"the $timelineMaxRows-row timeline bound")
                  None
                }
              for ((lanes, ranges) <- tl if svg || png) {
                val plots = Paths.get(s"$outDir/plots")
                Files.createDirectories(plots)
                // reference png naming: f'{title}_{c.id_string}.png'
                if (svg) SvgTimeline.write(
                  plots.resolve(s"${title}_${r.spec.idString}.svg"), lanes, ranges)
                if (png) RasterTimeline.write(
                  plots.resolve(s"${title}_${r.spec.idString}.png"), lanes, ranges)
              }
              if (pptx) deck += slideFor(title, r, Some(s), tl)
            }
          } else if (pptx)
            // reference still emits a slide for a no-data condition
            // ('Ei dataa saatavilla', no plot)
            deck += slideFor(title, r, None, None)
          if (r.errors.nonEmpty) {
            val prev = condNodes.get(r.spec.idString).map(_.errors).getOrElse(Nil)
            condNodes += r.spec.idString ->
              graft.dsl.ErrorNode(r.spec.idString, prev ++ r.errors.messages)
          }
        }
        log.info(f"Results fetched in ${(System.nanoTime() - fetchStart) / 1e9}%.3f s (sheet $title)")
      }
      collNodes += title ->
        graft.dsl.ErrorNode(title, parsed.sheetErrors.messages, condNodes)
      workbook += title -> wsRows.result()
      // all of this sheet's outputs are materialized above — drop its
      // caches, keep only what later sheets still reference
      engine.release(keep = secondaryRefs.drop(sheetIdx + 1).foldLeft(Set.empty[String])(_ ++ _))
    }

    Files.writeString(Paths.get(s"$outDir/${name}_summary.csv"),
      summaryRows.result().mkString("\n") + "\n")
    if (xlsx) {
      val infoSheet = "INFO" -> Seq(
        Seq[Xlsx.Cell](Xlsx.Str(analysisStarted), Xlsx.Str("analysis started")),
        Seq[Xlsx.Cell](Xlsx.Str(java.time.LocalDateTime.now().format(infoFmt)),
          Xlsx.Str("analysis ended")))
      Xlsx.write(Paths.get(s"$outDir/$name.xlsx"), infoSheet +: workbook.result())
    }
    if (pptx) pptxTemplate match {
      // the reference's mechanic: fill the provided corporate template
      // (tsa/cond_collection.py:262-287) instead of the generated deck
      case Some(tpl) => Pptx.writeWithTemplate(tpl, Paths.get(s"$outDir/$name.pptx"), deck.result())
      case None => Pptx.write(Paths.get(s"$outDir/$name.pptx"), deck.result())
    }
    val tree = graft.dsl.ErrorNode(name, Nil, collNodes)
    // errors file only when something went wrong (tsabatch.py:93-104)
    if (tree.hasAny)
      Files.writeString(Paths.get(s"$outDir/${name}_ERRORS.json"), tree.toJson)
  }

  /** Collected timestamp → java.sql.Timestamp regardless of the
    * column's timestamp flavor: an NTZ parquet column (e.g. written by
    * another engine without a zone) collects as LocalDateTime, and an
    * unguarded `getAs[Timestamp]` throws ClassCastException deep in the
    * report path. NTZ wall time is interpreted as UTC — the zone the
    * whole engine pins.
    */
  private def toTs(v: Any): java.sql.Timestamp = v match {
    case null => null
    case t: java.sql.Timestamp => t
    case l: java.time.LocalDateTime =>
      java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC))
    case i: java.time.Instant => java.sql.Timestamp.from(i)
    case other => sys.error(s"not a timestamp value: $other (${other.getClass})")
  }

  /** Condition frame → timeline lanes (blocks in column order + master)
    * and ranges. Lane annotations carry each block's raw logic and the
    * alias form of the master condition, as the reference annotates its
    * broken_barh rows (tsa/condition.py:487-506).
    */
  private def timelineOf(r: TsaEngine#ConditionResult)
      : (Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range]) = {
    val cols = r.data.columns
    val aliases = cols.drop(3).dropRight(1).toSeq // vfrom, vuntil, vdiff_s, <aliases...>, master
    val logic = r.spec.blocks.map(b => b.alias -> b.rawLogic).toMap
    val lanes = aliases.map(a => SvgTimeline.Lane(a, logic.getOrElse(a, ""))) :+
      SvgTimeline.Lane("master", r.spec.aliasCondition)
    val ranges = r.data.collect().toSeq.map { row =>
      SvgTimeline.Range(
        toTs(row.get(0)).getTime / 1000,
        toTs(row.get(1)).getTime / 1000,
        (3 until cols.length).map(i =>
          if (row.isNullAt(i)) None else Some(row.getBoolean(i))))
    }
    (lanes, ranges)
  }

  /** One report slide in the reference's layout
    * (tsa/cond_collection.py:290-360): header, condition id + string,
    * data range text, the 3×4 validity table (Voimassa / Ei voimassa /
    * Tieto puuttuu over duration + percentage rows), error text,
    * timeline.
    */
  private def slideFor(title: String, r: TsaEngine#ConditionResult,
                       s: Option[org.apache.spark.sql.Row],
                       timeline: Option[(Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range])])
      : Pptx.Slide = {
    def dmy(d: java.time.LocalDate) =
      f"${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}"
    val timeRange = s.flatMap { row =>
      val f = toTs(row.getAs[Any]("data_from"))
      val u = toTs(row.getAs[Any]("data_until"))
      if (f == null || u == null) None
      else {
        val fmt = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm")
        def t(ts: java.sql.Timestamp) =
          ts.toInstant.atZone(java.time.ZoneOffset.UTC).format(fmt)
        Some(s"Datan tarkasteluväli ${t(f)}-${t(u)}")
      }
    }.getOrElse("Ei dataa saatavilla")
    def delta(c: String) = s.map(row => fmtDelta(row.getAs[Long](c))).getOrElse("-")
    def pct(c: String) = s.map(row => "%.2f %%".formatLocal(java.util.Locale.ROOT,
      row.getAs[Double](c) * 100)).getOrElse("-")
    Pptx.Slide(
      header = s"TSA report: $title ${dmy(java.time.LocalDate.now())}",
      title = r.spec.idString,
      body = r.spec.rawCondition,
      timeRange = timeRange,
      table = Seq(
        Seq("", "Voimassa", "Ei voimassa", "Tieto puuttuu"),
        Seq("Yhteensä", delta("valid_s"), delta("notvalid_s"), delta("nodata_s")),
        Seq("Osuus tarkasteluajasta",
          pct("percent_valid"), pct("percent_notvalid"), pct("percent_nodata"))),
      errors = r.errors.messages.mkString("; "),
      timeline = timeline,
      footer = "graft TSA engine")
  }

  /** Reference `strfdelta(td, '{days} pv {hours} h {minutes} min')`. */
  private def fmtDelta(secs: Long): String =
    s"${secs / 86400} pv ${secs % 86400 / 3600} h ${secs % 3600 / 60} min"

  /** `--input` is either the reference's native entry point — one
    * `.xlsx` workbook (tsa/analysis_collection.py:71), read by the
    * dependency-free [[graft.dsl.WorkbookReader]] with `info` sheets
    * dropped as the reference's `add_collections(drop=['info'])` does —
    * or a directory of per-sheet CSV renderings.
    */
  private[graft] def readInput(inputDir: String): Vector[(String, String)] = {
    val inputPath = Paths.get(inputDir)
    val isXlsxName = inputDir.toLowerCase.endsWith(".xlsx")
    if (isXlsxName && !Files.isRegularFile(inputPath))
      sys.error(s"--input workbook not found: $inputDir")
    if (isXlsxName)
      graft.dsl.WorkbookReader.sheets(inputPath)
        .filterNot { case (title, _) => title.trim.toLowerCase == "info" }
    else if (!Files.isDirectory(inputPath))
      sys.error(s"--input must be an .xlsx workbook or a directory of sheet CSVs: $inputDir")
    else scala.util.Using.resource(Files.list(inputPath))(
        _.iterator().asScala
          .filter(_.toString.endsWith(".csv")).toVector)
      .sortBy(_.toString)
      .map(p => stripExt(p.getFileName.toString) -> Files.readString(p))
  }

  private def stripExt(s: String): String =
    if (s.contains('.')) s.substring(0, s.lastIndexOf('.')) else s

  private lazy val log =
    org.apache.logging.log4j.LogManager.getLogger("tsabatch")

  /** Map the reference's `--log` choices onto log4j2 and attach a
    * per-run file appender at `<dir>/<name>.log` (mode "w" there →
    * append=false here). Returns the log path for the START banner.
    */
  private[cli] def configureLogging(level: String, dir: String,
      name: String): java.nio.file.Path = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.layout.PatternLayout
    val lvl = level match {
      case "error"   => Level.ERROR
      case "warning" => Level.WARN
      case "info"    => Level.INFO
      case "debug"   => Level.DEBUG
      case other => sys.error(
        s"--log must be one of error|warning|info|debug, got: $other")
    }
    Files.createDirectories(Paths.get(dir))
    val dest = Paths.get(dir, s"$name.log")
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val layout = PatternLayout.newBuilder().withConfiguration(cfg)
      .withPattern(
        "%d{yyyy-MM-dd HH:mm:ss}; %-8level; %-20c{1}; line %-3L; %msg%n")
      .build()
    // idempotent under in-process re-runs (specs call main repeatedly)
    val appenderName = s"tsabatch-file-$name"
    Option(cfg.getAppender[org.apache.logging.log4j.core.Appender](appenderName))
      .foreach { old => cfg.getRootLogger.removeAppender(appenderName); old.stop() }
    // FileAppender.newBuilder's self-recursive generic defeats Scala
    // inference; a minimal AbstractAppender writing the laid-out event
    // is equivalent for a single-process CLI run
    val writer = Files.newBufferedWriter(dest) // truncates: reference mode "w"
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        appenderName, null, layout, false,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(ev: org.apache.logging.log4j.core.LogEvent): Unit =
        this.synchronized {
          writer.write(new String(getLayout.toByteArray(ev),
            java.nio.charset.StandardCharsets.UTF_8))
          writer.flush()
        }
      override def stop(): Unit = { super.stop(); writer.close() }
    }
    app.start()
    cfg.addAppender(app)
    cfg.getRootLogger.addAppender(app, lvl, null)
    cfg.getRootLogger.setLevel(lvl)
    ctx.updateLoggers()
    dest
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dryvalidate" => out("dryvalidate") = "true"; i += 1
        case "--xlsx" => out("xlsx") = "true"; i += 1
        case "--pptx" => out("pptx") = "true"; i += 1
        case "--svg" => out("svg") = "true"; i += 1
        case "--png" => out("png") = "true"; i += 1
        case flag if flag.startsWith("--") && i + 1 < args.length =>
          out(flag.drop(2)) = args(i + 1); i += 2
        case other => sys.error(s"unexpected argument: $other")
      }
    }
    out.toMap
  }
}

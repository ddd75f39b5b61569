package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.{Pptx, RasterTimeline, SvgTimeline, TsaBatch, Xlsx}
import graft.core.PackRanges
import graft.dsl.{ErrorNode, SheetParser, Validation, WorkbookReader}
import graft.engine.TsaEngine
import graft.ingest.LotjuIngest
import graft.model.{CollectionSpec, ConditionSpec, PrimaryBlock, SecondaryBlock}
import scala.jdk.CollectionConverters._

/** One operation of a workload: untraced through the product's public
  * entry point, or traced, composed from each module's public functions
  * with a span around every call.
  */
final class Ops(spark: SparkSession, in: Inputs, tracer: Tracer) {

  val Name = "bench"
  /** `report_many` turns on every report output; `pack_long` writes
    * only the summary CSV and the condition parquet.
    */
  val renderers: Boolean = in.workload == "report_many"

  /** The workbook (minus `info` sheets, as the reference drops them)
    * or the directory of sheet CSVs, as `TsaBatch --input` reads it.
    */
  def readSheets(): Vector[(String, String)] = {
    val p = in.input.get
    if (p.toString.endsWith(".xlsx"))
      WorkbookReader.sheets(p).filterNot(_._1.trim.toLowerCase == "info")
    else scala.util.Using.resource(Files.list(p))(_.iterator().asScala.toVector)
      .filter(_.toString.endsWith(".csv")).sortBy(_.toString)
      .map(f => f.getFileName.toString.stripSuffix(".csv") -> Files.readString(f))
  }

  def ingest(out: Path): Unit = {
    val r = in.raw
    LotjuIngest.ingest(spark, r.statobsGlob, r.seobsGlob, r.stationsCsv, r.sensorsCsv, out.toString)
  }

  /** The untraced operation: one `TsaBatch.run` or one `ingest` call. */
  def run(store: String, out: Path): Unit =
    if (in.read) {
      Files.createDirectories(out)
      TsaBatch.run(spark, readSheets(), store, out.toString, Name,
        xlsx = renderers, pptx = renderers, svg = renderers, png = renderers)
    } else ingest(out)

  /** Mismatches in the operation's outputs. */
  def check(out: Path): Vector[String] =
    if (in.read) Check.report(in, out, Name, renderers)
    else Check.store(spark, out.toString, in.raw)

  def runTraced(store: String, out: Path): Unit =
    if (in.read) traceReport(store, out) else traceIngest(out)

  private def noop(df: DataFrame): Long = {
    val ob = Observation()
    df.observe(ob, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    ob.get("n").asInstanceOf[Long]
  }

  private def traceIngest(out: Path): Unit = {
    val t = tracer
    val r = in.raw
    def csv(schema: org.apache.spark.sql.types.StructType, glob: String) =
      spark.read.schema(schema).option("delimiter", "|").option("header", "true").csv(glob)
    val stations = LotjuIngest.readMetadata(spark, r.stationsCsv)
    val sensors = LotjuIngest.readMetadata(spark, r.sensorsCsv)
    t.span("ingest.statobs") {
      val ob = Observation()
      val raw = csv(LotjuIngest.statobsRawSchema, r.statobsGlob).observe(ob, count(lit(1)).as("n"))
      t.count("kept", noop(LotjuIngest.statobs(raw, stations)).toDouble)
      t.count("raw_rows", ob.get("n").asInstanceOf[Long].toDouble)
    }
    t.span("ingest.seobs") {
      val ob = Observation()
      val raw = csv(LotjuIngest.seobsRawSchema, r.seobsGlob).observe(ob, count(lit(1)).as("n"))
      t.count("kept", noop(LotjuIngest.seobs(raw, sensors)).toDouble)
      t.count("raw_rows", ob.get("n").asInstanceOf[Long].toDouble)
    }
    t.span("ingest.write") { ingest(out) }
  }

  /** Readings the generator put inside a sheet's range under the keys
    * its primary blocks name.
    */
  private lazy val sheetReadings: Map[String, Long] =
    in.sheets.map(s => s.title -> Workloads.readingsIn(Seq(s), in.series)).toMap

  /** The pack kernel of one sheet, with the block keys, order and
    * parameters `TsaEngine.run` gives it, and the store rows it reads:
    * readings in the sheet's range under the blocks' distinct keys.
    * None when the sheet packs nothing.
    */
  private def packPlan(spec: CollectionSpec, obs: DataFrame): Option[(DataFrame, DataFrame)] = {
    val ids = spec.conditions.map(_.idString).toSet
    def deps(c: ConditionSpec) =
      c.blocks.collect { case s: SecondaryBlock if ids(s.sourceView) => s.sourceView }.toSet
    var order = Vector.empty[ConditionSpec]
    var rest = spec.conditions
    var progressed = true
    while (rest.nonEmpty && progressed) {
      val done = order.map(_.idString).toSet
      val (ready, blocked) = rest.partition(c => deps(c).subsetOf(done))
      progressed = ready.nonEmpty
      order ++= ready; rest = blocked
    }
    order ++= rest
    val sensorIds = Validation.localSensorIds
    val prims = order.filter(_.blocks.forall {
      case p: PrimaryBlock => sensorIds.contains(p.sensorName); case _ => true
    }).flatMap(_.blocks.collect { case p: PrimaryBlock => p })
    if (prims.isEmpty) None
    else {
      val keyed = prims.zipWithIndex.map { case (p, i) =>
        PackRanges.KeyedBlock(i, p.stationId.toLong, sensorIds(p.sensorName).toLong,
          PackRanges.predicate(col("seval"), p.op, p.values))
      }
      def ts(l: java.time.LocalDateTime) = java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC))
      val inRange = obs.filter(col("tfrom").between(lit(ts(spec.timeFrom)), lit(ts(spec.timeUntil))))
      val input = inRange.filter(keyed.map(k => (k.statid, k.seid)).distinct
        .map { case (st, se) => col("statid") === st && col("seid") === se }.reduce(_ || _))
      Some((input, PackRanges.packKeyedChunked(inRange, keyed, 30, 24 * 7)))
    }
  }

  /** Materialises one sheet's pack. Spark's cache manager matches equal
    * plans, so this noop write fills the pack the engine cached and the
    * conditions read it; a plan that does not match (the engine's keys,
    * order or parameters changed) fails the operation rather than time
    * a second, private pack.
    */
  private def pack(title: String, spec: CollectionSpec, obs: DataFrame): Unit =
    packPlan(spec, obs).foreach { case (input, packed) =>
      val readings = tracer.span("core.pack_input")(noop(input))
      if (readings != sheetReadings.getOrElse(title, 0L))
        sys.error(s"$title: the pack reads $readings store rows, the generator wrote ${sheetReadings.get(title)}")
      tracer.span("core.pack") {
        val shared = packed.queryExecution.withCachedData.collectFirst {
          case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
        }.isDefined
        if (!shared) sys.error(s"$title: the traced pack does not match the pack the engine cached")
        tracer.count("islands", noop(packed).toDouble)
        tracer.count("readings", readings.toDouble)
      }
    }

  /** `TsaBatch.run`, step by step, with spans. */
  private def traceReport(store: String, out: Path): Unit = {
    val t = tracer
    Files.createDirectories(out)
    val sheets = t.span("dsl.read")(readSheets())
    val parsed = t.span("dsl.parse") {
      val p = sheets.map { case (title, csv) => title -> SheetParser.parse(title, csv) }
      val conds = p.flatMap(_._2.spec.toSeq.flatMap(_.conditions))
      t.count("conditions", conds.size.toDouble)
      t.count("blocks", conds.map(_.blocks.size).sum.toDouble)
      p
    }
    t.span("dsl.validate")(Validation.dryValidate(sheets))

    val obs = spark.read.parquet(store)
    val engine = new TsaEngine(spark)
    val summaryRows = Vector.newBuilder[String]
    summaryRows += "collection,site,master_alias,condition,data_from,data_until," +
      "valid_s,notvalid_s,nodata_s,tottime_s,percent_valid,percent_notvalid,percent_nodata,n_rows"
    var collNodes = Map.empty[String, ErrorNode]
    val workbook = Vector.newBuilder[(String, Seq[Seq[Xlsx.Cell]])]
    val infoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val analysisStarted = java.time.LocalDateTime.now().format(infoFmt)
    val deck = Vector.newBuilder[Pptx.Slide]
    val secondaryRefs = parsed.map(_._2.spec.map(_.conditions.flatMap(_.blocks.collect {
      case s: SecondaryBlock => s.sourceView
    }).toSet).getOrElse(Set.empty))

    for (((title, p), sheetIdx) <- parsed.zipWithIndex) {
      var condNodes = p.conditionErrors.map { case (id, ce) => id -> ErrorNode(id, ce.messages) }
      val wsRows = Vector.newBuilder[Seq[Xlsx.Cell]]
      p.spec.foreach { spec =>
        def cellTs(l: java.time.LocalDateTime) = Xlsx.Ts(ts(l))
        wsRows += Seq(Xlsx.Str("start", bold = true), Xlsx.Str("end", bold = true),
          Xlsx.Blank, Xlsx.Str("analyzed", bold = true))
        wsRows += Seq(cellTs(spec.timeFrom), cellTs(spec.timeUntil), Xlsx.Blank,
          Xlsx.Ts(new java.sql.Timestamp(System.currentTimeMillis())))
        wsRows += Seq("site", "master_alias", "condition", "data_from",
          "data_until", "valid", "notvalid", "nodata", "rows").map(h => Xlsx.Str(h, bold = true))
        val results = t.span("engine.run")(engine.run(spec, obs, Validation.localSensorIds))
        pack(title, spec, obs)
        for (r <- results) {
          if (r.errors.nonEmpty) {
            val prev = condNodes.get(r.spec.idString).map(_.errors).getOrElse(Nil)
            condNodes += r.spec.idString -> ErrorNode(r.spec.idString, prev ++ r.errors.messages)
          }
          if (r.summary != null) {
            t.span("core.eval")(t.count("grid_rows", noop(r.data).toDouble))
            val s = t.span("core.summarize")(r.summary.collect()(0))
            t.span("cli.summary") {
              summaryRows += summaryLine(title, r, s)
              def tsOr(c: String): Xlsx.Cell = Option(ts(s.getAs[Any](c))).fold[Xlsx.Cell](Xlsx.Blank)(Xlsx.Ts(_))
              wsRows += Seq(Xlsx.Str(r.spec.site), Xlsx.Str(r.spec.masterAlias),
                Xlsx.Str(r.spec.rawCondition), tsOr("data_from"), tsOr("data_until"),
                Xlsx.Pct(s.getAs[Double]("percent_valid")), Xlsx.Pct(s.getAs[Double]("percent_notvalid")),
                Xlsx.Pct(s.getAs[Double]("percent_nodata")), Xlsx.Num(s.getAs[Long]("n_rows").toDouble))
            }
            t.span("cli.condition_write") {
              r.data.coalesce(1).write.mode("overwrite").parquet(s"$out/conditions/${r.spec.idString}")
            }
            if (renderers) {
              val tl = t.span("cli.timeline")(timelineOf(r))
              if (tl._2.nonEmpty) {
                val plots = Files.createDirectories(out.resolve("plots"))
                val stem = s"${title}_${r.spec.idString}"
                t.span("cli.svg")(SvgTimeline.write(plots.resolve(s"$stem.svg"), tl._1, tl._2))
                t.span("cli.png")(RasterTimeline.write(plots.resolve(s"$stem.png"), tl._1, tl._2))
              }
              deck += slide(title, r, Some(s), Some(tl).filter(_._2.nonEmpty))
            }
          } else if (renderers) deck += slide(title, r, None, None)
        }
      }
      collNodes += title -> ErrorNode(title, p.sheetErrors.messages, condNodes)
      workbook += title -> wsRows.result()
      t.span("engine.release") {
        t.count("cached_mb", spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
        engine.release(keep = secondaryRefs.drop(sheetIdx + 1).foldLeft(Set.empty[String])(_ ++ _))
      }
    }

    t.span("cli.summary") {
      Files.writeString(out.resolve(s"${Name}_summary.csv"), summaryRows.result().mkString("\n") + "\n")
      val tree = ErrorNode(Name, Nil, collNodes)
      if (tree.hasAny) Files.writeString(out.resolve(s"${Name}_ERRORS.json"), tree.toJson)
    }
    if (renderers) {
      t.span("cli.xlsx") {
        val info = "INFO" -> Seq(
          Seq[Xlsx.Cell](Xlsx.Str(analysisStarted), Xlsx.Str("analysis started")),
          Seq[Xlsx.Cell](Xlsx.Str(java.time.LocalDateTime.now().format(infoFmt)), Xlsx.Str("analysis ended")))
        Xlsx.write(out.resolve(s"$Name.xlsx"), info +: workbook.result())
      }
      t.span("cli.pptx")(Pptx.write(out.resolve(s"$Name.pptx"), deck.result()))
    }
  }

  private def ts(v: Any): java.sql.Timestamp = v match {
    case null => null
    case t: java.sql.Timestamp => t
    case l: java.time.LocalDateTime => java.sql.Timestamp.from(l.toInstant(java.time.ZoneOffset.UTC))
    case i: java.time.Instant => java.sql.Timestamp.from(i)
  }

  private def summaryLine(title: String, r: TsaEngine#ConditionResult, s: Row): String =
    List(title, r.spec.site, r.spec.masterAlias,
      "\"" + r.spec.rawCondition.replace("\"", "\"\"") + "\"",
      ts(s.getAs[Any]("data_from")), ts(s.getAs[Any]("data_until")),
      s.getAs[Long]("valid_s"), s.getAs[Long]("notvalid_s"), s.getAs[Long]("nodata_s"),
      s.getAs[Long]("tottime_s"), s.getAs[Double]("percent_valid"),
      s.getAs[Double]("percent_notvalid"), s.getAs[Double]("percent_nodata"),
      s.getAs[Long]("n_rows")).mkString(",")

  private def timelineOf(r: TsaEngine#ConditionResult): (Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range]) = {
    val cols = r.data.columns
    val logic = r.spec.blocks.map(b => b.alias -> b.rawLogic).toMap
    val lanes = cols.drop(3).dropRight(1).toSeq.map(a => SvgTimeline.Lane(a, logic.getOrElse(a, ""))) :+
      SvgTimeline.Lane("master", r.spec.aliasCondition)
    val ranges = r.data.collect().toSeq.map { row =>
      SvgTimeline.Range(ts(row.get(0)).getTime / 1000, ts(row.get(1)).getTime / 1000,
        (3 until cols.length).map(i => if (row.isNullAt(i)) None else Some(row.getBoolean(i))))
    }
    (lanes, ranges)
  }

  /** The slide `TsaBatch.run` writes for a condition. */
  private def slide(title: String, r: TsaEngine#ConditionResult, s: Option[Row],
                    timeline: Option[(Seq[SvgTimeline.Lane], Seq[SvgTimeline.Range])]): Pptx.Slide = {
    val d = java.time.LocalDate.now()
    val hm = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm")
    def t(v: java.sql.Timestamp) = v.toInstant.atZone(java.time.ZoneOffset.UTC).format(hm)
    val timeRange = s.flatMap { row =>
      val f = ts(row.getAs[Any]("data_from")); val u = ts(row.getAs[Any]("data_until"))
      if (f == null || u == null) None else Some(s"Datan tarkasteluväli ${t(f)}-${t(u)}")
    }.getOrElse("Ei dataa saatavilla")
    def delta(c: String) = s.map { row =>
      val x = row.getAs[Long](c); s"${x / 86400} pv ${x % 86400 / 3600} h ${x % 3600 / 60} min"
    }.getOrElse("-")
    def pct(c: String) = s.map(row =>
      "%.2f %%".formatLocal(java.util.Locale.ROOT, row.getAs[Double](c) * 100)).getOrElse("-")
    Pptx.Slide(header = f"TSA report: $title ${d.getDayOfMonth}%02d.${d.getMonthValue}%02d.${d.getYear}",
      title = r.spec.idString, body = r.spec.rawCondition, timeRange = timeRange,
      table = Seq(Seq("", "Voimassa", "Ei voimassa", "Tieto puuttuu"),
        Seq("Yhteensä", delta("valid_s"), delta("notvalid_s"), delta("nodata_s")),
        Seq("Osuus tarkasteluajasta", pct("percent_valid"), pct("percent_notvalid"), pct("percent_nodata"))),
      errors = r.errors.messages.mkString("; "), timeline = timeline, footer = "graft TSA engine")
  }
}

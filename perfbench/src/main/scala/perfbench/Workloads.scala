package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Generated inputs of one workload and what the program must report. */
final case class Inputs(
    workload: String,
    sheets: Vector[GSheet],
    input: Option[Path],
    raw: Raw,
    series: Map[(Int, Int), Series],
    sizes: Sizes) {
  def read: Boolean = input.isDefined
  /** Untimed operations of the warm-up pass before the measured loop:
    * with one, a read workload's first measured operation was slower
    * than its second in ten runs of ten; a two-second ingest keeps
    * getting faster for a dozen operations, and four take the steepest
    * part of that (more would not fit the benchmark's time budget).
    */
  def warmOps: Int = if (read) 2 else 4
  /** Operations the measured loop runs at least, however long they
    * take: a fixed count keeps the same stretch of the ingest's warm-up
    * curve in its median when the host runs slow.
    */
  def measureOps: Int = if (read) 1 else 5
  lazy val expected: Map[(String, String), RefEval.Summary] = RefEval.run(sheets, series)
}

/** The three workloads. Sizes are fixed here; the seed picks stations,
  * sensors, times, values, operators and expression shapes.
  */
object Workloads {

  val names: Vector[String] = Vector("report_many", "pack_long", "ingest_month")

  def generate(workload: String, seed: Long, dir: Path): Inputs = {
    val rnd = new SplittableRandom(seed * 1000003L + names.indexOf(workload))
    workload match {
      case "report_many" => reportMany(rnd, dir)
      case "pack_long" => packLong(rnd, dir)
      case "ingest_month" => ingestMonth(rnd, dir)
      case other => sys.error(s"unknown workload: $other (one of ${names.mkString(", ")})")
    }
  }

  private def pick(rnd: SplittableRandom, n: Int): (Vector[Int], Int) = {
    val ids = Gen.StationIds
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (chosen.size < n + 1) chosen += ids(rnd.nextInt(ids.size))
    (chosen.toVector.take(n), chosen.last)
  }

  private def seriesMap(st: Vector[(Int, Array[Long], Vector[Series])]) =
    st.flatMap(_._3).map(s => (s.statid, s.seid) -> s).toMap

  /** Block operators by position, the same for every seed. */
  private val opCycle = Vector("<", "in", ">=", "<>", ">")

  /** A condition over `n` series not in `used`, `extra` blocks
    * prepended; the series join `used`, so a workload's conditions read
    * distinct keys and the same number of readings for every seed.
    */
  private def cond(rnd: SplittableRandom, site: String, alias: String,
                   pool: Vector[Series], n: Int, extra: Vector[GBlock] = Vector.empty,
                   used: scala.collection.mutable.Set[Series] = scala.collection.mutable.Set.empty): GCond = {
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Series]
    while (chosen.size < n) {
      val s = pool(rnd.nextInt(pool.size))
      if (!used(s)) chosen += s
    }
    used ++= chosen
    val prims = chosen.toVector.zipWithIndex.map { case (s, i) =>
      Gen.prim(rnd, s, sensorName(s.seid), opCycle(i % opCycle.size))
    }
    val blocks = extra ++ prims
    GCond(site, alias, blocks, Gen.expr(rnd, blocks.size))
  }

  private lazy val nameOf: Map[Int, String] =
    graft.dsl.Validation.localSensorIds.map(_.swap)
  private def sensorName(seid: Int): String = nameOf(seid)

  /** Readings of the keys a sheet's primary blocks name, inside its range. */
  def readingsIn(sheets: Seq[GSheet], series: Map[(Int, Int), Series]): Long =
    sheets.map { sh =>
      sh.conds.flatMap(_.blocks.collect { case p: Prim => (p.statid, p.seid) }).distinct
        .flatMap(series.get).map(s => s.times.count(t => t >= sh.lo && t <= sh.hi).toLong).sum
    }.sum

  private def sizes(sheets: Seq[GSheet], series: Map[(Int, Int), Series], raw: Raw,
                    inputBytes: Long) =
    Sizes(readingsIn(sheets, series), sheets.map(_.rows.size).sum,
      sheets.map(_.conds.map(_.blocks.size).sum).sum, raw.rows, raw.bytes + inputBytes)

  /** Two short-range sheets of one workbook. The first holds a 3-block
    * condition (one block on a station with no data, a planted error
    * that still gets analysed), a 1-block condition and three planted
    * bad rows; the second holds a secondary reference to the 1-block
    * condition. Nothing in the first sheet references it, so the engine
    * does not cache it and each action of the second sheet packs the
    * first sheet's readings again. Each analysed condition costs the
    * engine seconds of planning and jobs whatever its data, so
    * per-condition costs dominate even at this size; more conditions
    * would not fit the run-time budget.
    */
  def reportMany(rnd: SplittableRandom, dir: Path): Inputs = {
    val (statids, absent) = pick(rnd, 4)
    val st = Gen.stationSeries(rnd, statids, Gen.Grid(days = 10, stepS = 300, gaps = 6,
      skips = 40, sensorsPerStation = 5))
    val series = seriesMap(st)
    val pool = series.values.toVector.sortBy(s => (s.statid, s.seid))
    def prim(site: String) = Gen.render(cond(rnd, site, "tmp", pool, 1))
    val used = scala.collection.mutable.Set.empty[Series]
    val c0 = cond(rnd, "tie0", "c1", pool, 3, used = used)
    val c1 = c0.copy(blocks = c0.blocks.updated(2, c0.blocks(2) match {
      case p: Prim => p.copy(statid = absent)
      case b => b
    }))
    val p1 = cond(rnd, "tie0", "p1", pool, 1, used = used)
    val x1 = GCond("tie1", "x1", Vector(Sec("tie0", "p1")), GExpr.Leaf(0))
    def rowsOf(c: GCond) = (c.site, c.alias, Gen.render(c))
    val sheet0 = GSheet("Raportti0", LocalDate.of(2018, 1, 2), LocalDate.of(2018, 1, 4),
      Vector(rowsOf(c1), rowsOf(p1),
        ("tie0", "bad1", s"s${statids(0)}#nosuchsensor > 1 and ${prim("tie0")}"),
        ("tie0", "bad2", s"${prim("tie0")} and and ${prim("tie0")}"),
        ("tie0", "bad4", "not nosuchcond")),
      Vector(c1, p1), Vector(
        Planted("tie0_c1", "not present in observation data"),
        Planted("tie0_bad1", "No sensor id found"),
        Planted("tie0_bad2 (row 7)", "Illegal combination"),
        Planted("tie0_bad4", "refers to unknown condition")))
    val sheet1 = GSheet("Raportti1", LocalDate.of(2018, 1, 5), LocalDate.of(2018, 1, 8),
      Vector(rowsOf(x1)), Vector(x1), Vector.empty)
    val sheets = Vector(sheet0, sheet1)
    val raw = Gen.writeRaw(rnd, dir.resolve("raw"), st, files = 2)
    val xlsx = dir.resolve("conditions.xlsx")
    Gen.writeWorkbook(xlsx, ("info" -> Seq(Seq("generated conditions"))) +:
      sheets.map(s => s.title -> Gen.sheetCells(s)))
    Inputs("report_many", sheets, Some(xlsx), raw, series,
      sizes(sheets, series, raw, Files.size(xlsx)))
  }

  /** Two wide conditions over a long range of dense, irregular readings
    * with planted gaps: four blocks on distinct keys, then one secondary
    * block beside three more, one of them on a key with no readings.
    */
  def packLong(rnd: SplittableRandom, dir: Path): Inputs = {
    val (statids, _) = pick(rnd, 2)
    val st = Gen.stationSeries(rnd, statids, Gen.Grid(days = 24, stepS = 120, gaps = 15,
      skips = 800, sensorsPerStation = 4))
    val series = seriesMap(st)
    val pool = series.values.toVector.sortBy(s => (s.statid, s.seid))
    val site = "pitka"
    // a sensor the first station never reports: a block without readings
    val silent = Gen.SensorPool.find(n =>
      !series.contains((statids(0), graft.dsl.Validation.localSensorIds(n)))).get
    val silentBlock = Prim(statids(0), silent, graft.dsl.Validation.localSensorIds(silent), ">", Vector(0.0))
    val used = scala.collection.mutable.Set.empty[Series]
    val conds = Vector(
      cond(rnd, site, "w1", pool, 4, used = used),
      cond(rnd, site, "w2", pool, 2, Vector(Sec(site, "w1"), silentBlock), used))
    val sheet = GSheet("pitka", LocalDate.of(2018, 1, 2), LocalDate.of(2018, 1, 23),
      conds.map(c => (c.site, c.alias, Gen.render(c))), conds, Vector.empty)
    val raw = Gen.writeRaw(rnd, dir.resolve("raw"), st, files = 2)
    val sheetDir = dir.resolve("sheets")
    Files.createDirectories(sheetDir)
    val csv = sheetDir.resolve(s"${sheet.title}.csv")
    Files.writeString(csv, Gen.sheetCsv(sheet))
    Inputs("pack_long", Vector(sheet), Some(sheetDir), raw, series,
      sizes(Vector(sheet), series, raw, Files.size(csv)))
  }

  /** About a month of raw LOTJU CSV: one station reporting six sensors
    * every minute. One station keeps the store's file layout the same
    * for every seed: the store is range-partitioned on (date, station),
    * and with several stations a partition boundary may or may not split
    * a date, which moves the bytes written by a tenth from seed to seed.
    */
  def ingestMonth(rnd: SplittableRandom, dir: Path): Inputs = {
    val (statids, _) = pick(rnd, 1)
    val st = Gen.stationSeries(rnd, statids, Gen.Grid(days = 30, stepS = 60, gaps = 10,
      skips = 1000, sensorsPerStation = 6))
    val raw = Gen.writeRaw(rnd, dir.resolve("raw"), st, files = 4)
    Inputs("ingest_month", Vector.empty, None, raw, seriesMap(st),
      Sizes(raw.storeRows, 0, 0, raw.rows, raw.bytes))
  }
}

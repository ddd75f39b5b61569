package graft.ingest

import graft.SparkTest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.datasources.WriteFilesExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Ingestion specs on the reference wire format (FIXTURES.md §3:
  * pipe-CSV, Finnish timestamps with nanosecond tail, LOTJU ids needing
  * metadata remap; database/example_data/EXAMPLE_*.csv shape).
  */
class LotjuIngestSpec extends AnyFunSuite with SparkTest with AdaptiveSparkPlanHelper {

  private def tmpCsv(name: String, content: String): String = {
    val dir = Files.createTempDirectory("lotju")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  private lazy val stationsCsv = tmpCsv("stations.csv",
    """1001|1|"vt1_Espoo"
      |1120|7|"kt51_Sipoo"
      |""".stripMargin)
  private lazy val sensorsCsv = tmpCsv("sensors.csv",
    """3|3|"TIE_1"
      |27|22|"KELI_1"
      |""".stripMargin)

  test("timestamp parse: Helsinki wall time with ns tail → UTC instant (E1)") {
    import spark.implicits._
    // 01.03.2018 02:09 Helsinki (EET, +02) = 00:09 UTC
    val df = Seq("01.03.2018 02:09:00,000000000").toDF("AIKA")
    val got = df.select(LotjuIngest.parseLotjuTimestamp($"AIKA")).head().getTimestamp(0)
    assert(got.toInstant == java.time.Instant.parse("2018-03-01T00:09:00Z"))
    // summer time: 01.07.2018 03:00 EEST (+03) = 00:00 UTC
    val dst = Seq("01.07.2018 03:00:00,500000000").toDF("AIKA")
      .select(LotjuIngest.parseLotjuTimestamp($"AIKA")).head().getTimestamp(0)
    assert(dst.toInstant == java.time.Instant.parse("2018-07-01T00:00:00Z"))
  }

  test("timestamp parse is session-timezone independent") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      val instants = for (tz <- Seq("UTC", "America/New_York", "Asia/Tokyo")) yield {
        spark.conf.set("spark.sql.session.timeZone", tz)
        Seq("01.03.2018 02:09:00,000000000").toDF("AIKA")
          .select(LotjuIngest.parseLotjuTimestamp($"AIKA"))
          .head().getTimestamp(0).toInstant
      }
      assert(instants.distinct ==
        List(java.time.Instant.parse("2018-03-01T00:09:00Z")),
        instants.toString)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("statobs: FK remap, null filter, natural-key dedup (E2/E4/E5)") {
    import spark.implicits._
    val raw = Seq(
      (420958436L, "01.03.2018 02:09:00,000000000", 7),   // → statid 1120
      (420958437L, "01.03.2018 02:09:00,000000000", 7),   // dup (tfrom, statid)
      (420958438L, "01.03.2018 02:10:00,000000000", 99),  // unknown station → dropped by join
      (420958439L, null, 7))                              // null time → dropped
      .toDF("ID", "AIKA", "ASEMA_ID")
    val stations = LotjuIngest.readMetadata(spark, stationsCsv)
    val got = LotjuIngest.statobs(raw, stations)
    assert(got.count() == 1)
    val r = got.head()
    assert(r.getAs[Int]("statid") == 1120)
  }

  test("seobs: remap + dedup on (obsid, seid) (E3/E5)") {
    import spark.implicits._
    val raw = Seq(
      (23855559698L, 3, 275.0f, 420944339L, ""),
      (23855559699L, 3, 276.0f, 420944339L, ""),  // dup (obsid, seid)
      (23855559700L, 22, 8.0f, 420944339L, ""),
      (23855559701L, 77, 1.0f, 420944339L, ""))   // unknown sensor → dropped
      .toDF("ID", "ANTURI_ID", "ARVO", "MITTATIETO_ID", "TIEDOSTO_ID")
    val sensors = LotjuIngest.readMetadata(spark, sensorsCsv)
    val got = LotjuIngest.seobs(raw, sensors)
    assert(got.count() == 2)
    assert(got.select("seid").collect().map(_.getInt(0)).toSet == Set(3, 27))
  }

  test("obsMain join produces the analysis relation (R2)") {
    import spark.implicits._
    val so = Seq((1L, java.sql.Timestamp.valueOf("2018-03-01 00:09:00"), 1120))
      .toDF("id", "tfrom", "statid")
    val se = Seq((10L, 1L, 3, 275.0f), (11L, 1L, 27, 8.0f))
      .toDF("id", "obsid", "seid", "seval")
    val got = LotjuIngest.obsMain(so, se)
    assert(got.columns.toSeq == Seq("tfrom", "statid", "seid", "seval"))
    assert(got.count() == 2)
  }

  test("sensor name-id lookup normalizes quotes and case (E6)") {
    val sensors = LotjuIngest.readMetadata(spark, sensorsCsv)
    val m = LotjuIngest.sensorNameIds(sensors)
    assert(m == Map("tie_1" -> 3, "keli_1" -> 27))
  }

  /** A seeded raw dump: stations 1001/1120 (LOTJU 1/7) report every
    * 3 h (plus a seeded jitter) over 1-3 March 2018 UTC, each event with
    * a TIE_1 and a KELI_1 reading. Planted junk: exact-duplicate lines,
    * an event with no time and a reading with no value, an unknown
    * station and an unknown sensor. Lines run in DESCENDING time order
    * and line i goes to raw file i % `files`.
    *
    * @return (dir, statobs rows, seobs rows): the rows each side keeps
    *   after remap, null filter and dedup
    */
  private def rawDump(files: Int): (Path, Long, Long) = {
    val rnd = new scala.util.Random(11)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd.MM.yyyy HH:mm:ss")
    val helsinki = java.time.ZoneId.of("Europe/Helsinki")
    def aika(t: Long) =
      java.time.Instant.ofEpochSecond(t).atZone(helsinki).format(fmt) + ",000000000"
    val t0 = java.time.Instant.parse("2018-03-01T00:00:00Z").getEpochSecond
    val events = (for (day <- 0 until 3; k <- 0 until 8; lotju <- Seq(1, 7))
      yield (t0 + day * 86400L + k * 10800L + rnd.nextInt(3600), lotju)).sortBy(-_._1)
    val so = Vector.newBuilder[String]
    val se = Vector.newBuilder[String]
    var seId = 5000L
    def reading(obsid: Long, lotju: Int, v: String, times: Int = 1): Unit = {
      seId += 1
      for (_ <- 0 until times) se += s"$seId|$lotju|$v|$obsid|"
    }
    var seKept = 0L
    for (((t, lotju), i) <- events.zipWithIndex) {
      val id = 1000L + i
      so ++= Seq.fill(if (i % 5 == 0) 2 else 1)(s"$id|${aika(t)}|$lotju")
      reading(id, 3, f"${rnd.nextInt(400) / 4.0}%.2f", if (i % 7 == 0) 2 else 1)
      reading(id, 22, (rnd.nextInt(9) + 1).toString)
      seKept += 2
      i % 12 match {
        case 1 => reading(id, 77, "1.5") // unknown sensor
        case 2 => // unknown station, with a reading
          so += s"${9000 + i}|${aika(t)}|99"; reading(9000L + i, 3, "2.0"); seKept += 1
        case 3 => // event with no time, with a reading
          so += s"${9000 + i}||$lotju"; reading(9000L + i, 3, "2.0"); seKept += 1
        case 4 => reading(id, 22, "") // reading with no value
        case _ => ()
      }
    }
    val dir = Files.createTempDirectory("lotju_dump")
    def split(header: String, lines: Vector[String], stem: String): Unit =
      for (f <- 0 until files) Files.writeString(dir.resolve(s"${stem}_$f.csv"),
        (header +: lines.zipWithIndex.collect { case (l, i) if i % files == f => l })
          .mkString("", "\n", "\n"))
    split("\"ID\"|\"AIKA\"|\"ASEMA_ID\"", so.result(), "tiesaa_mittatieto")
    split("\"ID\"|\"ANTURI_ID\"|\"ARVO\"|\"MITTATIETO_ID\"|\"TIEDOSTO_ID\"",
      se.result(), "anturi_arvo")
    (dir, events.size.toLong, seKept)
  }

  private def ingestDump(dir: Path): Path = {
    val out = dir.resolve("store")
    LotjuIngest.ingest(spark, s"$dir/tiesaa_mittatieto_*.csv", s"$dir/anturi_arvo_*.csv",
      stationsCsv, sensorsCsv, out.toString)
    out
  }

  private def listed(dir: Path): Vector[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector).sorted

  /** `store`'s day directories, each with its parquet data files. */
  private def dayFiles(store: Path): Vector[(String, Vector[Path])] =
    listed(store).filter(Files.isDirectory(_)).map(d => d.getFileName.toString ->
      listed(d).filter(_.getFileName.toString.endsWith(".parquet")))

  test("one raw input split differently over its files writes byte-identical day files") {
    def sha(p: Path) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map(b => f"$b%02x").mkString
    def layout(files: Int) = {
      val (dir, _, _) = rawDump(files)
      dayFiles(ingestDump(dir)).map { case (d, fs) => d -> fs.map(sha).sorted }
    }
    val one = layout(1)
    assert(one.map(_._1) ==
      Seq("obs_date=2018-03-01", "obs_date=2018-03-02", "obs_date=2018-03-03"))
    assert(layout(3) == one)
  }

  test("every day file holds its rows in (statid, tfrom, seid) order; rows exact") {
    val (dir, statRows, _) = rawDump(2)
    val store = ingestDump(dir)
    for ((_, fs) <- dayFiles(store); f <- fs) {
      val keys = spark.read.parquet(f.toString)
        .select(col("statid"), unix_micros(col("tfrom")), col("seid")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSeq
      assert(keys.nonEmpty && keys == keys.sorted, f)
    }
    val got = spark.read.parquet(store.toString)
    assert(got.count() == statRows * 2)
    assert(got.select("tfrom", "statid", "seid").distinct().count() == statRows * 2)
  }

  test("the store write sorts once, directly over the (obs_date, statid) range exchange") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ingestDump(rawDump(1)._1)
      val deadline = System.nanoTime() + 60e9.toLong
      while (plans.asScala.forall(p => collect(p) { case w: WriteFilesExec => w }.isEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val writes = plans.asScala.toVector.flatMap(p => collect(p) { case w: WriteFilesExec => w })
    assert(writes.size == 1, plans)
    val sorts = collect(writes.head) { case s: SortExec => s }
    assert(sorts.size == 1, writes.head)
    def names(es: Seq[Expression]) =
      es.map { case a: Attribute => a.name; case o => o.sql }
    assert(names(sorts.head.sortOrder.map(_.child)) == Seq("obs_date", "statid", "tfrom", "seid"))
    def exchangeOf(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => exchangeOf(i.child)
      case r: AQEShuffleReadExec => exchangeOf(r.child)
      case q: ShuffleQueryStageExec => q.plan
      case other => other
    }
    exchangeOf(sorts.head.child) match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case RangePartitioning(order, _) =>
          assert(names(order.map(_.child)) == Seq("obs_date", "statid"), e)
        case other => fail(s"not a range exchange: $other")
      }
      case other => fail(s"the sort does not read the exchange:\n$other")
    }
  }

  /** The INFO lines `LotjuIngest` logs while `body` runs. */
  private def ingestLog(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    val logger = LogManager.getLogger(LotjuIngest.getClass).asInstanceOf[Logger]
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "lotju-spec", null, null, false,
        Array.empty[org.apache.logging.log4j.core.config.Property]) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val prev = logger.getLevel
    logger.addAppender(app); logger.setLevel(Level.INFO)
    try body finally { logger.removeAppender(app); logger.setLevel(prev); app.stop() }
    lines.asScala.toSeq
  }

  test("ingest logs the rows inserted per side and runs no job for them") {
    val (dir, statRows, seRows) = rawDump(1)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("lotju.marker") != null)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val lines = try ingestLog {
      ingestDump(dir)
      sc.setLocalProperty("lotju.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("lotju.marker", null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    assert(lines == Seq(s"$statRows statobs rows inserted", s"$seRows seobs rows inserted"))
    // two metadata broadcasts, each side's dedup and join exchanges
    // (four map stages), the range exchange's sample and map stage, the
    // write: the counts ride along in the observes
    assert(jobs.get == 9, jobs.get)
  }

  test("an ingest whose stations are all unknown writes no rows and logs zero") {
    val (dir, _, seRows) = rawDump(1)
    val stations = tmpCsv("stations.csv", "1001|424242|\"vt1_Espoo\"\n")
    val out = dir.resolve("store")
    val lines = ingestLog(LotjuIngest.ingest(spark, s"$dir/tiesaa_mittatieto_*.csv",
      s"$dir/anturi_arvo_*.csv", stations, sensorsCsv, out.toString))
    assert(lines.head == "0 statobs rows inserted", lines)
    // the join had nothing to match, so the seobs side may never have run
    assert(Set("0 seobs rows inserted", s"$seRows seobs rows inserted")(lines(1)), lines)
    assert(dayFiles(out).isEmpty)
  }
}

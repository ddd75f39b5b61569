package graft.core

import graft.SparkTest
import graft.model._
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Hand-computed goldens for the analytic kernel (SURVEY.md §7.2/§7.4):
  * truncation at maxMinutes, island merge across truncation gaps, 3VL
  * nodata accounting, and the full two-block condition pipeline.
  */
class PackRangesSpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L // 2018-02-01T00:00:00Z
  private def ts(min: Long): Timestamp = new Timestamp((t0 + min * 60) * 1000)

  /** obs fixture: station 1120; sensor 27 (keli_1) and 3 (tie_1).
    * keli readings (minutes, value): 0→8, 10→8, 20→7, 30→8, 80→8, 90→8
    * tie readings: 0→-5, 25→-2, 50→-5, 55→-5
    */
  private lazy val obs = {
    import spark.implicits._
    val keli = Seq(0L -> 8.0, 10L -> 8.0, 20L -> 7.0, 30L -> 8.0, 80L -> 8.0, 90L -> 8.0)
      .map { case (m, v) => (ts(m), 1120L, 27L, v) }
    val tie = Seq(0L -> -5.0, 25L -> -2.0, 50L -> -5.0, 55L -> -5.0)
      .map { case (m, v) => (ts(m), 1120L, 3L, v) }
    (keli ++ tie).toDF("tfrom", "statid", "seid", "seval")
  }

  /** Every golden runs at 1-hour chunks (t0 is on an hour, so minute 60
    * is a chunk border the stitch must close) and at the default width.
    */
  private val chunkWidths = Seq(1, PackRanges.ChunkHours)

  test("packKeyed: truncation + island merge across the gap") {
    val blocks = Seq(PackRanges.KeyedBlock(0, 1120L, 27L,
      PackRanges.predicate(col("seval"), CmpOp.Eq, Seq(8.0))))
    for (h <- chunkWidths) withClue(s"chunkHours=$h: ") {
      val got = PackRanges.packKeyedChunked(obs, blocks, maxMinutes = 30, chunkHours = h)
        .orderBy("vfrom")
        .collect()
        .map(r => (r.getTimestamp(1), r.getTimestamp(2), Option(r.get(3))))
        .toList
      // [0,10)+[10,20) merge → [0,20) true; [20,30) false;
      // [30,80) truncated to [30,60); [30,60) true + [80,90) true merge
      // ACROSS the gap → [30,90) true (islands keyed on value change only,
      // database/01_init_db.sql:161-199). Last reading (t=90) dropped.
      assert(got == List(
        (ts(0), ts(20), Some(true)),
        (ts(20), ts(30), Some(false)),
        (ts(30), ts(90), Some(true))))
    }
  }

  test("packKeyed with no blocks yields an empty frame, not a crash") {
    assert(PackRanges.packKeyedChunked(obs, Seq.empty, maxMinutes = 30).count() == 0)
    assert(PackRanges.packKeyedChunked(obs, Seq.empty, maxMinutes = 30, chunkHours = 1).count() == 0)
  }

  test("pack: in-operator and 3VL NULL runs") {
    import spark.implicits._
    // NULL predicate results (seval null) form their own -1 runs
    val o = Seq(
      (ts(0), 1L, 1L, Some(2.0)), (ts(10), 1L, 1L, None),
      (ts(20), 1L, 1L, None), (ts(30), 1L, 1L, Some(5.0)),
      (ts(40), 1L, 1L, Some(9.0)))
      .toDF("tfrom", "statid", "seid", "seval")
    val blocks = Seq(PackRanges.KeyedBlock(0, 1L, 1L,
      PackRanges.predicate(col("seval"), CmpOp.In, Seq(2.0, 5.0))))
    for (h <- chunkWidths) withClue(s"chunkHours=$h: ") {
      val got = PackRanges.packKeyedChunked(o, blocks, 30, h).orderBy("vfrom").collect()
        .map(r => (r.getTimestamp(1), r.getTimestamp(2), Option(r.get(3)))).toList
      assert(got == List(
        (ts(0), ts(10), Some(true)),
        (ts(10), ts(30), None),
        (ts(30), ts(40), Some(true))))
    }
  }

  test("a repeated last timestamp adds no zero-length island; the block is NULL after it") {
    import spark.implicits._
    // block a: 0→1, 10→0 sent twice; block b: 0, 30, 60 all 1
    val o = (Seq(0L -> 1.0, 10L -> 0.0, 10L -> 0.0).map { case (m, v) => (ts(m), 1L, 1L, v) } ++
      Seq(0L, 30L, 60L).map(m => (ts(m), 1L, 2L, 1.0)))
      .toDF("tfrom", "statid", "seid", "seval")
    val blocks = Seq(1L, 2L).map(seid => PackRanges.KeyedBlock(seid.toInt - 1, 1L, seid,
      PackRanges.predicate(col("seval"), CmpOp.Eq, Seq(1.0))))
    for (h <- chunkWidths) withClue(s"chunkHours=$h: ") {
      val packed = PackRanges.packKeyedChunked(o, blocks, 30, h)
      val a = packed.filter(col("block_id") === 0).orderBy("vfrom").collect()
        .map(r => (r.getTimestamp(1), r.getTimestamp(2), Option(r.get(3)))).toList
      // the repeat of a's last reading is not a range [10, 10)
      assert(a == List((ts(0), ts(10), Some(true))))
      val ranges = packed.select(
        org.apache.spark.sql.functions.when(col("block_id") === 0, "a").otherwise("b").as("alias"),
        col("vfrom"), col("vuntil"), col("istrue"))
      val rows = ConditionEval.evalCondition(ranges, Seq("a", "b"),
          Expr.Or(Expr.Ref("a"), Expr.Ref("b")), h).collect()
        .map(r => (r.getTimestamp(0), r.getTimestamp(1), Option(r.get(3)), Option(r.get(4)))).toList
      // after its last reading a has no data: NULL, not false
      assert(rows == List(
        (ts(0), ts(10), Some(true), Some(true)),
        (ts(10), ts(60), None, Some(true))))
    }
  }

  test("two-block condition: refinement, 3VL master, summary invariant") {
    val blocks = Seq(
      PackRanges.KeyedBlock(0, 1120L, 27L,
        PackRanges.predicate(col("seval"), CmpOp.Eq, Seq(8.0))),
      PackRanges.KeyedBlock(1, 1120L, 3L,
        PackRanges.predicate(col("seval"), CmpOp.Lt, Seq(-3.0))))
    for (h <- chunkWidths) withClue(s"chunkHours=$h: ") {
      val packed = PackRanges.packKeyedChunked(obs, blocks, 30, h)
      val ranges = packed.filter(col("block_id") === 0)
        .select(org.apache.spark.sql.functions.lit("a1_0").as("alias"),
          col("vfrom"), col("vuntil"), col("istrue"))
        .union(packed.filter(col("block_id") === 1)
          .select(org.apache.spark.sql.functions.lit("a1_1").as("alias"),
            col("vfrom"), col("vuntil"), col("istrue")))

      val cond = ConditionEval.evalCondition(ranges, Seq("a1_0", "a1_1"),
        Expr.And(Expr.Ref("a1_0"), Expr.Ref("a1_1")))
      val rows = cond.collect().map(r =>
        (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toList

      // keli(=8) islands: [0,20)T [20,30)F [30,90)T
      // tie(<-3) islands: [0,25)T [25,50)F [50,55)T
      // boundaries: 0,20,25,30,50,55,90
      assert(rows == List(
        (ts(0), ts(20), 1200L, Some(true), Some(true), Some(true)),
        (ts(20), ts(25), 300L, Some(false), Some(true), Some(false)),
        (ts(25), ts(30), 300L, Some(false), Some(false), Some(false)),
        (ts(30), ts(50), 1200L, Some(true), Some(false), Some(false)),
        (ts(50), ts(55), 300L, Some(true), Some(true), Some(true)),
        (ts(55), ts(90), 2100L, Some(true), None, None)))

      val s = ConditionEval.summarize(cond).collect()(0)
      val (validS, notvalidS, tottimeS, nodataS) =
        (s.getAs[Long]("valid_s"), s.getAs[Long]("notvalid_s"),
          s.getAs[Long]("tottime_s"), s.getAs[Long]("nodata_s"))
      assert(validS == 1500L)
      assert(notvalidS == 1800L)
      assert(nodataS == 2100L) // NULL-master time; absorbs uncovered gaps too
      assert(tottimeS == 5400L)
      assert(validS + notvalidS + nodataS == tottimeS)
    }
  }

  test("single-block shortcut: master == block (SURVEY.md §7.4 pt 3)") {
    val blocks = Seq(PackRanges.KeyedBlock(0, 1120L, 27L,
      PackRanges.predicate(col("seval"), CmpOp.Eq, Seq(8.0))))
    val ranges = PackRanges.packKeyedChunked(obs, blocks, 30)
      .select(org.apache.spark.sql.functions.lit("a1_0").as("alias"),
        col("vfrom"), col("vuntil"), col("istrue"))
    val cond = ConditionEval.evalCondition(ranges, Seq("a1_0"), Expr.Ref("a1_0"))
    val rows = cond.collect().map(r => (Option(r.get(3)), Option(r.get(4)))).toList
    assert(rows.forall { case (b, m) => b == m })
    assert(rows.size == 3)
  }
}

class TsaEngineSpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L
  private def ts(min: Long): Timestamp = new Timestamp((t0 + min * 60) * 1000)

  test("end-to-end: parse → pack → eval → summary, with secondary ref") {
    import spark.implicits._
    import graft.dsl.{ConditionParser, ErrorCollector}

    val obs = (
      Seq(0L -> 8.0, 10L -> 8.0, 20L -> 7.0, 30L -> 8.0, 80L -> 8.0, 90L -> 8.0)
        .map { case (m, v) => (ts(m), 1120L, 27L, v) } ++
        Seq(0L -> -5.0, 25L -> -2.0, 50L -> -5.0, 55L -> -5.0)
          .map { case (m, v) => (ts(m), 1120L, 3L, v) }
      ).toDF("tfrom", "statid", "seid", "seval")

    val errs = new ErrorCollector("test")
    val c1 = ConditionParser.parse("Sipoo Itään", "A1",
      "s1120#keli_1 = 8 and s1120#tie_1 < -3", errs).get
    val c2 = ConditionParser.parse("Sipoo Itään", "B1",
      "not sipoo_itaan#a1", errs).get
    assert(errs.isEmpty)

    val coll = CollectionSpec("sheet1",
      java.time.LocalDateTime.of(2018, 2, 1, 0, 0, 0),
      java.time.LocalDateTime.of(2018, 2, 28, 23, 59, 59),
      Vector(c2, c1)) // out of order on purpose — engine topo-sorts

    val engine = new graft.engine.TsaEngine(spark)
    val results = engine.run(coll, obs, Map("keli_1" -> 27, "tie_1" -> 3))
    assert(results.size == 2)
    val byId = results.map(r => r.spec.idString -> r).toMap

    val s1 = byId("sipoo_itaan_a1").summary.collect()(0)
    assert(s1.getAs[Long]("valid_s") == 1500L)

    // NOT of master: valid/notvalid swap; nodata (NULL) stays NULL
    val s2 = byId("sipoo_itaan_b1").summary.collect()(0)
    assert(s2.getAs[Long]("valid_s") == 1800L)
    assert(s2.getAs[Long]("notvalid_s") == 1500L)
    assert(s2.getAs[Long]("nodata_s") == 2100L)
  }

  test("one pack scan per condition maps block ids back to the right aliases") {
    import spark.implicits._
    import graft.dsl.{ConditionParser, ErrorCollector}
    import org.apache.spark.sql.functions.lit
    // keli values cross both bounds of `> 1 and < 5`; the two blocks
    // share (station, sensor), so tagKeyed duplicates every keli reading
    val obs = (
      Seq(0L -> 0.0, 10L -> 3.0, 20L -> 8.0, 30L -> 3.0, 45L -> 0.5, 60L -> 4.0, 70L -> 9.0, 95L -> 2.0)
        .map { case (m, v) => (ts(m), 1120L, 27L, v) } ++
        Seq(0L -> -5.0, 25L -> 2.0, 50L -> -5.0, 80L -> -1.0, 95L -> 1.0)
          .map { case (m, v) => (ts(m), 1120L, 3L, v) }
      ).toDF("tfrom", "statid", "seid", "seval")
    val errs = new ErrorCollector("test")
    val a1 = ConditionParser.parse("Testi", "A1", "s1120#tie_1 < 0", errs).get
    val b1 = ConditionParser.parse("Testi", "B1",
      "s1120#keli_1 > 1 and s1120#keli_1 < 5 and testi#a1", errs).get
    assert(errs.isEmpty, errs.shortStr)
    val coll = CollectionSpec("sheet1",
      java.time.LocalDateTime.of(2018, 2, 1, 0, 0, 0),
      java.time.LocalDateTime.of(2018, 2, 28, 23, 59, 59), Vector(a1, b1))
    val sensorIds = Map("keli_1" -> 27, "tie_1" -> 3)
    val byId = new graft.engine.TsaEngine(spark).run(coll, obs, sensorIds)
      .map(r => r.spec.idString -> r).toMap
    val got = byId("testi_b1").data

    // reference: the same pack, read one `block_id === i` filter per
    // primary block (ids in topo order, as the engine numbers them)
    val prims = Vector(a1, b1).flatMap(c => c.blocks.collect { case p: PrimaryBlock => (c.idString, p) })
    val packed = PackRanges.packKeyedChunked(obs,
      prims.zipWithIndex.map { case ((_, p), i) =>
        PackRanges.KeyedBlock(i, p.stationId.toLong, sensorIds(p.sensorName).toLong,
          PackRanges.predicate(col("seval"), p.op, p.values))
      }, 30, 24 * 7)
    val parts = b1.blocks.map {
      case p: PrimaryBlock =>
        packed.filter(col("block_id") === prims.indexOf((b1.idString, p)))
          .select(lit(p.alias).as("alias"), col("vfrom"), col("vuntil"), col("istrue"))
      case s: SecondaryBlock =>
        byId("testi_a1").data.select(lit(s.alias).as("alias"), col("vfrom"), col("vuntil"),
          col("master").as("istrue"))
    }
    val aliases = b1.blocks.map(_.alias)
    val want = ConditionEval.evalCondition(parts.reduce(_ union _), aliases, b1.expr)
    assert(got.columns.toSeq == want.columns.toSeq)
    val wantRows = want.collect().toSeq
    // the two keli blocks disagree somewhere, so a swapped mapping shows
    assert(wantRows.exists(r => r.getAs[Any](aliases(0)) != r.getAs[Any](aliases(1))), wantRows)
    assert(got.collect().toSeq == wantRows)
  }

  test("cycle between secondary conditions recorded, both skipped") {
    import spark.implicits._
    import graft.dsl.{ConditionParser, ErrorCollector}
    val obs = Seq((ts(0), 1L, 1L, 1.0)).toDF("tfrom", "statid", "seid", "seval")
    val errs = new ErrorCollector("test")
    val c1 = ConditionParser.parse("site", "X1", "site#x2", errs).get
    val c2 = ConditionParser.parse("site", "X2", "site#x1", errs).get
    val results = new graft.engine.TsaEngine(spark).run(
      CollectionSpec("s",
        java.time.LocalDateTime.of(2018, 2, 1, 0, 0),
        java.time.LocalDateTime.of(2018, 2, 28, 0, 0), Vector(c1, c2)),
      obs, Map.empty)
    assert(results.size == 2)
    assert(results.forall(_.errors.messages.exists(_.contains("cycle"))))
  }

  test("missing station id in obs window recorded as non-fatal (re-enabled A7/L11)") {
    import spark.implicits._
    import graft.dsl.{ConditionParser, ErrorCollector}
    val obs = Seq((ts(0), 1120L, 27L, 8.0), (ts(10), 1120L, 27L, 8.0))
      .toDF("tfrom", "statid", "seid", "seval")
    val errs = new ErrorCollector("test")
    val c = ConditionParser.parse("site", "A1", "s9999#keli_1 = 8", errs).get
    val results = new graft.engine.TsaEngine(spark).run(
      CollectionSpec("s",
        java.time.LocalDateTime.of(2018, 2, 1, 0, 0),
        java.time.LocalDateTime.of(2018, 2, 28, 0, 0), Vector(c)),
      obs, Map("keli_1" -> 27))
    assert(results(0).errors.messages.exists(_.contains("not present in observation data")))
    // still analyzed: empty block data → empty result, zeroed summary
    assert(results(0).summary != null)
    assert(results(0).summary.collect()(0).getAs[Long]("tottime_s") == 0L)
  }

  test("dangling secondary ref recorded, condition skipped") {
    import spark.implicits._
    import graft.dsl.{ConditionParser, ErrorCollector}
    val obs = Seq((ts(0), 1L, 1L, 1.0)).toDF("tfrom", "statid", "seid", "seval")
    val errs = new ErrorCollector("test")
    val c = ConditionParser.parse("site", "E1", "e2", errs).get
    val coll = CollectionSpec("s",
      java.time.LocalDateTime.of(2018, 2, 1, 0, 0),
      java.time.LocalDateTime.of(2018, 2, 28, 0, 0), Vector(c))
    val results = new graft.engine.TsaEngine(spark).run(coll, obs, Map.empty)
    assert(results.size == 1)
    assert(results(0).data == null)
    assert(results(0).errors.messages.exists(_.contains("unknown condition")))
  }
}

package graft.streaming

import graft.SparkTest
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming islands must converge to the batch kernel's output:
  * closed islands match PackRanges exactly; only the trailing open
  * island is pending.
  */
class StreamingPackSpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L

  test("advance: pure transition matches batch islands") {
    import StreamingPack._
    // keli fixture (minutes, enc): 0→1, 10→1, 20→0, 30→1, 80→1, 90→1
    val readings = Seq(0L, 10L, 20L, 30L, 80L, 90L).zip(Seq(1, 1, 0, 1, 1, 1))
      .map { case (m, e) => Reading(0, t0 + m * 60, e) }
    val (islands, st) = advance(None, readings.iterator, capSeconds = 1800)
    // batch result: [0,20)T [20,30)F [30,90)T — last island still open
    assert(islands == List(
      Island(0, t0, t0 + 1200, 1),
      Island(0, t0 + 1200, t0 + 1800, 0)))
    assert(st.get.open && st.get.islandEnc == 1)
    assert(st.get.islandFrom == t0 + 1800)
    assert(st.get.islandUntil == t0 + 5400) // [30, 90) merged across gap
  }

  test("advance: incremental chunks equal one-shot") {
    import StreamingPack._
    val readings = Seq(0L, 10L, 20L, 30L, 80L, 90L, 95L, 100L)
      .zip(Seq(1, 1, 0, 1, 1, 1, 0, 1))
      .map { case (m, e) => Reading(7, t0 + m * 60, e) }
    val oneShot = advance(None, readings.iterator, 1800)
    val (e1, s1) = advance(None, readings.take(3).iterator, 1800)
    val (e2, s2) = advance(s1, readings.drop(3).iterator, 1800)
    assert(e1 ++ e2 == oneShot._1)
    assert(s2 == oneShot._2)
  }

  test("packStream over MemoryStream emits closed islands") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, java.sql.Timestamp, Int)]
    val df = mem.toDF().toDF("block_id", "tfrom", "enc")
    val q = StreamingPack.packStream(df, maxMinutes = 30)
      .writeStream.format("memory").queryName("islands")
      .outputMode("append").start()
    def ts(m: Long) = new java.sql.Timestamp((t0 + m * 60) * 1000)
    mem.addData((0, ts(0), 1), (0, ts(10), 1), (0, ts(20), 0))
    q.processAllAvailable()
    // the [90,95) range carries reading-90's value (true) so the island
    // extends to 95; reading 100 (after the value change at 95) closes it
    mem.addData((0, ts(30), 1), (0, ts(80), 1), (0, ts(90), 1),
      (0, ts(95), 0), (0, ts(100), 0))
    q.processAllAvailable()
    val got = spark.table("islands").orderBy("vfrom")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toList
    q.stop()
    // packStream reports epoch µs (sub-second feeds)
    assert(got == List(
      (t0, t0 + 1200, 1),          // [0,20) true
      (t0 + 1200, t0 + 1800, 0),   // [20,30) false
      (t0 + 1800, t0 + 5700, 1))   // [30,95) true, merged across the gap
      .map { case (a, b, e) => (a * 1000000L, b * 1000000L, e) })
  }

  test("out-of-order, late and duplicate arrivals: documented pre-stage, batch parity") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, java.sql.Timestamp, Int)]
    def ts(m: Long) = new java.sql.Timestamp((t0 + m * 60) * 1000)
    // the Scaladoc's pre-stage for reordering sources: a watermark
    // bounds how old an arrival may be; exact re-deliveries collapse
    // (within-batch disorder is sorted by the operator itself)
    val pre = mem.toDF().toDF("block_id", "tfrom", "enc")
      .withWatermark("tfrom", "60 minutes")
      .dropDuplicates("block_id", "tfrom")
    val q = StreamingPack.packStream(pre, maxMinutes = 30)
      .writeStream.format("memory").queryName("late_islands")
      .outputMode("append").start()
    // micro-batch 1 arrives SHUFFLED
    mem.addData((0, ts(30), 1), (0, ts(0), 1), (0, ts(10), 1), (0, ts(20), 0))
    q.processAllAvailable()
    // micro-batch 2: a re-delivery of minute 10, a LATE reading at
    // minute 25 (older than the state's last tfrom 30 → ignored, the
    // documented data-loss bound), tail shuffled
    mem.addData((0, ts(90), 1), (0, ts(10), 1), (0, ts(25), 0),
      (0, ts(80), 1), (0, ts(100), 0), (0, ts(95), 0))
    q.processAllAvailable()
    val got = spark.table("late_islands").orderBy("vfrom")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toList
    q.stop()

    // batch parity: run the BATCH kernel over the effective corpus
    // (re-delivery collapsed, late reading dropped) — every island the
    // stream closed must match; only the trailing island is pending
    val eff = Seq(0L -> 1, 10L -> 1, 20L -> 0, 30L -> 1,
      80L -> 1, 90L -> 1, 95L -> 0, 100L -> 0)
    val obs = eff.map { case (m, e) => (ts(m), 1L, 5L, if (e == 1) 5.0 else 0.0) }
      .toDF("tfrom", "statid", "seid", "seval")
    val batch = graft.core.PackRanges.packKeyedChunked(obs,
        Seq(graft.core.PackRanges.KeyedBlock(0, 1L, 5L,
          graft.core.PackRanges.predicate(
            org.apache.spark.sql.functions.col("seval"),
            graft.model.CmpOp.Ge, Seq(1.0)))),
        maxMinutes = 30)
      .orderBy("vfrom").collect()
      .map(r => (r.getTimestamp(1).getTime * 1000, r.getTimestamp(2).getTime * 1000,
        if (r.isNullAt(3)) -1 else if (r.getBoolean(3)) 1 else 0)).toList
    assert(batch.nonEmpty && got == batch.dropRight(1), s"stream=$got batch=$batch")
  }
}

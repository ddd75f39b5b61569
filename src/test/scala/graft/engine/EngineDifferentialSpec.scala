package graft.engine

import graft.SparkTest
import graft.core.PackRanges
import graft.model.CmpOp
import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.scalatest.funsuite.AnyFunSuite

/** The pack kernel against an independent reading of SURVEY.md R4–R7 on
  * seeded random series. The reference below is plain Scala over one
  * block's sorted readings — no chunks, no stitch, no Spark — so a
  * defect in the chunk pass or the border stitch shows as a row diff.
  *
  * The generator covers what the kernel's layout makes hard: 1–4 blocks
  * (blocks may share a station/sensor key), NULL readings, gaps over the
  * 30-min cap, readings exactly on 1-hour and weekly chunk borders,
  * sub-second times and single-reading blocks. Several cases share one
  * Spark job (each case has its own keys), so the fixed case count stays
  * within a few tens of seconds.
  */
class EngineDifferentialSpec extends AnyFunSuite with SparkTest {
  import EngineDifferentialSpec._

  private val CapMinutes = 30
  private val Batches = 10
  private val CasesPerBatch = 8

  test("pack == plain-Scala R4–R7 islands at 1-hour and weekly chunks") {
    import spark.implicits._
    val rng = new scala.util.Random(20180201)
    for (batch <- 0 until Batches) {
      val cases = (0 until CasesPerBatch).map(i => genCase(rng, batch * CasesPerBatch + i))
      val blocks = cases.flatMap(_.blocks)
      val obs = cases.flatMap(_.readings)
        .toDF("t", "statid", "seid", "seval")
        .select(timestamp_micros(col("t")).as("tfrom"), col("statid"), col("seid"), col("seval"))
      val keyed = blocks.map(b => PackRanges.KeyedBlock(b.id, b.statid, b.seid,
        PackRanges.predicate(col("seval"), b.op, b.values)))
      val expected = blocks.map(b => b.id -> islands(b.truth(cases), CapMinutes * 60L * 1000000L)).toMap

      for (h <- Seq(1, PackRanges.ChunkHours)) {
        val got = PackRanges.packKeyedChunked(obs, keyed, CapMinutes, h)
          .select(col("block_id"), unix_micros(col("vfrom")), unix_micros(col("vuntil")), col("istrue"))
          .collect()
          .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Boolean])))
          .groupBy(_._1).map { case (id, rs) => id -> rs.map(_._2).sortBy(_._1).toList }
        for (b <- blocks) {
          val g = got.getOrElse(b.id, Nil)
          val e = expected(b.id)
          if (g != e) {
            val c = cases.find(_.blocks.contains(b)).get
            fail(s"chunkHours=$h case ${c.index} block ${b.id} (${b.op} ${b.values}):\n" +
              s"  readings ${b.truth(cases)}\n  expected $e\n  got      $g")
          }
        }
      }
    }
  }
}

object EngineDifferentialSpec {

  /** One reading: (t µs, statid, seid, seval). */
  type Row4 = (Long, Long, Long, Option[Double])

  final case class Block(id: Int, statid: Long, seid: Long, op: CmpOp, values: Seq[Double]) {
    /** The block's readings as (t µs, predicate value); NULL seval → None. */
    def truth(cases: Seq[Case]): Seq[(Long, Option[Boolean])] =
      cases.flatMap(_.readings).collect {
        case (t, st, se, v) if st == statid && se == seid => t -> v.map(holds)
      }

    private def holds(x: Double): Boolean = op match {
      case CmpOp.Eq => x == values.head
      case CmpOp.Ne => x != values.head
      case CmpOp.Gt => x > values.head
      case CmpOp.Lt => x < values.head
      case CmpOp.Ge => x >= values.head
      case CmpOp.Le => x <= values.head
      case CmpOp.In => values.contains(x)
    }
  }

  final case class Case(index: Int, blocks: Seq[Block], readings: Seq[Row4])

  /** R4–R7 for one block: each reading is valid [t, next t) (R4; the
    * last reading has no next and is dropped), capped at `cap` (R5);
    * NULL is a value of its own (R6); adjacent ranges of equal value
    * merge into one island even across a capped gap (R7).
    */
  def islands(readings: Seq[(Long, Option[Boolean])], cap: Long): List[(Long, Long, Option[Boolean])] = {
    val sorted = readings.sortBy(_._1)
    val ranges = sorted.zip(sorted.drop(1)).map { case ((t, v), (next, _)) =>
      (t, math.min(next, t + cap), v)
    }
    ranges.foldLeft(List.empty[(Long, Long, Option[Boolean])]) {
      case ((from, _, v0) :: done, (_, until, v)) if v == v0 => (from, until, v) :: done
      case (done, range) => range :: done
    }.reverse
  }

  private val Second = 1000000L
  private val Hour = 3600 * Second
  private val Week = 168 * Hour

  /** A case: 1–3 station/sensor keys with one series each, 1–4 blocks
    * over them. Series start within six hours before a week border, so
    * most cross one at weekly chunks and many hour borders.
    */
  def genCase(rng: scala.util.Random, index: Int): Case = {
    val nKeys = 1 + rng.nextInt(3)
    val keys = (0 until nKeys).map(k => (index * 10L + k, 1L + k))
    val weekBorder = (2508L + rng.nextInt(4)) * Week
    val readings = keys.flatMap { case (statid, seid) =>
      val n = if (rng.nextInt(5) == 0) 1 else 2 + rng.nextInt(30)
      val start = weekBorder - rng.nextInt(6 * 3600) * Second - rng.nextInt(1000000)
      Iterator.iterate(start)(t => next(rng, t)).take(n).map { t =>
        val v = if (rng.nextInt(5) == 0) None else Some(Seq(1.0, 2.0, 3.0)(rng.nextInt(3)))
        (t, statid, seid, v)
      }.toSeq
    }
    val ops = Seq[(CmpOp, Seq[Double])](CmpOp.Le -> Seq(2.0), CmpOp.Eq -> Seq(1.0),
      CmpOp.Ne -> Seq(3.0), CmpOp.Gt -> Seq(1.0), CmpOp.In -> Seq(1.0, 3.0))
    val blocks = (0 until 1 + rng.nextInt(4)).map { j =>
      val (statid, seid) = keys(rng.nextInt(nKeys))
      val (op, values) = ops(rng.nextInt(ops.size))
      Block(index * 4 + j, statid, seid, op, values)
    }
    Case(index, blocks, readings)
  }

  /** The next reading time after `t`: a sub-second step, a step under
    * the cap, exactly the cap, a gap over it, or a jump onto the next
    * hour or week border.
    */
  private def next(rng: scala.util.Random, t: Long): Long = rng.nextInt(10) match {
    case 0 | 1 => t + 1 + rng.nextInt(999999)
    case 2 | 3 | 4 => t + (1 + rng.nextInt(29 * 60)) * Second + rng.nextInt(1000000)
    case 5 => t + 30 * 60 * Second
    case 6 | 7 => t + (31 + rng.nextInt(240)) * 60 * Second
    case 8 => (t / Hour + 1) * Hour
    case _ => if ((t / Week + 1) * Week - t <= 12 * Hour) (t / Week + 1) * Week else (t / Hour + 1) * Hour
  }
}

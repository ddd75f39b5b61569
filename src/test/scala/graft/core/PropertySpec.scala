package graft.core

import graft.SparkTest
import graft.model._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Property tests for the analytic kernel (SURVEY.md §5 test plan):
  * for ANY observation series, the pack + eval + summarize pipeline
  * maintains its algebraic invariants.
  */
class PropertySpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L

  // random obs series: minute offsets strictly increasing, values from a
  // small set so islands and 3VL actually occur; deterministic seed so
  // failures replay (each case runs Spark jobs, keep the count small)
  private def randomSeries(rng: scala.util.Random): List[(Long, Double)] = {
    val n = 2 + rng.nextInt(39)
    val gaps = List.fill(n)(1L + rng.nextInt(70))
    val vals = List.fill(n)(Seq(1.0, 2.0, 3.0)(rng.nextInt(3)))
    gaps.scanLeft(0L)(_ + _).tail.zip(vals)
  }

  private def forAllSeries(cases: Int)(body: List[(Long, Double)] => Unit): Unit = {
    val rng = new scala.util.Random(42)
    (1 to cases).foreach { i =>
      val series = randomSeries(rng)
      try body(series)
      catch { case e: Throwable =>
        throw new AssertionError(s"case $i failed for series $series", e)
      }
    }
  }

  test("invariants: ranges sorted+disjoint; adjacent islands differ; sum == tottime") {
    forAllSeries(8) { series => {
        import spark.implicits._
        val obs = series.map { case (m, v) =>
          (new Timestamp((t0 + m * 60) * 1000), 1L, 1L, v)
        }.toDF("tfrom", "statid", "seid", "seval")
        val blocks = Seq(PackRanges.KeyedBlock(0, 1L, 1L,
          PackRanges.predicate(col("seval"), CmpOp.Le, Seq(2.0))))
        val packed = PackRanges.packKeyedChunked(obs, blocks, 30)
          .orderBy("vfrom").collect()
          .map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
            Option(r.get(3)).map(_.asInstanceOf[Boolean])))

        // sorted, non-overlapping, nonempty ranges
        packed.foreach { case (f, u, _) => assert(f < u) }
        packed.sliding(2).foreach {
          case Array((_, u1, v1), (f2, _, v2)) =>
            assert(u1 <= f2, "overlap")
            // adjacent (touching) islands must differ in value — islands
            // are maximal; non-touching ones may repeat across a gap
            if (u1 == f2) assert(v1 != v2, "unmerged adjacent islands")
          case _ => ()
        }

        // single-block condition: valid+notvalid+nodata == tottime
        val ranges = PackRanges.packKeyedChunked(obs, blocks, 30)
          .select(lit("b_0").as("alias"), col("vfrom"), col("vuntil"), col("istrue"))
        val cond = ConditionEval.evalCondition(ranges, Seq("b_0"), Expr.Ref("b_0"))
        val s = ConditionEval.summarize(cond).collect()(0)
        assert(s.getAs[Long]("valid_s") + s.getAs[Long]("notvalid_s") +
          s.getAs[Long]("nodata_s") == s.getAs[Long]("tottime_s"))
      }
    }
  }

  test("pack is idempotent: re-packing the islands changes nothing") {
    forAllSeries(8) { series => {
        import spark.implicits._
        val obs = series.map { case (m, v) =>
          (new Timestamp((t0 + m * 60) * 1000), 1L, 1L, v)
        }.toDF("tfrom", "statid", "seid", "seval")
        val blocks = Seq(PackRanges.KeyedBlock(0, 1L, 1L,
          PackRanges.predicate(col("seval"), CmpOp.Eq, Seq(1.0))))
        val packed = PackRanges.packKeyedChunked(obs, blocks, 30)
        // feed islands back as readings valid at vfrom with their value:
        // islands of islands == islands (merge is maximal)
        val again = packed
          .select(col("block_id"),
            struct(col("vfrom"), col("vuntil")).as("r"),
            coalesce(col("istrue").cast("int"), lit(-1)).as("enc"))
          .withColumn("chg", when(col("enc") === lag(col("enc"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("block_id").orderBy(col("r.vfrom"))), 0).otherwise(1))
          .agg(sum(col("chg")))
          .collect()(0).getLong(0)
        assert(again == packed.count(), "adjacent islands with equal value survived")
      }
    }
  }

  test("pack: 1-hour chunks == one chunk spanning the series, for any series") {
    forAllSeries(8) { series =>
      import spark.implicits._
      val obs = series.map { case (m, v) =>
        (new Timestamp((t0 + m * 60) * 1000), 1L, 1L, v)
      }.toDF("tfrom", "statid", "seid", "seval")
      val blocks = Seq(PackRanges.KeyedBlock(0, 1L, 1L,
        PackRanges.predicate(col("seval"), CmpOp.Le, Seq(2.0))))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("vfrom").collect()
          .map(r => (r.getTimestamp(1), r.getTimestamp(2), Option(r.get(3)))).toList
      // 1-hour chunks ⇒ many chunk borders inside the series; 10-year
      // chunks hold the whole series in one (the unchunked pack)
      val chunked = rows(PackRanges.packKeyedChunked(obs, blocks, 30, chunkHours = 1))
      val global = rows(PackRanges.packKeyedChunked(obs, blocks, 30, chunkHours = 24 * 365 * 10))
      assert(chunked == global)
    }
  }

  test("condition eval: chunked stitch == single-chunk fill for any series") {
    forAllSeries(6) { series =>
      import spark.implicits._
      val obs = (series.map { case (m, v) =>
        (new Timestamp((t0 + m * 60) * 1000), 1L, 1L, v)
      } ++ series.map { case (m, v) =>
        (new Timestamp((t0 + (m + 7) * 60) * 1000), 1L, 2L, v + 1)
      }).toDF("tfrom", "statid", "seid", "seval")
      val blocks = Seq(
        PackRanges.KeyedBlock(0, 1L, 1L, PackRanges.predicate(col("seval"), CmpOp.Le, Seq(1.0))),
        PackRanges.KeyedBlock(1, 1L, 2L, PackRanges.predicate(col("seval"), CmpOp.Le, Seq(2.0))))
      val packed = PackRanges.packKeyedChunked(obs, blocks, 30)
      def ranges(a: String, id: Int) = packed.filter(col("block_id") === id)
        .select(lit(a).as("alias"), col("vfrom"), col("vuntil"), col("istrue"))
      val br = ranges("x", 0).union(ranges("y", 1))
      def rows(chunkHours: Int) = ConditionEval.evalCondition(br, Seq("x", "y"),
          Expr.And(Expr.Ref("x"), Expr.Ref("y")), chunkHours)
        .orderBy("vfrom")
        .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(2),
          Option(r.get(3)), Option(r.get(4)), Option(r.get(5)))).toList
      // 1-hour chunks put borders inside the grid; 10-year chunks are
      // effectively the unchunked global fill
      assert(rows(1) == rows(24 * 365 * 10))
    }
  }

  test("salted top-k == single-window top-k, any salt count, with ties") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // hot key 0 holds half the rows; duplicate values force tie-breaks
    val rows = (0 until 400).map { i =>
      (if (i % 2 == 0) 0L else (i % 7).toLong, rnd.nextInt(20), i.toLong)
    }
    val df = rows.toDF("key", "v", "id")
    val order = Seq(col("v").desc, col("id"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("key").orderBy(order: _*)
    for (salts <- Seq(1, 4, 16)) {
      val expect = df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
        .select("key", "v", "id", "rnk").collect().map(_.toSeq).toSet
      val got = SkewOps.topKByKey(df, Seq("key"), order, k = 5, salts = salts)
        .select("key", "v", "id", "rnk").collect().map(_.toSeq).toSet
      assert(got == expect, s"salts=$salts")
    }
  }

  test("globalRank == single-window rank, without the single-task exchange") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // duplicate sort values force the unique-id tiebreak to matter
    val df = (0 until 500).map(i => (i.toLong, rnd.nextInt(40)))
      .toDF("id", "v")
    val order = Seq(col("v"), col("id"))
    val expect = df.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(order: _*))
        .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ranked = SkewOps.globalRank(df, order)
    val got = ranked.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == expect)
    // the point of the operator: no global-window SinglePartition
    // exchange anywhere in the executed plan
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("prefixSum == single-window exclusive cumsum, no SinglePartition") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val df = (0 until 400).map(i => (i.toLong, rnd.nextInt(9).toLong))
      .toDF("id", "n")
    val order = Seq(col("id"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val expect = df.withColumn("prefix",
        coalesce(sum(col("n")).over(w), lit(0L)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val got = SkewOps.prefixSum(df, order, "n")
    val gm = got.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(gm == expect)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("sequence packing: chunked prefix scan == single-chunk, offsets consistent") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // sparse non-contiguous ids: chunk ranges must not assume density
    val docs = (0 until 300).map(i => (i.toLong * 3 + rnd.nextInt(2), rnd.nextInt(200)))
      .distinctBy(_._1).toDF("doc_id", "n")
    def run(width: Long) = graft.operators.SequencePack
      .assignments(docs, "doc_id", col("n"), capacity = 97, chunkWidth = width)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val single = run(1L << 40) // everything in one chunk = plain window
    for (width <- Seq(16L, 100L)) assert(run(width).sameElements(single), s"width=$width")
    // running-total consistency: each doc starts where the previous ended
    single.sliding(2).foreach { case Array((_, n0, s0, o0), (_, _, s1, o1)) =>
      assert(s1 * 97 + o1 == s0 * 97 + o0 + n0)
    case _ => ()
    }
  }

  test("document chunking: windows tile the token stream at every shape") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 40L).map { i =>
      val n = rnd.nextInt(90) // includes 0-token docs
      (i, (0 until n).map(j => s"t${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    for ((maxT, ov) <- Seq((32, 8), (16, 0), (8, 7), (50, 10))) {
      val stride = maxT - ov
      val chunks = graft.operators.SequencePack
        .chunkDocuments(docs, "doc_id", "text", maxT, ov)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      docs.collect().foreach { row =>
        val (id, text) = (row.getLong(0), row.getString(1))
        val toks = text.split("\\s+").filter(_.nonEmpty)
        val cs = chunks.getOrElse(id, Array.empty)
        if (toks.isEmpty) assert(cs.isEmpty, s"doc $id shape ($maxT,$ov)")
        else {
          // chunk i is exactly the window starting at i*stride
          cs.foreach { case (_, cid, nTok, ctext) =>
            val expect = toks.slice(cid * stride, cid * stride + maxT)
            assert(ctext == expect.mkString(" ") && nTok == expect.length,
              s"doc $id chunk $cid shape ($maxT,$ov)")
          }
          // the last chunk reaches the end; the one before it does not
          assert(cs.last._2 * stride + maxT >= toks.length)
          assert(cs.length == 1 || (cs.length - 2) * stride + maxT < toks.length)
        }
      }
    }
  }

  test("two-block master: 3VL AND is commutative over the pipeline") {
    import spark.implicits._
    val series = Seq(0L -> 1.0, 7L -> 2.0, 50L -> 1.0, 65L -> 3.0, 80L -> 1.0)
    val obs = (series.map { case (m, v) =>
      (new Timestamp((t0 + m * 60) * 1000), 1L, 1L, v)
    } ++ series.map { case (m, v) =>
      (new Timestamp((t0 + (m + 3) * 60) * 1000), 1L, 2L, v + 1)
    }).toDF("tfrom", "statid", "seid", "seval")
    val blocks = Seq(
      PackRanges.KeyedBlock(0, 1L, 1L, PackRanges.predicate(col("seval"), CmpOp.Le, Seq(1.0))),
      PackRanges.KeyedBlock(1, 1L, 2L, PackRanges.predicate(col("seval"), CmpOp.Le, Seq(2.0))))
    val packed = PackRanges.packKeyedChunked(obs, blocks, 30)
    def ranges(a: String, id: Int) = packed.filter(col("block_id") === id)
      .select(lit(a).as("alias"), col("vfrom"), col("vuntil"), col("istrue"))
    val br = ranges("x", 0).union(ranges("y", 1))
    val ab = ConditionEval.evalCondition(br, Seq("x", "y"),
      Expr.And(Expr.Ref("x"), Expr.Ref("y")))
      .select("vfrom", "vuntil", "master").collect().toList
    val ba = ConditionEval.evalCondition(br, Seq("y", "x"),
      Expr.And(Expr.Ref("y"), Expr.Ref("x")))
      .select("vfrom", "vuntil", "master").collect().toList
    assert(ab == ba)
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: phase timings of the condition-engine fixture build
  * (`fixture_condition_engine`). Not part of the driver contract.
  * `sbt "runMain graft.tools.EngineProbe /root/testdata/sf0.1"`
  */
object EngineProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"ENG $name%-32s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }

    for (round <- 1 to 2) {
      println(s"-- round $round")
      val errs = new graft.dsl.ErrorCollector("demo")
      val c1 = graft.dsl.ConditionParser.parse("demo", "c1",
        "s1#view >= 20 and s2#click < 50", errs).get
      val c2 = graft.dsl.ConditionParser.parse("demo", "c2",
        "not demo#c1", errs).get
      val coll = graft.model.CollectionSpec("demo",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0),
        java.time.LocalDateTime.of(2024, 1, 31, 23, 59, 59),
        Vector(c1, c2))
      val sensorIds = Map("click" -> 1, "error" -> 2, "purchase" -> 3,
        "signup" -> 4, "view" -> 5)
      val obs = t("obs view build") {
        val seid = {
          var c = when(lit(false), lit(null).cast("int"))
          for ((name, id) <- sensorIds) c = c.when(col("event_type") === name, lit(id))
          c.otherwise(lit(null).cast("int"))
        }
        graft.sources.Tables.events(spark, d)
          .select(col("ts").as("tfrom"), (col("user_id") % 10).as("statid"),
            seid.cast("bigint").as("seid"), col("value").as("seval"))
          .groupBy("tfrom", "statid", "seid")
          .agg(max("seval").as("seval"))
      }
      val rawStat = graft.sources.Tables.events(spark, d)
        .select(col("ts").as("tfrom"), (col("user_id") % 10).as("statid"))
      // sub-DAG isolation: the pack kernel alone over the same window
      locally {
        import graft.core.PackRanges
        import graft.model.CmpOp
        val from = java.sql.Timestamp.from(
          coll.timeFrom.toInstant(java.time.ZoneOffset.UTC))
        val until = java.sql.Timestamp.from(
          coll.timeUntil.toInstant(java.time.ZoneOffset.UTC))
        val obsMain = obs.filter(col("tfrom").between(lit(from), lit(until)))
        val keyed = Seq(
          PackRanges.KeyedBlock(0, 1L, 5L,
            PackRanges.predicate(col("seval"), CmpOp.Ge, Seq(20.0))),
          PackRanges.KeyedBlock(1, 2L, 1L,
            PackRanges.predicate(col("seval"), CmpOp.Lt, Seq(50.0))))
        t("pack alone (count)")(
          PackRanges.packKeyedChunked(obsMain, keyed, 30, PackRanges.ChunkHours).count())
        t("probe alone (distinct collect)")(
          rawStat.filter(col("tfrom").between(lit(from), lit(until)))
            .select(col("statid").cast("long"))
            .filter(col("statid").isin(1L, 2L))
            .distinct().collect().length)
      }
      val engine = new graft.engine.TsaEngine(spark, 30)
      val rs = t("engine.run (plan+cache)") {
        engine.run(coll, obs, sensorIds, Some(rawStat))
      }
      rs.foreach { r =>
        t(s"count ${r.spec.idString}")(r.data.count())
      }
      rs.foreach { r =>
        t(s"summary ${r.spec.idString}")(r.summary.count())
      }
      engine.release()
    }
    spark.stop()
  }
}

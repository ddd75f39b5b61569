package graft.engine

import graft.SparkTest
import graft.dsl.SheetParser
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Cache-lifecycle regression: a long batch over one engine must not
  * accumulate storage — release() unpersists everything this engine
  * cached except catalog entries named in `keep`.
  */
class ReleaseSpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L
  private def ts(min: Long): Timestamp = new Timestamp((t0 + min * 60) * 1000)

  private lazy val obs = {
    import spark.implicits._
    Seq(0L -> 8.0, 10L -> 7.0, 20L -> 8.0, 30L -> 2.0)
      .map { case (m, v) => (ts(m), 1120L, 27L, v) }
      .toDF("tfrom", "statid", "seid", "seval")
  }

  /** Distinct `day` values give each run a distinct logical plan — the
    * cache manager dedups sameResult plans, so identical runs would
    * share one entry and mask a leak.
    */
  private def run(engine: TsaEngine, day: Int = 1) = {
    val sheet =
      s"""start,end
        |$day.2.2018,28.2.2018
        |site,master_alias,condition
        |Testi,A1,"s1120#keli_1 in (7, 8)"
        |Testi,B1,not a1
        |""".stripMargin
    val parsed = SheetParser.parse("rel", sheet)
    assert(parsed.conditionErrors.isEmpty)
    engine.run(parsed.spec.get, obs, Map("keli_1" -> 27))
  }

  test("dependency cycle: members error out, healthy conditions still run") {
    val sheet =
      """start,end
        |1.2.2018,28.2.2018
        |site,master_alias,condition
        |Testi,A1,"s1120#keli_1 in (7, 8)"
        |Testi,X1,testi#y1
        |Testi,Y1,testi#x1
        |""".stripMargin
    val parsed = SheetParser.parse("cyc", sheet)
    assert(parsed.conditionErrors.isEmpty)
    val results = new TsaEngine(spark).run(parsed.spec.get, obs, Map("keli_1" -> 27))
    val byId = results.map(r => r.spec.idString -> r).toMap
    assert(byId("testi_a1").errors.isEmpty)
    assert(byId("testi_a1").data.count() > 0)
    for (id <- Seq("testi_x1", "testi_y1")) {
      assert(byId(id).data == null)
      assert(byId(id).errors.messages.exists(_.contains("cycle")), byId(id).errors.shortStr)
    }
  }

  test("dangling secondary reference records an error, no crash") {
    val sheet =
      """start,end
        |1.2.2018,28.2.2018
        |site,master_alias,condition
        |Testi,A1,"s1120#keli_1 in (7, 8) and testi#nope"
        |""".stripMargin
    val parsed = SheetParser.parse("dang", sheet)
    val results = new TsaEngine(spark).run(parsed.spec.get, obs, Map("keli_1" -> 27))
    assert(results.head.data == null)
    assert(results.head.errors.messages.exists(m =>
      m.contains("does not exist") || m.contains("dangling") || m.contains("Failed")),
      results.head.errors.shortStr)
  }

  test("repeated runs without release() reclaim earlier runs' caches") {
    spark.sharedState.cacheManager.clearCache()
    val engine = new TsaEngine(spark)
    val r1 = run(engine)
    r1.foreach(r => r.data.count())
    val firstA1 = engine.catalog("testi_a1")
    assert(firstA1.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // run 2 overwrites the catalog entries, orphaning run 1's frames;
    // run 3's entry reclaim must unpersist them even with no release()
    run(engine, day = 2).foreach(r => r.data.count())
    run(engine, day = 3)
    assert(firstA1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "an orphaned catalog cache survived two later runs")
    engine.release()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("release() unpersists engine caches; keep retains catalog entries") {
    spark.sharedState.cacheManager.clearCache()
    val engine = new TsaEngine(spark)
    val results = run(engine)
    results.foreach(r => r.data.count()) // materialize (populates caches)
    // packed + every analysed condition are cached
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(engine.catalog.keySet == Set("testi_a1", "testi_b1"))

    engine.release(keep = Set("testi_a1"))
    // kept entry still answers from the catalog...
    assert(engine.catalog.keySet == Set("testi_a1"))
    assert(engine.catalog("testi_a1").count() > 0)
    // ...and a full release empties the session cache entirely
    engine.release()
    assert(engine.catalog.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty,
      "engine caches must not outlive release()")
  }

  test("a cross-sheet reference reads the kept condition's loaded cache") {
    spark.sharedState.cacheManager.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    def sheet(title: String, rows: String) = {
      val p = SheetParser.parse(title,
        s"""start,end
          |1.2.2018,28.2.2018
          |site,master_alias,condition
          |$rows
          |""".stripMargin)
      assert(p.conditionErrors.isEmpty)
      p.spec.get
    }
    val a1 = """Testi,A1,"s1120#keli_1 in (7, 8)""""
    // nothing in sheet 1 references a1; only sheet 2 does
    val sheet1 = sheet("one", s"$a1\nTesti,C1,s1120#keli_1 = 2")
    val x1 = "Muu,X1,not testi#a1"
    val engine = new TsaEngine(spark)
    val r1 = engine.run(sheet1, obs, Map("keli_1" -> 27))
    r1.foreach(_.summary.collect())
    // the pack plus one cache per analysed condition
    assert((sc.getPersistentRDDs.keySet -- before).size == r1.size + 1)

    engine.release(keep = Set("testi_a1"))
    val kept = spark.sharedState.cacheManager.lookupCachedData(
      engine.catalog("testi_a1").asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
    assert(kept.exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded),
      "the kept condition lost its loaded cache")
    // the pack and c1 are unpersisted: the kept frame's cache is the
    // only one this engine still holds
    val keptRdd = kept.get.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    assert(sc.getPersistentRDDs.keySet -- before == Set(keptRdd))

    val crossSheet = engine.run(sheet("two", x1), obs, Map("keli_1" -> 27))
    val single = new TsaEngine(spark)
    val fresh = single.run(sheet("both", s"$a1\n$x1"), obs, Map("keli_1" -> 27))
    val want = fresh.find(_.spec.idString == "muu_x1").get.summary.collect().toSeq
    assert(crossSheet.head.summary.collect().toSeq == want)
    engine.release()
    single.release()
  }
}

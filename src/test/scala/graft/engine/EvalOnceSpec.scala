package graft.engine

import graft.SparkTest
import graft.dsl.SheetParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Evaluate-once regression: every analysed condition is cached, so
  * the report's later actions on a condition (parquet write, timeline
  * collect) read that cache instead of evaluating the condition again.
  * Counted in shuffle-map stages, not time.
  */
class EvalOnceSpec extends AnyFunSuite with SparkTest {

  private val t0 = 1517443200L // 2018-02-01T00:00:00Z
  private def ts(h: Long): Timestamp = new Timestamp((t0 + h * 3600) * 1000)

  private lazy val obs = {
    import spark.implicits._
    (for {
      h <- 0L until 48L
      (seid, v) <- Seq(27L -> (if (h % 3 == 0) 8.0 else 2.0),
                       3L -> (if (h % 2 == 0) -2.0 else 1.0))
    } yield (ts(h), 1120L, seid, v)).toDF("tfrom", "statid", "seid", "seval")
  }

  /** Stage ids of the shuffle-map tasks that `body` runs. A marker job
    * follows `body`; the listener bus delivers events in order, so the
    * marker's end means every event of `body` has been seen.
    */
  private def shuffleMapStages(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ShuffleMapTask") stages.add(e.stageId)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("evalonce.marker") != null)
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("evalonce.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("evalonce.marker", null)
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSet
  }

  test("each analysed condition is cached and its later actions run no shuffle stage") {
    spark.sharedState.cacheManager.clearCache()
    val sheet =
      """start,end
        |1.2.2018,28.2.2018
        |site,master_alias,condition
        |Testi,A1,"s1120#keli_1 = 8 and s1120#tie_1 < 0 and s1120#keli_1 in (2, 8)"
        |Testi,B1,"s1120#keli_1 in (7, 8)"
        |Testi,C1,"testi#b1 or s1120#tie_1 > 0"
        |""".stripMargin
    val parsed = SheetParser.parse("once", sheet)
    assert(parsed.conditionErrors.isEmpty)
    val engine = new TsaEngine(spark)
    val results = engine.run(parsed.spec.get, obs, Map("keli_1" -> 27, "tie_1" -> 3))
    assert(results.size == 3 && results.forall(_.data != null),
      results.map(_.errors.shortStr))
    for (r <- results)
      assert(r.data.storageLevel != StorageLevel.NONE, s"${r.spec.idString} is not cached")

    // the summary collect is the first action: it evaluates and fills
    // the cache (and shows the counter sees this engine's shuffles)
    assert(shuffleMapStages(results.foreach(_.summary.collect())).nonEmpty)

    val out = Files.createTempDirectory("eval_once")
    val later = shuffleMapStages(results.foreach { r =>
      r.data.coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(r.spec.idString).toString)
      r.data.collect()
    })
    assert(later.isEmpty, s"later actions re-ran shuffle-map stages $later")
    engine.release()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}

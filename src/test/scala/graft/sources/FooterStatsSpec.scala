package graft.sources

import graft.SparkTest
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit path's per-file statistics come from parquet FOOTERS
  * when every stats-bearing column is integral (no re-scan of the
  * bytes just written); `spark.graft.store.footerStats=false` forces
  * the original distributed stats scan. The two paths must produce
  * manifest-identical FileEntry metadata — min/max/rows/zone/bytes —
  * and the same NULL-key refusal, or range skipping and merge hit
  * detection would silently diverge between deployments.
  */
class FooterStatsSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"fstat_$tag").toString + "/t"

  private def entryMeta(m: SnapshotStore.Manifest) =
    m.files.map(f => (f.minKey, f.maxKey, f.rows, f.stats, f.bytes,
      f.layout)).sortBy(_.toString)

  private val base = (0L until 500L)
    .map(i => (i, i * 7L % 101L, s"p$i")).toDF("k", "z", "p")

  test("footer stats == scan stats (key + zone envelopes + bytes)") {
    val viaFooter = freshRoot("footer")
    val viaScan = freshRoot("scan")
    SnapshotStore.init(spark, base, viaFooter, "k",
      statsCols = Seq("z"), filesPerCommit = 4)
    spark.conf.set("spark.graft.store.footerStats", "false")
    try SnapshotStore.init(spark, base, viaScan, "k",
      statsCols = Seq("z"), filesPerCommit = 4)
    finally spark.conf.unset("spark.graft.store.footerStats")
    val (mf, ms) = (SnapshotStore.currentManifest(viaFooter),
      SnapshotStore.currentManifest(viaScan))
    assert(entryMeta(mf) == entryMeta(ms))
    assert(mf.files.forall(_.rows > 0) && mf.files.map(_.rows).sum == 500L)
    assert(mf.files.forall(f => f.stats.contains("z")))
    // and the table reads back identically through range skipping
    assert(SnapshotStore.scanKeyRange(spark, viaFooter, 100L, 199L)
      .count() == 100L)
  }

  /** Spark jobs `body` starts. A marker job follows `body`; the
    * listener bus delivers in order, so the marker's start means every
    * job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("fstat.marker") != null)
          markerSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("fstat.marker", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("fstat.marker", null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("footerStats flag: true/false in any case, trimmed; junk throws") {
    // (manifest, jobs) of one commit under `flag`; the scan path's
    // stats pass is a Spark job the footer path does not run
    def initWith(flag: String): (Seq[Any], Int) = {
      val root = freshRoot("flag")
      spark.conf.set("spark.graft.store.footerStats", flag)
      try {
        val jobs = jobsOf(SnapshotStore.init(spark, base, root, "k",
          statsCols = Seq("z"), filesPerCommit = 4))
        (entryMeta(SnapshotStore.currentManifest(root)), jobs)
      } finally spark.conf.unset("spark.graft.store.footerStats")
    }
    val (scanMeta, scanJobs) = initWith("false")
    val (upperMeta, upperJobs) = initWith("FALSE")
    val (_, footerJobs) = initWith(" True ")
    assert(upperMeta == scanMeta)
    assert(upperJobs == scanJobs && footerJobs < scanJobs,
      s"jobs: false=$scanJobs FALSE=$upperJobs True=$footerJobs")
    val e = intercept[IllegalArgumentException](initWith("junk"))
    assert(e.getMessage.contains("spark.graft.store.footerStats"), e.getMessage)
  }

  test("footer path refuses NULL keys exactly like the scan path") {
    val root = freshRoot("nulls")
    val bad = base.unionByName(Seq((null.asInstanceOf[java.lang.Long], 1L, "x"))
      .toDF("k", "z", "p").select(col("k").cast("long"), col("z"), col("p")))
    val e = intercept[IllegalArgumentException](
      SnapshotStore.init(spark, bad, root, "k", statsCols = Seq("z")))
    assert(e.getMessage.contains("NULL or non-long-castable key"))
    // refusal rolled the data files back — nothing committed
    assert(!new java.io.File(s"$root/data").exists() ||
      new java.io.File(s"$root/data").listFiles().isEmpty)
  }

  test("non-integral zone column falls back to the scan and still stats") {
    val root = freshRoot("dbl")
    // DOUBLE zone column DECLARED as a stats col: the footer path's
    // integral-type check must refuse it (float footer min/max are not
    // the cast-to-long envelope) and the scan path take over, emitting
    // the same truncated zone envelope it always has
    val df = (0L until 50L).map(i => (i, i * 1.5)).toDF("k", "z")
    SnapshotStore.init(spark, df, root, "k", filesPerCommit = 2,
      statsCols = Seq("z"))
    val m = SnapshotStore.currentManifest(root)
    assert(m.files.map(_.rows).sum == 50L)
    assert(m.files.forall(f => f.minKey <= f.maxKey && f.bytes > 0))
    assert(m.files.forall(f => f.stats.contains("z")))
    val all = (m.files.map(_.stats("z")._1).min,
      m.files.map(_.stats("z")._2).max)
    assert(all == (0L, 73L)) // cast-to-long envelope of 0.0 .. 73.5
  }

  test("bloom-bits commits still aggregate blooms (scan path)") {
    val root = freshRoot("bloom")
    SnapshotStore.init(spark, base, root, "k", bloomBits = 1024)
    val m = SnapshotStore.currentManifest(root)
    assert(m.files.nonEmpty && m.files.forall(_.bloom.nonEmpty))
  }
}

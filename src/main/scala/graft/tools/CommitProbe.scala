package graft.tools

import org.apache.spark.sql.functions._

/** Dev tool: per-phase wall time AND Spark job count of the snapshot-
  * store commit machinery — the evidence the write-path optimizations
  * are judged against. Not part of the driver contract.
  * `sbt "runMain graft.tools.CommitProbe /root/testdata/sf0.1"`
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.local(32, 32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val verbose = sys.env.get("GRAFT_PROBE_VERBOSE").contains("1")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          starts.put(j.jobId, System.nanoTime())
          if (verbose) {
            val cs = j.stageInfos.map(s => s.name.take(60) +
              ":" + s.numTasks).mkString(" | ")
            println(f"  JOB ${j.jobId}%-4d start  $cs")
          }
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (verbose) {
            val dt = Option(starts.get(j.jobId))
              .map(t0 => (System.nanoTime() - t0) / 1e9).getOrElse(-1.0)
            println(f"  JOB ${j.jobId}%-4d end    $dt%7.3f s")
          }
      })

    def t[A](name: String)(f: => A): A = {
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $name%-34s $dt%8.3f s  jobs=${jobs.get() - j0}")
      r
    }

    import graft.sources.SnapshotStore
    val base0 = graft.sources.Tables.documents(spark, d)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        col("source"))
    val baseDir = java.nio.file.Files.createTempDirectory("commit_probe")

    // run twice: first is cold (codegen), second is the min-of-2 shape
    for (round <- 1 to 2) {
      val r = baseDir.resolve(s"store_$round").toString
      println(s"-- round $round")
      t("init (v0)")(SnapshotStore.init(spark, base0, r, "doc_id"))
      t("merge overlap (v1)")(SnapshotStore.merge(spark,
        base0.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L), r))
      // CDC images epochs, the q_stream_replica shape: first an
      // OVERLAPPING epoch (updates to existing keys), then a DISJOINT
      // epoch (brand-new key range — the pure-append case the
      // manifest can prove)
      def images(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("_change_type", lit("insert"))
        .withColumn("version", lit(1L))
      t("applyChanges overlap")(SnapshotStore.applyChangesOnce(spark,
        images(base0.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + 5L)),
        r, "probe", 10L + jobs.get()))
      t("applyChanges disjoint")(SnapshotStore.applyChangesOnce(spark,
        images(base0.filter(col("doc_id") % 7 === 1)
          .withColumn("doc_id", col("doc_id") + 10000000L)),
        r, "probe", 20L + jobs.get()))
      t("read head count")(SnapshotStore.read(spark, r).count())
    }
    // optional sampling-profiler fodder: hammer warm merges in a loop
    sys.env.get("GRAFT_PROBE_LOOP").map(_.toInt).foreach { n =>
      val r = baseDir.resolve("store_loop").toString
      SnapshotStore.init(spark, base0, r, "doc_id")
      println(s"LOOP $n warm merges starting; pid=${ProcessHandle.current().pid()}")
      val t0 = System.nanoTime()
      for (i <- 1 to n)
        SnapshotStore.merge(spark, base0.filter(col("doc_id") % 10 === i % 10)
          .withColumn("n_chars", col("n_chars") + i.toLong), r)
      println(f"LOOP done: ${(System.nanoTime() - t0) / 1e9 / n}%.3f s/merge")
    }
    spark.stop()
  }
}

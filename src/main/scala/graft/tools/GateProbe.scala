package graft.tools

import org.apache.spark.scheduler._

/** Dev tool: run declared queries by name and report wall time plus
  * scheduler-side counts (jobs, stages, tasks, summed task time) — the
  * partition-economy evidence (guide §2): a sub-second query spending
  * most of its wall clock scheduling hundreds of near-empty tasks is
  * overhead-bound, not data-bound. Each run writes the gate's output to
  * the `noop` sink, so every projected column and the final sort run.
  * Not part of the driver contract.
  * `sbt "runMain graft.tools.GateProbe /root/testdata/sf0.1 q_pivot,q_compact"`
  */
object GateProbe {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val names = (if (args.length > 1) args(1) else "q_pivot").split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          taskNanos.addAndGet(
            (t.taskInfo.finishTime - t.taskInfo.launchTime) * 1000000L)
      }
    })

    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      // materialize every column and the trailing sort: `count()` lets
      // Catalyst prune projected UDF columns and drop the final orderBy
      def materialize(dir: String): Unit =
        fn(spark, dir).write.format("noop").mode("overwrite").save()
      // warm like the bench (sf0.001 pass) so codegen is out of the way
      try materialize("/root/testdata/sf0.001")
      catch { case _: Throwable => () }
      for (run <- 1 to 3) {
        System.gc()
        val (j0, s0, t0c) = (jobs.get(), stages.get(), tasks.get())
        val n0 = taskNanos.get()
        val t0 = System.nanoTime()
        materialize(d)
        val dt = (System.nanoTime() - t0) / 1e9
        // let the listener bus drain before reading the counters
        Thread.sleep(300)
        println(f"GATE $name%-24s run=$run $dt%8.3f s  " +
          f"jobs=${jobs.get() - j0}%-3d stages=${stages.get() - s0}%-4d " +
          f"tasks=${tasks.get() - t0c}%-5d " +
          f"taskTime=${(taskNanos.get() - n0) / 1e9}%8.3f s")
      }
    }
    spark.stop()
  }
}

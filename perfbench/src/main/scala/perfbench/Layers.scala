package perfbench

import java.nio.file.Path

/** Per-layer metrics of one traced operation, from its spans. Layers
  * are the program's modules: `dsl`, `engine`, `core`, `cli`, `ingest`,
  * plus Spark's own counters; a layer the workload does not reach
  * reports 0.
  */
object Layers {

  val names: Vector[(String, String)] = Vector(
    "dsl.read_s" -> "s", "dsl.parse_s" -> "s", "dsl.validate_s" -> "s",
    "dsl.conditions" -> "count", "dsl.blocks" -> "count",
    "engine.run_s" -> "s", "engine.jobs_s" -> "s", "engine.plan_s" -> "s",
    "engine.cached_mb" -> "MB", "engine.release_s" -> "s",
    "core.pack_s" -> "s", "core.pack_readings" -> "count", "core.pack_islands" -> "count",
    "core.islands_per_reading" -> "ratio", "core.eval_s" -> "s", "core.grid_rows" -> "count",
    "core.summarize_s" -> "s",
    "cli.summary_s" -> "s", "cli.condition_write_s" -> "s", "cli.timeline_s" -> "s",
    "cli.xlsx_s" -> "s", "cli.pptx_s" -> "s", "cli.svg_s" -> "s", "cli.png_s" -> "s",
    "cli.files" -> "count", "cli.bytes" -> "bytes",
    "ingest.statobs_s" -> "s", "ingest.seobs_s" -> "s", "ingest.write_s" -> "s",
    "ingest.raw_rows" -> "count", "ingest.kept_ratio" -> "ratio", "ingest.files" -> "count",
    "ingest.bytes_per_row" -> "bytes",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.task_wait_s" -> "s", "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms",
    "trace.overhead_s" -> "s")

  def of(spans: Seq[Tracer#Span], opS: Double, cores: Int, out: Path, in: Inputs): Map[String, Double] = {
    def named(n: String) = spans.filter(_.name == n)
    def secs(n: String) = named(n).map(_.seconds).sum
    def cnt(n: String, c: String) = named(n).map(_.counts.getOrElse(c, 0.0)).sum
    val total = new SparkWork
    spans.foreach(s => total.add(s.spark))
    val engineRun = secs("engine.run")
    val engineJobs = named("engine.run").map(_.spark.jobS).sum
    val readings = cnt("core.pack", "readings")
    val islands = cnt("core.pack", "islands")
    val storeRows = in.raw.storeRows.toDouble
    val mb = 1048576.0
    val report = if (in.read) Map(
      "cli.files" -> Gen.fileCount(out).toDouble,
      "cli.bytes" -> Gen.dirBytes(out).toDouble)
    else Map(
      "ingest.raw_rows" -> (cnt("ingest.statobs", "raw_rows") + cnt("ingest.seobs", "raw_rows")),
      "ingest.kept_ratio" -> storeRows / math.max(1.0, cnt("ingest.seobs", "raw_rows")),
      "ingest.files" -> Gen.fileCount(out).toDouble,
      "ingest.bytes_per_row" -> Gen.dirBytes(out) / math.max(1.0, storeRows))
    report ++ Map(
      "dsl.read_s" -> secs("dsl.read"), "dsl.parse_s" -> secs("dsl.parse"),
      "dsl.validate_s" -> secs("dsl.validate"),
      "dsl.conditions" -> cnt("dsl.parse", "conditions"), "dsl.blocks" -> cnt("dsl.parse", "blocks"),
      "engine.run_s" -> engineRun, "engine.jobs_s" -> engineJobs,
      "engine.plan_s" -> math.max(0.0, engineRun - engineJobs),
      "engine.cached_mb" -> named("engine.release").map(_.counts.getOrElse("cached_mb", 0.0))
        .foldLeft(0.0)(math.max),
      "engine.release_s" -> secs("engine.release"),
      "core.pack_s" -> secs("core.pack"), "core.pack_readings" -> readings,
      "core.pack_islands" -> islands,
      "core.islands_per_reading" -> (if (readings > 0) islands / readings else 0.0),
      "core.eval_s" -> secs("core.eval"), "core.grid_rows" -> cnt("core.eval", "grid_rows"),
      "core.summarize_s" -> secs("core.summarize"),
      "cli.summary_s" -> secs("cli.summary"), "cli.condition_write_s" -> secs("cli.condition_write"),
      "cli.timeline_s" -> secs("cli.timeline"), "cli.xlsx_s" -> secs("cli.xlsx"),
      "cli.pptx_s" -> secs("cli.pptx"), "cli.svg_s" -> secs("cli.svg"), "cli.png_s" -> secs("cli.png"),
      "ingest.statobs_s" -> secs("ingest.statobs"), "ingest.seobs_s" -> secs("ingest.seobs"),
      "ingest.write_s" -> secs("ingest.write"),
      "spark.jobs" -> total.jobs.toDouble, "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble, "spark.task_busy_s" -> total.taskBusyS,
      "spark.task_cpu_s" -> total.taskCpuS, "spark.gc_s" -> total.gcS,
      "spark.task_wait_s" -> total.taskWaitS,
      "spark.core_busy_ratio" -> (if (opS > 0) total.taskBusyS / (cores * opS) else 0.0),
      "spark.shuffle_read_mb" -> total.shuffleRead / mb, "spark.shuffle_write_mb" -> total.shuffleWrite / mb,
      "spark.spill_mb" -> total.spill / mb,
      "spark.plan_ms" -> total.planMs, "spark.exec_ms" -> total.execMs)
  }
}

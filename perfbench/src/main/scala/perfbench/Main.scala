package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

/** Benchmark entry point. One JVM runs one workload as a closed loop
  * with one client: each operation starts after the previous one
  * finished and its outputs were checked.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> [--commit <id>]
  *                [--plant missing-input] [--generate-only 1]
  * }}}
  *
  * The last stdout line is the result object; the full record goes to
  * `<work>/result.json` (and the spans of a traced run to
  * `<work>/spans.jsonl`). Exit code 0 only when every operation ran and
  * every output matched.
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = o.getOrElse(k, sys.error(s"--$k required"))
    val code =
      try run(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
        Paths.get(need("work")), o.getOrElse("commit", "unknown"),
        o.get("plant"), o.contains("generate-only"))
      catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").head.toDouble
    catch { case NonFatal(_) => -1.0 }

  /** CPU time the hypervisor gave other guests, summed over all CPUs,
    * in seconds (the `steal` column of /proc/stat); a busy host shows
    * here before it shows as slow operations.
    */
  def stealS(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
    catch { case NonFatal(_) => -1.0 }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case NonFatal(_) => -1.0 }

  /** Heap still in use after a full collection, in MB: what the
    * program keeps live between operations. Collected outside any
    * timing; unlike VmHWM it does not follow the heap the collector
    * chose to commit, and unlike the heap after a young collection it
    * does not depend on when that collection happened to run.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    if (xs.isEmpty) return (0.0, 0.0, 0.0)
    val s = xs.sorted
    def q(p: Double) = {
      val pos = p * (s.size - 1); val i = pos.toInt
      if (i + 1 < s.size) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
    }
    (q(0.25), q(0.5), q(0.75))
  }
  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  private def time[T](f: => T): (T, Double) = {
    val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)))

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
          commit: String, plant: Option[String], generateOnly: Boolean): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(4, nproc)
    val loadBefore = loadavg()
    val stealBefore = stealS()
    delete(work)
    Files.createDirectories(work)

    def progress(msg: String): Unit = System.err.println(
      f"perfbench $workload [${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s]: $msg")
    val (in, genS) = time(Workloads.generate(workload, seed, work.resolve("input")))
    if (generateOnly) { println(in.sizes.json); return 0 }
    val (_, refS) = time(in.expected)
    progress(f"generated in $genS%.2f s, reference evaluation $refS%.2f s")

    val failures = mutable.ArrayBuffer.empty[String]
    def attempt(what: String)(f: => Vector[String]): Boolean = {
      val problems = try f catch { case NonFatal(e) => Vector(s"${e.getClass.getName}: ${e.getMessage}") }
      problems.foreach { p => failures += s"$what: $p"; System.err.println(s"perfbench FAIL $what: $p") }
      problems.isEmpty
    }

    // ---- set-up: session, store ingest, warm-up
    val (spark, sessionS) = time {
      val s = graft.GraftSession.local(cores, cores)
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val tracer = new Tracer(spark)
    if (trace) tracer.install()
    val ops = new Ops(spark, in, tracer)
    val store = work.resolve("store").toString
    val ingestS = if (!in.read) 0.0 else
      time(attempt("store ingest")(Vector.empty[String] ++ { ops.ingest(Paths.get(store)); Nil }))._2
    if (in.read) attempt("store check")(Check.store(spark, store, in.raw))
    var liveHeap = liveHeapMb()
    val warm = work.resolve("warm")
    progress(f"session $sessionS%.2f s, store ingest $ingestS%.2f s")
    // warm-up pass: the same operation, untimed, a fixed number of
    // times, so the JIT and Spark's code generation have settled before
    // the first sample; part of setup_s, so work moved into it shows
    val warmS = (1 to in.warmOps).map { i =>
      val (_, s) = time(attempt(s"warm-up $i")(Vector.empty[String] ++ { ops.run(store, warm); ops.check(warm) }))
      delete(warm)
      liveHeap = math.max(liveHeap, liveHeapMb())
      progress(f"warm-up op $i $s%.3f s")
      s
    }.sum
    val setupS = sessionS + ingestS + warmS
    val setupFailures = failures.size

    plant.foreach {
      case "missing-input" => delete(if (in.read) Paths.get(store) else in.raw.dir)
      case other => sys.error(s"unknown --plant $other")
    }

    // ---- measured loop
    val times = mutable.ArrayBuffer.empty[Double]
    val bytes = mutable.ArrayBuffer.empty[Double]
    val tracedTimes = mutable.ArrayBuffer.empty[Double]
    val layerSamples = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted = 0
    var failed = 0
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    // operations until `seconds` have passed, at least `measureOps`
    while (attempted < in.measureOps || elapsed < seconds ||
           (trace && (times.isEmpty || tracedTimes.isEmpty) && failed == 0)) {
      val traced = trace && attempted % 2 == 1
      attempted += 1
      val out = work.resolve(s"op$attempted")
      if (traced) tracer.beginOp()
      var secs = 0.0
      val ok = attempt(s"op $attempted") {
        secs = time(if (traced) ops.runTraced(store, out) else ops.run(store, out))._2
        ops.check(out)
      }
      progress(f"op $attempted${if (traced) " traced" else ""} $secs%.3f s${if (ok) "" else " FAILED"}")
      if (!ok) failed += 1
      else if (traced) {
        tracedTimes += secs
        tracer.drain()
        layerSamples += Layers.of(tracer.opSpans(tracer.currentOp), secs, cores, out, in)
      } else {
        times += secs
        bytes += Gen.dirBytes(out).toDouble
      }
      delete(out)
      liveHeap = math.max(liveHeap, liveHeapMb())
    }

    progress("loop done")
    val loadAfter = loadavg()
    val steal = stealS() - stealBefore
    val rss = peakRssMb()
    val (q1, runS, q3) = quartiles(times.toSeq)
    val rows = if (in.read) in.sizes.readings else in.sizes.rawRows
    def per(x: Double) = if (runS > 0) x / runS else 0.0
    val e2e = Vector(
      Metric("setup_s", setupS, "s"),
      Metric("run_s", runS, "s"),
      Metric("rows_per_s", per(rows.toDouble), "1/s"),
      Metric("live_heap_mb", liveHeap, "MB"),
      Metric("bytes_written", median(bytes.toSeq), "bytes"))
    val extra = Vector(
      Metric("peak_rss_mb", rss, "MB"),
      Metric("conditions_per_s", if (in.read) per(in.sizes.conditions.toDouble) else 0.0, "1/s"),
      Metric("fail_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))
    val layers = Layers.names.map { case (n, unit) =>
      val v = if (n == "trace.overhead_s")
        (if (tracedTimes.nonEmpty && times.nonEmpty) median(tracedTimes.toSeq) - runS else 0.0)
      else median(layerSamples.map(_.getOrElse(n, 0.0)).toSeq)
      Metric(n, v, unit)
    }
    val reported = if (trace) layers else e2e
    val correct = failures.isEmpty

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    def obj(ms: Seq[Metric]) = ms.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""").mkString("{", ", ", "}")
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    val warning =
      if (loadBefore > cores) q(s"loadavg before the run ($loadBefore) exceeds the $cores cores used")
      else "null"
    val env = s"""{"nproc": $nproc, "cores_used": $cores, "loadavg_before": $loadBefore, """ +
      s""""loadavg_after": $loadAfter, "load_warning": $warning, "cpu_steal_s": $steal, "jvm": ${q(System.getProperty("java.version"))}, """ +
      s""""spark": ${q(org.apache.spark.SPARK_VERSION)}, "commit": ${q(commit)}}"""
    val timing = f"""{"run_s_q1": $q1, "run_s_median": $runS, "run_s_q3": $q3, "samples": ${times.size}, """ +
      f""""traced_samples": ${tracedTimes.size}, "warmup_ops": ${in.warmOps}, "session_s": $sessionS, "store_ingest_s": $ingestS, """ +
      f""""warmup_s": $warmS, "generate_s": $genS, "reference_eval_s": $refS}"""
    val detail = s"""{"workload": ${q(workload)}, "seed": $seed, "trace": ${if (trace) 1 else 0}, """ +
      s""""inputs": ${in.sizes.json}, "timing": $timing, "env": $env, """ +
      s""""end_to_end": ${obj(e2e ++ extra)}, "per_layer": ${obj(layers)}, """ +
      s""""attempted": $attempted, "failed": $failed, "setup_failures": $setupFailures, """ +
      s""""failures": ${failures.take(50).map(q).mkString("[", ", ", "]")}}"""
    Files.writeString(work.resolve("result.json"), detail + "\n")
    if (trace) tracer.writeJsonl(work.resolve("spans.jsonl"))
    if (loadBefore > cores) System.err.println(s"perfbench WARNING: loadavg $loadBefore > $cores cores")
    spark.stop()
    progress("session stopped")
    println(detail)
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${obj(reported)}}""")
    if (correct) 0 else 1
  }
}

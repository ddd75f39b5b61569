package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark work attributed to one span. Times in seconds, sizes in bytes. */
final class SparkWork {
  var jobs, stages, tasks, queries = 0L
  var jobS, taskBusyS, taskCpuS, gcS, taskWaitS, planMs, execMs = 0.0
  var shuffleRead, shuffleWrite, spill = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; queries += o.queries
    jobS += o.jobS; taskBusyS += o.taskBusyS; taskCpuS += o.taskCpuS; gcS += o.gcS
    taskWaitS += o.taskWaitS; planMs += o.planMs; execMs += o.execMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
  }
  def json: String =
    f"""{"jobs": $jobs, "stages": $stages, "tasks": $tasks, "queries": $queries, "job_s": $jobS%.6f, """ +
      f""""task_busy_s": $taskBusyS%.6f, "task_cpu_s": $taskCpuS%.6f, "gc_s": $gcS%.6f, """ +
      f""""task_wait_s": $taskWaitS%.6f, "plan_ms": $planMs%.3f, "exec_ms": $execMs%.3f, """ +
      s""""shuffle_read_bytes": $shuffleRead, "shuffle_write_bytes": $shuffleWrite, "spill_bytes": $spill}"""
}

/** In-memory spans around the benchmark's calls into the program's
  * modules, plus one `SparkListener` and one `QueryExecutionListener`
  * that charge Spark work to the span that caused it. Jobs, stages and
  * tasks find their span through a local property set on the calling
  * thread; a query's planning and execution time go to the innermost
  * span open when its planning ended. Nothing here runs a Spark action.
  */
final class Tracer(spark: SparkSession) {

  final class Span(val id: Int, val parent: Int, val op: Int, val name: String) {
    val t0: Long = System.nanoTime()
    val wall0: Long = System.currentTimeMillis()
    var t1: Long = -1L
    var wall1: Long = Long.MaxValue
    val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    val spark = new SparkWork
    def seconds: Double = (t1 - t0) / 1e9
  }

  private val Key = "perfbench.span"
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var op = 0

  def beginOp(): Unit = op += 1
  def currentOp: Int = op

  def span[T](name: String)(f: => T): T = {
    val s = Tracer.this.synchronized {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), op, name)
      spans += s; s
    }
    stack ::= s
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    try f
    finally {
      s.t1 = System.nanoTime(); s.wall1 = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Add to a count of the innermost open span. */
  def count(name: String, v: Double): Unit =
    stack.headOption.foreach(s => s.counts(name) = s.counts.getOrElse(name, 0.0) + v)

  // ---- Spark hooks (listener-bus thread) ----

  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobSpan = mutable.Map.empty[Int, (Int, Long)]

  private def work(spanId: Int): Option[SparkWork] =
    if (spanId >= 0 && spanId < spans.size) Some(spans(spanId).spark) else None
  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).fold(-1)(_.toInt)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = spanOf(e.properties)
      jobSpan(e.jobId) = (id, e.time)
      e.stageInfos.foreach(si => stageSpan(si.stageId) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, t0) =>
        work(id).foreach { w => w.jobs += 1; w.jobS += (e.time - t0) / 1e3 }
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val id = spanOf(e.properties)
      if (id >= 0) stageSpan(e.stageInfo.stageId) = id
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageSpan.get(e.stageInfo.stageId).flatMap(work).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (w <- stageSpan.get(e.stageId).flatMap(work); m <- Option(e.taskMetrics)) {
        w.tasks += 1
        w.taskBusyS += m.executorRunTime / 1e3
        w.taskCpuS += m.executorCpuTime / 1e9
        w.gcS += m.jvmGCTime / 1e3
        w.taskWaitS += stageSubmitted.get(e.stageId)
          .fold(0.0)(t => math.max(0L, e.taskInfo.launchTime - t) / 1e3)
        w.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.memoryBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def charge(qe: QueryExecution, durationNs: Long): Unit = Tracer.this.synchronized {
      val phases = qe.tracker.phases
      val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble
      val at = phases.get("planning").orElse(phases.values.headOption)
        .fold(System.currentTimeMillis())(_.endTimeMs)
      val owner = spans.filter(s => s.wall0 <= at && at <= s.wall1).lastOption
      owner.foreach { s =>
        s.spark.queries += 1; s.spark.planMs += planMs; s.spark.execMs += durationNs / 1e6
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      charge(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      charge(qe, 0L)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until Spark delivered every event of the work so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def opSpans(o: Int): Seq[Span] = Tracer.this.synchronized(spans.filter(_.op == o).toSeq)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = Tracer.this.synchronized(spans.toVector).map { s =>
      val counts = s.counts.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${q(s.name)}, """ +
        f""""start_ms": ${s.wall0}, "seconds": ${s.seconds}%.6f, "counts": $counts, "spark": ${s.spark.json}}"""
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

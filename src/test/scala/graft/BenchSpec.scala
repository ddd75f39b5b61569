package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench records a thrown gate as a failure with its message, never
  * as a time, and still times every other gate.
  */
class BenchSpec extends AnyFunSuite with SparkTest {

  test("a throwing gate is listed as failed with its message; the good gate is timed") {
    val (times, failed) = Bench.timeAll(Seq(
      "q_bad" -> (() => throw new IllegalStateException("planted failure")),
      "q_good" -> (() => { spark.range(3).count(); () })), iters = 2)
    assert(times.map(_._1) == Vector("q_good"))
    assert(times.head._2 > 0.0)
    assert(failed == Vector("q_bad" -> "planted failure"))
  }
}

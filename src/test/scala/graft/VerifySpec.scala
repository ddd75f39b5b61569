package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Verify fails loudly: a gate that throws is listed as failed, and
  * every gate that succeeds still gets its dump.
  */
class VerifySpec extends AnyFunSuite with SparkTest {

  test("a throwing gate is listed as failed; the good gate still dumps") {
    val out = java.nio.file.Files.createTempDirectory("verify_dump").toString
    val gates: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_bad" -> ((_, _) => throw new IllegalStateException("planted failure")),
      "q_good" -> ((s, _) => s.range(3).toDF("id")))
    val failed = Verify.dumpAll(spark, "unused", out, gates)
    assert(failed == Vector("q_bad"))
    assert(spark.read.parquet(s"$out/q_good").count() == 3L)
    assert(!new java.io.File(s"$out/q_bad").exists())
  }
}

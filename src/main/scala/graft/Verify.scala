package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter for fast local
    // iteration on a few queries (the driver always dumps all)
    val keep: String => Boolean =
      if (args.length > 2) args(2).split(",").toSet else (_ => true)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    val failed = dumpAll(spark, sfDir, outDir,
      SparkEntry.queries.filter(kv => keep(kv._1)))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL or in an
    * exception message would otherwise make a reader's json.load fail
    * and silently zero the record.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Dump each query's result to `<outDir>/<name>` as one parquet file.
    * A query that throws is reported and skipped, so every other dump
    * still lands.
    *
    * @return the names of the queries that threw, in iteration order
    */
  def dumpAll(spark: SparkSession, sfDir: String, outDir: String,
              queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Vector[String] =
    queries.iterator.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.toVector
}

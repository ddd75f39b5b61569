package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Output checks. Each returns the mismatches it found; an operation
  * with any mismatch counts as failed.
  */
object Check {

  private val csvSplit = ",(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)"

  /** Summary CSV against [[RefEval]], the error tree against the planted
    * rows, and the report files against the conditions that have data.
    */
  def report(in: Inputs, out: Path, name: String, renderers: Boolean): Vector[String] = {
    val bad = Vector.newBuilder[String]
    val summaryFile = out.resolve(s"${name}_summary.csv")
    if (!Files.exists(summaryFile)) return Vector(s"missing $summaryFile")
    val rows = Files.readAllLines(summaryFile).asScala.drop(1).filter(_.nonEmpty)
      .map(_.split(csvSplit, -1)).toVector
    val got = rows.map(f => (f(0), s"${f(1)}_${f(2)}") -> f).toMap
    if (got.size != rows.size) bad += "duplicate summary rows"
    val expected = in.expected
    for (k <- expected.keySet -- got.keySet) bad += s"no summary row for $k"
    for (k <- got.keySet -- expected.keySet) bad += s"unexpected summary row for $k"
    for ((k, e) <- expected; f <- got.get(k)) {
      val actual = Seq(6, 7, 8, 9, 13).map(i => f(i).trim)
      val want = Seq(e.validS, e.notvalidS, e.nodataS, e.tottimeS, e.nRows).map(_.toString)
      if (actual != want)
        bad += s"$k: valid/notvalid/nodata/tottime/n_rows ${actual.mkString("/")} != ${want.mkString("/")}"
    }

    val errFile = out.resolve(s"${name}_ERRORS.json")
    val planted = in.sheets.flatMap(s => s.planted.map(p => (s.title, p.node) -> p.expect)).toMap
    if (planted.isEmpty) {
      if (Files.exists(errFile)) bad += s"unexpected error tree: ${Files.readString(errFile).take(300)}"
    } else if (!Files.exists(errFile)) bad += "missing error tree"
    else {
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(errFile.toFile)
      def msgs(n: com.fasterxml.jackson.databind.JsonNode) = n.get("errors").elements().asScala.map(_.asText).toVector
      if (msgs(tree).nonEmpty) bad += s"analysis-level errors: ${msgs(tree)}"
      val nodes = tree.get("children").fields().asScala.toVector.flatMap { c =>
        if (msgs(c.getValue).nonEmpty) bad += s"collection ${c.getKey} errors: ${msgs(c.getValue)}"
        c.getValue.get("children").fields().asScala.toVector
          .map(n => (c.getKey, n.getKey) -> msgs(n.getValue)).filter(_._2.nonEmpty)
      }.toMap
      for (k <- planted.keySet -- nodes.keySet) bad += s"planted error not reported: $k"
      for (k <- nodes.keySet -- planted.keySet) bad += s"unplanted error $k: ${nodes(k)}"
      for ((k, want) <- planted; m <- nodes.get(k) if !m.exists(_.contains(want)))
        bad += s"$k: expected an error containing '$want', got $m"
    }

    val condDirs = Option(out.resolve("conditions").toFile.listFiles()).fold(0)(_.count(_.isDirectory))
    if (condDirs != expected.size) bad += s"$condDirs condition outputs for ${expected.size} conditions"
    if (renderers) {
      for (ext <- Seq("xlsx", "pptx") if !Files.isRegularFile(out.resolve(s"$name.$ext")))
        bad += s"missing $name.$ext"
      val withData = expected.values.count(_.nRows > 0)
      for (ext <- Seq("svg", "png")) {
        val n = Option(out.resolve("plots").toFile.listFiles()).fold(0)(_.count(_.getName.endsWith(ext)))
        if (n != withData) bad += s"$n $ext plots for $withData conditions with data"
      }
    }
    bad.result()
  }

  /** Store row count, distinct natural keys and value sum against the
    * readings the generator wrote (planted junk must all be dropped).
    */
  def store(spark: SparkSession, path: String, raw: Raw): Vector[String] = {
    val r = spark.read.parquet(path).agg(count(lit(1)),
      countDistinct(col("tfrom"), col("statid"), col("seid")),
      coalesce(sum((col("seval") * 2).cast("long")), lit(0L))).head()
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = (raw.storeRows, raw.storeRows, raw.storeSevalX2)
    if (got == want) Vector.empty
    else Vector(s"store rows/distinct keys/2*sum(seval) $got != $want")
  }
}

package graft.operators

import graft.SparkTest
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused per-row logit scorer must be BIT-equal to the relational
  * feature pipeline it replaced (tokenize → explode → md5 bucket →
  * groupBy → xnorm → DECIMAL dot): this spec rebuilds that pipeline
  * from the same Catalyst expressions and compares per-doc sigma/pred
  * on the corpus AND on adversarial strings (null, empty, whitespace
  * runs, tabs/newlines the space-only `trim` does NOT strip — which
  * make `split` emit leading empty tokens — unicode case folding,
  * single tokens, duplicate ids are excluded per the documented
  * unique-id precondition).
  */
class FusedLogitScorerSpec extends AnyFunSuite with SparkTest {

  private val buckets = 64

  /** The former relational scorer, reconstructed expression for
    * expression (the hashedGramFeatures + groupBy + zDot shape).
    */
  private def relationalReference(docs: DataFrame,
                                  w: Array[Double]): DataFrame = {
    val toks = TextOps.tokens(lower(col("text")))
    val base = docs.select(col("doc_id"), toks.as("__t"))
    val n = size(col("__t"))
    val grams = concat(col("__t"),
      when(n >= 2, zip_with(
        slice(col("__t"), lit(1), n - 1),
        slice(col("__t"), lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>")))
    val bucket = conv(substring(md5(col("gram")), 1, 8), 16, 10)
      .cast("long") % buckets
    val perBucket = base
      .select(col("doc_id"), size(col("__t")).as("__n"),
        explode(grams).as("gram"))
      .groupBy(col("doc_id"), col("__n"), bucket.as("bucket"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col("doc_id"), col("bucket"),
        (col("__cnt").cast("double") /
          (col("__n") + greatest(col("__n") - 1, lit(0))).cast("double"))
          .as("xnorm"))
    val f = perBucket.unionByName(docs.select(col("doc_id"),
      lit(buckets.toLong).as("bucket"), lit(1.0).as("xnorm")))
    val wDf = spark.range(buckets + 1L)
      .select(col("id").as("bucket"),
        element_at(typedLit(w.toSeq), (col("id") + 1).cast("int")).as("__w"))
    val sigLit = typedLit(LinearModel.sigmoidTable.toSeq)
    f.join(broadcast(wDf), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum((col("xnorm") * col("__w")).cast("decimal(38,12)"))
        .cast("double").as("__z"))
      .withColumn("__idx",
        least(greatest(floor((col("__z") + 8.0) * 32.0).cast("int"), lit(0)),
          lit(511)))
      .withColumn("__sig", element_at(sigLit, col("__idx") + 1))
      .select(col("doc_id"), col("__sig").as("sigma"),
        (col("__sig") >= 0.5).as("pred"))
  }

  // deterministic non-trivial weights exercising every bucket
  private val w: Array[Double] = Array.tabulate(buckets + 1)(i =>
    ((i * 2654435761L % 1000L).toDouble - 500.0) / 37.0)

  private def adversarial: DataFrame = {
    import spark.implicits._
    Seq[(Long, String)](
      (1L, null),
      (2L, ""),
      (3L, "    "),
      (4L, "single"),
      (5L, "two tokens"),
      (6L, "\ta b\nc "),          // leading tab survives the space trim
      (7L, "a  b c d\te"),   // double space, NBSP, tab
      (8L, "Brown FOX jumps Über die İstanbul straße"),
      (9L, "汉字 テスト 🦜 emoji mix"),
      (10L, "dup dup dup dup dup"),
      (11L, (1 to 200).map(i => s"tok$i").mkString(" ")),
      (12L, " leading and trailing "),
      (13L, "punct, mid. sentence! with? marks;")
    ).toDF("doc_id", "text")
  }

  private def assertSame(docs: DataFrame): Unit = {
    val fused = LinearModel.predictLogitWith(docs, w, buckets = buckets)
      .orderBy("doc_id").collect().map(_.toSeq)
    val ref = relationalReference(docs, w)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(fused.length == ref.length)
    fused.zip(ref).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }

  test("fused scorer equals the relational pipeline on adversarial strings") {
    assertSame(adversarial)
  }

  test("fused scorer equals the relational pipeline on the corpus") {
    assertSame(spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text"))
  }

  test("predictLogitWithRel (driver-map artifact) matches the dense scorer") {
    import spark.implicits._
    val docs = adversarial
    val wRel = (0 to buckets).map(b => (b.toLong, w(b))).toDF("bucket", "w")
    val viaRel = LinearModel.predictLogitWithRel(docs, wRel, buckets = buckets)
      .orderBy("doc_id").collect().map(_.toSeq)
    val dense = LinearModel.predictLogitWith(docs, w, buckets = buckets)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(viaRel.toSeq == dense.toSeq)
  }

  test("predictLogitWithRel rejects a malformed weight relation") {
    import spark.implicits._
    val docs = adversarial
    def fails(rows: Seq[(Long, Double)], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](LinearModel
        .predictLogitWithRel(docs, rows.toDF("bucket", "w"), buckets = buckets))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    val full = (0 to buckets).map(b => (b.toLong, w(b)))
    fails(full :+ ((buckets + 1).toLong -> 1.0), "more than 65 rows")
    fails(Seq(0L -> 1.0, (buckets + 1).toLong -> 1.0),
      s"bucket ${buckets + 1} is outside [0, $buckets]")
    fails(Seq(-1L -> 1.0), s"bucket -1 is outside [0, $buckets]")
    fails(Seq(3L -> 1.0, 3L -> 2.0), "repeats bucket 3")
    // an absent bucket scores with weight 0.0
    val sparse = full.filter(_._1 % 2 == 0)
    val dense = Array.tabulate(buckets + 1)(b => if (b % 2 == 0) w(b) else 0.0)
    assert(LinearModel.predictLogitWithRel(docs, sparse.toDF("bucket", "w"),
        buckets = buckets).orderBy("doc_id").collect().toSeq ==
      LinearModel.predictLogitWith(docs, dense, buckets = buckets)
        .orderBy("doc_id").collect().toSeq)
  }
}

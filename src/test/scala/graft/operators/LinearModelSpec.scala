package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GD fit must actually LEARN, not just replay deterministically:
  * monotone mse descent, and a final mse that beats the best constant
  * predictor (else the features carry no signal / lr diverged).
  */
class LinearModelSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("gd descends monotonically and beats the constant predictor") {
    val t = LinearModel.fitQualityGd(docs).orderBy("iter")
      .collect().map(r => (r.getInt(0), r.getDouble(5)))
    assert(t.map(_._1).toSeq == Seq(1, 2, 3))
    val mses = t.map(_._2)
    assert(mses.sliding(2).forall(p => p(1) < p(0)),
      s"mse not descending: ${mses.mkString(", ")}")
    // variance of y = mse of the best constant model; iteration 1's mse
    // is exactly E[y^2] (w=0), so by iter 3 the fit must be below Var(y)
    val y = docs.select(TextOps.qualityScore(col("text")).as("y"))
      .collect().map(_.getDouble(0))
    val mean = y.sum / y.length
    val varY = y.map(v => (v - mean) * (v - mean)).sum / y.length
    assert(mses.last < varY,
      s"final mse ${mses.last} not below constant-model variance $varY")
  }

  test("predict applies the final trajectory weights and tracks the target") {
    val traj = LinearModel.fitQualityGd(docs).orderBy("iter").collect()
    val w = LinearModel.fitWeights(docs)
    val last = traj.last
    assert(w.toSeq == Seq(last.getDouble(1), last.getDouble(2),
      last.getDouble(3), last.getDouble(4)))
    val preds = LinearModel.predictQuality(docs, w).collect()
    assert(preds.length == docs.count())
    // mean |error| must beat the trivial predict-the-mean baseline
    val y = docs.select(TextOps.qualityScore(col("text")).as("y"))
      .collect().map(_.getDouble(0))
    val mean = y.sum / y.length
    val maeConst = y.map(v => math.abs(v - mean)).sum / y.length
    val mae = preds.map(_.getDouble(2)).sum / preds.length
    assert(mae < maeConst, s"model mae $mae not below constant-model mae $maeConst")
  }

  test("trajectory is deterministic across runs") {
    val a = LinearModel.fitQualityGd(docs).collect().map(_.toSeq)
    val b = LinearModel.fitQualityGd(docs).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  private def qualityLabel = TextOps.qualityScore(col("text")) >= 0.5

  test("logit: ln-loss descends monotonically from ln 2 and halves") {
    val t = LinearModel.fitLogitGd(docs, label = qualityLabel,
        iters = 12, lr = 2.0)
      .select("iter", "loss").distinct().orderBy("iter")
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(t.map(_._1).toSeq == (1 to 12))
    val losses = t.map(_._2)
    // w=0 gives sigma exactly 0.5 everywhere -> first loss is ln 2
    assert(math.abs(losses.head - math.log(2.0)) < 1e-3)
    assert(losses.sliding(2).forall(p => p(1) < p(0)),
      s"ln-loss not descending: ${losses.mkString(", ")}")
    assert(losses.last < 0.35,
      s"final loss ${losses.last} did not halve the ln 2 start")
  }

  test("the weight-relation artifact scores like fitPredictLogit") {
    // the stored (bucket, w) model applied back must reproduce the fused
    // train+predict bit for bit, at the default width and at
    // q_logit_big's
    for (b <- Seq(64, 8192)) {
      val fitted = LinearModel.fitPredictLogit(docs, label = qualityLabel,
          buckets = b, iters = 3, lr = 0.5)
        .orderBy("doc_id").collect().map(_.toSeq)
      val wRel = LinearModel.logitWeightsRel(docs, label = qualityLabel,
        buckets = b, iters = 3, lr = 0.5)
      assert(wRel.count() == b + 1L)
      val applied = LinearModel.predictLogitWithRel(docs, wRel, buckets = b)
        .orderBy("doc_id").collect().map(_.toSeq)
      assert(applied.toSeq == fitted.toSeq, s"buckets=$b")
    }
  }

  test("logit training fails loudly on a repeated document id") {
    import spark.implicits._
    val dup = Seq((1L, "alpha beta", true), (2L, "gamma", false),
      (1L, "alpha beta", true)).toDF("doc_id", "text", "y")
    val e = intercept[Exception](
      LinearModel.fitPredictLogit(dup, label = col("y")).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("id column 'doc_id' is not unique")),
      msgs.mkString(" | "))
  }

  test("logit learns a planted n-gram signal to high accuracy") {
    import spark.implicits._
    // shared filler in every doc (so the bias alone can't win), plus
    // class-specific tokens the hashed buckets must pick up
    val rows = (0L until 200L).map { i =>
      val pos = i % 5 < 2 // 40% positives
      val filler = "data batch scan"
      val marker = if (pos) "riskword badflag riskword badflag riskword"
        else "safeword okflag safeword okflag safeword"
      (i, s"$filler $marker", pos)
    }
    val df = rows.toDF("doc_id", "text", "y")
    val preds = LinearModel.fitPredictLogit(df, label = col("y"),
      iters = 12, lr = 2.0).collect()
    assert(preds.length == 200)
    // every sigma is a table entry; pred is exactly sigma >= 0.5
    val tbl = LinearModel.sigmoidTable.toSet
    preds.foreach { r =>
      assert(tbl.contains(r.getDouble(1)))
      assert(r.getBoolean(2) == (r.getDouble(1) >= 0.5))
    }
    val lab = rows.map(r => r._1 -> r._3).toMap
    val acc = preds.count(r => r.getBoolean(2) == lab(r.getLong(0))).toDouble /
      preds.length
    assert(acc >= 0.95, s"accuracy $acc on a planted separable signal")
  }
}

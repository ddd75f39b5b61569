package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Distributed full-batch training of a linear model over corpus-scale
  * features — the "fit a quality regressor in T scans of 100 TB" shape:
  * each gradient-descent iteration is ONE aggregation job (a handful of
  * DECIMAL-exact sums), the model state is four doubles that broadcast
  * back into the next scan as literals, and nothing else ever leaves
  * the executors. The same layout trains any linear/logistic head whose
  * gradient is a per-row term summed over the corpus (cf. the classic
  * MLlib linear-model design: per-partition gradient partials,
  * tree-combined).
  *
  * Determinism discipline (what makes the gate a FULL value oracle):
  * per-row terms are IEEE double expressions with pinned left-assoc
  * structure, accumulated in DECIMAL(38,12) (exact, order-independent)
  * and cast back — both engines produce bit-identical gradients, hence
  * bit-identical weight trajectories. No exp/log in the features or the
  * loss (plain least squares), so there is no transcendental-ulp risk.
  */
object LinearModel {

  /** The cheap quality features (shared fragments with
    * [[TextOps.qualityScore]], so the oracle reuses the already-proven
    * SQL): length saturation, punctuation ratio, raw stopword ratio.
    */
  private def feats(text: Column): (Column, Column, Column) = {
    val nTok = size(TextOps.tokens(text)).cast("double")
    val x1 = least(nTok / lit(50.0), lit(1.0))
    val x2 = TextOps.punctCount(text).cast("double") /
      greatest(length(text).cast("double"), lit(1.0))
    val x3 = TextOps.stopwordHits(TextOps.tokens(text)).cast("double") /
      greatest(nTok, lit(1.0))
    (x1, x2, x3)
  }

  /** Fit `y ≈ w0 + w1·lenScore + w2·punctRatio + w3·stopRatio` against
    * the heuristic quality target by `iters` rounds of full-batch
    * gradient descent from w=0. Returns one row per iteration:
    * (iter, w0..w3 AFTER the update, mse BEFORE it — the trajectory a
    * training log would show).
    */
  def fitQualityGd(docs: DataFrame, textCol: String = "text",
                   iters: Int = 3, lr: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trajectory(docs, textCol, iters, lr)
      .toDF("iter", "w0", "w1", "w2", "w3", "mse")
  }

  /** The trained weights after `iters` rounds — the broadcastable model
    * artifact [[predictQuality]] applies at scan time.
    */
  def fitWeights(docs: DataFrame, textCol: String = "text",
                 iters: Int = 3, lr: Double = 0.5): Array[Double] = {
    val t = trajectory(docs, textCol, iters, lr).last
    Array(t._2, t._3, t._4, t._5)
  }

  private def trajectory(docs: DataFrame, textCol: String, iters: Int,
      lr: Double): Seq[(Int, Double, Double, Double, Double, Double)] = {
    val (x1, x2, x3) = feats(col(textCol))
    // one materialization; every iteration re-reads features, not text
    val f = docs.select(x1.as("x1"), x2.as("x2"), x3.as("x3"),
      TextOps.qualityScore(col(textCol)).as("y")).localCheckpoint(false)
    trajectoryOver(f, iters, lr)
  }

  /** GD rounds over an ALREADY-extracted feature frame (x1,x2,x3,y
    * columns; extra columns like an id ride along unread) — lets
    * train-then-apply callers pay the regex feature scan once.
    */
  private def trajectoryOver(f: DataFrame, iters: Int,
      lr: Double): Seq[(Int, Double, Double, Double, Double, Double)] = {
    def decSum(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
    var w = Array(0.0, 0.0, 0.0, 0.0)
    (1 to iters).map { it =>
      // pinned left-assoc: (((w0 + w1*x1) + w2*x2) + w3*x3) - y
      val resid = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
        lit(w(3)) * col("x3") - col("y")
      val r = f.agg(decSum(resid).as("g0"), decSum(resid * col("x1")).as("g1"),
        decSum(resid * col("x2")).as("g2"), decSum(resid * col("x3")).as("g3"),
        decSum(resid * resid).as("ms"), count(lit(1)).as("n")).collect().head
      val n = r.getLong(5)
      val mse = r.getDouble(4) / n
      w = Array.tabulate(4)(j => w(j) - lr * (r.getDouble(j) / n))
      (it, w(0), w(1), w(2), w(3), mse)
    }
  }

  /** Apply trained weights at scan speed: per-doc prediction with the
    * same pinned-structure linear form, plus the absolute error against
    * the heuristic target — the monitoring relation a curation run
    * would emit. Weights ride in as literals (a broadcast model in the
    * codegen sense: zero join, zero state).
    */
  def predictQuality(docs: DataFrame, w: Array[Double],
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val (x1, x2, x3) = feats(col(textCol))
    val pred = lit(w(0)) + lit(w(1)) * x1 + lit(w(2)) * x2 + lit(w(3)) * x3
    docs.select(col(idCol),
      pred.as("pred"),
      abs(pred - TextOps.qualityScore(col(textCol))).as("abs_err"))
  }

  // ---- fastText-class logistic classifier over hashed n-grams ------

  /** Sigmoid lookup table, the public fastText trick (Joulin et al.
    * 2016 "Bag of Tricks" reference implementation precomputes sigmoid
    * over 512 cells of [−8, 8]): σ̃(z) = table[clamp(⌊(z+8)·32⌋, 0,
    * 511)]. Entries round to 6 decimals ONCE on the driver and embed
    * as literals in BOTH the Spark plan and the generated oracle SQL —
    * so the only transcendental in the whole trajectory is evaluated
    * nowhere at query time, and cross-engine exp/ln ulp divergence is
    * structurally impossible. Clamping to the table (never exactly
    * 0/1) keeps the ln-loss tables finite.
    */
  private[graft] val sigmoidTable: Array[Double] = Array.tabulate(512) { k =>
    val x = -8.0 + k.toDouble / 32.0
    java.math.BigDecimal.valueOf(1.0 / (1.0 + math.exp(-x)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
  private[graft] val lnSigTable: Array[Double] = sigmoidTable.map(s =>
    java.math.BigDecimal.valueOf(math.log(s))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  private[graft] val ln1mSigTable: Array[Double] = sigmoidTable.map(s =>
    java.math.BigDecimal.valueOf(math.log1p(-s))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())

  /** Hashed-n-gram feature relation: (doc_id, bucket, xnorm) with
    * lowercased unigrams + adjacent bigrams md5-hashed into `buckets`
    * cells, counts mean-normalized per doc (xnorm = cnt/Σcnt — the
    * fastText averaging, which also keeps full-batch GD
    * well-conditioned: every doc's feature mass is 1 regardless of
    * length, so the stable-lr bound doesn't depend on corpus length
    * statistics), plus one BIAS row per doc at bucket index `buckets`
    * with xnorm = 1. One tokenize+explode scan; the output is (docs ×
    * distinct-buckets)-sized, never gram-sized, because counts
    * collapse per (doc, bucket) before anything joins.
    *
    * PRECONDITION: `idCol` is unique in `docs` (every caller trains or
    * scores one row per document; the oracles assume the same). Under
    * duplicated ids the per-row token count is not the per-ID gram
    * total, so xnorm would be denominated per row, not per id — the
    * same class of garbage the old window form produced (doubled bias
    * rows), just a different shape of it. [[featuresByDoc]] enforces
    * it: an id with more than one bias row fails the feature build.
    */
  private def hashedGramFeatures(docs: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    val toks = TextOps.tokens(lower(col(textCol)))
    val base = docs.select(col(idCol), toks.as("__t"))
    val n = size(col("__t"))
    // unigrams ++ adjacent bigrams as ONE array per doc: the previous
    // shape scanned/tokenized the corpus twice (a unigram branch and a
    // bigram branch unioned back together) and then paid a WINDOW
    // shuffle just to recover the per-doc gram total — but that total
    // is simply the gram-array length, known before the explode. Same
    // gram multiset per doc, same md5 buckets, same cnt/len division →
    // bit-identical xnorm; one tokenize scan, one exchange (the
    // groupBy), zero window.
    val grams = concat(col("__t"),
      when(n >= 2, zip_with(
        slice(col("__t"), lit(1), n - 1),
        slice(col("__t"), lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
        .otherwise(array().cast("array<string>")))
    val bucket = conv(substring(md5(col("gram")), 1, 8), 16, 10)
      .cast("long") % buckets
    val perBucket = base.select(col(idCol), col("__t"))
      .select(col(idCol), size(col("__t")).as("__n"),
        explode(grams).as("gram"))
      .groupBy(col(idCol), col("__n"), bucket.as("bucket"))
      .agg(count(lit(1)).as("__cnt"))
      // per-doc gram total from the token count alone: n unigrams plus
      // max(n-1, 0) bigrams — exactly the window sum this replaces
      .select(col(idCol), col("bucket"),
        (col("__cnt").cast("double") /
          (col("__n") + greatest(col("__n") - 1, lit(0))).cast("double"))
          .as("xnorm"))
    perBucket.unionByName(docs.select(col(idCol),
      lit(buckets.toLong).as("bucket"), lit(1.0).as("xnorm")))
  }

  /** Full-batch logistic GD over hashed n-gram features — the
    * fastText-class quality/language gate (linear head over a hashed
    * bag of 1/2-grams), in the same train-in-T-scans shape as
    * [[fitQualityGd]]: each iteration is one action over the
    * checkpointed feature relation, the (buckets+1)-double model
    * broadcasts back into the next scan, and per-term products
    * accumulate in DECIMAL(38,12) so the weight trajectory replays
    * bit-exactly in the oracle's unrolled CTEs.
    *
    * @param label boolean column on `docs` (the training target)
    * @return (iter, bucket, w, loss): weights AFTER each update,
    *         mean ln-loss BEFORE it, one row per (iteration, bucket)
    */
  def fitLogitGd(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", label: Column,
                 buckets: Int = 64, iters: Int = 3,
                 lr: Double = 0.5): DataFrame = {
    val (traj, _) = logitTrajectory(docs, idCol, textCol, label,
      buckets, iters, lr, withLoss = true)
    traj.map { case (it, w, loss) =>
      weightsFrame(docs.sparkSession, w).select(lit(it).as("iter"),
        col("bucket"), col("w"), lit(loss).as("loss"))
    }.reduce(_.unionByName(_))
  }

  /** Train then score every doc with the fitted logistic model at scan
    * speed: (doc_id, sigma, pred) with σ̃ from the shared table and
    * pred = σ̃ ≥ 0.5. The feature relation is built once and reused by
    * the GD scans and the apply.
    */
  def fitPredictLogit(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", label: Column,
                      buckets: Int = 64, iters: Int = 3,
                      lr: Double = 0.5): DataFrame = {
    val (traj, fd) = logitTrajectory(docs, idCol, textCol, label,
      buckets, iters, lr, withLoss = false)
    sigmaPred(fd.select(col(idCol),
      zDotUdf(traj.last._2)(col("__f")).as("__z")), idCol)
  }

  /** Train, then emit the RAW logit score z per doc (the margin —
    * monotone in σ̃ but at full resolution, where σ̃ is quantized to
    * the 512 table cells). The threshold-picking surface: a PR curve
    * over z has one point per distinct margin, not per table cell.
    */
  def fitScoreLogit(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", label: Column,
                    buckets: Int = 64, iters: Int = 3,
                    lr: Double = 0.5): DataFrame = {
    val (traj, fd) = logitTrajectory(docs, idCol, textCol, label,
      buckets, iters, lr, withLoss = false)
    fd.select(col(idCol), zDotUdf(traj.last._2)(col("__f")).as("z"))
  }

  /** The trained model as a (bucket, w) RELATION — the storable
    * artifact at realistic (fastText-default 2M) bucket counts. Store
    * it, join it, [[predictLogitWithRel]] it.
    */
  def logitWeightsRel(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", label: Column,
                      buckets: Int = 64, iters: Int = 3,
                      lr: Double = 0.5): DataFrame = {
    val (traj, _) = logitTrajectory(docs, idCol, textCol, label,
      buckets, iters, lr, withLoss = false)
    weightsFrame(docs.sparkSession, traj.last._2)
  }

  /** One (bucket, w) row per model cell, read from the broadcast model
    * by a lookup over `range` — the model-sized projection happens at
    * OUTPUT time, and no model-sized literal or local relation enters a
    * plan. One partition: a lookup per cell is cheap even at 2M cells,
    * and at 64 buckets more partitions only add tasks.
    */
  private def weightsFrame(spark: SparkSession,
      w: Broadcast[Array[Double]]): DataFrame = {
    val wOf = udf((b: Long) => w.value(b.toInt)).asNonNullable()
    spark.range(0L, w.value.length.toLong, 1L, 1)
      .select(col("id").as("bucket"), wOf(col("id")).as("w"))
  }

  /** Score `docs` with an already-trained (bucket, w) weight relation:
    * the model COLLECTS to a driver array once (a 2M × 8-byte model is
    * ~16 MB — model-sized, never data-sized; the MLlib linear-model
    * layout) and scores through [[predictLogitWith]] — zero joins, zero
    * exchanges per scoring call. A bucket absent from `wRel` scores
    * with weight 0.0.
    *
    * `wRel` must hold at most one row per bucket in [0, buckets] (the
    * [[logitWeightsRel]] artifact contract): the collect reads at most
    * buckets + 2 rows, and a larger relation, a bucket outside the
    * range or a repeated bucket fails before any scoring.
    */
  def predictLogitWithRel(docs: DataFrame, wRel: DataFrame,
                          idCol: String = "doc_id",
                          textCol: String = "text",
                          buckets: Int = 64): DataFrame = {
    val rows = wRel.select(col("bucket").cast("long"), col("w").cast("double"))
      .limit(buckets + 2).collect()
    require(rows.length <= buckets + 1, s"weight relation has more than " +
      s"${buckets + 1} rows: a $buckets-bucket model has one row per " +
      s"bucket 0..$buckets")
    val w = new Array[Double](buckets + 1)
    val seen = new java.util.BitSet(buckets + 1)
    rows.foreach { r =>
      require(!r.isNullAt(0) && r.getLong(0) >= 0 && r.getLong(0) <= buckets,
        s"weight relation bucket ${r.get(0)} is outside [0, $buckets]")
      val b = r.getLong(0).toInt
      require(!seen.get(b), s"weight relation repeats bucket $b")
      seen.set(b)
      w(b) = r.getDouble(1)
    }
    predictLogitWith(docs, w, idCol, textCol, buckets)
  }

  /** (idCol, sigma, pred) from a (idCol, __z) frame — the shared
    * σ̃-table lookup + decision tail of every scoring path.
    */
  private def sigmaPred(zf: DataFrame, idCol: String): DataFrame =
    withSigma(zf).select(col(idCol), col("__sig").as("sigma"),
      (col("__sig") >= 0.5).as("pred"))

  /** The trained (buckets+1)-double logistic model — the broadcastable
    * artifact [[predictLogitWith]] applies, e.g. to a STREAM of
    * arriving documents (train on the standing corpus, score forever).
    */
  def logitWeights(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", label: Column,
                   buckets: Int = 64, iters: Int = 3,
                   lr: Double = 0.5): Array[Double] =
    logitTrajectory(docs, idCol, textCol, label, buckets, iters, lr,
      withLoss = false)._1.last._2.value

  /** Score `docs` with an already-trained logistic model: the weights
    * broadcast once into the fused per-row scorer, the sigmoid is the
    * shared table — a stateless SHUFFLE-FREE per-doc projection (no
    * explode, no groupBy: the former feature build paid two exchanges
    * per call), which is what makes it the cheap per-micro-batch
    * scoring shape of q_stream_logit.
    */
  def predictLogitWith(docs: DataFrame, w: Array[Double],
                       idCol: String = "doc_id",
                       textCol: String = "text",
                       buckets: Int = 64): DataFrame = {
    require(w.length == buckets + 1)
    val bc = docs.sparkSession.sparkContext.broadcast(w)
    sigmaPred(docs.select(col(idCol),
      fusedZUdf(bc, buckets)(col(textCol)).as("__z")), idCol)
  }

  /** Per-doc feature ARRAY relation: (idCol, __y, __f array<struct<
    * bucket, xnorm>>) — [[hashedGramFeatures]] grouped by document.
    * One shuffle at build time; every GD iteration and the apply scan
    * then run WITHOUT re-shuffling the feature relation (the z
    * dot-product is per-row over the array, and only the bucket-sized
    * gradient aggregate exchanges). Safe because every per-doc and
    * per-bucket reduction in this path is a DECIMAL(38,12) sum —
    * exact, hence order-free: grouping the identical terms differently
    * cannot change a bit of the trajectory.
    *
    * The same aggregation counts each id's bias rows: a repeated
    * `idCol` carries more than one, and `__f` itself raises the error,
    * so no projection can prune the check and it costs no Spark job.
    */
  private def featuresByDoc(docs: DataFrame, idCol: String,
      textCol: String, label: Column, buckets: Int): DataFrame = {
    val d = docs.select(col(idCol),
      when(label, 1.0).otherwise(0.0).as("__y"))
    val nBias = sum(when(col("bucket") === buckets, 1).otherwise(0))
    hashedGramFeatures(docs, idCol, textCol, buckets)
      .groupBy(col(idCol))
      .agg(when(nBias > 1, raise_error(concat(
          lit(s"LinearModel: id column '$idCol' is not unique, repeated id: "),
          col(idCol).cast("string"))))
        .otherwise(collect_list(struct(col("bucket"), col("xnorm"))))
        .as("__f"))
      .join(d, Seq(idCol))
  }

  /** The per-term z dot product with CAST-exact semantics: each term
    * is `xnorm · w(bucket)` in doubles, rounded to DECIMAL(38,12)
    * exactly as Spark's `cast(x as decimal(38,12))` does
    * (BigDecimal.valueOf = Double.toString shortest form, then
    * setScale(12, HALF_UP)), accumulated with exact decimal adds and
    * returned via the same decimal→double conversion — bit-equal to
    * the former `sum(cast(...))` aggregate over the exploded relation,
    * for any term order, because decimal arithmetic here is exact.
    */
  private def zDotUdf(w: Broadcast[Array[Double]]): UserDefinedFunction =
    udf { (fs: Seq[org.apache.spark.sql.Row]) =>
      val wv = w.value
      var acc = java.math.BigDecimal.ZERO
      val it = fs.iterator
      while (it.hasNext) {
        val r = it.next()
        val term = java.math.BigDecimal
          .valueOf(r.getDouble(1) * wv(r.getLong(0).toInt))
          .setScale(12, java.math.RoundingMode.HALF_UP)
        acc = acc.add(term)
      }
      acc.doubleValue
    }

  /** The per-row fused z scorer: tokenize → gram → md5 bucket → count
    * → xnorm·w DECIMAL dot product, all inside ONE compiled function —
    * the explode + two groupBy exchanges of the relational feature
    * build disappear from every scoring call (the per-micro-batch
    * shape of q_stream_logit). Bit-parity with the relational path,
    * piece by piece:
    *   - tokenization calls the SAME engine kernels the Catalyst
    *     expressions `lower`/`trim`/`split(_, "\\s+")` evaluate
    *     (`UTF8String.toLowerCase/trim/split`) — not a reimplementation;
    *   - gram bytes are the UTF-8 bytes `md5(gram)` hashed (bigrams
    *     digest tokenA ++ ' ' ++ tokenB — byte-identical to the
    *     `concat(a, ' ', b)` string);
    *   - the bucket is the first-4-digest-bytes value, the documented
    *     `conv(substring(md5(x),1,8),16,10) % buckets` identity (the
    *     [[TextOps.contentChunks]] precedent);
    *   - xnorm = cnt / (n + max(n−1,0)) in the same IEEE division, the
    *     per-term product rounds through the same
    *     `BigDecimal.valueOf(_).setScale(12, HALF_UP)` as [[zDotUdf]],
    *     and DECIMAL adds are exact so gram order is free;
    *   - null/empty text contributes only the bias term, exactly as
    *     the explode (which drops null rows) + bias union did.
    * `FusedLogitScorerSpec` pins per-doc z equality against the
    * relational build on corpus and adversarial strings.
    */
  private def fusedZ(text: String, buckets: Int, w: Array[Double]): Double = {
    import org.apache.spark.unsafe.types.UTF8String
    var acc = java.math.BigDecimal.ZERO
    def add(bucket: Long, xnorm: Double): Unit =
      acc = acc.add(java.math.BigDecimal
        .valueOf(xnorm * w(bucket.toInt))
        .setScale(12, java.math.RoundingMode.HALF_UP))
    if (text != null) {
      val trimmed = UTF8String.fromString(text).toLowerCase.trim()
      val toks: Array[UTF8String] =
        if (trimmed.numChars() == 0) Array.empty
        else trimmed.split(UTF8String.fromString("\\s+"), -1)
      val n = toks.length
      if (n > 0) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val space = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val tokBytes = toks.map(_.getBytes)
        def bucketOf(digest: Array[Byte]): Long =
          java.lang.Integer.toUnsignedLong(
            ((digest(0) & 0xff) << 24) | ((digest(1) & 0xff) << 16) |
              ((digest(2) & 0xff) << 8) | (digest(3) & 0xff)) % buckets
        val counts = new java.util.HashMap[java.lang.Long, Int]()
        def bump(b: Long): Unit =
          counts.merge(b, 1, (a: Int, x: Int) => a + x)
        var i = 0
        while (i < n) { // unigrams
          md.reset(); md.update(tokBytes(i))
          bump(bucketOf(md.digest()))
          i += 1
        }
        i = 0
        while (i < n - 1) { // adjacent bigrams: md5(a ++ ' ' ++ b)
          md.reset(); md.update(tokBytes(i)); md.update(space)
          md.update(tokBytes(i + 1))
          bump(bucketOf(md.digest()))
          i += 1
        }
        val total = (n + math.max(n - 1, 0)).toDouble
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          add(e.getKey.longValue(), e.getValue.toDouble / total)
        }
      }
    }
    add(buckets.toLong, 1.0) // the bias row every doc carries
    acc.doubleValue
  }

  private def fusedZUdf(w: Broadcast[Array[Double]],
      buckets: Int): UserDefinedFunction =
    udf { (text: String) => fusedZ(text, buckets, w.value) }

  /** Adds (__idx, __sig) to a frame carrying `__z`: the σ̃-table cell
    * and its value, the one place the table index is computed.
    */
  private def withSigma(zf: DataFrame): DataFrame =
    zf.withColumn("__idx",
        least(greatest(floor((col("__z") + 8.0) * 32.0).cast("int"), lit(0)),
          lit(511)))
      .withColumn("__sig",
        element_at(typedLit(sigmoidTable.toSeq), col("__idx") + 1))

  /** The driver-loop GD over the [[featuresByDoc]] ARRAY layout — the
    * classic MLlib linear-model layout: the model is driver state, a
    * dense (buckets+1)-double array broadcast to the executors once
    * per iteration (a 2M-bucket model is ~16 MB: model-sized, never
    * data-sized, and kept out of every task closure), and a
    * coefficient-sized gradient aggregates back; a support-sized map
    * measured no faster at 2M buckets (SCALING.md). The feature relation
    * shuffles ONCE at build time; each iteration is then a single
    * action — per-row z/σ̃/residual (no join, no per-doc exchange), the
    * bucket-sized gradient aggregate, and (under `withLoss`) the mean
    * ln-loss summed as an OBSERVED metric on the same action instead
    * of a second checkpoint+collect.
    *
    * Every reduction is an exact DECIMAL(38,12) sum, so regrouping the
    * identical terms is bit-neutral. A bucket no document carries is
    * absent from the gradient and keeps its weight: it starts at +0.0
    * and stays there, and its zero term (an exact DECIMAL zero) never
    * moves a z (the oracle's `w − lr·(coalesce(g, 0)/n)` leaves it
    * unchanged too). The update `w − lr·(g/n)` is the oracle's weight
    * CTE, op for op.
    *
    * @param withLoss when false, the loss expressions are skipped
    *   entirely (loss is observational — it never feeds the weight
    *   trajectory); the returned per-iter losses are NaN.
    * @return (per-iter (iter, broadcast weights AFTER the update,
    *   loss BEFORE it), fd — the checkpointed per-doc feature-array
    *   relation the apply reuses)
    */
  private def logitTrajectory(docs: DataFrame, idCol: String,
      textCol: String, label: Column, buckets: Int, iters: Int,
      lr: Double, withLoss: Boolean)
      : (Seq[(Int, Broadcast[Array[Double]], Double)], DataFrame) = {
    require(buckets >= 1 && iters >= 1)
    val sc = docs.sparkSession.sparkContext
    val fd = featuresByDoc(docs, idCol, textCol, label, buckets)
      .localCheckpoint(eager = false)
    val n = fd.count() // == docs count: every doc emits a bias row
    require(n > 0, "empty training set")
    val lnSigLit = typedLit(lnSigTable.toSeq)
    val ln1mLit = typedLit(ln1mSigTable.toSeq)
    var w = sc.broadcast(new Array[Double](buckets + 1))
    val traj = (1 to iters).map { it =>
      val zs0 = withSigma(fd.withColumn("__z", zDotUdf(w)(col("__f"))))
        .withColumn("__resid", col("__sig") - col("__y"))
      val (zs, obs) =
        if (!withLoss) (zs0, None)
        else {
          val o = Observation(s"logit_loss_${System.nanoTime()}")
          (zs0.withColumn("__lt",
              -(col("__y") * element_at(lnSigLit, col("__idx") + 1) +
                (lit(1.0) - col("__y")) * element_at(ln1mLit, col("__idx") + 1)))
            .observe(o, sum(col("__lt").cast("decimal(38,12)"))
              .cast("double").as("l")),
            Some(o))
        }
      val g = zs.select(col("__resid"), explode(col("__f")).as("__t"))
        .select(col("__t.bucket").as("bucket"),
          (col("__resid") * col("__t.xnorm")).cast("decimal(38,12)").as("__g"))
        .groupBy("bucket")
        .agg(sum(col("__g")).cast("double").as("g"))
        .collect()
      val loss = obs.map(_.get("l").asInstanceOf[Double] / n)
        .getOrElse(Double.NaN)
      val prev = w.value
      val next = prev.clone()
      g.foreach { r =>
        val b = r.getLong(0).toInt
        next(b) = prev(b) - lr * (r.getDouble(1) / n)
      }
      w = sc.broadcast(next)
      (it, w, loss)
    }
    (traj, fd)
  }

  /** Train-then-apply paying the regex feature extraction ONCE: the id-
    * carrying feature frame is checkpointed, the GD trajectory
    * aggregates over it, and the fitted weights apply back over the
    * SAME frame — versus [[fitWeights]]+[[predictQuality]], which
    * re-tokenizes the text a fourth time for the apply scan. Output and
    * weight trajectory are bit-identical (the features are
    * deterministic), only the redundant scans go away.
    */
  def fitPredict(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text", iters: Int = 3,
                 lr: Double = 0.5): DataFrame = {
    val (x1, x2, x3) = feats(col(textCol))
    val f = docs.select(col(idCol), x1.as("x1"), x2.as("x2"), x3.as("x3"),
      TextOps.qualityScore(col(textCol)).as("y")).localCheckpoint(false)
    val t = trajectoryOver(f, iters, lr).last
    val w = Array(t._2, t._3, t._4, t._5)
    val pred = lit(w(0)) + lit(w(1)) * col("x1") + lit(w(2)) * col("x2") +
      lit(w(3)) * col("x3")
    f.select(col(idCol), pred.as("pred"), abs(pred - col("y")).as("abs_err"))
  }
}

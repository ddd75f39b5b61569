package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-trained bigram language-model quality scoring — the CCNet
  * recipe (Wenzek et al. 2020: score web documents by LM perplexity
  * against a reference corpus, keep the low-perplexity head) with the
  * 5-gram KenLM swapped for a bigram stupid-backoff model (Brants et
  * al. 2007) trained ON the corpus' own train split, so the whole
  * pipeline — training included — is one distributed job with no
  * external model artifact.
  *
  * Model: p(w2|w1) = c(w1,w2)/c(w1) when the train slice saw the
  * bigram; else Backoff * c(w2)/T when it saw the unigram; else a
  * Backoff * Backoff / T floor ("unknown word" mass). Scores are
  * mean ln-probability per bigram (higher = more fluent under the
  * corpus LM) plus the OOV-bigram rate — the two standard curation
  * signals; thresholding either is the caller's policy.
  *
  * Determinism across engines (the DuckDB oracle replays every step):
  * each per-bigram ln is rounded to 6 decimals, the per-document sum
  * runs in DECIMAL(28,6) (exact, order-independent), and only the
  * final mean divides in double (IEEE division of identical inputs is
  * bit-identical everywhere).
  *
  * Scale: the count tables are vocab-sized, not corpus-sized, built
  * with map-side partial aggregation; c(w1) rides INSIDE the bigram
  * table (joined once at vocab scale) so the corpus-sized scoring scan
  * joins exactly once per path; the unigram backoff join touches only
  * the OOV-bigram rows (typically a few % of the corpus). Shingle df
  * is Zipfian, so the scoring join's build side has hot keys:
  * `hotBigrams = K` peels the K highest-count bigrams into a broadcast
  * map-side join and shuffle-joins only the residual — rows hitting
  * the hot head (most of a natural-language corpus) never shuffle.
  * Output is provably identical for every K, so both shapes share one
  * oracle.
  */
object NgramLm {

  /** Stupid-backoff discount (Brants et al. 2007 use 0.4). */
  val Backoff = 0.4

  /** Lowercased whitespace tokens; empty/blank text → no tokens. */
  private def tokenized(docs: DataFrame, idCol: String,
                        textCol: String, trainPred: Column): DataFrame =
    docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), trainPred.as("__is_train"),
        TextOps.tokens(lower(col(textCol))).as("__t"))

  /** Adjacent-pair explode: doc rows → (id, w1, w2) bigram rows.
    * A document with n >= 2 tokens yields exactly n-1 rows; shorter
    * documents yield none (and so are absent from the scored output).
    */
  private def bigramRows(tok: DataFrame, idCol: String): DataFrame = {
    val n = size(col("__t"))
    tok.filter(n >= 2)
      .select(col(idCol), explode(arrays_zip(
        slice(col("__t"), lit(1), n - 1).as("w1"),
        slice(col("__t"), lit(2), n - 1).as("w2"))).as("p"))
      .select(col(idCol), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** Score every document of `docs` (id, n_bigrams, avg_logp,
    * oov_rate) under the bigram LM trained on the `trainPred` rows.
    * `hotBigrams` > 0 broadcasts that many highest-count bigrams as a
    * skew head (identical output, see object doc).
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
                trainPred: Column, hotBigrams: Int = 0): DataFrame = {
    // tokenization feeds three scans (train unigrams, train bigrams,
    // scored bigrams) — materialize it once
    val tok = tokenized(docs, idCol, textCol, trainPred)
      .localCheckpoint(eager = false)

    val trainTok = tok.filter(col("__is_train"))
      .select(explode(col("__t")).as("w"))
    val uni = trainTok.groupBy("w").agg(count(lit(1)).as("c"))
    val tot = trainTok.agg(count(lit(1)).as("t_total")) // 1 row
    // c(w1) joined in at VOCAB scale so the corpus-scale scoring join
    // below fetches both counts in one probe
    val bi = bigramRows(tok.filter(col("__is_train")), idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))

    val bg = bigramRows(tok, idCol)
    val joined =
      if (hotBigrams <= 0) bg.join(bi, Seq("w1", "w2"), "left")
      else {
        val hot = bi.orderBy(desc("c12"), col("w1"), col("w2"))
          .limit(hotBigrams).localCheckpoint(eager = false)
        val viaHot = bg.join(broadcast(hot), Seq("w1", "w2"), "left")
        val cold = bi.join(broadcast(hot.select("w1", "w2")),
          Seq("w1", "w2"), "left_anti")
        // rows the hot head resolved never reach the shuffle join
        viaHot.filter(col("c12").isNotNull).unionByName(
          viaHot.filter(col("c12").isNull).drop("c12", "c1")
            .join(cold, Seq("w1", "w2"), "left"))
      }

    val seen = joined.filter(col("c12").isNotNull)
      .select(col(idCol),
        round(log(col("c12").cast("double") / col("c1")), 6).as("logp"),
        lit(0L).as("oov"))
    val unseen = joined.filter(col("c12").isNull)
      .join(uni.select(col("w").as("w2"), col("c").as("c2")),
        Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      // fail fast on an empty train slice (mistyped predicate): the
      // backoff would otherwise divide by T=0 into Infinity logs that
      // the DECIMAL sum silently turns into NULL scores. Lazy-safe
      // guard — no extra action; only the backoff path reads T, and an
      // empty train slice routes EVERY bigram through it
      .withColumn("t_total", when(col("t_total") > 0, col("t_total"))
        .otherwise(raise_error(lit(
          "NgramLm.scoreDocs: train slice has no tokens (check trainPred)"))))
      .select(col(idCol),
        when(col("c2").isNotNull,
          round(log(lit(Backoff) * col("c2") / col("t_total")), 6))
          .otherwise(round(log(lit(Backoff * Backoff) / col("t_total")), 6))
          .as("logp"),
        lit(1L).as("oov"))

    seen.unionByName(unseen)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        exactAvg6(sum(col("logp").cast("decimal(28,6)")), count(lit(1)))
          .as("avg_logp"),
        exactAvg6(sum(col("oov")).cast("decimal(28,6)"), count(lit(1)))
          .as("oov_rate"))
  }

  // exact integer rounding of the final averages — see
  // [[graft.core.Round6]] for why a plain round(sum/n, 6) diverges
  private def exactAvg6(sumDec: Column, n: Column): Column =
    graft.core.Round6.decAvg6(sumDec, n)

  /** The LM as a shippable artifact: count maps + the train-token
    * total. What a production curation stream broadcasts to every
    * worker (CCNet ships a fixed KenLM binary the same way) — fit once
    * on the reference corpus, score forever, no per-batch joins.
    */
  final case class Model(uni: Map[String, Long], bi: Map[(String, String), Long],
                         total: Long) extends Serializable

  /** Collect the stupid-backoff count model from the `trainPred` slice
    * of `docs`. `maxVocab`/`maxBigrams` cap the collected maps to the
    * highest-count entries (ties to the lexicographically smallest key,
    * so the artifact is deterministic): dropped tails score through the
    * backoff/floor branches exactly like genuinely-unseen tokens —
    * the standard size/quality knob for a broadcast model. The collect
    * is bounded by the caps; fitting uncapped on an unbounded corpus is
    * the caller's own risk.
    */
  def fitModel(docs: DataFrame, idCol: String, textCol: String,
               trainPred: Column, maxVocab: Int = 1 << 20,
               maxBigrams: Int = 1 << 22): Model = {
    val tok = tokenized(docs, idCol, textCol, trainPred)
      .filter(col("__is_train"))
      .localCheckpoint(eager = false)
    val trainTok = tok.select(explode(col("__t")).as("w"))
    val uniRows = trainTok.groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(maxVocab).collect()
    val total = trainTok.count()
    require(total > 0,
      "NgramLm.fitModel: train slice has no tokens (check trainPred)")
    val biRows = bigramRows(tok, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .orderBy(desc("c12"), col("w1"), col("w2")).limit(maxBigrams).collect()
    Model(
      uniRows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      biRows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
      total)
  }

  /** Score rows against a broadcast [[Model]] — one stateless
    * projection, streaming-safe (no joins, no watermark: apply it
    * directly to a `readStream` DataFrame; parity is pinned in
    * `StreamingTransformsSpec`). Same output
    * columns and, with an uncapped model, the same values as
    * [[scoreDocs]] (spec-pinned): per-bigram ln round6, DECIMAL-exact
    * sum, one double division. Docs with < 2 tokens are dropped, as in
    * the join path. A capped model scores its dropped tail through the
    * backoff/floor branches — deliberate, documented in [[fitModel]].
    */
  def scoreWith(docs: DataFrame, idCol: String, textCol: String,
                model: Model): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(model)
    val score = udf { (text: String) =>
      val m = bc.value
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT)
      val arr = if (toks.isEmpty) Array.empty[String]
                else toks.split("\\s+")
      if (arr.length < 2) None
      else {
        var sum = BigDecimal(0)
        var oov = 0L
        var i = 0
        while (i < arr.length - 1) {
          val w1 = arr(i); val w2 = arr(i + 1)
          // a capped model can keep a bigram whose w1 unigram was
          // dropped (separate caps) — score it as unseen, like the
          // rest of the dropped tail
          val lp = (m.bi.get((w1, w2)), m.uni.get(w1)) match {
            case (Some(c12), Some(c1)) => math.log(c12.toDouble / c1)
            case _ =>
              oov += 1
              m.uni.get(w2) match {
                case Some(c2) => math.log(Backoff * c2 / m.total)
                case None     => math.log(Backoff * Backoff / m.total)
              }
          }
          sum += BigDecimal(lp).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          i += 1
        }
        val n = (arr.length - 1).toLong
        // the exactAvg6 discipline, scalar form: integer
        // half-away-from-zero division of the micro-scaled sums
        def avg6(sumMicro: Long): Double = {
          val q = (math.abs(sumMicro) * 2 + n) / (2 * n)
          (if (sumMicro < 0) -q else q).toDouble / 1000000.0
        }
        Some((n,
          avg6(sum.underlying.movePointRight(6).longValueExact()),
          avg6(oov * 1000000L)))
      }
    }
    docs.select(col(idCol), score(col(textCol)).as("s"))
      .filter(col("s").isNotNull)
      .select(col(idCol), col("s._1").as("n_bigrams"),
        col("s._2").as("avg_logp"), col("s._3").as("oov_rate"))
  }

  /** The CCNet head/middle/tail split (Wenzek et al. 2020 §4.3): score
    * every document under the corpus LM, then tile each group (CCNet
    * tiles per language; any `groupCol` works) into `tiles` equal
    * perplexity buckets — tile 1 (highest mean ln-prob = lowest
    * perplexity) is `head`, the last is `tail`. Downstream policy
    * trains on head+middle, holds tail for mining.
    *
    * Determinism: `ntile` over (avg_logp DESC, id) — the id tiebreak
    * makes bucket boundaries exact, so the split carries a full value
    * oracle. The window partitions by group (languages/sources), never
    * a single global partition; within-group sort is the same work a
    * per-group percentile would do.
    */
  def ccnetBuckets(docs: DataFrame, idCol: String, textCol: String,
                   trainPred: Column, groupCol: String,
                   tiles: Int = 3): DataFrame = {
    require(tiles >= 2)
    val scored = scoreDocs(docs, idCol, textCol, trainPred)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(desc("avg_logp"), col(idCol))
    scored.join(docs.select(col(idCol), col(groupCol)), idCol)
      .withColumn("__nt", ntile(tiles).over(w))
      .withColumn("bucket",
        when(col("__nt") === 1, "head")
          .when(col("__nt") === tiles, "tail")
          .otherwise("middle"))
      .select(col(idCol), col(groupCol), col("avg_logp"), col("bucket"))
  }

  /** Score documents under the interpolated KN bigram model trained
    * on the `trainPred` rows — [[scoreDocs]]' role (the CCNet
    * perplexity gate) with the KenLM-default smoother instead of
    * stupid backoff. Per scored bigram:
    *
    *   context seen:   p = (max(4c−3,0)·N + 3·N1+(w1·)·ñ(w2))
    *                       / (4·c(w1·)·N)      (c = 0 if pair unseen)
    *   context unseen: p = ñ(w2) / N           (continuation dist.)
    *
    * with ñ(w) = max(N1+(·w), 1) — an add-one continuation floor so a
    * word never seen as a continuation doesn't zero the interpolated
    * mass (ln −∞). p is an exact integer ratio rounded once
    * ([[graft.core.Round6.decRatio6]]); ln of identical doubles is
    * identical cross-engine (the [[scoreDocs]] pattern); per-doc sums
    * in DECIMAL(28,6); exact final averages.
    *
    * Scale: same join shape as [[scoreDocs]] — vocab-sized model
    * relations probed by one corpus-scale scan; the bigram relation
    * materializes once for its differently-keyed aggregates.
    *
    * @return (id, n_bigrams, avg_logp_kn, ctx_oov_rate)
    */
  def scoreDocsKn(docs: DataFrame, idCol: String, textCol: String,
                  trainPred: Column): DataFrame = {
    val tok = tokenized(docs, idCol, textCol, trainPred)
      .localCheckpoint(eager = false)
    val bi = bigramRows(tok.filter(col("__is_train")), idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val byW1 = bi.groupBy("w1")
      .agg(sum("c12").as("c1dot"), count(lit(1)).as("n1f"))
    val byW2 = bi.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nAll = bi.agg(count(lit(1)).as("n_all"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val joined = bigramRows(tok, idCol)
      .join(bi, Seq("w1", "w2"), "left")
      .join(byW1, Seq("w1"), "left")
      .join(byW2, Seq("w2"), "left")
      .crossJoin(broadcast(nAll))
      // empty train slice → every context unseen and N = 0: fail fast
      // (lazy-safe: only the probability paths read n_all)
      .withColumn("n_all", when(col("n_all") > 0, col("n_all"))
        .otherwise(raise_error(lit(
          "NgramLm.scoreDocsKn: train slice has no bigrams (check trainPred)"))))
    val nTilde = greatest(coalesce(col("n1b"), lit(0L)), lit(1L))
    val pCtx = graft.core.Round6.decRatio6(
      greatest(dec(coalesce(col("c12"), lit(0L))) * 4 - 3,
        lit(0L).cast("decimal(38,0)")) * dec(col("n_all")) +
        lit(3L) * dec(col("n1f")) * dec(nTilde),
      lit(4L) * dec(col("c1dot")) * dec(col("n_all")))
    val pCont = graft.core.Round6.decRatio6(dec(nTilde), dec(col("n_all")))
    joined
      .select(col(idCol),
        round(log(when(col("c1dot").isNotNull, pCtx).otherwise(pCont)), 6)
          .as("logp"),
        when(col("c1dot").isNull, 1L).otherwise(0L).as("ctx_oov"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        exactAvg6(sum(col("logp").cast("decimal(28,6)")), count(lit(1)))
          .as("avg_logp_kn"),
        exactAvg6(sum(col("ctx_oov")).cast("decimal(28,6)"), count(lit(1)))
          .as("ctx_oov_rate"))
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 — public literature), fixed discount
    * D = 0.75 — the smoothing KenLM defaults to and the stronger
    * sibling of [[scoreDocs]]' stupid backoff:
    *
    *   p_kn(w2|w1) = (max(c(w1w2) − D, 0)
    *                  + D·N1+(w1·)·p_cont(w2)) / c(w1·)
    *   p_cont(w2)  = N1+(·w2) / N1+(··)
    *
    * Because D = 3/4, multiplying through by 4·N1+(··) clears EVERY
    * denominator:
    *
    *   p_kn = (max(4c−3, 0)·N + 3·N1+(w1·)·N1+(·w2)) / (4·c(w1·)·N)
    *
    * — an INTEGER ratio, divided once exactly
    * ([[graft.core.Round6.decRatio6]]): the full smoothing
    * distribution carries a value oracle with no float knife edge.
    *
    * Scale: the bigram relation is vocab²-bounded (distinct bigrams,
    * not corpus rows) and is materialized ONCE for its four
    * differently-keyed aggregates (exchange reuse does not fire across
    * different keys); everything after is vocab-sized joins and one
    * broadcast scalar.
    *
    * @return (w1, w2, c12, p_kn): bigrams with c12 ≥ minCount, the
    *         `limit` highest p_kn (ties → (w1, w2))
    */
  def knProbs(docs: DataFrame, idCol: String, textCol: String,
              minCount: Long = 5, limit: Int = 50): DataFrame = {
    val tok = tokenized(docs, idCol, textCol, lit(true))
    val bi = bigramRows(tok, idCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val byW1 = bi.groupBy("w1")
      .agg(sum("c12").as("c1dot"), count(lit(1)).as("n1f"))
    val byW2 = bi.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val nAll = bi.agg(count(lit(1)).as("n_all"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    bi.filter(col("c12") >= minCount)
      .join(byW1, "w1").join(byW2, "w2")
      .crossJoin(broadcast(nAll))
      .select(col("w1"), col("w2"), col("c12"),
        graft.core.Round6.decRatio6(
          greatest(dec(col("c12")) * 4 - 3, lit(0L).cast("decimal(38,0)")) *
            dec(col("n_all")) +
            lit(3L) * dec(col("n1f")) * dec(col("n1b")),
          lit(4L) * dec(col("c1dot")) * dec(col("n_all"))).as("p_kn"))
      .orderBy(desc("p_kn"), col("w1"), col("w2"))
      .limit(limit)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus curation at 100 TB:
  * exact (fingerprint groupBy), n-gram Jaccard (inverted-index buckets,
  * plus a PPJoin-style prefix-filtered exact variant), MinHash+LSH
  * (shingle → signature → band buckets → pairwise verify), SimHash
  * (bit-vote signature → pigeonhole bands → fused hamming filter), and
  * embedding-cosine near-dup (see [[Similarity]]). A mergeable MinHash
  * sketch AGGREGATE lives in [[graft.functions.MinHashAgg]].
  *
  * Scale posture, per operator:
  *   - exact: shuffles 32-byte md5 keys, not document bodies;
  *   - all pair generation is bucket-collect (see [[pairsUdf]]): one
  *     exchange, expansion local to the bucket's task, no self-join
  *     subtree recomputation or join-key skew amplification;
  *   - jaccard: exact but quadratic in hot-shingle df — under Zipfian
  *     shingle distributions use [[jaccardPairsPrefix]] (same output,
  *     near-linear candidates) or `maxShingleDf` stop-shingle pruning;
  *   - minhash/simhash: fixed-width signatures (numPerm ints / 1 long)
  *     replace documents in the shuffle; candidate verification touches
  *     texts only for surviving pairs, pairwise.
  */
object Dedup {

  /** Spread rows across the cluster before heavy per-row array work.
    * Small-file parquet inputs arrive as ONE partition; signature
    * computation (higher-order functions are interpreted, not
    * whole-stage-codegen'd) must not serialize onto a single core.
    * Unconditional round-robin: probing the current partition count
    * (`.rdd.getNumPartitions`) would force a full physical plan of the
    * subtree on the driver per call and bypass AQE's view of the plan;
    * the exchange itself is cheap relative to the per-row signature
    * work it parallelizes, and every downstream consumer shuffles on a
    * key anyway.
    */
  private[graft] def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Exact dedup: one survivor (min id) per fingerprint.
    * Returns (idCol, textCol…) of survivors only.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = TextOps.fingerprint(col(textCol))
    val w = Window.partitionBy("__fp").orderBy(col(idCol))
    df.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__fp", "__rn")
  }

  /** Cluster assignment form of exact dedup: every row mapped to its
    * cluster representative (min id sharing the fingerprint) — the
    * output a curation pipeline joins back to keep/drop/trace docs,
    * where [[exactDedup]] returns survivors only.
    */
  def exactClusters(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withColumn("rep_id", min(col(idCol)).over(Window.partitionBy("__fp")))
      .drop("__fp")

  /** Distinct word-`n`-gram shingle relation `(id, shingle)`. */
  def shingleRelation(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    spread(df).select(col(idCol).as("id"),
        explode(TextOps.wordShinglesUdf(n)(col(textCol))).as("shingle"))

  /** Ordered id pairs from a sorted bucket-membership list — the
    * bucket-collect layout: `groupBy(bucket).agg(sort_array(collect))`
    * then explode pairs, ONE exchange, versus the naive inverted-index
    * SELF-join that shuffles the posting relation twice and recomputes
    * its subtree per side. Fan-out per bucket is s² either way; the
    * collect variant additionally keeps each bucket's expansion local
    * to one task (no join-key skew amplification across partitions).
    */
  private[graft] val pairsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ids: Seq[Long]) =>
      val a = ids.toArray
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var i = 0
      while (i < a.length) {
        var j = i + 1
        while (j < a.length) { out += ((a(i), a(j))); j += 1 }
        i += 1
      }
      out.toSeq
    }

  /** Sized pair expansion: ids arrive sorted with their doc shingle
    * counts; emits (id_a, size_a, id_b, size_b) so the jaccard
    * denominator travels with the pair — no size-lookup joins later.
    */
  private val sizedPairsUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ids: Seq[Long], sizes: Seq[Int]) =>
      val n = ids.length
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long, Int)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) { out += ((ids(i), sizes(i), ids(j), sizes(j))); j += 1 }
        i += 1
      }
      out.toSeq
    }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index buckets.
    * Two exchanges total: bucket-collect per shingle (sizes ride along
    * in the postings), then count co-occurrences per pair — the doc
    * sizes are functionally dependent on the ids, so keeping them in
    * the grouping key replaces two size-lookup joins.
    *
    * Exact but quadratic in hot-shingle document frequency; fine when
    * df is bounded (dedup after stop-shingle pruning, or corpora
    * without heavy repeats). Under Zipfian shingle distributions use
    * [[jaccardPairsPrefix]] (same output, near-linear candidates) or
    * `maxShingleDf` (approximate: prunes hot shingles from candidate
    * generation only; denominators stay exact).
    *
    * @param maxShingleDf ignore shingles appearing in more than this
    *   many docs during candidate generation (0 = keep all — exact
    *   semantics, used under the oracle)
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, maxShingleDf: Int = 0): DataFrame = {
    val base = spread(df).select(col(idCol).cast("long").as("id"),
        TextOps.wordShinglesUdf(n)(col(textCol)).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
    val sh = base.select(col("id"), col("n_sh"), explode(col("shingles")).as("shingle"))
    val buckets0 = sh.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ms"))
    // stop-shingle pruning = a plain size filter on the bucket list
    val buckets =
      if (maxShingleDf <= 0) buckets0
      else buckets0.filter(size(col("ms")) <= maxShingleDf)
    buckets.filter(size(col("ms")) > 1)
      .select(explode(sizedPairsUdf(
        transform(col("ms"), m => m("id")),
        transform(col("ms"), m => m("n_sh")))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("size_a"),
        col("p._3").as("id_b"), col("p._4").as("size_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", round(
        col("n_common").cast("double") /
          (col("size_a") + col("size_b") - col("n_common")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Containment near-dup pairs: |A∩B| / |A| — the ASYMMETRIC overlap
    * measure (Broder 1997's "containment"). Jaccard misses the
    * quote/subset case entirely: a tweet embedded verbatim in a long
    * article scores near-zero Jaccard but containment 1.0 in the small
    * document's direction, which is exactly what a dedup policy that
    * drops quoted/wrapped content needs. Same inverted-index bucket
    * pair generation as [[jaccardPairs]] (fixed-width shingle sets
    * shuffle, bodies never do); emits a pair when EITHER direction
    * reaches the threshold, with both directions reported.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                       threshold: Double, maxShingleDf: Int = 0): DataFrame = {
    val base = spread(df).select(col(idCol).cast("long").as("id"),
        TextOps.wordShinglesUdf(n)(col(textCol)).as("shingles"))
      .withColumn("n_sh", size(col("shingles")))
    val sh = base.select(col("id"), col("n_sh"), explode(col("shingles")).as("shingle"))
    val buckets0 = sh.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ms"))
    val buckets =
      if (maxShingleDf <= 0) buckets0
      else buckets0.filter(size(col("ms")) <= maxShingleDf)
    buckets.filter(size(col("ms")) > 1)
      .select(explode(sizedPairsUdf(
        transform(col("ms"), m => m("id")),
        transform(col("ms"), m => m("n_sh")))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("size_a"),
        col("p._3").as("id_b"), col("p._4").as("size_b"))
      .groupBy("id_a", "id_b", "size_a", "size_b")
      .agg(count(lit(1)).as("n_common"))
      .withColumn("cont_ab", round(
        col("n_common").cast("double") / col("size_a").cast("double"), 6))
      .withColumn("cont_ba", round(
        col("n_common").cast("double") / col("size_b").cast("double"), 6))
      .filter(col("cont_ab") >= threshold || col("cont_ba") >= threshold)
      .select("id_a", "id_b", "cont_ab", "cont_ba")
  }

  /** MinHash signature over a PRE-MATERIALIZED md5-derived hash array
    * column (one compiled while-loop per row). A Column-expression form
    * (nested transform over a literal coefficient matrix) was tried and
    * removed: higher-order functions never enter whole-stage codegen —
    * they evaluate interpreted with per-element boxing, and the
    * numPerm × shingles inner product dominated the whole dedup
    * pipeline (20s of a 21s job at sf0.1); the compiled loop is ~50×
    * faster and bit-identical. Coefficients must stay in sync with
    * [[graft.functions.MinHashAgg.aCoefs]]/bCoefs (same lcg stream) —
    * the DuckDB oracles replay them from there.
    */
  def minhashSignatureUdf(numPerm: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val p = 4294967311L // smallest prime > 2^32; a < 2^30 keeps h*a < 2^62
    val as = Array.tabulate(numPerm)(i => lcg(2 * i) % ((1L << 30) - 1) + 1)
    val bs = Array.tabulate(numPerm)(i => lcg(2 * i + 1) % p)
    udf { (hashes: Seq[Long]) =>
      val hs = hashes.toArray
      val sig = new Array[Long](numPerm)
      var i = 0
      while (i < numPerm) {
        val a = as(i); val b = bs(i)
        var m = Long.MaxValue
        var j = 0
        while (j < hs.length) {
          val v = (hs(j) * a + b) % p
          if (v < m) m = v
          j += 1
        }
        sig(i) = m
        i += 1
      }
      sig
    }
  }

  private[graft] def lcg(i: Int): Long = {
    // splitmix64-ish deterministic stream, truncated positive
    var z = (i + 1).toLong * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & 0x7FFFFFFFFFFFFFFFL
  }

  /** Exact Jaccard pairs via prefix filtering (the AllPairs/PPJoin
    * family, Xiao et al., WWW'08 — public literature): index only each
    * document's rarest `|d| - ceil(t*|d|) + 1` shingles under a global
    * (df, shingle) total order. Any pair with J >= t shares at least
    * `ceil(t*|d|)` shingles, so its globally-smallest common shingle
    * falls inside BOTH prefixes — the prefix join loses no qualifying
    * pair. Candidates are then verified with exact pairwise Jaccard:
    * identical output to [[jaccardPairs]], but the posting relation
    * shrinks to ~(1-t) of the shingles and rarest-first ordering keeps
    * buckets tiny — no hot-shingle s² fan-out, the property that
    * matters at corpus scale.
    */
  def jaccardPairsPrefix(df: DataFrame, idCol: String, textCol: String,
                         n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df via a WINDOW over the posting relation: the same shingle-keyed
    // exchange a groupBy would pay, but the postings are shingled ONCE
    // (the groupBy+join form recomputes the tokenizer subtree per side)
    val posted = shingleRelation(df, idCol, textCol, n)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
    // rarest-first per-doc ordering; (df, shingle) is a total order so
    // every doc ranks shared shingles identically
    val byDoc = posted.groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("sorted"))
      .withColumn("n_sh", size(col("sorted")))
      // ceil(n*t) computed with a downward epsilon: binary-double t can
      // land a hair ABOVE the rational threshold and shorten the prefix
      // (losing exactness); erring longer only adds candidates
      .withColumn("plen",
        (col("n_sh") - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + 1).cast("int"))
      .select(col("id"), col("n_sh"), col("plen"),
        transform(col("sorted"), x => x("shingle")).as("shingles"))
      // consumed three times (prefix explode + both verify sides) —
      // materialize instead of re-running the tokenizer per consumer
      // (lazy: an eager checkpoint here costs a blocking extra job per
      // invocation, measured +40% on the gate query)
      .localCheckpoint(eager = false)
    val prefix = byDoc
      .select(col("id"), col("n_sh"),
        explode(slice(col("shingles"), lit(1), col("plen"))).as("shingle"))
    val candidates = prefix.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("id"), col("n_sh")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(sizedPairsUdf(
        transform(col("ms"), m => m("id")),
        transform(col("ms"), m => m("n_sh")))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("size_a"),
        col("p._3").as("id_b"), col("p._4").as("size_b"))
      // PPJoin length filter: J >= t forces t·|a| <= |b| <= |a|/t —
      // size-incompatible pairs die before the (dominant) verify step
      .filter(least(col("size_a"), col("size_b")).cast("double") >=
        lit(threshold) * greatest(col("size_a"), col("size_b")).cast("double"))
      .select("id_a", "id_b").distinct()
    // verify on the PRE-SHINGLED sorted arrays: re-tokenizing raw text
    // per pair (regex split + string building) was ~10× the cost of the
    // whole candidate generation at bench scale; set-intersecting the
    // distinct-shingle arrays computes the identical numerator
    // exact Jaccard via the NATIVE codegen'd set-intersection
    // expression (same integer counts + round6 as [[jaccardTextUdf]]):
    // a row-at-a-time UDF decoded every shingle UTF8String to a Java
    // String per pair, dominating the verify step
    candidates
      .join(byDoc.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(byDoc.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.VectorExpressions.arrJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Spark `round(x, 6)` semantics (BigDecimal HALF_UP) — keeps UDF-side
    * jaccard bit-identical to the Column/oracle formulation.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Distinct word-n-gram shingle set — the compiled twin of
    * [[TextOps.wordShingles]] (trim → split on whitespace → n-gram
    * join with single spaces → distinct).
    */
  private def shingleSet(text: String, n: Int): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String]()
    val t = if (text == null) "" else text.trim
    if (t.nonEmpty) {
      val toks = t.split("\\s+")
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out.add(sb.toString)
        i += 1
      }
    }
    out
  }

  /** Exact-Jaccard verification of a candidate pair set: join texts
    * onto the (tiny) candidate relation, shingle per pair, keep pairs at
    * or above the threshold. Shared by every candidate generator
    * ([[minhashLshPairs]], [[jaccardPairsPrefix]]) — two narrow joins +
    * a map instead of re-building and re-joining the posting relation.
    */
  private def verifyCandidates(df: DataFrame, candidates: DataFrame,
                               idCol: String, textCol: String, n: Int,
                               threshold: Double): DataFrame = {
    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    candidates
      .join(docs.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardTextUdf(n)(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Pairwise exact n-gram Jaccard over two raw texts (compiled loop). */
  private[graft] def jaccardTextUdf(n: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: String, b: String) =>
      val sa = shingleSet(a, n)
      val sb = shingleSet(b, n)
      if (sa.isEmpty || sb.isEmpty) 0.0
      else {
        val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
        var common = 0
        val it = small.iterator()
        while (it.hasNext) if (big.contains(it.next())) common += 1
        round6(common.toDouble / (sa.size + sb.size - common).toDouble)
      }
    }

  /** MinHash+LSH near-dup pairs: signatures → band buckets → candidate
    * pairs (distinct) → pairwise exact-Jaccard verification ≥ threshold.
    *
    * bands × rowsPerBand must equal numPerm. With 16 bands × 4 rows,
    * P(candidate | j=0.8) ≈ 0.9998 — the verify step then makes the
    * output exact-precision (recall is the only approximation).
    *
    * Base hashes are md5-derived and the band key is the raw signature
    * slice (not an engine hash of it) — both are integer arithmetic any
    * engine reproduces, so the full pipeline (candidates AND values) is
    * DuckDB-oracle-checkable. Key width: rowsPerBand longs vs one
    * murmur int — irrelevant next to the text columns the verify join
    * carries anyway.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      threshold: Double, numPerm: Int = 64,
                      bands: Int = 16): DataFrame = {
    val banded = bandedSignatures(df, idCol, textCol, n, numPerm, bands)

    // bucket-collect pair generation (see pairsUdf) — one exchange, and
    // the signature subtree is computed ONCE (a self-join evaluates it
    // once per side)
    val candidates = banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()

    // verify candidates with exact pairwise jaccard (precision = 1.0);
    // only texts of candidate docs travel — at corpus scale the
    // candidate set is a sliver of the input
    verifyCandidates(df, candidates, idCol, textCol, n, threshold)
  }

  /** The storable MinHash-LSH index artifact: (id, band, bucket) rows,
    * band key = the raw signature slice (engine-portable integers, see
    * [[minhashLshPairs]]). At production scale this is what a standing
    * corpus persists (bucketed by (band, bucket)) so arriving batches
    * dedup against it WITHOUT touching corpus text — the index is
    * ~numPerm longs per doc vs the doc body.
    */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
                       n: Int, numPerm: Int = 64, bands: Int = 16,
                       carry: Seq[String] = Nil,
                       carryText: Boolean = false): DataFrame = {
    require(numPerm % bands == 0)
    val rows = numPerm / bands
    // stepwise materialization: toks → shingles → hashes → sig, each its
    // own projection so nothing is re-evaluated inside lambda bodies
    val withSig = spread(df).select(col(idCol).as("id") +:
        col(textCol).as("text") +: carry.map(col): _*)
      .withColumn("shingles", TextOps.wordShinglesUdf(n)(col("text")))
      .filter(size(col("shingles")) > 0)
      .withColumn("hashes", transform(col("shingles"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")))
      .withColumn("sig", minhashSignatureUdf(numPerm)(col("hashes")))

    // `carry` rides extra input columns through (e.g. an event-time
    // column for a streaming caller); `carryText` keeps the document
    // text itself so a downstream verify join is avoided entirely
    val kept = col("id") +: (carry.map(col) ++
      (if (carryText) Seq(col("text")) else Nil))
    // band key = (band index, that signature slice verbatim)
    withSig.select(kept :+
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => concat_ws(",", transform(slice(col("sig"), bi * rows + 1, lit(rows)),
          v => v.cast("string")))))
        .as(Seq("band", "bucket")): _*)
  }

  /** One-Permutation-Hashing signature array with rotation
    * densification (Li, Owen & Zhang, NIPS'12; Shrivastava & Li,
    * ICML'14 — public literature): ONE md5-derived hash per shingle
    * instead of numPerm re-hashes. Bin b ∈ [0,k) keeps the minimum of
    * the hashes with h mod k = b; an EMPTY bin borrows from the first
    * non-empty bin at cyclic distance j to the right, offset j·C so
    * borrowed values stay distinct across distances (the rotation
    * scheme). Collision probability per densified bin ≈ Jaccard, same
    * as k-permutation MinHash — at 1/k-th the hash work. That is the
    * production-scale trade: at corpus scale the signature pass IS
    * the dedup CPU bill ([[minhashSignatureUdf]]'s k×|shingles| inner
    * product was 20 of 21 s at sf0.1 before compilation), and OPH
    * makes it one pass in exchange for slightly higher variance on
    * tiny shingle sets.
    *
    * Entirely ROW-LOCAL, no shuffle. Binning + densification run as a
    * COMPILED loop over the materialized hash array — the
    * [[minhashSignatureUdf]] precedent: an interpreted
    * transform/aggregate ladder re-evaluates its inputs after
    * projection collapse (the k² lambda references each inlined the
    * whole md5 chain; measured 344 s for the two sf0.01 gates vs ~8 s
    * compiled). All-integer arithmetic → fully DuckDB-replayable.
    */
  private def ophSignatureArray(df: DataFrame, idCol: String,
                                textCol: String, n: Int,
                                k: Int): DataFrame =
    spread(df)
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
      .withColumn("shingles", TextOps.wordShinglesUdf(n)(col("text")))
      .filter(size(col("shingles")) > 0)
      .withColumn("hashes", transform(col("shingles"),
        s => conv(substring(md5(s), 1, 8), 16, 10).cast("long")))
      .select(col("id"), ophDensifyUdf(k)(col("hashes")).as("sig"))

  /** Compiled bin-min + rotation densification: one pass over the
    * hashes, then one bounded cyclic scan per empty bin.
    */
  private def ophDensifyUdf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (hashes: Seq[Long]) =>
      val mins = Array.fill(k)(Long.MinValue) // MinValue = empty marker
      val hs = hashes.toArray
      var i = 0
      while (i < hs.length) {
        val h = hs(i)
        val b = (h % k).toInt // h is a positive 32-bit value
        if (mins(b) == Long.MinValue || h < mins(b)) mins(b) = h
        i += 1
      }
      val sig = new Array[Long](k)
      var b = 0
      while (b < k) {
        if (mins(b) != Long.MinValue) sig(b) = mins(b)
        else {
          var j = 1
          while (mins((b + j) % k) == Long.MinValue) j += 1
          sig(b) = mins((b + j) % k) + j * OphOffset
        }
        b += 1
      }
      sig
    }

  /** Borrow-distance offset for OPH rotation densification. */
  private[graft] val OphOffset = 100003L

  /** The gate-able OPH signature relation: (id, bin, sig), one row per
    * densified bin. This is the storable index artifact an OPH-based
    * dedup persists — k longs per doc from ONE hash pass.
    */
  def ophSignatures(df: DataFrame, idCol: String, textCol: String,
                    n: Int, k: Int = 64): DataFrame =
    ophSignatureArray(df, idCol, textCol, n, k)
      .select(col("id"), posexplode(col("sig")).as(Seq("bin", "sig")))

  /** OPH-LSH near-dup pairs: densified signatures → band buckets
    * (raw-slice keys, engine-portable) → candidate pairs → exact
    * pairwise Jaccard ≥ threshold. Same contract and verify step as
    * [[minhashLshPairs]]; the signature pass costs 1/k-th the hashing.
    */
  def ophLshPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                  threshold: Double, k: Int = 64,
                  bands: Int = 16): DataFrame = {
    require(k % bands == 0)
    val rows = k / bands
    val banded = ophSignatureArray(df, idCol, textCol, n, k)
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bi => concat_ws(",", transform(slice(col("sig"), bi * rows + 1, lit(rows)),
            v => v.cast("string")))))
          .as(Seq("band", "bucket")))
    val candidates = banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    verifyCandidates(df, candidates, idCol, textCol, n, threshold)
  }

  /** Incremental near-dup detection — the production loop at corpus
    * scale: a standing, already-deduplicated corpus keeps its LSH index
    * ([[bandedSignatures]]) persisted, and each arriving batch is
    * checked AGAINST it instead of re-deduplicating the world. Returns
    * every batch row annotated with its best verified corpus match:
    * (idCol, dup_of, jaccard) — dup_of/jaccard NULL for novel docs;
    * best = highest exact Jaccard, ties to the smallest corpus id.
    *
    * Scale: the candidate join is index-vs-index on (band, bucket) —
    * batch-sized × corpus-index-sized, but bucket keys spread the
    * corpus side and only ids travel. Corpus TEXT is touched only for
    * verified-candidate ids (a semi-join fetch, a sliver of the
    * corpus). Precision is exact (Jaccard verify); recall is the LSH
    * band curve, the same knob as [[minhashLshPairs]].
    */
  def incrementalNearDups(corpusBands: DataFrame, corpusDocs: DataFrame,
                          batch: DataFrame, idCol: String, textCol: String,
                          n: Int, threshold: Double, numPerm: Int = 64,
                          bands: Int = 16): DataFrame = {
    // the batch feeds three scans (signature pipeline, text fetch, id
    // spine) — materialize the two-column projection once so a derived
    // input isn't recomputed per scan
    val b = batch.select(col(idCol), col(textCol))
      .localCheckpoint(eager = false)
    val verified = incrementalVerifiedPairs(corpusBands, corpusDocs, b,
      idCol, textCol, n, threshold, numPerm, bands)

    val w = Window.partitionBy("id_new")
      .orderBy(desc("jaccard"), col("id_corpus"))
    val best = verified
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id_new"), col("id_corpus").as("dup_of"), col("jaccard"))

    b.select(col(idCol).cast("long").as("id_new"))
      .join(best, Seq("id_new"), "left")
      .select(col("id_new").as(idCol), col("dup_of"), col("jaccard"))
  }

  /** The pair-level core of [[incrementalNearDups]]: every verified
    * (batch doc, corpus doc) match as (id_new, id_corpus, jaccard),
    * before best-match folding. Public because the streaming twin
    * ([[graft.streaming.StreamingNearDup.incrementalStream]]) emits
    * exactly this relation append-mode and its parity spec compares
    * against it. Scans `batch` twice (signatures, text fetch) —
    * callers passing a derived input should materialize it first
    * ([[incrementalNearDups]] does).
    */
  def incrementalVerifiedPairs(corpusBands: DataFrame, corpusDocs: DataFrame,
                               batch: DataFrame, idCol: String,
                               textCol: String, n: Int, threshold: Double,
                               numPerm: Int = 64,
                               bands: Int = 16): DataFrame = {
    val batchBands = bandedSignatures(batch, idCol, textCol, n, numPerm, bands)
    val candidates = batchBands.select(col("id").as("id_new"),
        col("band"), col("bucket"))
      .join(corpusBands.select(col("id").as("id_corpus"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select("id_new", "id_corpus").distinct()

    candidates
      .join(batch.select(col(idCol).cast("long").as("id_new"),
        col(textCol).as("text_new")), Seq("id_new"))
      .join(corpusDocs.select(col(idCol).cast("long").as("id_corpus"),
        col(textCol).as("text_corpus")), Seq("id_corpus"))
      .withColumn("jaccard",
        jaccardTextUdf(n)(col("text_new"), col("text_corpus")))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_corpus", "jaccard")
  }

  /** Transitive near-duplicate clustering: connected components of the
    * pair graph, labels = min id per component. Pair operators
    * ([[jaccardPairs]], [[minhashLshPairs]], [[simhashPairs]],
    * [[graft.operators.Similarity.cosinePairsLsh]]) emit EDGES; keeping
    * one survivor per edge endpoint over-deletes when near-duplication
    * chains (a~b, b~c but a≁c) — component-wise dedup keeps exactly one
    * doc per transitive cluster.
    *
    * Algorithm: iterated min-label propagation ("hash-min") over the
    * EDGE ENDPOINTS only: each round every endpoint takes the min of
    * its own and its neighbors' labels; one join + one aggregation per
    * round, converging in O(graph diameter) rounds; isolated nodes
    * (the vast majority of a deduplicated corpus) never enter the loop
    * and self-label in a final left join. Near-dup clusters are dense
    * and shallow (diameter 2-3 in practice), so this beats the O(log n)
    * star-contraction variants (Kiveris et al., "Connected Components
    * in MapReduce", SoCC'14 — public literature) on constant factors;
    * swap in large-star/small-star if an adversarial corpus produces
    * long chains. `localCheckpoint` truncates lineage each round —
    * without it the plan doubles per iteration and Catalyst analysis
    * time explodes long before data does — and the fixpoint test rides
    * each checkpoint's job as an observed metric, so a round costs ONE
    * Spark action, not an extra convergence scan.
    *
    * @param edges (id_a, id_b) pair relation (undirected; duplicates ok
    *   unless `edgesDistinct` is set)
    * @param nodes (id) every node that needs a label, including
    *   isolated docs (their label is their own id)
    * @param edgesDistinct the caller guarantees no duplicate (id_a, id_b)
    *   rows — true for every pair operator in this package (their pairs
    *   come out of a groupBy or a distinct, with id_a < id_b). Skips the
    *   symmetrization dedup SHUFFLE: duplicate edges would only inflate
    *   the per-iteration join fan-out (min-agg dedups labels anyway),
    *   and provably-absent duplicates make that shuffle pure overhead.
    * @param smallGraphEdges symmetric-edge-count threshold below which
    *   components are solved by union-find on collected endpoints — the
    *   broadcast-join analogy for iterative graph work: a near-dup edge
    *   set is routinely MUCH smaller than the corpus (it only contains
    *   colliding pairs), and below this bound a driver union-find
    *   replaces ~log(diameter) full Spark rounds of fixed scheduling
    *   latency. The default 1M edge rows ≈ 2M endpoints worst case,
    *   which costs low-hundreds of MB of transient driver heap through
    *   the boxed label table — the same order a broadcast table is
    *   allowed; raise it only with a fat driver. Above the bound, the
    *   distributed hash-min + pointer-jumping fixpoint runs; identical
    *   output either way (both label every component by its minimum
    *   id — the hash oracles replay them interchangeably). Set to 0 to
    *   force the distributed path (the size probe is skipped entirely).
    * @return (id, label) with label = min id reachable
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame,
                          maxIter: Int = 50,
                          edgesDistinct: Boolean = false,
                          smallGraphEdges: Long = 1L << 20): DataFrame = {
    // null endpoints (a malformed id cast to NULL) can never join in
    // the fixpoint below — drop them up front so both paths agree
    val e = edges.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    val sym0 = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    val sym = (if (edgesDistinct) sym0 else sym0.distinct()).localCheckpoint()
    // the count reads the just-materialized checkpoint blocks — no
    // recompute; it is the size probe the small-graph switch needs
    if (smallGraphEdges > 0 && sym.count() <= smallGraphEdges)
      return smallGraphComponents(sym, nodes)
    // only edge ENDPOINTS iterate: an isolated node can never take a
    // foreign label, and near-dup edges cover a sliver of a corpus —
    // propagating over the full node set would re-shuffle mostly-static
    // self-labels every round (the dominant waste at corpus scale)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // each node's own row carries its previous label through the
      // aggregation (ids are unique, so max(prev) IS prev); labels only
      // ever decrease, so "no label got smaller" == fixpoint. The test
      // rides the checkpoint job as an observed metric — no second
      // action per round. prev is never NULL: sym is symmetric, so
      // every dst is also a src and already holds a label row.
      val obs = Observation(s"cc_converged_$it")
      val viaNeighbors = sym.join(labels, sym("src") === labels("id"))
        .select(sym("dst").as("id"), col("label"), lit(null).cast("long").as("prev"))
      val cand = labels.withColumn("prev", col("label"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("label").as("label"), max("prev").as("prev"))
      // pointer jumping (path halving): additionally adopt the LABEL's
      // label. Pure hash-min walks one hop per round — O(diameter)
      // rounds, and a sparse near-dup graph can be chain-shaped (a
      // thresholded LSH pair set at τ=0.3 measured diameter ~20:
      // 8.3 s vs 2.6 s for the same output). The jump compresses paths
      // exponentially → O(log diameter) rounds. Labels still only
      // decrease (label[label] <= label), so the convergence test is
      // unchanged. The jump reads the PREVIOUS round's checkpointed
      // labels, not cand — a cand self-join would re-execute the
      // union+aggregate subtree twice per round (one round staler per
      // jump, measured round-count neutral). The label's row always
      // exists (labels are endpoint ids) — left join + coalesce is
      // belt-and-braces.
      val lab2 = labels.select(col("id").as("__lid"), col("label").as("__llabel"))
      val next = cand.join(lab2, cand("label") === lab2("__lid"), "left")
        .select(cand("id"),
          least(coalesce(col("__llabel"), cand("label")), cand("label")).as("label"),
          col("prev"))
        .observe(obs, coalesce(sum(when(col("label") < col("prev"), 1L)
          .otherwise(0L)), lit(0L)).as("decreased"))
        .localCheckpoint()
      labels = next.select("id", "label")
      converged = obs.get("decreased").asInstanceOf[Long] == 0L
      it += 1
    }
    // non-endpoint nodes label themselves; the endpoint label table is
    // edge-sized, so this join broadcasts under any sane threshold
    nodes.select(col("id").cast("long").as("id"))
      .join(labels.withColumnRenamed("label", "__cc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cc"), col("id")).as("label"))
  }

  /** Bounded small-graph path: union-find with path compression over
    * the collected symmetric edges (≤ `smallGraphEdges` rows by the
    * caller's check), labels = each component's MINIMUM id — the same
    * labeling the distributed fixpoint converges to. The label table
    * broadcasts back for the node join, exactly like the distributed
    * path's final join.
    *
    * Driver memory: the only per-endpoint structure is the primitive
    * `LongMap`; the boxed label table holds one pair per DUPLICATE
    * document (nodes whose label differs from themselves), not per
    * endpoint — roots and isolated nodes self-label through the final
    * coalesce.
    */
  private def smallGraphComponents(sym: DataFrame, nodes: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent(cur); parent(cur) = root; cur = next
      }
      root
    }
    // ONE collect job, not toLocalIterator: the iterator form fetches
    // partition-by-partition — one scheduled job per partition, which
    // at 32 shuffle partitions costs ~seconds of pure scheduling for a
    // few-hundred-row edge set. The caller already bounds the row count
    // (<= smallGraphEdges), and the transient Row array at the 1M-row
    // bound is the same low-hundreds-of-MB order the scaladoc budgets.
    val edgeRows = sym.collect()
    var ei = 0
    while (ei < edgeRows.length) {
      val row = edgeRows(ei)
      val a = row.getLong(0); val b = row.getLong(1)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      ei += 1
    }
    // every union links the LARGER root under the smaller, so parent
    // chains strictly decrease and each terminal root is its
    // component's minimum id. A node therefore needs an output row
    // exactly when it has a parent entry (find(n) < n); roots never do.
    val keys = parent.keysIterator.toArray // snapshot: find() compresses in place
    val pairs = Seq.newBuilder[(Long, Long)]
    pairs.sizeHint(keys.length)
    for (n <- keys) pairs += (n -> find(n))
    val labels = pairs.result().toDF("id", "__cc")
    nodes.select(col("id").cast("long").as("id"))
      .join(broadcast(labels), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cc"), col("id")).as("label"))
  }

  /** Survivor selection over near-dup clusters: one document per
    * transitive component — the HIGHEST-scoring one (ties → smallest
    * id), not the smallest-id one. Real curation keeps the best copy
    * of a duplicated page (highest quality score, or longest, or most
    * recent crawl); min-id survivorship is only right when copies are
    * byte-identical. Composes [[jaccardPairs]] → [[connectedComponents]]
    * → a salted exact top-1 per component
    * ([[graft.core.SkewOps.topKByKey]] — a viral page's million-member
    * cluster must not rank on one reducer).
    *
    * @param score per-document keep-priority expression over `docs`'s
    *   columns (e.g. [[TextOps.qualityScore]] of the text column)
    * @return (cluster, survivor id, cluster_size, score) — `cluster`
    *   is the component's min id, the same label the gates replay
    */
  def selectClusterSurvivors(docs: DataFrame, idCol: String, textCol: String,
                             score: Column, n: Int = 3,
                             threshold: Double = 0.5): DataFrame =
    selectClusterSurvivorsFromPairs(docs, idCol,
      jaccardPairs(docs, idCol, textCol, n, threshold), score)

  /** [[selectClusterSurvivors]] over a caller-supplied pair relation
    * (id_a, id_b, …) — the altitude that matters at corpus scale: the
    * text overload composes the direct inverted-index [[jaccardPairs]]
    * (right for bounded shingle df), but a Zipfian crawl should pass
    * [[jaccardPairsPrefix]] output, an embedding corpus
    * [[graft.operators.Similarity.cosinePairsLsh]] output, etc. — any
    * edge relation with the standard pair schema works, exactly as
    * [[connectedComponents]] accepts arbitrary edges.
    */
  def selectClusterSurvivorsFromPairs(docs: DataFrame, idCol: String,
                                      pairs: DataFrame, score: Column): DataFrame = {
    val comps = connectedComponents(pairs,
      docs.select(col(idCol).cast("long").as("id")), edgesDistinct = true)
    val scored = docs.select(col(idCol).cast("long").as("id"),
      score.as("__score"))
    val ranked = graft.core.SkewOps.topKByKey(
      comps.join(scored, Seq("id")).withColumnRenamed("label", "cluster"),
      Seq("cluster"), Seq(col("__score").desc, col("id")), k = 1)
    val sizes = comps.groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    ranked.select(col("cluster"), col("id").as("survivor_id"), col("__score").as("score"))
      .join(sizes, Seq("cluster"))
      .select("cluster", "survivor_id", "cluster_size", "score")
  }

  /** Eval-set decontamination: drop every corpus doc that shares at
    * least one winnowing fingerprint ([[TextOps.winnowUdf]]) with an
    * eval/benchmark document — the standard guard against test-set
    * leakage into training data. Winnowing guarantees any shared token
    * run of length >= w+k-1 produces a shared fingerprint, so overlap
    * detection is position-robust (a benchmark question pasted into the
    * middle of a crawled page still trips it).
    *
    * Scale shape: the eval fingerprint set is tiny (benchmarks, not
    * corpora) → broadcast; corpus docs ship only (id, fp) pairs into
    * the semi-join; the contaminated-id set (expected sliver) broadcasts
    * back into a left-anti join against the corpus. No full-text
    * comparisons anywhere.
    */
  def decontaminate(docs: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, k: Int = 4, w: Int = 5): DataFrame = {
    val fps = TextOps.winnowUdf(k, w)
    val docFps = spread(docs)
      .select(col(idCol), explode(fps(col(textCol))).as("fp"))
    val evalFps = evalDocs.select(explode(fps(col(textCol))).as("fp")).distinct()
    val contaminated = docFps.join(broadcast(evalFps), Seq("fp"))
      .select(idCol).distinct()
    docs.join(broadcast(contaminated), Seq(idCol), "left_anti")
  }

  /** Cross-slice contamination matrix: for every pair of corpus slices
    * (sources, snapshots, shards), the number of distinct winnowing
    * fingerprints they share — the aggregate "how much does A leak into
    * B" view that eval-set decontamination answers per-document.
    *
    * Bucket-collect shape: a fingerprint's slice set is tiny (≤ number
    * of slices), so group per fingerprint and expand slice pairs
    * locally — one exchange, no posting-relation self-join.
    */
  def fingerprintOverlap(docs: DataFrame, idCol: String, textCol: String,
                         groupCol: String, k: Int = 4, w: Int = 5): DataFrame = {
    val fps = TextOps.winnowUdf(k, w)
    val sfps = spread(docs)
      .select(col(groupCol).as("grp"), explode(fps(col(textCol))).as("fp"))
      .distinct()
    val pairs = sfps.groupBy("fp")
      .agg(sort_array(collect_set(col("grp"))).as("grps"))
      .filter(size(col("grps")) > 1)
      .select(explode(flatten(transform(col("grps"), (g, i) =>
        transform(slice(col("grps"), i + lit(2), size(col("grps"))),
          h => struct(g.as("group_a"), h.as("group_b")))))).as("p"))
    pairs.groupBy(col("p.group_a").as("group_a"), col("p.group_b").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** 64-bit SimHash over a PRE-MATERIALIZED token-hash array column:
    * vote each bit per token hash, majority sign → signature bit.
    * Compiled loop for the same reason as [[minhashSignatureUdf]]
    * (the Column-expression form was 64 interpreted aggregates per row).
    */
  val simhashUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (hashes: Seq[Long]) =>
      val hs = hashes.toArray
      val votes = new Array[Int](64)
      var j = 0
      while (j < hs.length) {
        val h = hs(j)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) != 0L) votes(b) += 1
          b += 1
        }
        j += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (votes(b) * 2 > hs.length) sig |= (1L << b)
        b += 1
      }
      sig
    }

  /** Pairwise hamming check inside a bucket, compiled: emits only the
    * pairs within `maxHamming` — a hot bucket never materializes its
    * full s² pair expansion, only the near ones.
    */
  private def hammingPairsUdf(maxHamming: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (ids: Seq[Long], sigs: Seq[Long]) =>
      val n = ids.length
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val h = java.lang.Long.bitCount(sigs(i) ^ sigs(j))
          if (h <= maxHamming) out += ((ids(i), ids(j), h))
          j += 1
        }
        i += 1
      }
      out.toSeq
    }

  /** SimHash signature + pigeonhole band keys: one output row per
    * (input row, band) with `sig`, `band`, `bucket` appended and every
    * other input column passed through. Shared by [[simhashPairs]] and
    * the streaming twin ([[graft.streaming.StreamingNearDup]]) so the
    * signature math can never drift between them.
    *
    * md5-derived 60-bit token hashes (15 hex chars) instead of
    * xxhash64: engine-portable, so signatures / bands / hamming are all
    * DuckDB-oracle-checkable. Bits 60-63 are constantly 0 — they vote 0
    * on every token, shrinking the effective signature to 60 bits,
    * which only makes the hamming filter (and the oracle) marginally
    * stricter.
    */
  def bandedSignatures(df: DataFrame, textCol: String, maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    val bandBits = 64 / nBands
    df
      .withColumn("hashed", transform(TextOps.tokens(col(textCol)),
        t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))
      .withColumn("sig", simhashUdf(col("hashed")))
      .drop("hashed")
      .select(col("*"), posexplode(array((0 until nBands).map(bi =>
        shiftrightunsigned(col("sig"), bi * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, using
    * the pigeonhole band trick: split 64 bits into maxHamming+1 bands —
    * any pair within distance k shares at least one exact band.
    * Bucket-collect pair generation with the hamming filter fused into
    * the expansion (see [[hammingPairsUdf]]).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val banded = bandedSignatures(
        spread(df).select(col(idCol).cast("long").as("id"), col(textCol).as("text")),
        "text", maxHamming)
      .select("id", "sig", "band", "bucket")
    banded.groupBy("band", "bucket")
      .agg(sort_array(collect_list(struct(col("id"), col("sig")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(hammingPairsUdf(maxHamming)(
        transform(col("ms"), m => m("id")),
        transform(col("ms"), m => m("sig")))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"), col("p._3").as("hamming"))
      .distinct()
  }

  /** C4-style line-level dedup (public literature: the C4 corpus drops
    * any three-sentence span occurring more than once; RefinedWeb and
    * friends do it per line): a line whose space-trimmed form is
    * non-empty and appears in at least `minDocs` DISTINCT documents is
    * boilerplate (nav bars, cookie banners, license footers) and is
    * removed from every document; the cleaned text is re-joined in
    * original line order onto a `text_clean` column.
    *
    * Scale layout: the line-frequency pass is
    * [[graft.core.SkewOps.distinctCountByKey]] — a hot line (millions
    * of docs share one cookie banner) spreads over reducers by doc id
    * before the per-line count. The removal is a left-anti join on the
    * line; with `broadcastHot` (default) the hot set is force-broadcast.
    * CAVEAT: the hot-set size is bounded only by total_lines/minDocs,
    * not a constant — on a typical web corpus boilerplate is a tiny
    * fraction of distinct lines, but an adversarial corpus (billions of
    * lines each shared by exactly minDocs docs) can blow the driver.
    * Pass `broadcastHot = false` there: the anti-join falls back to a
    * shuffle (or AQE's runtime choice), which is always safe.
    * Reassembly shuffles on the doc id, carrying (pos, line) pairs only.
    */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int, broadcastHot: Boolean = true): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would strip every non-blank line")
    // limit -1: trailing empty lines survive the split, so join-back of
    // an untouched document reproduces its text byte-for-byte
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
    val hot = graft.core.SkewOps.distinctCountByKey(
        lines.filter(length(trim(col("__line"))) > 0), Seq("__line"), idCol)
      .filter(col(s"n_distinct_$idCol") >= minDocs)
      .select(col("__line"))
    val rebuilt = lines
      .join(if (broadcastHot) broadcast(hot) else hot, Seq("__line"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x("__line")), "\n").as("__clean"))
    // left join: a document whose every line was boilerplate vanishes
    // from `rebuilt` — it comes back as the empty string
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("text_clean", coalesce(col("__clean"), lit("")))
      .drop("__clean")
  }

  /** Exact duplicated-SPAN removal (public literature: Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", drops
    * any ~50-token span occurring twice in the corpus; C4 does the same
    * at three-sentence granularity). Token-level twin of
    * [[removeBoilerplateLines]]: every k-token window whose exact text
    * appears in >= `minDocs` DISTINCT documents marks its k token
    * positions as duplicated; covered tokens are removed and the
    * survivors re-joined in order onto `text_clean`, with the covered
    * count on `n_dup_tokens`. A document with no duplicated span keeps
    * its text byte-for-byte; a touched document is rebuilt from tokens
    * (single-space joined — token-level surgery cannot preserve the
    * original inter-token whitespace).
    *
    * Catches what line-level dedup cannot: boilerplate that rides
    * INSIDE otherwise-unique lines (inlined license headers, quoted
    * chain mail, templated sentence frames around changing entities).
    *
    * Scale layout mirrors the line path: one shuffle keyed by the
    * md5 window fingerprint for the distinct-doc count (doc-distinct
    * pass spreads hot fingerprints by doc id first,
    * [[graft.core.SkewOps.distinctCountByKey]]), a semi join to keep
    * only duplicated windows, then per-doc position sets (bounded by
    * document length, which is already a single-row payload) and a
    * reassembly join on the doc id. The fingerprint relation is
    * (id, pos, 32-hex) rows — document bodies never shuffle. The hot
    * set is df-filtered like the line path and `broadcastHot = false`
    * is the same adversarial-corpus escape hatch.
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, minDocs: Int = 2,
                           broadcastHot: Boolean = true): DataFrame = {
    require(k >= 2, "k < 2 would fingerprint single tokens")
    require(minDocs >= 2, "minDocs < 2 would strip every window")
    val toks = spread(df).select(col(idCol),
      graft.operators.TextOps.tokens(col(textCol)).as("__toks"))
    // window start positions are 0-based; slice() is 1-based
    val grams = toks.filter(size(col("__toks")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - k),
        i => md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(k))))))
        .as(Seq("__pos", "__fp")))
    val hot = graft.core.SkewOps.distinctCountByKey(grams, Seq("__fp"), idCol)
      .filter(col(s"n_distinct_$idCol") >= minDocs)
      .select(col("__fp"))
    val covered = grams
      .join(if (broadcastHot) broadcast(hot) else hot, Seq("__fp"), "left_semi")
      .groupBy(idCol)
      .agg(collect_set(col("__pos")).as("__starts"))
      .select(col(idCol), array_sort(array_distinct(flatten(transform(
        col("__starts"), s => sequence(s, s + (k - 1)))))).as("__cov"))
    // rebuild via array_except over the position range (hash-based,
    // O(n + covered)) — filtering each token with array_contains would
    // be O(n·covered) and straggle on a long heavily-duplicated doc
    val toksAgain = graft.operators.TextOps.tokens(col(textCol))
    df.join(covered, Seq(idCol), "left")
      .withColumn("n_dup_tokens", coalesce(size(col("__cov")), lit(0)))
      .withColumn("text_clean", when(col("__cov").isNull, col(textCol))
        .otherwise(array_join(transform(
          array_except(sequence(lit(0), size(toksAgain) - 1), col("__cov")),
          p => element_at(toksAgain, p + 1)), " ")))
      .drop("__cov")
  }

  /** ExactSubstr dedup (Lee et al. 2022 §4.1, "Deduplicating Training
    * Data Makes Language Models Better"): remove every CHARACTER span
    * of length ≥ `minLen` that occurs more than once in the corpus —
    * including a second occurrence inside the SAME document, which the
    * token-window [[removeDuplicateSpans]] (cross-doc `minDocs`
    * counting) deliberately keeps.
    *
    * This is the bounded-depth suffix-grouping formulation of the
    * paper's suffix array: a span of length ≥ L is duplicated iff each
    * of its length-L windows is, and two length-L windows are equal iff
    * their suffixes agree to depth L — so grouping every suffix by its
    * depth-L prefix (keyed by md5, 16 bytes on the shuffle wire instead
    * of L) finds exactly the duplicated windows a suffix array would.
    * Work is n·L hashing (the explicit price of bounded depth, vs the
    * suffix array's O(n log n) with a far worse distributed constant);
    * the shuffle carries (fp, id, pos) rows only — document bodies
    * never move. Duplicate-window groups are found with one
    * aggregation; covered-position rebuild is per-document.
    *
    * Fully oracle-able: md5 is the one hash both engines share, and the
    * per-char rebuild replays as a string_agg over non-covered
    * positions.
    */
  def exactSubstrDedup(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 40,
                       broadcastHot: Boolean = true): DataFrame = {
    require(minLen >= 2, "minLen < 2 would strip single characters")
    val eligible = spread(df).filter(length(col(textCol)) >= minLen)
    val wins = eligible.select(col(idCol),
      posexplode(transform(
        sequence(lit(0), length(col(textCol)) - minLen),
        i => md5(col(textCol).substr(i + lit(1), lit(minLen)))))
        .as(Seq("__pos", "__fp")))
    // global occurrence count — same-document repeats count (the paper
    // removes self-repeats too); HAVING >= 2 keeps the hot set small
    val hot = wins.groupBy("__fp").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("__fp")
    // a boilerplate-heavy corpus can have a LARGE hot set — flip to a
    // shuffled semi join there, as in [[removeDuplicateSpans]]
    val covered = wins
      .join(if (broadcastHot) broadcast(hot) else hot, Seq("__fp"), "left_semi")
      .groupBy(idCol)
      .agg(collect_set(col("__pos")).as("__starts"))
      .select(col(idCol), array_sort(array_distinct(flatten(transform(
        col("__starts"), s => sequence(s, s + (minLen - 1)))))).as("__cov"))
    val chars = split(col(textCol), "")
    df.join(covered, Seq(idCol), "left")
      .withColumn("n_dup_chars", coalesce(size(col("__cov")), lit(0)))
      .withColumn("text_clean", when(col("__cov").isNull, col(textCol))
        .otherwise(array_join(transform(
          array_except(sequence(lit(0), length(col(textCol)) - 1), col("__cov")),
          p => element_at(chars, p + 1)), "")))
      .drop("__cov")
  }
}

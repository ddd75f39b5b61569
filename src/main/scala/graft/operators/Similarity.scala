package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and a random-
  * hyperplane LSH-bucketed variant as the 100 TB path.
  *
  * Dot products are sequential double folds (`aggregate`/`zip_with`,
  * codegen'd — no UDFs), so results are bit-deterministic and match the
  * DuckDB oracle's unnest-sum formulation exactly.
  */
object Similarity {

  /** Sequential double-precision dot product of two float arrays.
    * Compiled UDF loop — higher-order functions evaluate interpreted
    * with per-element boxing, and the pairwise dot is the hot inner
    * product of every similarity operator (see Dedup.minhashSignatureUdf
    * for the measurement). Fold order identical to the former
    * aggregate/zip_with formulation → bit-identical results.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.fvecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Native codegen single-pass cosine (see
    * [[graft.functions.FloatVectorCosine]]) — bit-identical to the
    * compiled dotd loops and the oracle's unnest-sum.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.fvecCosine(a, b)

  /** Compiled primitives for the dense inner loops: a row-at-a-time UDF
    * over `array<float>` deserializes (and boxes) both arrays per PAIR,
    * which dominates dense self-joins. mapPartitions with one side
    * broadcast converts each vector once and runs a tight double loop —
    * the standard dense-similarity layout (broadcast the small side,
    * stream the big side). Fold order matches [[dot]], results are
    * bit-identical.
    */
  private def dotd(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Spark round(x, 6) semantics (BigDecimal HALF_UP) for parity with
    * the Column-based operators and the DuckDB oracle.
    */
  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Brute-force cosine top-k: every query against every vector.
    * Norms are precomputed per side BEFORE the join (never recomputed
    * per pair), queries broadcast. Exact baseline for ANN recall.
    *
    * @return (query_id, vec_id, cos_sim, rank) with rank 1..k
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Float], Double)] =
      queries.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, e) => (id, e, math.sqrt(dotd(e, e))) }
    val qb = spark.sparkContext.broadcast(qs)
    val sims = Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val queries = qb.value
        it.flatMap { case (vid, emb) =>
          val vn = math.sqrt(dotd(emb, emb))
          queries.iterator.map { case (qid, qe, qn) =>
            (qid, vid, round6(dotd(qe, emb) / (qn * vn)))
          }
        }
      }
      .toDF("query_id", "vec_id", "cos_sim")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Random-hyperplane LSH signature: sign bits of `nPlanes` deterministic
    * pseudo-random hyperplane dot products, packed into a long. Vectors in
    * the same bucket are near in cosine with high probability.
    *
    * Hyperplane components are derived from a splitmix stream keyed on
    * (plane, dim) — no runtime randomness, replayable across runs.
    *
    * IMPORTANT scale/codegen note: the hyperplane matrix is passed as ONE
    * literal array-of-arrays and iterated with nested `transform` — an
    * unrolled formulation (nPlanes × dim expression nodes) sends Catalyst
    * analysis + Janino into minutes of single-core compile time before a
    * single row is processed. Keep expression trees small; loop at
    * runtime, not at plan time.
    */
  def hyperplaneBucket(emb: Column, dim: Int, nPlanes: Int): Column =
    hyperplaneBucketOffset(emb, dim, nPlanes, 0)

  private[graft] def planeComponent(plane: Int, d: Int): Double = {
    var z = (plane.toLong * 131 + d + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    // map to (-1, 1)
    (z.toDouble / Long.MaxValue.toDouble)
  }

  /** All nTables bucket signatures in one compiled pass — the
    * expression form (nested transform/aggregate over a literal plane
    * matrix) evaluates interpreted with per-element boxing and was the
    * whole cost of the ANN query. Identical fold order (sequential sum
    * over dims) → identical sign bits → identical buckets.
    */
  private[graft] def bucketsUdf(dim: Int, nPlanes: Int, nTables: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val planes: Array[Array[Double]] =
      Array.tabulate(nTables * nPlanes, dim)((p, d) => planeComponent(p, d))
    udf { (emb: Seq[Float]) =>
      val e = emb.toArray
      val n = math.min(dim, e.length)
      Array.tabulate(nTables) { t =>
        var bucket = 0L
        var p = 0
        while (p < nPlanes) {
          val row = planes(t * nPlanes + p)
          var acc = 0.0
          var d = 0
          while (d < n) { acc += e(d).toDouble * row(d); d += 1 }
          if (acc > 0) bucket |= (1L << p)
          p += 1
        }
        bucket
      }
    }
  }

  /** ANN top-k via LSH buckets with multi-probe fallback: candidates are
    * vectors sharing a bucket with the query under ANY of `nTables`
    * independent hash tables; exact cosine re-rank inside candidates.
    * Recall < 1 by design; [[bruteForceTopK]] is the audit baseline.
    */
  def annTopK(vectors: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nPlanes: Int = 6, nTables: Int = 8): DataFrame = {
    // per-table hyperplanes differ by offsetting the plane stream
    val allBuckets = bucketsUdf(dim, nPlanes, nTables)
    def tablesOf(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), posexplode(allBuckets(col("embedding"))))
        .select(col(idCol), col("pos").as("table"), col("col").as("bucket"))

    val v = tablesOf(Dedup.spread(vectors), "vec_id")
    val q = tablesOf(queries.withColumnRenamed("vec_id", "query_id"), "query_id")

    // dedup multi-table collisions on IDS ONLY — shuffling the
    // embedding arrays as part of the distinct key is pure exchange
    // weight (same layout as cosinePairsLsh); embeddings join back for
    // the re-rank, the query side broadcast, the vector side shuffled
    // once on its id
    val candIds = v.join(broadcast(q), Seq("table", "bucket"))
      .select("query_id", "vec_id").distinct()
    val candidates = candIds
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .join(vectors.select(col("vec_id"), col("embedding").as("v_emb")),
        Seq("vec_id"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    candidates
      .withColumn("cos_sim", round(cosine(col("q_emb"), col("v_emb")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  private def hyperplaneBucketOffset(emb: Column, dim: Int, nPlanes: Int,
                                     offset: Int): Column = {
    // literal (nPlanes × dim) matrix; one nested transform + aggregate
    val planes = array((0 until nPlanes).map { p =>
      array((0 until dim).map(d => lit(planeComponent(offset + p, d))): _*)
    }: _*)
    val projections = transform(planes, plane =>
      aggregate(zip_with(emb, plane, (x, w) => x.cast("double") * w),
        lit(0.0), (acc, x) => acc + x))
    // pack sign bits: bit p set iff projection p > 0
    val powers = array((0 until nPlanes).map(p => lit(1L << p)): _*)
    aggregate(
      zip_with(projections, powers,
        (proj, pw) => when(proj > 0, pw).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions vectors
    * into cells; a query probes its `nProbe` nearest cells and re-ranks
    * exactly inside them — the standard two-level ANN layout (cf.
    * FAISS IVF-Flat, public literature). At 100 TB the cell id becomes
    * the partition/bucket key: each probe touches `nProbe/nCells` of
    * the corpus instead of all of it, and cell lists can be written
    * bucketed-by-cell so a probe is a pruned scan, not a shuffle.
    *
    * The quantizer is deterministic k-means: seeds = the `nCells`
    * lowest-id vectors, `nIters` Lloyd rounds computed distributed
    * (assignment map-side against broadcast centroids; means via
    * posexplode + groupBy(cell, dim) — only nCells×dim rows ever reach
    * the driver).
    */
  private[graft] def l2(c: Array[Double], e: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(c.length, e.length)
    while (i < n) { val d = c(i) - e(i); s += d * d; i += 1 }
    s
  }

  private[graft] def nearest(cs: Array[Array[Double]], e: Array[Float]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val d = l2(cs(c), e)
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Deterministic Lloyd k-means over (id, vector) rows: seeds = the k
    * lowest-id vectors, squared-L2 assignment with strict-< first-wins
    * ties (→ lowest cell), empty cells keep their previous centroid.
    * One shuffle-free pass per round: per-partition (sum, count)
    * partials per cell, tree-combined — k×dim doubles travel, never the
    * vectors (the MLlib KMeans layout). Every discrete choice is
    * engine-portable arithmetic, which is what lets the IVF and PQ
    * oracles replay the whole fit in SQL.
    */
  private[graft] def kmeansFit(vecs: Dataset[(Long, Array[Float])], dim: Int,
                               k: Int, nIters: Int): Array[Array[Double]] = {
    val spark = vecs.sparkSession
    var centroids: Array[Array[Double]] =
      vecs.orderBy(vecs.columns.head).take(k).map(_._2.map(_.toDouble))
    for (_ <- 1 to nIters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val (sums, counts) = vecs.rdd.treeAggregate(
        (Array.fill(k, dim)(0.0), new Array[Long](k)))(
        seqOp = { case ((s, c), (_, e)) =>
          val cell = nearest(bc.value, e)
          val row = s(cell)
          val n = math.min(dim, e.length)
          var i = 0
          while (i < n) { row(i) += e(i); i += 1 }
          c(cell) += 1
          (s, c)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var cell = 0
          while (cell < k) {
            var i = 0
            while (i < dim) { s1(cell)(i) += s2(cell)(i); i += 1 }
            c1(cell) += c2(cell)
            cell += 1
          }
          (s1, c1)
        })
      centroids = centroids.zipWithIndex.map { case (old, cell) =>
        if (counts(cell) == 0) old
        else sums(cell).map(_ / counts(cell))
      }
    }
    centroids
  }

  /** All `m` per-subspace k-means fits of a product quantizer in ONE
    * set of Spark jobs: one seed `take` over the full vectors (each
    * subspace's seeds are slices of the same lowest-id rows) and ONE
    * treeAggregate per iteration carrying every subspace's (sum,
    * count) partials — m×nIters+m jobs collapse to nIters+1. Per
    * subspace the arithmetic is IDENTICAL to [[kmeansFit]] over the
    * sliced dataset: same rows in the same partition order (`map`
    * preserves partitioning), the same strict-< nearest loop over the
    * same slice values, the same in-partition add order and the same
    * tree combine order (treeAggregate's tree depends only on the
    * partition count, which is unchanged) — so every centroid
    * trajectory is bit-equal to the former per-subspace fits
    * (KmeansMultiParitySpec pins it).
    */
  private[graft] def kmeansFitMulti(vecs: Dataset[(Long, Array[Float])],
      subDim: Int, m: Int, k: Int,
      nIters: Int): Array[Array[Array[Double]]] = {
    val spark = vecs.sparkSession
    val seedRows = vecs.orderBy(vecs.columns.head).take(k).map(_._2)
    var cents: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      seedRows.map(e => java.util.Arrays.copyOfRange(e, s * subDim,
        (s + 1) * subDim).map(_.toDouble))
    }
    for (_ <- 1 to nIters) {
      val bc = spark.sparkContext.broadcast(cents)
      val (sums, counts) = vecs.rdd.treeAggregate(
        (Array.fill(m, k, subDim)(0.0), Array.fill(m, k)(0L)))(
        seqOp = { case ((s, c), (_, e)) =>
          var sub = 0
          while (sub < m) {
            val off = sub * subDim
            // nearest() over the slice, without materializing it.
            // copyOfRange zero-PADS a short tail, so a position past
            // e.length reads 0.0f here too — identical doubles,
            // identical strict-< first-wins choice
            @inline def at(i: Int): Float =
              if (off + i < e.length) e(off + i) else 0.0f
            val cs = bc.value(sub)
            var best = 0; var bd = Double.MaxValue; var cell = 0
            while (cell < cs.length) {
              val cen = cs(cell)
              var acc = 0.0; var i = 0
              val n = math.min(cen.length, subDim)
              while (i < n) { val d = cen(i) - at(i); acc += d * d; i += 1 }
              if (acc < bd) { bd = acc; best = cell }
              cell += 1
            }
            val row = s(sub)(best)
            var i = 0
            while (i < subDim) { row(i) += at(i); i += 1 }
            c(sub)(best) += 1
            sub += 1
          }
          (s, c)
        },
        combOp = { case ((s1, c1), (s2, c2)) =>
          var sub = 0
          while (sub < m) {
            var cell = 0
            while (cell < k) {
              var i = 0
              while (i < subDim) { s1(sub)(cell)(i) += s2(sub)(cell)(i); i += 1 }
              c1(sub)(cell) += c2(sub)(cell)
              cell += 1
            }
            sub += 1
          }
          (s1, c1)
        })
      cents = Array.tabulate(m) { sub =>
        cents(sub).zipWithIndex.map { case (old, cell) =>
          if (counts(sub)(cell) == 0) old
          else sums(sub)(cell).map(_ / counts(sub)(cell))
        }
      }
    }
    cents
  }

  def ivfTopK(vectors: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nCells: Int = 16, nIters: Int = 3, nProbe: Int = 4): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val vecs = Dedup.spread(vectors).select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]

    val centroids = kmeansFit(vecs, dim, nCells, nIters)
    val bc = spark.sparkContext.broadcast(centroids)
    val cellOf = udf { (e: Seq[Float]) => nearest(bc.value, e.toArray) }
    val probesOf = udf { (e: Seq[Float]) =>
      val cs = bc.value
      val ea = e.toArray
      cs.indices.map(c => (l2(cs(c), ea), c)).sorted.take(nProbe).map(_._2)
    }

    val cells = vecs.toDF("vec_id", "v_emb").withColumn("cell", cellOf(col("v_emb")))
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("cell", explode(probesOf(col("q_emb"))))

    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("vec_id"))
    cells.join(broadcast(q), Seq("cell"))
      .withColumn("cos_sim", cosRound6Udf(col("q_emb"), col("v_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_sim", "rank")
  }

  /** Fit the m per-subspace codebooks (see [[pqEncode]]) and return
    * them with the checkpointed (vec_id, embedding) dataset.
    */
  private def pqFit(vectors: DataFrame, dim: Int, m: Int, nCents: Int,
                    nIters: Int): (Array[Array[Array[Double]]],
                                   Dataset[(Long, Array[Float])]) = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val subDim = dim / m
    val spark = vectors.sparkSession
    import spark.implicits._
    val vecs = Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      // training makes nIters passes; pay the scan once
      .localCheckpoint(eager = false)
    // one multi-subspace fit: nIters+1 jobs instead of m×(nIters+1),
    // bit-equal per subspace (see kmeansFitMulti)
    (kmeansFitMulti(vecs, subDim, m, nCents, nIters), vecs)
  }

  /** Product quantization (Jégou et al. 2011, "Product Quantization
    * for Nearest Neighbor Search"): split each vector into `m`
    * contiguous subvectors of dim/m, fit an independent k-means
    * codebook per subspace ([[kmeansFit]] on the sliced dataset), and
    * encode every vector as its m nearest-centroid indices. THE memory
    * story for ANN at corpus scale: a 64-dim float vector (256 B)
    * becomes m bytes of codes (+ the shared m×nCents×subDim codebook),
    * so a 100 TB embedding store's index fits in RAM and asymmetric-
    * distance scans read codes, not vectors.
    *
    * Returns one row per (vec_id, subspace): the code and that
    * subspace's squared-L2 reconstruction error (round6) — the
    * per-subspace layout keeps the output oracle-replayable and makes
    * the quantization-error distribution directly queryable. Training
    * runs m×nIters shuffle-free treeAggregate passes; at real scale fit
    * the codebooks on a hash sample ([[Sampling.sampledIn]]) and apply
    * here — the apply scan is one pass, per-row arithmetic, no shuffle.
    */
  def pqEncode(vectors: DataFrame, dim: Int, m: Int, nCents: Int = 16,
               nIters: Int = 2): DataFrame = {
    val (codebooks, vecs) = pqFit(vectors, dim, m, nCents, nIters)
    val bc = vecs.sparkSession.sparkContext.broadcast(codebooks)
    val encode = udf { (e: Seq[Float]) =>
      val ea = e.toArray
      val cbs = bc.value
      val sd = cbs(0)(0).length
      cbs.indices.map { s =>
        val sub = java.util.Arrays.copyOfRange(ea, s * sd, (s + 1) * sd)
        val code = nearest(cbs(s), sub)
        (s, code, BigDecimal(l2(cbs(s)(code), sub))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), explode(encode(col("embedding"))).as("pq"))
      .select(col("vec_id"), col("pq._1").as("sub"),
        col("pq._2").as("code"), col("pq._3").as("sub_err"))
  }

  /** Asymmetric-distance top-k over PQ codes (the search half of
    * [[pqEncode]]): every vector's approximate squared-L2 distance to a
    * query is the sum over subspaces of the EXACT distance from the
    * query's subvector to the centroid the vector's code names — the
    * classic ADC scan. The corpus side reads codes only (m bytes/vec
    * at production nCents=256); vectors are never touched at query
    * time, which is the whole point at 100 TB. Queries ride a broadcast
    * join exactly like [[ivfTopK]]. Distances are round6'd BEFORE
    * ranking (ties → lowest vec_id) so rank decisions sit on the same
    * engine-portable values the oracle replays.
    */
  def pqTopK(vectors: DataFrame, queries: DataFrame, dim: Int, k: Int,
             m: Int = 4, nCents: Int = 16, nIters: Int = 2): DataFrame = {
    val (codebooks, vecs) = pqFit(vectors, dim, m, nCents, nIters)
    val bc = vecs.sparkSession.sparkContext.broadcast(codebooks)
    val subDim = dim / m
    val encodeCodes = udf { (e: Seq[Float]) =>
      val ea = e.toArray
      val cbs = bc.value
      cbs.indices.map { s =>
        nearest(cbs(s), java.util.Arrays.copyOfRange(
          ea, s * subDim, (s + 1) * subDim))
      }.toArray
    }
    val adc = udf { (codes: Seq[Int], q: Seq[Float]) =>
      val cbs = bc.value
      val qa = q.toArray
      var d = 0.0
      var s = 0
      while (s < codes.length) {
        d += l2(cbs(s)(codes(s)), java.util.Arrays.copyOfRange(
          qa, s * subDim, (s + 1) * subDim))
        s += 1
      }
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val codes = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), encodeCodes(col("embedding")).as("codes"))
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("vec_id"))
    codes.crossJoin(broadcast(q))
      .withColumn("adc_dist", adc(col("codes"), col("q_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "adc_dist", "rank")
  }

  /** ADC shortlist + exact re-rank — the FAISS-style production search:
    * [[pqTopK]] narrows each query to `shortlist` candidates reading
    * codes only, then TRUE squared-L2 re-ranks just those (vectors are
    * fetched for the shortlist alone — a per-query sliver, the pattern
    * every verify step in this package follows). Compression losses
    * stay in the shortlist stage where they only cost recall, never
    * precision of the returned ordering.
    */
  def pqTopKRerank(vectors: DataFrame, queries: DataFrame, dim: Int, k: Int,
                   shortlist: Int, m: Int = 4, nCents: Int = 16,
                   nIters: Int = 2): DataFrame = {
    require(shortlist >= k)
    val cand = pqTopK(vectors, queries, dim, shortlist, m, nCents, nIters)
      .select("query_id", "vec_id")
    val exactL2 = udf { (q: Seq[Float], v: Seq[Float]) =>
      BigDecimal(l2(q.map(_.toDouble).toArray, v.toArray))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val w = Window.partitionBy("query_id").orderBy(col("dist"), col("vec_id"))
    cand
      .join(vectors.select(col("vec_id").cast("long"),
        col("embedding").as("v_emb")), Seq("vec_id"))
      .join(broadcast(queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .withColumn("dist", exactL2(col("q_emb"), col("v_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dist", "rank")
  }

  /** round6'd cosine — Spark `round(_, 6)` is BigDecimal HALF_UP, the
    * same rounding as [[round6]], over the same fold order: values are
    * bit-identical to the compiled dotd loops.
    */
  private[graft] def cosRound6Udf(a: Column, b: Column): Column =
    round(cosine(a, b), 6)

  /** The storable hyperplane-LSH vector index artifact: (id, table,
    * bucket) sign-bit buckets — what a standing embedding corpus
    * persists so arriving batches dedup against it without touching
    * corpus vectors (nTables ints per vector). The deterministic
    * planes replay in SQL, which is what keeps every consumer fully
    * oracled.
    */
  def vectorBuckets(vectors: DataFrame, dim: Int, nPlanes: Int = 8,
                    nTables: Int = 12): DataFrame = {
    val allBuckets = bucketsUdf(dim, nPlanes, nTables)
    Dedup.spread(vectors)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
      .select(col("id"), posexplode(allBuckets(col("embedding"))))
      .select(col("id"), col("pos").as("table"), col("col").as("bucket"))
  }

  /** Incremental embedding near-dup — the vector twin of
    * [[graft.operators.Dedup.incrementalNearDups]]: an arriving batch
    * probes the standing corpus' persisted [[vectorBuckets]] index on
    * (table, bucket), exact cosine verifies only the colliding
    * candidates (corpus vectors fetched for that sliver), and every
    * batch vector comes back with its best verified match (highest
    * cos_sim, ties to the smallest corpus id) — NULLs = semantically
    * novel.
    */
  def incrementalCosineDups(corpusBuckets: DataFrame, corpusVecs: DataFrame,
                            batch: DataFrame, threshold: Double, dim: Int,
                            nPlanes: Int = 8, nTables: Int = 12): DataFrame = {
    val b = batch.select(col("vec_id").cast("long"), col("embedding"))
      .localCheckpoint(eager = false) // feeds banding, verify, id spine
    val verified = incrementalCosineVerifiedPairs(corpusBuckets, corpusVecs,
      b, threshold, dim, nPlanes, nTables)

    val w = Window.partitionBy("id_new")
      .orderBy(desc("cos_sim"), col("id_corpus"))
    val best = verified
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("id_new"), col("id_corpus").as("dup_of"), col("cos_sim"))

    b.select(col("vec_id").as("id_new"))
      .join(best, Seq("id_new"), "left")
      .select(col("id_new").as("vec_id"), col("dup_of"), col("cos_sim"))
  }

  /** The pair-level core of [[incrementalCosineDups]] — every verified
    * (batch vector, corpus vector) match as (id_new, id_corpus,
    * cos_sim), before best-match folding; the streaming twin
    * ([[graft.streaming.StreamingNearDup.incrementalCosineStream]])
    * emits exactly this relation. Scans `batch` twice — callers with a
    * derived input should materialize it first.
    */
  def incrementalCosineVerifiedPairs(corpusBuckets: DataFrame,
                                     corpusVecs: DataFrame, batch: DataFrame,
                                     threshold: Double, dim: Int,
                                     nPlanes: Int = 8,
                                     nTables: Int = 12): DataFrame = {
    val candidates = vectorBuckets(batch, dim, nPlanes, nTables)
      .select(col("id").as("id_new"), col("table"), col("bucket"))
      .join(corpusBuckets.select(col("id").as("id_corpus"),
        col("table"), col("bucket")), Seq("table", "bucket"))
      .select("id_new", "id_corpus").distinct()

    candidates
      .join(batch.select(col("vec_id").cast("long").as("id_new"),
        col("embedding").as("e_new")), Seq("id_new"))
      .join(corpusVecs.select(col("vec_id").cast("long").as("id_corpus"),
        col("embedding").as("e_corpus")), Seq("id_corpus"))
      .withColumn("cos_sim", cosRound6Udf(col("e_new"), col("e_corpus")))
      .filter(col("cos_sim") >= threshold)
      .select("id_new", "id_corpus", "cos_sim")
  }

  /** [[cosinePairsLsh]] with the plane family sized FROM the data —
    * the 100× scaling study's finding (SCALING.md round-10 table): a
    * fixed `nPlanes` fixes the bucket count, so occupancy — and the
    * intra-bucket pair enumeration — grows linearly with n and the
    * operator heads quadratic. Expected bucket occupancy is
    * ~n / 2^nPlanes, so holding it at `targetOccupancy` needs
    * nPlanes = ceil(log2(n / target)): one cheap count() (at 100 TB the
    * caller passes the known corpus size instead) and the family grows
    * logarithmically. Recall lost to the finer buckets is bought back
    * with bands, the standard LSH trade — `nTables` stays the caller's
    * knob. Not a gate: the gate replays a FIXED plane family in its
    * oracle; this wrapper exists for the production path and is
    * spec-pinned on the occupancy bound instead.
    */
  def cosinePairsLshAuto(vectors: DataFrame, threshold: Double, dim: Int,
                         nTables: Int = 12, targetOccupancy: Int = 16,
                         knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(vectors.count()).max(1L)
    val nPlanes = math.max(4,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2)).toInt)
    cosinePairsLsh(vectors, threshold, dim, nPlanes, nTables)
  }

  /** Embedding-cosine near-dup pairs at scale: hyperplane-LSH bucket
    * candidates (any shared bucket across `nTables` tables), then exact
    * cosine verification — precision 1.0, recall < 1 by design;
    * [[cosinePairs]] is the audit baseline. Same bucket-collect pair
    * generation as the text dedup operators.
    */
  def cosinePairsLsh(vectors: DataFrame, threshold: Double, dim: Int,
                     nPlanes: Int = 8, nTables: Int = 12): DataFrame = {
    val base = Dedup.spread(vectors)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
    val banded = vectorBuckets(vectors, dim, nPlanes, nTables)
    val candidates = banded.groupBy("table", "bucket")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(Dedup.pairsUdf(col("ids"))).as("p"))
      .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      .distinct()
    candidates
      .join(base.select(col("id").as("id_a"), col("embedding").as("ea")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("embedding").as("eb")), Seq("id_b"))
      .withColumn("cos_sim", cosRound6Udf(col("ea"), col("eb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  /** Embedding-cosine near-dup pairs: all pairs with cosine >= threshold.
    * Exact O(n²) formulation for the oracle; at scale, route through
    * [[cosinePairsLsh]] (bucketed candidates + exact verify).
    */
  def cosinePairs(vectors: DataFrame, threshold: Double): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // broadcast the whole (id, vector, norm) set — a dense all-pairs scan
    // is only sane when one side fits in memory; beyond that, route
    // through LSH buckets (annTopK) and verify candidates instead
    val all: Array[(Long, Array[Float], Double)] =
      vectors.select(col("vec_id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
        .map { case (id, e) => (id, e, math.sqrt(dotd(e, e))) }
    val ab = spark.sparkContext.broadcast(all)
    Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val vs = ab.value
        it.flatMap { case (ida, ea) =>
          val na = math.sqrt(dotd(ea, ea))
          vs.iterator
            .filter(_._1 > ida)
            .map { case (idb, eb, nb) => (ida, idb, round6(dotd(ea, eb) / (na * nb))) }
            .filter(_._3 >= threshold)
        }
      }
      .toDF("id_a", "id_b", "cos_sim")
  }

  /** Nearest-centroid assignment by cosine with DECIMAL-exact
    * accumulation, as a broadcast map instead of a join fan-out: the
    * centroid relation `(clabel, pos, y)` is provably tiny (labels ×
    * dims), so it collects to the driver and every vector computes its
    * dot/norms against all centroids in one compiled pass — no
    * (vectors × labels × dims) shuffle expansion, which at corpus scale
    * is the difference between one scan and a 10× data explosion.
    *
    * Values are bit-identical to the relational formulation (and the
    * DuckDB oracle): each product is rounded to DECIMAL(38,18) exactly
    * as Spark's double→decimal cast does (BigDecimal.valueOf = shortest
    * decimal representation, then HALF_UP to scale 18), partial sums are
    * exact decimals (order-free), and the final cosine/argmax runs in
    * doubles with ties resolved to the smallest label.
    *
    * @param centroids `(clabel int, pos int, y double)` — per-label mean
    *   vectors, e.g. from a decimal-mean aggregation
    * @return `vectors` with a `pred_label` column appended
    */
  def assignNearestCentroidExact(vectors: DataFrame, centroids: DataFrame,
                                 vecCol: String = "embedding"): DataFrame = {
    def dec(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(18, java.math.RoundingMode.HALF_UP)
    val rows = centroids
      .select(col("clabel").cast("int"), col("pos").cast("int"), col("y").cast("double"))
      .collect()
    val dim = rows.map(_.getInt(1)).max + 1
    val cents: Array[(Int, Array[Double])] = rows.groupBy(_.getInt(0)).toArray
      .map { case (c, rs) =>
        val y = new Array[Double](dim)
        rs.foreach(r => y(r.getInt(1)) = r.getDouble(2))
        (c, y)
      }.sortBy(_._1)
    val norms: Array[Double] = cents.map { case (_, y) =>
      math.sqrt(y.foldLeft(java.math.BigDecimal.ZERO)((a, v) => a.add(dec(v * v)))
        .doubleValue())
    }
    val assign = udf { (emb: Seq[Float]) =>
      val x = emb.toArray
      var nx = java.math.BigDecimal.ZERO
      var i = 0
      while (i < x.length) {
        val xd = x(i).toDouble
        nx = nx.add(dec(xd * xd))
        i += 1
      }
      val nxr = math.sqrt(nx.doubleValue())
      var best = -1
      var bestCos = Double.NegativeInfinity
      var c = 0
      while (c < cents.length) {
        val y = cents(c)._2
        var dot = java.math.BigDecimal.ZERO
        var j = 0
        while (j < x.length) {
          dot = dot.add(dec(x(j).toDouble * y(j)))
          j += 1
        }
        val cos = dot.doubleValue() / (nxr * norms(c))
        // strictly greater: the first (smallest) label wins ties, the
        // same resolution as ORDER BY cos DESC, clabel
        if (cos > bestCos) { bestCos = cos; best = cents(c)._1 }
        c += 1
      }
      best
    }
    vectors.withColumn("pred_label", assign(col(vecCol)))
  }

  /** Symmetric per-vector int8 quantization: `q_i = round(x_i * 127 /
    * max|x|)` — 4× smaller vectors for ANN candidate generation and
    * cache-resident re-rank at corpus scale (dequantize with `scale` =
    * `max|x| / 127`). Per-row only, no shuffle; float→double widening
    * and the divide are exact IEEE ops, so quantized values are
    * engine-portable (full DuckDB oracle, unlike the sketch operators).
    * All-zero vectors quantize to zeros with scale 0.
    *
    * `amax` is materialized as its own column first: the transform
    * lambda reads it per element, and interpreted higher-order eval
    * would re-reduce the whole array per element if it were inline.
    */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(idCol), col(vecCol))
      .withColumn("__amax",
        aggregate(col(vecCol), lit(0.0),
          (acc, v) => greatest(acc, abs(v.cast("double")))))
      .withColumn("qvec",
        when(col("__amax") === 0.0,
          transform(col(vecCol), _ => lit(0)))
        .otherwise(transform(col(vecCol),
          v => round(v.cast("double") * (lit(127.0) / col("__amax"))).cast("int"))))
      .withColumn("scale", round(col("__amax") / lit(127.0), 9))
      .drop("__amax")

  /** IVF-PQ: the production ANN layout at corpus scale (cf. FAISS
    * IVFPQ, Jégou et al. 2011) — a coarse k-means quantizer
    * ([[kmeansFit]], the [[ivfTopK]] cells) prunes the corpus to
    * `nProbe` cells per query, and inside the probed cells the ADC scan
    * reads `m`-byte PQ codes instead of vectors. The two compressions
    * compound: a 100 TB embedding store becomes cell-bucketed code
    * lists that fit in executor memory, each probe touches
    * `nProbe/nCells` of them, and raw vectors are never read at query
    * time. Codes are fit on raw vectors (the residual-free IVFPQ
    * variant), which keeps them identical to [[pqEncode]]'s and the
    * whole composition oracle-replayable; exact re-rank composes on top
    * exactly as [[pqTopKRerank]] does over [[pqTopK]].
    *
    * A (query, vector) pair survives at most once: a vector lives in
    * exactly one cell, and probed cells are distinct.
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, dim: Int, k: Int,
                nCells: Int = 16, cellIters: Int = 3, nProbe: Int = 4,
                m: Int = 4, nCents: Int = 16, pqIters: Int = 2): DataFrame = {
    require(dim % m == 0, "dim must divide into m equal subspaces")
    val spark = vectors.sparkSession
    import spark.implicits._
    val subDim = dim / m
    val vecs = Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .localCheckpoint(eager = false) // coarse + m subspace fits share the scan
    val coarse = kmeansFit(vecs, dim, nCells, cellIters)
    // one multi-subspace fit for the PQ codebooks: pqIters+1 jobs
    // instead of m×(pqIters+1), bit-equal per subspace
    val codebooks = kmeansFitMulti(vecs, subDim, m, nCents, pqIters)
    val bcC = spark.sparkContext.broadcast(coarse)
    val bcB = spark.sparkContext.broadcast(codebooks)
    val cellOf = udf { (e: Seq[Float]) => nearest(bcC.value, e.toArray) }
    val probesOf = udf { (e: Seq[Float]) =>
      val cs = bcC.value
      val ea = e.toArray
      cs.indices.map(c => (l2(cs(c), ea), c)).sorted.take(nProbe).map(_._2)
    }
    val encodeCodes = udf { (e: Seq[Float]) =>
      val ea = e.toArray
      val cbs = bcB.value
      cbs.indices.map(s => nearest(cbs(s), java.util.Arrays.copyOfRange(
        ea, s * subDim, (s + 1) * subDim))).toArray
    }
    val adc = udf { (codes: Seq[Int], q: Seq[Float]) =>
      val cbs = bcB.value
      val qa = q.toArray
      var d = 0.0
      var s = 0
      while (s < codes.length) {
        d += l2(cbs(s)(codes(s)), java.util.Arrays.copyOfRange(
          qa, s * subDim, (s + 1) * subDim))
        s += 1
      }
      BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // the stored index: (cell, codes) per vector — cell is the bucket
    // key a real deployment partitions/buckets the code lists by
    val corpus = vecs.toDF("vec_id", "embedding")
      .select(col("vec_id"), cellOf(col("embedding")).as("cell"),
        encodeCodes(col("embedding")).as("codes"))
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("q_emb"))
      .withColumn("cell", explode(probesOf(col("q_emb"))))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist"), col("vec_id"))
    corpus.join(broadcast(q), Seq("cell"))
      .withColumn("adc_dist", adc(col("codes"), col("q_emb")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "adc_dist", "rank")
  }

  /** Plane-index offset for [[randomProject]]'s matrix — disjoint from
    * the LSH tables' plane family (which starts at 0) so projection
    * components and bucket hyperplanes are independent draws of the
    * same splitmix stream.
    */
  private[graft] val ProjPlaneOffset: Int = 1 << 20

  /** Johnson–Lindenstrauss random projection: embed `dim`-dim vectors
    * into `outDim` dims with a deterministic hash-derived matrix
    * (uniform(-1,1) splitmix components — [[planeComponent]], the same
    * public construction as the LSH hyperplanes), scaled by
    * `sqrt(3/outDim)` so expected pairwise distances are preserved
    * (component variance is 1/3). Per-row only — no shuffle, no fit, no
    * state to ship; at 100 TB this is the cheap front-end that shrinks
    * vectors 4× before ANN indexing or clustering, and any executor can
    * regenerate the matrix from the two ints.
    *
    * Output is the flat (vec_id, pos, val) relation with `val` rounded
    * to 6 (the same fold order + rounding the cosine oracles
    * hash-match); the spec audits distance preservation and the
    * rounding margin.
    */
  def randomProject(vectors: DataFrame, dim: Int, outDim: Int = 16,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val planes: Array[Array[Double]] =
      Array.tabulate(outDim, dim)((p, d) => planeComponent(ProjPlaneOffset + p, d))
    val scale = math.sqrt(3.0 / outDim)
    val proj = udf { (emb: Seq[Float]) =>
      val e = emb.toArray
      val n = math.min(dim, e.length)
      Array.tabulate(outDim) { p =>
        val row = planes(p)
        var acc = 0.0
        var d = 0
        while (d < n) { acc += e(d).toDouble * row(d); d += 1 }
        BigDecimal(acc * scale)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    vectors.select(col(idCol).cast("long").as("vec_id"),
        posexplode(proj(col(vecCol))))
      .select(col("vec_id"), col("pos").cast("int").as("pos"),
        col("col").as("val"))
  }

  /** SemDeDup (cluster-then-dedup semantic deduplication, Abbas et al.
    * 2023, arXiv:2303.09540): partition the embedding space with the
    * deterministic IVF k-means ([[kmeansFit]] — same seeds/rounds as
    * [[ivfTopK]], so the whole fit replays in SQL), then look for
    * near-duplicates ONLY inside each cluster — pairwise work drops
    * from n² to n × cellSize, and the candidate join shuffles on the
    * cell id, never crossing clusters. Within a cluster, a vector is a
    * duplicate when some SMALLER-id cluster-mate has cosine ≥ `tau`
    * (the greedy min-id representative — deterministic, and the
    * EXISTS-smaller-neighbor form the oracle replays directly).
    *
    * Returns one row per vector: (vec_id, cell, n_near, keep) where
    * `n_near` counts in-cell neighbors at ≥ `tau` and `keep` marks the
    * representatives (the rows a curation pipeline retains).
    *
    * At 100 TB: `nCells` grows with the corpus so cell size stays
    * bounded (the paper's regime — k in the tens of thousands), the
    * fit's treeAggregate moves k×dim doubles per round, and only
    * (cell, id, vector) rows shuffle once. A pathologically hot cell is
    * the same skew as a hot LSH bucket — split it by re-clustering the
    * cell or salt the self-join; at the gate shape cells are balanced
    * (22–40 of 500), asserted in the spec.
    */
  def semDedup(vectors: DataFrame, dim: Int, nCells: Int = 16,
               nIters: Int = 3, tau: Double = 0.3): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val vecs = Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val centroids = kmeansFit(vecs, dim, nCells, nIters)
    val bc = spark.sparkContext.broadcast(centroids)
    val cellOf = udf { (e: Seq[Float]) => nearest(bc.value, e.toArray) }
    val cells = vecs.toDF("vec_id", "embedding")
      .withColumn("cell", cellOf(col("embedding")))
      .localCheckpoint(false) // assignment feeds both pair sides + output
    val near = cells.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("ea"))
      .join(cells.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("eb")), Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosRound6Udf(col("ea"), col("eb")) >= tau)
      .select("id_a", "id_b")
    val nNear = near.select(col("id_a").as("vec_id"))
      .union(near.select(col("id_b").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("n_near"))
    // id_b of any near pair has a smaller in-cell neighbor → duplicate
    val dups = near.select(col("id_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    cells.select("vec_id", "cell")
      .join(nNear, Seq("vec_id"), "left")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        col("__dup").isNull.as("keep"))
  }

  /** Centroid-distance outlier screen — the OOD filter an embedding
    * corpus runs before (or alongside) SemDeDup: vectors far from
    * every cluster center are encoder failures, garbled inputs, or
    * genuine out-of-distribution content, and both dedup and training
    * mixes want them surfaced. Score = exact squared L2 to the
    * ASSIGNED centroid of the shared deterministic k-means
    * ([[kmeansFit]] — same seeds/rounds as IVF, so the oracle replays
    * the fit verbatim); a vector is flagged when its distance exceeds
    * its own CELL's nearest-rank p-quantile — per-cell thresholds,
    * because a tight cluster's outlier is a loose cluster's median.
    *
    * Distributed shape: the fit's treeAggregate moves nCells×dim
    * doubles per round; assignment + distance is one broadcast-centroid
    * map pass (no join fan-out, the [[assignNearestCentroidExact]]
    * layout); the threshold window partitions by cell. Determinism:
    * the argmin cell choice rides the k-means margin; the distance
    * VALUE accumulates in DECIMAL(38,18) (order-free) and rounds to 6.
    *
    * @return (vec_id, cell, dist2, thr, is_outlier)
    */
  def centroidOutliers(vectors: DataFrame, dim: Int, nCells: Int = 16,
                       nIters: Int = 3, q: Double = 0.9): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    require(q > 0 && q <= 1)
    val vecs = Dedup.spread(vectors)
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
    val centroids = kmeansFit(vecs, dim, nCells, nIters)
    val bc = spark.sparkContext.broadcast(centroids)
    def dec18(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x).setScale(18, java.math.RoundingMode.HALF_UP)
    val assign = udf { (e: Seq[Float]) =>
      val ea = e.toArray
      val cell = nearest(bc.value, ea)
      val y = bc.value(cell)
      var acc = java.math.BigDecimal.ZERO
      val n = math.min(y.length, ea.length)
      var i = 0
      while (i < n) {
        val d = y(i) - ea(i)
        acc = acc.add(dec18(d * d))
        i += 1
      }
      (cell, round6(acc.doubleValue()))
    }
    val scored = vecs.toDF("vec_id", "embedding")
      .withColumn("__a", assign(col("embedding")))
      .select(col("vec_id"), col("__a._1").as("cell"), col("__a._2").as("dist2"))
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy("cell").orderBy(col("dist2"), col("vec_id"))
    val wn = Window.partitionBy("cell")
    val ranked = scored
      .withColumn("__rk", row_number().over(wr).cast("long"))
      .withColumn("__n", count(lit(1)).over(wn))
    val thr = ranked
      .filter(col("__rk") === ceil(col("__n") * q).cast("long"))
      .select(col("cell"), col("dist2").as("thr"))
    scored.join(thr, "cell")
      .select(col("vec_id"), col("cell"), col("dist2"), col("thr"),
        (col("dist2") > col("thr")).as("is_outlier"))
  }

  /** Matryoshka truncation (Kusupati et al. 2022): keep the first
    * `dims` components and L2-renormalize — the MRL serving trick that
    * trades a controlled recall loss for dims/64 of the memory and ANN
    * cost. Pure per-row work (slice, one sequential fold for the norm,
    * one transform), no shuffle, codegen-visible; the explode at the
    * end is only the gate's per-dim output shape.
    *
    * Determinism: components round6'd, the norm is a LEFT fold over
    * round6 squares then round6'd (both engines fold the same values
    * in the same order), each output component rounds back to 6.
    *
    * @return (idCol, dim, val) — the renormalized prefix, one row per
    *         dimension
    */
  def matryoshka(vecs: DataFrame, dims: Int, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    require(dims > 0)
    vecs
      .withColumn("__xs", transform(slice(col(vecCol), 1, dims),
        x => round(x.cast("double"), 6)))
      .withColumn("__nrm", round(sqrt(aggregate(col("__xs"), lit(0.0),
        (acc, x) => acc + round(x * x, 6))), 6))
      .select(col(idCol),
        posexplode(transform(col("__xs"), x => round(x / col("__nrm"), 6)))
          .as(Seq("dim", "val")))
  }

  /** Embedding distribution drift between two corpus slices (a new
    * batch vs the standing corpus, one source vs another): per-
    * dimension mean difference — the cheap monitor a pipeline runs
    * before trusting that this week's crawl embeds like last week's.
    * One posexplode scan per side, a dims-sized aggregate each (the
    * shuffle is `dims` rows per partition), and a dims-row join.
    *
    * Determinism: components rounded to 6 before the DECIMAL(38,6)
    * sum; the mean divides AFTER the cast to double (both engines then
    * run the identical double division), diff rounds back to 6.
    *
    * @return (dim, mean_a, mean_b, diff) — one row per dimension
    */
  def embeddingDrift(a: DataFrame, b: DataFrame,
                     vecCol: String = "embedding"): DataFrame = {
    def dimMeans(df: DataFrame, out: String) =
      df.select(posexplode(col(vecCol)).as(Seq("dim", "__x")))
        .select(col("dim"), round(col("__x").cast("double"), 6).as("__x"))
        .groupBy("dim")
        .agg(round(sum(col("__x").cast("decimal(38,6)")).cast("double") /
          count(lit(1)), 6).as(out))
    dimMeans(a, "mean_a").join(dimMeans(b, "mean_b"), "dim")
      .select(col("dim"), col("mean_a"), col("mean_b"),
        round(col("mean_a") - col("mean_b"), 6).as("diff"))
  }

  /** Exact covariance matrix of the embedding distribution in ONE
    * pass — the statistic behind whitening, PCA, and drift detection
    * beyond per-dim means.
    *
    * Scale + determinism together: each partition accumulates its Gram
    * matrix and dimension sums in INTEGER micro-units (components
    * rounded to 6 decimals then scaled 1e6 — long adds are exact and
    * order-free, so the result is independent of partitioning, unlike
    * a double treeAggregate), emitting dims² cells per PARTITION; the
    * shuffle is partitions·dims² tiny rows, never the vectors. Bounds:
    * |u| ≤ ~2^21 for unit-norm-ish embeddings, so a cell sum stays
    * within long for ~2^21 rows per partition per unit magnitude —
    * size partitions accordingly (a require guards the conversion).
    * Covariance derives from the exact longs in double at the end —
    * identical in every engine, hence the full value oracle.
    *
    * @return (i, j, cov) for all dims² pairs, population covariance
    */
  def covarianceMatrix(vecs: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cells = vecs.select(col(vecCol)).as[Array[Float]]
      .mapPartitions { it =>
        var gram: Array[Long] = null
        var sums: Array[Long] = null
        var n = 0L
        var dims = 0
        it.foreach { emb =>
          if (gram == null) {
            dims = emb.length
            gram = new Array[Long](dims * dims)
            sums = new Array[Long](dims)
          }
          val u = new Array[Long](dims)
          var i = 0
          while (i < dims) {
            u(i) = math.round(round6(emb(i).toDouble) * 1e6)
            sums(i) += u(i)
            i += 1
          }
          i = 0
          while (i < dims) {
            var j = 0
            val ui = u(i)
            while (j < dims) {
              gram(i * dims + j) += ui * u(j)
              j += 1
            }
            i += 1
          }
          n += 1
        }
        if (gram == null) Iterator.empty
        else Iterator.tabulate(dims * dims) { k =>
          (k / dims, k % dims, gram(k), sums(k / dims), sums(k % dims), n)
        }
      }
      .toDF("i", "j", "s_ij", "s_i", "s_j", "n")
    // cov = (n·s_ij − s_i·s_j) / (n²·10¹²): the numerator is an EXACT
    // integer (micro² units), so the 6-decimal value comes from exact
    // half-away integer division (Round6.decRatio6, DECIMAL(38,0) —
    // n·s_ij overflows a long past ~10⁶ rows/unit-norm) rather than a
    // double-path round(). Two birds: kills the residual half-ulp
    // knife edge of the quotient AND the signed-zero render (a
    // negative exact-zero cell printed `-0.0` in DuckDB, `0.0` in
    // Spark — value-equal, hash-different).
    // cross-partition totals accumulate in DECIMAL(38,0): the
    // per-partition Gram cells are longs (guarded), but their SUM
    // over a corpus passes a long at ~10⁹ rows per unit magnitude
    cells.groupBy("i", "j")
      .agg(sum(col("s_ij").cast("decimal(38,0)")).as("s_ij"),
        sum(col("s_i").cast("decimal(38,0)")).as("s_i"),
        sum(col("s_j").cast("decimal(38,0)")).as("s_j"),
        sum("n").as("n"))
      .select(col("i"), col("j"),
        graft.core.Round6.decRatio6(
          col("n").cast("decimal(38,0)") * col("s_ij") -
            col("s_i") * col("s_j"),
          col("n").cast("decimal(38,0)") * col("n") * lit(1000000000000L)
        ).as("cov"))
  }

  /** PCA whitening: project onto the covariance eigenbasis and scale
    * each axis by 1/√(λ+ε) so the whitened distribution has identity
    * covariance — the standard conditioning step before PQ/IVF
    * training (k-means cells degrade on anisotropic data).
    *
    * The dims×dims eigen-decomposition runs on the DRIVER (cyclic
    * Jacobi with a fixed sweep count — deterministic for a given
    * matrix; dims² is tiny next to the corpus) and broadcasts back as
    * a literal rotation; the per-row projection is one scan. This is
    * the same collect-boundary as k-means centroids: model-sized, not
    * data-sized.
    *
    * @return (vec_id, whitened) with `whitened` an Array[Float] in
    *         eigenvalue-descending axis order
    */
  def whiten(vecs: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding", eps: Double = 1e-6): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val covRows = covarianceMatrix(vecs, vecCol).collect()
    val dims = covRows.map(_.getInt(0)).max + 1
    val cov = Array.ofDim[Double](dims, dims)
    covRows.foreach(r => cov(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val (eigVals, eigVecs) = jacobiEigen(cov, sweeps = 16)
    // order axes by eigenvalue descending, build rows of W = D^{-1/2}ᵀVᵀ
    val order = eigVals.zipWithIndex.sortBy { case (v, i) => (-v, i) }.map(_._2)
    val w: Array[Array[Double]] = order.map { k =>
      val s = 1.0 / math.sqrt(math.max(eigVals(k), 0.0) + eps)
      Array.tabulate(dims)(d => eigVecs(d)(k) * s)
    }
    // means for centering
    val meanArr = {
      val m = vecs.select(col(vecCol)).as[Array[Float]]
        .mapPartitions { it =>
          var sums: Array[Long] = null; var n = 0L
          it.foreach { e =>
            if (sums == null) sums = new Array[Long](e.length)
            var i = 0
            while (i < e.length) {
              sums(i) += math.round(round6(e(i).toDouble) * 1e6); i += 1 }
            n += 1
          }
          if (sums == null) Iterator.empty else Iterator.single((sums, n))
        }.collect()
      val total = new Array[Double](dims)
      val n = m.map(_._2).sum
      m.foreach { case (s, _) =>
        var i = 0; while (i < dims) { total(i) += s(i); i += 1 } }
      total.map(_ / 1e6 / n)
    }
    val wb = spark.sparkContext.broadcast((w, meanArr))
    val project = udf { (emb: Array[Float]) =>
      val (mat, mean) = wb.value
      val centered = Array.tabulate(emb.length)(i => emb(i).toDouble - mean(i))
      mat.map { row =>
        var acc = 0.0
        var i = 0
        while (i < centered.length) { acc += row(i) * centered(i); i += 1 }
        acc.toFloat
      }
    }
    vecs.select(col(idCol), project(col(vecCol)).as("whitened"))
  }

  /** Cyclic Jacobi eigen-decomposition for the driver-side dims×dims
    * covariance: fixed sweep order and count, no data-dependent
    * branching on magnitudes beyond the standard zero-rotation skip —
    * deterministic for a given input. Returns (eigenvalues,
    * eigenvectors as columns).
    */
  private[operators] def jacobiEigen(a0: Array[Array[Double]],
                                     sweeps: Int): (Array[Double], Array[Array[Double]]) = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until n - 1; q <- p + 1 until n) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        // theta == 0 (equal diagonal) rotates 45°; signum(0) would
        // silently never annihilate the pair
        val t =
          if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (k <- 0 until n) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until n) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until n) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    (Array.tabulate(n)(i => a(i)(i)), v)
  }

  /** Sign-bit binary quantization: dimension j → bit (embedding[j] > 0),
    * packed 32 dims per unsigned word — the vector-DB compression that
    * turns a 64-float vector into 8 bytes and cosine search into XOR +
    * popcount (Hamming ≈ angular distance for mean-centered data).
    * Words are unsigned 32-bit in BIGINTs (the [[ImageHash]]
    * discipline): no sign-bit edge cases in any engine.
    *
    * Per-row, no shuffle, codegen'd comparisons. Returns
    * (vec_id, bits) with bits = array of ceil(dim/32) words; word w
    * bit j = dimension w*32+j.
    */
  def binaryQuantize(vecs: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val dim = vecs.select(size(col(vecCol))).first().getInt(0)
    val nWords = (dim + 31) / 32
    val words = (0 until nWords).map { w =>
      val hi = math.min(dim - w * 32, 32)
      (0 until hi).map { j =>
        // element_at is 1-based
        when(element_at(col(vecCol), w * 32 + j + 1) > 0f,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    vecs.select(col(idCol).as("vec_id"), array(words: _*).as("bits"))
  }

  /** Hamming top-k over binary-quantized vectors: queries quantize and
    * broadcast (k · nWords longs), candidates stream through one scan
    * computing XOR+popcount per word — no shuffle until the final
    * per-query top-k window over |queries|·|vectors| distance rows
    * (partitioned by query, the [[bruteForceTopK]] shape). The
    * 8-byte-per-vector memory posture is the point: at 100 TB the
    * binary index fits where floats don't, and exact re-rank reads
    * floats for the k survivors only.
    *
    * Ties break on vec_id — fully deterministic, full value oracle.
    */
  def hammingTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qs: Array[(Long, Array[Long])] =
      binaryQuantize(queries, idCol, vecCol)
        .select(col("vec_id").cast("long"), col("bits"))
        .as[(Long, Array[Long])].collect().sortBy(_._1)
    val qb = spark.sparkContext.broadcast(qs)
    val dists = binaryQuantize(Dedup.spread(vectors), idCol, vecCol)
      .select(col("vec_id").cast("long"), col("bits"))
      .as[(Long, Array[Long])]
      .mapPartitions { it =>
        val queries = qb.value
        it.flatMap { case (vid, bits) =>
          queries.iterator.map { case (qid, qbits) =>
            var d = 0
            var w = 0
            while (w < bits.length) {
              d += java.lang.Long.bitCount(bits(w) ^ qbits(w))
              w += 1
            }
            (qid, vid, d.toLong)
          }
        }
      }
      .toDF("query_id", "vec_id", "dist")
    val w = Window.partitionBy("query_id")
      .orderBy(col("dist").asc, col("vec_id"))
    dists.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "dist", "rank")
  }
}

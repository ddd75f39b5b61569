package graft.operators

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Audits for the sketch-based operators the DuckDB oracle can't check:
  * MinHash recall vs exact Jaccard, SimHash on planted near-dups, ANN
  * recall vs the brute-force baseline. Runs at sf0.001 (fast).
  */
class OperatorsSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")

  private val Boilerplate =
    "subscribe to our newsletter today for the latest updates and offers"

  /** `docs` with a fixed boilerplate sentence appended to `hotPct`% of
    * them (hash-selected, deterministic): its shingles get a document
    * frequency of about hotPct·N/100, the Zipfian head of a real crawl.
    * The added ~10 shingles on a ~60-shingle union (J ≈ 0.17) leave the
    * pairs at threshold 0.5 unchanged.
    */
  private def hotCorpus(docs: org.apache.spark.sql.DataFrame, hotPct: Int) =
    docs.withColumn("text",
      when(pmod(hash(col("doc_id")), lit(100)) < lit(hotPct),
        concat(col("text"), lit(" " + Boilerplate))).otherwise(col("text")))

  test("exact dedup keeps one survivor per fingerprint") {
    import spark.implicits._
    val withDups = docs.select($"doc_id", $"text")
      .union(docs.select($"doc_id" + 100000, $"text").limit(10))
    val out = Dedup.exactDedup(withDups, "doc_id", "text")
    assert(out.count() == docs.count()) // the 10 re-inserted texts dropped
    // survivors are the minimal ids
    assert(out.filter($"doc_id" >= 100000).count() == 0)
  }

  test("minhash LSH achieves full recall on high-jaccard pairs (j >= 0.9)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // precision is exact by construction (candidates verified);
    // recall at j>=0.9 with 16 bands × 4 rows is ~1 - 1.6e-6
    assert(lsh == exact)
  }

  test("OPH-LSH achieves full recall on high-jaccard pairs; densification fills every bin") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oph = Dedup.ophLshPairs(docs, "doc_id", "text", 3, 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // precision exact by construction; OPH collision probability per
    // densified bin ~ jaccard, so the 16x4 band curve matches minhash
    assert(oph == exact)
    // every doc carries exactly k densified bins, none empty
    val sigs = Dedup.ophSignatures(docs, "doc_id", "text", 3)
    val perDoc = sigs.groupBy("id").count().select("count").distinct().collect()
    assert(perDoc.map(_.getLong(0)).toSeq == Seq(64L))
    assert(sigs.filter(org.apache.spark.sql.functions.col("sig").isNull).count() == 0)
  }

  test("OPH densification borrows cyclically with the distance offset") {
    import spark.implicits._
    // a one-shingle doc: exactly one bin holds the raw hash, the other
    // 63 borrow hash + d*OphOffset at their cyclic distance d
    val one = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val rows = Dedup.ophSignatures(one, "doc_id", "text", 3)
      .orderBy("bin").collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(rows.length == 64)
    val (homeBin, h) = rows.minBy(_._2)
    rows.foreach { case (b, v) =>
      val d = (homeBin - b + 64) % 64
      assert(v == h + d * Dedup.OphOffset, s"bin $b")
    }
  }

  test("incremental near-dup equals whole-corpus LSH restricted to the split") {
    val inCorpus = Sampling.hashBucket(col("doc_id"), 100) < 80
    val corpus = docs.filter(inCorpus)
    val batch = docs.filter(!inCorpus)
    val idx = Dedup.bandedSignatures(corpus, "doc_id", "text", n = 3)
    val got = Dedup.incrementalNearDups(idx, corpus, batch,
      "doc_id", "text", n = 3, threshold = 0.8)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2)))))
      .toMap

    // every batch doc appears exactly once
    assert(got.size == batch.count())

    // expected = whole-corpus LSH pairs that cross the split, folded to
    // best-match per batch doc (max jaccard, ties to min corpus id)
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val cross = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (corpusIds(a) && !corpusIds(b)) Some((b, a, j))
        else if (corpusIds(b) && !corpusIds(a)) Some((a, b, j))
        else None
      }
    assert(cross.nonEmpty, "fixture should contain cross-split near-dups")
    val want = cross.groupBy(_._1).map { case (idNew, ms) =>
      idNew -> Some(ms.map { case (_, c, j) => (j, c) }
        .min(Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
        .swap)
    }
    assert(got.filter(_._2.isDefined) == want)
  }

  test("prefix-filtered jaccard equals the naive inverted-index join") {
    for (t <- Seq(0.5, 0.8, 0.9)) {
      val naive = Dedup.jaccardPairs(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val prefix = Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(prefix == naive, s"threshold $t")
    }
  }

  test("prefix-filtered jaccard equals naive on a HOT-SHINGLE (Zipfian) corpus") {
    // the regime the prefix path exists for (boilerplate shared by 30%
    // of docs — SCALING.md records the performance side);
    // correctness must hold exactly there too: hot shingles leave every
    // prefix, so candidate sets differ wildly while outputs agree
    val hot = hotCorpus(docs, hotPct = 30)
    val naive = Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.jaccardPairsPrefix(hot, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty)
    assert(prefix == naive)
  }

  test("simhash flags planted near-identical pairs") {
    import spark.implicits._
    // plant: copy of doc 0 with one word changed
    val t0 = docs.filter($"doc_id" === 0).select($"text").head().getString(0)
    val mutated = t0.split(" ").zipWithIndex
      .map { case (w, i) => if (i == 3) "zzz" else w }.mkString(" ")
    val planted = docs.select($"doc_id", $"text")
      .union(Seq((9999L, mutated)).toDF("doc_id", "text"))
    // one word changed in ~23 tokens measures hamming 5 on this corpus —
    // a small radius still, but above the default 3
    val pairs = Dedup.simhashPairs(planted, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.exists(p => p._1 == 0L && p._2 == 9999L && p._3 <= 6))
    // identical text is hamming 0
    val dup = docs.select(col("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") === 1).select(col("doc_id") + 9000, col("text")))
    val p0 = Dedup.simhashPairs(dup, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p0.contains((1L, 9001L)))
  }

  test("ann recall vs brute force") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(embs, queries, dim = 64, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query must at least retrieve itself (identical vector ⇒ same
    // bucket in every table)
    (0L until 10L).foreach(q => assert(ann.contains((q, q))))
    val recall = (ann intersect exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"ANN recall too low: $recall")
  }

  test("ivf recall vs brute force; every query retrieves itself") {
    val queries = embs.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(embs, queries, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(embs, queries, dim = 64, k = 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // a query's own vector lands in its own cell, which is probed first
    (0L until 10L).foreach(q => assert(ivf.contains((q, q))))
    val recall = (ivf intersect exact).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("ivfPqTopK: self-retrieval, recall vs brute force, ADC consistency with pqTopK") {
    val queries = embs.filter(col("vec_id") < 10)
    val ivfpq = Similarity.ivfPqTopK(embs, queries, dim = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // a query's own vector: same cell (probed first) and ADC distance is
    // the pure quantization error — small enough to rank in the top k
    (0L until 10L).foreach(q =>
      assert(ivfpq.exists(p => p._1 == q && p._2 == q), s"query $q lost itself"))
    val exact = Similarity.bruteForceTopK(embs, queries, 10)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivfpq.map(p => (p._1, p._2)).count(exact.contains).toDouble / exact.size
    assert(recall >= 0.2, s"IVF-PQ recall too low: $recall")
    // pruning never changes ADC values: every (query, vec) pair surfaced
    // by IVF-PQ carries the same adc_dist the unpruned PQ scan computes
    val full = Similarity.pqTopK(embs, queries, dim = 64, k = embs.count().toInt)
      .select("query_id", "vec_id", "adc_dist").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    ivfpq.foreach { case (q, v, d) =>
      assert(full((q, v)) == d, s"ADC mismatch for ($q,$v)")
    }
  }

  test("randomProject: JL distance preservation + rounding-margin audit") {
    import spark.implicits._
    val out = Similarity.randomProject(embs, dim = 64, outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val nVec = embs.count()
    assert(out.length == nVec * 16)
    val projByVec = out.groupBy(_._1)
      .map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3) }
    val embByVec = embs.select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2d(a: Array[Double], b: Array[Double]) =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // JL: projected pairwise distances concentrate around the originals
    // (sqrt(3/16) scaling corrects the uniform(-1,1) component variance).
    // Check the mean ratio over a fixed pair sample is within 15%.
    val ids = projByVec.keys.toArray.sorted.take(40)
    val ratios = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      dOrig = l2d(embByVec(a).map(_.toDouble), embByVec(b).map(_.toDouble))
      if dOrig > 1e-9
    } yield l2d(projByVec(a), projByVec(b)) / dOrig
    val mean = ratios.sum / ratios.size
    assert(math.abs(mean - 1.0) < 0.15, s"JL mean distance ratio off: $mean")
    // rounding-margin audit (the oracle's sum order can differ in last
    // ulps): every unrounded projection must sit far from a 0.5e-6
    // HALF_UP boundary relative to ~1e-13 summation noise
    val planes = Array.tabulate(16, 64)((p, d) =>
      Similarity.planeComponent(Similarity.ProjPlaneOffset + p, d))
    val scale = math.sqrt(3.0 / 16)
    val margins = embByVec.values.flatMap { e =>
      planes.map { row =>
        val v = math.abs(e.indices.map(d => e(d).toDouble * row(d)).sum * scale)
        math.abs((v * 1e6) % 1.0 - 0.5) // distance to the nearest x.5 boundary
      }
    }
    // cross-engine disagreement needs a value within summation-order
    // noise (~1e-15 absolute at |v|~1) of a boundary; 1e-11 leaves four
    // orders of margin (measured worst at sf0.001: 9.7e-9)
    val worst = margins.min
    assert(worst > 1e-11, s"projection value too close to rounding boundary: $worst")
  }

  test("semDedup: greedy min-id semantics vs exact pairs; planted dup dropped") {
    import spark.implicits._
    val out = Similarity.semDedup(embs, dim = 64, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == embs.count()) // one row per vector
    val cellOf = out.map(r => r._1 -> r._2).toMap
    // exact all-pairs baseline restricted to same-cell gives the truth set
    val near = Similarity.cosinePairs(embs, 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cellOf(a) == cellOf(b) }
    val hasSmaller = near.map(_._2).toSet
    out.foreach { case (id, _, _, keep) =>
      assert(keep == !hasSmaller(id),
        s"vec $id keep=$keep disagrees with exact smaller-neighbor truth")
    }
    // n_near counts both directions of in-cell near pairs
    val degree = (near.map(_._1) ++ near.map(_._2)).groupBy(identity)
      .map { case (k, v) => k -> v.length.toLong }
    out.foreach { case (id, _, n, _) => assert(n == degree.getOrElse(id, 0L)) }
    // cells stay balanced at the gate shape (no degenerate mega-cell)
    val sizes = out.groupBy(_._2).map(_._2.length)
    assert(sizes.max <= embs.count() / 4, s"degenerate cell: ${sizes.max}")
    // a planted exact duplicate lands in the duplicate's cell and is dropped
    val planted = embs.select($"vec_id", $"embedding")
      .union(embs.filter($"vec_id" === 0).select(lit(99999L), $"embedding"))
    val p = Similarity.semDedup(planted, dim = 64, tau = 0.3)
      .filter($"vec_id" === 99999L).collect().head
    assert(!p.getBoolean(3), "identical copy of vec 0 must not be kept")
  }

  test("cosinePairsLsh: exact values, full recall on planted near-dups") {
    import spark.implicits._
    // plant 5 near-identical copies (tiny perturbation on one dim)
    val planted = embs.select($"vec_id", $"embedding")
      .union(embs.filter($"vec_id" < 5).select($"vec_id" + 10000,
        transform($"embedding", (x, i) => when(i === 0, x + 0.001f).otherwise(x))))
    val lsh = Similarity.cosinePairsLsh(planted, 0.9, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // all five planted pairs recovered (cos ~ 1 ⇒ same bucket in some table
    // with overwhelming probability across 12 tables)
    (0L until 5L).foreach(q =>
      assert(lsh.exists(p => p._1 == q && p._2 == q + 10000), s"missing planted pair $q"))
    // precision exactness: every emitted pair's cosine really is >= 0.9
    // and matches the exact operator's value for the same pair
    val exact = Similarity.cosinePairs(planted, 0.9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.foreach { case (a, b, c) => assert(exact((a, b)) == c) }
  }

  test("cosinePairsLshAuto sizes the plane family from n (occupancy rule)") {
    import spark.implicits._
    val vecs = embs.select($"vec_id", $"embedding")
    // n = 500 (sf0.01-ish), target 16 → nPlanes = ceil(log2(500/16)) = 5;
    // auto must equal the explicit run at that family size
    val n = vecs.count()
    val expectPlanes = math.max(4,
      math.ceil(math.log(n.toDouble / 16) / math.log(2)).toInt)
    val auto = Similarity.cosinePairsLshAuto(vecs, 0.9, dim = 64)
      .orderBy("id_a", "id_b").collect().toSeq
    val explicitRun = Similarity.cosinePairsLsh(vecs, 0.9, dim = 64,
        nPlanes = expectPlanes, nTables = 12)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(auto == explicitRun)
    // the rule GROWS the family with n: a 100× corpus gets ~7 more
    // planes, i.e. ~128× more buckets — occupancy stays ~constant
    def planesFor(count: Long) = math.max(4,
      math.ceil(math.log(count.toDouble / 16) / math.log(2)).toInt)
    assert(planesFor(n * 100) - planesFor(n) >= 6)
  }

  test("winnowing: shared token run of length >= w+k-1 shares a fingerprint") {
    import spark.implicits._
    val shared = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens = w+k-1
    val df = Seq(
      (1L, s"one two three $shared four five six seven eight nine ten eleven"),
      (2L, s"prefix tokens differ here completely $shared and also the tail end"),
      (3L, "nothing in common with the others at all whatsoever truly")).toDF("doc_id", "text")
    val fps = df.select($"doc_id", TextOps.winnowUdf(4, 5)($"text").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((fps(1L) intersect fps(2L)).nonEmpty)
    assert((fps(1L) intersect fps(3L)).isEmpty)
    // short docs: < k tokens → empty; k..w+k-2 tokens → the global min
    val short = Seq((4L, "a b c"), (5L, "a b c d e")).toDF("doc_id", "text")
      .select($"doc_id", TextOps.winnowUdf(4, 5)($"text").as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(short(4L).isEmpty)
    assert(short(5L).size == 1)
  }

  test("repetition ratio: 0 for distinct text, high for boilerplate, 0 for short") {
    import spark.implicits._
    val df = Seq(
      (1L, "one two three four five six"),          // all 2-grams distinct
      (2L, "spam ham spam ham spam ham spam ham"),  // 7 grams, 2 distinct
      (3L, "word"),                                 // < n tokens
      (4L, "")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.repetitionRatio($"text", 2))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)
    // operator rounds to 6 decimals
    assert(math.abs(got(2L) - (1.0 - 2.0 / 7.0)) < 1e-6)
    assert(got(3L) == 0.0 && got(4L) == 0.0)
  }

  test("quality score is within [0,1] and penalizes punctuation") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away to the hills"),
      (2L, "!!! ??? ;;; ::: @@@ ###")).toDF("doc_id", "text")
    val rows = df.select(TextOps.qualityScore($"text")).collect().map(_.getDouble(0))
    assert(rows.forall(s => s >= 0.0 && s <= 1.0))
    assert(rows(0) > rows(1))
  }

  test("langId picks marker language; CJK short-circuits") {
    import spark.implicits._
    val df = Seq(
      (1L, "der hund ist gut und die katze"),
      (2L, "the cat is on the mat and happy"),
      (3L, "le chat est sur la table et il dort"),
      (4L, "写真 は 良い です"),
      (5L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.langId($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "de", 2L -> "en", 3L -> "fr", 4L -> "zh", 5L -> "und"))
  }

  test("langSegments: planted multilingual doc flags mixed; dominant by span count") {
    import spark.implicits._
    // exactly 20 tokens per en block -> three clean en spans, then one
    // 10-token de span: 4 spans, en 3 / de 1
    val en20 = "the cat is with the dog and all of it " +
      "is here now so the end and of it is"
    val en = Seq.fill(3)(en20).mkString(" ")
    val de = "der hund ist gut und die katze mit der maus"
    val df = Seq(
      (1L, s"$en $de"),
      (2L, "the cat is on the mat"), // single en span
      (3L, "   "), // no tokens -> dropped
      (4L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextOps.langSegments(df, window = 20).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))).toMap
    assert(!got.contains(3L), "token-less docs drop")
    assert(got(2L) == (1L, 1L, "en", false))
    assert(got(4L) == (1L, 1L, "und", false))
    val (nSpans, nLangs, major, mixed) = got(1L)
    assert(nSpans >= 3 && nLangs == 2 && major == "en" && mixed)
    // window=1: every token its own span; dominant tie breaks to the
    // lexicographically first language
    val tie = Seq((9L, "the und")).toDF("doc_id", "text") // 1 en, 1 de span
    val t = TextOps.langSegments(tie, window = 1).collect().head
    assert(t.getLong(1) == 2 && t.getLong(2) == 2 && t.getString(3) == "de"
      && t.getBoolean(4))
  }

  test("multimodal decodeMeta: deterministic stub over binary column") {
    import spark.implicits._
    val bin = docs.select($"doc_id".as("id"), encode($"text", "UTF-8").as("media"))
    val meta = Multimodal.decodeMeta(bin)
    assert(meta.count() == docs.count())
    val r = meta.filter($"id" === 0).head()
    val len = r.getAs[Long]("byte_len")
    assert(r.getAs[Int]("width") == (64 + len % 577).toInt)
    assert(r.getAs[Int]("height") == (64 + (len * 31) % 577).toInt)
  }

  test("extractFeatures: deterministic, L2-normalized, similarity-ready") {
    import spark.implicits._
    val bin = docs.select($"doc_id".as("id"), encode($"text", "UTF-8").as("media"))
    val emb = Multimodal.extractFeatures(bin)
    assert(emb.count() == docs.count())
    val vecs = emb.filter($"id" < 3).orderBy("id")
      .collect().map(_.getSeq[Float](1).toArray)
    vecs.foreach { v =>
      assert(v.length == 16)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-5, s"not normalized: $norm")
    }
    // identical bytes → identical vector (re-run equality)
    val again = Multimodal.extractFeatures(bin).filter($"id" < 3).orderBy("id")
      .collect().map(_.getSeq[Float](1).toArray)
    assert(vecs.zip(again).forall { case (a, b) => a.sameElements(b) })
  }

  test("resize transcodes a real container: decoded pixels, exact map") {
    import spark.implicits._
    // 4x2 BMP with pixel(i) = i (checks BGR + bottom-up handling feeds
    // the resample the LOGICAL stream), plus a corrupt blob, plus a
    // 3-CHANNEL WAV (decodes with channels == 3 — must degrade, not be
    // mistaken for a pixel grid), plus a dimension-overflow PPM header
    // (46341² * 3 wraps Int negative — must degrade, not throw)
    val bin = Seq(
      (1L, MediaCodecs.Bmp.encode(4, 2, i => i)),
      (2L, "not media".getBytes),
      (3L, MediaCodecs.Wav.encode(10, 3, 8000, i => i)),
      (4L, "P6\n46341 46341\n255\n".getBytes("US-ASCII"))).toDF("id", "media")
    val out = Multimodal.resize(bin, 2, 2).orderBy("id").collect()
    assert(out(0).getString(4) == "ppm" &&
      out(0).getInt(2) == 2 && out(0).getInt(3) == 2)
    assert(out(1).getString(4) == "unknown" && out(1).getInt(2) == 0)
    assert(out(2).getString(4) == "unknown", "3-channel WAV must not resize")
    assert(out(3).getString(4) == "unknown", "overflowing PPM must degrade")
    // output is a REAL decodable PPM whose pixels sit at the floor-map
    // source positions: out(x,y,c) = in(x*4/2, y*2/2, c) = ((sy*4+sx)*3+c)
    val d = MediaCodecs.Ppm.decode(out(0).getAs[Array[Byte]](1))
    val expected = for (y <- 0 until 2; x <- 0 until 2; c <- 0 until 3)
      yield ((y * 2 / 2 * 4 + x * 4 / 2) * 3 + c).toByte
    assert(d.payload.toSeq == expected)
    // the resized column feeds decodeMeta unchanged (binary contract)
    val meta = Multimodal.decodeMeta(
      Multimodal.resize(bin, 2, 2).select("id", "media"),
      MediaCodecs.RealDecoder).orderBy("id").collect()
    assert(meta(0).getAs[String]("format") == "ppm" &&
      meta(0).getAs[Int]("width") == 2)
  }

  test("resizeNearest and sampleFrames are identities at unit parameters") {
    // tw=w/th=h resize and every=1 sampling must reproduce the payload
    // byte-for-byte — pins the index maps against off-by-one drift
    val img = MediaCodecs.Bmp.decode(MediaCodecs.Bmp.encode(5, 4, i => i * 7))
    assert(MediaCodecs.resizeNearest(img, 5, 4).payload.toSeq == img.payload.toSeq)
    val wav = MediaCodecs.Wav.decode(
      MediaCodecs.Wav.encode(9, 2, 8000, i => i * 1000))
    assert(MediaCodecs.sampleFrames(wav, 1).payload.toSeq == wav.payload.toSeq)
    // every > nFrames keeps exactly frame 0
    val one = MediaCodecs.sampleFrames(wav, 100)
    assert(one.width == 1 && one.payload.length == 4)
  }

  test("frameSample keeps every k-th PCM frame with signed samples") {
    import spark.implicits._
    // stereo WAV, 10 frames, sample(i) = 40000 + i (wraps to negative
    // i16 territory: 40000 -> -25536) + a non-audio blob contributing
    // no rows
    val bin = Seq(
      (1L, MediaCodecs.Wav.encode(10, 2, 8000, i => 40000 + i)),
      (2L, MediaCodecs.Bmp.encode(2, 2, i => i))).toDF("id", "media")
    val rows = Multimodal.frameSample(bin, every = 4)
      .orderBy("id", "frame", "channel").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // frames 0, 4, 8 of 10; sample index = frame*2 + channel
    assert(rows.toSeq == Seq(
      (1L, 0, 0, 40000 - 65536), (1L, 0, 1, 40001 - 65536),
      (1L, 4, 0, 40008 - 65536), (1L, 4, 1, 40009 - 65536),
      (1L, 8, 0, 40016 - 65536), (1L, 8, 1, 40017 - 65536)))
  }

  test("connected components: multi-hop chains converge to min label") {
    import spark.implicits._
    // path graph 1-2-3-4-5 (diameter 4 > 1 iteration), one triangle
    // 10-11-12, isolated 20; edges deliberately given in both orders
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L).toDF("id")
    val out = Dedup.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(out(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(out(_) == 10L))
    assert(out(20L) == 20L)
  }

  test("connected components: distributed fixpoint equals the union-find path") {
    import spark.implicits._
    // chain + triangle + isolated — diameter > 1 so the fixpoint
    // actually iterates; smallGraphEdges = 0 forces the distributed
    // path, which must agree with the default bounded union-find
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("id_a", "id_b")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 12L, 20L).toDF("id")
    val small = Dedup.connectedComponents(edges, nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(edges, nodes, smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == small)
  }

  test("duplicated-span removal: cross-doc spans cut, within-doc repeats kept") {
    import spark.implicits._
    val shared = "all rights reserved see license file for details"  // 8 tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"unrelated opening words here $shared and a closing tail"),
      // within-doc repetition only — distinct-doc count is 1, kept
      (3L, "echo foxtrot golf hotel india juliet echo foxtrot golf hotel india juliet"),
      // shorter than k tokens — no windows, untouched (odd spacing kept)
      (4L, "tiny  doc   here"),
      (5L, "completely distinct vocabulary nothing shared with anybody else at all")
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(docs, "doc_id", "text", k = 6, minDocs = 2)
      .select("doc_id", "n_dup_tokens", "text_clean")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    // the shared 8-token run spawns 3 overlapping 6-grams in each doc;
    // their union covers exactly the 8 shared tokens
    assert(out(1L) == (8, "alpha beta gamma delta"))
    assert(out(2L) == (8, "unrelated opening words here and a closing tail"))
    assert(out(3L)._1 == 0)
    assert(out(4L) == (0, "tiny  doc   here"))
    assert(out(5L)._1 == 0)
  }

  test("temperature mixture flattens source skew and fills quotas deterministically") {
    import spark.implicits._
    // 90:10 natural mixture
    val docs = ((1L to 90L).map(i => (i, "web")) ++
      (91L to 100L).map(i => (i, "wiki"))).toDF("doc_id", "source")
    val out = Sampling.temperatureMix(docs, "source", "doc_id",
      alpha = 0.7, budget = 50)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=0.7 turns 9:1 into 90^0.7 : 10^0.7 ≈ 23.3 : 5.0 ≈ 4.6:1 —
    // wiki's share rises from 10% to ~17.7%
    assert(bySrc("wiki") >= 8, s"wiki got ${bySrc("wiki")}")
    assert(bySrc("web") > bySrc("wiki")) // still majority, just flattened
    assert(bySrc.values.sum <= 50)
    // md5-rank selection is a pure function of the corpus
    val again = Sampling.temperatureMix(docs, "source", "doc_id", 0.7, 50)
      .orderBy("source", "rk").collect().toSeq
    assert(again == out.orderBy("source", "rk").collect().toSeq)
    // alpha = 1 reproduces the natural mixture quotas
    val nat = Sampling.temperatureMix(docs, "source", "doc_id", 1.0, 50)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(nat("web") == 45 && nat("wiki") == 5)
  }

  test("BM25 ranks by term frequency, length-normalized; misses drop out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "cat cat dog"),          // tf 2, len 3
      (2L, "cat dog"),              // tf 1, len 2
      (3L, "dog mouse bird"),       // no hit
      (4L, "cat " + ("filler " * 40).trim) // tf 1 but long → normalized down
    ).toDF("doc_id", "text")
    val got = Retrieval.bm25TopK(docs, "doc_id", "text", Seq("cat"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L)) // 3 has no query term
    assert(got.forall(_._2 > 0))
    // IDF with N=4, df=3: ln((4-3+0.5)/3.5 + 1) = ln(1.428571...)
    val idf = BigDecimal(math.log((4 - 3 + 0.5) / 3.5 + 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val avg = (3 + 2 + 3 + 41) / 4.0
    def s(tf: Long, len: Long) = {
      val t = BigDecimal(idf * (tf * 2.2) /
        (tf + 1.2 * (0.25 + (0.75 * len) / avg)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      t
    }
    assert(math.abs(got(0)._2 - s(2, 3)) < 1e-9)
    assert(math.abs(got(2)._2 - s(1, 41)) < 1e-9)
  }

  test("weighted sample: heavier rows win more slots, deterministic, exact n") {
    import spark.implicits._
    // ids 0..199 with weight 100, 200..399 with weight 1
    val docs = ((0 until 200).map(i => (i.toLong, 100L)) ++
      (200 until 400).map(i => (i.toLong, 1L))).toDF("id", "w0")
    val got = Sampling.weightedSample(docs, "id", col("w0"), n = 100)
      .collect().map(_.getLong(0))
    assert(got.length == 100)
    // ES property: expected heavy share ≈ 100·(100/101)^-ish — at this
    // weight ratio the heavy half should dominate decisively
    val heavy = got.count(_ < 200)
    assert(heavy > 85, s"heavy=$heavy")
    val again = Sampling.weightedSample(docs, "id", col("w0"), n = 100)
      .collect().map(_.getLong(0))
    assert(got.toSeq == again.toSeq)
  }

  test("hard negatives: positives excluded, candidate order kept, nNeg honored") {
    import spark.implicits._
    val pos = Seq((10L, 0.99), (11L, 0.98)).toDF("id", "score")
    val cand = Seq((11L, 9.0), (12L, 8.0), (13L, 7.0), (14L, 6.0))
      .toDF("id", "score")
    val got = Retrieval.hardNegatives(pos, cand, "id", "score", nNeg = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // 11 is a positive → removed from negatives; 12/13 are the top-2
    // remaining candidates; 14 cut by nNeg
    assert(got == Set((10L, 1, 1), (11L, 1, 2), (12L, 0, 1), (13L, 0, 2)))
  }

  test("length batches: equal lengths pack waste-free, mixed lengths pay padding") {
    import spark.implicits._
    val docs = (1 to 4).map(i => (i.toLong, ("w " * 10).trim)) ++
      Seq((5L, "w"), (6L, "w w"))
    val got = SequencePack.lengthBatches(docs.toDF("doc_id", "text"),
        "doc_id", TextOps.tokenCount(col("text")), batchSize = 4)
      .orderBy("batch_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toList
    // batch 0: the four 10-token docs — zero padding;
    // batch 1: lengths 2 and 1 → waste 1/(2*2)
    assert(got == List((0L, 4L, 10L, 40L, 0.0), (1L, 2L, 2L, 3L, 0.25)))
  }

  test("corpus stats: distinct-n collapses on repetition; Zipf slope ≈ -1 on Zipfian text") {
    import spark.implicits._
    val diverse = (1 to 50).map(i => (i.toLong, s"w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")
    val repeated = (1 to 50).map(i => (i.toLong, "same words every time here"))
      .toDF("doc_id", "text")
    def ratios(df: org.apache.spark.sql.DataFrame) =
      CorpusStats.distinctNgrams(df, "text")
        .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val rd = ratios(diverse); val rr = ratios(repeated)
    assert(rd(1) == 1.0 && rd(2) == 1.0) // every gram unique
    assert(rr(1) < 0.05 && rr(2) < 0.05) // one doc repeated 50×
    // exact power law: token t_r appears round(1000/r) times → slope ≈ -1
    val zipfText = (1 to 100).flatMap(r =>
      Seq.fill(math.max(1, math.round(1000.0 / r).toInt))(s"t$r")).mkString(" ")
    val fit = CorpusStats.zipfFit(Seq((1L, zipfText)).toDF("doc_id", "text"),
      "text", topK = 100).collect().head
    assert(fit.getLong(0) == 100)
    assert(math.abs(fit.getDouble(1) + 1.0) < 0.05, s"slope=${fit.getDouble(1)}")
  }

  test("quality percentiles: nearest-rank selection on a hand-ranked group") {
    import spark.implicits._
    // 4 docs with strictly increasing quality (longer + more stopwords)
    val docs = Seq(
      (1L, "x"), (2L, ("the a of " * 4).trim),
      (3L, ("the quick brown fox of it " * 4).trim),
      (4L, ("the quick brown fox jumps over it and a dog " * 5).trim))
      .map { case (i, t) => (i, "s0", t) }.toDF("doc_id", "source", "text")
    val scores = docs.select(col("doc_id"),
        graft.operators.TextOps.qualityScore(col("text")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sorted = scores.toSeq.sortBy(p => (p._2, p._1)).map(_._2)
    val got = CorpusStats.qualityPercentiles(docs, "source", "doc_id", "text")
      .collect().head
    assert(got.getLong(1) == 4)
    // nearest-rank over n=4: p25 → rank 1, p50 → rank 2, p75 → rank 3
    assert(got.getDouble(2) == sorted(0))
    assert(got.getDouble(3) == sorted(1))
    assert(got.getDouble(4) == sorted(2))
  }

  test("containment catches the quoted-subset pair Jaccard misses") {
    import spark.implicits._
    val tweet = "alpha beta gamma delta epsilon zeta"
    val article = ("lots of framing words around the quote " * 10) +
      tweet + (" and then much more trailing commentary here" * 10)
    val docs = Seq((1L, tweet), (2L, article),
      (3L, "completely unrelated content about databases")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // every tweet shingle appears in the article → cont_ab = 1.0
    assert(cont.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)))
    assert(cont.head._3 == 1.0 && cont.head._4 < 0.5)
    // Jaccard at any usable threshold misses the same pair
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect()
    assert(jac.isEmpty)
  }

  test("Gopher rules: each rule fails on its planted violator, clean doc passes") {
    import spark.implicits._
    val clean = (("the quick brown alpha beta gamma delta of " * 8) + "it is").trim
    val docs = Seq(
      (1L, clean),                                  // passes everything
      (2L, "too short of it"),                      // n_words < 50
      (3L, Seq.fill(60)("a").mkString(" ") + " the it"), // mean word len < 3
      (4L, clean + " " + Seq.fill(60)("#!?%").mkString(" ")) // symbol ratio + alpha ratio
    ).toDF("doc_id", "text")
    val got = TextOps.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(6)).toMap
    assert(got(1L), "clean doc must pass")
    assert(!got(2L) && !got(3L) && !got(4L))
  }

  test("blocklist hits: case-insensitive whole-token, no substring matches") {
    import spark.implicits._
    val df = Seq((1L, "Slow query plan"), (2L, "slowly is not slow-ish"),
      (3L, "clean text")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextOps.blocklistHits(TextOps.tokens(col("text")), Seq("slow")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 1, 2L -> 0, 3L -> 0))
  }

  test("PageRank matches a driver-side reference with identical rounding") {
    import spark.implicits._
    // 5 has no out-edges → dangling; 3 is the hub
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
      ("d", "c"), ("c", "e")).toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

    // exact micro-unit replay: half-up integer division end to end
    def hud(num: BigInt, den: BigInt): BigInt = (num * 2 + den) / (den * 2)
    val es = Seq("a" -> "b", "a" -> "c", "b" -> "c", "c" -> "a",
      "d" -> "c", "c" -> "e")
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val out = es.groupBy(_._1).view.mapValues(cs => BigInt(cs.size)).toMap
    val n = BigInt(nodes.size)
    var r = nodes.map(_ -> hud(BigInt(1000000), n)).toMap
    for (_ <- 1 to 5) {
      val contribs = es.map { case (s, t) => t -> hud(r(s), out(s)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val dMass = nodes.filterNot(out.contains).map(r).sum
      r = nodes.map(v => v -> hud(
        BigInt(3000000) + 17 * (contribs.getOrElse(v, BigInt(0)) * n + dMass),
        BigInt(20) * n)).toMap
    }
    assert(got == r.view.mapValues(_.toDouble / 1e6).toMap)
    // probability mass conserved up to rounding; the hub outranks all
    assert(math.abs(got.values.sum - 1.0) < 1e-3)
    assert(got("c") == got.values.max)
  }

  test("PageRank/HITS: small-graph driver path is bit-equal to the distributed path") {
    import spark.implicits._
    // deterministic pseudo-random graph with dangling nodes, a hub,
    // multi-edges (collapsed by distinct) and an isolated-ish chain
    val es = (0 until 400).map { i =>
      val a = (i * 37) % 53; val b = (i * 61 + 7) % 53
      (s"n$a", s"n$b")
    }.filter { case (a, b) => a != b } ++ Seq(("hubX", "n1"), ("n1", "sinkY"))
    val edges = es.toDF("src", "dst")
    val prLocal = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val prDist = Graph.pageRank(edges, "src", "dst", iters = 5,
        smallGraphEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(prLocal == prDist)
    val hLocal = Graph.hits(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val hDist = Graph.hits(edges, "src", "dst", iters = 3,
        smallGraphEdges = 0L)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(hLocal == hDist)
  }

  test("k-core/LPA: small-graph driver path equals the distributed path") {
    import spark.implicits._
    val es = (0 until 600).map { i =>
      ((i * 37L) % 71L, (i * 61L + 7) % 71L)
    }.filter { case (a, b) => a != b } ++ Seq((1000L, 1L), (1000L, 2L))
    val edges = es.toDF("src", "dst")
    val kcL = Graph.kcoreMembers(edges, "src", "dst", k = 5, rounds = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kcD = Graph.kcoreMembers(edges, "src", "dst", k = 5, rounds = 6,
        smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kcL == kcD)
    val lpL = Graph.labelPropagation(edges, "src", "dst", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lpD = Graph.labelPropagation(edges, "src", "dst", rounds = 4,
        smallGraphEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpL == lpD)
  }

  test("HITS matches a driver-side reference; hub/auth land on the right sides") {
    import spark.implicits._
    val es = Seq("a" -> "x", "a" -> "y", "b" -> "x", "c" -> "x")
    val got = Graph.hits(es.toDF("src", "dst"), "src", "dst", iters = 3)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

    // exact-integer reference: micro-unit scores, Σr² norm, and the
    // half-up L2 division as (isqrt(4A²B) div B + 1) div 2 — the same
    // trajectory Graph.hits runs, replayed in BigInt
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    var h = nodes.map(_ -> BigInt(1000000)).toMap
    var a = Map.empty[String, BigInt]
    def norm(raw: Map[String, BigInt]): Map[String, BigInt] = {
      val b = raw.values.map(r => r * r).sum
      nodes.map { v =>
        val r = raw.getOrElse(v, BigInt(0))
        val n = if (r <= 0 || b <= 0) BigInt(0)
          else {
            val big = (r * 1000000).pow(2) * 4 * b
            (BigInt(big.bigInteger.sqrt()) / b + 1) / 2
          }
        v -> n
      }.toMap
    }
    for (_ <- 1 to 3) {
      a = norm(es.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap)
      h = norm(es.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    def d(v: BigInt) = v.toLong.toDouble / 1000000.0
    assert(got == nodes.map(v => v -> (d(h(v)), d(a(v)))).toMap)
    // a links to both x and y → best hub; x has 3 in-links → best auth
    assert(got("a")._1 == got.values.map(_._1).max)
    assert(got("x")._2 == got.values.map(_._2).max)
    // pure sinks have zero hub; pure sources zero authority
    assert(got("x")._1 == 0.0 && got("a")._2 == 0.0)
  }

  test("matryoshka: unit norm after truncation, prefix values preserved up to scale") {
    import spark.implicits._
    val vecs = Seq((1L, Array(3.0f, 4.0f, 9.9f, -9.9f)),
      (2L, Array(0.6f, -0.8f, 5.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.matryoshka(vecs, dims = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.length == 4) // 2 vecs × 2 dims; tail dims dropped
    val byVec = got.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // (3,4)/5 = (0.6, 0.8); (0.6,-0.8) already unit
    assert(byVec(1L) == Seq(0.6, 0.8))
    assert(byVec(2L) == Seq(0.6, -0.8))
    got.groupBy(_._1).values.foreach { vs =>
      val n = vs.map(v => v._3 * v._3).sum
      assert(math.abs(n - 1.0) < 1e-5)
    }
  }

  test("embedding drift: planted mean shift shows up on exactly the shifted dims") {
    import spark.implicits._
    val base = (1 to 50).map(i => (i.toLong, Array.fill(4)(0.5f)))
    val shifted = (51 to 100).map(i =>
      (i.toLong, Array(0.5f, 0.9f, 0.5f, 0.5f)))
    val a = shifted.toDF("vec_id", "embedding")
    val b = base.toDF("vec_id", "embedding")
    val got = Similarity.embeddingDrift(a, b)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set(0, 1, 2, 3))
    assert(math.abs(got(1) - 0.4) < 1e-9)
    assert(Seq(0, 2, 3).forall(d => got(d) == 0.0))
  }

  test("DSIR: target-like docs outweigh off-domain ones; gram-free weigh 0") {
    import spark.implicits._
    val target = Seq((100L, "the cat sat on the mat"),
      (101L, "a cat and a cat again"),
      (102L, "cat mat cat mat")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "the cat sat on the mat"),     // verbatim target-like
      (2L, "dog fish bird cow horse"),    // off-domain
      (3L, "cat mat"),                    // short but on-domain
      (4L, "")                            // gram-free
    ).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(raw, target, "doc_id", "text", buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L)) // every raw doc covered
    assert(w(4L) == 0.0)
    assert(w(1L) > w(2L) && w(3L) > w(2L))
    val top = Dsir.selectTopN(raw, target, "doc_id", "text", 64, topN = 2)
      .collect().map(_.getLong(0)).toSet
    assert(!top.contains(2L) && !top.contains(4L))
    // deterministic under re-evaluation
    val again = Dsir.importanceWeights(raw, target, "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == w)
  }

  test("UniMax: small sources keep capacity, rest split evenly, budget respected") {
    import spark.implicits._
    // ns: tiny=5, small=20, big=100, huge=300 → caps 10/40/200/600 at 2 epochs
    val docs = (0 until 5).map(i => (s"t$i", "tiny")) ++
      (0 until 20).map(i => (s"s$i", "small")) ++
      (0 until 100).map(i => (s"b$i", "big")) ++
      (0 until 300).map(i => (s"h$i", "huge"))
    val df = docs.toDF("doc_id", "source")
    val got = Sampling.unimaxMix(df, "source", budget = 300, maxEpochs = 2)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // walk: tiny cap 10 ≤ 300/4=75 → keep; small cap 40 ≤ 290/3≈96 → keep;
    // big cap 200 > 250/2=125 → fill line: big and huge get floor(250/2)=125
    assert(got("tiny") == ((5L, 10L, 10L)))
    assert(got("small") == ((20L, 40L, 40L)))
    assert(got("big") == ((100L, 200L, 125L)))
    assert(got("huge") == ((300L, 600L, 125L)))
    assert(got.values.map(_._3).sum <= 300)
    // budget above total capacity: everyone keeps capacity
    val rich = Sampling.unimaxMix(df, "source", budget = 10000, maxEpochs = 2)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rich == Map("tiny" -> 10L, "small" -> 40L, "big" -> 200L, "huge" -> 600L))
    // epochs never exceed the cap
    val eps = Sampling.unimaxMix(df, "source", budget = 300, maxEpochs = 2)
      .collect().map(_.getDouble(4))
    assert(eps.forall(e => e <= 2.0 + 1e-9))
  }

  test("RRF fusion: rank-only, list agreement wins, reciprocals exact") {
    import spark.implicits._
    // scores on wildly different scales — only ranks should matter
    val sparse = Seq((10L, 7.31), (11L, 5.02), (12L, 1.11)).toDF("id", "score")
    val dense = Seq((11L, 0.99), (10L, 0.98), (13L, 0.41)).toDF("id", "score")
    val got = Retrieval.rrfFuse(Seq(sparse, dense), "id", "score",
        kRrf = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 10: rank1 sparse + rank2 dense; 11: rank2 sparse + rank1 dense —
    // identical fused scores, id breaks the tie; 12/13 single-list
    val both = r6(r6(1.0 / 61) + r6(1.0 / 62))
    assert(got.toSeq == Seq(
      (10L, both, 2L), (11L, both, 2L),
      (12L, r6(1.0 / 63), 1L), (13L, r6(1.0 / 63), 1L)))
  }

  test("ExactSubstr dedup: char-level, self-repeats removed too") {
    import spark.implicits._
    val dupA = "0123456789abcdefghijklmnopqrstuvwxyzABCD" // exactly 40 chars
    val dupB = "ZYXWVUTSRQPONMLKJIHGFEDCBA9876543210zyxw" // exactly 40 chars
    val docs = Seq(
      (1L, s"xx${dupA}yy-unique-tail-one"),
      (2L, s"qq${dupA}rr-other-unique-tail"),
      // SAME-document repeat: the suffix-array rule removes it, unlike
      // the cross-doc-count token variant above
      (3L, s"${dupB}MIDDLE${dupB}"),
      (4L, "totally unique and under forty chars"),
      (5L, "a unique document comfortably longer than forty characters with nothing shared")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrDedup(docs, "doc_id", "text", minLen = 40)
      .select("doc_id", "n_dup_chars", "text_clean")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getString(2))).toMap
    // only the exact 40-char window at the shared position matches, so
    // coverage is exactly the duplicated span
    assert(out(1L) == (40, "xxyy-unique-tail-one"))
    assert(out(2L) == (40, "qqrr-other-unique-tail"))
    assert(out(3L) == (80, "MIDDLE"))
    assert(out(4L) == (0, "totally unique and under forty chars"))
    assert(out(5L)._1 == 0)
  }

  test("cluster survivors: argmax quality per component, singletons survive") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (10L, base),
      (11L, base + " with extra trailing words appended here"), // near-dup of 10
      (12L, base),                                              // exact dup of 10
      (20L, "completely different content nothing shared at all whatsoever")
    ).toDF("doc_id", "text")
    val out = Dedup.selectClusterSurvivors(docs, "doc_id", "text",
        TextOps.qualityScore(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val scores = docs.select(col("doc_id"), TextOps.qualityScore(col("text")))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // one cluster {10,11,12} labeled by min id, one singleton {20}
    assert(out.map(_._1).toSeq == Seq(10L, 20L))
    assert(out(0)._3 == 3 && out(1)._3 == 1)
    val survivor = out(0)._2
    assert(scores(survivor) == Seq(10L, 11L, 12L).map(scores).max)
    // exact tie between 10 and 12 must fall to the smaller id
    if (scores(survivor) == scores(10L)) assert(survivor == 10L)
    assert(out(1)._2 == 20L)
  }

  test("htmlToText: blocks dropped, tags stripped, entities unescaped in order") {
    import spark.implicits._
    val cases = Seq(
      (1L, "<html><body><p>hello <b>bold</b> world</p></body></html>",
        "hello bold world"),
      // script/style contents must vanish, not just the tags
      (2L, "<script>var x = '<p>sneaky</p>';</script>real<style>p { x }</style>",
        "real"),
      // multi-line block with attributes, case-insensitive tag
      (3L, "<SCRIPT type=\"text/javascript\">\nf();\n</SCRIPT>kept",
        "kept"),
      // &amp;lt; is a literal '&lt;' — the &amp; pass must run last
      (4L, "a &amp;lt; b &lt;c&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
        "a &lt; b <c> \"q\" 's' end"),
      // no markup: whitespace still collapses (documented behavior)
      (5L, "plain   text\n\twith gaps", "plain text with gaps"),
      (6L, "<br><br>", ""))
    val out = cases.toDF("id", "html", "expect")
      .select(col("id"), col("expect"), TextOps.htmlToText(col("html")).as("got"))
      .collect()
    out.foreach(r => assert(r.getString(2) == r.getString(1), s"case ${r.getLong(0)}"))
  }

  test("PII redaction scrubs planted emails/urls/phones, leaves clean text") {
    import spark.implicits._
    val cases = Seq(
      1L -> "reach me at jane.doe+spam@corp.example.co.uk today",
      2L -> "docs: https://spark.apache.org/docs/latest/ and http://x.io/a?b=1",
      3L -> "call +358 40 123 4567 or (09) 1234-5678 now",
      4L -> "no pii here just words",
      5L -> "mixed a@b.com https://c.d +1 234 567 8901 end")
    val out = cases.toDF("id", "text")
      .select($"id", TextOps.redactPii($"text").as("red"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "reach me at <EMAIL> today")
    assert(out(2L) == "docs: <URL> and <URL>")
    assert(out(3L) == "call <PHONE> or <PHONE> now")
    assert(out(4L) == "no pii here just words")
    assert(out(5L) == "mixed <EMAIL> <URL> <PHONE> end")
  }

  test("stratified sampling: per-group rates, nesting, determinism") {
    import spark.implicits._
    val rows = (0L until 4000L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val kept = rows.filter(Sampling.stratifiedIn(col("id"), col("grp"),
        Seq("g0" -> (1, 1), "g1" -> (1, 2)), default = (1, 10)))
      .groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("g0") == 1000L)                      // 100% kept
    assert(kept("g1") > 350 && kept("g1") < 650)     // ~50%
    assert(kept.getOrElse("g2", 0L) < 200)           // ~10%
    // nesting: the 1-in-10 default sample is a subset of a 1-in-2 rate
    val wide = rows.filter(Sampling.stratifiedIn(col("id"), col("grp"),
        Seq.empty :+ ("g9" -> (1, 1)), default = (1, 2)))
      .select("id").as[Long].collect().toSet
    val narrow = rows.filter(Sampling.stratifiedIn(col("id"), col("grp"),
        Seq.empty :+ ("g9" -> (1, 1)), default = (1, 10)))
      .select("id").as[Long].collect().toSet
    assert(narrow.subsetOf(wide))
  }

  test("length buckets are exact powers of two boundaries") {
    import spark.implicits._
    val out = Seq(-5L, 0L, 1L, 2L, 3L, 4L, 7L, 8L, 1023L, 1024L).toDF("n")
      .select(col("n"), TextOps.lengthBucket(col("n")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // n <= 0 has its own bucket — 0 must not conflate with n=1, and a
    // negative count must not land in bucket 64 via two's-complement
    assert(out(-5L) == 0 && out(0L) == 0 && out(1L) == 1)
    assert(out(2L) == 2 && out(3L) == 2)
    assert(out(4L) == 3 && out(7L) == 3 && out(8L) == 4)
    assert(out(1023L) == 10 && out(1024L) == 11)
  }

  test("compiled shingle UDF == interpreted wordShingles column") {
    import spark.implicits._
    val cases = docs.select($"text").as[String].collect().take(50) ++
      Seq("", "   ", "one", "one two", "a b c", "x y z x y z x y",
        // tab/newline edges: Spark's trim strips only spaces, and its
        // 2-arg split keeps trailing empty tokens — the UDF must agree
        "\thello brave new world\n", " \t a b c d \n ", "\n\na b c\t\t",
        "a\tb\nc d", "\t\t\t", " \n ")
    val df = cases.zipWithIndex.map(_.swap).toSeq.toDF("i", "text")
    val both = df.select(
      TextOps.wordShingles(col("text"), 3).as("a"),
      TextOps.wordShinglesUdf(3)(col("text")).as("b")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("connected components match union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      // union-find with min-root merging: the root of a set is always
      // its minimum id, the same labeling the operator produces
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = Dedup.connectedComponents(
          edges.toDF("id_a", "id_b"), (0L until n.toLong).toDF("id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("fingerprint overlap counts planted cross-slice duplication") {
    import spark.implicits._
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"$shared plus words only in slice a", "a"),
      (2L, s"$shared plus entirely other trailing content", "b"),
      (3L, "nothing in common with anything else here at all", "c")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.fingerprintOverlap(docs, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(out.length == 1)
    val (a, b, nShared) = out.head
    assert(a == "a" && b == "b" && nShared >= 1)
  }

  test("hash split: total cover, determinism, nested hash samples") {
    import spark.implicits._
    val ids = (0L until 1000L).toDF("id")
    val split = Sampling.hashSplit(col("id"),
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val counts = ids.groupBy(split.as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 1000) // every row assigned
    assert(counts("train") > counts("val") && counts("train") > counts("test"))
    // determinism: two independent evaluations agree on every row
    assert(ids.select(col("id"), split.as("a"))
      .join(ids.select(col("id"), split.as("b")), Seq("id"))
      .filter(col("a") =!= col("b")).isEmpty)
    // nested sampling: the 10% hash sample is a subset of the 50% one
    val in10 = ids.filter(Sampling.sampledIn(col("id"), 1, 10))
      .collect().map(_.getLong(0)).toSet
    val in50 = ids.filter(Sampling.sampledIn(col("id"), 5, 10))
      .collect().map(_.getLong(0)).toSet
    assert(in10.subsetOf(in50))
    assert(in10.nonEmpty && in50.size < 1000)
  }

  test("decontaminate drops docs sharing a token run with the eval set") {
    import spark.implicits._
    val evalDoc = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val corpus = Seq(
      // shares a >= w+k-1 = 8-token run with the eval doc → must drop
      100L -> s"unrelated prefix $evalDoc and an unrelated suffix",
      // no overlap → must keep
      101L -> "totally different words with no shared runs at all here",
      102L -> "another clean document about spark shuffles and joins"
    ).toDF("doc_id", "text")
    val evalDf = Seq(1L -> evalDoc).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, evalDf, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L, 102L))
  }

  test("incremental cosine dedup equals whole-corpus LSH restricted to the split") {
    val inCorpus = Sampling.hashBucket(col("vec_id"), 100) < 80
    val corpus = embs.filter(inCorpus)
    val batch = embs.filter(!inCorpus)
    val idx = Similarity.vectorBuckets(corpus, dim = 64)
    val got = Similarity.incrementalCosineDups(idx, corpus, batch,
      threshold = 0.3, dim = 64)
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some((r.getLong(1), r.getDouble(2)))))
      .toMap
    assert(got.size == batch.count())
    val corpusIds = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    val cross = Similarity.cosinePairsLsh(embs, threshold = 0.3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, c) =>
        if (corpusIds(a) && !corpusIds(b)) Some((b, a, c))
        else if (corpusIds(b) && !corpusIds(a)) Some((a, b, c))
        else None
      }
    assert(cross.nonEmpty, "fixture should contain cross-split near-dups")
    val want = cross.groupBy(_._1).map { case (idNew, ms) =>
      idNew -> Some(ms.map { case (_, c, s) => (s, c) }
        .min(Ordering.Tuple2(Ordering[Double].reverse, Ordering[Long]))
        .swap)
    }
    assert(got.filter(_._2.isDefined) == want)
  }

  test("pqEncode: complete coverage, valid codes, argmin reconstruction") {
    val n = embs.count()
    val rows = Similarity.pqEncode(embs, dim = 64, m = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // every vector gets exactly one row per subspace
    assert(rows.length == n * 4)
    assert(rows.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(0 to 3)))
    assert(rows.forall { case (_, _, c, e) => c >= 0 && c < 16 && e >= 0.0 })
    // codes must actually quantize: assigning every subvector to one
    // fixed centroid (the lowest-id seed survives round 0 in each
    // codebook's cell set) has to be strictly worse on average than the
    // fitted argmin assignment
    val fitted = rows.map(_._4).sum / rows.length
    assert(fitted > 0.0)
    // determinism: seeds and Lloyd rounds are order-pinned
    val again = Similarity.pqEncode(embs, dim = 64, m = 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._2)).toSeq)
    // fewer centroids cannot reconstruct better (monotone capacity)
    val coarse = Similarity.pqEncode(embs, dim = 64, m = 4, nCents = 2)
      .collect().map(_.getDouble(3))
    assert(coarse.sum / coarse.length >= fitted * 0.99)
  }

  test("pqTopK: ADC recall vs exact L2 top-k") {
    import org.apache.spark.sql.functions.{col => c}
    val queries = embs.filter(c("vec_id") < 5)
    val adc = Similarity.pqTopK(embs, queries, dim = 64, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact squared-L2 top-10 per query, computed driver-side
    val all = embs.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val exact = all.filter(_._1 < 5).map { case (qid, q) =>
      qid -> all.map { case (vid, v) =>
        (Similarity.l2(q.map(_.toDouble), v), vid)
      }.sortBy(p => (p._1, p._2)).take(10).map(_._2).toSet
    }.toMap
    def recallOf(got: Map[Long, Set[Long]]): Double = exact.map {
      case (qid, want) =>
        got.getOrElse(qid, Set.empty).intersect(want).size.toDouble / want.size
    }.sum / exact.size
    val recall = recallOf(adc)
    // 4×16 codebooks squeeze 64 random-ish dims into 4 codes — the
    // hardest PQ regime (measured 0.34 here, rising to 0.56 at m=16/32:
    // recall buys code budget). Pure ADC must still beat noise and keep
    // every query in its own top-10 (self-distance = reconstruction
    // error, the smallest ADC value by construction)
    assert(recall >= 0.25, s"ADC recall@10 $recall")
    assert(exact.keys.forall(qid => adc(qid).contains(qid)))
    // the production shape: ADC shortlist + exact re-rank — compression
    // now only costs shortlist recall, and a 50-deep shortlist must
    // recover (nearly) the true neighborhood
    val rr = Similarity.pqTopKRerank(embs, queries, dim = 64, k = 10,
        shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rrRecall = recallOf(rr)
    // measured 0.74 on this corpus (near-random vectors give PQ's
    // subspace-independence assumption nothing to exploit — the known
    // worst case; real embedding manifolds sit far above this)
    assert(rrRecall >= 0.6 && rrRecall >= recall,
      s"rerank recall@10 $rrRecall vs ADC $recall")
    // exactness invariant: a corpus-wide shortlist leaves nothing to
    // the quantizer — re-rank must return the TRUE top-k, bit-for-bit
    val full = Similarity.pqTopKRerank(embs, queries, dim = 64, k = 10,
        shortlist = all.length)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(recallOf(full) == 1.0)
  }

  test("quantizeInt8: saturation at max element, bounded round-trip error") {
    import spark.implicits._
    val out = Similarity.quantizeInt8(embs).select("vec_id", "qvec", "scale")
      .collect()
    assert(out.nonEmpty)
    val orig = embs.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    out.foreach { r =>
      val q = r.getSeq[Int](1).toArray
      val scale = r.getDouble(2)
      val x = orig(r.getLong(0))
      assert(q.forall(v => v >= -127 && v <= 127))
      // the absolutely-largest element saturates
      assert(q.exists(v => math.abs(v) == 127))
      // dequantization error <= scale/2 (+ rounding-of-scale slack)
      q.zip(x).foreach { case (qi, xi) =>
        assert(math.abs(qi * scale - xi) <= scale / 2 + 1e-6,
          s"vec ${r.getLong(0)}: $qi * $scale vs $xi")
      }
    }
    // zero vector → all-zero qvec, scale 0
    val z = Similarity.quantizeInt8(
      Seq((1L, Array.fill(4)(0.0f))).toDF("vec_id", "embedding"))
      .select("vec_id", "qvec", "scale").head()
    assert(z.getSeq[Int](1).forall(_ == 0) && z.getDouble(2) == 0.0)
  }

  test("boilerplate line removal drops shared lines, keeps unique docs byte-for-byte") {
    import spark.implicits._
    val banner = "accept all cookies"
    val in = Seq(
      (1L, s"alpha text\n$banner\nunique one"),
      (2L, s"$banner\nbeta body\n\ntail"),
      (3L, s"gamma\n$banner"),
      (4L, "plain doc\nwith two lines"),
      (5L, banner),                        // all-boilerplate doc
      (6L, "repeat\nrepeat\nonly here"),   // intra-doc repeats: 1 distinct doc
      (7L, "ends with newline\n")          // trailing empty line survives
    ).toDF("doc_id", "text")
    val m = Dedup.removeBoilerplateLines(in, "doc_id", "text", minDocs = 3)
      .select("doc_id", "text_clean")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "alpha text\nunique one")
    assert(m(2L) == "beta body\n\ntail")     // blank lines are never boilerplate
    assert(m(3L) == "gamma")
    assert(m(4L) == "plain doc\nwith two lines") // untouched → identical
    assert(m(5L) == "")
    assert(m(6L) == "repeat\nrepeat\nonly here")
    assert(m(7L) == "ends with newline\n")
    // the shuffled (adversarial-corpus) anti-join path is value-identical
    val shuffled = Dedup.removeBoilerplateLines(in, "doc_id", "text",
        minDocs = 3, broadcastHot = false)
      .select("doc_id", "text_clean")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(shuffled == m)
  }

  test("PMI collocations: a planted fixed phrase outranks independent pairs") {
    import spark.implicits._
    // "deep learning" always co-occurs; the two filler slots enumerate
    // all 25 combinations (i mod 5, i div 5 mod 5) so no filler PAIR
    // clears minCount — only the planted phrase is a collocation
    val docs = (0 until 40).map { i =>
      val filler = Seq("a", "b", "c", "d", "e")(i % 5) + " " +
        Seq("x", "y", "z", "w", "v")((i / 5) % 5)
      (i.toLong, s"deep learning $filler t$i")
    }.toDF("doc_id", "text")
    val top = CorpusStats.pmiCollocations(docs, "text", minCount = 5, topK = 3)
      .collect()
    assert(top.head.getString(0) == "deep" && top.head.getString(1) == "learning")
    // always-together pair with c1=c2=c12=40, T=200 (5 tokens/doc):
    // ln(40*200/(40*40)) = ln(5)
    assert(top.head.getDouble(5) == BigDecimal(math.log(5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("event windows: sliding contexts in time order, incomplete tails dropped") {
    import spark.implicits._
    val ts = (m: Int) => new java.sql.Timestamp(1700000000000L + m * 60000L)
    val ev = Seq(
      (1L, ts(0), 10L, "view"), (1L, ts(1), 11L, "click"),
      (1L, ts(2), 12L, "cart"), (1L, ts(3), 13L, "buy"),
      (1L, ts(4), 14L, "leave"),
      (2L, ts(0), 20L, "view"), (2L, ts(1), 21L, "leave") // too short
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = SequencePack.eventWindows(ev, "user_id", "ts", "event_id",
        "event_type", contextLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3)))
    assert(out.toSet == Set(
      (1L, 1L, "view click cart", "buy"),
      (1L, 2L, "click cart buy", "leave")))
    // tie-break on event_id inside one timestamp is deterministic
    val tied = Seq((3L, ts(0), 31L, "a"), (3L, ts(0), 30L, "b"),
      (3L, ts(0), 32L, "c"), (3L, ts(1), 33L, "d"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val t = SequencePack.eventWindows(tied, "user_id", "ts", "event_id",
      "event_type", contextLen = 3).collect()
    assert(t.length == 1 && t.head.getString(2) == "b a c" &&
      t.head.getString(3) == "d")
  }

  test("compression ratio: repetitive junk compresses far below natural prose") {
    import spark.implicits._
    val repetitive = "buy cheap now " * 200
    val varied = (1 to 200).map(i => s"token${i * 7919 % 1000}").mkString(" ")
    val df = Seq((1L, repetitive), (2L, varied), (3L, null: String))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(df(1L).get < 0.1, s"repetitive ratio ${df(1L)}")
    assert(df(2L).get > 2 * df(1L).get)
    assert(df(3L).isEmpty)
    // deterministic across invocations
    val again = Seq((1L, repetitive)).toDF("doc_id", "text")
      .select(TextOps.compressionRatio(col("text"))).collect().head.getDouble(0)
    assert(again == df(1L).get)
  }

  test("content chunks: an insertion shifts only its own chunk's fingerprints") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val body = (1 to 400).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val edited = "INSERTED PREFIX " + body
    val chunks = TextOps.contentChunks(
        Seq((1L, body), (2L, edited)).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(4)))
    val fp1 = chunks.filter(_._1 == 1L).map(_._2)
    val fp2 = chunks.filter(_._1 == 2L).map(_._2).toSet
    assert(fp1.length >= 3, s"fixture should cut several chunks: ${fp1.length}")
    // every chunk after the first boundary of the original doc
    // survives the prefix insertion verbatim (content-defined cuts
    // re-synchronize); a fixed-offset chunker would lose ALL of them
    val surviving = fp1.drop(1).count(fp2.contains)
    assert(surviving == fp1.length - 1,
      s"only $surviving of ${fp1.length - 1} post-boundary chunks survived")
    // chunks tile the doc exactly
    val spans = TextOps.contentChunks(
        Seq((1L, body)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("chunk_idx")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    assert(spans.head._1 == 1 && spans.map(_._2).sum == body.length)
    spans.sliding(2).foreach { case Array((s1, l1), (s2, _)) =>
      assert(s2 == s1 + l1)
    case _ => () }
  }

  test("sparse kNN: shared rare vocabulary ranks first; ubiquitous terms are pruned") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quantum chromodynamics lattice paper"),
      (2L, "the quantum chromodynamics lattice preprint"),
      (3L, "the cooking recipe soup onions"),
      (4L, "the cooking recipe soup carrots"),
      (5L, "the unrelated gardening manual")
    ).toDF("doc_id", "text")
    val knn = Retrieval.sparseCosineTopK(docs, "doc_id", "text",
        k = 2, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    val rank1 = knn.filter(_._4 == 1).map(t => t._1 -> t._2).toMap
    assert(rank1(1L) == 2L && rank1(2L) == 1L)
    assert(rank1(3L) == 4L && rank1(4L) == 3L)
    // "the" (df=5 > maxDf) is pruned: doc 5 shares only "the" with the
    // others, so it has no neighbors at all
    assert(!knn.exists(t => t._1 == 5L || t._2 == 5L))
    // the planted twins overlap on 3 of 4 kept terms: similarity is high
    assert(knn.find(t => t._1 == 1L && t._2 == 2L).get._3 > 0.5)
  }

  test("source interleave: strided residues, sequential ranks, unique positions") {
    import spark.implicits._
    val docs = (0 until 90).map(i => (i.toLong, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val out = Sampling.interleaveBySource(docs, "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 90)
    // positions unique and residue mod S determines the source
    assert(out.map(_._4).distinct.length == 90)
    val bySrc = out.groupBy(_._2)
    val sIdx = bySrc.keys.toSeq.sorted.zipWithIndex.toMap
    out.foreach { case (_, src, r, pos) =>
      assert(pos % 3 == sIdx(src), s"$src pos $pos")
      assert(pos == (r - 1) * 3 + sIdx(src))
    }
    // within-source ranks are 1..n with no gaps
    bySrc.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // determinism
    val again = Sampling.interleaveBySource(docs, "doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out.forall { case (id, _, _, pos) => again(id) == pos })
  }

  test("snapshot diff: added/removed/changed/unchanged partition the id space") {
    import spark.implicits._
    val a = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val b = Seq((2L, "two"), (3L, "THREE edited"), (4L, "four"))
      .toDF("doc_id", "text")
    val d = DataChecks.snapshotDiff(a, b, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(d == Map(1L -> "removed", 2L -> "unchanged",
      3L -> "changed", 4L -> "added"))
  }
}

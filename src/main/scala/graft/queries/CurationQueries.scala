package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{NioStoreFs, Tables}

/** Round-11 training-pipeline operators: URL-level curation (the
  * FineWeb/RefinedWeb domain accounting layer), memorization-risk
  * novelty, split-leakage auditing, k-core graph cleanup, classifier
  * acceptance metrics, and training-order construction. Same contract
  * as [[TrainQueries]] — every entry has a full DuckDB value oracle.
  */
object CurationQueries {

  /** Deterministic messy-URL column derived from (doc_id, source) — the
    * id-planted-PII pattern: the documents table has no URL column, so
    * the gate plants one with every canonicalization hazard (scheme
    * case, www, default and REAL ports, trailing slash, tracking
    * params in shuffled positions, fragments) as a pure function of the
    * id that both engines replay.
    */
  private def plantedUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    val scheme = when(id % 2 === 0, lit("https://")).otherwise(lit("HTTP://"))
    val www = when(id % 4 === 0, lit("www.")).otherwise(lit(""))
    val host = concat(
      when(id % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.com"))
    val port = when(id % 5 === 0, lit(":80"))
      .when(id % 5 === 1, lit(":8080")).otherwise(lit(""))
    val path = concat(lit("/p/"), (id % 50).cast("string"),
      when(id % 7 === 0, lit("/")).otherwise(lit("")))
    val qs = when(id % 3 === 0,
        concat(lit("?utm_source=feed&id="), (id % 10).cast("string")))
      .when(id % 3 === 1,
        concat(lit("?id="), (id % 10).cast("string"), lit("&utm_campaign=x&b=1")))
      .otherwise(lit(""))
    val frag = when(id % 4 === 1, lit("#sec")).otherwise(lit(""))
    concat(scheme, www, host, port, path, qs, frag)
  }

  /** NOTE: this fragment is interpolated into an outer `.stripMargin`
    * template, so no line may start with blanks + `|` — the
    * concatenation operators sit at line ENDS.
    */
  private val plantedUrlSql: String =
    """CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
      |  CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END ||
      |  CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END ||
      |  '.Example.com' ||
      |  CASE WHEN doc_id % 5 = 0 THEN ':80'
      |       WHEN doc_id % 5 = 1 THEN ':8080' ELSE '' END ||
      |  concat('/p/', CAST(doc_id % 50 AS VARCHAR)) ||
      |  CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
      |  CASE WHEN doc_id % 3 = 0
      |       THEN concat('?utm_source=feed&id=', CAST(doc_id % 10 AS VARCHAR))
      |       WHEN doc_id % 3 = 1
      |       THEN concat('?id=', CAST(doc_id % 10 AS VARCHAR), '&utm_campaign=x&b=1')
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 4 = 1 THEN '#sec' ELSE '' END""".stripMargin

  /** The canonicalization replay: CTEs `u` (planted url) → `par`
    * (host, path, sorted kept params) — token for token the regexp
    * chain in [[graft.operators.TextOps.canonicalUrl]]. Every pattern
    * is anchored or single-match, so DuckDB's replace-first default
    * agrees with Spark's replace-all.
    */
  private val canonCtesSql: String =
    s"""u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents),
       |s1 AS (SELECT doc_id, url,
       |    regexp_replace(regexp_replace(trim(url), '#.*$$', ''),
       |      '^[Hh][Tt][Tt][Pp][Ss]?://', '') AS ns FROM u),
       |parts AS (SELECT doc_id, url,
       |    regexp_replace(regexp_replace(
       |      lower(coalesce(regexp_extract(ns, '^([^/?]+)', 1), '')),
       |      '^www\\.', ''), ':(80|443)$$', '') AS host,
       |    regexp_replace(ns, '^[^/?]*', '') AS rest FROM s1),
       |pq AS (SELECT doc_id, url, host,
       |    regexp_replace(regexp_replace(rest, '\\?.*$$', ''), '/+$$', '') AS path,
       |    coalesce(regexp_extract(rest, '\\?(.*)$$', 1), '') AS query FROM parts),
       |par AS (SELECT doc_id, url, host, path,
       |    list_sort(list_filter(string_split(query, '&'),
       |      p -> length(p) > 0 AND NOT regexp_matches(p,
       |        '^(utm_[A-Za-z0-9_]*|ref|fbclid|gclid)='))) AS ps FROM pq),
       |canon AS (SELECT doc_id, url, host,
       |    host || path || CASE WHEN len(ps) > 0
       |      THEN '?' || array_to_string(ps, '&') ELSE '' END AS canon
       |  FROM par)""".stripMargin

  /** k-core oracle: `rounds` unrolled peels over the co-purchase part
    * graph — each round recomputes degrees over the surviving edge set
    * and keeps nodes with deg ≥ k, exactly
    * [[graft.operators.Graph.kcoreMembers]].
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // every e$r is referenced four times downstream (degree union +
    // both join sides of the next round) — MATERIALIZED stops DuckDB
    // from inlining the whole chain into a 4^rounds expansion
    val peels = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM e${r - 1}
         |    UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE deg >= $k),
         |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
         |  JOIN k$r a ON e.u = a.node JOIN k$r b ON e.v = b.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
       |$peels
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY 1 ORDER BY node""".stripMargin
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // URL canonicalization: scheme/case/www/default-port/tracking-param/
    // fragment/trailing-slash normalization with SORTED surviving
    // params — the first step of crawl-frontier dedup. Pure regexp/array
    // Column chain, byte-identical oracle replay.
    "q_url_canon" -> ((s, d) => {
      import graft.operators.TextOps
      val canon = TextOps.canonicalUrl(plantedUrl)
      Tables.documents(s, d)
        .select(col("doc_id"), plantedUrl.as("url"), canon.as("canon"),
          TextOps.urlHost(canon).as("host"))
        .orderBy("doc_id")
    }),

    // per-domain document cap (the FineWeb-style anti-SEO guard: no
    // single domain may contribute more than K documents): canonical
    // host → skew-safe salted top-K by (n_chars desc, id). A viral
    // domain's million pages never rank on one reducer.
    "q_domain_cap" -> ((s, d) => {
      import graft.operators.TextOps
      val withDomain = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          TextOps.urlHost(TextOps.canonicalUrl(plantedUrl)).as("domain"))
      graft.core.SkewOps.topKByKey(withDomain, Seq("domain"),
          Seq(col("n_chars").desc, col("doc_id")), k = 10)
        .select("domain", "doc_id", "n_chars", "rnk")
        .orderBy("domain", "rnk")
    }),

    // the per-DOMAIN corpus card: volume, char mass, exact mean
    // quality (Round6 discipline), and exact-duplicate rate per
    // canonical host — the table a crawl triages domains with
    // (q_corpus_card's per-source shape keyed by the URL layer)
    "q_domain_stats" -> ((s, d) => {
      import graft.operators.TextOps
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          TextOps.urlHost(TextOps.canonicalUrl(plantedUrl)).as("domain"),
          TextOps.qualityScore(col("text")).as("__q"),
          TextOps.fingerprint(col("text")).as("__fp"))
      val dupFree = graft.core.SkewOps.distinctCountByKey(
        docs, Seq("domain"), "__fp")
      docs.groupBy("domain")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          graft.core.Round6.decAvg6(sum(col("__q").cast("decimal(28,6)")),
            count(lit(1))).as("mean_quality"))
        .join(dupFree, "domain")
        .select(col("domain"), col("n_docs"), col("sum_chars"),
          col("mean_quality"),
          graft.core.Round6.intRatio6(col("n_docs") - col("n_distinct___fp"),
            col("n_docs")).as("dup_rate"))
        .orderBy("domain")
    }),

    // per-doc novelty (inverse memorization risk): fraction of the
    // doc's 8-token windows whose md5 fingerprint occurs exactly once
    // corpus-wide. Fingerprints shuffle; bodies never do.
    "q_novelty" -> ((s, d) =>
      graft.operators.CorpusStats.noveltyScores(
        Tables.documents(s, d), "doc_id", "text", k = 8)
        .orderBy("doc_id")),

    // train/test leakage audit: near-dup pairs (minhash-LSH, exact
    // Jaccard verify ≥ 0.5) that STRADDLE the deterministic 80/10/10
    // split — each one is an eval answer sitting in the training set.
    "q_split_leakage" -> ((s, d) => {
      import graft.operators.{Dedup, Sampling}
      val split = Sampling.hashSplit(col("doc_id"),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val splits = Tables.documents(s, d).select(col("doc_id"), split.as("split"))
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5)
        .join(splits.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
        .join(splits.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select("id_a", "id_b", "jaccard", "split_a", "split_b")
        .orderBy("id_a", "id_b")
    }),

    // k-core cleanup of the co-purchase graph (k=80, 8 peel rounds —
    // fixpoint reached in ≤6 on the gate data, pinned in ScalaTest):
    // the coreness screen that strips peripheral one-link nodes before
    // authority ranking.
    "q_kcore" -> ((s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      // bucket-collect pair expansion: same (src < dst) edge multiset
      // as the equi-self-join spelling, one exchange instead of two
      // join sides (the oracle's SQL self-join is output-equivalent)
      val e = graft.operators.Graph.coOccurrencePairs(op, "o", "p")
      graft.operators.Graph.kcoreMembers(e, "src", "dst", k = 80, rounds = 8)
        .orderBy("node")
    }),

    // exact tie-corrected ROC-AUC of the heuristic quality score
    // against the lang=='en' label — the acceptance metric every
    // trained quality filter must clear before it gates a corpus.
    // Integer Mann-Whitney U; one distinct-score-sized window.
    "q_quality_auc" -> ((s, d) =>
      graft.operators.DataChecks.rocAuc(
        Tables.documents(s, d)
          .select(graft.operators.TextOps.qualityScore(col("text")).as("score"),
            (col("lang") === "en").as("label")),
        "score", "label")),

    // per-source weighted median doc length (weights deterministic) —
    // pure integer rank decision, tie-safe via RANGE-frame cumulative
    "q_weighted_median" -> ((s, d) =>
      graft.operators.DataChecks.weightedMedian(
        Tables.documents(s, d)
          .withColumn("w", lit(1L) + col("doc_id") % 7),
        "source", "n_chars", "w")
        .orderBy("source")),

    // k-anonymity / l-diversity release audit over the quasi key
    // (source, lang, 100-char length bucket): group sizes +
    // distinct-sensitive counts with threshold flags
    "q_k_anonymity" -> ((s, d) =>
      graft.operators.DataChecks.kAnonymity(
        Tables.documents(s, d)
          .withColumn("len_bucket", expr("CAST(n_chars DIV 100 AS BIGINT)")),
        Seq("source", "lang", "len_bucket"), "text", k = 5, l = 3)
        .orderBy("source", "lang", "len_bucket")),

    // exact Spearman rank correlation (quality score vs doc length):
    // tie-broken ranks are permutations, so rho = 1 − 6Σd²/(n(n²−1))
    // stays pure integer until one exact division — engine-portable
    // with no float knife edge anywhere
    "q_spearman" -> ((s, d) =>
      graft.operators.DataChecks.spearman(
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.operators.TextOps.qualityScore(col("text")).as("score"),
            col("n_chars")),
        "doc_id", "score", "n_chars")),

    // per-source percentile-rank normalization of the quality score:
    // qnorm = (r−1)/(n−1) within the source — scores become comparable
    // ACROSS sources (a 0.9 from a boilerplate-heavy crawl and a 0.9
    // from curated text mean different things; ranks don't).
    "q_quality_rank" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val score = graft.operators.TextOps.qualityScore(col("text"))
      val w = Window.partitionBy("source").orderBy(col("score"), col("doc_id"))
      val wn = Window.partitionBy("source")
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), score.as("score"))
        .withColumn("r", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .select(col("doc_id"), col("source"), col("score"),
          when(col("n") === 1, lit(0.5)).otherwise(
            graft.core.Round6.intRatio6(col("r") - 1, col("n") - 1))
            .as("qnorm"))
        .orderBy("doc_id")
    }),

    // embedding OOD screen: exact squared-L2 to the assigned centroid
    // of the shared deterministic k-means, flagged against the CELL's
    // own nearest-rank p90 — encoder failures and out-of-distribution
    // vectors surface before they pollute dedup/ANN indexes. The fit
    // is the IVF oracle chain; the distance value is DECIMAL-exact.
    "q_embed_outliers" -> ((s, d) =>
      graft.operators.Similarity.centroidOutliers(Tables.embeddings(s, d),
          dim = 64, nCells = 16, nIters = 3, q = 0.9)
        .orderBy("vec_id")),

    // REAL video frame sampling: AVI/MJPEG containers (RIFF walk) of
    // genuine baseline-JFIF frames → every 2nd frame → JPEG decode →
    // pixel rows. Constant 8×8 blocks with even levels make the lossy
    // pipeline integer-exact (the q_multimodal_jpeg family), so the
    // whole video path gets a full value oracle.
    "q_multimodal_video" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val nf = 2 + (id % 3).toInt
        val frames = (0 until nf).map { f =>
          graft.operators.Jpeg.encode(16, 8, 1, i => {
            val bx = (i % 16) / 8
            2 * (((id * 7 + f) * 31 + bx) % 128).toInt
          })
        }
        graft.operators.MediaCodecs.Avi.encode(16, 8, frames)
      }
      // spread BEFORE the JPEG-encode fixture udf: a 2-partition scan
      // would otherwise serialize the encoding (jstack-measured)
      val bin = graft.operators.Dedup.spread(Tables.documents(s, d))
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      graft.operators.Multimodal.videoFrameSample(bin, every = 2)
        .orderBy("id", "frame", "pos")
    }),

    // MERGE (keyed upsert) into the day-partitioned obs store: updates
    // (statid 0, every 5th day, corrected values) + inserts (a new
    // sensor) rewrite ONLY the touched obs_date partitions via dynamic
    // partition overwrite — the reference's monthly ON CONFLICT loop
    // as a lake operation. Oracle replays the merge relationally.
    "q_store_merge" -> ((s, d) => {
      import graft.sources.PartitionedStore
      val obs = TsaQueries.obsFromEvents(s, d)
      val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_merge_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      PartitionedStore.writeByDay(obs, path)
      val touchedDay = dayofmonth(col("tfrom")) % 5 === 0
      val updates = obs.filter(col("statid") === 0 && touchedDay)
        .withColumn("seval", col("seval") + 1.0)
      val inserts = obs.filter(col("statid") === 1 && touchedDay)
        .select(col("tfrom")).distinct()
        .select(col("tfrom"), lit(1L).as("statid"), lit(9L).as("seid"),
          lit(1.5).as("seval"))
      PartitionedStore.mergeByDay(s, updates.unionByName(inserts), path,
        Seq("tfrom", "statid", "seid"))
      PartitionedStore.read(s, path)
        .select("tfrom", "statid", "seid", "seval")
        .orderBy("statid", "seid", "tfrom")
    }),

    // Snapshot-versioned store (manifest-based time travel, the
    // lakehouse table-format pattern): v0 init → v1 keyed merge
    // (updates + inserts, only key-range-overlapping files rewritten)
    // → v2 range delete (in-range files drop manifest-only). The gate
    // reads ALL THREE versions back — time travel itself is under the
    // oracle, which replays each version relationally.
    "q_store_timetravel" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_snap_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id")
      val batch = base.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L).select(col("id").as("doc_id"),
          col("id").as("n_chars"), lit("ins").as("source")))
      SnapshotStore.merge(s, batch, root)
      SnapshotStore.deleteRange(s, root, 200L, 299L)
      Seq(0L, 1L, 2L).map(v => SnapshotStore.readAsOf(s, root, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "source")
        .orderBy("version", "doc_id")
    }),

    // COMPACTION of the snapshot store: three small append commits +
    // a correction merge leave batch-sized files next to table-sized
    // ones (the LSM small-files decay); compact() picks the small set
    // from manifest ROW STATS alone, rewrites only those into
    // right-sized range-partitioned files, and commits a new version.
    // The gate reads BOTH the pre- and post-compaction versions —
    // row identity across compaction AND preserved time travel are
    // under the oracle, which replays the final state relationally
    // (identical content at both version labels).
    "q_store_compact" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_compactg_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      (0 until 3).foreach { k => // v1..v3: small appends, far key range
        val b = s.range(1000000000000L + 1000L * k, 1000000000000L + 1000L * k + 50L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
            lit(s"app$k").as("source"))
        SnapshotStore.append(s, b, root, filesPerCommit = 2)
      }
      SnapshotStore.merge(s, // v4: corrections
        base.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L), root)
      val before = SnapshotStore.currentManifest(root)
      val after = SnapshotStore.compact(s, root,
        smallRows = 1000000L, targetRows = 1000000L) // v5: all → 1 file
      Seq(before.version, after.version).map(v =>
        SnapshotStore.readAsOf(s, root, v).withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "source")
        .orderBy("version", "doc_id")
    }),

    // CONJUNCTIVE pruned scan over the snapshot store: a key-range ∧
    // zone-map predicate reads only files that might match either —
    // the multi-dimensional file pruning a table format gives range
    // queries. The gate probes key-only, stats-only, conjunctive and
    // empty predicates; the oracle replays each relationally.
    "q_store_scan" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_scan_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", statsCols = Seq("n_chars"))
      Seq(
        (0L, Map("doc_id" -> (0L, 149L))),
        (1L, Map("n_chars" -> (500L, 2000L))),
        (2L, Map("doc_id" -> (100L, 399L), "n_chars" -> (500L, 2000L))),
        (3L, Map("doc_id" -> (5000000L, 6000000L))))
        .map { case (pid, ranges) =>
          SnapshotStore.scanRanges(s, root, ranges)
            .withColumn("probe", lit(pid)) }
        .reduce(_ unionByName _)
        .select("probe", "doc_id", "n_chars", "source")
        .orderBy("probe", "doc_id")
    }),

    // THE DATASOURCE V2 READ PATH: the store's pruning made VISIBLE
    // TO CATALYST — spark.read.format("graft-snapshot") plus plain
    // .filter()s replays q_store_scan's probes, with file selection
    // happening at PLANNING time via the pushed predicates (key-range
    // envelopes + n_chars zone maps) and rows re-checked exactly by
    // the residual filters over Spark's own vectorized parquet scan.
    // Pruning is gate-REQUIRED: the selective probes must read
    // strictly fewer files than the manifest holds, the far-range
    // probe must plan ZERO files, and time travel rides
    // option("version", 0) across a later merge.
    "q_store_scan_v2" -> ((s, d) => {
      import graft.sources.SnapshotStore
      def scanned(df: org.apache.spark.sql.DataFrame): Int =
        graft.sources.v2.SnapshotSource.scannedFiles(df).length
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_scanv2_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", statsCols = Seq("n_chars"))
      SnapshotStore.merge(s, base.filter(col("doc_id") % 11 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 200L), root)
      val total = SnapshotStore.currentManifest(root).files.size
      def v2(opts: (String, String)*) = opts.foldLeft(
        s.read.format("graft-snapshot"))((r, kv) =>
        r.option(kv._1, kv._2)).load(root)
      // probe 0: TIME TRAVEL + key-range pruning on the PRE-merge v0
      val p0 = v2("version" -> "0").filter(col("doc_id").between(0L, 149L))
      require(scanned(p0) < SnapshotStore.manifestAsOf(root, 0L).files.size,
        "v0 key-range probe must prune files at planning time")
      // probe 1: zone-map pruning on the non-key stats column (head)
      val p1 = v2().filter(col("n_chars").between(500L, 2000L))
      // probe 2: conjunction of key range and zone map (head)
      // [100, 299] so at least one file stays outside the key range
      // at every sf (files hold >= 125 contiguous keys at sf0.01)
      val p2 = v2().filter(col("doc_id").between(100L, 299L) &&
        col("n_chars").between(500L, 2000L))
      require(scanned(p2) < total,
        "conjunctive probe must prune files at planning time")
      // probe 3: far range — ZERO files planned, empty result
      // (beyond 1e12: scale replicas shift doc_ids up to ~1e9)
      val p3 = v2().filter(
        col("doc_id").between(2000000000000L, 2000001000000L))
      require(scanned(p3) == 0,
        "a probe outside every envelope must plan zero files")
      Seq(p0, p1, p2, p3).zipWithIndex
        .map { case (df, i) => df.withColumn("probe", lit(i.toLong)) }
        .reduce(_ unionByName _)
        .select("probe", "doc_id", "n_chars", "source")
        .orderBy("probe", "doc_id")
    }),

    // V2 POINT LOOKUPS: q_store_lookup's bloom-pruned scattered-id
    // reads through the Catalyst path — IN-list and equality
    // predicates on the key select files via range envelopes AND
    // per-file key Blooms at planning time. Gate-REQUIRED: gap keys
    // (inside envelopes, absent from the table) plan strictly fewer
    // files than their range overlap — the pruning only blooms give.
    "q_store_lookup_v2" -> ((s, d) => {
      import graft.sources.SnapshotStore
      def scanned(df: org.apache.spark.sql.DataFrame): Int =
        graft.sources.v2.SnapshotSource.scannedFiles(df).length
      val base = Tables.documents(s, d)
        .select((col("doc_id") * 1000L).as("k"),
          col("n_chars").cast("long").as("n_chars"), col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_lookupv2_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      val n = base.count()
      var bits = 8192L
      while (bits < 4L * n) bits <<= 1
      SnapshotStore.init(s, base, root, "k", filesPerCommit = 8,
        bloomBits = bits.toInt) // v0
      val m = SnapshotStore.currentManifest(root)
      val present = base.select("k")
        .where(pmod(col("k"), lit(97000L)) === 0)
        .collect().map(_.getLong(0)).sorted.toSeq
      val absent = present.take(50).map(_ + 500L)
      def v2() = s.read.format("graft-snapshot").load(root)
      // gap probes: bloom pruning must beat the range overlap
      val miss = v2().filter(col("k").isin(absent: _*))
      val overlap = m.files.count(f =>
        absent.exists(k => f.minKey <= k && k <= f.maxKey))
      require(overlap > 0 && scanned(miss) < overlap,
        s"gap probes must bloom-prune below range overlap: " +
          s"planned ${scanned(miss)} of $overlap")
      require(miss.count() == 0, "gap probes must return nothing")
      // a single present key plans exactly its one file
      val one = v2().filter(col("k") === present.head)
      require(scanned(one) == 1, "a present key reads one file")
      v2().filter(col("k").isin(present: _*))
        .select(lit("present").as("ref"), col("k"), col("n_chars"),
          col("source"))
        .orderBy("ref", "k")
    }),

    // THE DATASOURCE V2 WRITE PATH: df.write.format("graft-snapshot")
    // must land a commit BIT-IDENTICAL to the API append — same rows,
    // same per-file stats (minKey/maxKey/rows/zone maps folded INLINE
    // with the parquet write; the API path pays a second stats scan),
    // same version arithmetic — because it routes through the same
    // publish/CAS machinery. The gate writes one far-range batch via
    // V2 save() and the same batch via append() on a twin store,
    // REQUIRES the new files' manifest stats to agree, then truncates
    // the V2 store with mode(overwrite) and reads all three states;
    // the oracle replays each relationally.
    "q_store_write_v2" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val rootA = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_wv2a_" + sfx).toString
      val rootB = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_wv2b_" + sfx).toString
      val batch = s.range(1000000000000L, 1000000000050L)
        .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
          lit("ins").as("source"))
      for (r <- Seq(rootA, rootB)) {
        SnapshotStore.destroy(r)
        SnapshotStore.init(s, base, r, "doc_id", statsCols = Seq("n_chars"))
      }
      batch.write.format("graft-snapshot")
        .option("filesPerCommit", 4) // pinned: the API twin writes 4
        .mode("append").save(rootA)                                   // V2
      SnapshotStore.append(s, batch, rootB)                           // API
      val (ma, mb) = (SnapshotStore.currentManifest(rootA),
        SnapshotStore.currentManifest(rootB))
      def stats(m: SnapshotStore.Manifest) = m.files.filter(_.seq == 1L)
        .map(f => (f.minKey, f.maxKey, f.rows, f.stats)).sortBy(_._1)
      require(ma.version == 1L && mb.version == 1L &&
          stats(ma) == stats(mb),
        s"V2 inline-folded stats must equal the API stats scan: " +
          s"${stats(ma)} vs ${stats(mb)}")
      // truncate: INSERT OVERWRITE semantics through mode(overwrite)
      base.filter(col("doc_id") % 5 === 0)
        .write.format("graft-snapshot").mode("overwrite").save(rootA)
      require(SnapshotStore.currentManifest(rootA).files.forall(_.seq == 2L),
        "a truncating write must replace the manifest file set")
      Seq("v2" -> SnapshotStore.readAsOf(s, rootA, 1L),
          "api" -> SnapshotStore.read(s, rootB),
          "trunc" -> SnapshotStore.read(s, rootA))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // FILTER-SCOPED OVERWRITE (the Delta replaceWhere / Iceberg
    // filter-overwrite surface): writeTo(t).overwrite(k BETWEEN a AND
    // b) replaces exactly the range's rows in ONE commit — the
    // standard backfill idiom for a time-keyed 100 TB table.
    // REQUIRED: files disjoint from the range carry PATH-IDENTICAL,
    // files fully inside drop, boundary files rewrite keeping their
    // out-of-range rows, a batch holding out-of-range keys REFUSES
    // (the replaceWhere conformance check), and the byte-targeted
    // default sizing (no filesPerCommit pinned) splits a write into
    // multiple AQE-sized files. The oracle replays head and v0.
    "q_store_overwrite" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ovw_wh_" + sfx).toString
      val cat = "graft_ovw_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 8) // v0
      val before = SnapshotStore.currentManifest(root)
      // the replaced range scales with the KEY DOMAIN (100 .. half the
      // max id): at every scale it fully covers interior files, leaves
      // the top half disjoint, and straddles a boundary file at the
      // low end — fixed literals stop covering whole files the moment
      // the domain outgrows them (the 10x lesson). The oracle computes
      // the same bound as a subquery over the same table.
      val hi = base.agg(max("doc_id")).collect().head.getLong(0) / 2L
      val repl = base
        .filter(col("doc_id").between(100L, hi) && col("doc_id") % 2 === 0)
        .withColumn("n_chars", col("n_chars") + 5000L)
      // conformance refusal FIRST (leaves the table untouched): a
      // batch holding keys outside the range must not slip past the
      // predicate
      val leak = scala.util.Try(
        base.filter(col("doc_id") <= hi + 50L).writeTo(s"$cat.db.t")
          .overwrite(col("doc_id").between(100L, hi)))
      require(leak.isFailure && leak.failed.get.getMessage != null &&
          SnapshotStore.currentManifest(root).version == 0L,
        "an overwrite batch with out-of-range keys must refuse, " +
          "leaving the table untouched")
      repl.writeTo(s"$cat.db.t")
        .overwrite(col("doc_id").between(100L, hi)) // v1
      val after = SnapshotStore.currentManifest(root)
      require(after.version == 1L, s"one commit expected, at ${after.version}")
      val disjoint = before.files
        .filter(f => f.maxKey < 100L || f.minKey > hi).map(_.path)
      require(disjoint.nonEmpty &&
          disjoint.toSet.subsetOf(after.files.map(_.path).toSet),
        "files disjoint from the range must carry path-identical")
      val inside = before.files
        .filter(f => f.minKey >= 100L && f.maxKey <= hi).map(_.path)
      require(inside.nonEmpty &&
          inside.forall(p => !after.files.exists(_.path == p)),
        "files fully inside the range must drop manifest-only")
      // byte-targeted default sizing on a separate root: no
      // filesPerCommit pinned, a small advisory target splits the
      // write into AQE-sized files (2..32 at every scale — the
      // shuffle representation is at least parquet-sized, and AQE
      // cannot exceed the 32 initial shuffle partitions)
      val rootB = s"$wh/db/sized"
      SnapshotStore.destroy(rootB)
      SnapshotStore.init(s, base.limit(0), rootB, "doc_id")
      val target = math.max(1L, before.files.map(_.bytes).sum / 10L)
      // KB-scale fixture data sits under AQE's 1 MB coalesce floor,
      // which would merge everything to one task regardless of the
      // advisory — drop the floor for THIS probe only (at real scale
      // the advisory dominates and the floor never binds)
      val minPS = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
      val prevMin = s.conf.getOption(minPS)
      try {
        s.conf.set(minPS, "1b")
        base.write.format("graft-snapshot")
          .option("targetFileBytes", target).mode("append").save(rootB)
      } finally prevMin match {
        case Some(v) => s.conf.set(minPS, v)
        case None => s.conf.unset(minPS)
      }
      val sized = SnapshotStore.currentManifest(rootB).files.size
      require(sized >= 2 && sized <= 32,
        s"byte-targeted sizing must split the write (got $sized files " +
          s"at targetFileBytes=$target)")
      Seq(
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t"),
        "v0" -> s.sql(
          s"SELECT doc_id, n_chars, source FROM $cat.db.t VERSION AS OF 0"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // RENAME COLUMN + TYPE WIDENING from pure SQL — both metadata-only
    // (the round-16 alterTable stopped at ADD/DROP): a rename is a
    // projection alias per version (the manifest's rename log;
    // era-split reads re-label old files' physical names), widening
    // rides the parquet readers' native INT->BIGINT promotion.
    // REQUIRED: neither ALTER touches a data file (manifest file sets
    // bit-identical), old rows surface under the NEW name with the
    // WIDE type, genuinely-long post-widen values land, time travel
    // keeps the OLD name, and the dropped-and-re-added (retired-name)
    // hazard still refuses. The oracle replays head and v1.
    "q_store_rename" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ren_wh_" + sfx).toString
      val cat = "graft_ren_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("int").as("n_chars"),
          col("source"))
        .createOrReplaceTempView(s"ren_base_$sfx")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"""CREATE TABLE $cat.db.t (doc_id BIGINT, n_chars INT,
               |source STRING) TBLPROPERTIES ('key' = 'doc_id')"""
        .stripMargin) // v0
      s.sql(s"INSERT INTO $cat.db.t SELECT * FROM ren_base_$sfx") // v1
      val f1 = SnapshotStore.currentManifest(root).files
      s.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN source TO origin") // v2
      require(SnapshotStore.currentManifest(root).files == f1,
        "RENAME COLUMN must touch zero data files")
      s.sql(s"INSERT INTO $cat.db.t " +
        s"SELECT doc_id + 1000000000000, n_chars, 'late' " +
        s"FROM ren_base_$sfx") // v3: written under the NEW name
      val f3 = SnapshotStore.currentManifest(root).files
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN n_chars TYPE BIGINT") // v4
      require(SnapshotStore.currentManifest(root).files == f3,
        "type widening must touch zero data files")
      s.sql(s"INSERT INTO $cat.db.t " +
        s"SELECT doc_id + 2000000000000, CAST(n_chars AS BIGINT) + " +
        s"5000000000, 'wide' FROM ren_base_$sfx") // v5: needs 64 bits
      // the retired-name hazard stays pinned: 'source' can never be
      // reborn (old files still store data under it)
      val reborn = scala.util.Try(
        s.sql(s"ALTER TABLE $cat.db.t ADD COLUMN source STRING"))
      require(reborn.isFailure,
        "a retired physical name must refuse to come back")
      val head = s.sql(
        s"SELECT doc_id, n_chars, origin FROM $cat.db.t")
      require(head.schema("n_chars").dataType ==
          org.apache.spark.sql.types.LongType,
        "the declared type must be the widened one")
      // time travel keeps the version's OWN declared name and type
      val v1 = s.sql(
        s"SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, " +
          s"source AS origin FROM $cat.db.t VERSION AS OF 1")
      Seq("head" -> head, "v1" -> v1)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "origin")
        .orderBy("ref", "doc_id")
    }),

    // REMAINING LOSSLESS WIDENINGS (the Iceberg evolution matrix's
    // other metadata-only lanes, probed against this Spark build's
    // parquet readers): DECIMAL digit growth — precision AND scale,
    // across the INT32/INT64/BINARY physical representations — and
    // DATE -> TIMESTAMP_NTZ (midnight, no zone reinterpretation).
    // Both ALTERs are REQUIRED to touch zero data files; old files
    // keep their narrow physical encoding and the readers up-convert
    // at scan. The two real narrowing/reinterpreting hazards are
    // REQUIRED to refuse: DECIMAL scale shrink and DATE -> TIMESTAMP
    // (local zone).
    "q_store_widen" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_widen_wh_" + sfx).toString
      val cat = "graft_widen_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      Tables.documents(s, d)
        .select(col("doc_id"),
          col("n_chars").cast("decimal(9,2)").as("score"),
          (lit(java.sql.Date.valueOf("2020-01-01")) +
            (col("doc_id") % 365).cast("int")).as("day"))
        .createOrReplaceTempView(s"widen_base_$sfx")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"""CREATE TABLE $cat.db.t (doc_id BIGINT,
               |score DECIMAL(9,2), day DATE)
               |TBLPROPERTIES ('key' = 'doc_id')""".stripMargin) // v0
      s.sql(s"INSERT INTO $cat.db.t SELECT * FROM widen_base_$sfx") // v1
      val f1 = SnapshotStore.currentManifest(root).files
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN score " +
        "TYPE DECIMAL(18,4)") // v2
      s.sql(s"ALTER TABLE $cat.db.t ALTER COLUMN day " +
        "TYPE TIMESTAMP_NTZ") // v3
      require(SnapshotStore.currentManifest(root).files == f1,
        "decimal/date widening must touch zero data files")
      // post-widen rows genuinely NEED the wide types: 14-digit
      // decimals with 4-scale, timestamps with a time-of-day
      s.sql(s"INSERT INTO $cat.db.t " +
        "SELECT doc_id + 3000000000000, " +
        "CAST(score AS DECIMAL(18,4)) + 1234567890.1234, " +
        "TIMESTAMP_NTZ '2021-03-14 01:02:03' " +
        s"FROM widen_base_$sfx") // v4
      // the hazards refuse: scale shrink loses digits; TIMESTAMP
      // (local zone) reinterprets the stored instant
      val shrink = scala.util.Try(s.sql(
        s"ALTER TABLE $cat.db.t ALTER COLUMN score TYPE DECIMAL(18,2)"))
      require(shrink.isFailure, "a DECIMAL scale shrink must refuse")
      val ltz = scala.util.Try(s.sql(
        s"ALTER TABLE $cat.db.t ALTER COLUMN day TYPE TIMESTAMP"))
      require(ltz.isFailure, "DATE -> TIMESTAMP (local zone) must refuse")
      val head = s.sql(s"SELECT doc_id, score, day FROM $cat.db.t")
      require(head.schema("score").dataType ==
          org.apache.spark.sql.types.DecimalType(18, 4) &&
          head.schema("day").dataType ==
          org.apache.spark.sql.types.TimestampNTZType,
        "the declared types must be the widened ones")
      // time travel keeps v1's own narrow declaration
      val v1 = s.sql(s"SELECT doc_id, CAST(score AS DECIMAL(18,4)) " +
        s"AS score, CAST(day AS TIMESTAMP_NTZ) AS day " +
        s"FROM $cat.db.t VERSION AS OF 1")
      require(s.sql(s"SELECT score, day FROM $cat.db.t VERSION AS OF 1")
          .schema.map(_.dataType.sql).toSeq == Seq("DECIMAL(9,2)", "DATE"),
        "time travel must keep the version's own narrow types")
      // decimals cross engines' dump layers with float drift — emit
      // the exact value as scaled BIGINT (the schema pins above
      // already proved the widened declaration)
      Seq("head" -> head, "v1" -> v1)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select(col("ref"), col("doc_id"),
          (col("score") * 10000L).cast("long").as("score_e4"), col("day"))
        .orderBy("ref", "doc_id")
    }),

    // EXACTLY-ONCE THROUGH THE V2 STREAMING SINK: q_stream_once's
    // contract without foreachBatch — df.writeStream.format(
    // "graft-snapshot") commits each epoch with an (appId, epochId)
    // txn marker via publishOnce. Redelivery is ENGINE-level: the
    // checkpoint is snapshotted after epoch 0, the stream commits
    // epoch 1, then the checkpoint is RESTORED and the stream
    // restarted — the file source replays epoch 1 with the same id
    // and the sink must land nothing twice (version count REQUIRED).
    "q_stream_sink_v2" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("k"),
          col("n_chars").cast("long").as("n_chars"), col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_sinkv2_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val incoming = baseDir.resolve("incoming").toString
      val ck = baseDir.resolve("ck")
      val ckBak = baseDir.resolve("ck_bak")
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(incoming))
      SnapshotStore.init(s, base, root, "k") // v0
      def batch(shift: Long) = base.select(
        (col("k") + shift).as("k"), col("n_chars"), col("source"))
      def start() = s.readStream.schema(base.schema).parquet(incoming)
        .writeStream.format("graft-snapshot")
        .option("txnAppId", "ingest")
        .option("checkpointLocation", ck.toString)
        .start(root)
      val q1 = start()
      try {
        batch(1000000000000L).coalesce(1).write.mode("append")
          .parquet(incoming)
        q1.processAllAvailable() // epoch 0 -> v1
      } finally q1.stop()
      copyDirRec(ck, ckBak) // snapshot BEFORE epoch 1
      val q2 = start()
      try {
        batch(2000000000000L).coalesce(1).write.mode("append")
          .parquet(incoming)
        q2.processAllAvailable() // epoch 1 -> v2
      } finally q2.stop()
      // REDELIVERY exactly as engine recovery does it
      NioStoreFs.deleteRecursively(ck.toString)
      copyDirRec(ckBak, ck)
      val q3 = start()
      try q3.processAllAvailable() finally q3.stop()
      val nv = SnapshotStore.versions(root).size
      require(nv == 3, s"each epoch must land exactly once: $nv versions")
      SnapshotStore.read(s, root)
        .withColumn("n_versions", lit(nv))
        .select("k", "n_chars", "source", "n_versions")
        .orderBy("k")
    }),

    // THE STORE FROM PURE SQL (TableCatalog plugin): the full
    // lifecycle — CREATE TABLE with key/stats TBLPROPERTIES, INSERT
    // INTO (a V2 write commit), pruned SELECT (REQUIRED: fewer files
    // than the manifest), manifest-answered COUNT (REQUIRED: zero
    // files), VERSION AS OF (number AND tag name), TIMESTAMP AS OF,
    // and ADD/DROP COLUMN as metadata-only evolution — all through
    // spark.sql against catalog-resolved names.
    "q_store_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val hash = Integer.toHexString(d.hashCode)
      val cat = s"gsql_$hash"
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_sqlwh_" + ProcessHandle.current().pid() + "_" + hash).toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
        .createOrReplaceTempView("q_store_sql_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.obs")
      s.sql(
        s"""CREATE TABLE $cat.db.obs (doc_id BIGINT, n_chars BIGINT,
           |  source STRING)
           |TBLPROPERTIES ('key' = 'doc_id', 'statsCols' = 'n_chars')"""
          .stripMargin)
      s.sql(s"INSERT INTO $cat.db.obs SELECT * FROM q_store_sql_src") // v1
      s.sql(
        s"""INSERT INTO $cat.db.obs
           |SELECT doc_id + 1000000000000, n_chars + 7, 'late'
           |FROM q_store_sql_src WHERE doc_id % 10 = 0""".stripMargin) // v2
      val root = s"$wh/db/obs"
      val total = SnapshotStore.currentManifest(root).files.size
      // pruning pin: SQL predicates select files at planning time
      val pruned = s.sql(
        s"SELECT doc_id, n_chars, source FROM $cat.db.obs " +
          "WHERE doc_id BETWEEN 100 AND 299")
      require(graft.sources.v2.SnapshotSource.scannedFiles(pruned).size < total,
        "SQL key-range predicates must prune files at planning time")
      // manifest-answered aggregate pin: zero data files planned
      val agg = s.sql(s"SELECT count(*) AS c FROM $cat.db.obs")
      val aggN = agg.collect().head.getLong(0)
      require(graft.sources.v2.SnapshotSource.scannedFiles(agg).isEmpty,
        "SQL count(*) must answer from the manifest with zero files")
      SnapshotStore.tag(root, "rel", 1L)
      s.sql(s"ALTER TABLE $cat.db.obs ADD COLUMN tag STRING") // v3
      val withCol = s.sql(s"SELECT doc_id, tag FROM $cat.db.obs " +
        "WHERE doc_id = 5")
      require(withCol.collect().forall(_.isNullAt(1)),
        "an added column reads NULL from pre-evolution files")
      s.sql(s"ALTER TABLE $cat.db.obs DROP COLUMN tag") // v4
      Seq(
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.obs"),
        "v1" -> s.sql(
          s"SELECT doc_id, n_chars, source FROM $cat.db.obs VERSION AS OF 1"),
        "tag" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.obs " +
          "VERSION AS OF 'rel'"),
        "ts" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.obs " +
          "TIMESTAMP AS OF '2099-01-01'"),
        "range" -> pruned)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .withColumn("n_rows_agg", lit(aggN))
        .select("ref", "doc_id", "n_chars", "source", "n_rows_agg")
        .orderBy("ref", "doc_id")
    }),

    // SQL DELETE AS METADATA-FIRST ERASURE: DELETE FROM with a key
    // range maps to deleteRange — files fully inside the range drop
    // MANIFEST-ONLY (REQUIRED: they vanish from the manifest while
    // every disjoint file carries by reference, path-identical), the
    // 100 TB right-to-be-forgotten sweep as one SQL statement. A key
    // IN-set maps to a merge-on-read delete file + immediate
    // materialization (the V2 read path stays open), and TRUNCATE
    // TABLE commits the empty relation. The oracle replays both
    // delete states.
    "q_store_delete_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val hash = Integer.toHexString(d.hashCode)
      val cat = s"gdel_$hash"
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_delwh_" + ProcessHandle.current().pid() + "_" + hash).toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
        .createOrReplaceTempView("q_store_delete_sql_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.t")
      s.sql(
        s"""CREATE TABLE $cat.db.t (doc_id BIGINT, n_chars BIGINT,
           |  source STRING) TBLPROPERTIES ('key' = 'doc_id')""".stripMargin)
      // the manifest-only-drop evidence below needs files fully inside
      // the deleted range; SQL INSERT has no option surface, so pin
      // the multi-file layout via the session conf
      val fpcKey = "spark.graft.write.filesPerCommit"
      val prevFpc = s.conf.getOption(fpcKey)
      try {
        s.conf.set(fpcKey, "4")
        s.sql(s"INSERT INTO $cat.db.t SELECT * FROM q_store_delete_sql_src") // v1
      } finally prevFpc match {
        case Some(v) => s.conf.set(fpcKey, v)
        case None => s.conf.unset(fpcKey)
      }
      val root = s"$wh/db/t"
      val before = SnapshotStore.currentManifest(root)
      s.sql(s"DELETE FROM $cat.db.t WHERE doc_id >= 200") // v2: range
      val after = SnapshotStore.currentManifest(root)
      val dropped = before.files.filter(_.minKey >= 200L).map(_.path)
      require(dropped.nonEmpty &&
          dropped.forall(p => !after.files.exists(_.path == p)),
        "files fully inside the deleted range must drop manifest-only")
      val kept = before.files.filter(_.maxKey < 200L).map(_.path).toSet
      require(kept.subsetOf(after.files.map(_.path).toSet),
        "files disjoint from the range must carry by reference")
      s.sql(s"DELETE FROM $cat.db.t WHERE doc_id IN (5, 17, 40)") // v3:
      // ONE copy-on-write commit — no MOR window raw-file reads refuse
      require(SnapshotStore.currentManifest(root).deletes.isEmpty,
        "the SQL IN-delete must materialize in its single commit")
      val head = s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t")
      val afterRange = s.sql(
        s"SELECT doc_id, n_chars, source FROM $cat.db.t VERSION AS OF 2")
      s.sql(s"TRUNCATE TABLE $cat.db.t") // v4
      require(s.sql(s"SELECT count(*) AS c FROM $cat.db.t")
          .collect().head.getLong(0) == 0L,
        "TRUNCATE TABLE must empty the relation")
      require(SnapshotStore.versions(root) == (0L to 4L),
        s"create/insert/range/keys/truncate = 5 versions, got " +
          SnapshotStore.versions(root))
      Seq("head" -> head, "range" -> afterRange)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // CDC WITH PAYLOAD IMAGES (the Delta CDF shape): the q_stream_cdc
    // feed upgraded from (key, op) to pre/post image ROWS — insert and
    // delete carry the row they added/removed, an update carries BOTH
    // sides as update_preimage/update_postimage. The oracle checks
    // VALUES, not just ops, across a merge, a range delete and a
    // merge-on-read key delete.
    "q_stream_cdc_images" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cdcimg_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val feed = baseDir.resolve("feed").toString
      SnapshotStore.init(s, base0, root, "doc_id") // v0 — no diff
      SnapshotStore.merge(s, base0.filter(col("doc_id") % 10 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), col("id").as("n_chars"),
            lit("ins").as("source"))), root)
      SnapshotStore.deleteRange(s, root, 200L, 299L) // v2
      SnapshotStore.deleteKeys(s, // v3: merge-on-read scattered keys
        base0.filter(col("doc_id") % 13 === 1).select("doc_id"), root)
      graft.streaming.StreamTune.withStatePartitions(s,
        graft.streaming.StreamTune.dirBytes(root)) {
        val q = s.readStream.format("graft-cdc")
          .option("startVersion", 0L).option("images", "true").load(root)
          .select(col("version").as("step"), col("doc_id"),
            col("_change_type"), col("n_chars"), col("source"))
          .writeStream.format("parquet")
          .option("path", feed)
          .option("checkpointLocation", baseDir.resolve("ck").toString)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(feed)
        .select("step", "doc_id", "_change_type", "n_chars", "source")
        .orderBy("step", "doc_id", "_change_type")
    }),

    // MANIFEST-ANSWERED AGGREGATES: COUNT(*)/MIN/MAX over the key and
    // a zone-mapped column plan ZERO data files when every pushed
    // conjunct is file-exact (whole-table, an all-covering range, a
    // provably-empty far range) — the 100 TB `SELECT count(*)` as a
    // metadata read. A mid-file range is NOT file-exact and must fall
    // back to a real scan (REQUIRED both ways); values match the
    // oracle on every probe.
    "q_store_agg_pushdown" -> ((s, d) => {
      import graft.sources.SnapshotStore
      def scanned(df: DataFrame): Seq[String] =
        graft.sources.v2.SnapshotSource.scannedFiles(df)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_aggpd_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 8,
        statsCols = Seq("n_chars"))
      def v2() = s.read.format("graft-snapshot").load(root)
      def aggs(df: DataFrame) = df.agg(
        count(lit(1)).as("cnt"), min("doc_id").as("mn_k"),
        max("doc_id").as("mx_k"), min("n_chars").as("mn_n"),
        max("n_chars").as("mx_n"))
      val p0 = aggs(v2())                                    // no filter
      val p1 = aggs(v2().filter(col("doc_id") >= 0L))        // all-covering
      val p2 = aggs(v2().filter(                             // provably empty
        col("doc_id").between(2000000000000L, 2000001000000L)))
      val p3 = aggs(v2().filter(                             // mid-file
        col("doc_id").between(137L, 411L)))
      for ((p, i) <- Seq(p0, p1, p2).zipWithIndex) {
        p.collect() // finalize AQE before reading the evidence
        require(scanned(p).isEmpty,
          s"probe $i must answer from the manifest with zero files")
      }
      p3.collect()
      require(scanned(p3).nonEmpty,
        "a mid-file range is not file-exact and must really scan")
      Seq(p0, p1, p2, p3).zipWithIndex
        .map { case (df, i) => df.withColumn("probe", lit(i.toLong)) }
        .reduce(_ unionByName _)
        .select("probe", "cnt", "mn_k", "mx_k", "mn_n", "mx_n")
        .orderBy("probe")
    }),

    // LIMIT / TopN PUSHDOWN as file-set truncation: `LIMIT n` plans
    // only enough files to cover n rows (manifest row counts), and
    // `ORDER BY key LIMIT n` reads only the files at that end of the
    // key line (disjoint range-clustered envelopes) — a LIMIT 40 on a
    // 100 k-file table is a ONE-file read. Spark keeps its own
    // Limit/TakeOrdered on top (the truncated set is a superset), so
    // values are exact; truncation DECLINES whenever a residual
    // filter could undercount. REQUIRED: TopN probes read exactly one
    // file; the plain-limit probe reads fewer than the manifest.
    "q_store_limit" -> ((s, d) => {
      import graft.sources.SnapshotStore
      def scanned(df: DataFrame): Seq[String] =
        graft.sources.v2.SnapshotSource.scannedFiles(df)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_limit_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 8,
        statsCols = Seq("n_chars"))
      val nFiles = SnapshotStore.currentManifest(root).files.size
      def v2() = s.read.format("graft-snapshot").load(root)
      val asc = v2().orderBy(col("doc_id")).limit(40)
        .select(lit("asc").as("ref"), col("doc_id"), col("n_chars"))
      val desc = v2().orderBy(col("doc_id").desc).limit(40)
        .select(lit("desc").as("ref"), col("doc_id"), col("n_chars"))
      val cnt = v2().limit(70).count() // exact despite truncation
      for ((p, what) <- Seq(asc -> "asc", desc -> "desc")) {
        p.collect()
        require(scanned(p).length == 1,
          s"TopN $what must read exactly one file, got ${scanned(p)}")
      }
      val lim = v2().limit(70)
      lim.collect()
      require(scanned(lim).length < nFiles,
        s"LIMIT must truncate the planned file set " +
          s"(${scanned(lim).length} of $nFiles)")
      // a residual-filtered limit must NOT truncate (exactness first)
      val guarded = v2().filter(col("n_chars") >= 1L).limit(10)
      require(guarded.count() == 10L, "residual-filtered limit stays exact")
      asc.unionByName(desc)
        .unionByName(s.range(1).select(lit("cnt").as("ref"),
          lit(cnt).as("doc_id"), lit(null).cast("long").as("n_chars")))
        .orderBy("ref", "doc_id")
    }),

    // METADATA TABLES (the Iceberg `db.t.history` surface): a store's
    // bookkeeping queryable from pure SQL — history/files/tags/deletes
    // suffixes on the catalog name, each planning as a LocalScan over
    // manifest metadata (REQUIRED zero data files: on a 100 TB table
    // these cost what the manifests cost). The oracle replays the
    // per-version row totals relationally (manifest totals: visible
    // data-file rows before outstanding MOR deletes apply).
    "q_store_meta_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_meta_wh_" + sfx).toString
      // the FULL suffix, not a hash prefix: Spark caches catalog
      // instances per name, so a cross-dataset name collision would
      // bind the cached catalog to the wrong warehouse
      val cat = "graft_meta_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.append(s, // v1: far-range batch
        s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars")),
        root)
      SnapshotStore.tag(root, "rel", 1L)
      SnapshotStore.deleteRange(s, root, 200L, 299L) // v2: rows drop
      SnapshotStore.deleteKeys(s, // v3: MOR — files untouched
        base.filter(col("doc_id") % 31 === 4).select("doc_id"), root)
      val hist = s.sql(s"SELECT version, rows, delete_files " +
        s"FROM $cat.db.t.history ORDER BY version")
      hist.collect()
      require(graft.sources.v2.SnapshotSource.scannedFiles(hist).isEmpty,
        "metadata tables must plan zero data files")
      val tags = s.sql(s"SELECT name, version FROM $cat.db.t.tags")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      require(tags == Seq(("rel", 1L)), s"tags table wrong: $tags")
      require(s.sql(s"SELECT count(*) AS c FROM $cat.db.t.deletes")
          .collect().head.getLong(0) == 1L,
        "one outstanding MOR delete file expected")
      hist
    }),

    // STORED PROCEDURES (the Iceberg CALL surface on Spark 4's native
    // procedure API): the store's maintenance cycle from pure SQL —
    // a merge-on-read delete materialized by CALL apply_deletes, the
    // table bin-packed by CALL compact, a version tagged and the
    // history trimmed by CALL vacuum (the tag survives) — each CALL
    // returning outcome rows. REQUIRED: zero delete files after
    // apply, the tagged version retained across vacuum while older
    // untagged versions drop; the oracle replays the final content.
    "q_store_proc_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_proc_wh_" + sfx).toString
      val cat = "graft_proc_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"""CREATE TABLE $cat.db.t (doc_id BIGINT NOT NULL,
               |n_chars BIGINT) TBLPROPERTIES ('key' = 'doc_id')"""
        .stripMargin) // v0
      base.createOrReplaceTempView(s"proc_base_$sfx")
      s.sql(s"INSERT INTO $cat.db.t SELECT doc_id, n_chars " +
        s"FROM proc_base_$sfx") // v1
      SnapshotStore.deleteKeys(s, // v2: MOR delete file
        base.filter(col("doc_id") % 17 === 3).select("doc_id"), root)
      require(SnapshotStore.currentManifest(root).deletes.size == 1)
      val applied = s.sql(
        s"CALL $cat.system.apply_deletes(`table` => 'db.t')").collect()
      require(applied.head.getLong(1) == 0L, // v3
        "apply_deletes must leave zero delete files")
      // thresholds explicit so the compaction commits at EVERY scale
      // (the defaults would call 125k-row files "not small" at 100×)
      s.sql(s"CALL $cat.system.compact(`table` => 'db.t', " +
        "small_rows => 1000000000, target_rows => 1000000000)")
        .collect() // v4: everything rewrites into one file
      s.sql(s"CALL $cat.system.tag(`table` => 'db.t', " +
        "name => 'keep', version => 1)").collect()
      s.sql(s"CALL $cat.system.vacuum(`table` => 'db.t', " +
        "keep_last => 2, scratch_ttl_ms => 0, orphan_ttl_ms => 0)")
        .collect()
      require(SnapshotStore.versions(root) == Seq(1L, 3L, 4L),
        s"vacuum must keep the tagged v1 + last two, got " +
          SnapshotStore.versions(root))
      require(s.sql(s"SELECT count(*) AS c FROM $cat.db.t " +
          "VERSION AS OF 'keep'").collect().head.getLong(0) ==
        base.count(), "the tagged pre-delete version must read in full")
      s.sql(s"SELECT doc_id, n_chars FROM $cat.db.t ORDER BY doc_id")
    }),

    // Z-ORDER FROM PURE SQL: CALL graft.system.zorder re-clusters the
    // table by the Morton interleave of the key and a zone-mapped
    // column — the q_store_zorder rewrite addressable by a SQL-only
    // operator (the round-16 procedure registry stopped at bin-pack
    // compact). REQUIRED: the conjunctive (key AND secondary band)
    // probe hits strictly fewer file envelopes after the CALL, the
    // rewritten files carry the zorder layout spec, and the SQL band
    // probe's executed scan reads fewer files than the manifest
    // holds; the oracle replays both probes relationally (the rewrite
    // is row-identical — layout is the only thing that changed).
    "q_store_zorder_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_zsql_wh_" + sfx).toString
      val cat = "graft_zsql_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 16,
        statsCols = Seq("n_chars")) // v0: key-sorted 16 files
      // band-only envelope count (the q_store_zorder metric): a
      // key-sorted layout spreads every n_chars value across every
      // file, the z-ordered one confines the band — the conjunctive
      // key+band SQL probe below then prunes on BOTH dimensions
      def hitCount(band: (Long, Long)): Int = {
        val m = SnapshotStore.currentManifest(root)
        m.files.count(_.stats.get("n_chars").forall { case (mn, mx) =>
          mn <= band._2 && band._1 <= mx })
      }
      val band = (200L, 300L)
      val before = hitCount(band)
      // scale-relative target keeps ~16 output files at EVERY scale
      // (the q_store_proc_sql lesson: absolute thresholds stop firing
      // at 100x)
      val target = 1L + SnapshotStore.countAsOf(root, 0L) / 16L
      val res = s.sql(s"CALL $cat.system.zorder(`table` => 'db.t', " +
        s"column => 'n_chars', small_rows => 1000000000, " +
        s"target_rows => $target)").collect()
      require(res.head.getLong(0) == 1L,
        s"zorder must commit version 1, got ${res.head.getLong(0)}")
      val after = hitCount(band)
      require(after < before,
        s"CALL zorder must tighten the band's envelopes: $before -> $after")
      val m1 = SnapshotStore.currentManifest(root)
      require(m1.files.forall(_.layout.contains("zorder(doc_id,n_chars)")),
        "rewritten files must carry the zorder layout spec")
      val all = s.sql(s"SELECT doc_id, n_chars FROM $cat.db.t")
      val probe = s.sql(s"SELECT doc_id, n_chars FROM $cat.db.t " +
        "WHERE n_chars BETWEEN 200 AND 300 AND doc_id BETWEEN 100 AND 399")
      probe.collect()
      val scanned = graft.sources.v2.SnapshotSource.scannedFiles(probe)
      require(scanned.size < m1.files.size,
        s"the conjunctive SQL probe must prune the z-ordered manifest: " +
          s"${scanned.size} of ${m1.files.size}")
      Seq("all" -> all, "band" -> probe)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars")
        .orderBy("ref", "doc_id")
    }),

    // RUNTIME (join-driven) FILE PRUNING: a broadcast dim join's
    // IN-set re-prunes the store's file list at EXECUTION time
    // (SupportsRuntimeV2Filtering) — the 100 TB fact-dim case where
    // no literal predicate exists at planning. The dim must be a real
    // relation (a local Seq would constant-fold its filter away), so
    // the gate writes it to parquet first. REQUIRED: the executed
    // scan reads strictly fewer files than the manifest holds.
    "q_store_join_prune" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select((col("doc_id") * 1000L).as("k"),
          col("n_chars").cast("long").as("n_chars"), col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_joinpr_" + sfx).toString
      val dimDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_joinpr_dim_" + sfx).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "k", filesPerCommit = 8)
      val total = SnapshotStore.currentManifest(root).files.size
      // the dim key set is CAPPED (doc_id < 2000), so it stays a
      // handful of scattered keys at EVERY scale factor — a
      // scale-proportional set would eventually touch all files and
      // make the pruning assertion vacuous
      Tables.documents(s, d)
        .filter(col("doc_id") % 997 === 0 && col("doc_id") < 2000)
        .select((col("doc_id") * 1000L).as("k"),
          when(col("doc_id") % 2 === 0, lit("keep")).otherwise(lit("drop"))
            .as("tag"))
        .coalesce(1).write.mode("overwrite").parquet(dimDir)
      val dim = s.read.parquet(dimDir)
      val out = s.read.format("graft-snapshot").load(root)
        .join(broadcast(dim).filter(col("tag") === "keep"), "k")
        .select("k", "n_chars", "source", "tag")
        .orderBy("k")
      out.collect() // execute: runtime filters arrive with the broadcast
      val files = graft.sources.v2.SnapshotSource.scannedFiles(out)
      require(files.nonEmpty && files.size < total,
        s"the join's IN-set must prune files at execution: " +
          s"${files.size} of $total")
      out
    }),

    // STORAGE-PARTITIONED JOIN: two stores rebucketed to the same
    // bucket(n, key) layout join with ZERO shuffle exchanges — the V2
    // scan reports KeyGroupedPartitioning, the catalog serves the
    // bucket function, and each join task reads one bucket from each
    // side (the Iceberg/Spark SPJ design; at 100 TB this deletes the
    // two table-sized shuffles a fact-fact join otherwise pays).
    // REQUIRED: the executed SPJ plan contains no shuffle; a control
    // run with bucketing disabled DOES shuffle (so the pin can't pass
    // vacuously). Broadcast is disabled to model the both-sides-big
    // case. The oracle replays the join relationally.
    "q_store_spj" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val hash = Integer.toHexString(d.hashCode)
      val cat = s"gspj_$hash"
      val whPath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_spjwh_" + ProcessHandle.current().pid() + "_" + hash)
      NioStoreFs.deleteRecursively(whPath.toString)
      val wh = whPath.toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val clicks = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars").cast("long") * 7L).as("score"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$wh/db"))
      SnapshotStore.init(s, base, s"$wh/db/fa", "doc_id",
        filesPerCommit = 4)
      SnapshotStore.init(s, clicks, s"$wh/db/fb", "doc_id",
        filesPerCommit = 4)
      SnapshotStore.rebucket(s, s"$wh/db/fa", 8)
      SnapshotStore.rebucket(s, s"$wh/db/fb", 8)
      require(SnapshotStore.currentManifest(s"$wh/db/fa").files
          .forall(_.layout.exists(_.startsWith("bucket(8,"))),
        "rebucket must stamp bucket specs on every file")
      val joinSql =
        s"""SELECT a.doc_id, a.n_chars, a.source, b.score
           |FROM $cat.db.fa a JOIN $cat.db.fb b ON a.doc_id = b.doc_id
           |""".stripMargin
      def shuffles(df: DataFrame): Int = {
        df.collect() // finalize AQE before walking the executed plan
        graft.sources.v2.SnapshotSource.planNodes(df).count(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange
            .ShuffleExchangeLike])
      }
      val restore = Seq(
        "spark.sql.sources.v2.bucketing.enabled",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
        "spark.sql.autoBroadcastJoinThreshold")
        .map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
        require(shuffles(s.sql(joinSql)) > 0,
          "control: with v2 bucketing disabled the join must shuffle")
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        s.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "true")
        val spj = s.sql(joinSql)
        require(shuffles(spj) == 0,
          "storage-partitioned join must run with ZERO shuffle exchanges")
        // one sorted file per bucket (the rebucket invariant) also
        // satisfies the merge join's ordering: no SortExec either —
        // the join is pure streamed merge off parquet
        require(graft.sources.v2.SnapshotSource.planNodes(spj).count(
            _.isInstanceOf[org.apache.spark.sql.execution.SortExec]) == 0,
          "one-file-per-bucket SPJ must also plan ZERO sorts")
        // the returned frame re-plans lazily after the confs restore —
        // same rows either way; the zero-shuffle pin above already ran
        // under the SPJ confs
        s.sql(joinSql)
          .select("doc_id", "n_chars", "source", "score")
          .orderBy("doc_id")
      } finally restore.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }),

    // MANIFEST-REPORTED STATISTICS drive the optimizer's join choice:
    // the V2 scan reports post-pruning size/rows from manifest
    // metadata (SupportsReportStatistics), so a dim-sized store on
    // one side of a join AUTO-BROADCASTS — no hint. Without the
    // report a V2 relation costs defaultSizeInBytes (≈ infinite) and
    // a 100 TB fact join would shuffle both sides. REQUIRED: the
    // executed plan broadcasts, and the build side is the DIM store's
    // scan (the fact store must NOT be the broadcast side).
    "q_store_stats_bcast" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val factRoot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_stats_fact_" + sfx).toString
      val dimRoot = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_stats_dim_" + sfx).toString
      SnapshotStore.destroy(factRoot)
      SnapshotStore.destroy(dimRoot)
      val fact = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      // the dim is CAPPED (doc_id < 4096) so it stays broadcast-sized
      // at every scale factor while the fact side grows
      val dim = Tables.documents(s, d)
        .filter(col("doc_id") < 4096 && col("doc_id") % 16 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 32 === 0, lit("even")).otherwise(lit("odd"))
            .as("bucket_tag"))
      SnapshotStore.init(s, fact, factRoot, "doc_id", filesPerCommit = 8)
      SnapshotStore.init(s, dim, dimRoot, "doc_id")
      val out = s.read.format("graft-snapshot").load(factRoot)
        .join(s.read.format("graft-snapshot").load(dimRoot), "doc_id")
        .select("doc_id", "n_chars", "source", "bucket_tag")
        .orderBy("doc_id")
      out.collect()
      val bcasts = graft.sources.v2.SnapshotSource.planNodes(out).collect {
        case b: org.apache.spark.sql.execution.exchange
          .BroadcastExchangeLike => b
      }
      require(bcasts.nonEmpty,
        "manifest stats must make the dim store auto-broadcast (no hint)")
      def scansUnder(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[String] = p.collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan.description()
      }
      require(bcasts.exists(b => scansUnder(b)
          .exists(_.contains(dimRoot))),
        "the broadcast build side must be the DIM store's scan")
      require(!bcasts.exists(b => scansUnder(b)
          .exists(_.contains(factRoot))),
        "the FACT store must not be broadcast")
      out
    }),

    // SQL UPDATE / MERGE INTO / predicate DELETE (group-based
    // copy-on-write row-level operations — the Iceberg surface on
    // Spark's own rewrite rules): an UPDATE with a key range rewrites
    // ONLY the affected files (REQUIRED: every file provably outside
    // the range carries path-identical), a MERGE applies matched
    // updates + not-matched inserts as ONE commit, and a DELETE whose
    // predicate canDeleteWhere declines (non-key) falls back to the
    // same rewrite instead of refusing. Runtime group filtering rides
    // the `_file` metadata column, so the rewrite set is exact file
    // identity. The oracle replays all three statements relationally.
    "q_store_update_sql" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val hash = Integer.toHexString(d.hashCode)
      val cat = s"gupd_$hash"
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_updwh_" + ProcessHandle.current().pid() + "_" + hash).toString
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
        .createOrReplaceTempView("q_store_update_sql_src")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.t")
      s.sql(
        s"""CREATE TABLE $cat.db.t (doc_id BIGINT, n_chars BIGINT,
           |  source STRING) TBLPROPERTIES ('key' = 'doc_id')""".stripMargin)
      // the carry/rewrite evidence below needs a multi-file layout;
      // SQL INSERT has no option surface, so pin via the session conf
      val fpcKey = "spark.graft.write.filesPerCommit"
      val prevFpc = s.conf.getOption(fpcKey)
      try {
        s.conf.set(fpcKey, "4")
        s.sql(s"INSERT INTO $cat.db.t SELECT * FROM q_store_update_sql_src") // v1
      } finally prevFpc match {
        case Some(v) => s.conf.set(fpcKey, v)
        case None => s.conf.unset(fpcKey)
      }
      val root = s"$wh/db/t"
      val before = SnapshotStore.currentManifest(root)
      s.sql(s"UPDATE $cat.db.t SET n_chars = n_chars + 1000000 " +
        "WHERE doc_id BETWEEN 100 AND 299") // v2
      val after = SnapshotStore.currentManifest(root)
      val untouched = before.files
        .filter(f => f.maxKey < 100L || f.minKey > 299L).map(_.path).toSet
      require(untouched.nonEmpty &&
          untouched.subsetOf(after.files.map(_.path).toSet),
        "files outside the UPDATE range must carry path-identical")
      val rewritten = before.files
        .filter(f => f.maxKey >= 100L && f.minKey <= 299L).map(_.path)
      require(rewritten.nonEmpty &&
          rewritten.forall(p => !after.files.exists(_.path == p)),
        "files inside the UPDATE range must be rewritten")
      s.sql(
        s"""MERGE INTO $cat.db.t t
           |USING (SELECT doc_id, n_chars, source
           |       FROM q_store_update_sql_src WHERE doc_id % 10 = 0
           |       UNION ALL
           |       SELECT doc_id + 2000000000000, doc_id, 'merged'
           |       FROM q_store_update_sql_src WHERE doc_id % 50 = 0) u
           |ON t.doc_id = u.doc_id
           |WHEN MATCHED THEN UPDATE SET t.n_chars = -u.n_chars
           |WHEN NOT MATCHED THEN INSERT (doc_id, n_chars, source)
           |  VALUES (u.doc_id, u.n_chars, u.source)""".stripMargin) // v3
      require(SnapshotStore.currentManifest(root).version ==
          after.version + 1, "MERGE must land as ONE commit")
      s.sql(s"DELETE FROM $cat.db.t " +
        "WHERE source = 'merged' AND doc_id % 100 = 0") // v4: non-key
      require(SnapshotStore.currentManifest(root).version ==
        after.version + 2, "the predicate DELETE must commit via the " +
          "row-level rewrite")
      Seq(
        "v2" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t " +
          "VERSION AS OF 2"),
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // WRITE–AUDIT–PUBLISH (the public Iceberg WAP workflow): a batch
    // stages into invisible data files, the data-quality battery runs
    // against the WOULD-BE table, and only a passing batch publishes —
    // the failing one aborts with the store bit-identical and zero
    // orphans. This is how a production lake keeps a bad ingest from
    // ever becoming a version. The gate stages a poisoned batch
    // (negative n_chars), audits, aborts; stages a clean batch,
    // audits, publishes — the oracle replays the final state (the
    // poison never lands).
    "q_store_wap" -> ((s, d) => {
      import graft.sources.SnapshotStore
      import graft.operators.DataChecks
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_wap_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      def audited(batch: org.apache.spark.sql.DataFrame): Boolean = {
        val st = SnapshotStore.stageMerge(s, batch, root)
        val ok = DataChecks.run(SnapshotStore.readStaged(s, root, st), Seq(
            DataChecks.SizeAtLeast(1),
            DataChecks.ValueRange("n_chars", 0, 1e9),
            DataChecks.Uniqueness("doc_id", 1.0)))
          .select(col("passed")).collect().forall(_.getBoolean(0))
        if (ok) SnapshotStore.publish(root, st) else SnapshotStore.abort(root, st)
        ok
      }
      val poison = base.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", lit(-1L)) // violates ValueRange
      val clean = base.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
            lit("ins").as("source")))
      require(!audited(poison), "the poisoned batch must fail its audit")
      require(audited(clean), "the clean batch must pass its audit")
      SnapshotStore.read(s, root)
        .select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    }),

    // MERGE-ON-READ ROW-LEVEL SQL (SupportsDelta): under
    // spark.graft.update.mode = merge-on-read, a 1%-of-rows UPDATE
    // writes a key-count-sized equality-delete file plus the new rows
    // — REQUIRED: every pre-update file carries by reference, delete
    // entries land, and the delta's new bytes are >5x SMALLER than
    // the copy-on-write twin's rewrite of the same statement (the
    // write-amplification cut this mode exists for at 100 TB). CALL
    // apply_deletes then converges the V2/SQL read path; both modes'
    // final content is oracle-equal.
    "q_store_mor_update" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_morup_wh_" + sfx).toString
      val cat = "graft_morup_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      // wide, incompressible rows (md5 chains) make the COW
      // amplification visible above per-file parquet overhead even at
      // the smallest fixture scale; the pad never reaches the output
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"),
          concat(md5(col("doc_id").cast("string")),
            md5((col("doc_id") + 1).cast("string")),
            md5((col("doc_id") * 7).cast("string")),
            md5((col("doc_id") * 13).cast("string"))).as("pad"))
      val rootM = s"$wh/db/m"
      val rootC = s"$wh/db/c"
      for (r <- Seq(rootM, rootC)) {
        SnapshotStore.destroy(r)
        SnapshotStore.init(s, base, r, "doc_id", filesPerCommit = 8)
      }
      val before = SnapshotStore.currentManifest(rootM)
      val stmt = "SET n_chars = n_chars + 1000000 WHERE doc_id % 100 = 7"
      val modeKey = "spark.graft.update.mode"
      val prev = s.conf.getOption(modeKey)
      try {
        s.conf.set(modeKey, "merge-on-read")
        s.sql(s"UPDATE $cat.db.m $stmt")
      } finally prev match {
        case Some(v) => s.conf.set(modeKey, v)
        case None => s.conf.unset(modeKey)
      }
      s.sql(s"UPDATE $cat.db.c $stmt") // the copy-on-write twin
      val (mm, mc) = (SnapshotStore.currentManifest(rootM),
        SnapshotStore.currentManifest(rootC))
      require(before.files.forall(f => mm.files.exists(_.path == f.path)),
        "a MOR update must not rewrite any existing file")
      require(mm.deletes.nonEmpty,
        "a MOR update must land equality-delete entries")
      def newBytes(m: SnapshotStore.Manifest) =
        m.files.filter(_.seq == m.version).map(_.bytes).sum
      require(newBytes(mm) * 4 < newBytes(mc),
        s"the delta's new bytes (${newBytes(mm)}) must be far below " +
          s"the COW rewrite (${newBytes(mc)})")
      s.sql(s"CALL $cat.system.apply_deletes(`table` => 'db.m')").collect()
      require(SnapshotStore.currentManifest(rootM).deletes.isEmpty,
        "apply_deletes must converge the delta")
      Seq(
        "mor" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.m"),
        "cow" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.c"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // DELETE-FILE COMPACTION (the Iceberg rewrite-deletes maintenance
    // idiom): an update-heavy MOR table accumulates one equality-
    // delete file per task per statement; CALL compact_deletes merges
    // them into few sorted files with ZERO data-file I/O (the commit
    // is a manifest swap + match-sized delete-file writes), dropping
    // dangling entries, under the seq-promotion safety rule (a merged
    // entry re-stamps at its group's max seq only when no live
    // overlapping file sits in the promoted interval — an entry a
    // later statement's new rows interleave with stays separate, so
    // reads are row-identical by construction). The gate REQUIREs:
    // data files untouched, delete-file count reduced, and a
    // distributed checksum of the read EQUAL before and after; the
    // oracle replays the final content.
    "q_store_compact_deletes" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cdel_wh_" + sfx).toString
      val cat = "graft_cdel_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 8) // v0
      SnapshotStore.setProperties(root,
        Map("update.mode" -> "merge-on-read")) // v1: the durable mode
      // a sparse MOR UPDATE (match-sized delete file + new rows) ...
      s.sql(s"UPDATE $cat.db.t SET n_chars = n_chars + 1 " +
        "WHERE doc_id % 20 = 3") // v2
      // ... then two scattered key-erasure batches (scale-relative
      // key sets; each lands one more delete file)
      SnapshotStore.deleteKeys(s,
        base.filter(col("doc_id") % 97 === 5).select("doc_id"), root) // v3
      SnapshotStore.deleteKeys(s,
        base.filter(col("doc_id") % 97 === 6).select("doc_id"), root) // v4
      val before = SnapshotStore.currentManifest(root)
      require(before.deletes.size >= 3,
        s"fixture must accumulate >= 3 delete files, got " +
          s"${before.deletes.size}")
      def checksum(): Long = SnapshotStore.read(s, root)
        .select(crc32(concat_ws("", col("doc_id"),
          col("n_chars"), col("source"))).as("c"))
        .agg(sum(col("c"))).head().getLong(0)
      val sumBefore = checksum()
      val res = s.sql(s"CALL $cat.system.compact_deletes(" +
        "`table` => 'db.t')").collect() // v5
      val after = SnapshotStore.currentManifest(root)
      require(after.files.map(_.path).sorted ==
          before.files.map(_.path).sorted,
        "delete compaction must touch ZERO data files")
      require(after.deletes.size < before.deletes.size &&
          res.head.getLong(1) == after.deletes.size.toLong,
        s"delete files must reduce (${before.deletes.size} -> " +
          s"${after.deletes.size})")
      // the two erasure batches merged; the MOR statement's entry
      // stays separate (its own new-rows file pins its ceiling)
      require(after.deletes.size == 2,
        s"expected the erasure batches to merge to one entry next to " +
          s"the MOR statement's own: ${after.deletes}")
      require(checksum() == sumBefore,
        "reads must be row-identical across delete compaction")
      SnapshotStore.read(s, root).select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    }),

    // UPDATE-MODE AS A TABLE PROPERTY + COST-BASED AUTO DEFAULT: the
    // session knob is no longer the only switch — 'update.mode' is a
    // DURABLE TBLPROPERTIES record in the manifest (versioned,
    // ALTER-able), and with nothing set anywhere the mode resolves
    // from MANIFEST STATISTICS alone: merge-on-read when the table's
    // live files average >= 'update.auto.bytes' (wide files make the
    // COW rewrite the dominant cost), copy-on-write below it. The
    // gate runs the SAME UPDATE with NO session knob against three
    // tables — one with the property, two on auto with scale-RELATIVE
    // thresholds straddling their own average file size — and
    // REQUIREs each took the right path (delete entries present vs
    // absent); then REQUIREs the session conf still overrides the
    // property. Resolution order: conf > property > auto.
    "q_store_mor_auto" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_morauto_wh_" + sfx).toString
      val cat = "graft_morauto_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      require(s.conf.getOption("spark.graft.update.mode").isEmpty,
        "this gate proves the NO-session-knob path")
      def mk(name: String): String = {
        val r = s"$wh/db/$name"
        SnapshotStore.destroy(r)
        SnapshotStore.init(s, base, r, "doc_id", filesPerCommit = 8)
        r
      }
      val (rProp, rWide, rSmall) = (mk("tp"), mk("tw"), mk("ts"))
      // the durable per-table record (ALTER TABLE SET TBLPROPERTIES)
      s.sql(s"ALTER TABLE $cat.db.tp SET TBLPROPERTIES " +
        "('update.mode' = 'merge-on-read')")
      // scale-RELATIVE auto thresholds straddling each table's OWN
      // average live-file bytes — the auto decision is exactly this
      // manifest-stat comparison, so the pins hold at every scale
      def avgBytes(r: String): Long = {
        val live = SnapshotStore.currentManifest(r).files.filter(_.bytes > 0)
        math.max(1L, live.map(_.bytes).sum / math.max(1, live.size))
      }
      s.sql(s"ALTER TABLE $cat.db.tw SET TBLPROPERTIES " +
        s"('update.auto.bytes' = '${math.max(1L, avgBytes(rWide) / 2)}')")
      s.sql(s"ALTER TABLE $cat.db.ts SET TBLPROPERTIES " +
        s"('update.auto.bytes' = '${avgBytes(rSmall) * 10}')")
      val stmt = "SET n_chars = n_chars + 31 WHERE doc_id % 50 = 9"
      for (t <- Seq("tp", "tw", "ts")) s.sql(s"UPDATE $cat.db.$t $stmt")
      require(SnapshotStore.currentManifest(rProp).deletes.nonEmpty,
        "the update.mode property must route the UPDATE to the delta " +
          "path with no session knob")
      require(SnapshotStore.currentManifest(rWide).deletes.nonEmpty,
        "auto must pick merge-on-read when avg file bytes >= threshold")
      require(SnapshotStore.currentManifest(rSmall).deletes.isEmpty,
        "auto must pick copy-on-write below the threshold")
      // the session conf still overrides the durable property
      s.sql(s"CALL $cat.system.apply_deletes(`table` => 'db.tp')").collect()
      s.conf.set("spark.graft.update.mode", "copy-on-write")
      try s.sql(s"UPDATE $cat.db.tp SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 50 = 9")
      finally s.conf.unset("spark.graft.update.mode")
      require(SnapshotStore.currentManifest(rProp).deletes.isEmpty,
        "the session conf must override the table property")
      s.sql(s"CALL $cat.system.apply_deletes(`table` => 'db.tw')").collect()
      Seq("prop" -> "tp", "wide" -> "tw", "small" -> "ts")
        .map { case (r, t) =>
          s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.$t")
            .withColumn("ref", lit(r))
        }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // BRANCH REFS (the Iceberg branch surface): WAP VIA A BRANCH — a
    // movable named ref with its own version-file namespace. CALL
    // create_branch forks 'audit' from main; V2 writes with
    // .option("branch", "audit") commit on the branch's chain;
    // REQUIRED: main's manifest is BIT-IDENTICAL across the branch
    // commits (not even a version number moves), the audit read (V2
    // branch option AND SQL VERSION AS OF 'audit') sees base + both
    // batches, CALL fast_forward publishes as ONE metadata-only main
    // commit (the data directory is REQUIRED unchanged — a pointer
    // move), and a diverged branch REFUSES to fast-forward. The
    // oracle replays head and v0.
    "q_store_branch" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_br_wh_" + sfx).toString
      val cat = "graft_br_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 4) // v0
      val mainBefore = SnapshotStore.currentManifest(root)
      s.sql(s"CALL $cat.system.create_branch(`table` => 'db.t', " +
        "name => 'audit')").collect()
      def slab(shift: Long, tag: String) = base
        .select((col("doc_id") + shift).as("doc_id"), col("n_chars"),
          lit(tag).as("source"))
      slab(2000000000000L, "b1").write.format("graft-snapshot")
        .option("branch", "audit").option("filesPerCommit", 2)
        .mode("append").save(root) // audit v1
      slab(3000000000000L, "b2").write.format("graft-snapshot")
        .option("branch", "audit").option("filesPerCommit", 2)
        .mode("append").save(root) // audit v2
      require(SnapshotStore.currentManifest(root) == mainBefore &&
          SnapshotStore.versions(root) == Seq(0L),
        "branch commits must leave main BIT-IDENTICAL")
      val auditRead = s.read.format("graft-snapshot")
        .option("branch", "audit").load(root)
      val sqlRead = s.sql(s"SELECT doc_id, n_chars, source FROM " +
        s"$cat.db.t VERSION AS OF 'audit'")
      require(auditRead.count() == sqlRead.count() &&
          sqlRead.count() == base.count() * 3,
        "the audit read must see base + both branch batches")
      // publish = a pointer move: zero data I/O, exact entry carry
      val dataFiles =
        new java.io.File(s"$root/data").list().sorted.toSeq
      val head = SnapshotStore.currentManifest(root, Some("audit"))
      val ff = s.sql(s"CALL $cat.system.fast_forward(`table` => 'db.t', " +
        "name => 'audit')").collect()
      require(ff.head.getLong(0) == 1L, "fast-forward must land main v1")
      require(new java.io.File(s"$root/data").list().sorted.toSeq ==
          dataFiles,
        "fast-forward must move NO data files (pointer-move publish)")
      // exact entry carry modulo the seq RE-STAMP (branch entries land
      // at the new main version so later deletes/renames scope to them)
      def noSeq(fs: Vector[graft.sources.SnapshotStore.FileEntry]) =
        fs.map(_.copy(seq = 0L))
      require(noSeq(SnapshotStore.currentManifest(root).files) ==
          noSeq(head.files),
        "main must carry the branch head's exact entries")
      // divergence refuses: fork, commit to main, then try to publish
      s.sql(s"CALL $cat.system.create_branch(`table` => 'db.t', " +
        "name => 'hot')").collect()
      SnapshotStore.append(s,
        slab(4000000000000L, "m").limit(1), root) // main v2
      val diverged = scala.util.Try(s.sql(
        s"CALL $cat.system.fast_forward(`table` => 'db.t', " +
          "name => 'hot')").collect())
      require(diverged.isFailure,
        "a diverged branch must refuse to fast-forward")
      s.sql(s"CALL $cat.system.drop_branch(`table` => 'db.t', " +
        "name => 'hot')").collect()
      Seq(
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t " +
          "VERSION AS OF 1"),
        "v0" -> s.sql(
          s"SELECT doc_id, n_chars, source FROM $cat.db.t VERSION AS OF 0"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // ROW-LEVEL FIX-UPS ON A BRANCH (the WAP repair surface): a real
    // write-audit-publish flow stages a batch on a branch, AUDITS it,
    // and FIXES the bad rows ON THE BRANCH — a merge-on-read UPDATE
    // (match-sized delete file + new rows, landed on the branch
    // chain) — before publishing. The gate REQUIREs the full
    // discipline: main BIT-IDENTICAL through every branch commit;
    // fast-forward REFUSES while an unmaterialized post-fork delete
    // is stamped above the staged append (the single-commit re-stamp
    // would un-shadow those rows — the order-preservation proof's
    // uncovered shape); CALL apply_deletes(branch => ...) converges
    // the branch (delete entries drop); and the publish is then one
    // POINTER-ONLY commit (zero data files move). The SQL surface is
    // the Iceberg `db.t.branch_<name>` suffix.
    "q_store_branch_fix" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_brfix_wh_" + sfx).toString
      val cat = "graft_brfix_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 4) // v0
      val mainBefore = SnapshotStore.currentManifest(root)
      s.sql(s"CALL $cat.system.create_branch(`table` => 'db.t', " +
        "name => 'fix')").collect()
      // stage a far-range batch on the branch (scale-relative: every
      // 7th base row, shifted)
      base.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          col("n_chars"), lit("staged").as("source"))
        .writeTo(s"$cat.db.t.branch_fix").append() // fix +1
      // the audit's FIX: a sparse merge-on-read UPDATE on the branch
      // (1% of rows across BOTH inherited and staged files)
      s.conf.set("spark.graft.update.mode", "merge-on-read")
      try s.sql(s"UPDATE $cat.db.t.branch_fix " +
        "SET n_chars = n_chars + 55 WHERE doc_id % 100 = 1") // fix +2
      finally s.conf.unset("spark.graft.update.mode")
      val headDelta = SnapshotStore.currentManifest(root, Some("fix"))
      require(headDelta.deletes.exists(_.seq > mainBefore.version),
        "the branch MOR update must land match-sized delete entries " +
          "on the BRANCH chain")
      require(SnapshotStore.currentManifest(root) == mainBefore,
        "branch row-level commits must leave main BIT-IDENTICAL")
      // refusal FIRST: the delete is stamped above the staged append;
      // publishing unmaterialized would un-shadow the fixed rows
      val premature = scala.util.Try(
        s.sql(s"CALL $cat.system.fast_forward(`table` => 'db.t', " +
          "name => 'fix')").collect())
      require(premature.isFailure &&
          SnapshotStore.versions(root) == Seq(0L),
        "fast-forward must REFUSE an append-then-delete branch until " +
          "the delete materializes")
      // converge on the branch, then publish pointer-only
      s.sql(s"CALL $cat.system.apply_deletes(`table` => 'db.t', " +
        "branch => 'fix')").collect() // fix +3
      require(SnapshotStore.currentManifest(root, Some("fix"))
          .deletes.isEmpty,
        "apply_deletes(branch) must drop the branch's delete entries")
      require(SnapshotStore.currentManifest(root) == mainBefore,
        "branch materialization must leave main BIT-IDENTICAL")
      val dataFiles = new java.io.File(s"$root/data").list().sorted.toSeq
      s.sql(s"CALL $cat.system.fast_forward(`table` => 'db.t', " +
        "name => 'fix')").collect()
      require(new java.io.File(s"$root/data").list().sorted.toSeq ==
          dataFiles,
        "fast-forward must move NO data files (pointer-move publish)")
      s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t")
        .orderBy("doc_id")
    }),

    // SNAPSHOT EXPIRY (the Iceberg expire_snapshots surface):
    // retained history bounded by POLICY (older_than_versions /
    // retain_last) under vacuum's protection rules. REQUIREd
    // contract: versions beyond the policy expire while TAGS and the
    // head survive; files EXCLUSIVE to expired versions reclaim from
    // disk while files shared with any retained version survive;
    // time-travel to an expired version refuses; the batch-CDC
    // oldest-retained boundary moves to the new floor (an explicit
    // pre-floor start refuses loudly, the default full-history read
    // re-anchors on the retained run); and retained reads stay
    // oracle-identical throughout. The oracle replays head and the
    // tagged release.
    "q_store_expire" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_exp_wh_" + sfx).toString
      val cat = "graft_exp_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 4) // v0
      val a0 = SnapshotStore.currentManifest(root).files.map(_.path).toSet
      // v1: a merge spanning the key range — every rewritten v0 file
      // becomes EXCLUSIVE to expired history
      SnapshotStore.merge(s, base.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), (col("n_chars") + 11L).as("n_chars"),
          col("source")), root, filesPerCommit = 4)
      val a1 = SnapshotStore.currentManifest(root).files.map(_.path).toSet
      val exclusive = a0 -- a1 // rewritten-away files, referenced by v0 only
      require(exclusive.nonEmpty,
        "fixture: the merge must rewrite at least one v0 file")
      def slab(shift: Long, tag: String) = base
        .select((col("doc_id") + shift).as("doc_id"), col("n_chars"),
          lit(tag).as("source"))
      SnapshotStore.append(s, slab(2000000000000L, "x1"), root) // v2
      SnapshotStore.append(s, slab(3000000000000L, "x2"), root) // v3
      s.sql(s"CALL $cat.system.tag(`table` => 'db.t', name => 'rel', " +
        "version => 3)").collect()
      SnapshotStore.append(s, slab(4000000000000L, "x3"), root) // v4
      val res = s.sql(s"CALL $cat.system.expire_snapshots(`table` => " +
        "'db.t', older_than_versions => 2)").collect().head
      require(res.getInt(0) == 2 && res.getInt(1) == exclusive.size &&
          res.getLong(2) == 2L,
        s"expire(older_than_versions=2) must expire {0,1} and reclaim " +
          s"exactly the ${exclusive.size} exclusive file(s); got $res")
      require(SnapshotStore.versions(root) == Seq(2L, 3L, 4L),
        "retained versions after the first expiry")
      val disk = new java.io.File(s"$root/data").list().toSet
      require(exclusive.forall(p => !disk.contains(p.stripPrefix("data/"))),
        "files exclusive to expired versions must be reclaimed from disk")
      require(SnapshotStore.currentManifest(root).files
          .forall(f => disk.contains(f.path.stripPrefix("data/"))),
        "files shared with retained versions must survive")
      // expired time-travel refuses; the moved CDC floor refuses an
      // explicit pre-floor start and re-anchors the default read
      require(scala.util.Try(s.sql(
        s"SELECT * FROM $cat.db.t VERSION AS OF 0").collect()).isFailure,
        "time-travel to an expired version must refuse")
      require(scala.util.Try(s.read.option("startVersion", 0)
          .table(s"$cat.db.t.changes").count()).isFailure,
        "a pre-floor CDC start must refuse with the moved boundary")
      require(s.sql(s"SELECT * FROM $cat.db.t.changes").count() ==
          base.count() * 2,
        "the default CDC read must cover the retained run (2, 4]")
      // retain_last=1 keeps the head while the TAG pins v3; v2
      // expires with ZERO reclaim (its files all carried forward)
      val res2 = s.sql(s"CALL $cat.system.expire_snapshots(`table` => " +
        "'db.t', retain_last => 1)").collect().head
      require(res2.getInt(0) == 1 && res2.getInt(1) == 0,
        "expiring a fully-carried version must reclaim nothing")
      require(SnapshotStore.versions(root) == Seq(3L, 4L),
        "the tag must pin v3 against retain_last=1")
      Seq(
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t"),
        "rel" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t " +
          "VERSION AS OF 'rel'"))
        .map { case (r, df0) => df0.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // BRANCH LIFECYCLE COMPLETION: create → write → observe staleness
    // → drop → vacuum-reclaim, with main BIT-IDENTICAL through every
    // branch-side step. REQUIREd: the `branches` metadata table
    // reports (head, base, behind_main) with behind_main moving 0 → 1
    // when main commits past the fork; the diverged branch refuses to
    // fast-forward (staleness > 0 IS the refusal predicate); CALL
    // drop_branch removes the ref (metadata table empties); vacuum
    // then reclaims exactly the branch's unpublished data files while
    // every main file survives; and main reads (head AND v0
    // time-travel) are oracle-identical throughout.
    "q_store_branch_drop" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_brdrop_wh_" + sfx).toString
      val cat = "graft_brdrop_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 4) // v0
      val mainBefore = SnapshotStore.currentManifest(root)
      s.sql(s"CALL $cat.system.create_branch(`table` => 'db.t', " +
        "name => 'tmp')").collect()
      def slab(shift: Long, tag: String) = base
        .select((col("doc_id") + shift).as("doc_id"), col("n_chars"),
          lit(tag).as("source"))
      slab(1000000000000L, "b1").writeTo(s"$cat.db.t.branch_tmp")
        .append() // branch v1
      require(SnapshotStore.currentManifest(root) == mainBefore &&
          SnapshotStore.versions(root) == Seq(0L),
        "branch commits must leave main BIT-IDENTICAL")
      require(s.sql(s"SELECT name, head, base, behind_main FROM " +
          s"$cat.db.t.branches").collect().map(_.toSeq).toSeq ==
          Seq(Seq("tmp", 1L, 0L, 0L)),
        "a fresh branch must report head=1, base=0, behind_main=0")
      val branchFiles = SnapshotStore.currentManifest(root, Some("tmp"))
        .files.map(_.path).toSet -- mainBefore.files.map(_.path).toSet
      require(branchFiles.nonEmpty,
        "fixture: the branch write must land its own data files")
      SnapshotStore.append(s, slab(2000000000000L, "m1"), root) // main v1
      require(s.sql(s"SELECT behind_main FROM $cat.db.t.branches")
          .collect().map(_.getLong(0)).toSeq == Seq(1L),
        "a main commit past the fork must surface as staleness")
      require(scala.util.Try(s.sql(s"CALL $cat.system.fast_forward(" +
          "`table` => 'db.t', name => 'tmp')").collect()).isFailure,
        "behind_main > 0 means the branch must refuse to fast-forward")
      s.sql(s"CALL $cat.system.drop_branch(`table` => 'db.t', " +
        "name => 'tmp')").collect()
      require(s.sql(s"SELECT * FROM $cat.db.t.branches").count() == 0,
        "drop_branch must remove the ref from the metadata table")
      val vac = s.sql(s"CALL $cat.system.vacuum(`table` => 'db.t', " +
        "keep_last => 10, scratch_ttl_ms => 0, orphan_ttl_ms => 0)")
        .collect().head
      require(vac.getInt(1) == branchFiles.size,
        s"vacuum must reclaim exactly the ${branchFiles.size} dropped " +
          s"branch file(s); got ${vac.getInt(1)}")
      val disk = new java.io.File(s"$root/data").list().toSet
      require(branchFiles.forall(p => !disk.contains(p.stripPrefix("data/"))),
        "the dropped branch's unpublished files must be reclaimed")
      require(SnapshotStore.currentManifest(root).files
          .forall(f => disk.contains(f.path.stripPrefix("data/"))),
        "every main-referenced file must survive the vacuum")
      Seq(
        "head" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t"),
        "v0" -> s.sql(s"SELECT doc_id, n_chars, source FROM $cat.db.t " +
          "VERSION AS OF 0"))
        .map { case (r, df0) => df0.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "source")
        .orderBy("ref", "doc_id")
    }),

    // CLUSTERING-SPEC EVOLUTION (the Iceberg partition-spec-evolution
    // idiom for zone maps + sort order): CALL set_cluster_spec
    // re-keys the stats columns and the declared z-order dimension as
    // a METADATA-ONLY commit (REQUIRED: file entries bit-identical);
    // new writes record the new stats immediately (REQUIRED per-seq);
    // grandfathered files read CONSERVATIVELY on the new column
    // (REQUIRED: a narrow band scan still reads every no-stats file —
    // correctness never depends on the backfill); CALL rewrite_where
    // backfills ONE KEY SLICE at a time under the declared spec
    // (REQUIRED: out-of-slice files carry by reference, backfilled
    // files carry zorder layout + new stats, and the band scan now
    // SKIPS high-band z-ordered files); old-key pruning keeps working
    // throughout. The oracle replays the full table and the band.
    "q_store_cluster_evolve" -> ((s, d) => {
      import graft.sources.SnapshotStore
      import graft.sources.v2.SnapshotSource
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"), ((col("doc_id") * 37L) % 1024L).as("grp"))
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val wh = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cse_wh_" + sfx).toString
      val cat = "graft_cse_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val root = s"$wh/db/t"
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 8,
        statsCols = Seq("n_chars")) // v0: zone maps on n_chars only
      val v0Files = SnapshotStore.currentManifest(root).files
      val maxBase = base.agg(max("doc_id")).head.getLong(0)
      val baseRows = v0Files.map(_.rows).sum
      s.sql(s"CALL $cat.system.set_cluster_spec(`table` => 'db.t', " +
        "stats_cols => 'n_chars,grp', zorder => 'grp')").collect() // v1
      require(SnapshotStore.currentManifest(root).files == v0Files,
        "the spec change must be METADATA-ONLY (file entries " +
          "bit-identical)")
      val shift = 1000000000000L
      SnapshotStore.append(s, base
        .select((col("doc_id") + shift).as("doc_id"), col("n_chars"),
          lit("x1").as("source"),
          (((col("doc_id") + shift) * 37L) % 1024L).as("grp")),
        root, filesPerCommit = 8) // v2
      val m2 = SnapshotStore.currentManifest(root)
      require(m2.files.filter(_.seq == 2L).forall(_.stats.contains("grp")),
        "post-evolution writes must record the new stats immediately")
      require(m2.files.filter(_.seq == 0L).forall(!_.stats.contains("grp")),
        "grandfathered files keep their original stats entries")
      def v2read = s.read.format("graft-snapshot").load(root)
      // old-key pruning keeps working on BOTH specs (min/max always
      // recorded): a key range covering the lower half of base
      val keyScan = v2read.filter(col("doc_id") <= maxBase / 2)
      keyScan.count()
      require(SnapshotSource.scannedFiles(keyScan).size <
          m2.files.size,
        "key-range pruning must keep skipping files after the spec change")
      // conservative read: every no-stats file scans for a grp band
      def bandScan() = {
        val q = v2read.filter(col("grp").between(0L, 63L))
        q.count()
        SnapshotSource.scannedFiles(q).map(p => p.split('/').last).toSet
      }
      val preBackfill = bandScan()
      require(m2.files.filter(_.seq == 0L).forall(f =>
          preBackfill.contains(f.path.stripPrefix("data/"))),
        "a file without the new zone map must be read conservatively")
      // incremental backfill, slice 1: the original key range only
      s.sql(s"CALL $cat.system.rewrite_where(`table` => 'db.t', " +
        s"lo => 0, hi => $maxBase, " +
        s"target_rows => ${math.max(1L, baseRows / 8)})").collect() // v3
      val m3 = SnapshotStore.currentManifest(root)
      val (oldRange, carried) = m3.files.partition(_.minKey <= maxBase)
      require(carried.toSet == m2.files.filter(_.seq == 2L).toSet,
        "files outside the rewritten slice must carry by reference")
      require(oldRange.forall(f => f.stats.contains("grp") &&
          f.layout.contains("zorder(doc_id,grp)")),
        "backfilled files must carry the new stats and declared layout")
      val postBackfill = bandScan()
      require(oldRange.size >= 2 &&
          oldRange.exists(f =>
            !postBackfill.contains(f.path.stripPrefix("data/"))),
        "the z-ordered slice must let a low grp band SKIP high-band " +
          "files (the top Morton bit is the z dimension's)")
      // slice 2 completes the re-layout; reads stay row-identical
      s.sql(s"CALL $cat.system.rewrite_where(`table` => 'db.t', " +
        s"lo => $shift, hi => ${shift + maxBase}, " +
        s"target_rows => ${math.max(1L, baseRows / 8)})").collect() // v4
      require(SnapshotStore.currentManifest(root).files
          .forall(_.stats.contains("grp")),
        "the second slice completes the backfill")
      require(SnapshotStore.readAsOf(spark = s, root = root, version = 0L)
          .count() == baseRows,
        "pre-evolution versions must still time-travel")
      Seq(
        "all" -> s.sql(s"SELECT doc_id, n_chars, grp, source FROM $cat.db.t"),
        "band" -> s.sql(s"SELECT doc_id, n_chars, grp, source FROM " +
          s"$cat.db.t WHERE grp BETWEEN 0 AND 63"))
        .map { case (r, df0) => df0.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "doc_id", "n_chars", "grp", "source")
        .orderBy("ref", "doc_id")
    }),

    // OPTIMISTIC CONCURRENCY (the public Iceberg/Delta commit
    // protocol): two writers interleave on one store. Writer A stages
    // an append against v0; writer B commits first; A's publish
    // REBASES onto B's version — both batches survive, nothing lost.
    // A then stages a correction MERGE; B commits again in between;
    // A's publish REFUSES (its rewrite set is stale) and the gate
    // asserts the refusal, aborts, and re-merges against the new
    // current. The oracle replays the final state relationally; the
    // n_versions column pins that history stayed strictly sequential
    // (every commit CAS-landed, none clobbered).
    "q_store_concurrent" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_occ_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base.filter(col("doc_id") % 3 === 0),
        root, "doc_id") // v0
      // A stages; B lands first (v1); A's publish rebases (v2)
      val a = SnapshotStore.stageAppend(s,
        base.filter(col("doc_id") % 3 === 1), root)
      SnapshotStore.append(s, base.filter(col("doc_id") % 3 === 2), root)
      SnapshotStore.publish(root, a)
      // A stages a rewrite; B lands v3; A's publish must refuse
      val corr = base.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val am = SnapshotStore.stageMerge(s, corr, root)
      SnapshotStore.append(s,
        s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
            lit("ins").as("source")), root)
      val refused =
        try { SnapshotStore.publish(root, am); false }
        catch { case _: java.util.ConcurrentModificationException => true }
      require(refused, "a stale rewriting stage must refuse to publish")
      SnapshotStore.abort(root, am)
      SnapshotStore.merge(s, corr, root) // v4: re-staged against current
      SnapshotStore.read(s, root)
        .withColumn("n_versions", lit(SnapshotStore.versions(root).size))
        .select("doc_id", "n_chars", "source", "n_versions")
        .orderBy("doc_id")
    }),

    // CDC TAILING: follow the snapshot store's version history AS A
    // STREAM — the manifest directory is itself an append-only log,
    // and versionLogStream delivers each committed version exactly
    // once, TYPED from the landed filename (v<N>.json, the CAS's
    // atomic unit) rather than by parsing manifest content;
    // foreachBatch emits that version's change feed (the hash-pair
    // diff, never the payloads) into a downstream topic dir. This is
    // the subscription surface a derived index / cache keeps itself
    // fresh from; the feed content is identical to the batch
    // q_store_changes relation, and shares its oracle.
    "q_stream_cdc" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_scdc_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val feed = baseDir.resolve("feed").toString
      SnapshotStore.init(s, base0, root, "doc_id") // v0 — no diff
      // THE V2 CDC SOURCE: offset = store version, rows = the
      // changes(v-1, v) feed computed executor-side (one delta-sized
      // partition per version) — no foreachBatch version loop on the
      // driver, no per-version coalesce(1) writes; the whole batch
      // lands as ONE parquet sink append
      graft.streaming.StreamTune.withStatePartitions(s,
        graft.streaming.StreamTune.dirBytes(root)) {
      val q = s.readStream.format("graft-cdc")
        .option("startVersion", 0L).load(root)
        .select(col("version").as("step"), col("doc_id"), col("op"))
        .writeStream.format("parquet")
        .option("path", feed)
        .option("checkpointLocation", baseDir.resolve("ck").toString)
        .start()
      try {
        val batch = base0.filter(col("doc_id") % 10 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .unionByName(s.range(1000000000000L, 1000000000050L)
            .select(col("id").as("doc_id"), col("id").as("n_chars"),
              lit("ins").as("source")))
        SnapshotStore.merge(s, batch, root) // v1
        q.processAllAvailable()
        SnapshotStore.deleteRange(s, root, 200L, 299L) // v2
        q.processAllAvailable()
      } finally q.stop()
      }
      s.read.parquet(feed).select("step", "doc_id", "op")
        .orderBy("step", "doc_id")
    }),

    // CHANGE FEED BY SQL NAME: `spark.readStream.table(
    // "graft.db.t.changes")` tails the key-level feed and
    // `...changes_images` the pre/post-image feed — the Delta
    // table_changes surface through the catalog, so a SQL-first
    // consumer never needs the physical root. The history itself is
    // made by SQL statements (INSERT, a COW UPDATE, a range DELETE);
    // REQUIRED: the update step emits ONLY the genuinely-changed keys
    // (the COW rewrite carried the rest verbatim and the digest diff
    // must drop them). The oracle replays ops AND image values.
    "q_stream_cdc_sql" -> ((s, d) => {
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cdcsql_" + sfx)
      NioStoreFs.deleteRecursively(baseDir.toString)
      java.nio.file.Files.createDirectories(baseDir)
      val wh = baseDir.resolve("wh").toString
      val cat = "graft_cdcsql_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
        .createOrReplaceTempView(s"cdcsql_base_$sfx")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.t")
      s.sql(s"""CREATE TABLE $cat.db.t (doc_id BIGINT, n_chars BIGINT)
               |TBLPROPERTIES ('key' = 'doc_id')""".stripMargin) // v0
      s.sql(s"INSERT INTO $cat.db.t SELECT * FROM cdcsql_base_$sfx") // v1
      s.sql(s"UPDATE $cat.db.t SET n_chars = n_chars + 1000 " +
        "WHERE doc_id BETWEEN 100 AND 199") // v2: COW rewrite
      s.sql(s"DELETE FROM $cat.db.t WHERE doc_id >= 400") // v3: range
      def drain(suffix: String, out: String)(proj: DataFrame => DataFrame): Unit =
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(wh)) {
          val q = proj(s.readStream.option("startVersion", 0L)
            .table(s"$cat.db.t$suffix"))
            .writeStream.format("parquet")
            .option("path", baseDir.resolve(out).toString)
            .option("checkpointLocation",
              baseDir.resolve(s"ck_$out").toString)
            .start()
          try q.processAllAvailable() finally q.stop()
        }
      drain(".changes", "ops")(df => df
        .select(col("version").as("step"), col("doc_id"), col("op")))
      drain(".changes_images", "imgs")(df => df
        .select(col("version").as("step"), col("doc_id"),
          col("_change_type").as("op"), col("n_chars")))
      val ops = s.read.parquet(baseDir.resolve("ops").toString)
        .withColumn("n_chars", lit(null).cast("long"))
      val updated = ops.filter(col("step") === 2L)
      require(updated.count() > 0 && updated.filter(
          !col("doc_id").between(100L, 199L)).count() == 0L,
        "the COW update must emit ONLY the genuinely-changed keys")
      val imgs = s.read.parquet(baseDir.resolve("imgs").toString)
      Seq("op" -> ops, "img" -> imgs)
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "step", "doc_id", "op", "n_chars")
        .orderBy("ref", "step", "doc_id", "op")
    }),

    // BATCH CDC READ (the Delta `table_changes(t, start, end)` /
    // Iceberg changelog-table shape): `SELECT * FROM graft.db.t
    // .changes` answers a version-range diff as a PURE batch query —
    // no streaming checkpoint, no Trigger.AvailableNow scaffolding —
    // the audit/backfill consumer's surface. The history crosses a
    // COW update, a metadata-only RENAME COLUMN, a post-rename update
    // touching pre-rename-era files, and a range delete. The gate
    // REQUIREs the batch-CDC contract: the rename version emits ZERO
    // rows (a metadata-only commit is an empty change set — the
    // verbatim-carry skip stays engaged, so it also PLANS nothing),
    // updates emit only genuinely-changed keys, pre-rename payloads
    // surface under the view's column name (per-file translation),
    // and explicit (start, end] slices splice exactly to the full
    // read. Planning is manifest arithmetic per version; per-version
    // read work is touched-file-sized at every scale.
    "q_store_changes_sql" -> ((s, d) => {
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_chsql_" + sfx)
      NioStoreFs.deleteRecursively(baseDir.toString)
      java.nio.file.Files.createDirectories(baseDir)
      val cat = "graft_chsql_" + sfx
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        baseDir.resolve("wh").toString)
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
        .createOrReplaceTempView(s"chsql_base_$sfx")
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
      s.sql(s"DROP TABLE IF EXISTS $cat.db.t")
      s.sql(s"""CREATE TABLE $cat.db.t
               |(doc_id BIGINT, n_chars BIGINT, source STRING)
               |TBLPROPERTIES ('key' = 'doc_id')""".stripMargin) // v0
      s.sql(s"INSERT INTO $cat.db.t SELECT * FROM chsql_base_$sfx") // v1
      s.sql(s"UPDATE $cat.db.t SET n_chars = n_chars + 1000 " +
        "WHERE doc_id BETWEEN 100 AND 199") // v2: COW rewrite
      s.sql(s"ALTER TABLE $cat.db.t RENAME COLUMN source TO origin") // v3
      s.sql(s"UPDATE $cat.db.t SET n_chars = n_chars + 7 " +
        "WHERE doc_id % 10 = 0") // v4: post-rename COW over era-0 files
      s.sql(s"DELETE FROM $cat.db.t WHERE doc_id >= 400") // v5: range
      // the pure-SQL batch consumer — version-range diffs by NAME
      val ops = s.sql(s"SELECT version AS step, doc_id, op " +
        s"FROM $cat.db.t.changes")
      require(ops.filter(col("step") === 3L).count() == 0L,
        "a metadata-only RENAME version must diff as an EMPTY change set")
      val updated = ops.filter(col("step") === 2L)
      require(updated.count() > 0 && updated.filter(
          !col("doc_id").between(100L, 199L)).count() == 0L,
        "the COW update must emit ONLY the genuinely-changed keys")
      // explicit slices splice exactly: (0,2] ∪ (2,5] == full history
      val lo = s.read.option("startVersion", 0).option("endVersion", 2)
        .table(s"$cat.db.t.changes")
      val hi = s.read.option("startVersion", 2).option("endVersion", 5)
        .table(s"$cat.db.t.changes")
      val spliced = lo.unionByName(hi)
        .select(col("version").as("step"), col("doc_id"), col("op"))
      require(spliced.count() == ops.count() &&
          spliced.exceptAll(ops).isEmpty,
        "batch slices (0,2] and (2,5] must splice to the full read")
      // the image feed, batch, over a rename-CROSSING range: v4's
      // pre-images read era-0/era-1 files (physical 'source') and
      // must surface their values in the view's 'origin' slot
      val imgs = s.read.option("startVersion", 0)
        .table(s"$cat.db.t.changes_images")
        .select(col("version").as("step"), col("doc_id"),
          col("_change_type").as("op"), col("n_chars"), col("origin"))
      require(imgs.filter(col("op") === "update_preimage" &&
          col("origin").isNull).count() == 0L,
        "pre-rename payloads must surface under the view's column name")
      ops.select(col("step"), col("doc_id"), col("op"),
          lit(null).cast("long").as("n_chars"),
          lit(null).cast("string").as("origin"))
        .withColumn("ref", lit("op"))
        .unionByName(imgs.withColumn("ref", lit("img")))
        .select("ref", "step", "doc_id", "op", "n_chars", "origin")
        .orderBy("ref", "step", "doc_id", "op")
    }),

    // CDC ACROSS A RENAME: the feed's view postdates a RENAME COLUMN,
    // and the history it replays touches files written under the OLD
    // physical name — per-file column translation through the rename
    // log serves their values EXACTLY into the view's slots (digests
    // under version-declared names, so carried rows still drop). The
    // oracle checks VALUES: pre-images carry the old-era payloads
    // under the NEW name across a merge and a range delete.
    "q_stream_cdc_rename" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cdcren_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val feed = baseDir.resolve("feed").toString
      SnapshotStore.init(s, base0, root, "doc_id", filesPerCommit = 4) // v0
      SnapshotStore.renameColumn(root, "source", "origin") // v1: metadata
      SnapshotStore.merge(s, base0.filter(col("doc_id") % 10 === 0) // v2
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("origin", lit("upd")).drop("source"), root)
      SnapshotStore.deleteRange(s, root, 200L, 299L) // v3
      val q = s.readStream.format("graft-cdc")
        .option("startVersion", 1L).option("images", "true").load(root)
        .select(col("version").as("step"), col("doc_id"),
          col("_change_type"), col("n_chars"), col("origin"))
        .writeStream.format("parquet")
        .option("path", feed)
        .option("checkpointLocation", baseDir.resolve("ck").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      val out = s.read.parquet(feed)
      // the translation evidence: pre-images of era-0 files must carry
      // REAL old-name values into the view's 'origin' slot, never null
      require(out.filter(col("_change_type") === "update_preimage" &&
          col("origin").isNull).count() == 0L,
        "pre-rename payloads must surface under the view's column name")
      out.select("step", "doc_id", "_change_type", "n_chars", "origin")
        .orderBy("step", "doc_id", "_change_type")
    }),

    // STREAMING TABLE READ (the Delta "stream from a table" surface):
    // `readStream.format("graft-snapshot")` BACKFILLS the snapshot as
    // of startVersion in admission-limited slices (a 100 TB initial
    // snapshot is thousands of micro-batches, not one), then TAILS
    // appends — offset = (version, snapshot-file-index), planning is
    // manifest arithmetic, reading is Spark's vectorized parquet over
    // only the files each interval APPENDED. The gate REQUIRES the
    // admission cap held (no batch read more than maxFilesPerTrigger
    // files' worth of the backfill) and that the tail emitted exactly
    // the appended rows; the oracle replays the final table content.
    "q_stream_table" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_stbl_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val sink = baseDir.resolve("sink").toString
      SnapshotStore.init(s, base0.filter(col("doc_id") % 3 === 0),
        root, "doc_id", filesPerCommit = 6) // v0: the backfill, 6 files
      val maxFileRows = SnapshotStore.currentManifest(root)
        .files.map(_.rows).max
      val q = s.readStream.format("graft-snapshot")
        .option("startVersion", 0L).option("maxFilesPerTrigger", 2)
        .load(root)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", baseDir.resolve("ck").toString)
        .start()
      try {
        q.processAllAvailable() // drains the 6-file backfill in slices
        SnapshotStore.append(s, base0.filter(col("doc_id") % 3 === 1),
          root) // v1
        q.processAllAvailable()
        SnapshotStore.append(s, // v2: far-range batch
          s.range(1000000000000L, 1000000000040L)
            .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
              lit("ins").as("source")), root)
        q.processAllAvailable()
        val progressed = q.recentProgress.filter(_.numInputRows > 0)
        require(progressed.length >= 5,
          s"a 6-file backfill at maxFilesPerTrigger=2 (3 slices) plus two " +
            s"appended versions must take >= 5 micro-batches, got " +
            s"${progressed.length}")
        require(progressed.take(3).forall(_.numInputRows <= 2 * maxFileRows),
          "a backfill micro-batch exceeded the 2-file admission cap")
      } finally q.stop()
      s.read.parquet(sink).select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    }),

    // STORE-TO-STORE STREAMING PIPELINE: the snapshot store as BOTH
    // ends — `readStream.format("graft-snapshot")` (backfill + tail)
    // feeding `writeStream.format("graft-snapshot")` (epoch-txn-marked
    // appends). Every micro-batch of the source lands as one
    // exactly-once commit in the sink; the gate REQUIRES the sink's
    // version history to show the admission-limited epochs (backfill
    // slices commit separately) and the oracle replays the transform
    // relationally over the final sink content.
    "q_stream_pipe" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_spipe_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val src = baseDir.resolve("src").toString
      val dst = baseDir.resolve("dst").toString
      SnapshotStore.init(s, base0, src, "doc_id",
        filesPerCommit = 4) // v0: the 4-file backfill
      SnapshotStore.init(s, // dst: declared schema, zero rows
        base0.select(col("doc_id"), (col("n_chars") * 2L).as("n2"))
          .limit(0), dst, "doc_id")
      val q = s.readStream.format("graft-snapshot")
        .option("startVersion", 0L).option("maxFilesPerTrigger", 2)
        .load(src)
        .select(col("doc_id"), (col("n_chars") * 2L).as("n2"))
        .writeStream.format("graft-snapshot")
        .option("txnAppId", "q_stream_pipe")
        .option("checkpointLocation", baseDir.resolve("ck").toString)
        .start(dst)
      try {
        q.processAllAvailable() // 4-file backfill at 2/trigger = 2 epochs
        SnapshotStore.append(s, // v1: the tailed far-range batch
          s.range(1000000000000L, 1000000000030L)
            .select(col("id").as("doc_id"), (col("id") % 991L).as("n_chars")),
          src)
        q.processAllAvailable()
      } finally q.stop()
      require(SnapshotStore.versions(dst).size >= 4,
        "2 backfill epochs + 1 tail epoch must commit separately " +
          s"(after the init version), got ${SnapshotStore.versions(dst)}")
      SnapshotStore.read(s, dst).select("doc_id", "n2").orderBy("doc_id")
    }),

    // CHANGE-FEED REPLICATION (the Delta APPLY CHANGES shape): a
    // REPLICA store kept key-for-key equal to a source by consuming
    // ONLY its graft-cdc images feed — `mode=cdc` on the graft-snapshot
    // streaming sink applies each epoch as ONE copy-on-write commit
    // (upserts + deletes collapsed to the newest state per key, txn-
    // marked exactly-once; the source table is never read). The second
    // epoch covers TWO source commits (a range delete AND a MOR key
    // delete land before the drain), so the per-key version collapse
    // is load-bearing, not decorative. The gate REQUIRES lockstep
    // (replica == source head, both directions), one replica commit
    // per epoch, and zero transport litter; the oracle replays the
    // final state relationally.
    "q_stream_replica" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_srepl_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val src = baseDir.resolve("src").toString
      val dst = baseDir.resolve("dst").toString
      SnapshotStore.init(s, base0, src, "doc_id") // v0
      SnapshotStore.init(s, base0, dst, "doc_id") // replica of v0
      def replicate(): Unit = {
        val q = s.readStream.format("graft-cdc")
          .option("startVersion", 0L).option("images", "true").load(src)
          .writeStream.format("graft-snapshot")
          .option("mode", "cdc").option("txnAppId", "q_stream_replica")
          .option("checkpointLocation", baseDir.resolve("ck").toString)
          .start(dst)
        try q.processAllAvailable() finally q.stop()
      }
      SnapshotStore.merge(s, base0.filter(col("doc_id") % 10 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), col("id").as("n_chars"),
            lit("ins").as("source"))), src)
      replicate() // epoch 1: the merge
      SnapshotStore.deleteRange(s, src, 200L, 299L) // v2
      SnapshotStore.deleteKeys(s, // v3: MOR scattered keys
        base0.filter(col("doc_id") % 13 === 1).select("doc_id"), src)
      replicate() // epoch 2: v2 AND v3 in ONE epoch (the stream was
      // down while both landed) — the per-key version collapse is
      // load-bearing here, not decorative
      val srcHead = SnapshotStore.read(s, src)
        .select("doc_id", "n_chars", "source")
      val replica = SnapshotStore.read(s, dst)
        .select("doc_id", "n_chars", "source")
      // multiset equality in ONE job (two exceptAll probes paid two
      // full read+shuffle passes over both stores): per-row-value
      // counts from each side full-outer-joined — any count mismatch
      // (including a row only one side has) is a violation. Same
      // property exceptAll-both-ways asserted, including on NULLs:
      // grouping keys already treat NULL as a value, and the join
      // condition uses null-safe equality so a NULL-bearing row
      // present identically on both sides compares equal, exactly as
      // exceptAll's set semantics did.
      val keyCols = Seq("doc_id", "n_chars", "source")
      val a = srcHead.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__ca"))
      val b = replica.groupBy(keyCols.map(c => col(c).as(s"__r_$c")): _*)
        .agg(count(lit(1)).as("__cb"))
      val mism = a.join(b,
          keyCols.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _), "full")
        .filter(coalesce(col("__ca"), lit(0L)) =!=
          coalesce(col("__cb"), lit(0L)))
      require(mism.isEmpty,
        "replica must equal the source head after the feed applies")
      require(SnapshotStore.versions(dst) == (0L to 2L),
        s"one replica commit per epoch expected, got " +
          SnapshotStore.versions(dst))
      require(!new java.io.File(s"$dst/data").listFiles()
        .exists(_.getName.startsWith(".staged-")),
        "cdc transport files must be cleaned after apply")
      SnapshotStore.read(s, dst).select("doc_id", "n_chars", "source")
        .orderBy("doc_id")
    }),

    // MERGE-ON-READ deletes (the Iceberg v2 equality-delete pattern):
    // a scattered key set commits as a key-count-sized DELETE FILE —
    // zero data files rewritten — and readers anti-join it against
    // only the files it can apply to (older seq, overlapping range).
    // The gate deletes keys across two commits' files (absent keys
    // drop at write), re-inserts a subset afterward (the sequence-
    // number rule: the newer file wins, the delete doesn't shadow
    // it), and reads both the deleted state and the final one; the
    // oracle replays each relationally. The gate also pins the MoR
    // contract itself: the delete commit leaves every data file path
    // untouched.
    "q_store_mor" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_mor_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.append(s, // v1: far-range batch
        s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
            lit("ins").as("source")), root)
      val v1 = SnapshotStore.currentManifest(root)
      SnapshotStore.deleteKeys(s, // v2: scattered keys in BOTH commits'
        base.filter(col("doc_id") % 7 === 3).select("doc_id") // files, plus
          .unionByName(s.range(1000000000001L, 1000000000003L) // absent keys
            .select(col("id").as("doc_id")))                  // that drop
          .unionByName(s.range(5000000000000L, 5000000000010L)
            .select(col("id").as("doc_id"))), root)
      val v2 = SnapshotStore.currentManifest(root)
      require(v2.files.map(_.path) == v1.files.map(_.path),
        "a merge-on-read delete must not rewrite data files")
      require(v2.deletes.size == 1, "one delete file expected")
      SnapshotStore.append(s, // v3: re-insert a subset of the deleted
        base.filter(col("doc_id") % 21 === 3)
          .select(col("doc_id"), (col("n_chars") + 5000L).as("n_chars"),
            lit("back").as("source"))
          .unionByName(s.range(1000000000001L, 1000000000002L)
            .select(col("id").as("doc_id"), lit(0L).as("n_chars"),
              lit("back").as("source"))), root)
      Seq(2L, 3L).map(v => SnapshotStore.readAsOf(s, root, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "source")
        .orderBy("version", "doc_id")
    }),

    // TAG refs + retention: a tag pins "the exact table this release
    // trained on" by name, vacuum retains tagged versions while
    // routine keepLast drops the rest, and readTag reproduces the
    // pinned state bit-for-bit after maintenance has reclaimed its
    // siblings. The gate tags v0, commits a correction merge and a
    // range delete, vacuums to keepLast=1, then reads HEAD and the
    // tag side by side; n_versions pins that exactly the tagged and
    // head manifests survived.
    "q_store_tag" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_tag_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.tag(root, "train-rel.1", 0L)
      SnapshotStore.merge(s, base.filter(col("doc_id") % 10 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 1000L), root)
      SnapshotStore.deleteRange(s, root, 200L, 299L) // v2
      SnapshotStore.vacuum(root, keepLast = 1)
      val nv = SnapshotStore.versions(root).size // tagged v0 + head v2
      Seq("head" -> SnapshotStore.read(s, root),
          "rel" -> SnapshotStore.readTag(s, root, "train-rel.1"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .withColumn("n_versions", lit(nv))
        .select("ref", "doc_id", "n_chars", "source", "n_versions")
        .orderBy("ref", "doc_id")
    }),

    // EXACTLY-ONCE STREAMING APPENDS: foreachBatch delivers at-least-
    // once (a sink-side crash re-runs the batch with the same id), so
    // the sink is appendOnce — the commit that applies (appId,
    // batchId) carries the marker in its manifest and every
    // redelivery becomes a no-op (the public Delta txn idea). The
    // gate streams two append batches into the store, then REDELIVERS
    // both exactly as the engine would (same ids, same content) and
    // REQUIRES the version history to show each batch landed once.
    "q_stream_once" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("k"),
          col("n_chars").cast("long").as("n_chars"), col("source"))
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_once_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val root = baseDir.resolve("store").toString
      val incoming = baseDir.resolve("incoming").toString
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(incoming))
      SnapshotStore.init(s, base, root, "k") // v0
      def batch(shift: Long) = base.select(
        (col("k") + shift).as("k"), col("n_chars"), col("source"))
      val stream = s.readStream.schema(base.schema).parquet(incoming)
      graft.streaming.StreamTune.withStatePartitions(s,
        graft.streaming.StreamTune.dirBytes(s"$d/documents.parquet")) {
      val q = stream.writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          SnapshotStore.appendOnce(s, df, root, "ingest", bid); ()
      }.start()
      try {
        batch(1000000000000L).coalesce(1).write.mode("append")
          .parquet(incoming)
        q.processAllAvailable() // batch 0
        batch(2000000000000L).coalesce(1).write.mode("append")
          .parquet(incoming)
        q.processAllAvailable() // batch 1
      } finally q.stop()
      }
      // REDELIVERY, exactly as recovery does it: same ids, same rows
      SnapshotStore.appendOnce(s, batch(1000000000000L), root, "ingest", 0L)
      SnapshotStore.appendOnce(s, batch(2000000000000L), root, "ingest", 1L)
      val nv = SnapshotStore.versions(root).size
      require(nv == 3, s"each batch must land exactly once: $nv versions")
      SnapshotStore.read(s, root)
        .withColumn("n_versions", lit(nv))
        .select("k", "n_chars", "source", "n_versions")
        .orderBy("k")
    }),

    // BYTE-sized compaction: the small set is chosen from per-file
    // BYTES tracked in the manifest — rows are a poor size proxy when
    // row widths vary 1000× (the wide-text files here hold FEWER rows
    // than the tiny marker files, so a row-count policy would rewrite
    // the wrong set; the gate REQUIRES rows not to separate the sets
    // the way bytes do). Wide files carry by reference (REQUIRED),
    // marker files collapse, the relation is row-identical before and
    // after — the oracle replays both versions.
    "q_store_compact_bytes" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id").as("k"), col("text"), col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cbytes_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "k", filesPerCommit = 2) // wide
      // narrow markers, tiny bytes — TWICE the corpus, so each narrow
      // file holds MORE rows than any wide file: a row-count policy
      // would rewrite the wide set, the byte policy the narrow one
      SnapshotStore.append(s, base.select(
          (col("k") + 1000000000000L).as("k"),
          lit("m").as("text"), col("source"))
        .unionByName(base.select((col("k") + 2000000000000L).as("k"),
          lit("m").as("text"), col("source"))),
        root, filesPerCommit = 2)
      val m0 = SnapshotStore.currentManifest(root)
      require(m0.files.forall(_.bytes > 0), "commits must record bytes")
      val wide = m0.files.filter(_.minKey < 1000000000000L)
      val narrow = m0.files.filter(_.minKey >= 1000000000000L)
      val narrowMax = narrow.map(_.bytes).max
      require(narrowMax < wide.map(_.bytes).min,
        "fixture: byte skew must be real")
      require(narrow.map(_.rows).min > wide.map(_.rows).max,
        "fixture: rows must not separate the sets the way bytes do")
      val m1 = SnapshotStore.compactBytes(s, root,
        smallBytes = narrowMax + 1, targetBytes = Long.MaxValue / 4)
      require(wide.map(_.path).toSet.subsetOf(m1.files.map(_.path).toSet),
        "wide files must carry by reference")
      require(m1.files.size < m0.files.size,
        "the tiny-byte files must collapse")
      Seq("pre" -> SnapshotStore.readAsOf(s, root, m0.version),
          "post" -> SnapshotStore.read(s, root))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .select("ref", "k", "text", "source")
        .orderBy("ref", "k")
    }),

    // POINT LOOKUP with per-file KEY BLOOMS (the parquet-column-bloom
    // / Iceberg-puffin role): the store's keys are SPARSE (doc_id ×
    // 1000), so a probe for a key in a gap lands INSIDE some file's
    // [min, max] envelope — range stats alone cannot prune it, the
    // bloom can. The gate REQUIRES the gap probe to read strictly
    // fewer files than its range overlap (bounded probe set: the
    // per-scale false-positive odds stay negligible at ~32 bits/row),
    // then erases half the found keys merge-on-read and looks the set
    // up again — blooms prune, the exact IN filter + MOR anti-join
    // keep every returned row right. Pruning is a pure optimization:
    // a false positive costs one extra file read, never a wrong row.
    "q_store_lookup" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select((col("doc_id") * 1000L).as("k"),
          col("n_chars").cast("long").as("n_chars"), col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_lookup_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      // ~32 bits per row per file at filesPerCommit = 8, any scale
      val n = base.count()
      var bits = 8192L
      while (bits < 4L * n) bits <<= 1
      SnapshotStore.init(s, base, root, "k", filesPerCommit = 8,
        bloomBits = bits.toInt) // v0
      // present probes: doc_id % 97 == 0 (k % 97000 == 0; 97 prime)
      val present = base.select("k")
        .where(pmod(col("k"), lit(97000L)) === 0)
        .collect().map(_.getLong(0)).sorted.toSeq
      // gap probes: +500 lands between stored keys, inside envelopes;
      // BOUNDED set so false-positive odds stay negligible at scale
      val absent = present.take(50).map(_ + 500L)
      val (miss, ro, read) = SnapshotStore.lookupKeys(s, root, absent)
      require(miss.count() == 0, "gap probes must return nothing")
      require(ro > 0 && read < ro, s"the key bloom must prune gap " +
        s"probes below their range overlap: read $read of $ro")
      // merge-on-read erasure of every second present key (194 = 2*97)
      SnapshotStore.deleteKeys(s,
        base.select("k").where(pmod(col("k"), lit(194000L)) === 0), root)
      def out(ref: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(ref).as("ref"), col("k"), col("n_chars"),
          col("source"))
      out("pre", SnapshotStore.readAsOf(s, root, 0L)
          .where(col("k").isin(present: _*)))
        .unionByName(out("post",
          SnapshotStore.lookupKeys(s, root, present)._1))
        .orderBy("ref", "k")
    }),

    // ROLLBACK: recovery from a bad bulk operation as ONE metadata
    // commit — v3 re-pins v1's exact content (files/deletes/schema
    // by REFERENCE; the gate REQUIRES the data directory gains no
    // files), while the bad v2 stays time-travelable for forensics
    // and history stays append-only. What an accidental range
    // erasure costs to undo on a 100 TB table: one manifest write.
    "q_store_rollback" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_rollback_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.merge(s, base.filter(col("doc_id") % 10 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 1000L), root)
      SnapshotStore.deleteRange(s, root, 100L, 399L) // v2: the accident
      def dataFiles = {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.list(
          java.nio.file.Paths.get(root, "data")))(_.iterator().asScala.size)
      }
      val before = dataFiles
      SnapshotStore.rollback(root, 1L) // v3 == v1's content
      require(dataFiles == before,
        "rollback must be metadata-only: zero data files written")
      val nv = SnapshotStore.versions(root).size
      Seq("head" -> SnapshotStore.read(s, root),
          "bad" -> SnapshotStore.readAsOf(s, root, 2L))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .withColumn("n_versions", lit(nv))
        .select("ref", "doc_id", "n_chars", "source", "n_versions")
        .orderBy("ref", "doc_id")
    }),

    // THE SUBSTRATE SEAM, DRIVER-GATED: the same snapshot-store code
    // runs over an org.apache.hadoop.fs.FileSystem (file:// here —
    // hdfs:// on a cluster is the same impl; S3-class stores swap
    // the CAS for a catalog, per the StoreFs contract): init, keyed
    // merge, merge-on-read erasure and its materialization all
    // through HadoopStoreFs, read back across versions. The MOR
    // state and the post-materialization head must be row-identical
    // — applyDeletes rewrites only the affected files.
    "q_store_fsseam" -> ((s, d) => {
      import graft.sources.{HadoopStoreFs, SnapshotStoreOps}
      val store = new SnapshotStoreOps(
        new HadoopStoreFs(s.sparkContext.hadoopConfiguration,
          singleWriterCas = true)) // file://: declared single-writer
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_fsseam_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      store.destroy(root)
      store.init(s, base, root, "doc_id") // v0
      store.merge(s, base.filter(col("doc_id") % 7 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 500L), root)
      store.deleteKeys(s, // v2: merge-on-read erasure
        base.filter(col("doc_id") % 13 === 0).select("doc_id"), root)
      store.applyDeletes(s, root) // v3: materialize
      val nv = store.versions(root).size
      Seq("mor" -> store.readAsOf(s, root, 2L),
          "head" -> store.read(s, root))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .withColumn("n_versions", lit(nv))
        .select("ref", "doc_id", "n_chars", "source", "n_versions")
        .orderBy("ref", "doc_id")
    }),

    // THE CATALOG CAS, DRIVER-GATED: the executable object-store
    // commit story. The data substrate is a Hadoop FS WITHOUT a safe
    // create-if-absent (file:// — rename replaces, exactly the
    // S3-class hazard; HadoopStoreFs itself REFUSES to CAS here
    // unflagged), so version/tag creation is arbitrated by a
    // CommitCatalog (FileLockCatalog — the single-writer lock/pointer
    // protocol a JDBC/DynamoDB catalog gives) while data and manifest
    // bytes stay on the substrate. Lifecycle: init, keyed merge, tag,
    // merge-on-read erasure, materialization — then the CRASH-HEAL
    // path is gate-REQUIRED: the head manifest OBJECT is deleted
    // behind the catalog's back (a writer dying between catalog
    // commit and materialization) and reads must serve and
    // re-materialize it from the catalog, because the binding is the
    // commit of record.
    "q_store_catalog" -> ((s, d) => {
      import graft.sources.{CatalogStoreFs, FileLockCatalog,
        HadoopStoreFs, SnapshotStoreOps}
      val sfx = ProcessHandle.current().pid() + "_" +
        Integer.toHexString(d.hashCode)
      val catDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_catalog_cat_" + sfx).toString
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_catalog_" + sfx).toString
      val inner = new HadoopStoreFs(s.sparkContext.hadoopConfiguration)
      val store = new SnapshotStoreOps(
        new CatalogStoreFs(inner, new FileLockCatalog(catDir)))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      store.destroy(root) // unbinds prior catalog entries too
      store.init(s, base, root, "doc_id") // v0
      store.tag(root, "rel", 0L)
      // tags are immutable through the catalog exactly as on a CAS
      // substrate: the second creator must lose loudly
      val dup = try { store.tag(root, "rel", 0L); false }
        catch { case _: IllegalArgumentException => true }
      require(dup, "duplicate tag must lose the catalog CAS")
      store.merge(s, base.filter(col("doc_id") % 7 === 0) // v1
        .withColumn("n_chars", col("n_chars") + 500L), root)
      store.deleteKeys(s, // v2: merge-on-read erasure
        base.filter(col("doc_id") % 13 === 0).select("doc_id"), root)
      store.applyDeletes(s, root) // v3: materialize
      // crash-heal, REQUIRED: drop the head manifest object on the
      // data substrate; the catalog binding must keep the version
      // alive and the next read must re-materialize the object
      require(inner.delete(s"$root/manifests/v3.json"),
        "fixture: the materialized head manifest must exist")
      require(store.versions(root) == (0L to 3L),
        "catalog-held versions must survive object loss")
      val head = store.read(s, root) // heals v3.json from the catalog
      require(inner.exists(s"$root/manifests/v3.json"),
        "read must re-materialize the healed manifest")
      val nv = store.versions(root).size
      Seq("mor" -> store.readAsOf(s, root, 2L),
          "head" -> head,
          "tag" -> store.readTag(s, root, "rel"))
        .map { case (r, df) => df.withColumn("ref", lit(r)) }
        .reduce(_ unionByName _)
        .withColumn("n_versions", lit(nv))
        .select("ref", "doc_id", "n_chars", "source", "n_versions")
        .orderBy("ref", "doc_id")
    }),

    // COMPOSITE KEY on the snapshot store: the engine's obs table is
    // naturally keyed (statid, tfrom) — CompositeKey.pack(statid,
    // tfrom) is the documented order-preserving encoding
    // (hi·2^51 + lo sorts like the tuple), so the single-long store
    // machinery serves composite access patterns directly: the
    // correction merge hits only station-3 files, the whole-station
    // erasure is ONE contiguous deleteRange, the per-station scan
    // prunes by packed-key envelopes, and the cross-station TIME
    // window (not a key prefix) prunes by (statid, tfrom) zone maps
    // via scanRanges. Both prunings are REQUIRED inside the gate
    // (hit sets strictly smaller than the manifest); the output
    // carries the packed key AND its decoded parts, so the oracle
    // replays the packing arithmetic itself.
    "q_store_obskey" -> ((s, d) => {
      import graft.sources.SnapshotStore
      import graft.functions.CompositeKey
      val B = 51 // epoch micros fit 51 bits well past 2040
      val obs = Tables.events(s, d)
        .select((col("user_id") % 10).as("statid"),
          unix_micros(col("ts")).as("tfrom"), col("event_id"))
        .groupBy("statid", "tfrom")
        .agg(count(lit(1)).as("n_ev"), max("event_id").as("max_ev"))
        .withColumn("k", CompositeKey.pack(col("statid"), col("tfrom"), B))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_obskey_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, obs, root, "k", filesPerCommit = 20,
        statsCols = Seq("statid", "tfrom")) // v0
      // correction merge: station 3, every 5th second — far-apart in
      // (statid, tfrom) but ONE station's files in key space
      val upd = SnapshotStore.read(s, root)
        .filter(col("statid") === 3 &&
          expr("(tfrom div 1000000) % 5") === 0)
        .withColumn("n_ev", col("n_ev") + 100L)
      SnapshotStore.merge(s, upd, root) // v1
      // whole-station erasure: statid 5 is one contiguous key range
      val (lo5, hi5) = CompositeKey.range(5L, 0L, (1L << B) - 1, B)
      SnapshotStore.deleteRange(s, root, lo5, hi5) // v2
      val m = SnapshotStore.currentManifest(root)
      val (lo7, hi7) = CompositeKey.range(7L, 0L, (1L << B) - 1, B)
      val hit7 = m.files.count(f => f.minKey <= hi7 && lo7 <= f.maxKey)
      require(hit7 < m.files.size, s"the station-7 packed-key range " +
        s"must skip files: hit $hit7 of ${m.files.size}")
      // cross-station time window: zone-map conjunction, not a prefix
      val (ta, tb) = (1704844800000000L, 1705708799999999L) // Jan 10-20 UTC
      val hitZ = m.files.count(f =>
        f.stats.get("statid").forall { case (mn, mx) => mn <= 4 && 2 <= mx } &&
          f.stats.get("tfrom").forall { case (mn, mx) => mn <= tb && ta <= mx })
      require(hitZ < m.files.size, s"the (statid, tfrom) zone-map " +
        s"conjunction must skip files: hit $hitZ of ${m.files.size}")
      def out(ref: String, df: DataFrame) =
        df.select(lit(ref).as("ref"), col("k"),
          CompositeKey.hi(col("k"), B).as("d_statid"),
          CompositeKey.lo(col("k"), B).as("d_tfrom"),
          col("n_ev"), col("max_ev"))
      out("head", SnapshotStore.read(s, root))
        .unionByName(out("scan7",
          SnapshotStore.scanKeyRange(s, root, lo7, hi7)))
        .unionByName(out("window", SnapshotStore.scanRanges(s, root,
          Map("statid" -> (2L, 4L), "tfrom" -> (ta, tb)))))
        .orderBy("ref", "k")
    }),

    // SCHEMA EVOLUTION on the snapshot store: addColumn is a pure
    // metadata commit (zero files touched) — the new column reads as
    // NULL from every pre-evolution file, a later merge populates it
    // on exactly the rewritten rows, and the pre-evolution version
    // keeps time-traveling with its own schema. The gate reads the
    // post-add and post-merge versions; the oracle replays both
    // relationally.
    "q_store_evolve" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_evolve_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.addColumn(root, "tag", "STRING") // v1: metadata-only
      val batch = base.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .withColumn("tag",
          concat(lit("t"), (col("doc_id") % 7).cast("string")))
        .unionByName(s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), col("id").as("n_chars"),
            lit("ins").as("tag")))
      SnapshotStore.merge(s, batch, root) // v2
      Seq(1L, 2L).map(v => SnapshotStore.readAsOf(s, root, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "tag")
        .orderBy("version", "doc_id")
    }),

    // metadata-bounded range COUNT over the snapshot store: files
    // fully inside the range answer from their manifest row stats
    // without being opened; only boundary files scan. The gate probes
    // ranges of every shape (inside one file, spanning several, the
    // whole table, empty) — the counts are relational facts the
    // oracle replays directly.
    "q_store_count_range" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cntrange_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id")
      val ranges = Seq((0L, 0L, 99L), (1L, 100L, 349L),
        (2L, 0L, Long.MaxValue - 1), (3L, 5000000L, 6000000L))
      import s.implicits._
      ranges.map { case (id, lo, hi) =>
        (id, lo, SnapshotStore.countKeyRange(s, root, lo, hi)._1)
      }.toDF("range_id", "lo", "cnt").orderBy("range_id")
    }),

    // margin-based bitext mining between two embedding slices (the
    // LASER/CCMatrix recipe): forward nearest neighbors whose cosine
    // stands out against BOTH endpoints' top-k neighborhoods — the
    // ratio margin suppresses hubness. Labels 0-4 mine against 5-9.
    "q_bitext_mine" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Retrieval.bitextMine(
          e.filter(col("label") < 5), e.filter(col("label") >= 5),
          k = 4, threshold = 1.02)
        .orderBy("id_a")
    }),

    // DELETE by key (right-to-be-forgotten): every row of station 3 on
    // the request's days is erased; only touched partitions rewrite,
    // and a day erased to zero rows drops its directory too
    "q_store_delete" -> ((s, d) => {
      import graft.sources.PartitionedStore
      val obs = TsaQueries.obsFromEvents(s, d)
      val path = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_del_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      PartitionedStore.writeByDay(obs, path)
      val keys = obs
        .filter(col("statid") === 3 && dayofmonth(col("tfrom")) % 7 === 0)
        .select("tfrom", "statid", "seid")
      PartitionedStore.deleteByDay(s, keys, path, Seq("tfrom", "statid", "seid"))
      PartitionedStore.read(s, path)
        .select("tfrom", "statid", "seid", "seval")
        .orderBy("statid", "seid", "tfrom")
    }),

    // the CONTINUOUS ingest-to-store loop: upsert batches arrive as a
    // file stream, each micro-batch merges into the day-partitioned
    // store via foreachBatch — two sequential batches (corrections,
    // then re-corrections of a subset) replayed relationally in the
    // oracle. This is the production shape: streaming in front,
    // partition-pruned upserts behind.
    "q_stream_merge" -> ((s, d) => {
      import graft.sources.PartitionedStore
      val obs = TsaQueries.obsFromEvents(s, d)
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_smerge_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      // bench runs a gate twice: wipe the incoming dir or the second
      // run's stream would replay the first run's files on top
      NioStoreFs.deleteRecursively(base.toString)
      val path = base.resolve("store").toString
      val src = base.resolve("incoming").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      PartitionedStore.writeByDay(obs, path)
      val touched = dayofmonth(col("tfrom")) % 5 === 0
      val batch1 = obs.filter(col("statid") === 0 && touched)
        .withColumn("seval", col("seval") + 1.0)
        .unionByName(obs.filter(col("statid") === 1 && touched)
          .select(col("tfrom")).distinct()
          .select(col("tfrom"), lit(1L).as("statid"), lit(9L).as("seid"),
            lit(1.5).as("seval")))
      val batch2 = obs
        .filter(col("statid") === 0 && dayofmonth(col("tfrom")) % 10 === 0)
        .withColumn("seval", col("seval") + 3.0)
      val stream = s.readStream.schema(obs.schema).parquet(src)
      graft.streaming.StreamTune.withStatePartitions(s,
        graft.streaming.StreamTune.dirBytes(path)) {
      val q = stream.writeStream.foreachBatch {
        (df: DataFrame, _: Long) =>
          PartitionedStore.mergeByDay(s, df, path,
            Seq("tfrom", "statid", "seid"))
      }.start()
      try {
        batch1.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        batch2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      }
      PartitionedStore.read(s, path)
        .select("tfrom", "statid", "seid", "seval")
        .orderBy("statid", "seid", "tfrom")
    }),

    // the CDC surface over the snapshot store: per-key insert/delete/
    // update feed between committed versions — hash-pair join, never
    // the payloads. Replays the q_store_timetravel history (v0 merge→
    // v1 delete→v2) and emits both steps' change feeds.
    "q_store_changes" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cdc_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base0, root, "doc_id")
      val batch = base0.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L).select(col("id").as("doc_id"),
          col("id").as("n_chars"), lit("ins").as("source")))
      SnapshotStore.merge(s, batch, root)
      SnapshotStore.deleteRange(s, root, 200L, 299L)
      SnapshotStore.changes(s, root, 0, 1).withColumn("step", lit(1L))
        .unionByName(
          SnapshotStore.changes(s, root, 1, 2).withColumn("step", lit(2L)))
        .select("step", "doc_id", "op")
        .orderBy("step", "doc_id")
    }),

    // the streaming twin of q_store_timetravel: upsert batches arrive
    // as a file stream and each micro-batch MERGEs into the snapshot
    // store (foreachBatch), growing the version history — then the
    // gate time-travels across all three versions. Streaming in
    // front, key-range-pruned rewrites and manifest commits behind:
    // the continuous-ingest shape for a versioned 100 TB table.
    "q_stream_snapshot" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_ssnap_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(base.toString)
      val root = base.resolve("store").toString
      val src = base.resolve("incoming").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      SnapshotStore.init(s, base0, root, "doc_id")
      val batch1 = base0.filter(col("doc_id") % 10 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
        .unionByName(s.range(1000000000000L, 1000000000050L).select(col("id").as("doc_id"),
          col("id").as("n_chars"), lit("ins").as("source")))
      val batch2 = base0.filter(col("doc_id") % 20 === 0)
        .withColumn("n_chars", col("n_chars") + 5000L)
      val stream = s.readStream.schema(batch1.schema).parquet(src)
      val q = stream.writeStream.foreachBatch {
        (df: DataFrame, _: Long) => { SnapshotStore.merge(s, df, root); () }
      }.start()
      try {
        batch1.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        batch2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      Seq(0L, 1L, 2L).map(v => SnapshotStore.readAsOf(s, root, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "source")
        .orderBy("version", "doc_id")
    }),

    // Z-ORDER COMPACTION (Delta's OPTIMIZE ZORDER BY): the small-file
    // rewrite re-clusters rows by the Morton interleave of key and a
    // zone-mapped secondary, tightening every file's envelope on BOTH
    // dimensions — a key-sorted layout answers a secondary-band probe
    // by opening (nearly) every file, the z-ordered one skips most.
    // The gate REQUIRES the pruned file count to strictly drop, then
    // replays content probes relationally (the rewrite must be
    // row-identical — layout is the only thing that changed).
    "q_store_zorder" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_zord_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 16,
        statsCols = Seq("n_chars")) // v0: key-sorted 16 files
      def hitCount(ranges: Map[String, (Long, Long)]): Int = {
        val m = SnapshotStore.currentManifest(root)
        m.files.count(f => ranges.forall { case (c, (lo, hi)) =>
          if (c == m.keyCol) f.minKey <= hi && lo <= f.maxKey
          else f.stats.get(c).forall { case (mn, mx) => mn <= hi && lo <= mx }
        })
      }
      val band = Map("n_chars" -> (200L, 300L))
      val before = hitCount(band)
      val target = 1L + SnapshotStore.countAsOf(root, 0L) / 16L
      SnapshotStore.compactZorder(s, root, "n_chars",
        smallRows = 1000000L, targetRows = target) // v1: ~16 z-ordered files
      val after = hitCount(band)
      require(after < before,
        s"z-order must tighten secondary envelopes: $before -> $after " +
          "files hit by the n_chars band")
      Seq(
        (0L, Map("doc_id" -> (Long.MinValue + 1, Long.MaxValue - 1))),
        (1L, band),
        (2L, Map("doc_id" -> (100L, 399L), "n_chars" -> (200L, 300L))))
        .map { case (pid, ranges) =>
          SnapshotStore.scanRanges(s, root, ranges)
            .withColumn("probe", lit(pid)) }
        .reduce(_ unionByName _)
        .select("probe", "doc_id", "n_chars", "source")
        .orderBy("probe", "doc_id")
    }),

    // PARTITION-SPEC (LAYOUT) EVOLUTION, per file: one version holds
    // MIXED physical layouts — the original slab range-clustered by
    // key, the compacted slab Z-ORDERED — with each file's spec
    // recorded in the manifest (the Iceberg partition-spec-evolution
    // shape in miniature: layout evolves where compaction touches,
    // nothing rewrites wholesale). Gate-REQUIRED: the zorder spec
    // string surfaces in the manifest JSON, the head version carries
    // BOTH layouts, the carried range files' entries are untouched,
    // and stats pruning stays correct across the mix (the n_chars
    // band must hit fewer files than the manifest holds).
    "q_store_specs" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_specs_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      val n = base.count()
      SnapshotStore.init(s, base, root, "doc_id", filesPerCommit = 2,
        statsCols = Seq("n_chars")) // v0: 2 BIG range-clustered files
      // a second slab far above any replica id space, in 16 SMALL
      // files — the compaction candidates
      val shifted = base
        .withColumn("doc_id", col("doc_id") + 5000000000000L)
      SnapshotStore.append(s, shifted, root, filesPerCommit = 16) // v1
      SnapshotStore.compactZorder(s, root, "n_chars",
        smallRows = n / 4 + 1, targetRows = n / 8 + 1) // v2: z the slab
      val m = SnapshotStore.currentManifest(root)
      val (z, range) = m.files.partition(_.layout.isDefined)
      require(z.nonEmpty && z.forall(
          _.layout.contains("zorder(doc_id,n_chars)")),
        "compacted files must carry the zorder spec")
      require(range.nonEmpty && range.forall(_.minKey < 5000000000000L),
        "the original big files must carry by reference, spec = range")
      // the spec string surfaces in the manifest JSON itself
      val segDir = java.nio.file.Paths.get(root, "manifests")
      import scala.jdk.CollectionConverters._
      val segJson = java.nio.file.Files.list(segDir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("seg-"))
        .map(java.nio.file.Files.readString(_)).mkString("\n")
      require(segJson.contains("\"layout\":\"zorder(doc_id,n_chars)\""),
        "the layout spec must surface in the manifest JSON")
      // pruning stays correct over the layout mix
      val band = (200L, 300L)
      val hit = m.files.count(_.stats.get("n_chars").forall {
        case (mn, mx) => mn <= band._2 && band._1 <= mx })
      require(hit < m.files.size,
        s"the n_chars band must prune the mixed manifest: $hit of ${m.files.size}")
      Seq(
        (0L, Map("doc_id" -> (Long.MinValue + 1, Long.MaxValue - 1))),
        (1L, Map("n_chars" -> band)),
        (2L, Map("doc_id" -> (5000000000100L, 5000000000399L))))
        .map { case (pid, ranges) =>
          SnapshotStore.scanRanges(s, root, ranges)
            .withColumn("probe", lit(pid)) }
        .reduce(_ unionByName _)
        .select("probe", "doc_id", "n_chars", "source")
        .orderBy("probe", "doc_id")
    }),

    // INCREMENTAL APPEND SCAN (the Iceberg incremental-scan surface):
    // "give me what's new since my last sync" answered from the files
    // that APPEARED between two versions — delta-sized read, no
    // row-level hashing of either version (that's the CDC feed's
    // job). The gate reads two windows of an append-only history and
    // pins the refusal contract: after a merge rewrite, added-files
    // no longer means added-rows, and the scan must refuse loudly.
    "q_store_incr" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_incr_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      SnapshotStore.destroy(root)
      SnapshotStore.init(s, base, root, "doc_id") // v0
      SnapshotStore.append(s, // v1
        s.range(1000000000000L, 1000000000050L)
          .select(col("id").as("doc_id"), (col("id") % 997L).as("n_chars"),
            lit("a1").as("source")), root)
      SnapshotStore.append(s, // v2
        s.range(2000000000000L, 2000000000030L)
          .select(col("id").as("doc_id"), (col("id") % 991L).as("n_chars"),
            lit("a2").as("source")), root)
      // a rewrite breaks append-only lineage: the scan must refuse
      SnapshotStore.merge(s, base.limit(0) // v3: touch one key
        .unionByName(base.filter(col("doc_id") === 7L)
          .withColumn("n_chars", col("n_chars") + 1L)), root)
      val refused =
        try { SnapshotStore.readIncremental(s, root, 2L, 3L); false }
        catch { case _: IllegalArgumentException => true }
      require(refused, "incremental scan across a rewrite must refuse")
      Seq(("w01", 0L, 1L), ("w02", 0L, 2L), ("w12", 1L, 2L),
          ("w22", 2L, 2L))
        .map { case (tag, a, b) =>
          val df = SnapshotStore.readIncremental(s, root, a, b)
          df.withColumn("win", lit(tag)) }
        .reduce(_ unionByName _)
        .select("win", "doc_id", "n_chars", "source")
        .orderBy("win", "doc_id")
    }),

    // the STREAMING right-to-be-forgotten sweep: erasure-request
    // batches arrive as a file stream and each micro-batch commits a
    // MERGE-ON-READ delete (foreachBatch → deleteKeys) — key-count-
    // sized I/O per batch, zero data files rewritten, the store stays
    // time-travelable across the erasure history. The continuous
    // GDPR-queue shape for a versioned 100 TB table; the batch twin
    // is q_store_mor. The oracle replays both post-delete states.
    "q_stream_mor" -> ((s, d) => {
      import graft.sources.SnapshotStore
      val base0 = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
          col("source"))
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_smor_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(base.toString)
      val root = base.resolve("store").toString
      val src = base.resolve("erasures").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
      SnapshotStore.init(s, base0, root, "doc_id") // v0
      val req1 = base0.filter(col("doc_id") % 7 === 3).select("doc_id")
      val req2 = base0.filter(col("doc_id") % 11 === 5).select("doc_id")
      val stream = s.readStream.schema(req1.schema).parquet(src)
      val q = stream.writeStream.foreachBatch {
        (df: DataFrame, _: Long) => { SnapshotStore.deleteKeys(s, df, root); () }
      }.start()
      try {
        req1.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        req2.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
      val m = SnapshotStore.currentManifest(root)
      require(m.version == 2L && m.deletes.size == 2 &&
        m.files.forall(_.seq == 0L),
        "streamed erasures must commit merge-on-read versions " +
          "(two delete files, every data file still v0's)")
      Seq(1L, 2L).map(v => SnapshotStore.readAsOf(s, root, v)
          .withColumn("version", lit(v)))
        .reduce(_ unionByName _)
        .select("version", "doc_id", "n_chars", "source")
        .orderBy("version", "doc_id")
    }),

    // the round-11 capstone composition — the corpus-BUILD recipe with
    // the domain-accounting layer in front: URL canonicalization →
    // per-domain cap (anti-SEO) → quality gate → exact dedup → split
    // assignment, per-doc output so every stage's decision is in the
    // hash. Each stage is individually gated; this pins the chain.
    // the release capstone: quality gate → exact dedup (min-id
    // survivor) → serpentine balanced shards → per-shard release
    // card. Every stage is individually gated elsewhere; this pins
    // the composition a corpus RELEASE runs end-to-end.
    "q_release_pipeline" -> ((s, d) => {
      import graft.operators.{Sampling, TextOps}
      val docs = Tables.documents(s, d)
      val quality = docs.filter(TextOps.qualityScore(col("text")) >= 0.5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__fp").orderBy("doc_id")
      val surviving = quality
        .withColumn("__fp", TextOps.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), col("n_chars"), col("source"))
      Sampling.balancedShards(surviving, "doc_id", "n_chars", nShards = 8)
        .join(surviving.select(col("doc_id"), col("source")), "doc_id")
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("shard")
    }),

    "q_corpus_build" -> ((s, d) => {
      import graft.operators.{Sampling, TextOps}
      val docs = Tables.documents(s, d)
      val withDomain = docs.select(col("doc_id"), col("n_chars"), col("text"),
        TextOps.urlHost(TextOps.canonicalUrl(plantedUrl)).as("domain"))
      val capped = graft.core.SkewOps.topKByKey(withDomain, Seq("domain"),
          Seq(col("n_chars").desc, col("doc_id")), k = 10)
        .drop("rnk")
      val quality = capped.filter(TextOps.qualityScore(col("text")) >= 0.5)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__fp").orderBy("doc_id")
      val surviving = quality
        .withColumn("__fp", TextOps.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
      surviving.select(col("doc_id"), col("domain"), col("n_chars"),
          Sampling.hashSplit(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
        .orderBy("doc_id")
    }),

    // VIDEO near-dup, composed end to end: MJPEG frames → grayscale
    // dHash per frame → exact-signature collapse → representative
    // pairs sharing ≥2 frame hashes. Videos of class c carry frame
    // seeds {c, c+1, c+2}, so same-class copies collapse and
    // NEIGHBORING classes (sharing two seeds) surface as near-dups.
    "q_video_neardup" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val cls = (id % 25).toInt
        val frames = (0 until 3).map { f =>
          val seed = cls + f
          graft.operators.Jpeg.encode(40, 16, 1, i => {
            val bx = (i % 40) / 8
            val by = (i / 40) / 8
            2 * ((seed * 37 + (by * 5 + bx) * 29) % 128)
          })
        }
        graft.operators.MediaCodecs.Avi.encode(40, 16, frames)
      }
      val bin = graft.operators.Dedup.spread(Tables.documents(s, d))
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      graft.operators.Multimodal.videoNearDupPairs(bin, every = 1, minShared = 2)
        .orderBy("id_a", "id_b")
    }),

    // perceptual AUDIO fingerprint: energy-difference hash over
    // genuinely decoded PCM — the audio face of the image dHash;
    // sign-of-difference is invariant under volume changes. Integer
    // window sums replay in the oracle.
    "q_audio_hash" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val n = 130 + (id % 7).toInt
        graft.operators.MediaCodecs.Wav.encode(n, 1, 8000,
          i => (((id * 31 + i) % 2001) - 1000).toInt)
      }
      graft.operators.AudioHash.ahash(
        Tables.documents(s, d)
          .select(col("doc_id").as("id"), mk(col("doc_id")).as("media")))
        .orderBy("id")
    }),

    // relational set operations under set semantics: fingerprints of
    // the overlapping id slices — INTERSECT finds content shared by
    // both catalogs, EXCEPT what only the first has (SURVEY §2.6's
    // "no set ops beyond UNION" gap, closed explicitly)
    "q_set_ops" -> ((s, d) => {
      val fp = graft.operators.TextOps.fingerprint(col("text"))
      val a = Tables.documents(s, d).filter(col("doc_id") < 300).select(fp.as("fp"))
      val b = Tables.documents(s, d).filter(col("doc_id") >= 200).select(fp.as("fp"))
      a.intersect(b).withColumn("op", lit("both"))
        .unionByName(a.except(b).withColumn("op", lit("only_a")))
        .groupBy("op").agg(count(lit(1)).as("n"))
        .orderBy("op")
    }),

    // REAL GIF decode: LZW sub-block streams through the general
    // decoder (variable-width codes, table resets); the literal-code
    // encoding cancels in the round trip, so the recovered pixel
    // stream is the generating arithmetic — grayscale palette makes
    // all three channels equal the index
    "q_multimodal_gif" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val w = 3 + (id % 5).toInt
        val h = 2 + (id % 3).toInt
        graft.operators.MediaCodecs.Gif.encode(w, h,
          i => ((id * 19 + i) % 256).toInt)
      }
      val px = udf { (bytes: Array[Byte]) =>
        graft.operators.MediaCodecs.sniffDecode(bytes).payload.map(b => b & 0xff) }
      Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
        .select(col("id"), posexplode(px(col("media"))))
        .select(col("id"), col("pos").cast("int").as("pos"),
          col("col").cast("int").as("val"))
        .orderBy("id", "pos")
    }),

    // REAL telephony audio: µ-law (G.711) WAV containers decode
    // through the format-blind frame sampler — the expansion is pure
    // integer arithmetic, so the oracle replays it directly (no
    // round-trip cancellation needed)
    "q_multimodal_mulaw" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        graft.operators.MediaCodecs.Wav.encodeMulaw(
          8 + (id % 5).toInt, 1, 8000, i => ((id * 13 + i) % 256).toInt)
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      graft.operators.Multimodal.frameSample(bin, every = 2)
        .orderBy("id", "frame", "channel")
    }),

    // first-order Markov transitions over user journeys: which event
    // actually follows which — the path-analysis companion to
    // q_funnel's single hypothesized path
    "q_event_transitions" -> ((s, d) =>
      graft.operators.EventAnalytics.transitions(Tables.events(s, d),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("from_type", "to_type")),

    // correlated EXISTS (TPC-H Q4 shape): Catalyst decorrelates the
    // per-order existence probe into a semi join — the subquery
    // surface of the SQL front door, exercised through spark.sql
    "q4_exists" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderpriority, count(*) AS n
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    // correlated SCALAR subqueries (TPC-H Q17 shape): the per-part
    // average-quantity threshold, rewritten multiplication-only
    // (5·q·cnt < sum — exact for integral quantities, no float-average
    // knife edge) so both engines decide identically
    "q17_avg_qty" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT CAST(count(*) AS BIGINT) AS n_small,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
            AS sum_price
        FROM v_lineitem l
        WHERE 5.0 * l.l_quantity *
            (SELECT count(*) FROM v_lineitem l2
             WHERE l2.l_partkey = l.l_partkey) <
          (SELECT sum(l3.l_quantity) FROM v_lineitem l3
           WHERE l3.l_partkey = l.l_partkey)""")
    }),

    // HOPPING windows (2-day size, 1-day slide): every event counts in
    // two overlapping windows — the smoothing aggregation between
    // tumbling (q_stream_window) and session windows
    "q_hopping_window" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "2 days", "1 day").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"))
        .orderBy("w_start", "event_type")),

    // character-entropy quality signal: base64/minified junk sits far
    // above natural prose, repetition junk far below — rounded-ln
    // DECIMAL discipline, alphabet-bounded inner relation
    "q_char_entropy" -> ((s, d) =>
      graft.operators.CorpusStats.charEntropy(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // per-source winsorization: clamp n_chars to the source's exact
    // nearest-rank [p05, p95] — outlier CLEANUP next to q_outliers'
    // detection; corrupt lengths stop distorting means without
    // dropping rows
    "q_winsorize" -> ((s, d) =>
      graft.operators.DataChecks.winsorize(
        Tables.documents(s, d), "source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")),

    // the OTHER linkage pass: sorted-neighborhood — one skew-safe
    // global rank over the match key, candidates within 3 sort
    // positions (bucket-exploded equi-join, no nested loop), exact
    // Levenshtein verify. Production unions this with the
    // prefix-blocked pass.
    "q_fuzzy_sorted" -> ((s, d) => {
      val name = concat(lit("entity "),
        lpad((col("doc_id") % 120).cast("string"), 3, "0"),
        when(col("doc_id") % 3 === 0, lit(" korp")).otherwise(lit(" corp")))
      graft.operators.TextOps.fuzzyJoinSorted(
          Tables.documents(s, d).select(col("doc_id"), name.as("name")),
          "doc_id", "name", window = 3, maxDist = 1)
        .orderBy("id_a", "id_b")
    }),

    // ANALYZE-style column statistics in one scan (min/max/nulls/exact
    // ndv per column) — what the planner and a file-skipping layout
    // consume; the HLL sketch replaces the exact ndv at 100 TB
    "q_table_stats" -> ((s, d) =>
      graft.operators.DataChecks.tableStats(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount"))),

    // record linkage across two catalogs: blocked fuzzy join on
    // planted near-miss entity names (typos OUTSIDE the 10-char
    // blocking prefix; ' corp' vs ' korp' = distance 1) — the metadata
    // dedup step of corpus assembly
    "q_fuzzy_join" -> ((s, d) => {
      val name = concat(lit("entity "),
        lpad((col("doc_id") % 120).cast("string"), 3, "0"))
      val a = Tables.documents(s, d).filter(col("doc_id") < 250)
        .select(col("doc_id").as("id_a"),
          concat(name, lit(" corp")).as("name_a"))
      val b = Tables.documents(s, d).filter(col("doc_id") >= 250)
        .select(col("doc_id").as("id_b"),
          concat(name, when(col("doc_id") % 3 === 0, lit(" korp"))
            .otherwise(lit(" corp"))).as("name_b"))
      graft.operators.TextOps.fuzzyJoinBlocked(a, b, "name_a", "name_b",
          blockLen = 10, maxDist = 1)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
        .orderBy("id_a", "id_b")
    }),

    // community detection where connected components is too coarse:
    // synchronous label propagation (min-label tie-break, 4 unrolled
    // rounds) over the REPEAT co-purchase graph (pairs sharing >= 2
    // orders — the single-shared-basket noise edges drop first)
    "q_lpa" -> ((s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      // bucket-collect pair expansion — identical pair multiset to the
      // self-join spelling, so the >= 2 shared-order weights are exact
      val e = graft.operators.Graph.coOccurrencePairs(op, "o", "p")
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
      graft.operators.Graph.labelPropagation(e, "src", "dst", rounds = 4)
        .orderBy("node")
    }),

    // reliability table for the heuristic quality score against the
    // lang=='en' label — q_quality_auc's companion: ranking quality
    // is AUC, score MEANING is calibration
    "q_calibration" -> ((s, d) =>
      graft.operators.DataChecks.calibration(
        Tables.documents(s, d)
          .select(graft.operators.TextOps.qualityScore(col("text")).as("score"),
            (col("lang") === "en").as("label")),
        "score", "label", bins = 10)),

    // balanced training-shard assignment: serpentine deal over the
    // size-ranked corpus — FFD-flat shard bytes with zero sequential
    // state (one skew-safe rank + row-local arithmetic)
    "q_shard_assign" -> ((s, d) =>
      graft.operators.Sampling.balancedShards(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", nShards = 8)
        .orderBy("doc_id")),

    // exact-quota stratified sample: ceil(n/5) docs per source in
    // md5(id) order — eval slices need exact sizes, not expectation
    "q_sample_exact" -> ((s, d) =>
      graft.operators.Sampling.exactStratifiedSample(
        Tables.documents(s, d), "source", "doc_id", num = 1, den = 5)
        .orderBy("source", "smp_rank")),

    // the scale shape: LSH-bucketed candidate neighborhoods (the
    // storable hyperplane index) replace the A×B cross — margins run
    // over retrieved neighbors exactly as CCMatrix runs them over
    // FAISS results. Same oracle machinery, bucket-replayed.
    "q_bitext_mine_scale" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Retrieval.bitextMineLsh(
          e.filter(col("label") < 5), e.filter(col("label") >= 5),
          k = 4, threshold = 1.02, dim = 64)
        .orderBy("id_a")
    }),

    // relational-core pivot: event counts spread into one column per
    // event type (the BI cross-tab shape). Explicit value list — an
    // implicit pivot would scan once just to discover columns; missing
    // cells coalesce to 0 so the relation is total.
    "q_pivot" -> ((s, d) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val p = Tables.events(s, d)
        .groupBy((col("user_id") % 50).as("ubucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("ubucket") +:
          types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy("ubucket")
    }),

    // ...and its inverse: unpivot (melt) back to (ubucket, event_type,
    // n) — null cells drop, so pivot∘unpivot returns exactly the
    // combinations present in the data
    "q_unpivot" -> ((s, d) => {
      val types = Seq("view", "click", "purchase", "signup", "error")
      val p = Tables.events(s, d)
        .groupBy((col("user_id") % 50).as("ubucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      p.unpivot(Array(col("ubucket")), types.map(col).toArray,
          "event_type", "n")
        .filter(col("n").isNotNull)
        .orderBy("ubucket", "event_type")
    }),

    // tokenizer fertility per language: tokens-per-word under the
    // corpus-TRAINED BPE (8 merges) — the standard tokenizer-equity
    // audit (a tokenizer that fragments one language 2× inflates its
    // training cost 2×). Vocab-sized dict join, integer sums.
    "q_bpe_fertility" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val learned = graft.operators.Bpe.trainMerges(docs, "text", merges = 8)
        .map(m => (m._2, m._3))
      val nTok = size(graft.operators.Bpe.tokensWith(col("text"), learned))
      val nWords = graft.operators.TextOps.tokenCount(col("text"))
      docs.select(col("lang"), nTok.cast("long").as("nt"),
          nWords.cast("long").as("nw"))
        .groupBy("lang")
        .agg(sum("nt").as("n_tokens"), sum("nw").as("n_words"))
        .select(col("lang"), col("n_tokens"), col("n_words"),
          graft.core.Round6.intRatio6(col("n_tokens"), col("n_words"))
            .as("fertility"))
        .orderBy("lang")
    }),

    // THE basic streaming shape, gated: watermarked tumbling-window
    // aggregation (1-day windows × event_type, count + DECIMAL sum) in
    // append mode — a far-future sentinel closes every real window.
    // Oracle = the batch GROUP BY date_trunc; counts and sums must
    // land exactly (DECIMAL sums are order- and batch-free).
    "q_stream_window" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("ts"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_window")
      val sink = s"stream_window_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        ev.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        // state partitions sized from the feed, not the batch default
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
        val q = src.withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_v"))
          .select(col("w.start").as("day"), col("event_type"), col("n"),
            col("sum_v"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          import s.implicits._
          Seq((new java.sql.Timestamp(4102444800000L), "sentinel", 0.0))
            .toDF("ts", "event_type", "value")
            .coalesce(1).write.mode("append").parquet(tmp.toString)
          q.processAllAvailable()
        } finally q.stop()
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).filter(col("event_type") =!= "sentinel")
        .orderBy("day", "event_type")
    }),

    // curriculum training order: quality tier (high → low) with a
    // deterministic md5 shuffle INSIDE each tier — the
    // quality-annealed data ordering, materialized by one skew-safe
    // globalRank (no single-partition window).
    "q_curriculum" -> ((s, d) => {
      val score = graft.operators.TextOps.qualityScore(col("text"))
      val tier = when(score >= 0.7, 2).when(score >= 0.4, 1).otherwise(0)
      val key = md5(concat(lit("cur0:"), col("doc_id").cast("string")))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), tier.as("tier"), key.as("key"))
      graft.core.SkewOps.globalRank(base,
          Seq(col("tier").desc, col("key"), col("doc_id")), rankCol = "pos")
        .select("doc_id", "tier", "pos")
        .orderBy("doc_id")
    })
  )

  /** Recursive directory copy — the checkpoint snapshot/restore
    * primitive the exactly-once redelivery fixtures share (the
    * q_stream_sink_v2 gate and its spec twin).
    */
  private[graft] def copyDirRec(src: java.nio.file.Path,
                                dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(src).iterator().asScala.toVector.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    }
  }

  /** Synchronous LPA oracle: `rounds` unrolled adopt-the-plurality
    * steps (ties to the smallest label) over the weighted co-purchase
    * graph, mirroring [[graft.operators.Graph.labelPropagation]].
    */
  private def lpaSql(rounds: Int, minW: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""c$r AS (SELECT n.node, l.lbl, count(*) AS c
         |  FROM neigh n JOIN l${r - 1} l ON n.nb = l.node GROUP BY 1, 2),
         |l$r AS MATERIALIZED (SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node
         |      ORDER BY c DESC, lbl) AS rn FROM c$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
       |  FROM lineitem),
       |e AS MATERIALIZED (SELECT a.p AS u, b.p AS v
       |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
       |  GROUP BY 1, 2 HAVING count(*) >= $minW),
       |neigh AS MATERIALIZED (SELECT u AS node, v AS nb FROM e
       |  UNION ALL SELECT v, u FROM e),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM neigh),
       |$steps
       |SELECT node, lbl FROM l$rounds ORDER BY node""".stripMargin
  }

  /** The v0→v1 merge / v1→v2 delete change feed, replayed
    * relationally — shared by the batch CDC gate and the tailing
    * stream gate (same history, same diffs).
    */
  private lazy val storeCdcOracleSql: String =
    """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
      |    source FROM documents),
      |ins AS (SELECT CAST(i AS BIGINT) AS doc_id
      |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
      |upd AS (SELECT doc_id FROM base WHERE doc_id % 10 = 0),
      |s1 AS (SELECT CAST(1 AS BIGINT) AS step, doc_id, 'insert' AS op
      |    FROM ins
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), doc_id, 'update' FROM upd),
      |v1keys AS (SELECT doc_id FROM base UNION SELECT doc_id FROM ins),
      |s2 AS (SELECT CAST(2 AS BIGINT) AS step, doc_id, 'delete' AS op
      |  FROM v1keys WHERE doc_id BETWEEN 200 AND 299)
      |SELECT step, doc_id, op FROM s1
      |UNION ALL SELECT step, doc_id, op FROM s2
      |ORDER BY step, doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_lpa" -> lpaSql(rounds = 4, minW = 2),

    // every stage replayed in one chain: canonicalization → cap window
    // → quality predicate → min-id fingerprint dedup → split buckets
    "q_corpus_build" ->
      s"""WITH $canonCtesSql,
         |wd AS (SELECT c.doc_id, d.n_chars, d.text, c.host AS domain
         |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
         |capped AS (SELECT doc_id, n_chars, text, domain FROM (
         |    SELECT *, row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id) AS rnk FROM wd)
         |  WHERE rnk <= 10),
         |q AS (SELECT * FROM capped WHERE ${TrainQueries.qualitySql} >= 0.5),
         |ddup AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn FROM q)
         |  WHERE rn = 1)
         |SELECT doc_id, domain, n_chars,
         |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 100 < 80 THEN 'train'
         |    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |      AS BIGINT) % 100 < 90 THEN 'val'
         |    ELSE 'test' END AS split
         |FROM ddup ORDER BY doc_id""".stripMargin,

    // the whole video pipeline replayed: constant-block frame pixels →
    // the 40×16→9×8 floor resize (sx = x·40 div 9, block bx = sx div 8,
    // by = y div 4) → dHash bits/packing → signature collapse →
    // shared-hash pair counts
    "q_video_neardup" ->
      """WITH cls AS (SELECT doc_id, doc_id % 25 AS c FROM documents),
        |fr AS (SELECT doc_id, c, unnest(range(0, 3)) AS f FROM cls),
        |g AS (SELECT doc_id, f, x.x, y.y,
        |    2 * (((c + f) * 37 + ((y.y // 4) * 5 + ((x.x * 40 // 9) // 8)) * 29)
        |      % 128) AS v
        |  FROM fr, (SELECT unnest(range(0, 9)) AS x) x,
        |       (SELECT unnest(range(0, 8)) AS y) y),
        |bits AS (SELECT a.doc_id, a.f, a.y, a.x,
        |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
        |  FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.f = b.f
        |    AND a.y = b.y AND b.x = a.x + 1
        |  WHERE a.x < 8),
        |h AS (SELECT doc_id, f,
        |    CAST(sum(CASE WHEN y >= 4 THEN CAST(bit AS BIGINT) << ((y-4)*8 + x)
        |      ELSE 0 END) AS BIGINT) AS hi,
        |    CAST(sum(CASE WHEN y < 4 THEN CAST(bit AS BIGINT) << (y*8 + x)
        |      ELSE 0 END) AS BIGINT) AS lo
        |  FROM bits GROUP BY 1, 2),
        |sig AS (SELECT doc_id, string_agg(
        |    CAST(f AS VARCHAR) || ':' || hi || ':' || lo, ';' ORDER BY f) AS sg
        |  FROM h GROUP BY 1),
        |reps AS (SELECT min(doc_id) AS id FROM sig GROUP BY sg),
        |rh AS (SELECT DISTINCT h.doc_id AS id, h.hi, h.lo
        |  FROM h JOIN reps ON h.doc_id = reps.id),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM rh a JOIN rh b ON a.hi = b.hi AND a.lo = b.lo AND a.id < b.id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // the id-derived PCM stream replayed: window w = f·65 div n,
    // energy = Σ|sample|, bit k = energy(k+1) > energy(k)
    "q_audio_hash" ->
      """WITH dims AS (SELECT doc_id, CAST(130 + doc_id % 7 AS BIGINT) AS n
        |  FROM documents),
        |fr AS (SELECT doc_id, n, unnest(range(0, n)) AS f FROM dims),
        |sm AS (SELECT doc_id, (f * 65) // n AS w,
        |    abs((doc_id * 31 + f) % 2001 - 1000) AS a FROM fr),
        |ag AS (SELECT doc_id, w, sum(a) AS e FROM sm GROUP BY 1, 2),
        |wins AS (SELECT doc_id, unnest(range(0, 65)) AS w FROM dims),
        |en AS (SELECT wins.doc_id, wins.w, coalesce(ag.e, 0) AS e
        |  FROM wins LEFT JOIN ag USING (doc_id, w)),
        |bits AS (SELECT a.doc_id, a.w AS k,
        |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
        |  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.w = a.w + 1
        |  WHERE a.w < 64),
        |h AS (SELECT doc_id,
        |    CAST(sum(CASE WHEN k >= 32 THEN CAST(bit AS BIGINT) << (k - 32)
        |      ELSE 0 END) AS BIGINT) AS ahash_hi,
        |    CAST(sum(CASE WHEN k < 32 THEN CAST(bit AS BIGINT) << k
        |      ELSE 0 END) AS BIGINT) AS ahash_lo
        |  FROM bits GROUP BY 1)
        |SELECT doc_id AS id, ahash_hi, ahash_lo FROM h ORDER BY id""".stripMargin,

    "q_set_ops" ->
      """WITH a AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fp FROM documents WHERE doc_id < 300),
        |b AS (SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fp FROM documents WHERE doc_id >= 200),
        |u AS (
        |  SELECT 'both' AS op, fp FROM (SELECT fp FROM a INTERSECT SELECT fp FROM b)
        |  UNION ALL
        |  SELECT 'only_a', fp FROM (SELECT fp FROM a EXCEPT SELECT fp FROM b))
        |SELECT op, CAST(count(*) AS BIGINT) AS n FROM u
        |GROUP BY op ORDER BY op""".stripMargin,

    "q_multimodal_gif" ->
      """WITH dims AS (SELECT doc_id, CAST(3 + doc_id % 5 AS BIGINT) AS w,
        |    CAST(2 + doc_id % 3 AS BIGINT) AS h FROM documents),
        |px AS (SELECT doc_id, unnest(range(0, w * h * 3)) AS i FROM dims)
        |SELECT doc_id AS id, CAST(i AS INT) AS pos,
        |  CAST((doc_id * 19 + i // 3) % 256 AS INT) AS val
        |FROM px ORDER BY id, pos""".stripMargin,

    // G.711 expansion replayed in SQL: x = ~u & 255,
    // t = (((x & 15) << 3) + 132) << ((x & 112) >> 4), ± (t − 132)
    "q_multimodal_mulaw" ->
      """WITH dims AS (SELECT doc_id, CAST(8 + doc_id % 5 AS BIGINT) AS nf
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM dims
        |  ),
        |kept AS (SELECT doc_id, f FROM fr WHERE f % 2 = 0),
        |u AS (SELECT doc_id, f, xor((doc_id * 13 + f) % 256, 255) AS x
        |  FROM kept),
        |lin AS (SELECT doc_id, f,
        |    (((x & 15) << 3) + 132) << ((x & 112) >> 4) AS t,
        |    x & 128 AS neg
        |  FROM u)
        |SELECT doc_id AS id, CAST(f AS INT) AS frame, 0 AS channel,
        |  CAST(CASE WHEN neg != 0 THEN 132 - t ELSE t - 132 END AS INT)
        |    AS sample
        |FROM lin ORDER BY id, frame, channel""".stripMargin,

    "q_event_transitions" ->
      """WITH nxt AS (SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pairs AS (SELECT from_type, to_type, count(*) AS n FROM nxt
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1)
        |SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
        |  CAST((p.n * 2000000 + t.t) // (t.t * 2) AS DOUBLE) / 1000000.0 AS p
        |FROM pairs p JOIN tot t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    "q4_exists" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q17_avg_qty" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem l
        |WHERE 5.0 * l.l_quantity *
        |    (SELECT count(*) FROM lineitem l2
        |     WHERE l2.l_partkey = l.l_partkey) <
        |  (SELECT sum(l3.l_quantity) FROM lineitem l3
        |   WHERE l3.l_partkey = l.l_partkey)""".stripMargin,

    // each event unions into its two covering window starts
    "q_hopping_window" ->
      """WITH e2 AS (
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start FROM events
        |  UNION ALL
        |  SELECT event_type,
        |    CAST(date_trunc('day', ts) - INTERVAL 1 DAY AS TIMESTAMP) FROM events)
        |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM e2 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_char_entropy" ->
      """WITH chars AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |counts AS (SELECT doc_id, c, count(*) AS n FROM chars GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS t FROM counts GROUP BY 1),
        |terms AS (SELECT counts.doc_id, tot.t,
        |    round((CAST(n AS DOUBLE) / t)
        |      * round(ln(CAST(n AS DOUBLE) / t), 6), 6) AS term
        |  FROM counts JOIN tot ON counts.doc_id = tot.doc_id),
        |per AS (SELECT doc_id, max(t) AS t,
        |    CAST(sum(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS s
        |  FROM terms GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(per.t, 0) AS BIGINT) AS n_chars_t,
        |  CASE WHEN per.t IS NULL THEN NULL ELSE round(-s, 6) END AS entropy
        |FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_winsorize" ->
      """WITH r AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS v,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY CAST(n_chars AS DOUBLE), doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents),
        |lo AS (SELECT source, max(CASE WHEN rk = CAST(ceil(n * 0.05) AS BIGINT)
        |    THEN v END) AS lo FROM r GROUP BY source),
        |hi AS (SELECT source, max(CASE WHEN rk = CAST(ceil(n * 0.95) AS BIGINT)
        |    THEN v END) AS hi FROM r GROUP BY source)
        |SELECT r.source, r.doc_id, r.v AS n_chars, lo.lo, hi.hi,
        |  least(greatest(r.v, lo.lo), hi.hi) AS v_wins
        |FROM r JOIN lo ON r.source = lo.source JOIN hi ON r.source = hi.source
        |ORDER BY r.source, r.doc_id""".stripMargin,

    "q_fuzzy_sorted" ->
      """WITH n AS (SELECT doc_id AS id,
        |    'entity ' || lpad(CAST(doc_id % 120 AS VARCHAR), 3, '0')
        |      || CASE WHEN doc_id % 3 = 0 THEN ' korp' ELSE ' corp' END AS name
        |  FROM documents),
        |r AS (SELECT id, name,
        |    CAST(row_number() OVER (ORDER BY name, id) AS BIGINT) AS rk FROM n)
        |SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= 3
        |WHERE levenshtein(a.name, b.name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q_table_stats" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name,
        |    CAST(min(l_orderkey) AS DOUBLE) AS min_v,
        |    CAST(max(l_orderkey) AS DOUBLE) AS max_v,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_nulls,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct
        |  FROM lineitem
        |  UNION ALL SELECT 'l_quantity', CAST(min(l_quantity) AS DOUBLE),
        |    CAST(max(l_quantity) AS DOUBLE),
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_quantity) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', CAST(min(l_extendedprice) AS DOUBLE),
        |    CAST(max(l_extendedprice) AS DOUBLE),
        |    CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_extendedprice) AS BIGINT) FROM lineitem
        |  UNION ALL SELECT 'l_discount', CAST(min(l_discount) AS DOUBLE),
        |    CAST(max(l_discount) AS DOUBLE),
        |    CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(count(DISTINCT l_discount) AS BIGINT) FROM lineitem)
        |ORDER BY col_name""".stripMargin,

    "q_fuzzy_join" ->
      """WITH a AS (SELECT doc_id AS id_a,
        |    'entity ' || lpad(CAST(doc_id % 120 AS VARCHAR), 3, '0')
        |      || ' corp' AS name_a
        |  FROM documents WHERE doc_id < 250),
        |b AS (SELECT doc_id AS id_b,
        |    'entity ' || lpad(CAST(doc_id % 120 AS VARCHAR), 3, '0')
        |      || CASE WHEN doc_id % 3 = 0 THEN ' korp' ELSE ' corp' END AS name_b
        |  FROM documents WHERE doc_id >= 250)
        |SELECT id_a, id_b, name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS INT) AS dist
        |FROM a JOIN b
        |  ON substr(lower(name_a), 1, 10) = substr(lower(name_b), 1, 10)
        |WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q_calibration" ->
      s"""WITH q AS (SELECT ${TrainQueries.qualitySql} AS score,
         |    (lang = 'en') AS label FROM documents)
         |SELECT bin, n,
         |  CAST((s_micro * 2 + n) // (n * 2) AS DOUBLE) / 1000000.0
         |    AS mean_score,
         |  CAST((pos * 2000000 + n) // (n * 2) AS DOUBLE) / 1000000.0
         |    AS frac_pos
         |FROM (
         |  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CAST(score AS DECIMAL(28,6))) * 1000000 AS BIGINT)
         |      AS s_micro,
         |    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS pos
         |  FROM q GROUP BY 1) ORDER BY bin""".stripMargin,
    "q_url_canon" ->
      s"""WITH $canonCtesSql
         |SELECT doc_id, url, canon, host FROM canon ORDER BY doc_id""".stripMargin,

    "q_domain_cap" ->
      s"""WITH $canonCtesSql,
         |wd AS (SELECT c.doc_id, d.n_chars, c.host AS domain
         |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
         |r AS (SELECT domain, doc_id, n_chars,
         |    CAST(row_number() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id) AS INT) AS rnk FROM wd)
         |SELECT domain, doc_id, n_chars, rnk FROM r WHERE rnk <= 10
         |ORDER BY domain, rnk""".stripMargin,

    "q_domain_stats" ->
      s"""WITH $canonCtesSql,
         |wd AS (SELECT c.doc_id, c.host AS domain, d.n_chars,
         |    ${TrainQueries.qualitySql} AS q,
         |    md5(regexp_replace(lower(trim(d.text)), '\\s+', ' ', 'g')) AS fp
         |  FROM canon c JOIN documents d ON c.doc_id = d.doc_id),
         |agg AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(sum(CAST(q AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS q_micro,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_fp
         |  FROM wd GROUP BY 1)
         |SELECT domain, n_docs, sum_chars,
         |  CAST((q_micro * 2 + n_docs) // (n_docs * 2) AS DOUBLE) / 1000000.0
         |    AS mean_quality,
         |  CAST(((n_docs - n_fp) * 2000000 + n_docs) // (n_docs * 2)
         |    AS DOUBLE) / 1000000.0 AS dup_rate
         |FROM agg ORDER BY domain""".stripMargin,

    // NOTE: the text guard lives in `toks` — referencing the base
    // column `text` inside `grams` (out of scope through the CTE)
    // silently re-correlates in DuckDB and runs ~1000× slower
    "q_novelty" ->
      """WITH toks AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0),
        |grams AS (SELECT doc_id,
        |    md5(concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
        |      t[i+4], t[i+5], t[i+6], t[i+7])) AS fp
        |  FROM toks, LATERAL unnest(range(1, len(t) - 6)) s(i)
        |  WHERE len(t) >= 8),
        |freq AS (SELECT fp, count(*) AS n FROM grams GROUP BY 1),
        |perdoc AS (SELECT doc_id, count(*) AS n_windows,
        |    sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS n_novel
        |  FROM grams JOIN freq USING (fp) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
        |  CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
        |  CASE WHEN p.n_windows IS NULL THEN NULL
        |    ELSE CAST((p.n_novel * 2000000 + p.n_windows)
        |      // (p.n_windows * 2) AS DOUBLE) / 1000000.0 END AS novelty
        |FROM documents d LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // the minhash-pair oracle replayed at threshold 0.5 (the verbatim
    // q_dedup_minhash chain runs at 0.8, so the gate re-derives it via
    // TrainQueries' shared fragment) crossed with the split assignment
    "q_split_leakage" ->
      s"""WITH mh AS (${TrainQueries.minhashPairsOracleSql(0.5)}),
         |s AS (SELECT doc_id,
         |    CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 < 80 THEN 'train'
         |      WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
         |        AS BIGINT) % 100 < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |  FROM documents)
         |SELECT mh.id_a, mh.id_b, mh.jaccard,
         |  sa.split AS split_a, sb.split AS split_b
         |FROM mh JOIN s sa ON mh.id_a = sa.doc_id
         |        JOIN s sb ON mh.id_b = sb.doc_id
         |WHERE sa.split <> sb.split
         |ORDER BY mh.id_a, mh.id_b""".stripMargin,

    "q_kcore" -> kcoreSql(k = 80, rounds = 8),

    // each version replayed relationally: v1 = anti-join + batch,
    // v2 = v1 minus the deleted key range. CASTs pin the BIGINTs
    // (DuckDB UNION widening gotcha).
    "q_store_timetravel" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id, CAST(i AS BIGINT)
        |    AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars, source
        |  FROM base WHERE doc_id % 10 = 0),
        |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |v1 AS (SELECT b.doc_id, b.n_chars, b.source FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM batch x WHERE x.doc_id = b.doc_id)
        |  UNION ALL SELECT doc_id, n_chars, source FROM batch),
        |v2 AS (SELECT * FROM v1 WHERE doc_id NOT BETWEEN 200 AND 299)
        |SELECT CAST(0 AS BIGINT) AS version, doc_id, n_chars, source FROM base
        |UNION ALL SELECT CAST(1 AS BIGINT), doc_id, n_chars, source FROM v1
        |UNION ALL SELECT CAST(2 AS BIGINT), doc_id, n_chars, source FROM v2
        |ORDER BY version, doc_id""".stripMargin,

    // compaction is content-invariant: the SAME final relation at both
    // version labels (4 = pre-compaction, 5 = post)
    "q_store_compact" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |apps AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars,
        |    'app' || CAST(k AS VARCHAR) AS source
        |  FROM (SELECT unnest(range(3)) AS k) ks,
        |    LATERAL (SELECT unnest(range(1000000000000 + 1000 * k,
        |      1000000000000 + 1000 * k + 50)) AS i) r),
        |fin AS (SELECT b.doc_id,
        |    CASE WHEN b.doc_id % 10 = 0 THEN b.n_chars + 1000
        |      ELSE b.n_chars END AS n_chars, b.source
        |  FROM base b
        |  UNION ALL SELECT doc_id, n_chars, source FROM apps)
        |SELECT CAST(4 AS BIGINT) AS version, doc_id, n_chars, source FROM fin
        |UNION ALL
        |SELECT CAST(5 AS BIGINT), doc_id, n_chars, source FROM fin
        |ORDER BY version, doc_id""".stripMargin,

    "q_store_scan" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents)
        |SELECT CAST(0 AS BIGINT) AS probe, doc_id, n_chars, source
        |  FROM base WHERE doc_id BETWEEN 0 AND 149
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), doc_id, n_chars, source
        |  FROM base WHERE n_chars BETWEEN 500 AND 2000
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, source
        |  FROM base WHERE doc_id BETWEEN 100 AND 399
        |    AND n_chars BETWEEN 500 AND 2000
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), doc_id, n_chars, source
        |  FROM base WHERE doc_id BETWEEN 5000000 AND 6000000
        |ORDER BY probe, doc_id""".stripMargin,

    // the V2 replay: probe 0 time-travels to v0 (pre-merge base);
    // probes 1-3 see the merged head (doc_id % 11 -> +200)
    "q_store_scan_v2" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |head AS (SELECT doc_id,
        |    n_chars + CASE WHEN doc_id % 11 = 0 THEN 200 ELSE 0 END
        |      AS n_chars, source
        |  FROM base)
        |SELECT CAST(0 AS BIGINT) AS probe, doc_id, n_chars, source
        |  FROM base WHERE doc_id BETWEEN 0 AND 149
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), doc_id, n_chars, source
        |  FROM head WHERE n_chars BETWEEN 500 AND 2000
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, source
        |  FROM head WHERE doc_id BETWEEN 100 AND 299
        |    AND n_chars BETWEEN 500 AND 2000
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), doc_id, n_chars, source
        |  FROM head WHERE doc_id BETWEEN 2000000000000 AND 2000001000000
        |ORDER BY probe, doc_id""".stripMargin,

    // both write paths produce the same appended relation; the
    // truncate leg is the filtered base alone
    "q_store_write_v2" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |app AS (SELECT doc_id, n_chars, source FROM base
        |  UNION ALL SELECT doc_id, n_chars, source FROM ins)
        |SELECT 'api' AS ref, doc_id, n_chars, source FROM app
        |UNION ALL SELECT 'trunc', doc_id, n_chars, source FROM base
        |  WHERE doc_id % 5 = 0
        |UNION ALL SELECT 'v2', doc_id, n_chars, source FROM app
        |ORDER BY ref, doc_id""".stripMargin,

    // two epochs land exactly once despite the checkpoint-restore
    // redelivery — same final relation as q_stream_once
    "q_stream_sink_v2" ->
      """WITH base AS (SELECT doc_id AS k, CAST(n_chars AS BIGINT)
        |    AS n_chars, source FROM documents)
        |SELECT k, n_chars, source, 3 AS n_versions FROM (
        |  SELECT k, n_chars, source FROM base
        |  UNION ALL SELECT k + 1000000000000, n_chars, source FROM base
        |  UNION ALL SELECT k + 2000000000000, n_chars, source FROM base)
        |ORDER BY k""".stripMargin,

    // the SQL lifecycle replayed relationally: head/ts = base + the
    // late insert, v1/tag = base, range = the pruned window; the
    // manifest-answered count rides along as a constant column
    "q_store_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |late AS (SELECT doc_id + 1000000000000 AS doc_id,
        |    n_chars + 7 AS n_chars, 'late' AS source
        |  FROM base WHERE doc_id % 10 = 0),
        |head AS (SELECT doc_id, n_chars, source FROM base
        |  UNION ALL SELECT doc_id, n_chars, source FROM late),
        |agg AS (SELECT COUNT(*) AS n FROM head)
        |SELECT 'head' AS ref, doc_id, n_chars, source,
        |    (SELECT n FROM agg) AS n_rows_agg FROM head
        |UNION ALL SELECT 'range', doc_id, n_chars, source,
        |    (SELECT n FROM agg) FROM head WHERE doc_id BETWEEN 100 AND 299
        |UNION ALL SELECT 'tag', doc_id, n_chars, source,
        |    (SELECT n FROM agg) FROM base
        |UNION ALL SELECT 'ts', doc_id, n_chars, source,
        |    (SELECT n FROM agg) FROM head
        |UNION ALL SELECT 'v1', doc_id, n_chars, source,
        |    (SELECT n FROM agg) FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // both update modes converge to the same relational state
    "q_store_mor_update" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |upd AS (SELECT doc_id,
        |    CASE WHEN doc_id % 100 = 7 THEN n_chars + 1000000
        |      ELSE n_chars END AS n_chars, source FROM base)
        |SELECT 'cow' AS ref, doc_id, n_chars, source FROM upd
        |UNION ALL SELECT 'mor', doc_id, n_chars, source FROM upd
        |ORDER BY ref, doc_id""".stripMargin,

    // WAP-via-branch replayed: head = base + both branch batches
    // (published by the fast-forward), v0 = base alone
    // the compacted table replayed: the sparse MOR update applied,
    // the two erasure batches' keys gone — compaction itself is
    // value-invisible by construction
    "q_store_compact_deletes" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 20 = 3 THEN n_chars + 1 ELSE n_chars END
        |    AS n_chars,
        |  source
        |FROM base
        |WHERE doc_id % 97 NOT IN (5, 6)
        |ORDER BY doc_id""".stripMargin,

    // the three-table mode matrix replayed: the property table took
    // BOTH updates (+31 delta, +7 conf-overridden COW), the two auto
    // tables took one each — path choice changes bytes written, never
    // values
    "q_store_mor_auto" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |m AS (SELECT 'prop' AS ref, doc_id,
        |    CASE WHEN doc_id % 50 = 9 THEN n_chars + 38 ELSE n_chars END
        |      AS n_chars, source FROM base
        |  UNION ALL SELECT 'wide', doc_id,
        |    CASE WHEN doc_id % 50 = 9 THEN n_chars + 31 ELSE n_chars END,
        |    source FROM base
        |  UNION ALL SELECT 'small', doc_id,
        |    CASE WHEN doc_id % 50 = 9 THEN n_chars + 31 ELSE n_chars END,
        |    source FROM base)
        |SELECT ref, doc_id, n_chars, source FROM m
        |ORDER BY ref, doc_id""".stripMargin,

    // the branch-fix WAP flow replayed relationally: base + the
    // staged far-range batch, the sparse fix applied to both (the
    // shift is a multiple of 100, so the modulo survives it)
    "q_store_branch_fix" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |staged AS (SELECT doc_id + 1000000000000 AS doc_id, n_chars,
        |    'staged' AS source FROM base WHERE doc_id % 7 = 3),
        |unioned AS (SELECT * FROM base UNION ALL SELECT * FROM staged)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 100 = 1 THEN n_chars + 55 ELSE n_chars END
        |    AS n_chars,
        |  source
        |FROM unioned ORDER BY doc_id""".stripMargin,

    "q_store_branch" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |head AS (SELECT doc_id, n_chars, source FROM base
        |  UNION ALL SELECT doc_id + 2000000000000, n_chars, 'b1' FROM base
        |  UNION ALL SELECT doc_id + 3000000000000, n_chars, 'b2' FROM base)
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM head
        |UNION ALL SELECT 'v0', doc_id, n_chars, source FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // snapshot expiry replayed: expiry is value-invisible on retained
    // versions BY CONSTRUCTION — head = the merged base + all three
    // slabs, rel (the tagged v3) = merged base + the first two
    "q_store_expire" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |merged AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 3 THEN n_chars + 11 ELSE n_chars END
        |      AS n_chars,
        |    source FROM base),
        |rel AS (SELECT * FROM merged
        |  UNION ALL SELECT doc_id + 2000000000000, n_chars, 'x1' FROM base
        |  UNION ALL SELECT doc_id + 3000000000000, n_chars, 'x2' FROM base),
        |head AS (SELECT * FROM rel
        |  UNION ALL SELECT doc_id + 4000000000000, n_chars, 'x3' FROM base)
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM head
        |UNION ALL SELECT 'rel', doc_id, n_chars, source FROM rel
        |ORDER BY ref, doc_id""".stripMargin,

    // the branch-drop lifecycle replayed: the dropped branch's batch
    // never publishes — head is base + the MAIN slab only, v0 is base
    // (drop + vacuum are value-invisible to every main read)
    "q_store_branch_drop" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |head AS (SELECT * FROM base
        |  UNION ALL SELECT doc_id + 2000000000000, n_chars, 'm1' FROM base)
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM head
        |UNION ALL SELECT 'v0', doc_id, n_chars, source FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // cluster-spec evolution replayed: evolution, backfill and
    // re-layout are value-invisible BY CONSTRUCTION — the relation is
    // base + the shifted slab, whole and band-filtered
    "q_store_cluster_evolve" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source, (doc_id * 37) % 1024 AS grp FROM documents),
        |un AS (SELECT doc_id, n_chars, source, grp FROM base
        |  UNION ALL SELECT doc_id + 1000000000000, n_chars, 'x1',
        |    ((doc_id + 1000000000000) * 37) % 1024 FROM base)
        |SELECT 'all' AS ref, doc_id, n_chars, grp, source FROM un
        |UNION ALL SELECT 'band', doc_id, n_chars, grp, source FROM un
        |  WHERE grp BETWEEN 0 AND 63
        |ORDER BY ref, doc_id""".stripMargin,

    // the overwrite replayed relationally (hi = half the max id, the
    // same scale-relative bound the gate computes): head = everything
    // outside [100, hi] plus the (even-id, shifted) replacement
    // batch; v0 is the pre-overwrite table
    "q_store_overwrite" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |b AS (SELECT CAST(MAX(doc_id) // 2 AS BIGINT) AS hi FROM base),
        |repl AS (SELECT doc_id, n_chars + 5000 AS n_chars, source
        |  FROM base, b WHERE doc_id BETWEEN 100 AND b.hi
        |    AND doc_id % 2 = 0),
        |head AS (SELECT doc_id, n_chars, source FROM base, b
        |    WHERE doc_id < 100 OR doc_id > b.hi
        |  UNION ALL SELECT doc_id, n_chars, source FROM repl)
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM head
        |UNION ALL SELECT 'v0', doc_id, n_chars, source FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // rename + widen replayed: head sees every era under the new
    // name and the wide type, v1 under its own declared view
    // the widened table replayed: head = the narrow-era rows
    // up-converted plus the wide-era insert; v1 = the narrow era cast
    // to the wide declaration
    "q_store_widen" ->
      """WITH base AS (SELECT doc_id,
        |    CAST(CAST(n_chars AS DECIMAL(9,2)) AS DECIMAL(18,4))
        |      AS score,
        |    CAST(DATE '2020-01-01' +
        |      CAST(doc_id % 365 AS INTEGER) AS TIMESTAMP) AS day
        |  FROM documents),
        |wide AS (SELECT doc_id + 3000000000000 AS doc_id,
        |    score + 1234567890.1234 AS score,
        |    TIMESTAMP '2021-03-14 01:02:03' AS day FROM base),
        |head AS (SELECT * FROM base UNION ALL SELECT * FROM wide)
        |SELECT 'head' AS ref, doc_id,
        |    CAST(score * 10000 AS BIGINT) AS score_e4, day FROM head
        |UNION ALL SELECT 'v1', doc_id, CAST(score * 10000 AS BIGINT),
        |    day FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    "q_store_rename" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
        |    source FROM documents),
        |head AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |      source AS origin FROM base
        |  UNION ALL SELECT doc_id + 1000000000000,
        |      CAST(n_chars AS BIGINT), 'late' FROM base
        |  UNION ALL SELECT doc_id + 2000000000000,
        |      CAST(n_chars AS BIGINT) + 5000000000, 'wide' FROM base)
        |SELECT 'head' AS ref, doc_id, n_chars, origin FROM head
        |UNION ALL SELECT 'v1', doc_id, CAST(n_chars AS BIGINT),
        |    source FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // the two SQL-delete states replayed relationally
    "q_store_delete_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents)
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM base
        |  WHERE doc_id < 200 AND doc_id NOT IN (5, 17, 40)
        |UNION ALL SELECT 'range', doc_id, n_chars, source FROM base
        |  WHERE doc_id < 200
        |ORDER BY ref, doc_id""".stripMargin,

    // images checked by VALUE: v1 updates carry both sides, deletes
    // carry the row as it stood when removed (v1 state for both the
    // range delete and the MOR key delete)
    "q_stream_cdc_images" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id, CAST(i AS BIGINT)
        |    AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |v1 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
        |      ELSE n_chars END AS n_chars, source FROM base
        |  UNION ALL SELECT doc_id, n_chars, source FROM ins),
        |everything AS (
        |  SELECT 1 AS step, doc_id, 'update_preimage' AS ct, n_chars,
        |      source FROM base WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 1, doc_id, 'update_postimage', n_chars + 1000,
        |      source FROM base WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 1, doc_id, 'insert', n_chars, source FROM ins
        |  UNION ALL SELECT 2, doc_id, 'delete', n_chars, source FROM v1
        |    WHERE doc_id BETWEEN 200 AND 299
        |  UNION ALL SELECT 3, doc_id, 'delete', n_chars, source FROM v1
        |    WHERE doc_id % 13 = 1 AND doc_id NOT BETWEEN 200 AND 299
        |      AND doc_id < 1000000000000)
        |SELECT CAST(step AS BIGINT) AS step, doc_id,
        |  ct AS "_change_type", n_chars, source
        |FROM everything
        |ORDER BY step, doc_id, "_change_type"""".stripMargin,

    // manifest-answered aggregates per probe; probe 2 is the empty
    // far range (count 0, null extrema), probe 3 the mid-file
    // fallback scan
    "q_store_agg_pushdown" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT CAST(0 AS BIGINT) AS probe, COUNT(*) AS cnt,
        |    MIN(doc_id) AS mn_k, MAX(doc_id) AS mx_k,
        |    MIN(n_chars) AS mn_n, MAX(n_chars) AS mx_n FROM base
        |UNION ALL SELECT CAST(1 AS BIGINT), COUNT(*), MIN(doc_id),
        |    MAX(doc_id), MIN(n_chars), MAX(n_chars)
        |  FROM base WHERE doc_id >= 0
        |UNION ALL SELECT CAST(2 AS BIGINT), COUNT(*), MIN(doc_id),
        |    MAX(doc_id), MIN(n_chars), MAX(n_chars)
        |  FROM base WHERE doc_id BETWEEN 2000000000000 AND 2000001000000
        |UNION ALL SELECT CAST(3 AS BIGINT), COUNT(*), MIN(doc_id),
        |    MAX(doc_id), MIN(n_chars), MAX(n_chars)
        |  FROM base WHERE doc_id BETWEEN 137 AND 411
        |ORDER BY probe""".stripMargin,

    // the maintenance cycle's final content: the table minus the
    // MOR-deleted keys (apply_deletes/compact/vacuum preserve content)
    "q_store_proc_sql" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 17 <> 3
        |ORDER BY doc_id""".stripMargin,

    // the z-order rewrite is row-identical; both probes replayed
    "q_store_zorder_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT 'all' AS ref, doc_id, n_chars FROM base
        |UNION ALL SELECT 'band', doc_id, n_chars FROM base
        |  WHERE n_chars BETWEEN 200 AND 300 AND doc_id BETWEEN 100 AND 399
        |ORDER BY ref, doc_id""".stripMargin,

    // per-version manifest row totals replayed: v0 = the table, v1
    // adds the far-range batch, v2's range delete drops its rows from
    // data files, v3's MOR delete touches no data file
    "q_store_meta_sql" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
        |  WHERE doc_id BETWEEN 200 AND 299)
        |SELECT CAST(0 AS BIGINT) AS version, c.n AS rows,
        |  CAST(0 AS BIGINT) AS delete_files FROM c
        |UNION ALL SELECT 1, c.n + 50, 0 FROM c
        |UNION ALL SELECT 2, c.n + 50 - r.n, 0 FROM c, r
        |UNION ALL SELECT 3, c.n + 50 - r.n, 1 FROM c, r
        |ORDER BY version""".stripMargin,

    // the TopN probes replayed with DuckDB's own ORDER BY ... LIMIT;
    // the plain-limit probe contributes only its (exact) count
    "q_store_limit" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |a AS (SELECT 'asc' AS ref, doc_id, n_chars FROM base
        |  ORDER BY doc_id LIMIT 40),
        |d AS (SELECT 'desc' AS ref, doc_id, n_chars FROM base
        |  ORDER BY doc_id DESC LIMIT 40)
        |SELECT ref, doc_id, n_chars FROM a
        |UNION ALL SELECT ref, doc_id, n_chars FROM d
        |UNION ALL SELECT 'cnt', CAST(70 AS BIGINT),
        |  CAST(NULL AS BIGINT)
        |ORDER BY ref, doc_id""".stripMargin,

    // the fact-dim join replayed relationally
    "q_store_join_prune" ->
      """WITH f AS (SELECT doc_id * 1000 AS k,
        |    CAST(n_chars AS BIGINT) AS n_chars, source FROM documents),
        |dim AS (SELECT doc_id * 1000 AS k,
        |    CASE WHEN doc_id % 2 = 0 THEN 'keep' ELSE 'drop' END AS tag
        |  FROM documents WHERE doc_id % 997 = 0 AND doc_id < 2000)
        |SELECT f.k, f.n_chars, f.source, d.tag
        |FROM f JOIN dim d ON f.k = d.k
        |WHERE d.tag = 'keep'
        |ORDER BY f.k""".stripMargin,

    // the UPDATE / MERGE / predicate-DELETE ladder replayed
    // relationally: v2 = the range update, head = after the merge
    // (matched rows flip to -original n_chars, merged rows insert)
    // minus the predicate delete
    "q_store_update_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 100 AND 299 THEN n_chars + 1000000
        |      ELSE n_chars END AS n_chars, source FROM base),
        |v3 AS (SELECT v2.doc_id,
        |    CASE WHEN v2.doc_id % 10 = 0 THEN -b.n_chars
        |      ELSE v2.n_chars END AS n_chars, v2.source
        |  FROM v2 JOIN base b ON v2.doc_id = b.doc_id
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, doc_id, 'merged'
        |  FROM base WHERE doc_id % 50 = 0),
        |head AS (SELECT * FROM v3
        |  WHERE NOT (source = 'merged' AND doc_id % 100 = 0))
        |SELECT 'head' AS ref, doc_id, n_chars, source FROM head
        |UNION ALL SELECT 'v2', doc_id, n_chars, source FROM v2
        |ORDER BY ref, doc_id""".stripMargin,

    // the storage-partitioned join replayed relationally
    "q_store_spj" ->
      """WITH fa AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |fb AS (SELECT doc_id, CAST(n_chars AS BIGINT) * 7 AS score
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT a.doc_id, a.n_chars, a.source, b.score
        |FROM fa a JOIN fb b ON a.doc_id = b.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // the auto-broadcast fact-dim join replayed relationally
    "q_store_stats_bcast" ->
      """WITH fact AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |dim AS (SELECT doc_id,
        |    CASE WHEN doc_id % 32 = 0 THEN 'even' ELSE 'odd' END
        |      AS bucket_tag
        |  FROM documents WHERE doc_id < 4096 AND doc_id % 16 = 0)
        |SELECT f.doc_id, f.n_chars, f.source, d.bucket_tag
        |FROM fact f JOIN dim d ON f.doc_id = d.doc_id
        |ORDER BY f.doc_id""".stripMargin,

    // the V2 point reads: every stored key divisible by 97000
    "q_store_lookup_v2" ->
      """SELECT 'present' AS ref, doc_id * 1000 AS k,
        |  CAST(n_chars AS BIGINT) AS n_chars, source
        |FROM documents WHERE (doc_id * 1000) % 97000 = 0
        |ORDER BY ref, k""".stripMargin,

    // the poisoned batch never lands: final state = base + the clean
    // merge only
    "q_store_wap" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars, source
        |  FROM base WHERE doc_id % 10 = 0),
        |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT b.doc_id, b.n_chars, b.source FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM batch x WHERE x.doc_id = b.doc_id)
        |UNION ALL SELECT doc_id, n_chars, source FROM batch
        |ORDER BY doc_id""".stripMargin,

    // interleaved two-writer history: all three slices survive the
    // rebase, the corrections land only via the re-staged merge, and
    // exactly five versions commit (v0 init, v1 B-append, v2 A-rebase,
    // v3 B-append, v4 re-merge — the refused publish is NOT one)
    "q_store_concurrent" ->
      """WITH fin AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) +
        |      CASE WHEN doc_id % 3 = 0 THEN 1000 ELSE 0 END AS n_chars,
        |    source FROM documents
        |  UNION ALL
        |  SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i))
        |SELECT doc_id, n_chars, source, 5 AS n_versions FROM fin
        |ORDER BY doc_id""".stripMargin,

    // v2 = everything minus the deleted keys (the absent 5e12 range
    // never mattered); v3 = v2 plus the re-inserted subset
    "q_store_mor" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |v2 AS (SELECT * FROM base WHERE doc_id % 7 <> 3
        |  UNION ALL SELECT * FROM ins
        |  WHERE doc_id NOT IN (1000000000001, 1000000000002)),
        |back AS (SELECT doc_id, n_chars + 5000 AS n_chars, 'back' AS source
        |    FROM base WHERE doc_id % 21 = 3
        |  UNION ALL SELECT CAST(1000000000001 AS BIGINT),
        |    CAST(0 AS BIGINT), 'back'),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM back)
        |SELECT CAST(2 AS BIGINT) AS version, doc_id, n_chars, source FROM v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), doc_id, n_chars, source FROM v3
        |ORDER BY version, doc_id""".stripMargin,

    // probe 0 = the whole table (the rewrite is row-identical),
    // probes 1-2 = band and conjunctive-box filters
    "q_store_zorder" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents)
        |SELECT CAST(0 AS BIGINT) AS probe, doc_id, n_chars, source FROM base
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), doc_id, n_chars, source FROM base
        |  WHERE n_chars BETWEEN 200 AND 300
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, source FROM base
        |  WHERE doc_id BETWEEN 100 AND 399
        |    AND n_chars BETWEEN 200 AND 300
        |ORDER BY probe, doc_id""".stripMargin,

    // the mixed-layout table: base slab + the key-shifted z-ordered
    // slab (layout never changes ROWS — the oracle replays the union)
    "q_store_specs" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |allr AS (SELECT * FROM base
        |  UNION ALL
        |  SELECT doc_id + 5000000000000, n_chars, source FROM base)
        |SELECT CAST(0 AS BIGINT) AS probe, doc_id, n_chars, source FROM allr
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), doc_id, n_chars, source FROM allr
        |  WHERE n_chars BETWEEN 200 AND 300
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, source FROM allr
        |  WHERE doc_id BETWEEN 5000000000100 AND 5000000000399
        |ORDER BY probe, doc_id""".stripMargin,

    // four append windows: 0→1 = batch a1, 0→2 = a1+a2, 1→2 = a2,
    // 2→2 = empty (schema-only)
    "q_store_incr" ->
      """WITH a1 AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 997 AS BIGINT) AS n_chars, 'a1' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |a2 AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i % 991 AS BIGINT) AS n_chars, 'a2' AS source
        |  FROM (SELECT unnest(range(2000000000000, 2000000000030)) AS i))
        |SELECT 'w01' AS win, doc_id, n_chars, source FROM a1
        |UNION ALL SELECT 'w02', doc_id, n_chars, source FROM a1
        |UNION ALL SELECT 'w02', doc_id, n_chars, source FROM a2
        |UNION ALL SELECT 'w12', doc_id, n_chars, source FROM a2
        |ORDER BY win, doc_id""".stripMargin,

    // v1 = base minus the first erasure batch; v2 = v1 minus the
    // second (idempotent on any overlap)
    "q_stream_mor" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v1 AS (SELECT * FROM base WHERE doc_id % 7 <> 3),
        |v2 AS (SELECT * FROM v1 WHERE doc_id % 11 <> 5)
        |SELECT CAST(1 AS BIGINT) AS version, doc_id, n_chars, source FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, source FROM v2
        |ORDER BY version, doc_id""".stripMargin,

    // rel = the tagged v0 (pristine base, vacuum-proof); head = the
    // corrected table minus the range delete; exactly two manifests
    // survive the keepLast=1 vacuum (the tag + head)
    "q_store_tag" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |head AS (SELECT doc_id,
        |    n_chars + CASE WHEN doc_id % 10 = 0 THEN 1000 ELSE 0 END
        |      AS n_chars, source
        |  FROM base WHERE doc_id NOT BETWEEN 200 AND 299)
        |SELECT 'head' AS ref, doc_id, n_chars, source, 2 AS n_versions
        |  FROM head
        |UNION ALL
        |SELECT 'rel', doc_id, n_chars, source, 2 FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // the store after two appended batches, each landed exactly once
    // despite full redelivery — base ∪ (+1e12) ∪ (+2e12), 3 versions
    "q_stream_once" ->
      """WITH base AS (SELECT doc_id AS k, CAST(n_chars AS BIGINT)
        |    AS n_chars, source FROM documents)
        |SELECT k, n_chars, source, 3 AS n_versions FROM (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT k + 1000000000000, n_chars, source FROM base
        |  UNION ALL
        |  SELECT k + 2000000000000, n_chars, source FROM base)
        |ORDER BY k""".stripMargin,

    // row-identical before and after the byte compaction — both
    // versions are the same relation (base docs + narrow markers)
    "q_store_compact_bytes" ->
      """WITH base AS (SELECT doc_id AS k, text, source FROM documents),
        |ins AS (SELECT doc_id + 1000000000000 AS k, 'm' AS text, source
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, 'm', source FROM documents),
        |allr AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |SELECT 'post' AS ref, k, text, source FROM allr
        |UNION ALL
        |SELECT 'pre', k, text, source FROM allr
        |ORDER BY ref, k""".stripMargin,

    // pre = the v0 rows at the probed keys; post = the same minus the
    // merge-on-read erasure (doc_id % 194 == 0) — bloom pruning is a
    // read-path optimization, invisible to the relation
    "q_store_lookup" ->
      """WITH base AS (SELECT doc_id * 1000 AS k,
        |    CAST(n_chars AS BIGINT) AS n_chars, source FROM documents),
        |pre AS (SELECT * FROM base WHERE k % 97000 = 0),
        |post AS (SELECT * FROM pre WHERE k % 194000 <> 0)
        |SELECT 'post' AS ref, k, n_chars, source FROM post
        |UNION ALL
        |SELECT 'pre', k, n_chars, source FROM pre
        |ORDER BY ref, k""".stripMargin,

    // head = the rolled-back v1 (merge applied, erasure undone);
    // bad = v2 (the accidental range delete) — both replayed
    "q_store_rollback" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v1 AS (SELECT doc_id,
        |    n_chars + CASE WHEN doc_id % 10 = 0 THEN 1000 ELSE 0 END
        |      AS n_chars, source
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE doc_id NOT BETWEEN 100 AND 399)
        |SELECT 'bad' AS ref, doc_id, n_chars, source, 4 AS n_versions
        |  FROM v2
        |UNION ALL
        |SELECT 'head', doc_id, n_chars, source, 4 FROM v1
        |ORDER BY ref, doc_id""".stripMargin,

    // the Hadoop-substrate lifecycle: v1 = the keyed merge, v2 = v1
    // minus the erased keys (merge-on-read), head = v2 materialized
    // (row-identical by contract)
    "q_store_fsseam" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v1 AS (SELECT doc_id,
        |    n_chars + CASE WHEN doc_id % 7 = 0 THEN 500 ELSE 0 END
        |      AS n_chars, source
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE doc_id % 13 <> 0)
        |SELECT 'head' AS ref, doc_id, n_chars, source, 4 AS n_versions
        |  FROM v2
        |UNION ALL
        |SELECT 'mor', doc_id, n_chars, source, 4 FROM v2
        |ORDER BY ref, doc_id""".stripMargin,

    // the catalog-arbitrated lifecycle: same v1/v2 algebra as the
    // fsseam gate (the catalog changes WHO arbitrates commits, never
    // what a version contains) plus the tag pinning v0 = base
    "q_store_catalog" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v1 AS (SELECT doc_id,
        |    n_chars + CASE WHEN doc_id % 7 = 0 THEN 500 ELSE 0 END
        |      AS n_chars, source
        |  FROM base),
        |v2 AS (SELECT * FROM v1 WHERE doc_id % 13 <> 0)
        |SELECT 'head' AS ref, doc_id, n_chars, source, 4 AS n_versions
        |  FROM v2
        |UNION ALL
        |SELECT 'mor', doc_id, n_chars, source, 4 FROM v2
        |UNION ALL
        |SELECT 'tag', doc_id, n_chars, source, 4 FROM base
        |ORDER BY ref, doc_id""".stripMargin,

    // the packed key replays arithmetically (statid·2^51 + tfrom);
    // head = merged-and-erased table, scan7/window = its slices
    "q_store_obskey" ->
      """WITH obs AS (
        |  SELECT user_id % 10 AS statid, epoch_us(ts) AS tfrom,
        |    count(*) AS n_ev, max(event_id) AS max_ev
        |  FROM events GROUP BY 1, 2),
        |head AS (
        |  SELECT statid, tfrom,
        |    CAST(n_ev + CASE WHEN statid = 3 AND (tfrom // 1000000) % 5 = 0
        |      THEN 100 ELSE 0 END AS BIGINT) AS n_ev,
        |    max_ev
        |  FROM obs WHERE statid <> 5),
        |lab AS (
        |  SELECT 'head' AS ref, * FROM head
        |  UNION ALL SELECT 'scan7', * FROM head WHERE statid = 7
        |  UNION ALL SELECT 'window', * FROM head
        |    WHERE statid BETWEEN 2 AND 4
        |      AND tfrom BETWEEN 1704844800000000 AND 1705708799999999)
        |SELECT ref, statid * 2251799813685248 + tfrom AS k,
        |  statid AS d_statid, tfrom AS d_tfrom, n_ev, max_ev
        |FROM lab ORDER BY ref, k""".stripMargin,

    // v1 = the evolved schema over unchanged bytes (tag NULL
    // everywhere); v2 = the merge result with tag populated on
    // exactly the batch rows
    "q_store_evolve" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id,
        |    CAST(i AS BIGINT) AS n_chars, 'ins' AS tag
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |upd AS (SELECT doc_id, n_chars + 1000 AS n_chars,
        |    't' || CAST(doc_id % 7 AS VARCHAR) AS tag
        |  FROM base WHERE doc_id % 10 = 0),
        |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |v2 AS (SELECT b.doc_id, b.n_chars, CAST(NULL AS VARCHAR) AS tag
        |  FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM batch x WHERE x.doc_id = b.doc_id)
        |  UNION ALL SELECT doc_id, n_chars, tag FROM batch)
        |SELECT CAST(1 AS BIGINT) AS version, doc_id, n_chars,
        |  CAST(NULL AS VARCHAR) AS tag FROM base
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), doc_id, n_chars, tag FROM v2
        |ORDER BY version, doc_id""".stripMargin,

    "q_store_count_range" ->
      """SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS range_id, CAST(0 AS BIGINT) AS lo,
        |    (SELECT count(*) FROM documents
        |     WHERE doc_id BETWEEN 0 AND 99) AS cnt
        |  UNION ALL SELECT CAST(1 AS BIGINT), CAST(100 AS BIGINT),
        |    (SELECT count(*) FROM documents
        |     WHERE doc_id BETWEEN 100 AND 349)
        |  UNION ALL SELECT CAST(2 AS BIGINT), CAST(0 AS BIGINT),
        |    (SELECT count(*) FROM documents)
        |  UNION ALL SELECT CAST(3 AS BIGINT), CAST(5000000 AS BIGINT),
        |    (SELECT count(*) FROM documents
        |     WHERE doc_id BETWEEN 5000000 AND 6000000))
        |ORDER BY range_id""".stripMargin,

    // quality filter → min-id fingerprint survivor → serpentine over
    // (n_chars DESC, doc_id) → per-shard aggregates
    "q_release_pipeline" ->
      s"""WITH q AS (SELECT doc_id, n_chars, source, text FROM documents
         |  WHERE ${TrainQueries.qualitySql} >= 0.5),
         |fp AS (SELECT doc_id, n_chars, source,
         |    row_number() OVER (PARTITION BY
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |  FROM q),
         |s AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, source
         |  FROM fp WHERE rn = 1),
         |r AS (SELECT doc_id, n_chars, source,
         |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
         |      AS BIGINT) - 1 AS r0 FROM s),
         |a AS (SELECT source, n_chars,
         |    CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
         |         ELSE 7 - (r0 % 8) END AS shard FROM r)
         |SELECT CAST(shard AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
         |FROM a GROUP BY 1 ORDER BY shard""".stripMargin,

    "q_shard_assign" ->
      """WITH r AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
        |      AS BIGINT) - 1 AS r0
        |  FROM documents)
        |SELECT doc_id, n_chars,
        |  CAST(CASE WHEN (r0 // 8) % 2 = 0 THEN r0 % 8
        |       ELSE 7 - (r0 % 8) END AS BIGINT) AS shard
        |FROM r ORDER BY doc_id""".stripMargin,

    // step 1 (v0→v1): merged keys are updates where the payload
    // actually changed, inserts where new; step 2 (v1→v2): every v1
    // key in the deleted range. SHARED with q_stream_cdc: the tailed
    // feed is the same per-version diff relation.
    "q_store_changes" -> storeCdcOracleSql,
    "q_stream_cdc" -> storeCdcOracleSql,

    // the rename-crossing feed replayed by VALUE: step 2's pre-images
    // carry the old-era payloads under the new name, step 3 deletes
    // the range at its v2 state
    "q_stream_cdc_rename" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
        |      ELSE n_chars END AS n_chars,
        |    CASE WHEN doc_id % 10 = 0 THEN 'upd' ELSE source END AS origin
        |  FROM base),
        |ev AS (
        |  SELECT 2 AS step, doc_id, 'update_preimage' AS ct, n_chars,
        |      source AS origin FROM base WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 2, doc_id, 'update_postimage', n_chars + 1000,
        |      'upd' FROM base WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 3, doc_id, 'delete', n_chars, origin FROM v2
        |    WHERE doc_id BETWEEN 200 AND 299)
        |SELECT CAST(step AS BIGINT) AS step, doc_id,
        |  ct AS "_change_type", n_chars, origin
        |FROM ev
        |ORDER BY step, doc_id, "_change_type"""".stripMargin,

    // the BATCH change read replayed: step 1 inserts every base row,
    // step 2 updates the COW range, step 3 (the rename) emits
    // NOTHING, step 4 updates the modulo keys at their step-2 values
    // with pre-rename payloads under the view's 'origin' name, step 5
    // deletes the range at its step-4 state; the op feed carries no
    // payload
    "q_store_changes_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source AS origin FROM documents),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1000
        |      ELSE n_chars END AS n_chars, origin FROM base),
        |v4 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 7
        |      ELSE n_chars END AS n_chars, origin FROM v2),
        |ops AS (
        |  SELECT 1 AS step, doc_id, 'insert' AS op FROM base
        |  UNION ALL SELECT 2, doc_id, 'update' FROM base
        |    WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 4, doc_id, 'update' FROM base
        |    WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 5, doc_id, 'delete' FROM base
        |    WHERE doc_id >= 400),
        |imgs AS (
        |  SELECT 1 AS step, doc_id, 'insert' AS op, n_chars, origin
        |    FROM base
        |  UNION ALL SELECT 2, doc_id, 'update_preimage', n_chars, origin
        |    FROM base WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 2, doc_id, 'update_postimage', n_chars, origin
        |    FROM v2 WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 4, doc_id, 'update_preimage', n_chars, origin
        |    FROM v2 WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 4, doc_id, 'update_postimage', n_chars, origin
        |    FROM v4 WHERE doc_id % 10 = 0
        |  UNION ALL SELECT 5, doc_id, 'delete', n_chars, origin FROM v4
        |    WHERE doc_id >= 400)
        |SELECT 'img' AS ref, CAST(step AS BIGINT) AS step, doc_id, op,
        |    n_chars, origin FROM imgs
        |UNION ALL SELECT 'op', CAST(step AS BIGINT), doc_id, op,
        |    CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR) FROM ops
        |ORDER BY ref, step, doc_id, op""".stripMargin,

    // the SQL-name feed replayed: step 1 inserts every base row,
    // step 2 updates exactly the COW-rewritten range (pre AND post
    // images), step 3 deletes the range-dropped rows at their v2
    // values; the op feed carries no payload
    "q_stream_cdc_sql" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |  FROM documents),
        |ops AS (
        |  SELECT 1 AS step, doc_id, 'insert' AS op FROM base
        |  UNION ALL SELECT 2, doc_id, 'update' FROM base
        |    WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 3, doc_id, 'delete' FROM base
        |    WHERE doc_id >= 400),
        |imgs AS (
        |  SELECT 1 AS step, doc_id, 'insert' AS op, n_chars FROM base
        |  UNION ALL SELECT 2, doc_id, 'update_preimage', n_chars
        |    FROM base WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 2, doc_id, 'update_postimage', n_chars + 1000
        |    FROM base WHERE doc_id BETWEEN 100 AND 199
        |  UNION ALL SELECT 3, doc_id, 'delete',
        |      CASE WHEN doc_id BETWEEN 100 AND 199 THEN n_chars + 1000
        |        ELSE n_chars END
        |    FROM base WHERE doc_id >= 400)
        |SELECT 'img' AS ref, CAST(step AS BIGINT) AS step, doc_id, op,
        |    n_chars FROM imgs
        |UNION ALL SELECT 'op', CAST(step AS BIGINT), doc_id, op,
        |    CAST(NULL AS BIGINT) FROM ops
        |ORDER BY ref, step, doc_id, op""".stripMargin,

    // the pipeline's transform replayed relationally over backfill +
    // tailed append
    "q_stream_pipe" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) * 2 AS n2 FROM documents
        |UNION ALL
        |SELECT CAST(i AS BIGINT) AS doc_id, CAST(i % 991 AS BIGINT) * 2
        |    AS n2
        |  FROM (SELECT unnest(range(1000000000000, 1000000000030)) AS i)
        |ORDER BY doc_id""".stripMargin,

    // the replica equals the source head: base upserted by the merge,
    // minus the range delete, minus the MOR key delete
    "q_stream_replica" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |ins AS (SELECT CAST(i AS BIGINT) AS doc_id, CAST(i AS BIGINT)
        |    AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |v1 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000
        |      ELSE n_chars END AS n_chars, source FROM base
        |  UNION ALL SELECT doc_id, n_chars, source FROM ins)
        |SELECT doc_id, n_chars, source FROM v1
        |WHERE doc_id NOT BETWEEN 200 AND 299
        |  AND NOT (doc_id % 13 = 1 AND doc_id < 1000000000000)
        |ORDER BY doc_id""".stripMargin,

    // backfill (doc_id % 3 = 0) + tailed appends (% 3 = 1, far range):
    // the streamed table content IS the final table content
    "q_stream_table" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, source
        |FROM documents WHERE doc_id % 3 IN (0, 1)
        |UNION ALL
        |SELECT CAST(i AS BIGINT) AS doc_id, CAST(i % 997 AS BIGINT)
        |    AS n_chars, 'ins' AS source
        |  FROM (SELECT unnest(range(1000000000000, 1000000000040)) AS i)
        |ORDER BY doc_id""".stripMargin,

    // v1 = base upserted by batch1, v2 = v1 upserted by batch2 —
    // each version replayed relationally, all three unioned
    "q_stream_snapshot" ->
      """WITH base AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |    source FROM documents),
        |b1 AS (SELECT doc_id, n_chars + 1000 AS n_chars, source
        |  FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT CAST(i AS BIGINT), CAST(i AS BIGINT), 'ins'
        |  FROM (SELECT unnest(range(1000000000000, 1000000000050)) AS i)),
        |v1 AS (SELECT b.doc_id, b.n_chars, b.source FROM base b
        |  WHERE NOT EXISTS (SELECT 1 FROM b1 x WHERE x.doc_id = b.doc_id)
        |  UNION ALL SELECT doc_id, n_chars, source FROM b1),
        |b2 AS (SELECT doc_id, n_chars + 5000 AS n_chars, source
        |  FROM base WHERE doc_id % 20 = 0),
        |v2 AS (SELECT v.doc_id, v.n_chars, v.source FROM v1 v
        |  WHERE NOT EXISTS (SELECT 1 FROM b2 x WHERE x.doc_id = v.doc_id)
        |  UNION ALL SELECT doc_id, n_chars, source FROM b2)
        |SELECT CAST(0 AS BIGINT) AS version, doc_id, n_chars, source FROM base
        |UNION ALL SELECT CAST(1 AS BIGINT), doc_id, n_chars, source FROM v1
        |UNION ALL SELECT CAST(2 AS BIGINT), doc_id, n_chars, source FROM v2
        |ORDER BY version, doc_id""".stripMargin,

    "q_store_merge" ->
      s"""WITH ${TsaQueries.obsSql},
         |upd AS (SELECT tfrom, statid, seid, seval + 1.0 AS seval
         |  FROM obs WHERE statid = 0 AND day(tfrom) % 5 = 0),
         |ins AS (SELECT DISTINCT tfrom, CAST(1 AS BIGINT) AS statid,
         |    CAST(9 AS BIGINT) AS seid, 1.5 AS seval
         |  FROM obs WHERE statid = 1 AND day(tfrom) % 5 = 0),
         |batch AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
         |keep AS (SELECT o.tfrom, o.statid, o.seid, o.seval FROM obs o
         |  LEFT JOIN batch b ON o.tfrom = b.tfrom AND o.statid = b.statid
         |    AND o.seid = b.seid
         |  WHERE b.tfrom IS NULL)
         |SELECT tfrom, statid, seid, seval FROM keep
         |UNION ALL SELECT tfrom, statid, seid, seval FROM batch
         |ORDER BY statid, seid, tfrom""".stripMargin,

    // A×B cosine replay (the shared candidate-cosine fragment), both
    // kNN windows, DECIMAL top-k means, ratio margin — all round6
    "q_bitext_mine" ->
      s"""WITH cand AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a, embeddings b
         |  WHERE a.label < 5 AND b.label >= 5),
         |${TrainQueries.cosineOverCandidatesSql("id_a", "id_b")},
         |r AS (SELECT id_a, id_b, cos_sim,
         |    row_number() OVER (PARTITION BY id_a
         |      ORDER BY cos_sim DESC, id_b) AS rk_a,
         |    row_number() OVER (PARTITION BY id_b
         |      ORDER BY cos_sim DESC, id_a) AS rk_b
         |  FROM sims),
         |aa AS (SELECT id_a, CAST(sum(CAST(cos_sim AS DECIMAL(28,6)))
         |    AS DOUBLE) AS sum_a FROM r WHERE rk_a <= 4 GROUP BY 1),
         |bb AS (SELECT id_b, CAST(sum(CAST(cos_sim AS DECIMAL(28,6)))
         |    AS DOUBLE) AS sum_b FROM r WHERE rk_b <= 4 GROUP BY 1),
         |m AS (SELECT r.id_a, r.id_b, r.cos_sim,
         |    round(r.cos_sim * 8.0 / (aa.sum_a + bb.sum_b), 6) AS margin
         |  FROM r JOIN aa USING (id_a) JOIN bb USING (id_b)
         |  WHERE r.rk_a = 1)
         |SELECT id_a, id_b, cos_sim, margin FROM m
         |WHERE margin >= 1.02 ORDER BY id_a""".stripMargin,

    "q_store_delete" ->
      s"""WITH ${TsaQueries.obsSql}
         |SELECT tfrom, statid, seid, seval FROM obs
         |WHERE NOT (statid = 3 AND day(tfrom) % 7 = 0)
         |ORDER BY statid, seid, tfrom""".stripMargin,

    // two sequential merges replayed: batch1 (corrections + the new
    // sensor), then batch2 re-correcting a subset of batch1's keys
    "q_stream_merge" ->
      s"""WITH ${TsaQueries.obsSql},
         |b1 AS (
         |  SELECT tfrom, statid, seid, seval + 1.0 AS seval
         |  FROM obs WHERE statid = 0 AND day(tfrom) % 5 = 0
         |  UNION ALL
         |  SELECT DISTINCT tfrom, CAST(1 AS BIGINT), CAST(9 AS BIGINT), 1.5
         |  FROM obs WHERE statid = 1 AND day(tfrom) % 5 = 0),
         |s1 AS (
         |  SELECT o.tfrom, o.statid, o.seid, o.seval FROM obs o
         |  LEFT JOIN b1 ON o.tfrom = b1.tfrom AND o.statid = b1.statid
         |    AND o.seid = b1.seid
         |  WHERE b1.tfrom IS NULL
         |  UNION ALL SELECT tfrom, statid, seid, seval FROM b1),
         |b2 AS (
         |  SELECT tfrom, statid, seid, seval + 3.0 AS seval
         |  FROM obs WHERE statid = 0 AND day(tfrom) % 10 = 0),
         |s2 AS (
         |  SELECT s1.tfrom, s1.statid, s1.seid, s1.seval FROM s1
         |  LEFT JOIN b2 ON s1.tfrom = b2.tfrom AND s1.statid = b2.statid
         |    AND s1.seid = b2.seid
         |  WHERE b2.tfrom IS NULL
         |  UNION ALL SELECT tfrom, statid, seid, seval FROM b2)
         |SELECT tfrom, statid, seid, seval FROM s2
         |ORDER BY statid, seid, tfrom""".stripMargin,

    "q_sample_exact" ->
      """WITH r AS (SELECT source, doc_id,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |      AS smp_rank,
        |    CAST((count(*) OVER (PARTITION BY source) * 1 + 4) // 5
        |      AS BIGINT) AS quota
        |  FROM documents)
        |SELECT source, doc_id, smp_rank, quota FROM r
        |WHERE smp_rank <= quota ORDER BY source, smp_rank""".stripMargin,

    // the 96 shared hyperplanes replayed for both slices; candidates =
    // bucket-sharing cross-slice pairs; margin machinery identical to
    // the exact form but over the candidate neighborhoods
    "q_bitext_mine_scale" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 96)) i, unnest(${TrainQueries.planeLists(96)}) pl),
         |ea0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings WHERE label < 5),
         |eb0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings WHERE label >= 5),
         |proja AS (SELECT vec_id, i // 8 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 8 AS INT) ELSE 0 END pbit
         |  FROM ea0 CROSS JOIN planes),
         |buka AS (SELECT vec_id, t, sum(pbit) bucket FROM proja GROUP BY 1, 2),
         |projb AS (SELECT vec_id, i // 8 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 8 AS INT) ELSE 0 END pbit
         |  FROM eb0 CROSS JOIN planes),
         |bukb AS (SELECT vec_id, t, sum(pbit) bucket FROM projb GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
         |  FROM buka a JOIN bukb b ON a.t = b.t AND a.bucket = b.bucket),
         |${TrainQueries.cosineOverCandidatesSql("id_a", "id_b")},
         |r AS (SELECT id_a, id_b, cos_sim,
         |    row_number() OVER (PARTITION BY id_a
         |      ORDER BY cos_sim DESC, id_b) AS rk_a,
         |    row_number() OVER (PARTITION BY id_b
         |      ORDER BY cos_sim DESC, id_a) AS rk_b
         |  FROM sims),
         |aa AS (SELECT id_a, CAST(sum(CAST(cos_sim AS DECIMAL(28,6)))
         |    AS DOUBLE) AS sum_a FROM r WHERE rk_a <= 4 GROUP BY 1),
         |bb AS (SELECT id_b, CAST(sum(CAST(cos_sim AS DECIMAL(28,6)))
         |    AS DOUBLE) AS sum_b FROM r WHERE rk_b <= 4 GROUP BY 1),
         |m AS (SELECT r.id_a, r.id_b, r.cos_sim,
         |    round(r.cos_sim * 8.0 / (aa.sum_a + bb.sum_b), 6) AS margin
         |  FROM r JOIN aa USING (id_a) JOIN bb USING (id_b)
         |  WHERE r.rk_a = 1)
         |SELECT id_a, id_b, cos_sim, margin FROM m
         |WHERE margin >= 1.02 ORDER BY id_a""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 50 AS ubucket,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS view,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS error
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // unpivot of the pivot = the combinations present in the data
    "q_unpivot" ->
      """SELECT user_id % 50 AS ubucket, event_type,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events
        |WHERE event_type IN ('view', 'click', 'purchase', 'signup', 'error')
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the learned-tokenizer dict (unrolled merge rounds) joined over
    // doc words, aggregated per language — integer sums, one division
    "q_bpe_fertility" ->
      s"""WITH ${TrainQueries.bpeRoundsSql(8)},
         |dict AS (SELECT word, len(string_split(trim(spaced), ' ')) AS nt
         |         FROM w8),
         |docw AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |         FROM documents),
         |k AS (SELECT doc_id, sum(nt) AS nt
         |      FROM docw JOIN dict USING (word) GROUP BY 1),
         |t AS (SELECT d.doc_id, d.lang, coalesce(k.nt, 0) AS nt,
         |    CASE WHEN length(trim(d.text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(d.text), '\\s+')) END AS nw
         |  FROM documents d LEFT JOIN k USING (doc_id))
         |SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST((sum(nt) * 2000000 + sum(nw)) // (sum(nw) * 2) AS DOUBLE)
         |    / 1000000.0 AS fertility
         |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the q_embed_ivf coarse chain (seeds = 16 lowest-id vectors, 3
    // Lloyd rounds, margin-protected argmin) supplies the assignment;
    // the distance VALUE re-accumulates in DECIMAL(38,18) and rounds
    // to 6 — order-free, so the group-by sum replays the udf's
    // sequential fold exactly
    "q_embed_outliers" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c0 AS (SELECT s.cell, e.pos, e.x y FROM seedids s JOIN ev e USING (vec_id)),
         |${TrainQueries.ivfIterSql(1)},
         |${TrainQueries.ivfIterSql(2)},
         |${TrainQueries.ivfIterSql(3)},
         |d4 AS (
         |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev e JOIN c3 c USING (pos) GROUP BY 1, 2),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4) WHERE rn = 1),
         |dist2 AS (
         |  SELECT e.vec_id, CAST(s.cell AS INT) AS cell,
         |    round(CAST(sum(CAST((c.y - e.x) * (c.y - e.x)
         |      AS DECIMAL(38,18))) AS DOUBLE), 6) AS dist2
         |  FROM cells s JOIN ev e USING (vec_id)
         |  JOIN c3 c ON c.cell = s.cell AND c.pos = e.pos
         |  GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY cell
         |      ORDER BY dist2, vec_id) AS BIGINT) AS rk,
         |    CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS n FROM dist2),
         |thr AS (SELECT cell, max(CASE WHEN rk = CAST(ceil(n * 0.9) AS BIGINT)
         |      THEN dist2 END) AS thr FROM r GROUP BY cell)
         |SELECT d.vec_id, d.cell, d.dist2, t.thr,
         |  d.dist2 > t.thr AS is_outlier
         |FROM dist2 d JOIN thr t USING (cell) ORDER BY d.vec_id""".stripMargin,

    // constant-block MJPEG replay: the container walk and the DC-only
    // JPEG pipeline cancel integer-exactly, so each sampled frame's
    // pixel stream is the generating block arithmetic verbatim
    "q_multimodal_video" ->
      """WITH dims AS (SELECT doc_id, CAST(2 + doc_id % 3 AS BIGINT) AS nf
        |  FROM documents),
        |fr AS (SELECT doc_id, unnest(range(0, nf)) AS f FROM dims),
        |kept AS (SELECT doc_id, f FROM fr WHERE f % 2 = 0),
        |px AS (SELECT doc_id, f, unnest(range(0, 128)) AS i FROM kept)
        |SELECT doc_id AS id, CAST(f AS INT) AS frame, CAST(i AS INT) AS pos,
        |  CAST(2 * (((doc_id * 7 + f) * 31 + (i % 16) // 8) % 128) AS INT) AS val
        |FROM px ORDER BY id, frame, pos""".stripMargin,

    "q_weighted_median" ->
      """WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS v,
        |    CAST(1 + doc_id % 7 AS BIGINT) AS w FROM documents),
        |c AS (SELECT source, v, w,
        |    sum(w) OVER (PARTITION BY source ORDER BY v
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY source) AS tot
        |  FROM b)
        |SELECT source, CAST(max(tot) AS BIGINT) AS w_total,
        |  CAST(min(v) AS BIGINT) AS w_median
        |FROM c WHERE cum * 2 >= tot GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_k_anonymity" ->
      """SELECT source, lang, n_chars // 100 AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT text) AS BIGINT) AS n_sensitive,
        |  count(*) >= 5 AS k_ok, count(DISTINCT text) >= 3 AS l_ok
        |FROM documents
        |GROUP BY 1, 2, 3 ORDER BY source, lang, len_bucket""".stripMargin,

    // rank permutations via (value, doc_id) ties; HUGEINT identity,
    // exact half-away division (decRatio6 twin)
    "q_spearman" ->
      s"""WITH q AS (SELECT doc_id, ${TrainQueries.qualitySql} AS a,
         |    CAST(n_chars AS DOUBLE) AS b FROM documents),
         |r AS (SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY a, doc_id) AS BIGINT) ra,
         |    CAST(row_number() OVER (ORDER BY b, doc_id) AS BIGINT) rb
         |  FROM q),
         |t AS (SELECT CAST(count(*) AS BIGINT) n,
         |    sum(CAST(ra - rb AS HUGEINT) * CAST(ra - rb AS HUGEINT)) s
         |  FROM r),
         |f AS (SELECT n,
         |    CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) - 6 * s AS num,
         |    CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * n - 1) AS den
         |  FROM t)
         |SELECT n, CASE WHEN n < 2 THEN NULL ELSE
         |  CAST(CASE WHEN num < 0 THEN -((2000000 * (-num) + den) // (2 * den))
         |       ELSE (2000000 * num + den) // (2 * den) END AS DOUBLE)
         |    / 1000000.0 END AS rho
         |FROM f""".stripMargin,

    "q_quality_auc" ->
      s"""WITH q AS (SELECT ${TrainQueries.qualitySql} AS score,
         |    (lang = 'en') AS label FROM documents),
         |bys AS (SELECT score, count(*) AS n,
         |    sum(CASE WHEN label THEN 1 ELSE 0 END) AS np
         |  FROM q GROUP BY 1),
         |c AS (SELECT score, n, np, coalesce(sum(n) OVER (ORDER BY score
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
         |  FROM bys),
         |t AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |    CAST(sum(n - np) AS BIGINT) AS n_neg,
         |    sum(CAST(np AS HUGEINT) * (2 * CAST(c AS HUGEINT) + n + 1))
         |      AS u FROM c)
         |SELECT n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST((2000000 * (u - CAST(n_pos AS HUGEINT) * (n_pos + 1))
         |        + 2 * CAST(n_pos AS HUGEINT) * n_neg)
         |      // (4 * CAST(n_pos AS HUGEINT) * n_neg) AS DOUBLE)
         |      / 1000000.0 END AS auc
         |FROM t""".stripMargin,

    "q_quality_rank" ->
      s"""WITH q AS (SELECT doc_id, source, ${TrainQueries.qualitySql} AS score
         |  FROM documents),
         |r AS (SELECT doc_id, source, score,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY score, doc_id) AS BIGINT) AS r,
         |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM q)
         |SELECT doc_id, source, score,
         |  CASE WHEN n = 1 THEN 0.5
         |    ELSE CAST(((r - 1) * 2000000 + (n - 1)) // ((n - 1) * 2)
         |      AS DOUBLE) / 1000000.0 END AS qnorm
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_curriculum" ->
      s"""WITH q AS (SELECT doc_id, ${TrainQueries.qualitySql} AS score
         |  FROM documents),
         |t AS (SELECT doc_id,
         |    CASE WHEN score >= 0.7 THEN 2 WHEN score >= 0.4 THEN 1
         |      ELSE 0 END AS tier,
         |    md5('cur0:' || CAST(doc_id AS VARCHAR)) AS key FROM q)
         |SELECT doc_id, tier, CAST(row_number() OVER (
         |    ORDER BY tier DESC, key, doc_id) AS BIGINT) AS pos
         |FROM t ORDER BY doc_id""".stripMargin
  )
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{NioStoreFs, Tables}

/** Round-10+ training-pipeline operators: boundary formats, data-quality
  * validation, drift monitoring, multimodal dedup, graph statistics.
  * Same contract as [[TrainQueries]] — every entry has a full DuckDB
  * value oracle.
  */
object PipelineQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TFRecord interchange round trip under the hash oracle: the
    // curated corpus written as framed tf.train.Example shards
    // (masked-CRC32C container, protobuf payload — both from public
    // specs, dependency-free) and read back against the explicit
    // schema must be row-identical. q_jsonl_roundtrip's twin for the
    // format TF/JAX trainers actually consume.
    "q_tfrecord_roundtrip" -> ((s, d) => {
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_tfrec_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "n_chars", "text")
      graft.sources.TfRecordStore.write(docs, base, rowsPerShard = 100)
      graft.sources.TfRecordStore.read(s, base, docs.schema).orderBy("doc_id")
    }),

    // WebDataset tar-shard round trip under the hash oracle: the
    // corpus written as POSIX ustar shards (sample = adjacent files
    // keyed by basename — the format multimodal training loaders
    // consume) and read back against the explicit schema must be
    // row-identical, INCLUDING a binary media column (compared by md5
    // — byte identity, rendered oracle-comparable).
    "q_tar_roundtrip" -> ((s, d) => {
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_tar_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          encode(col("text"), "UTF-8").as("media"))
      graft.sources.TarShardStore.write(docs, base, keyCol = "doc_id",
        rowsPerShard = 100)
      graft.sources.TarShardStore.read(s, base, docs.schema, keyCol = "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          md5(col("media")).as("media_md5"))
        .orderBy("doc_id")
    }),

    // BYTE-sized WebDataset shards over ~60x-varying multimodal rows:
    // every 97th doc's media blows up 64x (the JPEG-next-to-caption
    // size spread), the writer running-size-splits each task's stream
    // at sample boundaries, and the gate asserts the byte bound
    // in-line — shard BYTES are what bound binaryFile read memory and
    // trainer I/O balance — before the hash-oracle round trip.
    "q_tar_sized" -> ((s, d) => {
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_tarz_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          encode(expr("repeat(text, IF(doc_id % 97 = 0, 64, 1))"), "UTF-8")
            .as("media"))
      val bound = 49152L
      graft.sources.TarShardStore.write(docs, base, keyCol = "doc_id",
        rowsPerShard = 250, bytesPerShard = bound)
      val shards = new java.io.File(base).listFiles()
        .filter(_.getName.endsWith(".tar"))
      // a shard holds ≥1 sample, so an UNSPLITTABLE oversized sample
      // may exceed the bound by itself (at 10×/100× replicas the
      // token-suffixed texts push the 64× rows past it) — the real
      // contract is bound ∨ one-sample, so cap by the largest sample
      val maxSample = docs
        .agg(max(length(col("media"))).as("m"), max(length(col("text"))).as("t"))
        .collect()(0) match { case r => r.getInt(0).toLong + r.getInt(1).toLong + 8192L }
      require(shards.nonEmpty &&
        shards.forall(_.length <= math.max(bound, maxSample) + 1024),
        "byte-sized shard exceeded its bound")
      require(shards.length > (docs.count() + 249) / 250,
        "byte-sizing produced no splits — the mode did not engage")
      graft.sources.TarShardStore.read(s, base, docs.schema, keyCol = "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"), col("text"),
          md5(col("media")).as("media_md5"))
        .orderBy("doc_id")
    }),

    // the STREAMING twin of q_tar_roundtrip: WebDataset shards LAND in
    // a watched directory (two batches — the crawler-drop shape) and
    // the sample stream reassembles them continuously; same ustar
    // parser, same checksum discipline, one task per arriving shard.
    // Oracle = the relational content of both batches.
    "q_stream_tar" -> ((s, d) => {
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_star_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      NioStoreFs.deleteRecursively(baseDir.toString)
      val incoming = baseDir.resolve("incoming")
      java.nio.file.Files.createDirectories(incoming)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"), col("text"))
      def land(batch: DataFrame, tag: String): Unit = {
        val stage = baseDir.resolve(s"stage_$tag").toString
        graft.sources.TarShardStore.write(batch, stage, keyCol = "doc_id",
          rowsPerShard = 100)
        new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".tar")).sortBy(_.getName)
          .foreach { f => java.nio.file.Files.move(f.toPath,
            incoming.resolve(s"$tag-${f.getName}")) }
      }
      val sink = s"stream_tar_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      val stream = graft.sources.TarShardStore.readStream(
        s, incoming.toString, docs.schema, "doc_id")
      graft.streaming.StreamTune.withStatePartitions(s,
        graft.streaming.StreamTune.dirBytes(s"$d/documents.parquet")) {
      val q = stream.writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        land(docs.filter(col("doc_id") % 2 === 0), "b0")
        q.processAllAvailable()
        land(docs.filter(col("doc_id") % 2 =!= 0), "b1")
        q.processAllAvailable()
      } finally q.stop()
      }
      s.table(sink).orderBy("doc_id")
    }),

    // declarative data-quality contract over the corpus, every check
    // evaluated in ONE aggregation pass (unit-tests-for-data): the gate
    // an ingest batch must clear before joining the standing corpus
    "q_data_checks" -> ((s, d) => {
      import graft.operators.DataChecks._
      run(Tables.documents(s, d), Seq(
        SizeAtLeast(1),
        Completeness("text", 1.0),
        Uniqueness("doc_id", 1.0),
        ValueRange("n_chars", 0, 1e9),
        MeanBetween("n_chars", 1, 100000),
        PatternRate("lang", "^[a-z]{2}$", 0.5)))
        .orderBy("check", "col_name")
    }),

    // distribution-drift monitor: PSI per length bucket between the
    // src0-9 slice (standing corpus) and src10-19 (arriving batch) —
    // Laplace-smoothed over the union of observed buckets, rounded-ln
    // discipline so every term replays in the oracle
    "q_dist_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sliceNum = substring(col("source"), 4, 10).cast("int")
      graft.operators.DataChecks.psiDrift(
        docs.filter(sliceNum < 10), docs.filter(sliceNum >= 10),
        graft.operators.TextOps.lengthBucket(col("n_chars")))
        .orderBy("bucket")
    }),

    // perceptual image fingerprint: real BMP containers → decode →
    // 9×8 nearest-neighbor resize → integer-mean grayscale → 64-bit
    // dHash as two unsigned 32-bit words. Every step is integer
    // arithmetic over the id-derived pixel stream, so the full hash
    // replays in the oracle (q_multimodal_pixels's derivation pattern)
    "q_image_dhash" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        graft.operators.MediaCodecs.Bmp.encode(
          4 + (id % 5).toInt, 3 + (id % 4).toInt,
          i => ((id * 31 + i) % 256).toInt)
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      graft.operators.ImageHash.dhash(bin).orderBy("id")
    }),

    // image near-dup pairs, production composition: exact-hash collapse
    // (linear — a duplicate-saturated corpus shrinks to its visual
    // diversity) THEN banded pairs among the representatives. Banding
    // is EXACT for dist ≤ 7 by pigeonhole, so the all-pairs oracle is
    // a fair twin. Measured: the uncollapsed pair relation is itself
    // quadratic on this corpus (SCALING.md) — the collapse is the
    // difference between 2.4M output pairs and a bounded one.
    "q_image_neardup" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        graft.operators.MediaCodecs.Bmp.encode(
          4 + (id % 5).toInt, 3 + (id % 4).toInt,
          i => ((id * 31 + i) % 256).toInt)
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      graft.operators.ImageHash.nearDupPairsFromHashes(
          graft.operators.ImageHash.exactClusters(bin), maxDist = 7)
        .orderBy("id_a", "id_b")
    }),

    // per-node triangle counts over the co-purchase graph (parts
    // sharing an order): degree-ordered orientation → each triangle
    // materializes once as a wedge at its min-rank vertex — the
    // community-density signal next to PageRank/HITS. The oracle uses
    // the simple id-ordered enumeration; both formulations enumerate
    // the same triangle SET, so per-node counts agree exactly.
    "q_triangles" -> ((s, d) => {
      val op = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      // bucket-collect pair expansion: one exchange builds the same
      // (src < dst) edge multiset the equi-self-join spelled out
      val e = graft.operators.Graph.coOccurrencePairs(op, "o", "p")
      graft.operators.Graph.triangleCounts(e, "src", "dst").orderBy("node")
    }),

    // sign-bit binary quantization: 64 floats → two unsigned 32-bit
    // words (8 bytes/vector). The compression that lets a 100 TB
    // vector corpus keep its whole index in memory; exact bit-level
    // oracle since sign(float) replays in any engine
    "q_embed_binary" -> ((s, d) =>
      graft.operators.Similarity.binaryQuantize(Tables.embeddings(s, d))
        .select(col("vec_id"), col("bits")(0).as("w0"), col("bits")(1).as("w1"))
        .orderBy("vec_id")),

    // Hamming-space ANN over the binary codes: XOR + popcount scan,
    // per-query top-k. The binary complement to PQ's ADC — candidates
    // for an exact float re-rank read 8 bytes each
    "q_embed_hamming" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      graft.operators.Similarity.hammingTopK(
        vecs, vecs.filter(col("vec_id") < 3), k = 10)
        .orderBy("query_id", "rank")
    }),

    // the CCNet head/middle/tail split: per-source perplexity tiles
    // under the corpus-trained bigram LM (composes q_lm_score's model
    // with a deterministic ntile) — the standard quality partition a
    // web corpus ships with
    "q_ppl_buckets" -> ((s, d) =>
      graft.operators.NgramLm.ccnetBuckets(Tables.documents(s, d),
        "doc_id", "text",
        graft.operators.Sampling.hashBucket(col("doc_id"), 100) < 80,
        "source")
        .orderBy("doc_id")),

    // top-50 collocations by adjacent-pair PMI: the phrase-mining
    // signal (Church & Hanks) — vocab-sized counts, tail pruned before
    // the joins, rounded-ln discipline
    "q_pmi_top" -> ((s, d) =>
      graft.operators.CorpusStats.pmiCollocations(
        Tables.documents(s, d), "text", minCount = 5, topK = 50)),

    // corpus snapshot diff: version A (ids < 450) vs version B
    // (ids ≥ 50, every 10th doc edited) — per-id added / removed /
    // changed / unchanged by content fingerprint; the release audit
    // and the incremental-reprocessing work list
    "q_corpus_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val a = docs.filter(col("doc_id") < 450)
      val b = docs.filter(col("doc_id") >= 50)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      graft.operators.DataChecks.snapshotDiff(a, b, "doc_id", "text")
        .orderBy("id")
    }),

    // exact covariance matrix in one pass: per-partition Gram in
    // integer micro-units (order-free long sums → deterministic under
    // ANY partitioning), dims²-cell shuffle only. Feeds whitening /
    // PCA — the conditioning step before PQ/IVF training
    "q_embed_cov" -> ((s, d) =>
      graft.operators.Similarity.covarianceMatrix(Tables.embeddings(s, d))
        .orderBy("i", "j")),

    // PCA whitening gated through its DEFINING invariant: the exact
    // covariance of the whitened vectors is the identity. The rotation
    // itself is a driver-side Jacobi eigenbasis (not SQL-replayable),
    // but identity-ness is basis-free — so the oracle is closed-form.
    // Top-16 eigenvalue-descending axes: the healthy part of the
    // spectrum, where quantization (1e-6 cov rounding) scaled by 1/λ
    // stays orders below the 2-decimal gate; eps=1e-9 keeps λ/(λ+eps)
    // at 1.00 exactly. Integer re-rounding (never round(double·100))
    // and a long intermediate keep -0.0 impossible.
    "q_embed_whiten" -> ((s, d) => {
      val wtn = graft.operators.Similarity.whiten(
        Tables.embeddings(s, d), eps = 1e-9)
      graft.operators.Similarity.covarianceMatrix(wtn, "whitened")
        .filter(col("i") < 16 && col("j") < 16)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          (round(col("cov") * 100).cast("long").cast("double") / 100.0)
            .as("cov2"))
        .orderBy("i", "j")
    }),

    // deterministic source-interleaved training order: per-source md5
    // shuffle, sources strided so any S consecutive positions cycle
    // through all of them — batch homogenization with zero extra
    // movement; within-source rank from ONE skew-safe globalRank
    "q_interleave" -> ((s, d) =>
      graft.operators.Sampling.interleaveBySource(
        Tables.documents(s, d), "doc_id", "source")
        .orderBy("pos")),

    // the data-quality contract ON THE STREAM: the same one-pass check
    // battery aggregating over a file stream in complete mode — the
    // monitor a production ingest keeps running (Uniqueness is absent:
    // distinct aggregation is unsupported on streams; it stays a batch
    // check). Oracle = the batch replay of the same checks.
    "q_stream_checks" -> ((s, d) => {
      import graft.operators.DataChecks._
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "n_chars")
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_checks")
      val sink = s"stream_checks_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(docs.schema).parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = run(src, Seq(
            SizeAtLeast(1),
            Completeness("text", 1.0),
            ValueRange("n_chars", 0, 1e9),
            MeanBetween("n_chars", 1, 100000),
            PatternRate("lang", "^[a-z]{2}$", 0.5)))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).orderBy("check", "col_name")
    }),

    // doc-to-doc kNN in sparse tf-idf space: inverted-index postings
    // join (maxDf-bounded — the quadratic-term guard), DECIMAL dot
    // products, salted per-doc top-k. The lexical complement of the
    // dense-embedding ANN family.
    "q_sparse_knn" -> ((s, d) =>
      graft.operators.Retrieval.sparseCosineTopK(
        Tables.documents(s, d), "doc_id", "text", k = 5, maxDf = 100)
        .orderBy("doc_id", "rnk")),

    // robust per-source outlier report: exact nearest-rank median +
    // MAD, |x − med| > 3·MAD flags — the heavy-tail-safe screen for
    // corrupt length/quality columns
    "q_outliers" -> ((s, d) =>
      graft.operators.DataChecks.madOutliers(
        Tables.documents(s, d), "source", "doc_id", "n_chars", k = 3.0)
        .orderBy("source")),

    // per-doc compressibility bound — the repetitive-junk signal
    // (Gopher-adjacent). ratio = distinct 8-char shingles / shingle
    // positions: the fraction a dictionary coder cannot collapse
    // (LOWER = more repetitive, zlib-ratio polarity). Entirely
    // ROW-LOCAL (transform over a sequence — no explode, no shuffle:
    // the 100 TB shape) and exact-integer, so unlike the former zlib
    // projection it carries a FULL DuckDB oracle; the Deflate ratio
    // itself stays an API (TextOps.compressionRatio, spec-pinned —
    // zlib has no DuckDB twin).
    "q_compress_ratio" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(length(col("text")) >= 8, length(col("text")) - 7)
            .cast("long").as("n_pos"),
          when(length(col("text")) >= 8,
            size(array_distinct(expr(
              "transform(sequence(1, length(text) - 7), i -> substring(text, i, 8))"))))
            .cast("long").as("n_novel"))
        .withColumn("ratio",
          when(col("n_pos").isNotNull,
            graft.core.Round6.intRatio6(col("n_novel"), col("n_pos"))))
        .orderBy("doc_id")),

    // image-text PAIR curation end-to-end (the LAION-style recipe):
    // text quality gate → decode + dHash each image → exact-hash
    // collapse keeps one pair per distinct image → pair table of
    // (doc, image fingerprint, text fingerprint). Every stage is
    // individually gated; this pins the multimodal composition.
    "q_multimodal_pipeline" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        graft.operators.MediaCodecs.Bmp.encode(
          4 + (id % 5).toInt, 3 + (id % 4).toInt,
          i => ((id * 31 + i) % 256).toInt)
      }
      val pass = Tables.documents(s, d)
        .filter(graft.operators.TextOps.qualityScore(col("text")) >= 0.5)
        .select(col("doc_id"),
          graft.operators.TextOps.fingerprint(col("text")).as("text_fp"))
        .localCheckpoint(eager = false) // feeds decode AND the final join
      val hashes = graft.operators.ImageHash.dhash(
        pass.select(col("doc_id").as("id"), mk(col("doc_id")).as("media")))
      val reps = hashes.groupBy("dhash_hi", "dhash_lo")
        .agg(min(col("id")).as("id"))
      reps.join(pass.withColumnRenamed("doc_id", "id"), "id")
        .select(col("id").as("doc_id"), col("dhash_hi"), col("dhash_lo"),
          col("text_fp"))
        .orderBy("doc_id")
    }),

    // streaming image dedup under the batch oracle: images arrive as a
    // sorted single-file stream, dHash per row (stateless decode),
    // first arrival per distinct hash survives — the sorted input pins
    // first-arrival = min(id), exactly the batch exactClusters relation
    "q_stream_image" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        graft.operators.MediaCodecs.Bmp.encode(
          4 + (id % 5).toInt, 3 + (id % 4).toInt,
          i => ((id * 31 + i) % 256).toInt)
      }
      val imgs = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"),
          timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_image")
      val sink = s"stream_image_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        imgs.coalesce(1).sortWithinPartitions("id")
          .write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.streaming.StreamingIngest
            .imageDedupStream(src, "ts", "media")
            .select("id", "dhash_hi", "dhash_lo")
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).orderBy("id")
    }),

    // next-event-prediction windows from the event log: per user,
    // slide a 3-event context predicting the 4th — the sequence-
    // construction step behind behavioral models. lead() chains, one
    // shuffle, no self-join.
    "q_event_sequences" -> ((s, d) =>
      graft.operators.SequencePack.eventWindows(
        Tables.events(s, d), "user_id", "ts", "event_id", "event_type",
        contextLen = 3)
        .orderBy("user_id", "pos")),

    // incremental profiling: per-source HLL register STATES max-merged
    // into one corpus state, then estimated. The oracle computes the
    // whole-corpus sketch DIRECTLY — a hash match proves mergeability
    // exactly (the property that lets a 100 TB profile update by
    // storing ≤512 rows per arriving slice)
    "q_hll_merge" -> ((s, d) => {
      import graft.operators.{Sketches, TextOps}
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(lower(col("text"))))
          .as("term"))
      val perSlice = Sketches.hllRegisters(toks, Seq("source"), col("term"))
      Sketches.hllEstimate(
        Sketches.hllMergeRegisters(perSlice, Seq.empty), Seq.empty)
    }),

    // ROUGE-1/2 overlap (Lin 2004's clipped n-gram counts): the
    // summarization-quality / paraphrase-screen metric, ROW-LOCAL —
    // candidate and reference sit in the same row, so the whole
    // computation is one compiled scan pass with zero shuffle (an
    // explode-and-join formulation would shuffle every n-gram of the
    // corpus). The pairing here (each doc vs the next doc of its
    // source) is fixture-side; real use pairs model output with its
    // reference column. F1 reduces to 2o/(c+r) — one Round6 division,
    // no ratio-of-ratios.
    "q_rouge" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
      val pairs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          lead("text", 1).over(w).as("ref"))
        .where(col("ref").isNotNull)
      graft.operators.TextOps.rougeScores(pairs, "text", "ref")
        .select("doc_id", "rouge1_p", "rouge1_r", "rouge1_f1", "rouge2_f1")
        .orderBy("doc_id")
    }),

    // KMV θ-sketch SET ALGEBRA (the Apache DataSketches theta design):
    // two crawl snapshots sketch to k minimum hashes each, and
    // union / intersection / difference cardinalities ("how many NEW
    // docs does B add?") come from the two k-row artifacts alone —
    // no second pass over either corpus. Sets A and B saturate the
    // sketch (estimator path, exact integer arithmetic + one Round6
    // division); tiny C stays under k (exact-count path). The oracle
    // replays hashes, thresholds and the half-away division in
    // HUGEINT.
    "q_kmv_setops" -> ((s, d) => {
      import graft.operators.Sketches
      val docs = Tables.documents(s, d)
      val k = 256
      def sk(p: org.apache.spark.sql.Column) =
        Sketches.kmvSketch(docs.filter(p), col("text"), k)
      val a = sk(col("doc_id") % 5 =!= 0)
      val b = sk(col("doc_id") % 3 =!= 0)
      val c = sk(col("doc_id") % 101 === 7)
      def card(skt: org.apache.spark.sql.DataFrame, name: String) =
        Sketches.kmvEstimate(skt, k)
          .select(lit(name).as("metric"), col("kmv_est").as("est"))
      card(a, "card_a")
        .unionByName(card(b, "card_b"))
        .unionByName(card(c, "card_c"))
        .unionByName(Sketches.kmvSetOps(a, b, k))
        .orderBy("metric")
    }),

    // strictly-ordered conversion funnel view → click → purchase:
    // per-user min-timestamp chaining (user-sized joins, never
    // event-sized) with per-stage conversion vs the previous stage
    "q_funnel" -> ((s, d) =>
      graft.operators.EventAnalytics.funnel(Tables.events(s, d),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("stage_idx")),

    // weekly cohort retention off the signup anchor: the retention
    // matrix (cohort_week × week_offset → distinct active users)
    "q_cohorts" -> ((s, d) =>
      graft.operators.EventAnalytics.cohorts(Tables.events(s, d),
        "user_id", "ts", "event_type", "signup")
        .orderBy("cohort_week", "week_offset")),

    // the frequency sketch ON THE STREAM: CMS counters as a
    // complete-mode streaming aggregation — counters are additive, so
    // one micro-batch lands exactly on the batch sketch (q_stream_hll's
    // frequency-side sibling; together the two streaming sketch states
    // cover cardinality and frequency monitoring)
    "q_stream_cms" -> ((s, d) => {
      // stream the DOCUMENTS and tokenize inside the micro-batch: the
      // feed is doc-sized, not term-sized — materializing the exploded
      // term relation paid a single-task write ~10x the doc bytes for
      // the same counter state (explode is stateless, so the streamed
      // aggregation is identical)
      val docs = Tables.documents(s, d).select(col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_cms")
      val sink = s"stream_cms_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
          .select(explode(graft.operators.TextOps.tokens(lower(col("text"))))
            .as("term"))
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.operators.Sketches.cmsCounters(src, col("term"))
            .writeStream.format("memory").queryName(sink)
            .outputMode("complete").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink)
        .select(col("__r").as("r"), col("__bkt").as("bkt"), col("cnt"))
        .orderBy("r", "bkt")
    })
  )

  val oracles: Map[String, String] = Map(
    "q_tfrecord_roundtrip" ->
      """SELECT doc_id, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    // media = the UTF-8 bytes of text, so md5 over the round-tripped
    // BLOB equals DuckDB's md5 of the VARCHAR (hashed as UTF-8)
    "q_tar_roundtrip" ->
      """SELECT doc_id, source, n_chars, text,
        |  md5(text) AS media_md5 FROM documents
        |ORDER BY doc_id""".stripMargin,

    // media = text repeated 64x on the 97-stride slice; md5 over the
    // round-tripped BLOB equals DuckDB's md5 of the VARCHAR twin
    "q_tar_sized" ->
      """SELECT doc_id, source, n_chars, text,
        |  md5(repeat(text, CASE WHEN doc_id % 97 = 0 THEN 64 ELSE 1 END))
        |    AS media_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // batch-parity: the streamed tar samples are exactly the corpus
    "q_stream_tar" ->
      """SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_data_checks" ->
      """WITH m AS (SELECT
        |  CAST(count(*) AS DOUBLE) AS n,
        |  round(CAST(count(text) AS DOUBLE) / count(*), 6) AS comp,
        |  round(CAST(count(DISTINCT doc_id) AS DOUBLE) / count(*), 6) AS uniq,
        |  CAST(min(n_chars) AS DOUBLE) AS mn, CAST(max(n_chars) AS DOUBLE) AS mx,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*), 6) AS mean,
        |  round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(lang), 6) AS pat
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'size_at_least' AS "check", '*' AS col_name, n AS metric,
        |    1.0 AS threshold_lo, CAST(NULL AS DOUBLE) AS threshold_hi,
        |    n >= 1 AS passed FROM m
        |  UNION ALL SELECT 'completeness', 'text', comp, 1.0, 1.0,
        |    comp >= 1.0 FROM m
        |  UNION ALL SELECT 'uniqueness', 'doc_id', uniq, 1.0, 1.0,
        |    uniq >= 1.0 FROM m
        |  UNION ALL SELECT 'value_range', 'n_chars', mn, 0.0, 1000000000.0,
        |    mn >= 0.0 AND mx <= 1000000000.0 FROM m
        |  UNION ALL SELECT 'mean_between', 'n_chars', mean, 1.0, 100000.0,
        |    mean >= 1.0 AND mean <= 100000.0 FROM m
        |  UNION ALL SELECT 'pattern_rate', 'lang', pat, 0.5, 1.0,
        |    pat >= 0.5 FROM m
        |) ORDER BY "check", col_name""".stripMargin,

    "q_dist_drift" ->
      """WITH da AS (
        |  SELECT CASE WHEN n_chars <= 0 THEN 0
        |      ELSE length(bin(CAST(n_chars AS BIGINT))) END AS bucket,
        |    count(*) AS n_a
        |  FROM documents WHERE CAST(substr(source, 4) AS INT) < 10 GROUP BY 1),
        |db AS (
        |  SELECT CASE WHEN n_chars <= 0 THEN 0
        |      ELSE length(bin(CAST(n_chars AS BIGINT))) END AS bucket,
        |    count(*) AS n_b
        |  FROM documents WHERE CAST(substr(source, 4) AS INT) >= 10 GROUP BY 1),
        |j AS (
        |  SELECT coalesce(da.bucket, db.bucket) AS bucket,
        |    coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
        |  FROM da FULL OUTER JOIN db ON da.bucket = db.bucket),
        |t AS (SELECT count(*) AS k, sum(n_a) AS t_a, sum(n_b) AS t_b FROM j),
        |p AS (
        |  SELECT bucket, n_a, n_b,
        |    round(CAST(n_a + 1 AS DOUBLE) / (t_a + k), 6) AS p_a,
        |    round(CAST(n_b + 1 AS DOUBLE) / (t_b + k), 6) AS p_b
        |  FROM j, t)
        |SELECT bucket, n_a, n_b, p_a, p_b,
        |  round((p_a - p_b) * round(ln(p_a / p_b), 6), 6) AS term
        |FROM p ORDER BY bucket""".stripMargin,

    "q_image_dhash" -> (dhashSql + "\nSELECT * FROM h ORDER BY id"),

    "q_image_neardup" -> (dhashSql +
      """,
        |reps AS (SELECT min(id) AS id, dhash_hi, dhash_lo FROM h
        |  GROUP BY dhash_hi, dhash_lo)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
        |     + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS dist
        |FROM reps a JOIN reps b ON a.id < b.id
        |WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
        |    + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 7
        |ORDER BY id_a, id_b""".stripMargin),

    "q_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
        |pernode AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY node)
        |SELECT n.node, coalesce(p.n_tri, 0) AS n_tri
        |FROM (SELECT u AS node FROM e UNION SELECT v FROM e) n
        |LEFT JOIN pernode p ON n.node = p.node
        |ORDER BY n.node""".stripMargin,

    "q_embed_binary" -> (binaryWordsSql + "\nSELECT * FROM w ORDER BY vec_id"),

    "q_embed_hamming" -> (binaryWordsSql +
      """,
        |d AS (SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
        |    CAST(bit_count(xor(q.w0, v.w0))
        |       + bit_count(xor(q.w1, v.w1)) AS BIGINT) AS dist
        |  FROM w q JOIN w v ON q.vec_id < 3),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY dist, vec_id) AS rank FROM d)
        |SELECT query_id, vec_id, dist, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),

    // reuses the q_lm_score model replay verbatim (nested WITH in a
    // derived table), then the deterministic per-source ntile
    "q_ppl_buckets" ->
      s"""SELECT doc_id, source, avg_logp,
         |  CASE nt WHEN 1 THEN 'head' WHEN 3 THEN 'tail'
         |    ELSE 'middle' END AS bucket
         |FROM (
         |  SELECT sc.doc_id, d.source, sc.avg_logp,
         |    ntile(3) OVER (PARTITION BY d.source
         |      ORDER BY sc.avg_logp DESC, sc.doc_id) AS nt
         |  FROM (
         |${TrainQueries.lmScoreSql}
         |  ) sc JOIN documents d ON sc.doc_id = d.doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_pmi_top" ->
      """WITH tok AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |uni AS (SELECT w, count(*) AS c
        |  FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni),
        |pr AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
        |  FROM tok WHERE len(t) >= 2),
        |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12
        |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT bi.w1, bi.w2, bi.c12, u1.c AS c1, u2.c AS c2,
        |  round(ln(CAST(bi.c12 AS DOUBLE) * tot.t / (u1.c * u2.c)), 6) AS pmi
        |FROM bi JOIN uni u1 ON bi.w1 = u1.w JOIN uni u2 ON bi.w2 = u2.w, tot
        |ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 50""".stripMargin,

    // row-local novelty bound; ratio via exact half-away integer
    // division (Round6.intRatio6 twin). range(1, L-6) is
    // exclusive-end: positions 1..L-7.
    "q_compress_ratio" ->
      """WITH s AS (SELECT doc_id,
        |    CASE WHEN length(text) >= 8
        |      THEN CAST(length(text) - 7 AS BIGINT) END AS n_pos,
        |    CASE WHEN length(text) >= 8
        |      THEN CAST(len(list_distinct(list_transform(
        |        range(1, length(text) - 6),
        |        i -> substr(text, i, 8)))) AS BIGINT) END AS n_novel
        |  FROM documents)
        |SELECT doc_id, n_pos, n_novel,
        |  CAST((2 * n_novel * 1000000 + n_pos) // (2 * n_pos) AS DOUBLE)
        |    / 1000000.0 AS ratio
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_corpus_diff" ->
      """WITH a AS (SELECT doc_id AS id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_a
        |  FROM documents WHERE doc_id < 450),
        |b AS (SELECT doc_id AS id,
        |    md5(regexp_replace(lower(trim(
        |      CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END
        |    )), '\s+', ' ', 'g')) AS fp_b
        |  FROM documents WHERE doc_id >= 50)
        |SELECT coalesce(a.id, b.id) AS id, fp_a, fp_b,
        |  CASE WHEN fp_a IS NULL THEN 'added'
        |       WHEN fp_b IS NULL THEN 'removed'
        |       WHEN fp_a = fp_b THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.id = b.id
        |ORDER BY id""".stripMargin,

    // cov via EXACT integer half-away division (mirrors
    // Round6.decRatio6): a double-path round() rendered exact-zero
    // cells as -0.0 here but 0.0 in Spark — value-equal, hash-
    // different. HUGEINT keeps n*s_ij exact.
    "q_embed_cov" ->
      """WITH u AS (SELECT vec_id, i - 1 AS d,
        |    CAST(round(CAST(embedding[i] AS DOUBLE), 6) * 1000000
        |      AS BIGINT) AS u
        |  FROM embeddings, generate_series(1, 64) s(i)),
        |n AS (SELECT count(DISTINCT vec_id) AS n FROM u),
        |sums AS (SELECT d, sum(u) AS s FROM u GROUP BY d),
        |gram AS (SELECT a.d AS i, b.d AS j, sum(a.u * b.u) AS s_ij
        |  FROM u a JOIN u b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |c AS (SELECT g.i, g.j,
        |    CAST(n.n AS HUGEINT) * g.s_ij
        |      - CAST(si.s AS HUGEINT) * sj.s AS num,
        |    CAST(n.n AS HUGEINT) * n.n * 1000000000000 AS den
        |  FROM gram g JOIN sums si ON g.i = si.d
        |    JOIN sums sj ON g.j = sj.d, n)
        |SELECT i, j, CAST(CASE WHEN num < 0
        |    THEN -((2000000 * (-num) + den) // (2 * den))
        |    ELSE (2000000 * num + den) // (2 * den) END AS DOUBLE)
        |  / 1000000.0 AS cov
        |FROM c ORDER BY i, j""".stripMargin,

    // identity is basis-free: the oracle for "whitened covariance at
    // 2 decimals" is the closed-form identity grid
    "q_embed_whiten" ->
      """SELECT CAST(a.i AS BIGINT) AS i, CAST(b.j AS BIGINT) AS j,
        |  CASE WHEN a.i = b.j THEN 1.0 ELSE 0.0 END AS cov2
        |FROM range(16) a(i), range(16) b(j)
        |ORDER BY i, j""".stripMargin,

    "q_interleave" ->
      """WITH k AS (SELECT doc_id, source,
        |    md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |r AS (SELECT doc_id, source, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY k, doc_id) AS BIGINT) AS r FROM k),
        |g AS (SELECT source,
        |    CAST(row_number() OVER (ORDER BY source) AS BIGINT) - 1 AS sidx,
        |    (SELECT CAST(count(DISTINCT source) AS BIGINT) FROM documents) AS s
        |  FROM (SELECT DISTINCT source FROM documents))
        |SELECT r.doc_id, r.source, r.r, (r.r - 1) * g.s + g.sidx AS pos
        |FROM r JOIN g ON r.source = g.source ORDER BY pos""".stripMargin,

    "q_stream_checks" ->
      """WITH m AS (SELECT
        |  CAST(count(*) AS DOUBLE) AS n,
        |  round(CAST(count(text) AS DOUBLE) / count(*), 6) AS comp,
        |  CAST(min(n_chars) AS DOUBLE) AS mn, CAST(max(n_chars) AS DOUBLE) AS mx,
        |  round(CAST(sum(CAST(n_chars AS DECIMAL(28,6))) AS DOUBLE)
        |    / count(*), 6) AS mean,
        |  round(CAST(sum(CASE WHEN regexp_matches(lang, '^[a-z]{2}$')
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(lang), 6) AS pat
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'size_at_least' AS "check", '*' AS col_name, n AS metric,
        |    1.0 AS threshold_lo, CAST(NULL AS DOUBLE) AS threshold_hi,
        |    n >= 1 AS passed FROM m
        |  UNION ALL SELECT 'completeness', 'text', comp, 1.0, 1.0,
        |    comp >= 1.0 FROM m
        |  UNION ALL SELECT 'value_range', 'n_chars', mn, 0.0, 1000000000.0,
        |    mn >= 0.0 AND mx <= 1000000000.0 FROM m
        |  UNION ALL SELECT 'mean_between', 'n_chars', mean, 1.0, 100000.0,
        |    mean >= 1.0 AND mean <= 100000.0 FROM m
        |  UNION ALL SELECT 'pattern_rate', 'lang', pat, 0.5, 1.0,
        |    pat >= 0.5 FROM m
        |) ORDER BY "check", col_name""".stripMargin,

    "q_sparse_knn" ->
      """WITH tok AS (SELECT doc_id AS id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf AS (SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n
        |  FROM documents),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
        |  HAVING count(*) <= 100),
        |wtd AS (SELECT tf.id, tf.term,
        |    round(tf.tf * round(ln((n.n - dft.df + 0.5)
        |      / (dft.df + 0.5) + 1.0), 6), 6) AS w
        |  FROM tf JOIN dft ON tf.term = dft.term, n),
        |nrm AS (SELECT id, round(sqrt(CAST(sum(CAST(round(w * w, 6)
        |    AS DECIMAL(28,6))) AS DOUBLE)), 6) AS nrm FROM wtd GROUP BY 1),
        |post AS (SELECT wtd.term, wtd.id, round(w / nrm, 6) AS wn
        |  FROM wtd JOIN nrm ON wtd.id = nrm.id),
        |pairs AS (SELECT a.id AS id_a, b.id AS id_b,
        |    round(CAST(sum(CAST(round(a.wn * b.wn, 6) AS DECIMAL(28,6)))
        |      AS DOUBLE), 6) AS sim
        |  FROM post a JOIN post b ON a.term = b.term AND a.id < b.id
        |  GROUP BY 1, 2),
        |sym AS (SELECT id_a AS doc_id, id_b AS neighbor_id, sim FROM pairs
        |  UNION ALL SELECT id_b, id_a, sim FROM pairs),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY sim DESC, neighbor_id) AS INT) AS rnk FROM sym)
        |SELECT doc_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY doc_id, rnk""".stripMargin,

    "q_outliers" ->
      """WITH base AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents),
        |r AS (SELECT source, doc_id, v,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY v, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM base),
        |med AS (SELECT source, max(CASE WHEN rk = CAST(ceil(n * 0.5)
        |    AS BIGINT) THEN v END) AS med FROM r GROUP BY source),
        |dev AS (SELECT r.source, r.doc_id, r.n, med.med,
        |    abs(r.v - med.med) AS d
        |  FROM r JOIN med ON r.source = med.source),
        |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY d, doc_id) AS BIGINT) AS rk2 FROM dev),
        |mad AS (SELECT source, max(CASE WHEN rk2 = CAST(ceil(n * 0.5)
        |    AS BIGINT) THEN d END) AS mad FROM r2 GROUP BY source)
        |SELECT dev.source, max(dev.n) AS n, max(dev.med) AS med,
        |  max(mad.mad) AS mad,
        |  CAST(sum(CASE WHEN dev.d > 3.0 * mad.mad THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad ON dev.source = mad.source
        |GROUP BY dev.source ORDER BY dev.source""".stripMargin,

    "q_multimodal_pipeline" ->
      (s"""WITH qdocs AS (SELECT doc_id, text FROM documents
         |  WHERE ${TrainQueries.qualitySql} >= 0.5),
         |""".stripMargin + dhashCtes("qdocs") +
        """,
          |reps AS (SELECT min(id) AS id, dhash_hi, dhash_lo FROM h
          |  GROUP BY dhash_hi, dhash_lo),
          |fp AS (SELECT doc_id,
          |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_fp
          |  FROM qdocs)
          |SELECT r.id AS doc_id, r.dhash_hi, r.dhash_lo, fp.text_fp
          |FROM reps r JOIN fp ON r.id = fp.doc_id
          |ORDER BY doc_id""".stripMargin),

    "q_stream_image" -> (dhashSql +
      """,
        |reps AS (SELECT min(id) AS id, dhash_hi, dhash_lo FROM h
        |  GROUP BY dhash_hi, dhash_lo)
        |SELECT id, dhash_hi, dhash_lo FROM reps ORDER BY id""".stripMargin),

    "q_event_sequences" ->
      """WITH r AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(row_number() OVER w AS BIGINT) AS pos,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3,
        |    lead(event_type, 3) OVER w AS tgt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, pos,
        |  event_type || ' ' || e2 || ' ' || e3 AS context, tgt AS target
        |FROM r WHERE tgt IS NOT NULL ORDER BY user_id, pos""".stripMargin,

    "q_hll_merge" ->
      s"""WITH toks AS (
         |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents WHERE length(trim(text)) > 0),
         |h AS (SELECT CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h60
         |  FROM toks),
         |br AS (
         |  SELECT h60 >> 51 AS bkt,
         |    CASE WHEN h60 & ((CAST(1 AS BIGINT) << 51) - 1) = 0 THEN 52
         |      ELSE 52 - length(bin(h60 & ((CAST(1 AS BIGINT) << 51) - 1)))
         |    END AS rho
         |  FROM h),
         |reg AS (SELECT bkt, max(rho) AS reg FROM br GROUP BY 1),
         |s AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (52 - reg)) AS BIGINT)
         |    + (512 - count(*)) * (CAST(1 AS BIGINT) << 52) AS intsum FROM reg)
         |SELECT ${graft.operators.Sketches.HllNumerator}
         |  / CAST(intsum AS DOUBLE) AS hll_est FROM s""".stripMargin,

    // clipped counts per (doc, gram) via join-on-gram; totals are
    // array lengths; the four ratios replay intRatio6's half-away
    // integer ladder with zero-denominator guards. Zero-length
    // tokens are FILTERED after the split: DuckDB's trim strips
    // spaces only, so a leading/trailing tab or newline would leave
    // an empty token (and inflate the gram totals) that Java-side
    // String.trim never produces. Residual engine-whitespace
    // assumption (as for the other split-based gates): no interior
    // \x0B / sub-space control characters in the corpus (Java \s
    // includes \x0B, RE2 \s does not; Java trim strips all
    // <= U+0020).
    "q_rouge" ->
      """WITH p0 AS (SELECT doc_id, text AS cand,
        |    lead(text) OVER (PARTITION BY source ORDER BY doc_id) AS ref
        |  FROM documents),
        |pp AS (SELECT doc_id, cand, ref FROM p0 WHERE ref IS NOT NULL),
        |ca AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(cand)), '\s+'),
        |    t -> length(t) > 0) AS a
        |  FROM pp WHERE length(trim(cand)) > 0),
        |ra AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(trim(lower(ref)), '\s+'),
        |    t -> length(t) > 0) AS a
        |  FROM pp WHERE length(trim(ref)) > 0),
        |c1 AS (SELECT doc_id, t, count(*) AS c FROM
        |  (SELECT doc_id, unnest(a) AS t FROM ca) GROUP BY 1, 2),
        |r1 AS (SELECT doc_id, t, count(*) AS c FROM
        |  (SELECT doc_id, unnest(a) AS t FROM ra) GROUP BY 1, 2),
        |o1 AS (SELECT c1.doc_id, sum(least(c1.c, r1.c)) AS o
        |  FROM c1 JOIN r1 ON c1.doc_id = r1.doc_id AND c1.t = r1.t
        |  GROUP BY 1),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM
        |  (SELECT doc_id, a[i] || ' ' || a[i + 1] AS g FROM ca,
        |    LATERAL (SELECT unnest(range(1, len(a))) AS i) ix)
        |  GROUP BY 1, 2),
        |r2 AS (SELECT doc_id, g, count(*) AS c FROM
        |  (SELECT doc_id, a[i] || ' ' || a[i + 1] AS g FROM ra,
        |    LATERAL (SELECT unnest(range(1, len(a))) AS i) ix)
        |  GROUP BY 1, 2),
        |o2 AS (SELECT c2.doc_id, sum(least(c2.c, r2.c)) AS o
        |  FROM c2 JOIN r2 ON c2.doc_id = r2.doc_id AND c2.g = r2.g
        |  GROUP BY 1),
        |base AS (SELECT pp.doc_id,
        |    coalesce(o1.o, 0) AS o1, coalesce(o2.o, 0) AS o2,
        |    coalesce(len(ca.a), 0) AS nc1, coalesce(len(ra.a), 0) AS nr1,
        |    CASE WHEN ca.a IS NULL OR len(ca.a) < 2 THEN 0
        |      ELSE len(ca.a) - 1 END AS nc2,
        |    CASE WHEN ra.a IS NULL OR len(ra.a) < 2 THEN 0
        |      ELSE len(ra.a) - 1 END AS nr2
        |  FROM pp
        |  LEFT JOIN ca ON ca.doc_id = pp.doc_id
        |  LEFT JOIN ra ON ra.doc_id = pp.doc_id
        |  LEFT JOIN o1 ON o1.doc_id = pp.doc_id
        |  LEFT JOIN o2 ON o2.doc_id = pp.doc_id)
        |SELECT doc_id,
        |  CASE WHEN nc1 = 0 THEN 0.0 ELSE
        |    CAST((o1 * 2000000 + nc1) // (nc1 * 2) AS DOUBLE) / 1000000.0
        |    END AS rouge1_p,
        |  CASE WHEN nr1 = 0 THEN 0.0 ELSE
        |    CAST((o1 * 2000000 + nr1) // (nr1 * 2) AS DOUBLE) / 1000000.0
        |    END AS rouge1_r,
        |  CASE WHEN nc1 + nr1 = 0 THEN 0.0 ELSE
        |    CAST((o1 * 4000000 + nc1 + nr1) // ((nc1 + nr1) * 2) AS DOUBLE)
        |      / 1000000.0 END AS rouge1_f1,
        |  CASE WHEN nc2 + nr2 = 0 THEN 0.0 ELSE
        |    CAST((o2 * 4000000 + nc2 + nr2) // ((nc2 + nr2) * 2) AS DOUBLE)
        |      / 1000000.0 END AS rouge2_f1
        |FROM base ORDER BY doc_id""".stripMargin,

    // 2^60 = 1152921504606846976; est = cnt*D/theta via the exact
    // half-away 6-decimal ladder in HUGEINT (cnt*D overflows BIGINT);
    // theta = D marks the exact-count path
    "q_kmv_setops" ->
      """WITH ha AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
        |hb AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL),
        |hc AS (SELECT DISTINCT
        |    CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 101 = 7 AND text IS NOT NULL),
        |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
        |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
        |skc AS (SELECT h FROM hc ORDER BY h LIMIT 256),
        |ta AS (SELECT CASE WHEN count(*) < 256
        |    THEN 1152921504606846976 ELSE max(h) END AS theta,
        |    count(*) AS n FROM ska),
        |tb AS (SELECT CASE WHEN count(*) < 256
        |    THEN 1152921504606846976 ELSE max(h) END AS theta,
        |    count(*) AS n FROM skb),
        |tc AS (SELECT CASE WHEN count(*) < 256
        |    THEN 1152921504606846976 ELSE max(h) END AS theta,
        |    count(*) AS n FROM skc),
        |tu AS (SELECT least((SELECT theta FROM ta),
        |    (SELECT theta FROM tb)) AS theta),
        |ab AS (SELECT h FROM ska WHERE h < (SELECT theta FROM tu)),
        |bb AS (SELECT h FROM skb WHERE h < (SELECT theta FROM tu)),
        |cnts AS (
        |  SELECT 'card_a' AS metric,
        |    CASE WHEN n < 256 THEN n ELSE n - 1 END AS c, theta FROM ta
        |  UNION ALL SELECT 'card_b',
        |    CASE WHEN n < 256 THEN n ELSE n - 1 END, theta FROM tb
        |  UNION ALL SELECT 'card_c',
        |    CASE WHEN n < 256 THEN n ELSE n - 1 END, theta FROM tc
        |  UNION ALL SELECT 'union',
        |    (SELECT count(*) FROM (SELECT h FROM ab UNION SELECT h FROM bb)),
        |    (SELECT theta FROM tu)
        |  UNION ALL SELECT 'intersect',
        |    (SELECT count(*) FROM (SELECT h FROM ab INTERSECT SELECT h FROM bb)),
        |    (SELECT theta FROM tu)
        |  UNION ALL SELECT 'diff_ab',
        |    (SELECT count(*) FROM (SELECT h FROM ab EXCEPT SELECT h FROM bb)),
        |    (SELECT theta FROM tu))
        |SELECT metric,
        |  CASE WHEN theta = 1152921504606846976 THEN CAST(c AS DOUBLE)
        |    ELSE CAST((CAST(c AS HUGEINT) * 1152921504606846976 * 2000000
        |        + theta) // (CAST(theta AS HUGEINT) * 2) AS DOUBLE)
        |      / 1000000.0 END AS est
        |FROM cnts ORDER BY metric""".stripMargin,

    "q_funnel" ->
      """WITH s0 AS (SELECT user_id AS u, min(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s1 AS (SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN s0 ON e.user_id = s0.u
        |  WHERE e.event_type = 'click' AND e.ts > s0.t GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.u
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY 1),
        |n AS (
        |  SELECT 0 AS stage_idx, 'view' AS stage,
        |    CAST(count(*) AS BIGINT) AS n_users FROM s0
        |  UNION ALL SELECT 1, 'click', count(*) FROM s1
        |  UNION ALL SELECT 2, 'purchase', count(*) FROM s2)
        |SELECT stage_idx, stage, n_users,
        |  round(CAST(n_users AS DOUBLE) /
        |    coalesce(lag(n_users) OVER (ORDER BY stage_idx), n_users), 6)
        |    AS conversion
        |FROM n ORDER BY stage_idx""".stripMargin,

    "q_cohorts" ->
      """WITH a AS (SELECT user_id AS u,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |act AS (SELECT DISTINCT e.user_id AS u, a.cohort_week,
        |    date_diff('day', a.cohort_week,
        |      CAST(date_trunc('week', e.ts) AS DATE)) // 7 AS week_offset
        |  FROM events e JOIN a ON e.user_id = a.u
        |  WHERE CAST(date_trunc('week', e.ts) AS DATE) >= a.cohort_week)
        |SELECT cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM act GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_cms" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |hb AS (
        |  SELECT r, CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term),
        |    1, 8) AS BIGINT) % 1024 AS bkt
        |  FROM toks, (SELECT unnest(range(0, 4)) AS r))
        |SELECT r, bkt, CAST(count(*) AS BIGINT) AS cnt
        |FROM hb GROUP BY 1, 2 ORDER BY r, bkt""".stripMargin
  )

  /** Sign-bit packing replay: bit j of word w = (embedding[w·32+j] > 0),
    * mirroring [[graft.operators.Similarity.binaryQuantize]].
    */
  private def binaryWordsSql: String =
    """WITH bits AS (SELECT vec_id, j,
      |    CASE WHEN embedding[j + 1] > 0 THEN 1 ELSE 0 END AS bit
      |  FROM embeddings, generate_series(0, 63) s(j)),
      |w AS (SELECT vec_id,
      |    CAST(sum(CASE WHEN j < 32
      |      THEN CAST(bit AS BIGINT) << j ELSE 0 END) AS BIGINT) AS w0,
      |    CAST(sum(CASE WHEN j >= 32
      |      THEN CAST(bit AS BIGINT) << (j - 32) ELSE 0 END) AS BIGINT) AS w1
      |  FROM bits GROUP BY vec_id)""".stripMargin

  /** dHash replay: the id-derived BMP pixel stream (byte i =
    * (id·31+i) mod 256), the 9×8 floor-index resize map
    * (sx = x·w/9, sy = y·h/8), integer-mean grayscale, horizontal
    * neighbor compare — token for token the arithmetic in
    * [[graft.operators.ImageHash.dhash64]].
    */
  private def dhashSql: String = "WITH " + dhashCtes("documents")

  private def dhashCtes(src: String): String =
    s"""imgs AS (SELECT doc_id AS id,
      |    CAST(4 + doc_id % 5 AS BIGINT) AS w,
      |    CAST(3 + doc_id % 4 AS BIGINT) AS h FROM $src),
      |g AS (SELECT id, x, y,
      |    (( (id*31 + 3*(((y*h)//8)*w + ((x*w)//9))    ) % 256
      |     + (id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 1) % 256
      |     + (id*31 + 3*(((y*h)//8)*w + ((x*w)//9)) + 2) % 256 ) // 3) AS v
      |  FROM imgs, generate_series(0, 8) s1(x), generate_series(0, 7) s2(y)),
      |bits AS (SELECT a.id, a.y, a.x,
      |    CASE WHEN b.v > a.v THEN 1 ELSE 0 END AS bit
      |  FROM g a JOIN g b ON a.id = b.id AND a.y = b.y AND b.x = a.x + 1
      |  WHERE a.x < 8),
      |h AS (SELECT id,
      |    CAST(sum(CASE WHEN y >= 4
      |      THEN CAST(bit AS BIGINT) << ((y-4)*8 + x) ELSE 0 END) AS BIGINT)
      |      AS dhash_hi,
      |    CAST(sum(CASE WHEN y < 4
      |      THEN CAST(bit AS BIGINT) << (y*8 + x) ELSE 0 END) AS BIGINT)
      |      AS dhash_lo
      |  FROM bits GROUP BY id)""".stripMargin
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{Dedup, MediaCodecs, Multimodal, NgramLm, Sampling, Similarity, Sketches, TextOps}
import graft.sources.{NioStoreFs, Tables}

/** Training-data pipeline operators over documents/embeddings, each with
  * a full DuckDB value oracle — including the sketch paths (MinHash,
  * SimHash, hyperplane LSH, IVF): their hashes/planes/quantizers are
  * deterministic engine-portable arithmetic, so candidates and values
  * replay in SQL. ScalaTest additionally audits recall vs the exact
  * baselines.
  */
object TrainQueries {

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis -------------------------------------------------
    "q_text_stats" -> ((s, d) => {
      val t = col("text")
      Tables.documents(s, d).select(
        col("doc_id"),
        TextOps.tokenCount(t).as("n_tokens"),
        TextOps.bpeishTokenCount(t).as("n_bpeish"),
        TextOps.punctCount(t).as("n_punct"),
        TextOps.stopwordHits(TextOps.tokens(t)).as("n_stop"),
        TextOps.fingerprint(t).as("fingerprint"),
        TextOps.qualityScore(t).as("quality"))
        .orderBy("doc_id")
    }),
    "q_text_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang_pred")),
    // CCNet-style language segmentation: per-20-token-span langid,
    // rolled up to dominant language + mixed-document flag — the
    // signal that catches multilingual crawl docs a doc-level label
    // miscurates. One tokenize scan, row-local span explode, one
    // doc-key rollup shuffle.
    "q_langid_spans" -> ((s, d) =>
      graft.operators.TextOps.langSegments(Tables.documents(s, d))
        .orderBy("doc_id")),

    // classifier evaluation shape: predicted vs labeled language
    "q_lang_confusion" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred")),

    // the whole curation pipeline composed end-to-end: quality filter →
    // transitive near-dup clustering among survivors → keep component
    // representatives → deterministic split assignment. One fully
    // oracled query proving the operators compose.
    "q_curate_pipeline" -> ((s, d) => {
      // the quality pass is materialized once (localCheckpoint): it
      // feeds both pair generation and the node set, and re-running the
      // regex-heavy scorer per consumer doubles the scan — at corpus
      // scale you'd persist the filtered corpus before pairwise dedup
      val pass = Tables.documents(s, d)
        .filter(TextOps.qualityScore(col("text")) >= 0.5)
        .select("doc_id", "text")
        .localCheckpoint(eager = false) // materializes with the query, once
      // direct inverted-index pair generation: on this corpus (bounded
      // shingle df) it is ~4x faster IN COMPOSITION than the
      // prefix-filtered form, whose posting-window subtree re-executes
      // per consumer here. Numbers + environment live in SCALING.md
      // (which also MEASURES the Zipfian hot-shingle regime where the
      // choice inverts and jaccardPairsPrefix wins unboundedly — same
      // output, equality-audited + hash-gated on its own).
      val pairs = Dedup.jaccardPairs(pass, "doc_id", "text", n = 3, threshold = 0.5)
      val comps = Dedup.connectedComponents(pairs,
        pass.select(col("doc_id").as("id")), edgesDistinct = true)
      comps.filter(col("id") === col("label"))
        .select(col("id").as("doc_id"),
          Sampling.hashSplit(col("id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
            .as("split"))
        .orderBy("doc_id")
    }),

    // --- dedup ---------------------------------------------------------
    "q_dedup_exact" -> ((s, d) =>
      Dedup.exactDedup(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // The streaming twin of q_dedup_exact under the SAME value oracle:
    // documents land as ONE parquet file sorted by doc_id, a real
    // file-based streaming source replays them through
    // exactDedupStream (watermark + dropDuplicatesWithinWatermark),
    // and the memory sink holds the first arrival per fingerprint.
    // With a single sorted input partition the state-key shuffle is a
    // one-run merge that preserves arrival order inside every state
    // partition, so "first arrival" is deterministically min(doc_id)
    // per fingerprint — exactly the row the batch oracle's
    // row_number() = 1 selects.
    "q_stream_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_dedup")
      val sink = s"stream_dedup_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.streaming.StreamingIngest.exactDedupStream(src, "ts", "text")
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).select("doc_id").orderBy("doc_id")
    }),

    // The whole streaming curation front door under one hash oracle:
    // quality filter → PII scrub → post-redaction exact dedup, exactly
    // as curateStream composes them. Quality and redaction are
    // stateless row transforms (their SQL replicas already gate
    // q_text_stats / q_text_redact); only the dedup holds state, and
    // the sorted single-file input pins first-arrival = min(doc_id).
    "q_stream_curate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_curate")
      val sink = s"stream_curate_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.streaming.StreamingIngest.curateStream(
              src, "ts", "text", minQuality = 0.5)
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).select("doc_id").orderBy("doc_id")
    }),

    // The streaming twin of q_dedup_simhash under the SAME oracle: one
    // micro-batch means every (band, bucket) group sees all its
    // members, so the stateful pair emission enumerates exactly the
    // batch candidate set; per-band duplicate emissions collapse under
    // distinct, and (id_a, id_b, hamming) carries no arrival-order
    // dependence.
    "q_stream_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          timestamp_seconds(lit(1700000000L) + col("doc_id")).as("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_neardup")
      val sink = s"stream_neardup_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).sortWithinPartitions("doc_id")
          .write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.streaming.StreamingNearDup
            .simhashPairsStream(src, "ts", "doc_id", "text", maxHamming = 3)
            .toDF()
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .distinct()
        .orderBy("id_a", "id_b")
    }),
    "q_dedup_clusters" -> ((s, d) =>
      Dedup.exactClusters(Tables.documents(s, d), "doc_id", "text")
        .select("doc_id", "rep_id").orderBy("doc_id")),
    "q_dedup_jaccard" -> ((s, d) =>
      // bucket-join form: this corpus has bounded shingle df (no hot
      // stop-shingles), where the direct expansion beats prefix
      // filtering; jaccardPairsPrefix is the Zipfian-corpus path,
      // gated below under the SAME oracle
      Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")),
    "q_dedup_jaccard_prefix" -> ((s, d) =>
      // PPJoin-style prefix filtering — the Zipfian-corpus scale path.
      // Provably the same output as jaccardPairs (prefix filtering is
      // lossless, verification is exact), so it shares q_dedup_jaccard's
      // oracle SQL: a hash match here puts the scale-shaped plan itself
      // under the full value oracle, not just a ScalaTest equality audit
      Dedup.jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")),
    "q_dedup_minhash" -> ((s, d) =>
      // full oracle: md5-derived base hashes + raw-slice band keys make
      // candidates AND values engine-portable; recall audited in ScalaTest
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")),
    // One-Permutation Hashing: the same near-dup contract at 1/64th
    // the signature hashing (one md5 pass, bin minima, rotation
    // densification). Pairs gate mirrors q_dedup_minhash; the sig
    // gate pins every densified bin value directly.
    "q_dedup_oph" -> ((s, d) =>
      Dedup.ophLshPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")),
    "q_dedup_oph_sig" -> ((s, d) =>
      Dedup.ophSignatures(Tables.documents(s, d), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("bin"), col("sig"))
        .orderBy("doc_id", "bin")),

    // asymmetric containment pairs: catches quote/subset duplication
    // that Jaccard scores near zero
    "q_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy("id_a", "id_b")),

    "q_dedup_simhash" -> ((s, d) =>
      // full oracle: md5-derived 60-bit token hashes; votes, pigeonhole
      // bands and hamming are plain integer SQL on the DuckDB side
      Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
          maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // transitive near-dup clustering: the exact-Jaccard pair graph →
    // connected components (min-id labels); isolated docs label
    // themselves. Full oracle: DuckDB recursive CTE computes the same
    // min-reachable-id fixpoint.
    "q_dedup_components" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs, docs.select(col("doc_id").as("id")),
          edgesDistinct = true)
        .select(col("id").as("doc_id"), col("label").as("component"))
        .orderBy("doc_id")
    }),

    // survivor selection: near-dup components keep their HIGHEST-
    // quality member (ties → min id), not the min-id one — the choice
    // real curation makes. Full oracle: recursive-CTE components +
    // the replayed quality formula + a ranking window.
    "q_dedup_best" -> ((s, d) =>
      Dedup.selectClusterSurvivors(Tables.documents(s, d), "doc_id", "text",
          TextOps.qualityScore(col("text")), n = 3, threshold = 0.5)
        .orderBy("cluster")),

    // the same survivor selection through the caller-supplied-pairs
    // altitude with the PPJoin prefix generator — the Zipfian-corpus
    // scale composition. Prefix filtering is lossless, so it shares
    // q_dedup_best's oracle verbatim: a hash match gates the FromPairs
    // API and the scale-shaped pair path in one row.
    "q_dedup_best_scale" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.selectClusterSurvivorsFromPairs(docs, "doc_id",
          Dedup.jaccardPairsPrefix(docs, "doc_id", "text", n = 3, threshold = 0.5),
          TextOps.qualityScore(col("text")))
        .orderBy("cluster")
    }),

    // eval-set decontamination: docs 0-9 stand in for a benchmark;
    // training docs sharing any winnowing fingerprint with them drop
    "q_doc_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminate(docs.filter(col("doc_id") >= 10),
          docs.filter(col("doc_id") < 10), "doc_id", "text", k = 4, w = 5)
        .select("doc_id").orderBy("doc_id")
    }),

    // The streaming twin of q_doc_decontam under the SAME oracle:
    // decontamination is a stateless filter (the eval fingerprint set
    // broadcasts once), so one micro-batch through the stream IS the
    // batch relation — no watermark, no state, nothing order-dependent.
    "q_stream_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_decontam")
      val sink = s"stream_decontam_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.filter(col("doc_id") >= 10).select(col("doc_id"), col("text"))
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        val q = graft.streaming.StreamingIngest.decontaminateStream(
            src, docs.filter(col("doc_id") < 10), "text", k = 4, w = 5)
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try { q.processAllAvailable() } finally { q.stop() }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).select("doc_id").orderBy("doc_id")
    }),

    // Efraimidis–Spirtakis weighted sample (log-domain keys), weight =
    // token count + 1: a pure function of the ids — re-runs and the
    // oracle agree exactly
    "q_weighted_sample" -> ((s, d) =>
      graft.operators.Sampling.weightedSample(Tables.documents(s, d),
          "doc_id", TextOps.tokenCount(col("text")) + lit(1), n = 100)
        .orderBy(desc("logkey"), col("doc_id"))),

    // cross-source contamination matrix: distinct winnowing
    // fingerprints shared between every pair of sources
    "q_source_overlap" -> ((s, d) =>
      Dedup.fingerprintOverlap(Tables.documents(s, d), "doc_id", "text", "source")
        .orderBy("group_a", "group_b")),

    // GPT-style sequence packing: cut the concatenated token stream
    // every 512 tokens; assignment via the chunk-stitched prefix scan
    "q_seq_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.SequencePack.assignments(docs, "doc_id",
          TextOps.tokenCount(col("text")), capacity = 512)
        .orderBy("doc_id")
    }),

    // distributed BPE training (Sennrich et al. 2016): the corpus
    // reduces to a vocab-sized word-frequency table in ONE scan, then
    // each merge round is one pair-count aggregation + a 1-row argmax
    // broadcast back as a literal replace — the train-in-T-scans shape.
    // Full oracle: all 8 rounds unroll as CTEs; counts, the
    // (cnt DESC, s1, s2) tie-break, and the literal-replace merge apply
    // replay exactly in DuckDB (leftmost-non-overlapping replace IS the
    // BPE greedy merge order).
    "q_bpe_train" -> ((s, d) =>
      graft.operators.Bpe.train(Tables.documents(s, d), "text", merges = 8)
        .orderBy("iter")),

    // unigram-LM tokenizer (the SentencePiece family next to BPE):
    // occurrence-weighted substring vocabulary with integer micro-nat
    // ln scores
    "q_unigram_vocab" -> ((s, d) =>
      graft.operators.Unigram.vocab(Tables.documents(s, d), "text")
        .orderBy("piece")),
    // per-distinct-word Viterbi optimum under that vocabulary — pure
    // integer DP, ties to the longer last piece; the oracle replays
    // the DP with a 16-step unrolled chain (+ char-sum fallback)
    "q_unigram_segment" -> ((s, d) =>
      graft.operators.Unigram.wordScores(Tables.documents(s, d), "text")
        .orderBy("word")),

    // the learned tokenizer applied at scan time: 8 literal replaces
    // chained per document, zero state — the token-frequency table a
    // corpus card would report. Oracle: re-derive the merged word
    // states (merges never cross the double-space word boundaries, so
    // doc-wide apply ≡ per-word apply) and weight by word frequency.
    "q_bpe_tokenize" -> ((s, d) =>
      graft.operators.Bpe.tokenFrequencies(
          Tables.documents(s, d), "text", merges = 8, topK = 50)
        .orderBy(desc("freq"), asc("token"))),

    // sequence packing driven by the LEARNED tokenizer instead of the
    // whitespace heuristic — the real pipeline contract (pack by what
    // the model will actually see). Oracle: per-word token counts from
    // the unrolled merge rounds, joined back over each document's
    // words, then the same prefix-sum pack as q_seq_pack.
    "q_seq_pack_bpe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val learned = graft.operators.Bpe.trainMerges(docs, "text", merges = 8)
        .map(m => (m._2, m._3))
      graft.operators.SequencePack.assignments(docs, "doc_id",
          size(graft.operators.Bpe.tokensWith(col("text"), learned)),
          capacity = 512)
        .orderBy("doc_id")
    }),

    // content-DEFINED chunking (the CDC storage-dedup primitive):
    // boundaries follow 8-char window hashes, so edits shift only the
    // chunk they touch and every later fingerprint survives
    "q_content_chunks" -> ((s, d) =>
      graft.operators.TextOps.contentChunks(
        Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id", "chunk_idx")),

    "q_doc_chunk" -> ((s, d) =>
      // 32-token windows, 8-token overlap: full-value oracle — the
      // window arithmetic and the chunk text replay as list slicing
      graft.operators.SequencePack.chunkDocuments(
          Tables.documents(s, d), "doc_id", "text",
          maxTokens = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("n_chunk_tokens").cast("long").as("n_chunk_tokens"),
          col("chunk_text"))
        .orderBy("doc_id", "chunk_id")),

    // HTML extraction: wrap each doc in a deterministic id-derived page
    // exercising script/style blocks, tags, and ALL six entity rules
    // outside stripped regions (the corpus itself has no markup) and
    // extract; byte-identical output proves the regex chain agrees
    // across engines
    "q_html_text" -> ((s, d) => {
      val planted = concat(
        lit("<html><head><title>d"), col("doc_id"), lit("</title>"),
        lit("<style>p{margin:0}</style><script>var n="), col("doc_id"),
        lit(";</script></head><body><h1>Doc &amp; entry "), col("doc_id"),
        lit("</h1><p class=\"b\">"), col("text"),
        lit("</p><br>&quot;q&quot; &lt;end&gt;&nbsp;&#39;fin&#39;</body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.htmlToText(planted).as("text_extracted"))
        .orderBy("doc_id")
    }),

    // PII scrub: plant deterministic id-derived PII into each doc (the
    // synthetic corpus has none), redact, and report per-class counts +
    // the redacted fingerprint — the md5 proves both engines produce
    // byte-identical redacted text, i.e. the regex semantics agree
    "q_text_redact" -> ((s, d) => {
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
        lit(" or +358 40 1234 "), col("doc_id"),
        lit(" via https://ex.example/d/"), col("doc_id"))
      val counts = TextOps.piiCounts(planted).map { case (n, c) => c.as(n) }
      Tables.documents(s, d).select(
        col("doc_id") +: counts :+
          md5(TextOps.redactPii(planted)).as("red_fp"): _*)
        .orderBy("doc_id")
    }),

    // corpus mixing: keep 100% of src0, 50% of src1, 20% of src2, 10%
    // of everything else — per-source deterministic hash sampling
    "q_sample_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(Sampling.stratifiedIn(col("doc_id"), col("source"),
          Seq("src0" -> (1, 1), "src1" -> (1, 2), "src2" -> (1, 5)),
          default = (1, 10)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")),

    // corpus length distribution: docs per power-of-two token-count
    // bucket (integer bin-string length, no floating log). Token count
    // materializes in its own projection so the tokenizer runs once per
    // row, not once per consuming column.
    "q_length_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .select(TextOps.tokenCount(col("text")).as("n"))
        .select(TextOps.lengthBucket(col("n")).as("bucket"), col("n"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), min("n").as("min_tokens"),
          max("n").as("max_tokens"))
        .orderBy("bucket")),

    // deterministic 80/10/10 split by md5(doc_id) — split membership is
    // a pure function of the id (stable under re-crawls/engine swaps)
    "q_doc_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("split", Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("split")),

    // per-group top-k (longest docs per source) via the skew-safe
    // two-phase salted window — identical output to a single window,
    // but a hot group's rows never land on one reducer
    "q_top_per_source" -> ((s, d) =>
      graft.core.SkewOps.topKByKey(Tables.documents(s, d), Seq("source"),
          Seq(col("n_chars").desc, col("doc_id")), k = 3)
        .select("source", "doc_id", "n_chars", "rnk")
        .orderBy("source", "rnk")),

    // per-source distinctive terms: relative-frequency lift
    // (tf_source/tokens_source) / (tf_global/tokens_global), top 5 per
    // source among terms with tf >= 5. All inputs are integers and the
    // divides are exact IEEE ops → full oracle without ln()
    // (log implementations differ across engines; ratios don't).
    "q_text_tfidf" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      // ONE tokenize+explode+shuffle, materialized: the three totals
      // derive from the (source, term, tf) relation — counts are
      // additive, so summing tf per source/term/overall equals counting
      // raw tokens. The naive form aggregates `tok` under four
      // different keys and Spark replans the scan each time (measured:
      // 4× the input records; exchange reuse does not fire across the
      // differently-keyed consumers), i.e. four corpus tokenizations.
      val tfS = tok.groupBy("source", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = false) // materializes with the query, once
      val totS = tfS.groupBy("source").agg(sum("tf").as("tot"))
      val tfG = tfS.groupBy("term").agg(sum("tf").as("gf"))
      val totG = tfS.agg(sum("tf").as("gt"))
      val lifted = tfS
        .join(broadcast(totS), Seq("source")).join(tfG, Seq("term"))
        .crossJoin(broadcast(totG))
        .filter(col("tf") >= 5)
        .withColumn("lift", round((col("tf").cast("double") / col("tot")) /
          (col("gf").cast("double") / col("gt")), 6))
      val w = Window.partitionBy("source").orderBy(col("lift").desc, col("term"))
      lifted.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("source", "term", "lift", "rnk")
        .orderBy("source", "rnk")
    }),

    "q_minhash_agg" -> ((s, d) => {
      // native TypedImperativeAggregate: per-source corpus sketch in one
      // map-side-combining pass; md5-based hashes keep the full oracle
      graft.functions.MinHashAgg.register(s, "minhash_agg16", 16)
      Tables.documents(s, d)
        .select(col("source"), explode(TextOps.wordShinglesUdf(3)(col("text"))).as("g"))
        .withColumn("h", conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"))
        .groupBy("source").agg(expr("minhash_agg16(h)").as("sigarr"))
        .select(col("source"), posexplode(col("sigarr")))
        .select(col("source"), col("pos").as("i"), col("col").as("sig"))
        .orderBy("source", "i")
    }),

    // Gopher-style repetition filter: docs ranked by duplicate-2-gram
    // fraction (aggregated per source here so the output is compact)
    "q_text_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          TextOps.repetitionRatio(col("text"), 2).as("rep"))
        .groupBy("source")
        .agg(round(sum(col("rep").cast("decimal(18,8)")).cast("double") /
            count(lit(1)), 6).as("avg_rep"),
          round(max(col("rep")), 6).as("max_rep"),
          count(lit(1)).as("n_docs"))
        .orderBy("source")),

    // vocabulary building: corpus term frequencies, top 20 — the
    // explode+count shape every tokenizer-training pipeline starts with
    "q_text_vocab" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term"))
        .limit(20)),

    // HLL cardinality profile: approximate distinct tokens per source
    // next to the exact count (the ±4.6%-error sketch a 100 TB corpus
    // profile uses INSTEAD of the exact pass — both here so the gate
    // checks the estimate AND shows its accuracy). The estimate is
    // exact-integer register arithmetic + one shared-literal division,
    // so even the double hash-matches the oracle.
    "q_hll_distinct" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.tokens(lower(col("text")))).as("term"))
      Sketches.hllDistinct(toks, Seq("source"), col("term"))
        .join(graft.core.SkewOps.distinctCountByKey(toks, Seq("source"), "term"),
          Seq("source"))
        .select(col("source"), col("n_distinct_term").as("n_exact"), col("hll_est"))
        .orderBy("source")
    }),

    // The streaming twin of q_hll_distinct under the SAME oracle: HLL
    // registers are max-merged, so arrival order is irrelevant and one
    // micro-batch's update-mode estimates equal the batch sketch.
    "q_stream_hll" -> ((s, d) => {
      // doc-sized feed, term explode inside the micro-batch (see
      // q_stream_cms) — the HLL registers see the same (group, value)
      // multiset, so the sketch state is identical
      val docs = Tables.documents(s, d).select(col("source"), col("text"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_hll")
      val sink = s"stream_hll_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        docs.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
          .select(col("source").as("group"),
            explode(TextOps.tokens(lower(col("text")))).as("value"))
        val q = graft.streaming.StreamingSketches.hllDistinctStream(src)
          .writeStream.format("memory").queryName(sink)
          .outputMode("update").start()
        try { q.processAllAvailable() } finally { q.stop() }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink)
        .join(graft.core.SkewOps.distinctCountByKey(
          Tables.documents(s, d).select(col("source"),
            explode(TextOps.tokens(lower(col("text")))).as("term")),
          Seq("source"), "term").withColumnRenamed("source", "group"), Seq("group"))
        .select(col("group").as("source"),
          col("n_distinct_term").as("n_exact"), col("hll_est"))
        .orderBy("source")
    }),

    // Count-Min heavy hitters: estimated vs true counts of the top-20
    // tokens. The sketch is 4×1024 exact counters (additive, mergeable);
    // estimates are integer minima, so the oracle replays them fully.
    // One corpus tokenize: counters derive from the term-frequency
    // table (weighted — identical counters, vocabulary-sized shuffle),
    // and both consumers share the tf exchange.
    "q_cms_topk" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(explode(TextOps.tokens(lower(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n_true"))
      val counters = Sketches.cmsCountersWeighted(tf, col("term"), col("n_true"))
      val top = tf.orderBy(col("n_true").desc, col("term")).limit(20)
      Sketches.cmsEstimate(counters, top, "term")
        .orderBy(col("n_true").desc, col("term"))
    }),

    // Mergeable histogram quantiles per event type: additive bin
    // counts + integer-threshold read-off — the percentile path that
    // scales (and, unlike percentile_approx, replays in the oracle).
    "q_quantile_sketch" -> ((s, d) =>
      Sketches.histogramQuantiles(Tables.events(s, d), Seq("event_type"),
          col("value"), lo = 0.0, hi = 512.0, bins = 256,
          ps = Seq(("p50", 1, 2), ("p95", 95, 100), ("p99", 99, 100)))
        .orderBy("event_type")),

    // Bloom-filter join pruning: docs 0-49's fingerprints build a
    // deliberately-small 512-bit/k=3 filter; every doc tests against it
    // next to exact membership — per source: docs, bloom hits (includes
    // false positives), true hits. The filter itself broadcasts; the
    // build collects set POSITIONS (<= mBits), never values.
    "q_bloom_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val fp = TextOps.fingerprint(col("text"))
      val eval = docs.filter(col("doc_id") < 50).select(fp.as("fp")).distinct()
      val words = Sketches.bloomBuild(eval, col("fp"), mBits = 512, k = 3)
      docs.select(col("source"), fp.as("fp"))
        .withColumn("bloom_hit",
          Sketches.bloomMightContain(words, 512, 3)(col("fp")))
        .join(broadcast(eval.withColumn("__true", lit(true))), Seq("fp"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom"),
          sum(when(col("__true").isNotNull, 1L).otherwise(0L)).as("n_true"))
        .orderBy("source")
    }),

    // Deterministic k-per-group sample: exactly 5 docs per source,
    // chosen by md5 order — stable under re-runs/engine swaps, and
    // skew-safe via the salted two-phase top-k.
    "q_sample_k" -> ((s, d) =>
      graft.core.SkewOps.topKByKey(
          Tables.documents(s, d).select("source", "doc_id"),
          Seq("source"),
          Seq(md5(col("doc_id").cast("string")), col("doc_id")), k = 5)
        .select("source", "doc_id", "rnk")
        .orderBy("source", "rnk")),

    // CUBE over (source, lang): all four grouping-set levels in one
    // pass, grouping_id disambiguating rolled-up NULLs.
    "q_cube" -> ((s, d) =>
      Tables.documents(s, d)
        .cube("source", "lang")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"))
        .select("source", "lang", "gid", "n_docs", "sum_chars")
        .orderBy(col("gid"), col("source"), col("lang"))),

    // C4-style boilerplate line removal: per-source volume report of
    // dropping every non-blank line shared by >= 3 distinct docs.
    "q_line_dedup" -> ((s, d) =>
      Dedup.removeBoilerplateLines(Tables.documents(s, d), "doc_id", "text",
          minDocs = 3)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("text_clean") =!= col("text"), 1L).otherwise(0L)).as("n_changed"),
          sum(length(col("text"))).as("chars_before"),
          sum(length(col("text_clean"))).as("chars_after"))
        .orderBy("source")),

    "q_text_nfc" -> ((s, d) =>
      // plant decomposed accents (e+U+0301, A+U+030A) and the OHM-sign
      // singleton (U+2126 -> U+03A9) onto the NFC-invariant ASCII
      // corpus; byte-identical normalized output proves the JDK and
      // DuckDB implement the same Unicode canonical composition
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextExpressions.nfcNormalize(concat(col("text"),
            lit(" cafe\u0301 A\u030A \u2126 end"))).as("text_norm"))
        .orderBy("doc_id")),

    "q_span_dedup" -> ((s, d) =>
      // exact duplicated-span removal (Lee et al. 2022 / C4 span rule)
      // at k=6 tokens: full-value oracle — md5 window fingerprints
      // replay in DuckDB and the cleaned text compares byte-for-byte
      Dedup.removeDuplicateSpans(Tables.documents(s, d), "doc_id", "text",
          k = 6, minDocs = 2)
        .select(col("doc_id"), col("n_dup_tokens").cast("long").as("n_dup_tokens"),
          col("text_clean"))
        .orderBy("doc_id")),

    // temperature-flattened mixture sampling (alpha = 0.7): per-source
    // quotas from n_s^alpha weights, filled by deterministic md5 rank.
    // Full oracle: round6-pow + DECIMAL denominator + the same
    // row_number window replay in DuckDB.
    "q_mix_temperature" -> ((s, d) =>
      graft.operators.Sampling.temperatureMix(Tables.documents(s, d),
          "source", "doc_id", alpha = 0.7, budget = 400)
        .orderBy("source", "rk")),

    // contrastive-training pair mining: dense top-10 as positives, the
    // BM25 top candidates the dense retriever did NOT pick as hard
    // negatives — both constituents replay exactly, so the composition
    // does too
    "q_hard_negatives" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 10)
        .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
      val sparse = graft.operators.Retrieval.bm25TopK(Tables.documents(s, d),
        "doc_id", "text", query = Seq("spark", "query", "fast"), topK = 50)
      graft.operators.Retrieval.hardNegatives(dense, sparse, "doc_id", "score",
          nNeg = 20)
        .orderBy(desc("label"), col("rank"))
    }),

    // length-bucketed batching: global descending-length rank (range
    // partition + broadcast offsets, no single-reducer window), cut
    // every 32 docs, report per-batch padding waste
    "q_length_batches" -> ((s, d) =>
      graft.operators.SequencePack.lengthBatches(Tables.documents(s, d),
          "doc_id", TextOps.tokenCount(col("text")), batchSize = 32)
        .orderBy("batch_id")),

    // the modern web-corpus recipe composed end-to-end (the FineWeb /
    // RefinedWeb ordering): blocklist gate → Gopher rule battery →
    // exact dedup survivors → deterministic split assignment. Every
    // stage's SQL replica already gates on its own; the composition
    // proves they chain.
    "q_web_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val unblocked = docs.filter(
        TextOps.blocklistHits(TextOps.tokens(col("text")),
          Seq("spam")) === 0)
      val passed = TextOps.gopherRules(unblocked, "doc_id", "text")
        .filter(col("pass")).select("doc_id")
        .join(unblocked, "doc_id")
      Dedup.exactDedup(passed, "doc_id", "text")
        .select(col("doc_id"),
          Sampling.hashSplit(col("doc_id"),
            Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split"))
        .orderBy("doc_id")
    }),

    // per-source exact quality percentiles (nearest-rank): the table
    // an adaptive group-relative filter reads
    "q_quality_percentiles" -> ((s, d) =>
      graft.operators.CorpusStats.qualityPercentiles(Tables.documents(s, d),
          "source", "doc_id", "text")
        .orderBy("source")),

    // Gopher rule battery: per-doc heuristic flags + the conjunction
    "q_gopher_rules" -> ((s, d) =>
      TextOps.gopherRules(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // C4-style blocklist filter: per-source kept/flagged counts under
    // a case-insensitive whole-token badwords match
    "q_blocklist_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          (TextOps.blocklistHits(TextOps.tokens(col("text")),
            Seq("slow", "sort", "spam")) > 0).as("__flag"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__flag"), lit(1L)).otherwise(lit(0L))).as("n_flagged"),
          sum(when(col("__flag"), lit(0L)).otherwise(lit(1L))).as("n_kept"))
        .orderBy("source")),

    // distinct-n diversity ratios (Li et al. 2016) for n = 1..3
    "q_distinct_ngrams" -> ((s, d) =>
      graft.operators.CorpusStats.distinctNgrams(Tables.documents(s, d), "text")
        .orderBy("n")),

    // Zipf's-law OLS fit over the top-1000 token frequencies: the
    // corpus-health slope a card reports
    "q_zipf_fit" -> ((s, d) =>
      graft.operators.CorpusStats.zipfFit(Tables.documents(s, d), "text",
        topK = 1000)),

    // PageRank over the supplier→customer link graph (distinct edges
    // of lineitem⋈orders) — the crawl-curation authority signal. Five
    // power iterations, damping 0.85, dangling mass redistributed;
    // the round6/DECIMAL trajectory replays in unrolled DuckDB CTEs.
    "q_pagerank" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      graft.operators.Graph.pageRank(edges, "src", "dst", iters = 5)
        .orderBy("node")
    }),

    // HITS over the same graph: hubs (suppliers) and authorities
    // (customers), three L2-normalized iterations, sqrt-exact replay
    "q_hits" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
      graft.operators.Graph.hits(edges, "src", "dst", iters = 3)
        .orderBy("node")
    }),

    // Matryoshka truncation to 16 dims + renormalize (per-dim output)
    "q_embed_matryoshka" -> ((s, d) =>
      Similarity.matryoshka(Tables.embeddings(s, d), dims = 16)
        .orderBy("vec_id", "dim")),

    // per-dimension embedding drift: the label-0 batch vs the rest of
    // the corpus
    "q_embed_drift" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.embeddingDrift(e.filter(col("label") === 0),
          e.filter(col("label") =!= 0))
        .orderBy("dim")
    }),

    // near-dup cluster-size histogram: the corpus-card view of the
    // same component relation q_dedup_components gates
    "q_cluster_sizes" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs, docs.select(col("doc_id").as("id")),
          edgesDistinct = true)
        .groupBy("label").agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }),

    // DSIR: hashed unigram+bigram importance weights of every document
    // against the English-labeled slice as target domain; top 100 by
    // weight. The 64-bucket ln-prob tables replay exactly in DuckDB.
    "q_dsir_select" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.Dsir.selectTopN(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 64, topN = 100)
        .orderBy(desc("weight"), col("doc_id"))
    }),

    // UniMax water-filling allocation (budget 600 examples, ≤2 epochs):
    // small sources keep their full capacity, everything past the fill
    // line splits the remainder evenly. Integer-exact end to end.
    "q_mix_unimax" -> ((s, d) =>
      graft.operators.Sampling.unimaxMix(Tables.documents(s, d),
          "source", budget = 600, maxEpochs = 2)
        .orderBy("source")),

    // Okapi BM25 top-k retrieval: query-term posting lists from one
    // filtered explode, tiny df/corpus-stat aggregates broadcast back,
    // per-row scoring, one top-k shuffle. Full oracle via the NgramLm
    // rounded-ln + DECIMAL-sum discipline.
    "q_bm25_topk" -> ((s, d) =>
      graft.operators.Retrieval.bm25TopK(Tables.documents(s, d),
          "doc_id", "text", query = Seq("spark", "query", "fast"), topK = 20)
        .orderBy(desc("score"), col("doc_id"))),

    // hybrid retrieval: RRF-fuse the sparse BM25 top-50 with the dense
    // cosine top-50 for query vector 0 (documents and embeddings share
    // the 0..n id space). Both constituents are constant-size after
    // their own top-k, so the fusion itself is scale-free; the rank
    // windows run over ≤50 rows by construction.
    "q_retrieval_rrf" -> ((s, d) => {
      val sparse = graft.operators.Retrieval.bm25TopK(Tables.documents(s, d),
        "doc_id", "text", query = Seq("spark", "query", "fast"), topK = 50)
      val e = Tables.embeddings(s, d)
      val dense = Similarity.bruteForceTopK(e, e.filter(col("vec_id") === 0), k = 50)
        .select(col("vec_id").as("doc_id"), col("cos_sim").as("score"))
      graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "score",
          kRrf = 60, topK = 20)
        .orderBy(desc("rrf"), col("doc_id"))
    }),

    // the paper's EXACT formulation: character-level, length >= 40
    // spans, global occurrence counts (same-document repeats removed
    // too) — the bounded-depth suffix-grouping equivalent of the
    // suffix array. Full oracle: md5 depth-40 suffix prefixes and the
    // per-char string_agg rebuild replay in DuckDB.
    "q_substr_dedup" -> ((s, d) =>
      Dedup.exactSubstrDedup(Tables.documents(s, d), "doc_id", "text",
          minLen = 40)
        .select(col("doc_id"), col("n_dup_chars"), col("text_clean"))
        .orderBy("doc_id")),

    "q_text_winnow" -> ((s, d) =>
      // k=4 tokens per gram, window w=5: full-value oracle (md5-based
      // hashes are engine-portable)
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.winnowUdf(4, 5)(col("text"))).as("fp"))
        .orderBy("doc_id", "fp")),

    // --- similarity ----------------------------------------------------
    "q_embed_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), k = 10)
        .orderBy("query_id", "rank")
    }),
    "q_embed_pairs" -> ((s, d) =>
      Similarity.cosinePairs(Tables.embeddings(s, d), threshold = 0.5)
        .orderBy("id_a", "id_b")),
    "q_embed_ann" -> ((s, d) => {
      // full oracle: deterministic hyperplane sign-bit buckets are
      // engine-portable (see planeLists); recall audited in ScalaTest
      val e = Tables.embeddings(s, d)
      Similarity.annTopK(e, e.filter(col("vec_id") < 5), dim = 64, k = 10)
        .orderBy("query_id", "rank")
    }),
    // product quantization: 4 independent 16-dim k-means codebooks,
    // every vector encoded as 4 centroid indices + per-subspace
    // reconstruction error. Full oracle: each subspace's fit replays as
    // chained CTE Lloyd rounds exactly like the IVF quantizer.
    "q_embed_pq" -> ((s, d) =>
      Similarity.pqEncode(Tables.embeddings(s, d), dim = 64, m = 4)
        .orderBy("vec_id", "sub")),
    // incremental embedding dedup: the vector twin of
    // q_dedup_incremental — the 20% batch slice probed against the 80%
    // corpus slice's persisted hyperplane-bucket index, exact-cosine
    // verify, best match or NULL per batch vector
    "q_embed_incremental" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val inCorpus = Sampling.hashBucket(col("vec_id"), 100) < 80
      val corpus = embs.filter(inCorpus)
      val idx = Similarity.vectorBuckets(corpus, dim = 64)
      Similarity.incrementalCosineDups(idx, corpus, embs.filter(!inCorpus),
          threshold = 0.3, dim = 64)
        .orderBy("vec_id")
    }),

    // the search half of PQ: asymmetric-distance top-k over codes only
    // (queries = the 5 lowest-id vectors, matching the ANN gates)
    "q_embed_pq_topk" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5), dim = 64, k = 10)
        .orderBy("query_id", "rank")
    }),
    "q_embed_ivf" -> ((s, d) => {
      // full oracle: the deterministic k-means quantizer replays as 3
      // chained CTE rounds in DuckDB (see ivfIterSql); recall audited
      // in ScalaTest
      val e = Tables.embeddings(s, d)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), dim = 64, k = 10)
        .orderBy("query_id", "rank")
    }),
    // cluster diagnostics over the labeled embeddings: per-label
    // centroids, each vector assigned to its nearest centroid by
    // cosine, label×assignment confusion counts. Every aggregation
    // accumulates in DECIMAL (exact, order-independent), so both
    // engines compute IDENTICAL doubles and even argmax near-ties
    // resolve identically — a fully oracled vector pipeline.
    "q_embed_confusion" -> ((s, d) => {
      // centroids stay relational (dims × labels rows — one cheap
      // shuffle); the per-vector assignment is a broadcast compiled
      // pass with DECIMAL-exact sums, bit-identical to the oracle's
      // (vec × label × dim) relational expansion without shuffling it
      val ev = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("vec_id"), col("label"), col("pos"),
          col("col").cast("double").as("x"))
      val cent = ev.groupBy(col("label").as("clabel"), col("pos"))
        .agg((sum(col("x").cast("decimal(38,12)")).cast("double") /
          count(lit(1))).as("y"))
      Similarity.assignNearestCentroidExact(Tables.embeddings(s, d), cent)
        .groupBy(col("label"), col("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred_label")
    }),

    // int8 quantization summary per vector (dim, sum, min, max,
    // saturation count, dequant scale) — integer outputs + one exact
    // divide, fully oracled vector compression
    "q_embed_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"), col("scale"), explode(col("qvec")).as("q"))
        .groupBy("vec_id")
        .agg(count(lit(1)).as("dim"), sum("q").as("q_sum"),
          min("q").as("q_min"), max("q").as("q_max"),
          sum(when(abs(col("q")) === 127, 1).otherwise(0)).as("n_sat"),
          max("scale").as("scale"))
        .orderBy("vec_id")),

    "q_embed_pairs_lsh" -> ((s, d) =>
      // full oracle (see planeLists); ScalaTest still audits recall +
      // value parity vs the exact cosinePairs baseline
      Similarity.cosinePairsLsh(Tables.embeddings(s, d), threshold = 0.3, dim = 64)
        .orderBy("id_a", "id_b")),

    // SEMANTIC (embedding-space) dedup end-to-end — the embedding twin
    // of q_curate_pipeline: LSH near-dup pairs → transitive closure →
    // cluster labels for every vector. Full oracle: the recursive CTE
    // walks the same replayed LSH pair graph
    "q_embed_dedup" -> ((s, d) => embedDedup(s, d, nPlanes = 8, nTables = 12)),

    // the composition at the SCALE shape (the parameters a 10x-bigger
    // corpus runs, same knob as q_embed_pairs_lsh_scale): candidate
    // volume ∝ n²·nTables/2^nPlanes, so the wider plane set is what
    // keeps the pair stage sub-quadratic as n grows
    "q_embed_dedup_scale" -> ((s, d) =>
      embedDedup(s, d, nPlanes = 12, nTables = 24)),

    // the SCALING.md scale shape of the same operator: +4 plane bits
    // and 2x tables — candidate volume ∝ n²·nTables/2^nPlanes, so this
    // config is what a 10x-bigger corpus runs (measured 3.8x faster at
    // equal recall on the 10x point). Gating it puts the config a real
    // cluster would use under the same hash oracle as the gate shape.
    "q_embed_pairs_lsh_scale" -> ((s, d) =>
      Similarity.cosinePairsLsh(Tables.embeddings(s, d), threshold = 0.3, dim = 64,
          nPlanes = 12, nTables = 24)
        .orderBy("id_a", "id_b")),

    // IVF-PQ, the production ANN composition: coarse cells prune the
    // corpus to nProbe cells per query, ADC inside them reads m-byte
    // codes only. Full oracle: the ivf chain + the 4 pq subspace
    // replays joined over the candidate set.
    "q_embed_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), dim = 64, k = 10)
        .orderBy("query_id", "rank")
    }),

    // distributed full-batch GD fit of a linear quality regressor: each
    // iteration is ONE aggregation scan (DECIMAL-exact gradient sums),
    // the 4-double model broadcasts back as literals — the train-on-
    // 100TB-in-T-scans shape. Full oracle: 3 unrolled GD rounds in CTEs
    // reproduce the weight trajectory bit-exactly.
    "q_quality_train" -> ((s, d) =>
      graft.operators.LinearModel.fitQualityGd(Tables.documents(s, d))
        .orderBy("iter")),

    // train → apply, end-to-end: the fitted 4-double model scores every
    // doc at scan speed (weights as literals — broadcast in the codegen
    // sense). Full oracle: predictions off the bit-identical ww3
    // weights, same pinned linear form. fitPredict shares ONE
    // checkpointed feature frame between the GD scans and the apply —
    // the fitWeights+predictQuality spelling pays a 4th regex
    // tokenization pass for nothing.
    "q_quality_predict" -> ((s, d) =>
      graft.operators.LinearModel.fitPredict(Tables.documents(s, d))
        .orderBy("doc_id")),

    // fastText-class logistic gate (Joulin et al. 2016): hashed
    // 1/2-gram bag → 64 buckets + bias, full-batch logistic GD in the
    // same T-scans shape, sigmoid via the 512-cell lookup table whose
    // 6-decimal entries embed as literals in BOTH engines — no
    // transcendental evaluated at query time anywhere. The label
    // distills the heuristic quality score into the linear head (the
    // standard way an LLM-data quality classifier is built: score a
    // slice with an expensive judge, train the cheap gate on it).
    // Full oracle: 3 unrolled GD rounds reproduce the (iter, bucket)
    // weight trajectory and ln-loss bit-exactly.
    "q_quality_logit" -> ((s, d) =>
      graft.operators.LinearModel.fitLogitGd(Tables.documents(s, d),
          label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5)
        .orderBy("iter", "bucket")),

    // train → apply for the logistic gate: the fitted 65-double model
    // scores every doc at scan speed; σ̃ and the ≥0.5 decision replay
    // off the bit-identical wb3 weights.
    "q_logit_predict" -> ((s, d) =>
      graft.operators.LinearModel.fitPredictLogit(Tables.documents(s, d),
          label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5)
        .orderBy("doc_id")),

    // the operating-point picker for the trained gate: exact
    // precision–recall curve of the RAW logit margins z against the
    // label (z is monotone in σ̃ but at full resolution — σ̃
    // quantizes to 512 cells and this corpus' margins span ≪ one
    // cell), one point per distinct margin, integer confusion counts,
    // two Round6 divisions — how a production threshold is actually
    // chosen (PR, not ROC, where positives are what you keep)
    "q_logit_pr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5
      val scored = graft.operators.LinearModel.fitScoreLogit(
        docs, label = label)
      val lbl = docs.select(col("doc_id"), label.as("__y"))
      graft.operators.DataChecks.prCurve(
          scored.join(lbl, "doc_id"), "z", "__y")
        .orderBy(desc("threshold"))
    }),

    // the logistic gate at a REALISTIC model size: 8192 hash buckets,
    // on the same path as the 64-bucket gates (the dense weight array
    // broadcasts once per GD iteration and once for the apply; nothing
    // model-sized inlines into a plan). Same oracle family: the DuckDB
    // weight CTEs are relational, only the modulus and vector length
    // change.
    "q_logit_big" -> ((s, d) =>
      graft.operators.LinearModel.fitPredictLogit(Tables.documents(s, d),
          label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5,
          buckets = 8192)
        .orderBy("doc_id")),

    // the MB-scale model shape END TO END: 262144 hash buckets, a
    // ~2 MB dense weight array broadcast once per iteration; the
    // gradient collect stays support-sized and nothing model-sized
    // inlines into a plan — the shape a fastText-default 2M-bucket
    // model takes, three doublings short. Oracle structurally
    // unchanged (the DuckDB weight CTEs are relational).
    "q_logit_huge" -> ((s, d) =>
      graft.operators.LinearModel.fitPredictLogit(Tables.documents(s, d),
          label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5,
          buckets = 262144)
        .orderBy("doc_id")),

    // fastText-REAL width: 2,097,152 hash buckets (the fastText
    // default `-bucket 2000000` rounded to the next power of two),
    // 8x past q_logit_huge. Nothing structural changes — that is the
    // point being PROVEN rather than argued: the ~16 MB dense weight
    // array broadcasts once per iteration and once for the apply, the
    // gradient collect stays support-sized, the feature scan still
    // dominates. The oracle's weight CTEs are relational and
    // width-parameterized, unchanged.
    "q_logit_2m" -> ((s, d) =>
      graft.operators.LinearModel.fitPredictLogit(Tables.documents(s, d),
          label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5,
          buckets = 2097152)
        .orderBy("doc_id")),

    // train on the standing corpus, score the STREAM forever: the
    // fitted 65-double logit model broadcasts into the fused per-row
    // scorer once per arriving micro-batch, a stateless per-doc
    // projection (foreachBatch; no explode, no shuffle, no stream
    // state). Bit-parity with the batch apply, shared oracle.
    "q_stream_logit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val w = graft.operators.LinearModel.logitWeights(docs,
        label = graft.operators.TextOps.qualityScore(col("text")) >= 0.5)
      val baseDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_slogit_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      if (java.nio.file.Files.exists(baseDir)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(baseDir).iterator().asScala.toSeq
          .reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
      }
      val incoming = baseDir.resolve("incoming").toString
      val outDir = baseDir.resolve("scored").toString
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(incoming))
      val cols = docs.select("doc_id", "text")
      val stream = s.readStream.schema(cols.schema).parquet(incoming)
      val q = stream.writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.operators.LinearModel.predictLogitWith(df, w)
            .coalesce(1).write.mode("append").parquet(outDir)
      }.start()
      try {
        cols.filter(col("doc_id") % 2 === 0).coalesce(1)
          .write.mode("append").parquet(incoming)
        q.processAllAvailable()
        cols.filter(col("doc_id") % 2 =!= 0).coalesce(1)
          .write.mode("append").parquet(incoming)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir).orderBy("doc_id")
    }),

    // Johnson–Lindenstrauss random projection (64 → 16 dims): hash-
    // derived matrix, per-row, no shuffle — the cheap front-end before
    // ANN indexing/clustering at corpus scale. Full oracle: the 16
    // planes replay as literals, zip-unnest dot + the shared round6.
    "q_embed_project" -> ((s, d) =>
      Similarity.randomProject(Tables.embeddings(s, d), dim = 64, outDim = 16)
        .orderBy("vec_id", "pos")),

    // SemDeDup (cluster-then-dedup): the IVF k-means partitions the
    // space, near-dup search stays inside each cell (n × cellSize
    // pairs, not n²), greedy min-id representative per near-dup set.
    // Full oracle: the same 3 replayed Lloyd rounds as q_embed_ivf,
    // then intra-cell pairs + EXISTS-smaller-neighbor in SQL.
    "q_semdedup" -> ((s, d) =>
      Similarity.semDedup(Tables.embeddings(s, d), dim = 64)
        .orderBy("vec_id")),

    // --- multimodal plumbing (stubbed decode) --------------------------
    "q_multimodal_meta" -> ((s, d) => {
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("media"))
      Multimodal.decodeMeta(bin).orderBy("id")
    }),
    "q_multimodal_embed" -> ((s, d) => {
      // binary → per-partition feature extraction → ANN composition;
      // full oracle: the stub encoder is integer byte sums + exact
      // double scaling, so DuckDB re-derives identical float vectors
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), encode(col("text"), "UTF-8").as("media"))
      val emb = Multimodal.extractFeatures(bin)
        .withColumnRenamed("id", "vec_id")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    }),

    // REAL container decode (no stub): each doc encodes as a genuine
    // BMP, PPM, or WAV (by doc_id % 3) via the pure-Scala codecs;
    // RealDecoder sniffs magic bytes and parses actual headers — BGR
    // bottom-up padded rows, the netpbm P6 grammar, the RIFF chunk
    // walk. The oracle recomputes the header arithmetic from doc_id
    // alone, so a hash match proves the decoder reads back exactly
    // what each container layout implies.
    "q_multimodal_real" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val w = 4 + (id % 5).toInt
        val h = 3 + (id % 4).toInt
        (id % 3) match {
          case 0 => MediaCodecs.Bmp.encode(w, h, i => ((id * 31 + i) % 256).toInt)
          case 1 => MediaCodecs.Ppm.encode(w, h, i => ((id * 31 + i) % 256).toInt)
          case _ => MediaCodecs.Wav.encode(16 + (id % 7).toInt, 1 + (id % 2).toInt,
            8000, i => ((id * 131 + i * 7) % 65536).toInt)
        }
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      Multimodal.decodeMeta(bin, MediaCodecs.RealDecoder).orderBy("id")
    }),

    // features over genuinely DECODED pixels (headers, padding and BGR
    // storage order stripped by the real BMP decoder): 8-bin pixel
    // histogram, L2-normalized → brute-force cosine top-k. Full oracle:
    // the pixel stream is id-derived integer arithmetic, so DuckDB
    // re-derives identical float vectors without touching the container
    "q_multimodal_pixels" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        MediaCodecs.Bmp.encode(4 + (id % 5).toInt, 3 + (id % 4).toInt,
          i => ((id * 31 + i) % 256).toInt)
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      val emb = Multimodal.extractFeatures(bin,
          new MediaCodecs.PixelHistogramExtractor(8))
        .withColumnRenamed("id", "vec_id")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
        .orderBy("query_id", "rank")
    }),

    // REAL resize: BMP/PPM containers → decode (padding/BGR/bottom-up
    // handled) → nearest-neighbor to 2x2 → re-encode PPM → decode the
    // OUTPUT container and dump its pixels. Full oracle: the floor
    // index map (sx = x*w/tw) is integer arithmetic over the id-derived
    // pixel stream, so DuckDB re-derives every output byte
    "q_multimodal_resize" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val w = 4 + (id % 5).toInt
        val h = 3 + (id % 4).toInt
        if (id % 2 == 0) MediaCodecs.Bmp.encode(w, h, i => ((id * 31 + i) % 256).toInt)
        else MediaCodecs.Ppm.encode(w, h, i => ((id * 31 + i) % 256).toInt)
      }
      val px = udf { (bytes: Array[Byte]) =>
        MediaCodecs.Ppm.decode(bytes).payload.map(b => b & 0xff) }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      Multimodal.resize(bin, 2, 2)
        .select(col("id"), posexplode(px(col("media"))))
        .select(col("id"), col("pos").cast("int").as("pos"),
          col("col").cast("int").as("val"))
        .orderBy("id", "pos")
    }),

    // token-budget corpus MIXING: cap every source at ~1000 tokens by
    // deriving its keep rate from its own token total — P(keep) =
    // min(1, budget/T_s) realized as the integer-rational test
    // b·T_s < 10000·min(budget, T_s) over the doc's md5 bucket, so
    // membership is a pure function of (doc_id, source totals) and the
    // whole derivation replays in the oracle. The standard data-mixing
    // front step for training corpora (downsample over-represented
    // sources toward a target mix) composed from existing primitives
    "q_mix_budget" -> ((s, d) => {
      val budget = 1000L
      val docs = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          TextOps.tokenCount(col("text")).cast("long").as("n"))
        .withColumn("b", pmod(conv(substring(
          md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long"),
          lit(10000L)))
      val tot = docs.groupBy("source").agg(sum("n").as("t"))
      docs.join(broadcast(tot), "source")
        .where(col("b") * col("t") < lit(10000L) * least(lit(budget), col("t")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n").as("kept_tokens"))
        .orderBy("source")
    }),

    // Z-order (Morton) clustering key over two bucketed dimensions —
    // the multi-dim data-layout primitive for 100 TB scans: sorting by
    // z keeps rows close in BOTH dims inside the same row groups, so
    // min/max stats prune range predicates on either column. Pure bit
    // arithmetic → full oracle (the SQL replays the magic-number
    // spread); the locality property itself is pinned in ScalaTest
    "q_zorder" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(251L)).as("x"),
          pmod(col("n_chars"), lit(241L)).as("y"))
        .withColumn("z",
          graft.functions.VectorExpressions.zorder2(col("x"), col("y")))
        .orderBy("doc_id")),

    // small-file compaction under the hash oracle: many-file input
    // rewritten to footprint-sized files must be a ROW-IDENTICAL
    // rewrite — the storage-layer claim (Compaction Scaladoc) verified
    // end-to-end through a real write+read round trip
    "q_compact" -> ((s, d) => {
      // deterministic WITHIN a process (repeated bench iterations
      // rewrite in place instead of accumulating temp dirs) but keyed
      // by pid too — two harness processes sharing a host must not
      // clobber each other's in/out dirs mid-read
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_compact_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode))
      val in = base.resolve("in").toString
      val out = base.resolve("out").toString
      Tables.documents(s, d).select("doc_id", "source", "n_chars")
        .repartition(16).write.mode("overwrite").parquet(in) // the small-file mess
      graft.sources.Compaction.compact(s, in, out, targetBytes = 1L << 20)
      s.read.parquet(out).orderBy("doc_id")
    }),

    // REAL frame sampling: WAV containers → chunk-walk decode → every
    // 4th PCM frame, one row per (frame, channel) with the signed i16
    // sample. Full oracle: kept frames are a modulus filter and the
    // sample stream is id-derived arithmetic
    "q_multimodal_frames" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        MediaCodecs.Wav.encode(16 + (id % 7).toInt, 1 + (id % 2).toInt, 8000,
          i => ((id * 131 + i * 7) % 65536).toInt)
      }
      val bin = Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
      Multimodal.frameSample(bin, every = 4)
        .withColumnRenamed("sample", "sample_i16")
        .orderBy("id", "frame", "channel")
    }),

    // REAL PNG decode (zlib + adaptive filters, no stub): each doc
    // encodes as a genuine PNG whose scanlines cycle through ALL FIVE
    // filter types ((id + row) % 5 — None/Sub/Up/Average/Paeth), then
    // the production decoder chunk-walks with CRC32 verification,
    // inflates the IDAT stream, reconstructs every predictor, and the
    // gate dumps the recovered pixels. Filters and zlib cancel in the
    // round trip, so the oracle replays the id-derived pixel
    // arithmetic alone — a hash match proves the decompression and all
    // five reconstruction predictors are byte-exact.
    // REAL baseline JPEG decode (marker walk, stream-declared Huffman
    // tables, DC-diff chain, dequant, IDCT): each doc encodes as a
    // genuine JFIF of CONSTANT 8x8 blocks — the one image family where
    // the lossy pipeline cancels integer-exactly (DC = 8·(v-128),
    // q0 = 16, v-128 even → quantize/dequantize/IDCT are all exact), so
    // a hash match proves the Huffman DC-difference chain across every
    // block and the DC arithmetic are bit-right. AC paths are pinned by
    // JpegSpec tolerance tests (lossy by nature, not oracle-able).
    "q_multimodal_jpeg" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val bw = 2 + (id % 3).toInt; val bh = 2 + (id % 2).toInt
        val (w, h) = (bw * 8, bh * 8)
        graft.operators.Jpeg.encode(w, h, 1, i => {
          val bx = (i % w) / 8; val by = (i / w) / 8
          2 * ((id * 31 + by * bw + bx) % 128).toInt
        })
      }
      val px = udf { (bytes: Array[Byte]) =>
        MediaCodecs.sniffDecode(bytes).payload.map(b => b & 0xff) }
      // spread before the JPEG-encode fixture udf (jstack-measured:
      // a 2-partition scan serializes the Huffman-table encoding)
      graft.operators.Dedup.spread(Tables.documents(s, d))
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
        .select(col("id"), posexplode(px(col("media"))))
        .select(col("id"), col("pos").cast("int").as("pos"),
          col("col").cast("int").as("val"))
        .orderBy("id", "pos")
    }),

    "q_multimodal_png" -> ((s, d) => {
      val mk = udf { (id: Long) =>
        val w = 2 + (id % 4).toInt
        val h = 2 + (id % 3).toInt
        MediaCodecs.Png.encode(w, h, 3, i => ((id * 31 + i) % 256).toInt,
          row => ((id + row) % 5).toInt)
      }
      val px = udf { (bytes: Array[Byte]) =>
        MediaCodecs.sniffDecode(bytes).payload.map(b => b & 0xff) }
      Tables.documents(s, d)
        .select(col("doc_id").as("id"), mk(col("doc_id")).as("media"))
        .select(col("id"), posexplode(px(col("media"))))
        .select(col("id"), col("pos").cast("int").as("pos"),
          col("col").cast("int").as("val"))
        .orderBy("id", "pos")
    }),

    // deterministic corpus shuffle for reproducible training order:
    // md5(salt || id) is the permutation, the 1-based global position
    // comes from the skew-safe globalRank (range partition + offset
    // sum — no single-task window)
    "q_doc_shuffle" -> ((s, d) =>
      graft.core.SkewOps.globalRank(
        Tables.documents(s, d).select(col("doc_id"),
          md5(concat(lit("epoch0:"), col("doc_id").cast("string")))
            .as("shuffle_key")),
        Seq(col("shuffle_key"), col("doc_id")))
        .select("doc_id", "shuffle_key", "rank").orderBy("doc_id")),

    // incremental (batch-vs-standing-corpus) near-dup: corpus = the 80%
    // hash slice with its LSH index precomputed, batch = the other 20%
    // checked against it; every batch doc annotated with its best
    // verified corpus match (NULL = novel). Full oracle: the minhash
    // replay machinery crossed over the split.
    "q_dedup_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inCorpus = Sampling.hashBucket(col("doc_id"), 100) < 80
      val corpus = docs.filter(inCorpus)
      val corpusIdx = Dedup.bandedSignatures(corpus, "doc_id", "text", n = 3)
      Dedup.incrementalNearDups(corpusIdx, corpus, docs.filter(!inCorpus),
          "doc_id", "text", n = 3, threshold = 0.8)
        .orderBy("doc_id")
    }),

    // the corpus card: the per-source datasheet every corpus release
    // ships — volume, token mass, mean quality, exact-dup rate. Pure
    // composition of gated primitives (tokens, quality, fingerprints,
    // skew-safe distinct count) with the DECIMAL sum discipline
    "q_corpus_card" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val stats = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        round(sum(TextOps.qualityScore(col("text")).cast("decimal(28,6)"))
          .cast("double") / count(lit(1)), 6).as("avg_quality"))
      val distinct = graft.core.SkewOps.distinctCountByKey(
        docs.withColumn("__fp", TextOps.fingerprint(col("text"))),
        Seq("source"), "__fp").withColumnRenamed("n_distinct___fp", "n_unique")
      stats.join(distinct, Seq("source"))
        .withColumn("dup_rate", round((col("n_docs") - col("n_unique"))
          .cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // JSONL interchange round trip under the hash oracle: the curated
    // corpus written as gzip JSON-lines shards and read back against
    // the explicit schema must be row-identical (q_compact's pattern
    // for the boundary format trainers actually consume)
    "q_jsonl_roundtrip" -> ((s, d) => {
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_jsonl_" + ProcessHandle.current().pid() + "_" +
          Integer.toHexString(d.hashCode)).toString
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "n_chars", "text")
      graft.sources.JsonlStore.write(docs, base, rowsPerShard = 100)
      graft.sources.JsonlStore.read(s, base, docs.schema).orderBy("doc_id")
    }),

    // the production ingest loop end-to-end: arriving batch (the 20%
    // slice) → quality gate → exact dedup within the batch → near-dup
    // check against the standing corpus' LSH index → only NOVEL
    // survivors pass. Every stage is individually gated; this pins the
    // composition under one oracle.
    "q_incremental_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val inCorpus = Sampling.hashBucket(col("doc_id"), 100) < 80
      val corpus = docs.filter(inCorpus)
      val batch = Dedup.exactDedup(
        docs.filter(!inCorpus)
          .filter(TextOps.qualityScore(col("text")) >= 0.5),
        "doc_id", "text")
      val idx = Dedup.bandedSignatures(corpus, "doc_id", "text", n = 3)
      Dedup.incrementalNearDups(idx, corpus, batch,
          "doc_id", "text", n = 3, threshold = 0.8)
        .filter(col("dup_of").isNull)
        .select("doc_id").orderBy("doc_id")
    }),

    // CCNet-style LM quality scoring: bigram stupid-backoff model
    // trained on the 80% hash-split train slice, every doc scored
    // against it (mean ln-prob + OOV-bigram rate). The _hot twin peels
    // the 64 highest-count bigrams into a broadcast skew head —
    // provably identical output, so both share one oracle.
    "q_lm_score" -> ((s, d) =>
      NgramLm.scoreDocs(Tables.documents(s, d), "doc_id", "text",
        Sampling.hashBucket(col("doc_id"), 100) < 80)
        .orderBy("doc_id")),
    "q_lm_score_hot" -> ((s, d) =>
      NgramLm.scoreDocs(Tables.documents(s, d), "doc_id", "text",
        Sampling.hashBucket(col("doc_id"), 100) < 80, hotBigrams = 64)
        .orderBy("doc_id")),

    // interpolated Kneser–Ney bigram smoothing (D = 3/4 clears every
    // denominator → pure integer ratio, exact division): the KenLM
    // default smoothing next to q_lm_score's stupid backoff
    "q_lm_kn" -> ((s, d) =>
      NgramLm.knProbs(Tables.documents(s, d), "doc_id", "text",
        minCount = 5, limit = 50)),
    // per-doc perplexity scoring under the KN model — the CCNet gate
    // with proper smoothing (same split as q_lm_score)
    "q_lm_kn_score" -> ((s, d) =>
      NgramLm.scoreDocsKn(Tables.documents(s, d), "doc_id", "text",
        Sampling.hashBucket(col("doc_id"), 100) < 80)
        .orderBy("doc_id")),
  )

  /** Unrolled PageRank trajectory: one (contrib, sum, dangling, rank)
    * CTE quadruple per power iteration — the gdIterSql/bpeRoundsSql
    * pattern. Every arithmetic step mirrors [[graft.operators.Graph]]
    * token for token: ranks are HUGEINT micro-units, round6(1/n) is
    * `(2·10⁶ + n) // (2n)`, each contribution round6(r/deg) is
    * `(2r + deg) // (2deg)`, and the damped update is the single exact
    * rational `(2·(3·10⁶ + 17·(s·n + d)) + 20n) // (40n)` — no float
    * before the final micro→double (operands nonneg, so DuckDB's
    * floor `//` equals the half-up truncating div).
    */
  private def pageRankSql(iters: Int): String = {
    val init =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM nodes),
        |od AS MATERIALIZED (
        |  SELECT src, CAST(count(*) AS HUGEINT) AS outdeg FROM e GROUP BY 1),
        |r0 AS MATERIALIZED (
        |  SELECT node, (2 * 1000000 + nn.n) // (2 * nn.n) AS r
        |  FROM nodes, nn)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""c$k AS (SELECT e.dst AS node,
         |    (2 * r.r + od.outdeg) // (2 * od.outdeg) AS c
         |  FROM e JOIN r${k - 1} r ON e.src = r.node JOIN od ON e.src = od.src),
         |s$k AS (SELECT node, CAST(sum(c) AS HUGEINT) AS s
         |  FROM c$k GROUP BY 1),
         |d$k AS (SELECT CAST(coalesce(sum(r), 0) AS HUGEINT) AS d
         |  FROM r${k - 1} WHERE node NOT IN (SELECT src FROM od)),
         |r$k AS MATERIALIZED (SELECT n.node,
         |    (2 * (3000000 + 17 * (coalesce(s.s, 0) * nn.n + d.d)) + 20 * nn.n)
         |      // (40 * nn.n) AS r
         |  FROM nodes n LEFT JOIN s$k s ON n.node = s.node, d$k d, nn)""".stripMargin
    }
    (init +: its).mkString(",\n") +
      s"\nSELECT node, CAST(r AS DOUBLE) / 1000000.0 AS rank" +
      s"\nFROM r$iters ORDER BY node"
  }

  /** Unrolled HITS trajectory: (authRaw, authNorm, auth, hubRaw,
    * hubNorm, hub) CTE sextuple per iteration, mirroring
    * [[graft.operators.Graph.hits]] token for token.
    *
    * HITS twin of [[graft.operators.Graph.hits]]'s exact-integer
    * trajectory: micro-unit HUGEINT scores, exact Σr² norms, and the
    * half-up L2 division replayed as "largest s with s²·B ≤ 4A²,
    * then (s+1)//2". DuckDB has no arbitrary-precision isqrt and
    * 4A²·B overflows HUGEINT, so the candidate s comes from a double
    * sqrt and is corrected over ±2 with exact HUGEINT comparisons
    * (s²·B and 4A² both fit: s ~ 2A/√B keeps s²·B ≈ 4A² ≤ ~10³⁵ at
    * the 100× scale point) — the double error is ≪ 1 there, so the
    * window is generous.
    */
  private def hitsSql(iters: Int): String = {
    val init =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |                  'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS h FROM nodes)""".stripMargin
    // one normalization step: raw rel (node, r) -> (node, out) micro
    def norm(rawRel: String, outRel: String, outCol: String) =
      s"""${outRel}b AS MATERIALIZED (SELECT CAST(sum(r * r) AS HUGEINT) AS b
         |  FROM $rawRel),
         |${outRel}c AS (SELECT n.node,
         |    CAST(coalesce(ar.r, 0) AS HUGEINT) AS r,
         |    1000000 * CAST(coalesce(ar.r, 0) AS HUGEINT) AS aa,
         |    CAST(floor(2000000.0 * CAST(coalesce(ar.r, 0) AS DOUBLE)
         |      / sqrt(CAST(b.b AS DOUBLE))) AS HUGEINT) AS c, b.b
         |  FROM nodes n LEFT JOIN $rawRel ar ON n.node = ar.node, ${outRel}b b),
         |$outRel AS MATERIALIZED (SELECT node,
         |  CASE WHEN r = 0 OR b IS NULL OR b = 0 THEN CAST(0 AS HUGEINT)
         |    ELSE (CASE WHEN (c+2)*(c+2)*b <= 4*aa*aa THEN c+2
         |               WHEN (c+1)*(c+1)*b <= 4*aa*aa THEN c+1
         |               WHEN c*c*b <= 4*aa*aa THEN c
         |               WHEN (c-1)*(c-1)*b <= 4*aa*aa THEN c-1
         |               ELSE GREATEST(c-2, 0) END + 1) // 2
         |  END AS $outCol FROM ${outRel}c)""".stripMargin
    val its = (1 to iters).map { k =>
      s"""ar$k AS MATERIALIZED (SELECT e.dst AS node, CAST(sum(h.h) AS HUGEINT) AS r
         |  FROM e JOIN h${k - 1} h ON e.src = h.node GROUP BY 1),
         |${norm(s"ar$k", s"a$k", "a")},
         |hr$k AS MATERIALIZED (SELECT e.src AS node, CAST(sum(a.a) AS HUGEINT) AS r
         |  FROM e JOIN a$k a ON e.dst = a.node GROUP BY 1),
         |${norm(s"hr$k", s"h$k", "h")}""".stripMargin
    }
    (init +: its).mkString(",\n") +
      s"""\nSELECT n.node, CAST(h.h AS DOUBLE) / 1000000.0 AS hub,
         |       CAST(a.a AS DOUBLE) / 1000000.0 AS auth
         |FROM nodes n JOIN h$iters h ON n.node = h.node
         |             JOIN a$iters a ON n.node = a.node
         |ORDER BY n.node""".stripMargin
  }

  /** BM25 CTE chain (query terms spark/query/fast, k1=1.2 b=0.75) up to
    * the per-term contribution relation `per`; shared by q_bm25_topk
    * and the RRF fusion oracle.
    */
  private val bm25CtesSql =
    """toks AS (
      |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
      |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
      |  FROM documents),
      |lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM toks),
      |stats AS (SELECT count(*) AS n,
      |  CAST(sum(CAST(len AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avgl
      |  FROM lens),
      |tf AS (
      |  SELECT doc_id, term, count(*) AS tf FROM (
      |    SELECT doc_id, unnest(t) AS term FROM toks)
      |  WHERE term IN ('spark', 'query', 'fast')
      |  GROUP BY 1, 2),
      |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |idf AS (SELECT term, round(ln((n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf,
      |               avgl
      |        FROM dft, stats),
      |per AS (
      |  SELECT tf.doc_id,
      |    round(idf.idf * (tf.tf * 2.2) /
      |      (tf.tf + 1.2 * (0.25 + (0.75 * lens.len) / idf.avgl)), 6) AS s
      |  FROM tf JOIN lens ON tf.doc_id = lens.doc_id
      |          JOIN idf ON tf.term = idf.term)""".stripMargin

  private def bm25SelectSql(limit: Int): String =
    s"""SELECT doc_id, round(CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE), 6) AS score
       |FROM per GROUP BY 1 ORDER BY score DESC, doc_id LIMIT $limit""".stripMargin

  private val simhashPairsSql =
    """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) tok
        |  FROM documents WHERE length(trim(text)) > 0),
        |h AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) h FROM toks),
        |bits AS (SELECT unnest(range(0, 60)) b),
        |votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE 0 END) v, count(*) nt
        |  FROM h CROSS JOIN bits GROUP BY 1, 2),
        |sig0 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN v * 2 > nt THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) sig
        |  FROM votes GROUP BY 1),
        |sigs AS (
        |  SELECT d.doc_id, CAST(coalesce(s.sig, 0) AS BIGINT) sig
        |  FROM documents d LEFT JOIN sig0 s USING (doc_id)),
        |bands AS (
        |  SELECT doc_id, sig, bi, (sig >> CAST(bi * 16 AS INT)) & 65535 bucket
        |  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) bi)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id id_a, a.sig sa, b.doc_id id_b, b.sig sb
        |  FROM bands a JOIN bands b
        |    ON a.bi = b.bi AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin

  private lazy val hllDistinctSql =
    s"""WITH toks AS (
         |  SELECT source,
         |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
         |  FROM documents WHERE length(trim(text)) > 0),
         |h AS (
         |  SELECT source, term,
         |    CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) AS h60
         |  FROM toks),
         |br AS (
         |  SELECT source, h60 >> 51 AS bkt,
         |    CASE WHEN h60 & ((CAST(1 AS BIGINT) << 51) - 1) = 0 THEN 52
         |      ELSE 52 - length(bin(h60 & ((CAST(1 AS BIGINT) << 51) - 1)))
         |    END AS rho
         |  FROM h),
         |reg AS (SELECT source, bkt, max(rho) AS reg FROM br GROUP BY 1, 2),
         |s AS (
         |  SELECT source,
         |    CAST(sum(CAST(1 AS BIGINT) << (52 - reg)) AS BIGINT)
         |      + (512 - count(*)) * (CAST(1 AS BIGINT) << 52) AS intsum
         |  FROM reg GROUP BY 1),
         |ex AS (SELECT source, count(DISTINCT term) AS n_exact FROM toks GROUP BY 1)
         |SELECT s.source, ex.n_exact,
         |  ${Sketches.HllNumerator} / CAST(intsum AS DOUBLE) AS hll_est
         |FROM s JOIN ex USING (source) ORDER BY source""".stripMargin

  private val exactDedupSql =
    """WITH fp AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f,
      |    row_number() OVER (PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      ORDER BY doc_id) AS rn
      |  FROM documents)
      |SELECT doc_id FROM fp WHERE rn = 1 ORDER BY doc_id""".stripMargin

  private val shingleSql =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |      unnest(list_transform(range(1, len(t) - 1),
      |        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
      |    FROM toks WHERE len(t) >= 3)),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1)""".stripMargin

  /** Direct shingle-bucket Jaccard — shared by q_dedup_jaccard AND
    * q_dedup_jaccard_prefix (prefix filtering loses no qualifying pair
    * and verifies exactly, so both plans compute this relation).
    */
  private val jaccardOracleSql =
    s"""WITH $shingleSql,
       |pairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) AS jaccard
       |FROM pairs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |WHERE round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** The jaccard-0.5 near-dup component CTE chain (through `reach`),
    * shared by q_dedup_components and the cluster-size histogram.
    */
  private lazy val componentsCtesSql =
    s"""$shingleSql,
       |pairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT id_a, id_b
       |  FROM pairs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |  WHERE round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) >= 0.5),
       |edges AS (SELECT id_a a, id_b b FROM near
       |          UNION ALL SELECT id_b, id_a FROM near),
       |reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a)""".stripMargin

  /** mirrors minhashLshPairs(n=3, 64 perms, 16 bands × 4 rows) at the
    * given verify threshold: md5-derived shingle hashes → per-perm min
    * over (h*a+b) % p → band key = the comma-joined signature slice →
    * candidate pairs sharing any band → exact-jaccard verify.
    * Everything is integer / exact arithmetic, so the sketch path gets
    * a FULL value oracle. Shared by q_dedup_minhash (0.8) and the
    * split-leakage audit (0.5).
    */
  private[queries] def minhashPairsOracleSql(threshold: Double): String =
    s"""WITH $shingleSql,
       |h AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) h FROM sh),
       |params AS (
       |  SELECT unnest(range(0, 64)) i,
       |    unnest([${mh64A.mkString(",")}]) a,
       |    unnest([${mh64B.mkString(",")}]) b),
       |sigs AS (
       |  SELECT doc_id, i, min((h * a + b) % ${graft.functions.MinHashAgg.Prime}) sig
       |  FROM h CROSS JOIN params GROUP BY 1, 2),
       |sigarr AS (SELECT doc_id, list(sig ORDER BY i) s FROM sigs GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, bi, array_to_string(s[bi*4+1:bi*4+4], ',') bkey
       |  FROM sigarr CROSS JOIN (SELECT unnest(range(0, 16)) bi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) jaccard
       |  FROM prs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id)
       |SELECT v.id_a, v.id_b, v.jaccard
       |FROM ver v JOIN cand USING (id_a, id_b)
       |WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** OPH densified-signature CTE chain (mirrors Dedup.ophSignatures:
    * one md5 hash per shingle, bin = h mod 64 keeps its min, an empty
    * bin borrows from cyclic distance d with offset d·100003 —
    * arg_min over d picks the FIRST non-empty bin, exactly the
    * coalesce-scan). Ends with `dense(doc_id, bin, sig)`.
    */
  private val ophDenseSql =
    s"""h AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) h FROM sh),
       |bmins AS (SELECT doc_id, h % 64 AS b, min(h) AS m FROM h GROUP BY 1, 2),
       |grid AS (SELECT doc_id, unnest(range(0, 64)) AS b
       |  FROM (SELECT DISTINCT doc_id FROM h)),
       |borrow AS (SELECT g.doc_id, g.b AS bin,
       |    m.m + ((m.b - g.b + 64) % 64) * ${graft.operators.Dedup.OphOffset} AS v,
       |    (m.b - g.b + 64) % 64 AS d
       |  FROM grid g JOIN bmins m USING (doc_id)),
       |dense AS (SELECT doc_id, bin, CAST(arg_min(v, d) AS BIGINT) AS sig
       |  FROM borrow GROUP BY 1, 2)""".stripMargin

  private[queries] def ophSigOracleSql: String =
    s"""WITH $shingleSql,
       |$ophDenseSql
       |SELECT doc_id, CAST(bin AS INT) AS bin, sig
       |FROM dense ORDER BY doc_id, bin""".stripMargin

  private[queries] def ophPairsOracleSql(threshold: Double): String =
    s"""WITH $shingleSql,
       |$ophDenseSql,
       |sigarr AS (SELECT doc_id, list(sig ORDER BY bin) s FROM dense GROUP BY 1),
       |bands AS (
       |  SELECT doc_id, bi, array_to_string(s[bi*4+1:bi*4+4], ',') bkey
       |  FROM sigarr CROSS JOIN (SELECT unnest(range(0, 16)) bi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id id_a, b.doc_id id_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |prs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |ver AS (
       |  SELECT id_a, id_b, round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) jaccard
       |  FROM prs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id)
       |SELECT v.id_a, v.id_b, v.jaccard
       |FROM ver v JOIN cand USING (id_a, id_b)
       |WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** Unigram vocabulary CTE chain (mirrors Unigram.vocab): span
    * explode at distinct-word scale, top-500 + all chars, integer
    * micro-nat ln scores. Ends with `voc(piece, cnt, score_micro)`
    * and keeps `words(word, n)` in scope.
    */
  private val unigramVocabCtes: String =
    """toks AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |w0 AS (SELECT unnest(t) AS word FROM toks),
      |words AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM w0
      |  WHERE length(word) > 0 GROUP BY 1),
      |spans0 AS (SELECT word, n,
      |    unnest(flatten(list_transform(range(1, length(word) + 1),
      |      j -> list_transform(range(j, least(length(word), j + 5) + 1),
      |        i -> substr(word, CAST(j AS INT), CAST(i - j + 1 AS INT))))))
      |      AS piece
      |  FROM words),
      |spans AS (SELECT piece, CAST(sum(n) AS BIGINT) AS cnt
      |  FROM spans0 GROUP BY 1),
      |topv AS (SELECT piece, cnt FROM spans ORDER BY cnt DESC, piece LIMIT 500),
      |chars AS (SELECT piece, cnt FROM spans WHERE length(piece) = 1),
      |alls AS (SELECT piece, max(cnt) AS cnt
      |  FROM (SELECT piece, cnt FROM topv UNION ALL SELECT piece, cnt FROM chars)
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM alls),
      |voc AS MATERIALIZED (SELECT piece, cnt,
      |    CAST(round(ln(CAST(cnt AS DOUBLE) / tot.tot) * 1000000) AS BIGINT)
      |      AS score_micro
      |  FROM alls, tot)""".stripMargin

  /** The 16-step unrolled Viterbi chain: s_m(word, b) = best micro-nat
    * sum over the first m characters; each step maxes over pieces
    * ending at m (length ≤ MaxPiece, so 6 predecessor steps). AS
    * MATERIALIZED throughout — each step is referenced by up to 6
    * later steps (the k-core unrolled-CTE lesson).
    */
  private def unigramDpSteps: String = {
    val maxP = graft.operators.Unigram.MaxPiece
    (1 to graft.operators.Unigram.MaxDpLen).map { m =>
      val prevs = (math.max(0, m - maxP) until m).map {
        case 0 => "SELECT word, 0 AS jj, CAST(0 AS BIGINT) AS b FROM dpw"
        case j => s"SELECT word, $j AS jj, b FROM s$j"
      }.mkString(" UNION ALL ")
      s"s$m AS MATERIALIZED (SELECT c.word, max(p.b + c.s) AS b" +
        s" FROM cand c JOIN ($prevs) p ON p.word = c.word AND p.jj = c.j - 1" +
        s" WHERE c.i = $m GROUP BY 1)"
    }.mkString(",\n")
  }

  private def unigramSegmentOracleSql: String = {
    val ubest = (1 to graft.operators.Unigram.MaxDpLen)
      .map(m => s"SELECT word, $m AS m, b FROM s$m")
      .mkString(" UNION ALL ")
    s"""WITH $unigramVocabCtes,
       |dpw AS (SELECT word FROM words
       |  WHERE length(word) <= ${graft.operators.Unigram.MaxDpLen}),
       |cand0 AS (SELECT word,
       |    unnest(flatten(list_transform(range(1, length(word) + 1),
       |      j -> list_transform(range(j, least(length(word), j + 5) + 1),
       |        i -> {'j': j, 'i': i,
       |          'p': substr(word, CAST(j AS INT), CAST(i - j + 1 AS INT))}))))
       |      AS c
       |  FROM dpw),
       |cand AS MATERIALIZED (SELECT c0.word, CAST(c0.c.j AS BIGINT) AS j,
       |    CAST(c0.c.i AS BIGINT) AS i, v.score_micro AS s
       |  FROM cand0 c0 JOIN voc v ON c0.c.p = v.piece),
       |$unigramDpSteps,
       |ubest AS ($ubest),
       |fin AS (SELECT w.word, w.n, u.b AS best_micro
       |  FROM words w JOIN ubest u
       |    ON u.word = w.word AND u.m = length(w.word)),
       |longw AS (SELECT lw.word, lw.n,
       |    CAST(sum(v.score_micro) AS BIGINT) AS best_micro
       |  FROM (SELECT word, n, unnest(range(1, length(word) + 1)) AS p
       |        FROM words
       |        WHERE length(word) > ${graft.operators.Unigram.MaxDpLen}) lw
       |  JOIN voc v ON substr(lw.word, CAST(lw.p AS INT), 1) = v.piece
       |  GROUP BY 1, 2)
       |SELECT word, n, best_micro FROM fin
       |UNION ALL SELECT word, n, best_micro FROM longw
       |ORDER BY word""".stripMargin
  }

  private val mhA = graft.functions.MinHashAgg.aCoefs(16)
  private val mhB = graft.functions.MinHashAgg.bCoefs(16)
  // the 64-perm stream minhashSignatureUdf uses (same lcg scheme)
  private val mh64A = graft.functions.MinHashAgg.aCoefs(64)
  private val mh64B = graft.functions.MinHashAgg.bCoefs(64)

  /** SQL list-of-lists literal of the first `n` LSH hyperplanes (dim 64)
    * — the same deterministic splitmix stream [[Similarity]]'s bucketsUdf
    * compiles in. Java's Double.toString round-trips, so DuckDB parses
    * the exact same doubles. Sign bits (the only thing buckets consume)
    * are then engine-portable: projections differ from the sequential
    * fold only in last-ulp summation order (~1e-16 relative), while the
    * closest projection to zero across the test grids is > 2.9e-6 —
    * seven orders of magnitude of margin (measured at sf0.001/sf0.01).
    */
  private[queries] def planeLists(n: Int): String =
    (0 until n).map(p => (0 until 64)
      .map(d => Similarity.planeComponent(p, d).toString)
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  /** The GD feature relation (doc_id, x1, x2, x3, y) — shared by the
    * q_quality_train and q_quality_predict oracles; fragments mirror
    * [[graft.operators.LinearModel]]'s columns (and reuse the proven
    * qualitySql target).
    */
  private lazy val gdFeatsSql =
    s"""f AS (
       |  SELECT doc_id,
       |    least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE)
       |      / 50.0, 1.0) x1,
       |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE)
       |      / greatest(CAST(length(text) AS DOUBLE), 1.0) x2,
       |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |        x -> list_contains(['the','a','an','of','and','or','in','to','is','it'], x))) AS DOUBLE)
       |      / greatest(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS DOUBLE), 1.0) x3,
       |    $qualitySql y
       |  FROM documents)""".stripMargin

  /** One full-batch GD round as CTE text (mirrors
    * [[graft.operators.LinearModel.fitQualityGd]]): residual with the
    * pinned left-assoc structure, DECIMAL(38,12)-exact gradient sums
    * cast back to double, then the weight update — `ww{k}` carries the
    * post-update weights, `gg{k}` the pre-update mse.
    */
  private def gdIterSql(k: Int): String = {
    val resid = "(w.a + w.b * x1 + w.c * x2 + w.d * x3 - y)"
    def g(term: String) =
      s"CAST(sum(CAST($term AS DECIMAL(38,12))) AS DOUBLE) / count(*)"
    s"""gg$k AS (
       |  SELECT ${g(resid)} g0, ${g(s"$resid * x1")} g1,
       |    ${g(s"$resid * x2")} g2, ${g(s"$resid * x3")} g3,
       |    ${g(s"$resid * $resid")} mse
       |  FROM f, ww${k - 1} w),
       |ww$k AS (
       |  SELECT w.a - 0.5 * g.g0 a, w.b - 0.5 * g.g1 b,
       |    w.c - 0.5 * g.g2 c, w.d - 0.5 * g.g3 d
       |  FROM ww${k - 1} w, gg$k g)""".stripMargin
  }

  /** The logistic gate's shared CTEs: sigmoid/ln lookup tables whose
    * literal values come from THE SAME driver arrays the Spark plan
    * embeds ([[graft.operators.LinearModel.sigmoidTable]] — identical
    * constants by construction, so no cross-engine exp/ln ulp risk),
    * the hashed 1/2-gram feature relation with mean-normalized counts
    * + bias rows, labels, and the zero weight vector.
    *
    * `buckets` parameterizes ONLY the hash modulus, the bias-bucket
    * index and the weight-vector length — the CTE structure is
    * bucket-count-agnostic (weights are a RELATION in the oracle, so
    * the 64-bucket gates and the 8192 to 2M-bucket gates share one
    * oracle family).
    */
  private def logitFeatSqlFor(buckets: Int): String = {
    def l(a: Array[Double]) = a.mkString("[", ",", "]")
    s"""sigt AS MATERIALIZED (SELECT unnest(range(512)) AS idx,
       |    unnest(${l(graft.operators.LinearModel.sigmoidTable)}) AS sig,
       |    unnest(${l(graft.operators.LinearModel.lnSigTable)}) AS lnsig,
       |    unnest(${l(graft.operators.LinearModel.ln1mSigTable)}) AS ln1m),
       |ltok AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
       |    ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS t
       |  FROM documents),
       |lgrams AS (
       |  SELECT doc_id, unnest(t) AS gram FROM ltok
       |  UNION ALL
       |  SELECT doc_id, unnest(list_transform(range(1, len(t)),
       |    i -> t[i] || ' ' || t[i + 1])) AS gram
       |  FROM ltok WHERE len(t) >= 2),
       |lfeat0 AS (SELECT doc_id,
       |    CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % $buckets AS bucket,
       |    count(*) AS cnt
       |  FROM lgrams GROUP BY 1, 2),
       |lfeat AS MATERIALIZED (
       |  SELECT doc_id, bucket, CAST(cnt AS DOUBLE)
       |      / CAST(sum(cnt) OVER (PARTITION BY doc_id) AS DOUBLE) AS xnorm
       |  FROM lfeat0
       |  UNION ALL
       |  SELECT doc_id, CAST($buckets AS BIGINT) AS bucket, 1.0 AS xnorm
       |  FROM documents),
       |ld AS MATERIALIZED (SELECT doc_id,
       |    CASE WHEN ($qualitySql) >= 0.5 THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |lnn AS (SELECT count(*) AS n FROM documents),
       |wb0 AS (SELECT unnest(range(${buckets + 1})) AS bucket, 0.0 AS w)""".stripMargin
  }

  private lazy val logitFeatSql: String = logitFeatSqlFor(64)

  /** One unrolled logistic-GD round (mirrors
    * [[graft.operators.LinearModel.fitLogitGd]]): per-doc z from
    * DECIMAL(38,12)-exact xnorm·w sums, table-looked-up σ̃, per-bucket
    * gradient and mean ln-loss, then the weight update — every IEEE op
    * in the same order as the Scala driver loop.
    */
  private def logitIterSql(k: Int, lr: String = "0.5"): String =
    s"""lz$k AS MATERIALIZED (SELECT f.doc_id,
       |    CAST(sum(CAST(f.xnorm * w.w AS DECIMAL(38,12))) AS DOUBLE) AS z
       |  FROM lfeat f JOIN wb${k - 1} w USING (bucket) GROUP BY 1),
       |ls$k AS MATERIALIZED (SELECT z.doc_id, d.y, sg.sig, sg.lnsig, sg.ln1m
       |  FROM lz$k z JOIN ld d USING (doc_id) JOIN sigt sg
       |    ON sg.idx = least(greatest(
       |      CAST(floor((z.z + 8.0) * 32.0) AS BIGINT), 0), 511)),
       |lg$k AS (SELECT f.bucket,
       |    CAST(sum(CAST((s.sig - s.y) * f.xnorm AS DECIMAL(38,12)))
       |      AS DOUBLE) AS g
       |  FROM lfeat f JOIN ls$k s USING (doc_id) GROUP BY 1),
       |ll$k AS (SELECT CAST(sum(CAST(-(y * lnsig + (1.0 - y) * ln1m)
       |      AS DECIMAL(38,12))) AS DOUBLE) / (SELECT n FROM lnn) AS loss
       |  FROM ls$k),
       |wb$k AS MATERIALIZED (SELECT w.bucket,
       |    w.w - $lr * (coalesce(g.g, 0.0) / n.n) AS w
       |  FROM wb${k - 1} w LEFT JOIN lg$k g USING (bucket), lnn n)""".stripMargin

  /** Shared by q_logit_predict and its streaming twin q_stream_logit:
    * scoring is a stateless projection of the trained wb3 weights, so
    * the streamed result is bit-identical to the batch apply.
    */
  private def logitPredictOracleSqlFor(buckets: Int): String =
    s"""WITH ${logitFeatSqlFor(buckets)},
       |${logitIterSql(1)},
       |${logitIterSql(2)},
       |${logitIterSql(3)}
       |SELECT z.doc_id, sg.sig AS sigma, (sg.sig >= 0.5) AS pred
       |FROM (SELECT f.doc_id,
       |    CAST(sum(CAST(f.xnorm * w.w AS DECIMAL(38,12))) AS DOUBLE) AS z
       |  FROM lfeat f JOIN wb3 w USING (bucket) GROUP BY 1) z
       |JOIN sigt sg ON sg.idx = least(greatest(
       |  CAST(floor((z.z + 8.0) * 32.0) AS BIGINT), 0), 511)
       |ORDER BY doc_id""".stripMargin

  private lazy val logitPredictOracleSql: String =
    logitPredictOracleSqlFor(64)

  /** Unrolled BPE training rounds (mirrors [[graft.operators.Bpe]]):
    * `w0` is the spaced-symbol word-frequency table, then per round k:
    * `p$k` adjacent-pair counts, `b$k` the (cnt DESC, s1, s2) argmax,
    * `w$k` the literal-replace merge apply — DuckDB `replace` shares
    * Spark's leftmost-non-overlapping semantics, which is the BPE
    * greedy left-to-right merge.
    */
  private[queries] def bpeRoundsSql(merges: Int): String = {
    val sb = new StringBuilder(
      """w0 AS (
        |  SELECT word, ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS spaced,
        |    count(*) AS wc
        |  FROM (SELECT unnest(string_split_regex(text, '\s+')) AS word
        |        FROM documents)
        |  WHERE len(word) BETWEEN 1 AND 64 GROUP BY 1)""".stripMargin)
    for (k <- 1 to merges) sb ++=
      s""",
         |p$k AS (
         |  SELECT s[i] AS s1, s[i + 1] AS s2, sum(wc) AS cnt
         |  FROM (SELECT string_split(trim(spaced), ' ') AS s, wc,
         |          unnest(range(1, len(string_split(trim(spaced), ' ')))) AS i
         |        FROM w${k - 1})
         |  GROUP BY 1, 2),
         |b$k AS (SELECT s1, s2, cnt FROM p$k ORDER BY cnt DESC, s1, s2 LIMIT 1),
         |w$k AS (
         |  SELECT word, replace(spaced, ' ' || b.s1 || ' ' || b.s2 || ' ',
         |                 ' ' || b.s1 || b.s2 || ' ') AS spaced, wc
         |  FROM w${k - 1}, b$k b)""".stripMargin
    sb.toString
  }

  /** The [[Similarity.randomProject]] matrix as SQL literals — same
    * splitmix stream, offset plane family.
    */
  private def projPlaneLists(n: Int): String =
    (0 until n).map(p => (0 until 64)
      .map(d => Similarity.planeComponent(Similarity.ProjPlaneOffset + p, d).toString)
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  /** Embedding-space dedup composition, LSH shape as a parameter — the
    * gate runs both the small-corpus shape (8,12) and the scale shape
    * (12,24), so the config a real cluster would pick is under the same
    * hash oracle as the demo config.
    */
  private def embedDedup(s: org.apache.spark.sql.SparkSession, d: String,
                         nPlanes: Int, nTables: Int): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val pairs = Similarity.cosinePairsLsh(emb, threshold = 0.3, dim = 64,
      nPlanes = nPlanes, nTables = nTables)
    graft.operators.Dedup.connectedComponents(
        pairs.select("id_a", "id_b"),
        emb.select(col("vec_id").cast("long").as("id")), edgesDistinct = true)
      .orderBy("id")
  }

  /** The [[embedDedup]] oracle at a given LSH shape: replayed-hyperplane
    * pair generation + exact-cosine verify feeding a recursive
    * transitive closure over every vector (same seed-all-nodes shape as
    * q_dedup_components).
    */
  private def embedDedupSql(nPlanes: Int, nTables: Int): String = {
    val total = nPlanes * nTables
    s"""WITH RECURSIVE planes AS (
       |  SELECT unnest(range(0, $total)) i, unnest(${planeLists(total)}) pl),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
       |  FROM embeddings),
       |proj AS (
       |  SELECT vec_id, i // $nPlanes t,
       |    CASE WHEN list_dot_product(emb, pl) > 0
       |      THEN 1 << CAST(i % $nPlanes AS INT) ELSE 0 END pbit
       |  FROM e CROSS JOIN planes),
       |buck AS (SELECT vec_id, t, sum(pbit) bucket FROM proj GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
       |  FROM buck a JOIN buck b
       |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |${cosineOverCandidatesSql("id_a", "id_b")},
       |near AS (SELECT id_a, id_b FROM sims WHERE cos_sim >= 0.3),
       |edges AS (SELECT id_a a, id_b b FROM near
       |          UNION ALL SELECT id_b, id_a FROM near),
       |reach(node, lbl) AS (
       |  SELECT CAST(vec_id AS BIGINT), CAST(vec_id AS BIGINT) FROM embeddings
       |  UNION
       |  SELECT e2.b, r.lbl FROM reach r JOIN edges e2 ON r.node = e2.a)
       |SELECT node AS id, min(lbl) AS label
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Exact-cosine re-rank shared by the ANN/LSH oracles: candidate pairs
    * (cand: left_id, right_id) joined to embeddings, unnest-sum cosine
    * rounded to 6 — the same formulation the q_embed_topk full oracle
    * already hash-matches against Spark's single-pass native fold.
    */
  private[queries] def cosineOverCandidatesSql(leftCol: String, rightCol: String): String =
    s"""pairs AS (
       |  SELECT c.$leftCol, c.$rightCol, a.embedding ea, b.embedding eb
       |  FROM cand c JOIN embeddings a ON a.vec_id = c.$leftCol
       |               JOIN embeddings b ON b.vec_id = c.$rightCol),
       |flat AS (SELECT $leftCol, $rightCol, unnest(ea) x, unnest(eb) y FROM pairs),
       |sims AS (
       |  SELECT $leftCol, $rightCol,
       |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
       |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cos_sim
       |  FROM flat GROUP BY 1, 2)""".stripMargin

  /** Winnowing fingerprint relation (doc_id, fp) — shared by the
    * q_text_winnow and q_doc_decontam oracles (k=4, w=5, md5-derived
    * hashes; mirrors [[graft.operators.TextOps.winnowUdf]]).
    */
  private val winnowFpsSql =
    """toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents
      |  WHERE length(trim(text)) > 0),
      |grams AS (
      |  SELECT doc_id, list_transform(range(1, len(t) - 2),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) gs
      |  FROM toks WHERE len(t) >= 4),
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(gs, g -> CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)) h
      |  FROM grams),
      |sel AS (
      |  SELECT doc_id, CASE WHEN len(h) <= 5 THEN [list_min(h)]
      |    ELSE list_distinct(list_transform(range(1, len(h) - 3),
      |      p -> list_min(h[p:p+4]))) END f
      |  FROM hs),
      |fps AS (SELECT doc_id, unnest(f) AS fp FROM sel)""".stripMargin

  private lazy val docDecontamSql =
    s"""WITH $winnowFpsSql,
       |evalfps AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 10)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id >= 10 AND NOT EXISTS (
       |  SELECT 1 FROM fps JOIN evalfps USING (fp) WHERE fps.doc_id = d.doc_id)
       |ORDER BY doc_id""".stripMargin

  /** The qualityScore expression in DuckDB SQL (mirrors
    * [[graft.operators.TextOps.qualityScore]]; also inlined in the
    * q_text_stats oracle).
    */
  private[queries] val qualitySql =
    """round(0.4 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) / 50.0, 1.0)
      |  + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
      |      / greatest(CAST(length(text) AS DOUBLE), 1.0))
      |  + 0.3 * least(5.0 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> list_contains(['the','a','an','of','and','or','in','to','is','it'], x))) AS DOUBLE)
      |      / greatest(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |          ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE), 1.0), 1.0),
      |  6)""".stripMargin

  /** Survivor-selection oracle (components by recursive CTE + the
    * replayed quality score + a ranking window) — shared verbatim by
    * q_dedup_best (direct jaccardPairs composition) and
    * q_dedup_best_scale (prefix-filtered pairs through the FromPairs
    * altitude): prefix filtering is lossless, so both must hash-match
    * the same relation.
    */
  private lazy val bestSurvivorOracleSql =
    s"""WITH RECURSIVE $shingleSql,
       |pairs AS (
       |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
       |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT id_a, id_b
       |  FROM pairs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
       |  WHERE round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) >= 0.5),
       |edges AS (SELECT id_a a, id_b b FROM near
       |          UNION ALL SELECT id_b, id_a FROM near),
       |reach(node, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster FROM reach GROUP BY 1),
       |q AS (SELECT doc_id, $qualitySql AS score FROM documents),
       |ranked AS (
       |  SELECT c.cluster, c.doc_id, q.score,
       |    row_number() OVER (PARTITION BY c.cluster
       |      ORDER BY q.score DESC, c.doc_id) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster) AS cluster_size
       |  FROM comp c JOIN q USING (doc_id))
       |SELECT cluster, doc_id AS survivor_id,
       |  CAST(cluster_size AS BIGINT) AS cluster_size, score
       |FROM ranked WHERE rn = 1 ORDER BY cluster""".stripMargin

  /** The langId heuristic as CTE text (`scored` → `picked`), carrying
    * `extraCols` through — shared by the q_text_langid and
    * q_lang_confusion oracles so the marker lists and tie-break order
    * can't diverge from the single Spark-side [[TextOps.langId]].
    */
  private def langPickedSql(extraCols: String): String =
    s"""scored AS (
       |  SELECT doc_id$extraCols,
       |    len(list_intersect(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
       |      ['the','and','of','is','with'])) AS s_en,
       |    len(list_intersect(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
       |      ['der','die','und','ist','mit'])) AS s_de,
       |    len(list_intersect(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
       |      ['le','la','et','est','avec'])) AS s_fr,
       |    len(list_intersect(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+')),
       |      ['el','los','y','es','con'])) AS s_es,
       |    regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') AS has_cjk
       |  FROM documents),
       |picked AS (
       |  SELECT doc_id$extraCols, CASE
       |    WHEN has_cjk THEN 'zh'
       |    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
       |    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
       |    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
       |    WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
       |    ELSE 'und' END AS lang_pred
       |  FROM scored)""".stripMargin

  /** One Lloyd round as CTE text: assignment of every vector to its
    * nearest `c{k-1}` centroid (squared-L2, ties → lowest cell, matching
    * the compiled `nearest`'s strict-< first-wins), then means per cell
    * with empty cells keeping the previous centroid.
    */
  private[queries] def ivfIterSql(k: Int): String =
    s"""d$k AS (
       |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
       |  FROM ev e JOIN c${k - 1} c USING (pos) GROUP BY 1, 2),
       |a$k AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
       |    FROM d$k) WHERE rn = 1),
       |m$k AS (
       |  SELECT a.cell, e.pos, sum(e.x) / count(*) y
       |  FROM a$k a JOIN ev e USING (vec_id) GROUP BY 1, 2),
       |c$k AS (
       |  SELECT p.cell, p.pos, coalesce(m.y, p.y) y
       |  FROM c${k - 1} p LEFT JOIN m$k m ON m.cell = p.cell AND m.pos = p.pos)""".stripMargin

  /** One PQ subspace's k-means replay (mirrors `Similarity.pqEncode`):
    * positions re-based to the subspace window, seeds = the same 16
    * lowest-id vectors' slices, `iters` Lloyd rounds with the ivf
    * rules (argmin ties → lowest cell, empty cells keep previous
    * centroid), final assignment emits (vec_id, sub, code, sub_err).
    */
  private def pqSubSql(sub: Int, subDim: Int, iters: Int): String = {
    val off = sub * subDim
    def iter(k: Int): String =
      s"""s${sub}d$k AS (
         |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev$sub e JOIN s${sub}c${k - 1} c USING (pos) GROUP BY 1, 2),
         |s${sub}a$k AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM s${sub}d$k) WHERE rn = 1),
         |s${sub}m$k AS (
         |  SELECT a.cell, e.pos, sum(e.x) / count(*) y
         |  FROM s${sub}a$k a JOIN ev$sub e USING (vec_id) GROUP BY 1, 2),
         |s${sub}c$k AS (
         |  SELECT p.cell, p.pos, coalesce(m.y, p.y) y
         |  FROM s${sub}c${k - 1} p LEFT JOIN s${sub}m$k m
         |    ON m.cell = p.cell AND m.pos = p.pos)""".stripMargin
    s"""ev$sub AS (
       |  SELECT vec_id, pos - $off AS pos, x FROM ev
       |  WHERE pos >= $off AND pos < ${off + subDim}),
       |s${sub}c0 AS (
       |  SELECT sd.cell, e.pos, e.x y FROM seedids sd JOIN ev$sub e USING (vec_id)),
       |${(1 to iters).map(iter).mkString(",\n")},
       |s${sub}df AS (
       |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
       |  FROM ev$sub e JOIN s${sub}c$iters c USING (pos) GROUP BY 1, 2),
       |s${sub}res AS (
       |  SELECT vec_id, $sub AS sub, cell AS code, round(dist, 6) AS sub_err
       |  FROM (
       |    SELECT vec_id, cell, dist,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
       |    FROM s${sub}df) WHERE rn = 1)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // mirrors pqEncode(dim=64, m=4, nCents=16, nIters=2): 4 independent
    // 16-dim subspace fits, each the same engine-portable Lloyd replay
    // as the IVF oracle
    "q_embed_pq" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |${(0 until 4).map(pqSubSql(_, 16, 2)).mkString(",\n")}
         |SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code,
         |  sub_err
         |FROM (${(0 until 4).map(s => s"SELECT * FROM s${s}res")
            .mkString(" UNION ALL ")})
         |ORDER BY vec_id, sub""".stripMargin,

    // mirrors pqTopK(dim=64, k=10, m=4, nCents=16, nIters=2): the
    // converged subspace centroids + codes from the pq replay, ADC
    // distance = sum of the query-subvector-to-coded-centroid L2s,
    // round6'd before ranking exactly as the operator does
    "q_embed_pq_topk" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |${(0 until 4).map(pqSubSql(_, 16, 2)).mkString(",\n")},
         |${(0 until 4).map(s =>
            s"""qd$s AS (
               |  SELECT e.vec_id query_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
               |  FROM ev$s e JOIN s${s}c2 c USING (pos)
               |  WHERE e.vec_id < 5 GROUP BY 1, 2),
               |a$s AS (
               |  SELECT q.query_id, r.vec_id, q.dist
               |  FROM s${s}res r JOIN qd$s q ON q.cell = r.code)""".stripMargin)
            .mkString(",\n")},
         |adc AS (
         |  SELECT a0.query_id, a0.vec_id,
         |    round(a0.dist + a1.dist + a2.dist + a3.dist, 6) AS adc_dist
         |  FROM a0 JOIN a1 USING (query_id, vec_id)
         |  JOIN a2 USING (query_id, vec_id) JOIN a3 USING (query_id, vec_id)),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, vec_id) AS INT) AS rank
         |  FROM adc)
         |SELECT query_id, vec_id, adc_dist, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // mirrors ivfTopK(dim=64, k=10, nCells=16, nIters=3, nProbe=4):
    // seeds = 16 lowest-id vectors, 3 Lloyd rounds (ivfIterSql), final
    // assignment + 4-probe selection under the converged centroids,
    // exact-cosine re-rank. All argmin/probe decisions have >= 1.2e-4
    // distance margin on the test grids vs ~1e-13 summation-order noise,
    // so both engines make identical discrete choices.
    "q_embed_ivf" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c0 AS (SELECT s.cell, e.pos, e.x y FROM seedids s JOIN ev e USING (vec_id)),
         |${ivfIterSql(1)},
         |${ivfIterSql(2)},
         |${ivfIterSql(3)},
         |d4 AS (
         |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev e JOIN c3 c USING (pos) GROUP BY 1, 2),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id query_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4 WHERE vec_id < 5) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, v.vec_id
         |  FROM probes p JOIN cells v USING (cell)),
         |${cosineOverCandidatesSql("query_id", "vec_id")},
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
         |  FROM sims)
         |SELECT query_id, vec_id, cos_sim, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // mirrors ivfPqTopK(dim=64, k=10, nCells=16, cellIters=3, nProbe=4,
    // m=4, nCents=16, pqIters=2): the q_embed_ivf coarse chain prunes
    // candidates, the q_embed_pq subspace replays supply codes +
    // query-to-centroid distances, ADC sums them left-assoc and round6s
    // before ranking — all fragments individually hash-proven.
    "q_embed_ivfpq" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c0 AS (SELECT s.cell, e.pos, e.x y FROM seedids s JOIN ev e USING (vec_id)),
         |${ivfIterSql(1)},
         |${ivfIterSql(2)},
         |${ivfIterSql(3)},
         |d4 AS (
         |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev e JOIN c3 c USING (pos) GROUP BY 1, 2),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4) WHERE rn = 1),
         |probes AS (
         |  SELECT vec_id query_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4 WHERE vec_id < 5) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, v.vec_id
         |  FROM probes p JOIN cells v USING (cell)),
         |${(0 until 4).map(pqSubSql(_, 16, 2)).mkString(",\n")},
         |${(0 until 4).map(s =>
      s"""qd$s AS (
         |  SELECT e.vec_id query_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev$s e JOIN s${s}c2 c USING (pos)
         |  WHERE e.vec_id < 5 GROUP BY 1, 2),
         |pa$s AS (
         |  SELECT q.query_id, r.vec_id, q.dist
         |  FROM s${s}res r JOIN qd$s q ON q.cell = r.code)""".stripMargin)
      .mkString(",\n")},
         |adc AS (
         |  SELECT c.query_id, c.vec_id,
         |    round(pa0.dist + pa1.dist + pa2.dist + pa3.dist, 6) AS adc_dist
         |  FROM cand c JOIN pa0 USING (query_id, vec_id)
         |  JOIN pa1 USING (query_id, vec_id) JOIN pa2 USING (query_id, vec_id)
         |  JOIN pa3 USING (query_id, vec_id)),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist, vec_id) AS INT) AS rank
         |  FROM adc)
         |SELECT query_id, vec_id, adc_dist, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_quality_train" ->
      s"""WITH $gdFeatsSql,
         |ww0 AS (SELECT 0.0 a, 0.0 b, 0.0 c, 0.0 d),
         |${gdIterSql(1)},
         |${gdIterSql(2)},
         |${gdIterSql(3)}
         |SELECT CAST(1 AS INT) iter, w.a w0, w.b w1, w.c w2, w.d w3, g.mse mse
         |  FROM ww1 w, gg1 g
         |UNION ALL
         |SELECT CAST(2 AS INT), w.a, w.b, w.c, w.d, g.mse FROM ww2 w, gg2 g
         |UNION ALL
         |SELECT CAST(3 AS INT), w.a, w.b, w.c, w.d, g.mse FROM ww3 w, gg3 g
         |ORDER BY iter""".stripMargin,
    "q_quality_predict" ->
      s"""WITH $gdFeatsSql,
         |ww0 AS (SELECT 0.0 a, 0.0 b, 0.0 c, 0.0 d),
         |${gdIterSql(1)},
         |${gdIterSql(2)},
         |${gdIterSql(3)}
         |SELECT doc_id, w.a + w.b * x1 + w.c * x2 + w.d * x3 pred,
         |  abs(w.a + w.b * x1 + w.c * x2 + w.d * x3 - y) abs_err
         |FROM f, ww3 w ORDER BY doc_id""".stripMargin,
    "q_quality_logit" ->
      s"""WITH $logitFeatSql,
         |${logitIterSql(1)},
         |${logitIterSql(2)},
         |${logitIterSql(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS INT) AS iter, w.bucket, w.w AS w, l.loss
         |  FROM wb1 w, ll1 l
         |  UNION ALL
         |  SELECT CAST(2 AS INT), w.bucket, w.w, l.loss FROM wb2 w, ll2 l
         |  UNION ALL
         |  SELECT CAST(3 AS INT), w.bucket, w.w, l.loss FROM wb3 w, ll3 l)
         |ORDER BY iter, bucket""".stripMargin,

    "q_logit_predict" -> logitPredictOracleSql,

    "q_logit_big" -> logitPredictOracleSqlFor(8192),
    "q_logit_huge" -> logitPredictOracleSqlFor(262144),
    "q_logit_2m" -> logitPredictOracleSqlFor(2097152),

    // exact PR curve off the same trained wb3 scores: descending
    // cumulative confusion counts, intRatio6 twins for both ratios
    "q_logit_pr" ->
      s"""WITH $logitFeatSql,
         |${logitIterSql(1)},
         |${logitIterSql(2)},
         |${logitIterSql(3)},
         |sc AS (SELECT f.doc_id,
         |    CAST(sum(CAST(f.xnorm * w.w AS DECIMAL(38,12))) AS DOUBLE) AS z
         |  FROM lfeat f JOIN wb3 w USING (bucket) GROUP BY 1),
         |sl AS (SELECT sc.z, d.y FROM sc JOIN ld d USING (doc_id)),
         |bys AS (SELECT z AS threshold, count(*) AS n,
         |    sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS np
         |  FROM sl GROUP BY 1),
         |c AS (SELECT threshold, n, np,
         |    sum(np) OVER (ORDER BY threshold DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         |    sum(n) OVER (ORDER BY threshold DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM bys),
         |pt AS (SELECT sum(np) AS p FROM bys)
         |SELECT threshold, CAST(tp AS BIGINT) AS tp,
         |  CAST(cum - tp AS BIGINT) AS fp,
         |  CAST((2000000 * tp + cum) // (2 * cum) AS DOUBLE) / 1000000.0
         |    AS "precision",
         |  CASE WHEN pt.p = 0 THEN NULL
         |    ELSE CAST((2000000 * tp + pt.p) // (2 * pt.p) AS DOUBLE)
         |      / 1000000.0 END AS recall
         |FROM c, pt ORDER BY threshold DESC""".stripMargin,

    // the stream scores to bit-parity with the batch apply: scoring is
    // a stateless per-doc projection of the same trained weights
    "q_stream_logit" -> logitPredictOracleSql,

    "q_embed_project" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 16)) i, unnest(${projPlaneLists(16)}) pl),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings),
         |fl AS (SELECT vec_id, i, unnest(emb) x, unnest(pl) p
         |       FROM e CROSS JOIN planes)
         |SELECT vec_id, CAST(i AS INT) AS pos,
         |  round(sum(x * p) * sqrt(3.0 / 16), 6) AS val
         |FROM fl GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // SemDeDup: same replayed k-means as q_embed_ivf, intra-cell pairs
    // only, duplicate = EXISTS smaller-id cluster-mate at cos >= 0.3
    "q_semdedup" ->
      s"""WITH ev AS (
         |  SELECT vec_id, i - 1 pos, CAST(x AS DOUBLE) x
         |  FROM (SELECT vec_id, unnest(embedding) x,
         |        generate_subscripts(embedding, 1) i FROM embeddings)),
         |seedids AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 cell
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c0 AS (SELECT s.cell, e.pos, e.x y FROM seedids s JOIN ev e USING (vec_id)),
         |${ivfIterSql(1)},
         |${ivfIterSql(2)},
         |${ivfIterSql(3)},
         |d4 AS (
         |  SELECT e.vec_id, c.cell, sum((c.y - e.x) * (c.y - e.x)) dist
         |  FROM ev e JOIN c3 c USING (pos) GROUP BY 1, 2),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) rn
         |    FROM d4) WHERE rn = 1),
         |cand AS (
         |  SELECT a.vec_id id_a, b.vec_id id_b
         |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id),
         |${cosineOverCandidatesSql("id_a", "id_b")},
         |near AS (SELECT id_a, id_b FROM sims WHERE cos_sim >= 0.3),
         |ends AS (SELECT id_a v FROM near UNION ALL SELECT id_b v FROM near),
         |nn AS (SELECT v vec_id, count(*) n_near FROM ends GROUP BY 1),
         |dup AS (SELECT DISTINCT id_b vec_id FROM near)
         |SELECT c.vec_id, CAST(c.cell AS INT) AS cell,
         |  coalesce(nn.n_near, 0) AS n_near,
         |  (dup.vec_id IS NULL) AS keep
         |FROM cells c LEFT JOIN nn USING (vec_id) LEFT JOIN dup USING (vec_id)
         |ORDER BY c.vec_id""".stripMargin,
    "q_curate_pipeline" ->
      s"""WITH RECURSIVE pass AS (
         |  SELECT doc_id, text FROM documents WHERE $qualitySql >= 0.5),
         |toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') t FROM pass),
         |sh AS (
         |  SELECT DISTINCT doc_id, g FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(t) - 1),
         |        i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
         |    FROM toks WHERE len(t) >= 3)),
         |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |near AS (
         |  SELECT id_a, id_b
         |  FROM prs JOIN sizes x ON id_a = x.doc_id JOIN sizes y ON id_b = y.doc_id
         |  WHERE round(CAST(c AS DOUBLE) / (x.n + y.n - c), 6) >= 0.5),
         |edges AS (SELECT id_a a, id_b b FROM near
         |          UNION ALL SELECT id_b, id_a FROM near),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM pass
         |  UNION
         |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON r.node = e.a),
         |comp AS (SELECT node AS doc_id, min(lbl) AS component FROM reach GROUP BY 1)
         |SELECT doc_id,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
         |  FROM comp WHERE doc_id = component)
         |ORDER BY doc_id""".stripMargin,

    "q_lang_confusion" ->
      s"""WITH ${langPickedSql(", lang")}
         |SELECT lang, lang_pred, count(*) AS n FROM picked
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_components" ->
      s"""WITH RECURSIVE $componentsCtesSql
         |SELECT node AS doc_id, min(lbl) AS component
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_cluster_sizes" ->
      s"""WITH RECURSIVE $componentsCtesSql,
         |comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY 1),
         |csz AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters
         |FROM csz GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_best" -> bestSurvivorOracleSql,
    // lossless prefix filtering -> identical pairs -> identical
    // survivors; the shared SQL is the equivalence claim
    "q_dedup_best_scale" -> bestSurvivorOracleSql,

    "q_doc_decontam" -> docDecontamSql,
    // the stream is a stateless filter — one micro-batch IS the batch
    "q_stream_decontam" -> docDecontamSql,

    "q_source_overlap" ->
      s"""WITH $winnowFpsSql,
         |sfps AS (
         |  SELECT DISTINCT d.source AS grp, f.fp
         |  FROM fps f JOIN documents d USING (doc_id))
         |SELECT a.grp AS group_a, b.grp AS group_b, count(*) AS n_shared
         |FROM sfps a JOIN sfps b ON a.fp = b.fp AND a.grp < b.grp
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_bpe_train" ->
      s"""WITH ${bpeRoundsSql(8)}
         |SELECT * FROM (
         |${(1 to 8).map(k =>
            s"  SELECT $k AS iter, s1, s2, CAST(cnt AS BIGINT) AS pair_count FROM b$k")
            .mkString(" UNION ALL\n")}
         |) ORDER BY iter""".stripMargin,

    // merges never cross word boundaries, so tokenizing the corpus
    // equals re-splitting the merged word states weighted by frequency
    "q_bpe_tokenize" ->
      s"""WITH ${bpeRoundsSql(8)},
         |tok AS (SELECT unnest(string_split(trim(spaced), ' ')) AS token, wc
         |        FROM w8)
         |SELECT token, CAST(sum(wc) AS BIGINT) AS freq
         |FROM tok WHERE len(token) > 0
         |GROUP BY 1 ORDER BY freq DESC, token LIMIT 50""".stripMargin,

    "q_seq_pack_bpe" ->
      s"""WITH ${bpeRoundsSql(8)},
         |dict AS (SELECT word, len(string_split(trim(spaced), ' ')) AS nt
         |         FROM w8),
         |docw AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |         FROM documents),
         |t AS (
         |  SELECT d.doc_id, coalesce(sum(k.nt), 0) AS n_tokens
         |  FROM documents d
         |  LEFT JOIN (SELECT doc_id, nt FROM docw JOIN dict USING (word)) k
         |    ON d.doc_id = k.doc_id
         |  GROUP BY 1),
         |c AS (
         |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
         |  FROM t)
         |SELECT doc_id, n_tokens, prev // 512 AS seq_id, prev % 512 AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM t)
        |SELECT doc_id, n_tokens, prev // 512 AS seq_id, prev % 512 AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // window-hash cutpoints + list assembly; md5 fingerprints per span
    "q_content_chunks" ->
      """WITH d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
        |  FROM documents WHERE text IS NOT NULL AND length(text) >= 1),
        |c AS (SELECT doc_id, text, L,
        |    CASE WHEN L >= 9 THEN list_filter(range(8, L),
        |      i -> CAST(('0x' || substr(md5(substr(text, CAST(i - 7 AS INT), 8)),
        |        1, 8)) AS BIGINT) % 64 = 0)
        |    ELSE CAST([] AS BIGINT[]) END AS cuts
        |  FROM d),
        |b AS (SELECT doc_id, text,
        |    list_prepend(CAST(1 AS BIGINT),
        |      list_transform(cuts, i -> i + 1)) AS starts,
        |    list_append(cuts, L) AS ends
        |  FROM c),
        |fr AS (SELECT doc_id, text, starts, ends,
        |    unnest(range(1, len(starts) + 1)) AS j FROM b)
        |SELECT doc_id, CAST(j - 1 AS INT) AS chunk_idx,
        |  starts[j] AS start, ends[j] - starts[j] + 1 AS chunk_len,
        |  md5(substr(text, CAST(starts[j] AS INT),
        |    CAST(ends[j] - starts[j] + 1 AS INT))) AS fp
        |FROM fr ORDER BY doc_id, chunk_idx""".stripMargin,

    // context-window chunking replayed as list slicing: starts advance
    // by stride=24, chunk count = max(1, ceil((n - overlap)/stride))
    "q_doc_chunk" ->
      """WITH toks AS (
        |  SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
        |chunks AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, greatest(1, CAST(ceil((n - 8) / 24.0) AS BIGINT))),
        |    i -> struct_pack(cid := i, c := t[i*24+1 : i*24+32]))) AS g
        |  FROM nz)
        |SELECT doc_id, CAST(g.cid AS BIGINT) AS chunk_id,
        |  CAST(len(g.c) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(g.c, ' ') AS chunk_text
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin,

    // mirrors htmlToText over the id-planted page: script/style blocks
    // with contents, then all tags, then entities (&amp; LAST), then
    // whitespace collapse — RE2-compatible patterns, no backreferences
    "q_html_text" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    '<html><head><title>d' || CAST(doc_id AS VARCHAR)
        |    || '</title><style>p{margin:0}</style><script>var n='
        |    || CAST(doc_id AS VARCHAR)
        |    || ';</script></head><body><h1>Doc &amp; entry '
        |    || CAST(doc_id AS VARCHAR) || '</h1><p class="b">' || text
        |    || '</p><br>&quot;q&quot; &lt;end&gt;&nbsp;&#39;fin&#39;</body></html>' AS h
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(h,
        |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |      '(?s)<[^>]*>', ' ', 'g'),
        |      '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
        |      '&#39;', chr(39), 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
        |    '\s+', ' ', 'g')) AS text_extracted
        |FROM p ORDER BY doc_id""".stripMargin,

    // mirrors redactPii/piiCounts over the id-planted PII text; DuckDB
    // regexp_replace needs the 'g' flag (Spark replaces globally by
    // default), applied in the same email → url → phone order
    "q_text_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |      || ' or +358 40 1234 ' || CAST(doc_id AS VARCHAR)
        |      || ' via https://ex.example/d/' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_url,
        |  len(regexp_extract_all(t, '[+(]?[0-9][0-9()\- ]{6,}[0-9]')) AS n_phone,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[+(]?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g')) AS red_fp
        |FROM p ORDER BY doc_id""".stripMargin,

    // mirrors stratifiedIn(src0→1/1, src1→1/2, src2→1/5, default 1/10)
    "q_sample_stratified" ->
      """WITH b AS (
        |  SELECT source, n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) h
        |  FROM documents),
        |kept AS (
        |  SELECT source, n_chars FROM b
        |  WHERE CASE source
        |    WHEN 'src0' THEN h % 1 < 1
        |    WHEN 'src1' THEN h % 2 < 1
        |    WHEN 'src2' THEN h % 5 < 1
        |    ELSE h % 10 < 1 END)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,

    // mirrors lengthBucket: bucket = len(bin(n)) — floor(log2)+1 as an
    // integer string length, identical in both engines; n <= 0 is its
    // own bucket 0 (empty docs don't conflate with 1-token docs)
    "q_length_hist" ->
      """WITH t AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents)
        |SELECT CASE WHEN n <= 0 THEN 0
        |    ELSE length(bin(CAST(n AS BIGINT))) END AS bucket,
        |  count(*) AS n_docs,
        |  min(n) AS min_tokens, max(n) AS max_tokens
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_doc_split" ->
      """SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT n_chars,
        |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT n_chars,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        |    FROM documents))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_top_per_source" ->
      """SELECT source, doc_id, n_chars, rnk FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS INT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,

    "q_text_tfidf" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |tf_s AS (SELECT source, term, count(*) tf FROM tok GROUP BY 1, 2),
        |tot_s AS (SELECT source, count(*) tot FROM tok GROUP BY 1),
        |tf_g AS (SELECT term, count(*) gf FROM tok GROUP BY 1),
        |tot_g AS (SELECT count(*) gt FROM tok),
        |lifted AS (
        |  SELECT source, term,
        |    round((CAST(tf AS DOUBLE) / tot) / (CAST(gf AS DOUBLE) / gt), 6) AS lift
        |  FROM tf_s JOIN tot_s USING (source) JOIN tf_g USING (term) CROSS JOIN tot_g
        |  WHERE tf >= 5),
        |ranked AS (
        |  SELECT source, term, lift,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY lift DESC, term) AS INT) AS rnk
        |  FROM lifted)
        |SELECT source, term, lift, rnk FROM ranked
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    "q_embed_quantize" ->
      """WITH ev AS (
        |  SELECT vec_id, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)),
        |am AS (SELECT vec_id, max(abs(x)) AS amax FROM ev GROUP BY 1),
        |q AS (
        |  SELECT vec_id, amax, CASE WHEN amax = 0 THEN 0
        |    ELSE CAST(round(x * (127.0 / amax)) AS INT) END AS q
        |  FROM ev JOIN am USING (vec_id))
        |SELECT vec_id, count(*) AS dim, CAST(sum(q) AS BIGINT) AS q_sum,
        |  min(q) AS q_min, max(q) AS q_max,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat,
        |  round(amax / 127.0, 9) AS scale
        |FROM q GROUP BY vec_id, amax ORDER BY vec_id""".stripMargin,

    "q_minhash_agg" ->
      s"""WITH toks AS (
         |  SELECT source, regexp_split_to_array(trim(text), '\\s+') t FROM documents
         |  WHERE length(trim(text)) > 0),
         |gr AS (
         |  SELECT source, unnest(list_transform(range(1, len(t) - 1),
         |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) g
         |  FROM toks WHERE len(t) >= 3),
         |h AS (
         |  SELECT source, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) h FROM gr),
         |params AS (
         |  SELECT unnest(range(0, 16)) i,
         |    unnest([${mhA.mkString(",")}]) a,
         |    unnest([${mhB.mkString(",")}]) b)
         |SELECT source, CAST(i AS INT) AS i,
         |  min((h * a + b) % ${graft.functions.MinHashAgg.Prime}) AS sig
         |FROM h CROSS JOIN params GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpeish,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        |  len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |    x -> list_contains(['the','a','an','of','and','or','in','to','is','it'], x))) AS n_stop,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |  round(0.4 * least(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE) / 50.0, 1.0)
        |    + 0.3 * (1.0 - CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |        / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |    + 0.3 * least(5.0 * CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','an','of','and','or','in','to','is','it'], x))) AS DOUBLE)
        |        / greatest(CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS DOUBLE), 1.0), 1.0),
        |    6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      s"""WITH ${langPickedSql("")}
         |SELECT lang_pred, count(*) AS n FROM picked
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-span langid (20-token windows; DuckDB 1-based inclusive
    // slices), dominant pick by (count DESC, lang) — the Spark tie
    // order
    "q_langid_spans" ->
      """WITH lt AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |spans AS (SELECT doc_id,
        |    array_to_string(t[(i * 20 + 1):(i * 20 + 20)], ' ') AS stext
        |  FROM lt, LATERAL (SELECT unnest(range((len(t) + 19) // 20)) AS i) r),
        |sc AS (SELECT doc_id,
        |    len(list_intersect(list_distinct(regexp_split_to_array(stext, '\s+')),
        |      ['the','and','of','is','with'])) AS s_en,
        |    len(list_intersect(list_distinct(regexp_split_to_array(stext, '\s+')),
        |      ['der','die','und','ist','mit'])) AS s_de,
        |    len(list_intersect(list_distinct(regexp_split_to_array(stext, '\s+')),
        |      ['le','la','et','est','avec'])) AS s_fr,
        |    len(list_intersect(list_distinct(regexp_split_to_array(stext, '\s+')),
        |      ['el','los','y','es','con'])) AS s_es,
        |    regexp_matches(stext, '[\x{4e00}-\x{9fff}]') AS has_cjk
        |  FROM spans),
        |pk AS (SELECT doc_id, CASE
        |    WHEN has_cjk THEN 'zh'
        |    WHEN s_en = greatest(s_en, s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
        |    WHEN s_de = greatest(s_en, s_de, s_fr, s_es) AND s_de > 0 THEN 'de'
        |    WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) AND s_fr > 0 THEN 'fr'
        |    WHEN s_es = greatest(s_en, s_de, s_fr, s_es) AND s_es > 0 THEN 'es'
        |    ELSE 'und' END AS lang_span
        |  FROM sc),
        |cnt AS (SELECT doc_id, lang_span, count(*) AS c FROM pk GROUP BY 1, 2),
        |rn AS (SELECT doc_id, lang_span, c, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY c DESC, lang_span) AS rn FROM cnt)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_spans,
        |  CAST(count(*) AS BIGINT) AS n_langs,
        |  max(CASE WHEN rn = 1 THEN lang_span END) AS lang_major,
        |  count(*) > 1 AS mixed
        |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" -> exactDedupSql,
    // single sorted file + one-run state shuffle ⇒ the stream's "first
    // arrival" is min(doc_id) per fingerprint — the batch relation
    "q_stream_dedup" -> exactDedupSql,

    "q_dedup_clusters" ->
      """SELECT doc_id,
        |  min(doc_id) OVER (PARTITION BY
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS rep_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // mirrors minhashLshPairs(n=3, t=0.8, 64 perms, 16 bands × 4 rows):
    // md5-derived shingle hashes → per-perm min over (h*a+b) % p →
    // band key = the comma-joined signature slice → candidate pairs
    // sharing any band → exact-jaccard verify. Everything is integer /
    // exact arithmetic, so the sketch path gets a FULL value oracle.
    "q_dedup_minhash" -> minhashPairsOracleSql(0.8),
    // OPH: one hash per shingle, densified bins, same band machinery
    "q_dedup_oph" -> ophPairsOracleSql(0.8),
    "q_dedup_oph_sig" -> ophSigOracleSql,

    // mirrors simhashPairs(maxHamming=3): 60-bit md5 token hashes →
    // per-bit majority votes → 4 pigeonhole bands of 16 bits →
    // bucket-sharing candidates → hamming <= 3 via bit_count(xor)
    "q_dedup_simhash" -> simhashPairsSql,
    // one micro-batch over a sorted file: every bucket sees all its
    // members, pair emission per colliding band collapses under
    // distinct — the batch relation exactly
    "q_stream_neardup" -> simhashPairsSql,

    "q_dedup_containment" ->
      s"""WITH $shingleSql,
         |pairs AS (
         |  SELECT a.doc_id id_a, b.doc_id id_b, count(*) c
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / x.n, 6) AS cont_ab,
         |  round(CAST(c AS DOUBLE) / y.n, 6) AS cont_ba
         |FROM pairs JOIN sizes x ON id_a = x.doc_id
         |           JOIN sizes y ON id_b = y.doc_id
         |WHERE round(CAST(c AS DOUBLE) / x.n, 6) >= 0.8
         |   OR round(CAST(c AS DOUBLE) / y.n, 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_jaccard" -> jaccardOracleSql,
    // prefix filtering is lossless and verification exact → identical
    // output to the direct bucket-join form, same oracle
    "q_dedup_jaccard_prefix" -> jaccardOracleSql,

    "q_text_repetition" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') t,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS nt
        |  FROM documents),
        |grams AS (
        |  SELECT source, nt,
        |    CASE WHEN nt < 2 THEN [] ELSE
        |      list_transform(range(1, nt), i -> concat_ws(' ', t[i], t[i+1]))
        |    END AS gs
        |  FROM toks),
        |rep AS (
        |  SELECT source,
        |    CASE WHEN greatest(nt - 1, 0) = 0 THEN 0.0
        |      ELSE round(1.0 - CAST(len(list_distinct(gs)) AS DOUBLE)
        |        / greatest(nt - 1, 0), 6) END AS rep
        |  FROM grams)
        |SELECT source,
        |  round(CAST(sum(CAST(rep AS DECIMAL(18,8))) AS DOUBLE) / count(*), 6) AS avg_rep,
        |  round(max(rep), 6) AS max_rep, count(*) AS n_docs
        |FROM rep GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_vocab" ->
      """SELECT term, count(*) AS freq FROM (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0)
        |GROUP BY 1 ORDER BY freq DESC, term LIMIT 20""".stripMargin,

    // replays the HLL registers exactly: 60-bit md5 hash → 9-bit bucket
    // + 51-bit remainder, rank via len(bin()) (no floating log),
    // register sum as exact powers of two; the single division uses the
    // SAME double literal as the Spark side (interpolated from
    // Sketches.HllNumerator — shortest-round-trip decimal of the exact
    // constant, so both engines divide identical doubles).
    "q_hll_distinct" -> hllDistinctSql,
    // HLL registers are max-merged — order-free, so one streaming
    // micro-batch lands on the batch registers exactly
    "q_stream_hll" -> hllDistinctSql,

    // full CMS replay: counters are exact counts per (row, md5 bucket);
    // the estimate is an integer min over the 4 rows
    "q_cms_topk" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents WHERE length(trim(text)) > 0),
        |hb AS (
        |  SELECT r, CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 8)
        |    AS BIGINT) % 1024 AS bkt
        |  FROM toks, (SELECT unnest(range(0, 4)) AS r)),
        |counters AS (SELECT r, bkt, count(*) AS cnt FROM hb GROUP BY 1, 2),
        |top AS (
        |  SELECT term, count(*) AS n_true FROM toks
        |  GROUP BY 1 ORDER BY n_true DESC, term LIMIT 20),
        |cand AS (
        |  SELECT term, n_true, r,
        |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 8)
        |      AS BIGINT) % 1024 AS bkt
        |  FROM top, (SELECT unnest(range(0, 4)) AS r))
        |SELECT c.term, c.n_true, CAST(min(k.cnt) AS BIGINT) AS n_est
        |FROM cand c JOIN counters k ON c.r = k.r AND c.bkt = k.bkt
        |GROUP BY 1, 2 ORDER BY n_true DESC, term""".stripMargin,

    // histogram-quantile replay: identical binning (floor is integral,
    // so DuckDB's rounding BIGINT cast equals Spark's truncation),
    // integer cum*den >= n*num thresholds, upper-edge read-off
    "q_quantile_sketch" ->
      """WITH b AS (
        |  SELECT event_type,
        |    least(greatest(CAST(floor((value - 0.0) / 2.0) AS BIGINT), 0), 255) AS bin
        |  FROM events),
        |c AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY 1, 2),
        |cc AS (
        |  SELECT event_type, bin,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM c),
        |q AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum * 2 >= n * 1 THEN bin END) AS b50,
        |    min(CASE WHEN cum * 100 >= n * 95 THEN bin END) AS b95,
        |    min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS b99
        |  FROM cc GROUP BY 1)
        |SELECT event_type,
        |  0.0 + CAST(b50 + 1 AS DOUBLE) * 2.0 AS p50,
        |  0.0 + CAST(b95 + 1 AS DOUBLE) * 2.0 AS p95,
        |  0.0 + CAST(b99 + 1 AS DOUBLE) * 2.0 AS p99
        |FROM q ORDER BY event_type""".stripMargin,

    // full Bloom replay: set positions from the eval fingerprints, then
    // per-doc count of its 3 positions that are set (3 = bloom hit)
    "q_bloom_decontam" ->
      """WITH fps AS (
        |  SELECT doc_id, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |eval AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 50),
        |pos AS (
        |  SELECT DISTINCT CAST('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || fp), 1, 8)
        |    AS BIGINT) % 512 AS p
        |  FROM eval, (SELECT unnest(range(0, 3)) AS i)),
        |ck AS (
        |  SELECT f.doc_id,
        |    CAST('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || f.fp), 1, 8)
        |      AS BIGINT) % 512 AS p
        |  FROM fps f, (SELECT unnest(range(0, 3)) AS i) i),
        |hits AS (
        |  SELECT c.doc_id, count(*) AS khits
        |  FROM ck c JOIN pos ON c.p = pos.p GROUP BY 1),
        |per AS (
        |  SELECT f.source,
        |    coalesce(h.khits, 0) = 3 AS bloom_hit,
        |    f.fp IN (SELECT fp FROM eval) AS true_hit
        |  FROM fps f LEFT JOIN hits h USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom,
        |  CAST(sum(CASE WHEN true_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_true
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sample_k" ->
      """SELECT source, doc_id, rnk FROM (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 5 ORDER BY source, rnk""".stripMargin,

    "q_cube" ->
      """SELECT source, lang, GROUPING(source, lang) AS gid,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY CUBE (source, lang)
        |ORDER BY gid, source, lang""".stripMargin,

    // line-level dedup replayed arithmetically: a document's cleaned
    // length is sum(len(kept)) + (n_kept - 1) — exactly
    // len(join(kept, '\n')) — so no string reassembly is needed
    "q_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line
        |  FROM documents),
        |hot AS (
        |  SELECT line FROM lines WHERE length(trim(line)) > 0
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (
        |  SELECT l.doc_id, count(*) AS n_kept,
        |    CAST(sum(length(l.line)) AS BIGINT) AS len_kept
        |  FROM lines l LEFT JOIN hot h ON l.line = h.line
        |  WHERE h.line IS NULL GROUP BY 1),
        |per AS (
        |  SELECT d.source, length(d.text) AS nb,
        |    CASE WHEN k.doc_id IS NULL THEN 0
        |      ELSE k.len_kept + k.n_kept - 1 END AS na
        |  FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(nb) AS BIGINT) AS chars_before,
        |  CAST(sum(na) AS BIGINT) AS chars_after
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same planted codepoints by number: 769=U+0301, 778=U+030A,
    // 8486=U+2126 (ohm sign, singleton-decomposes to U+03A9)
    "q_text_nfc" ->
      """SELECT doc_id,
        |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
        |    || ' ' || chr(8486) || ' end') AS text_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // duplicated-span removal replayed literally: the k=6 window md5
    // fingerprints, the distinct-doc hot set, the covered-position
    // union, and the token-filtered rebuild are all list arithmetic
    "q_mix_temperature" ->
      """WITH n AS (SELECT source, count(*) AS ns FROM documents GROUP BY 1),
        |p AS (SELECT source, round(pow(ns, 0.7), 6) AS ps FROM n),
        |den AS (SELECT CAST(sum(CAST(ps AS DECIMAL(38,6))) AS DOUBLE) AS den
        |        FROM p),
        |q AS (SELECT source,
        |        CAST(floor(round(ps / den, 6) * 400.0) AS BIGINT) AS quota
        |      FROM p, den),
        |r AS (SELECT doc_id, source,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.source, r.rk
        |FROM r JOIN q USING (source) WHERE r.rk <= q.quota
        |ORDER BY source, rk""".stripMargin,

    "q_pagerank" -> pageRankSql(5),
    "q_hits" -> hitsSql(3),

    "q_embed_matryoshka" ->
      """WITH xs AS (
        |  SELECT vec_id,
        |    list_transform(embedding[1:16], x -> round(CAST(x AS DOUBLE), 6)) AS v
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, v,
        |    round(sqrt(list_sum(list_transform(v, x -> round(x * x, 6)))), 6) AS nrm
        |  FROM xs)
        |SELECT vec_id, CAST(i - 1 AS INT) AS dim, round(x / nrm, 6) AS val
        |FROM (SELECT vec_id, nrm, unnest(v) AS x,
        |        generate_subscripts(v, 1) AS i
        |      FROM n)
        |ORDER BY vec_id, dim""".stripMargin,

    "q_embed_drift" ->
      """WITH xa AS (
        |  SELECT CAST(i - 1 AS INT) AS dim, round(CAST(x AS DOUBLE), 6) AS x
        |  FROM (SELECT unnest(embedding) x,
        |          generate_subscripts(embedding, 1) i
        |        FROM embeddings WHERE label = 0)),
        |ma AS (SELECT dim,
        |         round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
        |           AS mean_a
        |       FROM xa GROUP BY 1),
        |xb AS (
        |  SELECT CAST(i - 1 AS INT) AS dim, round(CAST(x AS DOUBLE), 6) AS x
        |  FROM (SELECT unnest(embedding) x,
        |          generate_subscripts(embedding, 1) i
        |        FROM embeddings WHERE label != 0)),
        |mb AS (SELECT dim,
        |         round(CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / count(*), 6)
        |           AS mean_b
        |       FROM xb GROUP BY 1)
        |SELECT dim, mean_a, mean_b, round(mean_a - mean_b, 6) AS diff
        |FROM ma JOIN mb USING (dim) ORDER BY dim""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH $bm25CtesSql,
        |sparse AS (${bm25SelectSql(50)}),
        |q0 AS (SELECT embedding q_emb FROM embeddings WHERE vec_id = 0),
        |flat AS (
        |  SELECT vec_id, unnest(q_emb) x, unnest(embedding) y
        |  FROM embeddings, q0),
        |sims AS (
        |  SELECT vec_id,
        |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cos_sim
        |  FROM flat GROUP BY 1),
        |pos AS (SELECT vec_id AS doc_id, cos_sim AS score,
        |          CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        |        FROM sims QUALIFY rank <= 10),
        |neg AS (SELECT doc_id, score,
        |          CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
        |        FROM sparse WHERE doc_id NOT IN (SELECT doc_id FROM pos)
        |        QUALIFY rank <= 20)
        |SELECT doc_id, CAST(1 AS INT) AS label, rank, score FROM pos
        |UNION ALL
        |SELECT doc_id, CAST(0 AS INT) AS label, rank, score FROM neg
        |ORDER BY label DESC, rank""".stripMargin,

    "q_length_batches" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS BIGINT) AS l
        |  FROM documents),
        |rk AS (SELECT doc_id, l,
        |         row_number() OVER (ORDER BY l DESC, doc_id) AS r
        |       FROM lens),
        |b AS (SELECT CAST(floor((r - 1) / 32) AS BIGINT) AS batch_id, l FROM rk)
        |SELECT batch_id, count(*) AS n_docs, max(l) AS max_len,
        |  CAST(sum(l) AS BIGINT) AS sum_len,
        |  round(CAST(1 AS DOUBLE) - sum(l) / CAST(count(*) * max(l) AS DOUBLE), 6)
        |    AS pad_frac
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_curate" ->
      s"""WITH q AS (
        |  SELECT doc_id, text FROM documents WHERE $qualitySql >= 0.5),
        |r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^\\s]+', '<URL>', 'g'),
        |    '[+(]?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS rt
        |  FROM q),
        |fp AS (SELECT doc_id,
        |         row_number() OVER (
        |           PARTITION BY md5(regexp_replace(lower(trim(rt)), '\\s+', ' ', 'g'))
        |           ORDER BY doc_id) AS rn
        |       FROM r)
        |SELECT doc_id FROM fp WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) + 1 AS BIGINT) AS w,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT doc_id, w,
        |  round(round(ln((h + 0.5) / 4294967296.0), 6) / CAST(w AS DOUBLE), 6)
        |    AS logkey
        |FROM t ORDER BY logkey DESC, doc_id LIMIT 100""".stripMargin,

    "q_web_pipeline" ->
      """WITH tk AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |unblocked AS (
        |  SELECT doc_id, text, t FROM tk
        |  WHERE len(list_filter(t, x -> lower(x) IN ('spam'))) = 0),
        |m AS (
        |  SELECT doc_id, text,
        |    CAST(len(t) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
        |      / greatest(len(t), 1), 6) AS mwl,
        |    round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / greatest(length(text), 1), 6) AS sym,
        |    round(CAST(len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(t), 1), 6) AS alpha,
        |    CAST(len(list_filter(t, x -> list_contains(
        |      ['the','a','an','of','and','or','in','to','is','it'], x))) AS BIGINT)
        |      AS n_stop
        |  FROM unblocked),
        |passed AS (
        |  SELECT doc_id, text FROM m
        |  WHERE n_words BETWEEN 50 AND 100000
        |    AND coalesce(mwl, 0) BETWEEN 3.0 AND 10.0
        |    AND sym < 0.1 AND coalesce(alpha, 0) > 0.8 AND n_stop >= 2),
        |fp AS (
        |  SELECT doc_id,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |  FROM passed)
        |SELECT doc_id,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
        |    AS split
        |FROM (SELECT doc_id,
        |        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |          % 100 AS b
        |      FROM fp WHERE rn = 1)
        |ORDER BY doc_id""".stripMargin,

    "q_quality_percentiles" ->
      s"""WITH q AS (
        |  SELECT source, doc_id, $qualitySql AS q FROM documents),
        |r AS (SELECT source, q,
        |        CAST(row_number() OVER (PARTITION BY source
        |          ORDER BY q, doc_id) AS BIGINT) AS rk,
        |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |      FROM q)
        |SELECT source, max(n) AS n,
        |  max(CASE WHEN rk = CAST(ceil(n * 0.25) AS BIGINT) THEN q END) AS p25,
        |  max(CASE WHEN rk = CAST(ceil(n * 0.5) AS BIGINT) THEN q END) AS p50,
        |  max(CASE WHEN rk = CAST(ceil(n * 0.75) AS BIGINT) THEN q END) AS p75
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS tk
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
        |      / greatest(len(tk), 1), 6) AS mean_word_len,
        |    round(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
        |      / greatest(length(text), 1), 6) AS symbol_ratio,
        |    round(CAST(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |      / greatest(len(tk), 1), 6) AS alpha_ratio,
        |    CAST(len(list_filter(tk, x -> list_contains(
        |      ['the','a','an','of','and','or','in','to','is','it'], x))) AS BIGINT)
        |      AS n_stop
        |  FROM t)
        |SELECT doc_id, n_words,
        |  coalesce(mean_word_len, 0) AS mean_word_len, symbol_ratio,
        |  coalesce(alpha_ratio, 0) AS alpha_ratio, n_stop,
        |  (n_words BETWEEN 50 AND 100000
        |    AND coalesce(mean_word_len, 0) BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio < 0.1
        |    AND coalesce(alpha_ratio, 0) > 0.8
        |    AND n_stop >= 2) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_blocklist_filter" ->
      """WITH hits AS (
        |  SELECT source,
        |    len(list_filter(
        |      CASE WHEN length(trim(text)) = 0 THEN []
        |        ELSE regexp_split_to_array(trim(text), '\s+') END,
        |      t -> lower(t) IN ('slow', 'sort', 'spam'))) AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN h > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_distinct_ngrams" ->
      """WITH toks AS (
        |  SELECT CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |g1 AS (SELECT unnest(t) AS g FROM toks),
        |g2 AS (SELECT unnest(list_transform(range(1, len(t)),
        |         i -> concat_ws(' ', t[i], t[i+1]))) AS g
        |       FROM toks WHERE len(t) >= 2),
        |g3 AS (SELECT unnest(list_transform(range(1, len(t) - 1),
        |         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS g
        |       FROM toks WHERE len(t) >= 3),
        |a1 AS (SELECT CAST(1 AS INT) AS n, CAST(sum(c) AS BIGINT) AS total,
        |         count(*) AS uniq
        |       FROM (SELECT g, count(*) AS c FROM g1 GROUP BY 1)),
        |a2 AS (SELECT CAST(2 AS INT) AS n, CAST(sum(c) AS BIGINT) AS total,
        |         count(*) AS uniq
        |       FROM (SELECT g, count(*) AS c FROM g2 GROUP BY 1)),
        |a3 AS (SELECT CAST(3 AS INT) AS n, CAST(sum(c) AS BIGINT) AS total,
        |         count(*) AS uniq
        |       FROM (SELECT g, count(*) AS c FROM g3 GROUP BY 1))
        |SELECT n, total, uniq, round(uniq / CAST(total AS DOUBLE), 6) AS distinct_ratio
        |FROM (SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3)
        |ORDER BY n""".stripMargin,

    "q_zipf_fit" ->
      """WITH tf AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
        |    FROM documents)
        |  GROUP BY 1),
        |top AS (SELECT tok, f,
        |          row_number() OVER (ORDER BY f DESC, tok) AS rk
        |        FROM tf QUALIFY rk <= 1000),
        |xy AS (SELECT round(ln(rk), 6) AS x, round(ln(f), 6) AS y FROM top),
        |s AS (SELECT count(*) AS k,
        |        CAST(sum(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |        CAST(sum(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |        CAST(sum(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx
        |      FROM xy),
        |sl AS (SELECT k, sx, sy,
        |         round((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS slope
        |       FROM s)
        |SELECT k, slope, round((sy - slope * sx) / k, 6) AS intercept
        |FROM sl""".stripMargin,

    // hashed-gram importance weights: md5 buckets, add-1 smoothed
    // round6 ln-prob tables over range(64), round6 per-gram diffs into
    // a DECIMAL sum — value-exact replay of the Spark plan
    "q_dsir_select" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, CASE WHEN length(trim(text)) = 0 THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, unnest(t) AS g FROM toks
        |  UNION ALL
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> concat_ws(' ', t[i], t[i+1]))) AS g
        |  FROM toks WHERE len(t) >= 2),
        |bk AS (SELECT doc_id, lang,
        |         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 64 AS bk
        |       FROM grams),
        |tgt AS (SELECT bk, count(*) AS c FROM bk WHERE lang = 'en' GROUP BY 1),
        |raw AS (SELECT bk, count(*) AS c FROM bk GROUP BY 1),
        |tt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS s FROM tgt),
        |rt AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS s FROM raw),
        |tbl AS (
        |  SELECT r.range AS bk,
        |    round(ln((coalesce(tgt.c, 0) + 1) / CAST(tt.s + 64 AS DOUBLE)), 6) AS lnp,
        |    round(ln((coalesce(raw.c, 0) + 1) / CAST(rt.s + 64 AS DOUBLE)), 6) AS lnq
        |  FROM range(64) r
        |  LEFT JOIN tgt ON r.range = tgt.bk
        |  LEFT JOIN raw ON r.range = raw.bk, tt, rt),
        |contrib AS (
        |  SELECT bk.doc_id, round(tbl.lnp - tbl.lnq, 6) AS c
        |  FROM bk JOIN tbl USING (bk)),
        |wts AS (
        |  SELECT d.doc_id,
        |    round(CAST(coalesce(sum(CAST(c.c AS DECIMAL(28,6))), 0) AS DOUBLE), 6)
        |      AS weight
        |  FROM documents d LEFT JOIN contrib c ON d.doc_id = c.doc_id
        |  GROUP BY 1)
        |SELECT doc_id, weight FROM wts
        |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,

    // the closed-form water-filling: capacity-ascending prefix sums,
    // fill line j* = first source whose capacity tops the fair share,
    // equal split after it — all integer arithmetic until the final
    // epochs ratio
    "q_mix_unimax" ->
      """WITH n AS (SELECT source, count(*) AS ns FROM documents GROUP BY 1),
        |c AS (SELECT source, ns, ns * 2 AS cap FROM n),
        |i AS (SELECT source, ns, cap,
        |        CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS idx,
        |        CAST(coalesce(sum(cap) OVER (ORDER BY cap, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cprev,
        |        CAST(count(*) OVER () AS BIGINT) AS k
        |      FROM c),
        |f AS (SELECT *, cap * (k - idx + 1) <= (600 - cprev) AS fl FROM i),
        |j AS (SELECT min(CASE WHEN NOT fl THEN idx END) AS js,
        |             min(CASE WHEN NOT fl THEN cprev END) AS cjs
        |      FROM f),
        |q AS (SELECT source, ns, cap,
        |        CASE WHEN js IS NULL OR idx < js THEN cap
        |             ELSE CAST(floor((600 - cjs) / CAST(k - js + 1 AS DOUBLE)) AS BIGINT)
        |        END AS quota
        |      FROM f, j)
        |SELECT source, ns, cap, quota,
        |  round(quota / CAST(ns AS DOUBLE), 6) AS epochs
        |FROM q ORDER BY source""".stripMargin,

    "q_bm25_topk" -> s"WITH $bm25CtesSql\n${bm25SelectSql(20)}",

    // RRF fusion of the BM25 top-50 and the dense cosine top-50 for
    // query vector 0: both constituent rankings replay exactly (the
    // bm25 CTEs above; the q_embed_topk cosine shape), so the fused
    // round6-reciprocal DECIMAL sum is a full value oracle
    "q_retrieval_rrf" ->
      s"""WITH $bm25CtesSql,
        |sparse AS (${bm25SelectSql(50)}),
        |sr AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rk
        |       FROM sparse),
        |q0 AS (SELECT embedding q_emb FROM embeddings WHERE vec_id = 0),
        |flat AS (
        |  SELECT vec_id, unnest(q_emb) x, unnest(embedding) y
        |  FROM embeddings, q0),
        |sims AS (
        |  SELECT vec_id,
        |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cos_sim
        |  FROM flat GROUP BY 1),
        |dr AS (SELECT vec_id AS doc_id,
        |         row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS rk
        |       FROM sims QUALIFY rk <= 50),
        |u AS (SELECT doc_id, round(CAST(1.0 AS DOUBLE) / (60 + rk), 6) AS c FROM sr
        |      UNION ALL
        |      SELECT doc_id, round(CAST(1.0 AS DOUBLE) / (60 + rk), 6) AS c FROM dr)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(c AS DECIMAL(28,6))) AS DOUBLE), 6) AS rrf,
        |  count(*) AS n_lists
        |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,

    "q_substr_dedup" ->
      """WITH el AS (SELECT doc_id, text FROM documents WHERE len(text) >= 40),
        |w AS (
        |  SELECT doc_id, i AS p, md5(substr(text, i + 1, 40)) AS fp
        |  FROM (SELECT doc_id, text, unnest(range(0, len(text) - 39)) AS i
        |        FROM el)),
        |hot AS (SELECT fp FROM w GROUP BY fp HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, cp FROM (
        |  SELECT doc_id, unnest(range(p, p + 40)) AS cp
        |  FROM w JOIN hot USING (fp))),
        |chars AS (SELECT doc_id, text, unnest(range(0, len(text))) AS i
        |          FROM documents),
        |kept AS (
        |  SELECT c.doc_id, c.i, substr(c.text, c.i + 1, 1) AS ch
        |  FROM chars c LEFT JOIN cov v ON c.doc_id = v.doc_id AND c.i = v.cp
        |  WHERE v.cp IS NULL),
        |agg AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS text_clean
        |        FROM kept GROUP BY doc_id),
        |ncov AS (SELECT doc_id, count(*) AS n FROM cov GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(ncov.n, 0) AS INT) AS n_dup_chars,
        |  coalesce(agg.text_clean, '') AS text_clean
        |FROM documents d
        |LEFT JOIN ncov USING (doc_id) LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |      ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 4),
        |    i -> struct_pack(pos := i - 1,
        |                     fp := md5(array_to_string(t[i:i+5], ' '))))) AS g
        |  FROM toks WHERE len(t) >= 6),
        |g2 AS (SELECT doc_id, g.pos AS pos, g.fp AS fp FROM grams),
        |hot AS (SELECT fp FROM g2 GROUP BY fp
        |        HAVING count(DISTINCT doc_id) >= 2),
        |covu AS (
        |  SELECT doc_id, unnest(range(pos, pos + 6)) AS cpos
        |  FROM g2 SEMI JOIN hot USING (fp)),
        |cov AS (
        |  SELECT doc_id, list_sort(list_distinct(list(cpos))) AS cps
        |  FROM covu GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(CASE WHEN c.doc_id IS NULL THEN 0 ELSE len(c.cps) END
        |    AS BIGINT) AS n_dup_tokens,
        |  CASE WHEN c.doc_id IS NULL THEN t.text
        |    -- coalesce: DuckDB array_to_string([]) is NULL, Spark
        |    -- array_join([]) is '' — a fully-covered doc must be ''
        |    ELSE coalesce(array_to_string(
        |      list_filter(t.t, (x, i) -> NOT list_contains(c.cps, i - 1)), ' '), '')
        |    END AS text_clean
        |FROM toks t LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_text_winnow" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') t FROM documents
        |  WHERE length(trim(text)) > 0),
        |grams AS (
        |  SELECT doc_id, list_transform(range(1, len(t) - 2),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3])) gs
        |  FROM toks WHERE len(t) >= 4),
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(gs, g -> CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)) h
        |  FROM grams),
        |sel AS (
        |  SELECT doc_id, CASE WHEN len(h) <= 5 THEN [list_min(h)]
        |    ELSE list_distinct(list_transform(range(1, len(h) - 3),
        |      p -> list_min(h[p:p+4]))) END f
        |  FROM hs)
        |SELECT doc_id, unnest(f) AS fp FROM sel ORDER BY doc_id, fp""".stripMargin,

    "q_embed_confusion" ->
      """WITH ev AS (
        |  SELECT vec_id, label, i AS pos, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT vec_id, label, unnest(embedding) x,
        |        generate_subscripts(embedding, 1) i FROM embeddings)),
        |cent AS (
        |  SELECT label AS clabel, pos,
        |    CAST(sum(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS y
        |  FROM ev GROUP BY 1, 2),
        |sims AS (
        |  SELECT vec_id, label, clabel,
        |    CAST(sum(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS dot,
        |    CAST(sum(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS nx,
        |    CAST(sum(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS ny
        |  FROM ev JOIN cent USING (pos) GROUP BY 1, 2, 3),
        |ranked AS (
        |  SELECT label, clabel, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY dot / (sqrt(nx) * sqrt(ny)) DESC, clabel) AS rn
        |  FROM sims)
        |SELECT label, clabel AS pred_label, count(*) AS n
        |FROM ranked WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // mirrors annTopK(dim=64, k=10, nPlanes=6, nTables=8): sign-bit
    // buckets from the 48 shared hyperplanes, bucket-sharing candidates,
    // exact-cosine re-rank. list_dot_product's summation differs from
    // the compiled fold only in last ulps; min |projection| on this grid
    // is 2.9e-6 (see planeLists) so the sign bits agree exactly.
    "q_embed_ann" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 48)) i, unnest(${planeLists(48)}) pl),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings),
         |proj AS (
         |  SELECT vec_id, i // 6 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 6 AS INT) ELSE 0 END pbit
         |  FROM e CROSS JOIN planes),
         |buck AS (SELECT vec_id, t, sum(pbit) bucket FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id query_id, v.vec_id vec_id
         |  FROM buck q JOIN buck v ON q.t = v.t AND q.bucket = v.bucket
         |  WHERE q.vec_id < 5),
         |${cosineOverCandidatesSql("query_id", "vec_id")},
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
         |  FROM sims)
         |SELECT query_id, vec_id, cos_sim, rank FROM ranked
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // mirrors cosinePairsLsh(threshold=0.3, dim=64, nPlanes=8,
    // nTables=12): 96 hyperplanes → 12 sign-bit buckets per vector →
    // bucket-sharing candidate pairs → exact-cosine verify >= 0.3
    "q_embed_pairs_lsh" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 96)) i, unnest(${planeLists(96)}) pl),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings),
         |proj AS (
         |  SELECT vec_id, i // 8 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 8 AS INT) ELSE 0 END pbit
         |  FROM e CROSS JOIN planes),
         |buck AS (SELECT vec_id, t, sum(pbit) bucket FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
         |  FROM buck a JOIN buck b
         |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |${cosineOverCandidatesSql("id_a", "id_b")}
         |SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // the same 96-hyperplane replay crossed over the 80/20 md5 split:
    // batch-side buckets join corpus-side buckets, exact-cosine verify,
    // best match per batch vector, LEFT JOIN surfaces novel vectors
    "q_embed_incremental" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 96)) i, unnest(${planeLists(96)}) pl),
         |split AS (
         |  SELECT vec_id,
         |    CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % 100 < 80 AS in_corpus
         |  FROM embeddings),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings),
         |proj AS (
         |  SELECT vec_id, i // 8 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 8 AS INT) ELSE 0 END pbit
         |  FROM e CROSS JOIN planes),
         |buck AS (SELECT vec_id, t, sum(pbit) bucket FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id id_new, b.vec_id id_corpus
         |  FROM buck a JOIN split sa ON a.vec_id = sa.vec_id AND NOT sa.in_corpus
         |  JOIN buck b ON a.t = b.t AND a.bucket = b.bucket
         |  JOIN split sb ON b.vec_id = sb.vec_id AND sb.in_corpus),
         |${cosineOverCandidatesSql("id_new", "id_corpus")},
         |best AS (
         |  SELECT id_new, id_corpus, cos_sim,
         |    row_number() OVER (PARTITION BY id_new
         |      ORDER BY cos_sim DESC, id_corpus) rn
         |  FROM sims WHERE cos_sim >= 0.3)
         |SELECT s.vec_id, b.id_corpus AS dup_of, b.cos_sim
         |FROM split s LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON s.vec_id = b.id_new
         |WHERE NOT s.in_corpus ORDER BY s.vec_id""".stripMargin,

    // the LSH pair replay feeding a recursive transitive closure over
    // every vector (same seed-all-nodes shape as q_dedup_components),
    // at both the gate shape and the scale shape
    "q_embed_dedup" -> embedDedupSql(nPlanes = 8, nTables = 12),
    "q_embed_dedup_scale" -> embedDedupSql(nPlanes = 12, nTables = 24),

    // same LSH replay with the scale-shape parameters: 288 hyperplanes
    // → 24 tables of 12 sign bits each
    "q_embed_pairs_lsh_scale" ->
      s"""WITH planes AS (
         |  SELECT unnest(range(0, 288)) i, unnest(${planeLists(288)}) pl),
         |e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) emb
         |  FROM embeddings),
         |proj AS (
         |  SELECT vec_id, i // 12 t,
         |    CASE WHEN list_dot_product(emb, pl) > 0
         |      THEN 1 << CAST(i % 12 AS INT) ELSE 0 END pbit
         |  FROM e CROSS JOIN planes),
         |buck AS (SELECT vec_id, t, sum(pbit) bucket FROM proj GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT a.vec_id id_a, b.vec_id id_b
         |  FROM buck a JOIN buck b
         |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |${cosineOverCandidatesSql("id_a", "id_b")}
         |SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id query_id, embedding q_emb FROM embeddings WHERE vec_id < 5),
        |pairs AS (SELECT query_id, vec_id, q_emb, embedding v_emb FROM embeddings, q),
        |flat AS (
        |  SELECT query_id, vec_id,
        |    unnest(q_emb) x, unnest(v_emb) y
        |  FROM pairs),
        |sims AS (
        |  SELECT query_id, vec_id,
        |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cos_sim
        |  FROM flat GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        |  FROM sims)
        |SELECT query_id, vec_id, cos_sim, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "q_embed_pairs" ->
      """WITH pairs AS (
        |  SELECT a.vec_id id_a, b.vec_id id_b, a.embedding ea, b.embedding eb
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
        |flat AS (SELECT id_a, id_b, unnest(ea) x, unnest(eb) y FROM pairs),
        |sims AS (
        |  SELECT id_a, id_b,
        |    round(sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
        |      / (sqrt(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
        |         * sqrt(sum(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6) AS cos_sim
        |  FROM flat GROUP BY 1, 2)
        |SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // mirrors FakeFeatureExtractor (integer byte-bucket sums → /255 →
    // L2-normalize → float32) + bruteForceTopK(k=5, queries id<3);
    // byte values come from hex(encode(text)) two-char slices
    "q_multimodal_embed" ->
      """WITH m AS (
        |  SELECT doc_id id, hex(encode(text)) hx, octet_length(encode(text)) n
        |  FROM documents),
        |pos AS (SELECT id, hx, unnest(range(0, n)) i FROM m),
        |s AS (
        |  SELECT id, CAST(i % 16 AS INT) d,
        |    sum(CAST(('0x' || substr(hx, CAST(i AS INT) * 2 + 1, 2)) AS INT)) sm
        |  FROM pos GROUP BY 1, 2),
        |dims AS (SELECT CAST(unnest(range(0, 16)) AS INT) d),
        |alls AS (
        |  SELECT m.id, dims.d, CAST(coalesce(s.sm, 0) AS BIGINT) sm
        |  FROM m CROSS JOIN dims LEFT JOIN s ON s.id = m.id AND s.d = dims.d),
        |x AS (SELECT id, d, sm / 255.0 x FROM alls),
        |nrm AS (SELECT id, sqrt(sum(x * x)) nr FROM x GROUP BY 1),
        |emb AS (
        |  SELECT id, d,
        |    CAST(CASE WHEN nr = 0 THEN 0.0 ELSE x * (1.0 / nr) END AS FLOAT) f
        |  FROM x JOIN nrm USING (id)),
        |pr AS (
        |  SELECT q.id query_id, v.id vec_id,
        |    sum(CAST(q.f AS DOUBLE) * CAST(v.f AS DOUBLE)) dot,
        |    sum(CAST(q.f AS DOUBLE) * CAST(q.f AS DOUBLE)) nq,
        |    sum(CAST(v.f AS DOUBLE) * CAST(v.f AS DOUBLE)) nv
        |  FROM emb q JOIN emb v USING (d) WHERE q.id < 3 GROUP BY 1, 2),
        |sims AS (
        |  SELECT query_id, vec_id, round(dot / (sqrt(nq) * sqrt(nv)), 6) cos_sim
        |  FROM pr),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS INT) rank FROM sims)
        |SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(64 + octet_length(encode(text)) % 577 AS INT) AS width,
        |  CAST(64 + (octet_length(encode(text)) * 31) % 577 AS INT) AS height,
        |  3 AS channels, 'fake' AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // container-header arithmetic per format: BMP = 54-byte headers +
    // 4-byte-padded BGR rows; PPM = ASCII "P6\n<w> <h>\n255\n" header +
    // raw RGB; WAV = 44-byte RIFF/fmt/data headers + 16-bit frames
    "q_multimodal_real" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 5 AS INT) w, CAST(3 + doc_id % 4 AS INT) h,
        |    CAST(16 + doc_id % 7 AS INT) nf, CAST(1 + doc_id % 2 AS INT) ch,
        |    doc_id % 3 AS fmt
        |  FROM documents)
        |SELECT doc_id AS id,
        |  CAST(CASE fmt
        |    WHEN 0 THEN 54 + h * (w * 3 + (4 - (w * 3) % 4) % 4)
        |    WHEN 1 THEN 3 + length(CAST(w AS VARCHAR)) + 1
        |      + length(CAST(h AS VARCHAR)) + 5 + w * h * 3
        |    ELSE 44 + nf * ch * 2 END AS BIGINT) AS byte_len,
        |  CAST(CASE fmt WHEN 2 THEN nf ELSE w END AS INT) AS width,
        |  CAST(CASE fmt WHEN 2 THEN 8000 ELSE h END AS INT) AS height,
        |  CAST(CASE fmt WHEN 2 THEN ch ELSE 3 END AS INT) AS channels,
        |  CASE fmt WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm' ELSE 'wav' END AS format
        |FROM base ORDER BY doc_id""".stripMargin,

    // the decoded-pixel stream is pure id-derived arithmetic: pixel i of
    // doc j is (j*31 + i) % 256 — histogram, L2-normalize, float-cast,
    // then the same unnest-sum cosine the other embedding oracles use
    "q_multimodal_pixels" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(4 + doc_id % 5 AS INT) w,
        |    CAST(3 + doc_id % 4 AS INT) h
        |  FROM documents),
        |px AS (SELECT doc_id, unnest(range(0, w * h * 3)) i FROM dims),
        |vals AS (SELECT doc_id, (doc_id * 31 + i) % 256 v FROM px),
        |hist AS (
        |  SELECT doc_id, CAST(v // 32 AS INT) d, count(*) c
        |  FROM vals GROUP BY 1, 2),
        |bins AS (SELECT CAST(unnest(range(0, 8)) AS INT) d),
        |alls AS (
        |  SELECT m.doc_id id, bins.d, CAST(coalesce(hist.c, 0) AS BIGINT) c
        |  FROM dims m CROSS JOIN bins
        |  LEFT JOIN hist ON hist.doc_id = m.doc_id AND hist.d = bins.d),
        |nrm AS (
        |  SELECT id, sqrt(sum(CAST(c AS DOUBLE) * CAST(c AS DOUBLE))) nr
        |  FROM alls GROUP BY 1),
        |emb AS (
        |  SELECT id, d,
        |    CAST(CASE WHEN nr = 0 THEN 0.0
        |      ELSE CAST(c AS DOUBLE) * (1.0 / nr) END AS FLOAT) f
        |  FROM alls JOIN nrm USING (id)),
        |pr AS (
        |  SELECT q.id query_id, v.id vec_id,
        |    sum(CAST(q.f AS DOUBLE) * CAST(v.f AS DOUBLE)) dot,
        |    sum(CAST(q.f AS DOUBLE) * CAST(q.f AS DOUBLE)) nq,
        |    sum(CAST(v.f AS DOUBLE) * CAST(v.f AS DOUBLE)) nv
        |  FROM emb q JOIN emb v USING (d) WHERE q.id < 3 GROUP BY 1, 2),
        |sims AS (
        |  SELECT query_id, vec_id, round(dot / (sqrt(nq) * sqrt(nv)), 6) cos_sim
        |  FROM pr),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos_sim DESC, vec_id) AS INT) rank FROM sims)
        |SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // budget-mixing replay: same token count, same md5 bucket, same
    // integer-rational keep test
    "q_mix_budget" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 10000 AS b
        |  FROM documents),
        |t AS (SELECT source, CAST(sum(n) AS BIGINT) AS t FROM d GROUP BY 1)
        |SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS kept_tokens
        |FROM d JOIN t USING (source)
        |WHERE b * t < 10000 * least(1000, t)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // a compaction rewrite is row-identical by contract — the oracle is
    // simply the source table
    "q_compact" ->
      "SELECT doc_id, source, n_chars FROM documents ORDER BY doc_id",

    // Morton replay: the classic interleave-by-magic-numbers spread as
    // chained CTE stages (DuckDB has native BIGINT bit ops)
    "q_zorder" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 251 AS x, n_chars % 241 AS y FROM documents),
        |a1 AS (SELECT doc_id, x, y,
        |  ((x & 65535) | ((x & 65535) << 8)) & 16711935 AS xs,
        |  ((y & 65535) | ((y & 65535) << 8)) & 16711935 AS ys FROM base),
        |a2 AS (SELECT doc_id, x, y,
        |  (xs | (xs << 4)) & 252645135 AS xs,
        |  (ys | (ys << 4)) & 252645135 AS ys FROM a1),
        |a3 AS (SELECT doc_id, x, y,
        |  (xs | (xs << 2)) & 858993459 AS xs,
        |  (ys | (ys << 2)) & 858993459 AS ys FROM a2),
        |a4 AS (SELECT doc_id, x, y,
        |  (xs | (xs << 1)) & 1431655765 AS xs,
        |  (ys | (ys << 1)) & 1431655765 AS ys FROM a3)
        |SELECT doc_id, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
        |  CAST(xs | (ys << 1) AS BIGINT) AS z
        |FROM a4 ORDER BY doc_id""".stripMargin,

    // nearest-neighbor replay: output pixel p of the 2x2 thumbnail maps
    // to source index ((y*h//2)*w + (x*w//2))*3 + c with y=p//6,
    // x=(p//3)%2, c=p%3 — the same floor map resizeNearest computes
    "q_multimodal_resize" ->
      """WITH base AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |pos AS (SELECT unnest(range(0, 12)) AS p),
        |m AS (
        |  SELECT doc_id, p,
        |    ((p // 6) * h // 2 * w + (p // 3) % 2 * w // 2) * 3 + p % 3 AS si
        |  FROM base CROSS JOIN pos)
        |SELECT doc_id AS id, CAST(p AS INT) AS pos,
        |  CAST((doc_id * 31 + si) % 256 AS INT) AS val
        |FROM m ORDER BY id, pos""".stripMargin,

    // frame-sample replay: kept frames are fr % 4 = 0, sample index
    // i = fr*ch + chan, raw = (id*131 + i*7) % 65536 → signed i16
    "q_multimodal_frames" ->
      """WITH base AS (
        |  SELECT doc_id, 16 + doc_id % 7 AS nf, 1 + doc_id % 2 AS ch
        |  FROM documents),
        |f AS (SELECT unnest(range(0, 23)) AS fr),
        |c AS (SELECT unnest(range(0, 2)) AS chan),
        |kept AS (
        |  SELECT doc_id, fr, chan,
        |    (doc_id * 131 + (fr * ch + chan) * 7) % 65536 AS u
        |  FROM base CROSS JOIN f CROSS JOIN c
        |  WHERE fr < nf AND chan < ch AND fr % 4 = 0)
        |SELECT doc_id AS id, CAST(fr AS INT) AS frame,
        |  CAST(chan AS INT) AS channel,
        |  CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS INT) AS sample_i16
        |FROM kept ORDER BY id, frame, channel""".stripMargin,

    // constant-block JPEG replay: DC-only blocks with even level-
    // shifted values make the lossy pipeline integer-exact, so the
    // decoded pixel is the generating block arithmetic verbatim
    "q_multimodal_jpeg" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(2 + doc_id % 3 AS INT) bw,
        |    CAST(2 + doc_id % 2 AS INT) bh
        |  FROM documents),
        |px AS (SELECT doc_id, bw, unnest(range(0, bw * 8 * bh * 8)) i FROM dims)
        |SELECT doc_id AS id, CAST(i AS INT) AS pos,
        |  CAST(2 * ((doc_id * 31 + ((i // (bw * 8)) // 8) * bw
        |    + (i % (bw * 8)) // 8) % 128) AS INT) AS val
        |FROM px ORDER BY id, pos""".stripMargin,

    // PNG round-trip replay: the zlib stream and the five filter
    // predictors cancel in encode→decode, so the recovered pixel
    // stream is the bare id-derived arithmetic
    "q_multimodal_png" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(2 + doc_id % 4 AS INT) w,
        |    CAST(2 + doc_id % 3 AS INT) h
        |  FROM documents),
        |px AS (SELECT doc_id, unnest(range(0, w * h * 3)) i FROM dims)
        |SELECT doc_id AS id, CAST(i AS INT) AS pos,
        |  CAST((doc_id * 31 + i) % 256 AS INT) AS val
        |FROM px ORDER BY id, pos""".stripMargin,

    "q_lm_score" -> lmScoreSql,
    "q_lm_score_hot" -> lmScoreSql,
    "q_unigram_vocab" ->
      s"""WITH $unigramVocabCtes
         |SELECT piece, cnt, score_micro FROM voc
         |ORDER BY piece""".stripMargin,
    "q_unigram_segment" -> unigramSegmentOracleSql,
    // KN identity ×4N: integer numerator/denominator, exact division
    "q_lm_kn" ->
      """WITH tok AS (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |pr AS (SELECT unnest(list_transform(range(1, len(t)),
        |    i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
        |  FROM tok WHERE len(t) >= 2),
        |bi AS (SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pr GROUP BY 1, 2),
        |w1s AS (SELECT w1, sum(c12) AS c1dot, count(*) AS n1f FROM bi GROUP BY 1),
        |w2s AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS HUGEINT) AS n_all FROM bi),
        |f AS (SELECT bi.w1, bi.w2, bi.c12,
        |    CAST(greatest(4 * bi.c12 - 3, 0) AS HUGEINT) * na.n_all
        |      + 3 * CAST(w1s.n1f AS HUGEINT) * w2s.n1b AS num,
        |    4 * CAST(w1s.c1dot AS HUGEINT) * na.n_all AS den
        |  FROM bi JOIN w1s USING (w1) JOIN w2s USING (w2), na
        |  WHERE bi.c12 >= 5)
        |SELECT w1, w2, c12,
        |  CAST((2000000 * num + den) // (2 * den) AS DOUBLE) / 1000000.0 AS p_kn
        |FROM f ORDER BY p_kn DESC, w1, w2 LIMIT 50""".stripMargin,

    // KN per-doc scoring: exact integer p (the x4N identity + add-one
    // continuation floor), ln of identical doubles, micro-exact
    // final averages — the lmScoreSql skeleton with the KN smoother
    "q_lm_kn_score" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      % 100 < 80 AS is_train,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |bg AS (
        |  SELECT doc_id, is_train,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
        |  FROM tok WHERE len(t) >= 2),
        |bi AS (
        |  SELECT p.w1 AS w1, p.w2 AS w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM bg WHERE is_train GROUP BY 1, 2),
        |w1s AS (SELECT w1, sum(c12) AS c1dot, count(*) AS n1f FROM bi GROUP BY 1),
        |w2s AS (SELECT w2, count(*) AS n1b FROM bi GROUP BY 1),
        |na AS (SELECT CAST(count(*) AS HUGEINT) AS n_all FROM bi),
        |nd AS (
        |  SELECT g.doc_id, w1s.w1 AS ctx,
        |    CAST(greatest(4 * coalesce(b.c12, 0) - 3, 0) AS HUGEINT) * na.n_all
        |      + 3 * CAST(coalesce(w1s.n1f, 0) AS HUGEINT)
        |        * greatest(coalesce(w2s.n1b, 0), 1) AS num,
        |    4 * CAST(coalesce(w1s.c1dot, 1) AS HUGEINT) * na.n_all AS den,
        |    CAST(greatest(coalesce(w2s.n1b, 0), 1) AS HUGEINT) AS num2,
        |    na.n_all AS den2
        |  FROM (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg) g
        |  LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
        |  LEFT JOIN w1s ON g.w1 = w1s.w1
        |  LEFT JOIN w2s ON g.w2 = w2s.w2
        |  CROSS JOIN na),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN ctx IS NOT NULL THEN
        |      round(ln(CAST((2000000 * num + den) // (2 * den) AS DOUBLE)
        |        / 1000000.0), 6)
        |    ELSE
        |      round(ln(CAST((2000000 * num2 + den2) // (2 * den2) AS DOUBLE)
        |        / 1000000.0), 6)
        |    END AS logp,
        |    CASE WHEN ctx IS NULL THEN 1 ELSE 0 END AS ctx_oov
        |  FROM nd)
        |SELECT doc_id, n_bigrams,
        |  CAST(CASE WHEN s_micro < 0
        |      THEN -((abs(s_micro) * 2 + n_bigrams) // (n_bigrams * 2))
        |      ELSE (s_micro * 2 + n_bigrams) // (n_bigrams * 2)
        |    END AS DOUBLE) / 1000000.0 AS avg_logp_kn,
        |  CAST((o_micro * 2 + n_bigrams) // (n_bigrams * 2) AS DOUBLE)
        |    / 1000000.0 AS ctx_oov_rate
        |FROM (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(CAST(logp AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS s_micro,
        |    CAST(sum(ctx_oov) * 1000000 AS BIGINT) AS o_micro
        |  FROM sc GROUP BY 1)
        |ORDER BY doc_id""".stripMargin,

    "q_doc_shuffle" ->
      """SELECT doc_id, md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |  row_number() OVER (
        |    ORDER BY md5('epoch0:' || CAST(doc_id AS VARCHAR)), doc_id) AS rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT doc_id, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_corpus_card" ->
      s"""WITH q AS (
         |  SELECT doc_id, source, n_chars, $qualitySql AS score,
         |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |      ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
         |      AS n_tok,
         |    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
         |  FROM documents)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  round(CAST(sum(CAST(score AS DECIMAL(28,6))) AS DOUBLE)
         |    / count(*), 6) AS avg_quality,
         |  CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
         |  round(CAST(count(*) - count(DISTINCT fp) AS DOUBLE) / count(*), 6)
         |    AS dup_rate
         |FROM q GROUP BY source ORDER BY source""".stripMargin,

    // mirrors the composed ingest loop: quality gate on the batch
    // slice, exact-fingerprint dedup within it, minhash-replay
    // candidates against the corpus slice, jaccard verify, novel
    // survivors only
    "q_incremental_pipeline" ->
      s"""WITH $shingleSql,
         |split AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % 100 < 80 AS in_corpus
         |  FROM documents),
         |pass AS (
         |  SELECT d.doc_id FROM documents d JOIN split s USING (doc_id)
         |  WHERE NOT s.in_corpus AND $qualitySql >= 0.5),
         |fp AS (
         |  SELECT d.doc_id,
         |    row_number() OVER (
         |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
         |      ORDER BY d.doc_id) AS rn
         |  FROM documents d JOIN pass p ON d.doc_id = p.doc_id),
         |surv AS (SELECT doc_id FROM fp WHERE rn = 1),
         |h AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) h FROM sh),
         |params AS (
         |  SELECT unnest(range(0, 64)) i,
         |    unnest([${mh64A.mkString(",")}]) a,
         |    unnest([${mh64B.mkString(",")}]) b),
         |sigs AS (
         |  SELECT doc_id, i, min((h * a + b) % ${graft.functions.MinHashAgg.Prime}) sig
         |  FROM h CROSS JOIN params GROUP BY 1, 2),
         |sigarr AS (SELECT doc_id, list(sig ORDER BY i) s FROM sigs GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, bi, array_to_string(s[bi*4+1:bi*4+4], ',') bkey
         |  FROM sigarr CROSS JOIN (SELECT unnest(range(0, 16)) bi)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id id_new, b.doc_id id_corpus
         |  FROM bands a JOIN surv sv ON a.doc_id = sv.doc_id
         |  JOIN bands b ON a.bi = b.bi AND a.bkey = b.bkey
         |  JOIN split sb ON b.doc_id = sb.doc_id AND sb.in_corpus),
         |prs AS (
         |  SELECT c.id_new, c.id_corpus, count(*) cnt
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_new
         |  JOIN sh b ON b.doc_id = c.id_corpus AND a.g = b.g
         |  GROUP BY 1, 2),
         |dup AS (
         |  SELECT DISTINCT id_new FROM prs
         |  JOIN sizes x ON id_new = x.doc_id
         |  JOIN sizes y ON id_corpus = y.doc_id
         |  WHERE round(CAST(cnt AS DOUBLE) / (x.n + y.n - cnt), 6) >= 0.8)
         |SELECT doc_id FROM surv
         |WHERE doc_id NOT IN (SELECT id_new FROM dup) ORDER BY doc_id""".stripMargin,

    // mirrors incrementalNearDups over the 80/20 md5 split: the full
    // minhash replay (q_dedup_minhash) with candidates restricted to
    // batch-side × corpus-side band collisions, exact-jaccard verify,
    // best match per batch doc (max jaccard, ties to min corpus id),
    // LEFT JOIN so novel batch docs surface with NULLs.
    "q_dedup_incremental" ->
      s"""WITH $shingleSql,
         |split AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % 100 < 80 AS in_corpus
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) h FROM sh),
         |params AS (
         |  SELECT unnest(range(0, 64)) i,
         |    unnest([${mh64A.mkString(",")}]) a,
         |    unnest([${mh64B.mkString(",")}]) b),
         |sigs AS (
         |  SELECT doc_id, i, min((h * a + b) % ${graft.functions.MinHashAgg.Prime}) sig
         |  FROM h CROSS JOIN params GROUP BY 1, 2),
         |sigarr AS (SELECT doc_id, list(sig ORDER BY i) s FROM sigs GROUP BY 1),
         |bands AS (
         |  SELECT doc_id, bi, array_to_string(s[bi*4+1:bi*4+4], ',') bkey
         |  FROM sigarr CROSS JOIN (SELECT unnest(range(0, 16)) bi)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id id_new, b.doc_id id_corpus
         |  FROM bands a JOIN split sa ON a.doc_id = sa.doc_id AND NOT sa.in_corpus
         |  JOIN bands b ON a.bi = b.bi AND a.bkey = b.bkey
         |  JOIN split sb ON b.doc_id = sb.doc_id AND sb.in_corpus),
         |prs AS (
         |  SELECT c.id_new, c.id_corpus, count(*) cnt
         |  FROM cand c JOIN sh a ON a.doc_id = c.id_new
         |  JOIN sh b ON b.doc_id = c.id_corpus AND a.g = b.g
         |  GROUP BY 1, 2),
         |ver AS (
         |  SELECT id_new, id_corpus,
         |    round(CAST(cnt AS DOUBLE) / (x.n + y.n - cnt), 6) jaccard
         |  FROM prs JOIN sizes x ON id_new = x.doc_id
         |  JOIN sizes y ON id_corpus = y.doc_id),
         |best AS (
         |  SELECT id_new, id_corpus, jaccard,
         |    row_number() OVER (PARTITION BY id_new
         |      ORDER BY jaccard DESC, id_corpus) rn
         |  FROM ver WHERE jaccard >= 0.8)
         |SELECT d.doc_id, b.id_corpus AS dup_of, b.jaccard
         |FROM documents d JOIN split s ON d.doc_id = s.doc_id AND NOT s.in_corpus
         |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.id_new
         |ORDER BY d.doc_id""".stripMargin,
  )

  /** Bigram stupid-backoff LM replay (NgramLm.scoreDocs): train counts
    * on the md5-split train slice, score every doc. Float discipline
    * mirrors the Scala side exactly — per-bigram ln rounded to 6,
    * DECIMAL(28,6) sum, exact integer half-away division for the
    * final averages (the micro-scaled exactAvg6 discipline — a plain
    * round(sum/n, 6) flipped one doc in 5000 at sf0.1); constants are
    * CAST(0.4 AS DOUBLE) so both engines fold the same binary64.
    */
  // lazy: defined below the `oracles` val that references it
  private[queries] lazy val lmScoreSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % 100 < 80 AS is_train,
      |    regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0),
      |bg AS (
      |  SELECT doc_id, is_train,
      |    unnest(list_transform(range(1, len(t)),
      |      i -> {'w1': t[i], 'w2': t[i + 1]})) AS p
      |  FROM tok WHERE len(t) >= 2),
      |tr_tok AS (SELECT unnest(t) AS w FROM tok WHERE is_train),
      |uni AS (SELECT w, count(*) AS c FROM tr_tok GROUP BY 1),
      |tot AS (SELECT count(*) AS t_total FROM tr_tok),
      |bi AS (
      |  SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c12
      |  FROM bg WHERE is_train GROUP BY 1, 2),
      |sc AS (
      |  SELECT g.doc_id,
      |    CASE
      |      WHEN b.c12 IS NOT NULL
      |        THEN round(ln(CAST(b.c12 AS DOUBLE) / u1.c), 6)
      |      WHEN u2.c IS NOT NULL
      |        THEN round(ln(CAST(0.4 AS DOUBLE) * u2.c / t_total), 6)
      |      ELSE round(ln(CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
      |        / t_total), 6)
      |    END AS logp,
      |    CASE WHEN b.c12 IS NULL THEN 1 ELSE 0 END AS oov
      |  FROM (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg) g
      |  LEFT JOIN bi b ON g.w1 = b.w1 AND g.w2 = b.w2
      |  LEFT JOIN uni u1 ON g.w1 = u1.w
      |  LEFT JOIN uni u2 ON g.w2 = u2.w
      |  CROSS JOIN tot)
      |SELECT doc_id, n_bigrams,
      |  CAST(CASE WHEN s_micro < 0
      |      THEN -((abs(s_micro) * 2 + n_bigrams) // (n_bigrams * 2))
      |      ELSE (s_micro * 2 + n_bigrams) // (n_bigrams * 2)
      |    END AS DOUBLE) / 1000000.0 AS avg_logp,
      |  CAST((o_micro * 2 + n_bigrams) // (n_bigrams * 2) AS DOUBLE)
      |    / 1000000.0 AS oov_rate
      |FROM (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(CAST(logp AS DECIMAL(28,6))) * 1000000 AS BIGINT) AS s_micro,
      |    CAST(sum(oov) * 1000000 AS BIGINT) AS o_micro
      |  FROM sc GROUP BY 1)
      |ORDER BY doc_id""".stripMargin
}

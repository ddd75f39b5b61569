package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ConditionEval, PackRanges}
import graft.dsl.{ConditionParser, ErrorCollector}
import graft.engine.TsaEngine
import graft.model._
import graft.sources.{NioStoreFs, PartitionedStore, Tables}

/** The condition-analysis engine exercised over the driver test data,
  * with full DuckDB oracles (SURVEY.md §2.3/§2.4 R1-R15, A2-A5).
  *
  * The `events` table plays the observation store: `statid = user_id % 10`
  * (densifies the series so islands actually merge), `seid` = event_type
  * mapped alphabetically to 1..5, `seval = value`. maxMinutes=720 keeps
  * the 30-min-style truncation semantics exercised at the events table's
  * hours-scale cadence.
  */
object TsaQueries {

  private val sensorIds = Map(
    "click" -> 1, "error" -> 2, "purchase" -> 3, "signup" -> 4, "view" -> 5)

  private val MaxMinutes = 720

  /** Shared obs mapping; dedup on the natural key mirrors ingestion E5.
    * `grain`: optionally truncate tfrom BEFORE the aggregation — max is
    * associative, so grouping directly at the coarser grain equals the
    * two-step obs-then-truncate-regroup, minus a full shuffle of
    * near-unique raw timestamps.
    */
  def obsFromEvents(s: SparkSession, d: String,
                    grain: Option[String] = None): DataFrame = {
    val seid = {
      var c = when(lit(false), lit(null).cast("int"))
      for ((name, id) <- sensorIds) c = c.when(col("event_type") === name, lit(id))
      c.otherwise(lit(null).cast("int"))
    }
    val t = grain.fold(col("ts"))(g => date_trunc(g, col("ts")))
    Tables.events(s, d)
      .select(t.as("tfrom"), (col("user_id") % 10).as("statid"),
        seid.cast("bigint").as("seid"), col("value").as("seval"))
      .groupBy("tfrom", "statid", "seid")
      .agg(max("seval").as("seval"))
  }

  /** SQL rendering of the same obs mapping for the oracle. */
  private[queries] val obsSql =
    """obs AS (
      |  SELECT ts AS tfrom, user_id % 10 AS statid,
      |    CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |      WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 WHEN 'view' THEN 5
      |    END AS seid,
      |    max(value) AS seval
      |  FROM events GROUP BY 1, 2, 3)""".stripMargin

  /** pack_ranges CTE chain over `obs` for a given block-key VALUES list
    * and per-block predicate CASE: the reference's unchunked steps (lead →
    * truncate+drop-last → 3VL encode → islands on value change), one
    * window per block. PackRanges.pack runs the same steps per time chunk
    * and stitches at chunk borders, so this oracle checks the stitch too.
    */
  private def packSql(keysValues: String, predCase: String): String =
    s"""tagged AS (
       |  SELECT b.block_id, o.tfrom, o.seval, $predCase AS istrue
       |  FROM obs o
       |  JOIN (VALUES $keysValues) AS b(block_id, statid, seid)
       |    ON o.statid = b.statid AND o.seid = b.seid),
       |lead_tb AS (
       |  SELECT block_id, tfrom,
       |    lead(tfrom) OVER (PARTITION BY block_id ORDER BY tfrom) AS tuntil_raw,
       |    istrue
       |  FROM tagged),
       |trunc_tb AS (
       |  SELECT block_id, tfrom,
       |    least(tuntil_raw, tfrom + INTERVAL $MaxMinutes MINUTE) AS tuntil,
       |    coalesce(CAST(istrue AS INT), -1) AS enc
       |  FROM lead_tb WHERE tuntil_raw IS NOT NULL),
       |chg_tb AS (
       |  SELECT *, CASE WHEN enc = lag(enc) OVER (PARTITION BY block_id ORDER BY tfrom)
       |    THEN 0 ELSE 1 END AS chg
       |  FROM trunc_tb),
       |grp_tb AS (
       |  SELECT *, sum(chg) OVER (PARTITION BY block_id ORDER BY tfrom
       |    ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM chg_tb),
       |ranges AS (
       |  SELECT block_id, min(tfrom) AS vfrom, max(tuntil) AS vuntil,
       |    CASE max(enc) WHEN 1 THEN true WHEN 0 THEN false ELSE NULL END AS istrue
       |  FROM grp_tb GROUP BY block_id, grp)""".stripMargin

  /** The blocks of the pack gates, as Spark blocks and as the oracle's
    * VALUES list and predicate CASE: `q_pack_ranges` and `q_stream_pack`
    * pack all three, `q_interval_join` joins the first two.
    */
  private val packBlocks = Seq(
    PackRanges.KeyedBlock(0, 1L, 5L, PackRanges.predicate(col("seval"), CmpOp.Ge, Seq(20.0))),
    PackRanges.KeyedBlock(1, 2L, 1L, PackRanges.predicate(col("seval"), CmpOp.Lt, Seq(50.0))),
    PackRanges.KeyedBlock(2, 3L, 3L, PackRanges.predicate(col("seval"), CmpOp.In, Seq(10.0, 20.0, 30.0))))
  private val packKeys = "(0, 1, 5), (1, 2, 1), (2, 3, 3)"
  private val packPred =
    "CASE b.block_id WHEN 0 THEN o.seval >= 20 WHEN 1 THEN o.seval < 50 WHEN 2 THEN o.seval IN (10.0, 20.0, 30.0) END"

  /** The demo condition used by the engine queries:
    * `s1#view >= 20 and s2#click < 50` at site demo, alias c1 —
    * blocks c1_0=(statid 1, seid 5, >=20), c1_1=(statid 2, seid 1, <50).
    */
  private val condKeys = "(0, 1, 5), (1, 2, 1)"
  private val condPred =
    "CASE b.block_id WHEN 0 THEN o.seval >= 20 WHEN 1 THEN o.seval < 50 END"

  /** Oracle CTE chain: boundary refinement + overlap LEFT JOIN + master —
    * the reference formulation (tsa/condition.py:365-391) verbatim in SQL,
    * checking our forward-fill implementation against the original
    * range-join semantics.
    */
  private val condEvalSql =
    s"""WITH $obsSql,
       |${packSql(condKeys, condPred)},
       |bounds AS (
       |  SELECT vfrom AS vt FROM ranges UNION SELECT vuntil FROM ranges),
       |mr AS (
       |  SELECT vt AS vfrom, lead(vt) OVER (ORDER BY vt) AS vuntil FROM bounds),
       |mr2 AS (SELECT vfrom, vuntil FROM mr WHERE vuntil IS NOT NULL),
       |cond AS (
       |  SELECT mr2.vfrom, mr2.vuntil,
       |    date_diff('second', mr2.vfrom, mr2.vuntil) AS vdiff_s,
       |    b0.istrue AS c1_0, b1.istrue AS c1_1,
       |    (b0.istrue AND b1.istrue) AS master
       |  FROM mr2
       |  LEFT JOIN (SELECT * FROM ranges WHERE block_id = 0) b0
       |    ON mr2.vfrom < b0.vuntil AND b0.vfrom < mr2.vuntil
       |  LEFT JOIN (SELECT * FROM ranges WHERE block_id = 1) b1
       |    ON mr2.vfrom < b1.vuntil AND b1.vfrom < mr2.vuntil)""".stripMargin

  /** The three engine queries share one evaluated collection per
    * (session, sfDir) — the result catalog IS the reference's temp-table
    * reuse; re-planning it per query would triple the bench cost.
    *
    * ONE-slot cache: verify/bench run one (session, sfDir) at a time,
    * and a new key evicts the old entry — no unbounded static map
    * pinning frames for the life of the JVM if this class outlives a
    * harness run.
    */
  private val demoCache = new java.util.concurrent.atomic.AtomicReference[
    ((SparkSession, String), Map[String, DataFrame])]()

  private def demoCollection(s: SparkSession, d: String): Map[String, DataFrame] =
    demoCache.synchronized {
      val cur = demoCache.get()
      if (cur != null && cur._1 == ((s, d))) cur._2
      else {
        val v = runDemoCollection(s, d)
        demoCache.set(((s, d), v))
        v
      }
    }

  private def runDemoCollection(s: SparkSession, d: String): Map[String, DataFrame] = {
    val errs = new ErrorCollector("demo")
    val c1 = ConditionParser.parse("demo", "c1",
      "s1#view >= 20 and s2#click < 50", errs).get
    val c2 = ConditionParser.parse("demo", "c2", "not demo#c1", errs).get
    require(errs.isEmpty, errs.shortStr)
    val coll = CollectionSpec("demo",
      java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0),
      java.time.LocalDateTime.of(2024, 1, 31, 23, 59, 59),
      Vector(c1, c2))
    val engine = new TsaEngine(s, MaxMinutes)
    // validation probes the raw scan (statid presence is invariant
    // under the obs aggregation, and the probe then prunes to two
    // columns instead of executing the groupBy)
    val rawStat = Tables.events(s, d)
      .select(col("ts").as("tfrom"), (col("user_id") % 10).as("statid"))
    engine.run(coll, obsFromEvents(s, d), sensorIds, Some(rawStat))
      .map(r => r.spec.idString -> r.data).toMap
  }

  /** One-slot cache for the date-partitioned obs store backing
    * q_obs_pruned — the write is a fixture cost, paid once per
    * (session, sfDir), same eviction discipline as [[demoCache]].
    */
  private val storeCache = new java.util.concurrent.atomic.AtomicReference[
    ((SparkSession, String), String)]()

  private def partitionedObsPath(s: SparkSession, d: String): String =
    storeCache.synchronized {
      val cur = storeCache.get()
      if (cur != null && cur._1 == ((s, d))) cur._2
      else {
        // evicting pins DISK, not just frames — delete the old store or
        // a session-cycling harness accumulates obs copies in /tmp
        if (cur != null) NioStoreFs.deleteRecursively(cur._2)
        val path = java.nio.file.Files.createTempDirectory("graft_obs_store").toString
        PartitionedStore.writeByDay(obsFromEvents(s, d), path)
        storeCache.set(((s, d), path))
        path
      }
    }

  /** Replay `feeds` as file streams and drain `query` over them into a
    * memory sink, returned as a table. Each feed lands as one coalesced
    * parquet file (written in order), so every source is one
    * micro-batch; state partitions are sized from the feeds, not the
    * batch default.
    */
  private def replayStreams(s: SparkSession, name: String, feeds: DataFrame*)(
      query: Seq[DataFrame] => DataFrame): DataFrame = {
    val dirs = feeds.map(_ => java.nio.file.Files.createTempDirectory(name).toString)
    val sink = s"${name}_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
    try {
      feeds.zip(dirs).foreach { case (f, dir) => f.coalesce(1).write.mode("overwrite").parquet(dir) }
      val sources = dirs.map(dir => s.readStream.schema(s.read.parquet(dir).schema).parquet(dir))
      graft.streaming.StreamTune.withStatePartitions(s, dirs.map(graft.streaming.StreamTune.dirBytes).sum) {
        val q = query(sources).writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try { q.processAllAvailable() } finally { q.stop() }
      }
    } finally dirs.foreach(NioStoreFs.deleteRecursively)
    s.table(sink)
  }

  /** Bench-only: materialize the shared fixtures under their OWN
    * names so the engine-backed gates time their own work instead of
    * whichever-runs-first absorbing the whole build (round-10
    * mis-attribution: q_condition_summary 0.46 s → 3.40 s purely from
    * cache ordering — the underlying pass was ~0.3 s all along).
    */
  def benchFixtures: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "fixture_condition_engine" ->
      ((s, d) => demoCollection(s, d).valuesIterator.foreach(_.count())),
    "fixture_obs_store" -> ((s, d) => { partitionedObsPath(s, d); () }))

  /** The gates whose timing depends on [[benchFixtures]]. */
  val fixtureBackedQueries: Set[String] =
    Set("q_condition_eval", "q_condition_secondary", "q_condition_summary",
      "q_obs_pruned")

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // R3-R8: the pack_ranges kernel, three blocks in one pass.
    "q_pack_ranges" -> ((s, d) =>
      PackRanges.packKeyedChunked(obsFromEvents(s, d), packBlocks, MaxMinutes)
        .orderBy("block_id", "vfrom")),

    // The streaming twin of q_pack_ranges under the SAME hash oracle:
    // the tagged 3VL readings land as parquet, a REAL file-based
    // streaming source replays them through packStream
    // (flatMapGroupsWithState), and the memory sink's closed islands
    // are the result. One coalesced file → one micro-batch, so the
    // stream converges deterministically to the batch kernel's islands
    // minus each block's trailing OPEN island — which is exactly what
    // the oracle SQL selects (ranges minus max-vfrom per block).
    "q_stream_pack" -> ((s, d) => {
      val tagged = PackRanges.tagKeyed(obsFromEvents(s, d), packBlocks)
        .select(col("block_id"), col("tfrom"), PackRanges.encode3vl(col("istrue")).as("enc"))
      val islands = replayStreams(s, "q_stream_pack", tagged)(src =>
        graft.streaming.StreamingPack.packStream(src.head, MaxMinutes).toDF())
      PackRanges.asRanges(islands).orderBy("block_id", "vfrom")
    }),

    // The streaming as-of enrich under the batch oracle: clicks and
    // error-state land as two file streams processed one source per
    // micro-batch in event-order (readings first carry NULL state —
    // but here state lands FIRST so the enrichment is complete);
    // all rows in one batch sort by (ts, side) inside advance(), the
    // batch kernel's exact tie rule at µs granularity.
    "q_stream_asof" -> ((s, d) => {
      val ev = graft.sources.Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), col("ts"), col("value").as("reading"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id").as("key"), col("ts"))
        .agg(max("value").as("value"))
      replayStreams(s, "q_stream_asof", errors, clicks) { case Seq(state, readings) =>
          graft.streaming.StreamingAsof.asofStream(readings, state).toDF()
        }
        .select(col("key").as("user_id"), timestamp_micros(col("ts")).as("ts"),
          col("reading").as("click_val"), col("state_value").as("err_val"))
        .orderBy("user_id", "ts", "click_val")
    }),

    // Watermarked stream-stream interval join under the batch oracle:
    // views and clicks land as two file streams; every click within
    // 6 hours after a view of the same user attributes. The time-range
    // condition + both watermarks bound the join state (O(window) per
    // key) — the contract that makes an unbounded two-stream join
    // possible at all; the oracle is the plain batch interval join.
    "q_stream_join" -> ((s, d) => {
      val ev = graft.sources.Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      replayStreams(s, "q_stream_join", views, clicks) { case Seq(v, c) =>
          graft.streaming.StreamingJoin.attributionJoin(v, c, "6 hours")
        }
        .orderBy("user_id", "view_id", "click_id")
    }),

    // Streaming sessionization under the batch oracle: session_window
    // + watermark over a file stream; a far-future sentinel row in a
    // SECOND file advances the watermark so every real session closes,
    // then the sentinel's user is filtered back out.
    "q_stream_sessions" -> ((s, d) => {
      val ev = graft.sources.Tables.events(s, d).select(col("user_id"), col("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_sessions")
      val sink = s"stream_sessions_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        ev.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val src = s.readStream.schema(s.read.parquet(tmp.toString).schema)
          .parquet(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
        val q = src.withWatermark("ts", "1 minute")
          .groupBy(col("user_id"),
            session_window(col("ts"), "2 hours").as("sw"))
          .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"))
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append").start()
        try {
          q.processAllAvailable()
          // sentinel batch: pushes the watermark past every session
          import s.implicits._
          Seq((-1L, new java.sql.Timestamp(4102444800000L)))
            .toDF("user_id", "ts")
            .coalesce(1).write.mode("append").parquet(tmp.toString)
          q.processAllAvailable()
        } finally q.stop()
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink).filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start")
    }),

    // The live road-weather adapter under the hash oracle: the events
    // table is rendered as the public API's JSON payloads (one
    // payload per station, JSON-Lines layout), streamed back through
    // DigitrafficSource, and the exploded observation rows must equal
    // the relation the events table declares — parse, explode, null
    // filter and timestamp round trip all gated. Microsecond
    // timestamps survive via the SSSSSS format.
    "q_stream_roadweather" -> ((s, d) => {
      val ev = graft.sources.Tables.events(s, d)
      val stamp = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
      val payloads = ev
        .groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(
          col("event_id").as("id"),
          col("user_id").as("stationId"),
          col("event_type").as("name"),
          date_format(col("ts"), stamp).as("measuredTime"),
          col("value").as("value")))).as("svs"))
        .select(lit("2026-01-01T00:00:00Z").as("dataUpdatedTime"),
          array(struct(col("user_id").as("id"),
            lit("2026-01-01T00:00:00Z").as("dataUpdatedTime"),
            col("svs").as("sensorValues"))).as("stations"))
      val tmp = java.nio.file.Files.createTempDirectory("q_stream_roadweather")
      val sink = s"roadweather_sink_${java.util.UUID.randomUUID().toString.takeWhile(_ != '-')}"
      try {
        payloads.coalesce(4).write.mode("overwrite").json(tmp.toString)
        graft.streaming.StreamTune.withStatePartitions(s,
          graft.streaming.StreamTune.dirBytes(tmp.toString)) {
          val q = graft.streaming.DigitrafficSource
            .sensorDataStreamLines(s, tmp.toString, "2 hours")
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          try { q.processAllAvailable() } finally { q.stop() }
        }
      } finally NioStoreFs.deleteRecursively(tmp.toString)
      s.table(sink)
        .select(col("tfrom"), col("statid"), col("seid"), col("sename"),
          col("seval"))
        .orderBy("seid")
    }),

    // R10-R15: full condition pipeline via the DSL + engine.
    "q_condition_eval" -> ((s, d) =>
      demoCollection(s, d)("demo_c1").orderBy("vfrom")),

    // Secondary condition (R9): `not demo#c1` read from the result catalog.
    "q_condition_secondary" -> ((s, d) =>
      demoCollection(s, d)("demo_c2").orderBy("vfrom")),

    // The 100 TB storage story under the hash oracle: the same demo
    // condition evaluated over a DATE-PARTITIONED obs store
    // (PartitionedStore.writeByDay / prunedRange — the Spark-native
    // replacement for the reference's hypertable chunking on tfrom,
    // database/01_init_db.sql:50). The collection's range reaches the
    // directory listing as PartitionFilters (pinned in PlanSpec); the
    // result must hash-match q_condition_eval's direct-view run.
    "q_obs_pruned" -> ((s, d) => {
      val errs = new ErrorCollector("demo")
      val c1 = ConditionParser.parse("demo", "c1",
        "s1#view >= 20 and s2#click < 50", errs).get
      require(errs.isEmpty, errs.shortStr)
      val coll = CollectionSpec("demo",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0),
        java.time.LocalDateTime.of(2024, 1, 31, 23, 59, 59), Vector(c1))
      val from = java.sql.Timestamp.from(coll.timeFrom.toInstant(java.time.ZoneOffset.UTC))
      val until = java.sql.Timestamp.from(coll.timeUntil.toInstant(java.time.ZoneOffset.UTC))
      val obs = PartitionedStore.prunedRange(
          PartitionedStore.read(s, partitionedObsPath(s, d)), "tfrom", from, until)
        .select("tfrom", "statid", "seid", "seval")
      new TsaEngine(s, MaxMinutes).run(coll, obs, sensorIds)
        .head.data.orderBy("vfrom")
    }),

    // A2-A5: summary scalars.
    "q_condition_summary" -> ((s, d) =>
      ConditionEval.summarize(demoCollection(s, d)("demo_c1"))),

    // R12 as a first-class operator: overlap pairs between two blocks'
    // true-ranges via the binned interval join (oracle: plain theta join).
    "q_interval_join" -> ((s, d) => {
      val packed = PackRanges.packKeyedChunked(obsFromEvents(s, d), packBlocks.take(2), MaxMinutes)
      val l = packed.filter(col("block_id") === 0 && col("istrue") === true)
        .select(col("vfrom").as("lfrom"), col("vuntil").as("luntil"))
      val r = packed.filter(col("block_id") === 1 && col("istrue") === true)
        .select(col("vfrom").as("rfrom"), col("vuntil").as("runtil"))
      graft.core.TimeJoins.intervalJoin(l, r, Seq.empty,
          "lfrom", "luntil", "rfrom", "runtil", binSeconds = 24 * 3600)
        .orderBy("lfrom", "rfrom")
    }),

    // Gap sessionization over the event stream (2-hour timeout).
    "q_sessionize" -> ((s, d) =>
      graft.core.TimeJoins.sessionize(
          Tables.events(s, d).select(col("user_id"), col("ts")),
          Seq("user_id"), "ts", gapSeconds = 7200)
        .orderBy("user_id", "session_start")),

    // As-of join: each click enriched with the user's latest error
    // value at-or-before it (DuckDB ASOF LEFT JOIN is the oracle).
    "q_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value").as("click_val"))
      val errors = ev.filter(col("event_type") === "error")
        .groupBy("user_id", "ts").agg(max("value").as("err_val"))
      graft.core.TimeJoins.asofJoin(clicks, errors, Seq("user_id"), "ts")
        .orderBy("user_id", "ts", "click_val")
    }),

    // Fixed-grid downsample with last-observation-carried-forward:
    // 6-hour ticks over the events month, values staler than 24h
    // nulled (the pack_ranges staleness rule on a grid). The carry-
    // forward IS asofJoin — oracle: DuckDB generate_series + ASOF.
    "q_obs_resample" -> ((s, d) =>
      graft.core.SeriesOps.resampleLocf(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval",
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-30 00:00:00"),
          stepSeconds = 6 * 3600, maxAgeSeconds = 24 * 3600)
        .orderBy("statid", "seid", "tfrom")),

    // Rolling trailing-24h statistics per (station, sensor): the
    // smoothing layer above the raw series. DECIMAL-exact sums; the
    // mean is one IEEE division of exact inputs.
    "q_obs_rolling" -> ((s, d) =>
      graft.core.SeriesOps.rollingStats(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval", windowSeconds = 24 * 3600)
        .orderBy("statid", "seid", "tfrom")),

    // EWMA smoothing per (station, sensor): fixed-depth lag chain
    // (depth 4, α=0.1 — the common default, NON-dyadic: exercises the
    // rational p/q weight ladder 1000/900/810/729 over 10⁴),
    // renormalized over the present lags. The low-lag trend line next
    // to q_obs_rolling's uniform window.
    "q_obs_ewma" -> ((s, d) =>
      graft.core.SeriesOps.ewmaLagged(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval", alpha = 0.1, depth = 4)
        .orderBy("statid", "seid", "tfrom")),

    // trapezoidal time-weighted average per (station, sensor) — the
    // unbiased mean for event-driven feeds (emit-on-change sampling
    // density correlates with weather activity; a plain AVG
    // overweights storms). Exact centi×µs integer trapezoids.
    "q_obs_twa" -> ((s, d) =>
      graft.core.SeriesOps.timeWeightedAvg(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval")
        .orderBy("statid", "seid")),

    // bounded-lag Mann–Kendall monotone-trend statistic per sensor:
    // pure sign comparisons, integer S, one exact division for tau
    "q_obs_trend" -> ((s, d) =>
      graft.core.SeriesOps.mannKendall(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval", maxLag = 12)
        .orderBy("statid", "seid")),

    // Integer-exact 3-sigma anomaly flags against the trailing 24h
    // (values are 2-decimal → the ×100 fixed-point lift is exact; the
    // test is pure BIGINT, no float in the decision).
    "q_obs_anomaly" -> ((s, d) =>
      graft.core.SeriesOps.rollingAnomalies(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", "seval",
          windowSeconds = 24 * 3600, k = (3, 1), fpScale = 100)
        .orderBy("statid", "seid", "tfrom")),

    // Data-gap inventory per (station, sensor): consecutive readings
    // more than 12h apart — the no-data windows pack_ranges absorbs
    // into its nodata total, listed explicitly.
    "q_obs_gaps" -> ((s, d) =>
      graft.core.SeriesOps.gapReport(obsFromEvents(s, d),
          Seq("statid", "seid"), "tfrom", minGapSeconds = 12 * 3600)
        .orderBy("statid", "seid", "gap_start")),

    // Wide layout (the reference's own proposed optimization,
    // database/README.md:128-131): sensors as columns, block predicates
    // as plain column comparisons on one scan — no R2 join.
    "q_obs_wide" -> ((s, d) =>
      graft.core.ObsLayouts.widen(obsFromEvents(s, d), (1 to 5))
        .orderBy("tfrom", "statid")),
    // daily buckets so one row carries several sensors — raw event
    // timestamps are unique per reading, which would leave every wide
    // row single-sensor and the cross-sensor predicate vacuous
    "q_wide_predicate" -> ((s, d) =>
      graft.core.ObsLayouts.widen(obsFromEvents(s, d, grain = Some("day")),
          (1 to 5))
        .filter(col("se_5") >= 20 && col("se_1").isNotNull)
        .groupBy("statid")
        .agg(count(lit(1)).as("n"),
          sum(col("se_5").cast("decimal(38,6)")).cast("double").as("sum_view"))
        .orderBy("statid")),
  )

  private val wideSql =
    """wide AS (
      |  SELECT tfrom, statid,
      |    max(CASE WHEN seid = 1 THEN seval END) AS se_1,
      |    max(CASE WHEN seid = 2 THEN seval END) AS se_2,
      |    max(CASE WHEN seid = 3 THEN seval END) AS se_3,
      |    max(CASE WHEN seid = 4 THEN seval END) AS se_4,
      |    max(CASE WHEN seid = 5 THEN seval END) AS se_5
      |  FROM obs GROUP BY 1, 2)""".stripMargin

  private val sessionizeSql =
    """WITH flagged AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR date_diff('second', lag(ts) OVER w, ts) > 7200
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |grouped AS (
        |  SELECT user_id, ts,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events
        |FROM grouped GROUP BY user_id, sess
        |ORDER BY user_id, session_start""".stripMargin

  private val asofJoinSql =
    """WITH l AS (
        |  SELECT user_id, ts, value AS click_val FROM events
        |  WHERE event_type = 'click'),
        |r AS (
        |  SELECT user_id, ts, max(value) AS err_val FROM events
        |  WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT l.user_id, l.ts, l.click_val, r.err_val
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY l.user_id, l.ts, l.click_val""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_sessionize" -> sessionizeSql,
    // the sentinel watermark flush closes every real session → the
    // stream lands on the batch relation exactly
    "q_stream_sessions" -> sessionizeSql,

    "q_interval_join" ->
      s"""WITH $obsSql,
         |${packSql(condKeys, condPred)},
         |l AS (SELECT vfrom AS lfrom, vuntil AS luntil FROM ranges
         |  WHERE block_id = 0 AND istrue),
         |r AS (SELECT vfrom AS rfrom, vuntil AS runtil FROM ranges
         |  WHERE block_id = 1 AND istrue)
         |SELECT lfrom, luntil, rfrom, runtil
         |FROM l JOIN r ON lfrom < runtil AND rfrom < luntil
         |ORDER BY lfrom, rfrom""".stripMargin,

    "q_asof_join" -> asofJoinSql,
    // one µs-exact micro-batch reproduces the batch as-of relation
    "q_stream_asof" -> asofJoinSql,

    "q_stream_join" ->
      """WITH v AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'click')
        |SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  v.ts AS view_ts, c.ts AS click_ts
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    "q_obs_wide" ->
      s"""WITH $obsSql,
         |$wideSql
         |SELECT * FROM wide ORDER BY tfrom, statid""".stripMargin,

    "q_obs_resample" ->
      s"""WITH $obsSql,
         |ks AS (SELECT DISTINCT statid, seid FROM obs),
         |grid AS (
         |  SELECT k.statid, k.seid, g.ts AS tfrom
         |  FROM ks k, (SELECT unnest(generate_series(
         |    TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-30 00:00:00',
         |    INTERVAL 6 HOUR)) AS ts) g),
         |j AS (
         |  SELECT g.statid, g.seid, g.tfrom, o.seval, o.tfrom AS obs_ts
         |  FROM grid g ASOF LEFT JOIN obs o
         |    ON g.statid = o.statid AND g.seid = o.seid AND g.tfrom >= o.tfrom)
         |SELECT statid, seid, tfrom,
         |  CASE WHEN obs_ts IS NULL
         |    OR date_diff('second', obs_ts, tfrom) > 86400
         |    THEN NULL ELSE seval END AS seval,
         |  CASE WHEN obs_ts IS NULL
         |    OR date_diff('second', obs_ts, tfrom) > 86400
         |    THEN NULL ELSE obs_ts END AS obs_ts
         |FROM j ORDER BY statid, seid, tfrom""".stripMargin,

    // RANGE frame over whole epoch seconds (unix_timestamp truncates;
    // floor(epoch()) is the DuckDB twin); DECIMAL(38,6) window sums
    // cast back to double exactly as the aggregate oracles do
    "q_obs_rolling" ->
      s"""WITH $obsSql,
         |w AS (
         |  SELECT statid, seid, tfrom, seval,
         |    count(*) OVER win AS roll_n,
         |    CAST(sum(CAST(seval AS DECIMAL(38,6))) OVER win AS DOUBLE) AS roll_sum,
         |    CAST(sum(CAST(seval AS DECIMAL(38,6))) OVER win AS DOUBLE)
         |      / (count(*) OVER win) AS roll_mean,
         |    min(seval) OVER win AS roll_min,
         |    max(seval) OVER win AS roll_max
         |  FROM obs
         |  WINDOW win AS (PARTITION BY statid, seid
         |    ORDER BY CAST(floor(epoch(tfrom)) AS BIGINT)
         |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
         |SELECT * FROM w ORDER BY statid, seid, tfrom""".stripMargin,

    // mirrors ewmaLagged(α=0.1, depth=4): NON-dyadic alpha, rational
    // weights 1·9^j·10^(3−j) = 1000/900/810/729 over 10⁴, values lift
    // to exact micro units, and the weighted average is ONE exact
    // half-away integer division (Round6.microRatio6 twin) — no IEEE
    // fold, no -0.0
    "q_obs_ewma" ->
      s"""WITH $obsSql,
         |l AS (SELECT statid, seid, tfrom, seval,
         |    CAST(round(seval * 1000000) AS BIGINT) AS y0,
         |    CAST(round(lag(seval, 1) OVER win * 1000000) AS BIGINT) AS y1,
         |    CAST(round(lag(seval, 2) OVER win * 1000000) AS BIGINT) AS y2,
         |    CAST(round(lag(seval, 3) OVER win * 1000000) AS BIGINT) AS y3
         |  FROM obs
         |  WINDOW win AS (PARTITION BY statid, seid ORDER BY tfrom)),
         |nd AS (SELECT statid, seid, tfrom, seval,
         |    y0 * 1000 + coalesce(y1 * 900, 0) + coalesce(y2 * 810, 0)
         |      + coalesce(y3 * 729, 0) AS num,
         |    1000 + CASE WHEN y1 IS NULL THEN 0 ELSE 900 END
         |      + CASE WHEN y2 IS NULL THEN 0 ELSE 810 END
         |      + CASE WHEN y3 IS NULL THEN 0 ELSE 729 END AS den
         |  FROM l)
         |SELECT statid, seid, tfrom, seval,
         |  CAST(CASE WHEN num < 0
         |      THEN -((2 * (-num) + den) // (2 * den))
         |      ELSE (2 * num + den) // (2 * den) END AS DOUBLE)
         |    / 1000000.0 AS ewma
         |FROM nd ORDER BY statid, seid, tfrom""".stripMargin,

    // 12 lag probes, sign CASEs, integer S, exact tau division
    "q_obs_trend" -> {
      val lags = (1 to 12).map(l => s"lag(seval, $l) OVER win AS p$l")
        .mkString(",\n    ")
      val signs = (1 to 12).map(l =>
        s"(CASE WHEN p$l IS NULL THEN 0 WHEN seval > p$l THEN 1" +
          s" WHEN seval < p$l THEN -1 ELSE 0 END)").mkString(" + ")
      val pairs = (1 to 12).map(l =>
        s"(CASE WHEN p$l IS NULL THEN 0 ELSE 1 END)").mkString(" + ")
      s"""WITH $obsSql,
         |l AS (SELECT statid, seid, seval,
         |    $lags
         |  FROM obs
         |  WINDOW win AS (PARTITION BY statid, seid ORDER BY tfrom)),
         |t AS (SELECT statid, seid,
         |    CAST(count(*) AS BIGINT) AS n_obs,
         |    CAST(sum($signs) AS BIGINT) AS s,
         |    CAST(sum($pairs) AS BIGINT) AS n_pairs
         |  FROM l GROUP BY 1, 2)
         |SELECT statid, seid, n_obs, n_pairs, s,
         |  CAST(CASE WHEN s < 0
         |      THEN -((2000000 * (-s) + n_pairs) // (2 * n_pairs))
         |      ELSE (2000000 * s + n_pairs) // (2 * n_pairs) END AS DOUBLE)
         |    / 1000000.0 AS tau
         |FROM t WHERE n_pairs > 0 ORDER BY statid, seid""".stripMargin
    },

    // trapezoid sum in HUGEINT centi×µs, one exact half-away division
    "q_obs_twa" ->
      s"""WITH $obsSql,
         |e AS (SELECT statid, seid, tfrom,
         |    CAST(round(seval * 100) AS BIGINT) AS vc,
         |    epoch_us(tfrom) AS t,
         |    lead(CAST(round(seval * 100) AS BIGINT)) OVER win AS vn,
         |    lead(epoch_us(tfrom)) OVER win AS tn
         |  FROM obs
         |  WINDOW win AS (PARTITION BY statid, seid ORDER BY tfrom)),
         |g AS (SELECT statid, seid,
         |    min(tfrom) AS t_first, make_timestamp(max(tn)) AS t_last,
         |    CAST(count(*) + 1 AS BIGINT) AS n_obs,
         |    sum(CAST((vc + vn) * (tn - t) AS HUGEINT)) AS num,
         |    CAST(max(tn) - min(t) AS HUGEINT) * 200 AS den
         |  FROM e WHERE tn IS NOT NULL GROUP BY 1, 2)
         |SELECT statid, seid, t_first, t_last, n_obs,
         |  CAST(CASE WHEN num < 0 THEN -((2000000 * (-num) + den) // (2 * den))
         |       ELSE (2000000 * num + den) // (2 * den) END AS DOUBLE)
         |    / 1000000.0 AS twa
         |FROM g ORDER BY statid, seid""".stripMargin,

    // mirrors rollingAnomalies(k=3/1, fpScale=100): y = round(100·x),
    // flag = (n·y − S)² > 9·(n·Q − S²), pure integer (DuckDB window
    // sums of BIGINT return HUGEINT — cast back)
    "q_obs_anomaly" ->
      s"""WITH $obsSql,
         |y AS (
         |  SELECT statid, seid, tfrom, seval,
         |    CAST(round(seval * 100) AS BIGINT) AS yv
         |  FROM obs),
         |w AS (
         |  SELECT statid, seid, tfrom, seval, yv,
         |    count(*) OVER win AS roll_n,
         |    CAST(sum(yv) OVER win AS BIGINT) AS s,
         |    CAST(sum(yv * yv) OVER win AS BIGINT) AS q
         |  FROM y
         |  WINDOW win AS (PARTITION BY statid, seid
         |    ORDER BY CAST(floor(epoch(tfrom)) AS BIGINT)
         |    RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
         |SELECT statid, seid, tfrom, seval, roll_n,
         |  ((roll_n * yv - s) * (roll_n * yv - s)
         |    > 9 * (roll_n * q - s * s)) AS is_anomaly
         |FROM w ORDER BY statid, seid, tfrom""".stripMargin,

    "q_obs_gaps" ->
      s"""WITH $obsSql,
         |nx AS (
         |  SELECT statid, seid, tfrom,
         |    lead(tfrom) OVER (PARTITION BY statid, seid ORDER BY tfrom) AS nxt
         |  FROM obs)
         |SELECT statid, seid, tfrom AS gap_start, nxt AS gap_end,
         |  date_diff('second', tfrom, nxt) AS gap_s
         |FROM nx
         |WHERE nxt IS NOT NULL AND date_diff('second', tfrom, nxt) > 43200
         |ORDER BY statid, seid, gap_start""".stripMargin,

    "q_wide_predicate" ->
      s"""WITH $obsSql,
         |obs_daily AS (
         |  SELECT date_trunc('day', tfrom) AS tfrom, statid, seid,
         |    max(seval) AS seval
         |  FROM obs GROUP BY 1, 2, 3),
         |wide AS (
         |  SELECT tfrom, statid,
         |    max(CASE WHEN seid = 1 THEN seval END) AS se_1,
         |    max(CASE WHEN seid = 2 THEN seval END) AS se_2,
         |    max(CASE WHEN seid = 3 THEN seval END) AS se_3,
         |    max(CASE WHEN seid = 4 THEN seval END) AS se_4,
         |    max(CASE WHEN seid = 5 THEN seval END) AS se_5
         |  FROM obs_daily GROUP BY 1, 2)
         |SELECT statid, count(*) AS n,
         |  CAST(sum(CAST(se_5 AS DECIMAL(38,6))) AS DOUBLE) AS sum_view
         |FROM wide WHERE se_5 >= 20 AND se_1 IS NOT NULL
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_pack_ranges" ->
      s"""WITH $obsSql,
         |${packSql(packKeys, packPred)}
         |SELECT block_id, vfrom, vuntil, istrue FROM ranges
         |ORDER BY block_id, vfrom""".stripMargin,

    // the JSON render → stream → explode round trip must reproduce the
    // events relation exactly
    "q_stream_roadweather" ->
      """SELECT ts AS tfrom, user_id AS statid, event_id AS seid,
        |  event_type AS sename, value AS seval
        |FROM events ORDER BY seid""".stripMargin,

    // the stream converges to the batch ranges minus each block's
    // trailing island, which stays open in state
    "q_stream_pack" ->
      s"""WITH $obsSql,
         |${packSql(packKeys, packPred)}
         |SELECT block_id, vfrom, vuntil, istrue FROM ranges r
         |WHERE vfrom < (SELECT max(vfrom) FROM ranges r2
         |               WHERE r2.block_id = r.block_id)
         |ORDER BY block_id, vfrom""".stripMargin,

    "q_condition_eval" ->
      s"""$condEvalSql
         |SELECT * FROM cond ORDER BY vfrom""".stripMargin,

    // the partitioned-store run must agree with the direct-view oracle
    // bit for bit — the store is a layout change, not a semantic one
    "q_obs_pruned" ->
      s"""$condEvalSql
         |SELECT * FROM cond ORDER BY vfrom""".stripMargin,

    "q_condition_secondary" ->
      s"""$condEvalSql
         |SELECT vfrom, vuntil, vdiff_s, master AS c2_0, NOT master AS master
         |FROM cond ORDER BY vfrom""".stripMargin,

    "q_condition_summary" ->
      s"""$condEvalSql
         |SELECT min(vfrom) AS data_from, max(vuntil) AS data_until,
         |  CAST(coalesce(sum(CASE WHEN master THEN vdiff_s END), 0) AS BIGINT) AS valid_s,
         |  CAST(coalesce(sum(CASE WHEN NOT master THEN vdiff_s END), 0) AS BIGINT) AS notvalid_s,
         |  count(*) AS n_rows,
         |  date_diff('second', min(vfrom), max(vuntil)) AS tottime_s,
         |  CAST(date_diff('second', min(vfrom), max(vuntil))
         |    - coalesce(sum(CASE WHEN master THEN vdiff_s END), 0)
         |    - coalesce(sum(CASE WHEN NOT master THEN vdiff_s END), 0) AS BIGINT) AS nodata_s,
         |  CAST(coalesce(sum(CASE WHEN master THEN vdiff_s END), 0) AS DOUBLE)
         |    / date_diff('second', min(vfrom), max(vuntil)) AS percent_valid,
         |  CAST(coalesce(sum(CASE WHEN NOT master THEN vdiff_s END), 0) AS DOUBLE)
         |    / date_diff('second', min(vfrom), max(vuntil)) AS percent_notvalid,
         |  CAST(date_diff('second', min(vfrom), max(vuntil))
         |    - coalesce(sum(CASE WHEN master THEN vdiff_s END), 0)
         |    - coalesce(sum(CASE WHEN NOT master THEN vdiff_s END), 0) AS DOUBLE)
         |    / date_diff('second', min(vfrom), max(vuntil)) AS percent_nodata
         |FROM cond""".stripMargin,
  )
}

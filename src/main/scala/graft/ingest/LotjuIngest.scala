package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Raw "LOTJU" dump ingestion → normalized observation store
  * (reference database/02_rawdata_schema.sql:13-106 and the monthly batch
  * loop 10_batch_populate_statobs_seobs.sh:29-42; SURVEY.md §2.2 E1-E7).
  *
  * Wire format (FIXTURES.md §3): pipe-delimited CSV with header,
  * Finnish-locale timestamps `dd.MM.yyyy HH:mm:ss,fffffffff` in
  * Europe/Helsinki wall time.
  *
  * Where the reference stages into Postgres temp tables month by month
  * inside transactions, this is one declarative pipeline per input glob:
  * read → parse/convert → broadcast FK remap → null-filter → dedup →
  * clustered date-partitioned parquet append. No staging or transactions.
  */
object LotjuIngest {

  val statobsRawSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("AIKA", StringType),
    StructField("ASEMA_ID", IntegerType)))

  val seobsRawSchema: StructType = StructType(Seq(
    StructField("ID", LongType), StructField("ANTURI_ID", IntegerType),
    StructField("ARVO", FloatType), StructField("MITTATIETO_ID", LongType),
    StructField("TIEDOSTO_ID", StringType)))

  /** 3-col pipe-CSV metadata, no header: id|lotjuid|"name"
    * (database/03_insert_stations_sensors.sql:11-16, FIXTURES.md §4).
    */
  def readMetadata(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(StructType(Seq(StructField("id", IntegerType),
        StructField("lotjuid", IntegerType), StructField("name", StringType))))
      .option("delimiter", "|").csv(path)

  /** Sensor name→id lookup: `lower(replace(name,'"',''))`
    * (tsa/utils.py:275-283). Collected to a driver map — 145 rows.
    */
  def sensorNameIds(metadata: DataFrame): Map[String, Int] =
    metadata.select(lower(regexp_replace(col("name"), "\"", "")).as("name"), col("id"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  /** E1: strip the `,fffffffff` fraction, parse as Helsinki wall time,
    * convert to UTC instant (database/02_rawdata_schema.sql:46-57).
    *
    * Session-timezone-independent by construction: the wall-clock fields
    * are extracted textually and bound to Europe/Helsinki via
    * `make_timestamp`'s explicit zone argument — `to_timestamp` +
    * `to_utc_timestamp` would silently shift instants under a non-UTC
    * `spark.sql.session.timeZone`, and `ingest`/`statobs` are library
    * entry points that can't assume the caller pinned the session zone.
    */
  def parseLotjuTimestamp(aika: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def part(group: Int) =
      regexp_extract(aika,
        "^(\\d{1,2})\\.(\\d{1,2})\\.(\\d{4}) (\\d{1,2}):(\\d{2}):(\\d{2})", group)
    when(part(3) === "", lit(null).cast("timestamp")).otherwise(
      make_timestamp(
        part(3).cast("int"), part(2).cast("int"), part(1).cast("int"),
        part(4).cast("int"), part(5).cast("int"), part(6).cast("decimal(8,6)"),
        lit("Europe/Helsinki")))
  }

  /** Station events: raw `tiesaa_mittatieto` → `statobs(id, tfrom, statid)`.
    * E1 parse + E2 broadcast FK remap (lotjuid → station id) + E4 null
    * filter + E5 dedup on the natural key (tfrom, statid).
    */
  def statobs(raw: DataFrame, stations: DataFrame): DataFrame =
    statobsRows(raw, stations).dropDuplicates("tfrom", "statid")

  /** [[statobs]] without its E5 dedup: E1 parse, E2 remap and E4 null
    * filter, which the stream shares (it dedups within a watermark).
    */
  private[graft] def statobsRows(raw: DataFrame, stations: DataFrame): DataFrame =
    raw
      .withColumn("tfrom", parseLotjuTimestamp(col("AIKA")))
      .join(broadcast(stations.select(col("id").as("statid"), col("lotjuid"))),
        col("ASEMA_ID") === col("lotjuid"))
      .select(col("ID").as("id"), col("tfrom"), col("statid"))
      .filter(col("id").isNotNull && col("tfrom").isNotNull && col("statid").isNotNull)

  /** Sensor values: raw `anturi_arvo` → `seobs(id, obsid, seid, seval)`.
    * E3 broadcast FK remap + E4 null filter + E5 dedup on (obsid, seid).
    */
  def seobs(raw: DataFrame, sensors: DataFrame): DataFrame =
    raw
      .join(broadcast(sensors.select(col("id").as("seid"), col("lotjuid"))),
        col("ANTURI_ID") === col("lotjuid"))
      .select(col("ID").as("id"), col("MITTATIETO_ID").as("obsid"),
        col("seid"), col("ARVO").as("seval"))
      .filter(col("id").isNotNull && col("obsid").isNotNull &&
        col("seid").isNotNull && col("seval").isNotNull)
      .dropDuplicates("obsid", "seid")

  /** R2 once at ingest: the pre-joined wide observation relation
    * `(tfrom, statid, seid, seval)` — the reference's own proposed
    * optimization (database/README.md:128-131). Date-partitioned parquet
    * gives the engine partition pruning on the R1 time filter.
    */
  def obsMain(statobs: DataFrame, seobs: DataFrame): DataFrame =
    statobs.join(seobs, statobs("id") === seobs("obsid"))
      .select(col("tfrom"), col("statid"), col("seid"), col("seval"))

  /** Metadata pre-filter (S6): the reference's awk field projection +
    * regex row filter + numeric sort
    * (database/00_prepare_lotju_metadata.sh:12-29) as a declarative
    * transform: raw wide metadata → (id, lotjuid, name) rows whose name
    * matches the keep pattern, numerically ordered.
    */
  def prefilterMetadata(raw: DataFrame, idCol: String, lotjuCol: String,
                        nameCol: String, keepPattern: String): DataFrame =
    raw.select(col(idCol).cast("int").as("id"),
        col(lotjuCol).cast("int").as("lotjuid"), col(nameCol).as("name"))
      .filter(col("name").rlike(keepPattern))
      .orderBy(col("id"))

  /** Full pipeline: raw CSVs (monthly glob ok — replaces the reference's
    * 12-iteration shell loop, E7) → the store, appended through its one
    * clustered writer ([[graft.sources.PartitionedStore]]), so one input
    * always writes the same store. The rows inserted per side are logged
    * at INFO after the write (the reference's `RETURNING`-CTE counts, A8,
    * database/02_rawdata_schema.sql:67-76), observed during it: no extra job.
    */
  def ingest(spark: SparkSession, mittatietoGlob: String, anturiArvoGlob: String,
             stationsCsv: String, sensorsCsv: String, outPath: String): Unit = {
    def raw(schema: StructType, glob: String) =
      spark.read.schema(schema).option("delimiter", "|").option("header", "true").csv(glob)
    // the hint keeps each side behind its own exchange (no broadcast), so
    // its observe runs once: the store's range exchange samples the join
    // stage, re-running whatever is fused into it
    val inserted = Seq("statobs", "seobs").map(Observation(_))
    val so = statobs(raw(statobsRawSchema, mittatietoGlob), readMetadata(spark, stationsCsv))
      .observe(inserted(0), count(lit(1)).as("rows")).hint("shuffle_hash")
    val se = seobs(raw(seobsRawSchema, anturiArvoGlob), readMetadata(spark, sensorsCsv))
      .observe(inserted(1), count(lit(1)).as("rows"))
    graft.sources.PartitionedStore.writeByDay(obsMain(so, se), outPath, SaveMode.Append)
    val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
    // a side AQE skipped (the other side was empty) has no metric: it inserted nothing
    inserted.foreach(o => log.info(s"${o.get.getOrElse("rows", 0L)} ${o.name} rows inserted"))
  }
}

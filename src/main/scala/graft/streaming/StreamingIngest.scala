package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.LotjuIngest
import graft.operators.TextOps

/** Streaming ingestion and dedup (SURVEY.md north star: "Structured
  * Streaming + DataFrame time-series ops"). The batch ingestion
  * transforms (E1 parse, E2 broadcast remap, E4 null filter) are pure
  * DataFrame→DataFrame, so `readStream` reuses them verbatim; only the
  * stateful natural-key dedup (E5) changes form —
  * `dropDuplicatesWithinWatermark` bounds dedup state to the lateness
  * horizon, where batch `dropDuplicates` state on a stream would grow
  * with the stream forever.
  *
  * The reference has no streaming path (it bulk-loads monthly dumps,
  * database/README.md:95-98); this is the live-feed extension of the
  * same pipeline.
  */
object StreamingIngest {

  /** S3 as a stream: raw `tiesaa_mittatieto` pipe-CSV files landing in
    * `dir` → normalized statobs rows, continuously.
    */
  def statobsStream(spark: SparkSession, dir: String, stations: DataFrame,
                    lateness: String = "1 hour"): DataFrame = {
    val raw = spark.readStream.schema(LotjuIngest.statobsRawSchema)
      .option("delimiter", "|").option("header", "true").csv(dir)
    statobsStreamFrom(raw, stations, lateness)
  }

  /** Transform-only variant for arbitrary streaming sources (tests feed
    * a MemoryStream): [[LotjuIngest.statobs]]'s parse, remap and null
    * filter; dedup keeps the FIRST arrival per (tfrom, statid) within the
    * watermark horizon — duplicates in the raw dumps are re-sends of the
    * same reading, so first-wins equals the batch arbitrary-survivor
    * semantics on them.
    */
  def statobsStreamFrom(raw: DataFrame, stations: DataFrame,
                        lateness: String): DataFrame =
    LotjuIngest.statobsRows(raw, stations)
      .withWatermark("tfrom", lateness)
      .dropDuplicatesWithinWatermark("tfrom", "statid")

  /** Streaming exact dedup for a document feed: fingerprint (md5 of the
    * normalized text — a 32-byte state key, never the document) → keep
    * the first arrival per fingerprint within the watermark horizon.
    * The streaming twin of [[graft.operators.Dedup.exactDedup]].
    */
  def exactDedupStream(docs: DataFrame, tsCol: String, textCol: String,
                       lateness: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming curation front door: quality filter → PII scrub → exact
    * dedup, composed exactly as the batch pipeline orders them (score
    * BEFORE redaction — the tags would perturb punctuation ratios;
    * fingerprint AFTER redaction — two docs differing only in redacted
    * PII are the same training document). Scoring and redaction are
    * stateless row-local transforms reused verbatim from [[TextOps]];
    * only the dedup holds state, bounded to the watermark horizon.
    */
  def curateStream(docs: DataFrame, tsCol: String, textCol: String,
                   minQuality: Double = 0.5,
                   lateness: String = "1 hour"): DataFrame = {
    val scrubbed = docs
      .filter(TextOps.qualityScore(col(textCol)) >= minQuality)
      .withColumn(textCol, TextOps.redactPii(col(textCol)))
    exactDedupStream(scrubbed, tsCol, textCol, lateness)
  }

  /** Streaming eval-set decontamination: drop incoming docs sharing a
    * winnowing fingerprint with the eval set — the streaming twin of
    * [[graft.operators.Dedup.decontaminate]]. The eval set is a static
    * benchmark corpus, so its fingerprints collect to a driver set once
    * (the same size class a broadcast join would ship anyway) and the
    * stream side becomes a STATELESS filter: no watermark, no join
    * state, any output mode. Run ahead of training-data landing so
    * contaminated crawl pages never reach the store.
    */
  def decontaminateStream(docs: DataFrame, evalDocs: DataFrame,
                          textCol: String, k: Int = 4, w: Int = 5): DataFrame = {
    val fps = TextOps.winnowUdf(k, w)
    val evalSet: Set[Long] = evalDocs
      .select(explode(fps(col(textCol))).as("fp"))
      .distinct().collect().map(_.getLong(0)).toSet
    val contaminated = udf { (hs: Seq[Long]) => hs.exists(evalSet.contains) }
    docs.filter(!contaminated(fps(col(textCol))))
  }

  /** Streaming IMAGE dedup: dHash each arriving image (stateless
    * decode — [[graft.operators.ImageHash.dhash64]]) and keep only the
    * first arrival per distinct perceptual hash within the watermark —
    * [[exactDedupStream]]'s multimodal twin. State is one 8-byte hash
    * per distinct image seen inside the horizon; the media bytes are
    * decoded once and never held.
    */
  def imageDedupStream(imgs: DataFrame, tsCol: String, mediaCol: String,
                       lateness: String = "1 hour"): DataFrame = {
    val h = udf { (bytes: Array[Byte]) =>
      val (hi, lo) = graft.operators.ImageHash.dhash64(bytes)
      Array(hi.toLong & 0xffffffffL, lo.toLong & 0xffffffffL)
    }
    imgs.withColumn("__h", h(col(mediaCol)))
      .withColumn("dhash_hi", col("__h")(0))
      .withColumn("dhash_lo", col("__h")(1))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("dhash_hi", "dhash_lo")
      .drop("__h")
  }
}

package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.CmpOp

/** The analytic kernel: run-length compression of sensor readings into
  * maximal time ranges of constant truth value
  * (reference `pack_ranges`, database/01_init_db.sql:121-202).
  *
  * Semantics replicated exactly:
  *   1. each reading is valid `[tfrom, next tfrom)` — the last reading per
  *      key is dropped (`tuntil IS NULL`, database/01_init_db.sql:156);
  *   2. a validity longer than `maxMinutes` is truncated to `maxMinutes`
  *      (stale data stops representing reality; the remainder becomes an
  *      uncovered gap, database/01_init_db.sql:146-156);
  *   3. NULL comparison results are 3VL-encoded as -1 so they participate
  *      in run detection (database/01_init_db.sql:157-160);
  *   4. adjacent ranges with equal truth value merge into islands — keyed
  *      on value change ONLY, so a truncation gap inside an equal-valued
  *      run is absorbed by the island (database/01_init_db.sql:161-199:
  *      `total_range` spans lower(first)..upper(last) of the run).
  * [[advance]] is the one implementation of these rules; the batch pack
  * runs it per (block, time chunk) and the stream
  * ([[graft.streaming.StreamingPack]]) per block.
  *
  * Spark-first restructuring (SURVEY.md §7.4 point 6): where the reference
  * calls pack_ranges once per block (one Postgres query each), we tag the
  * observation scan with a broadcast block-key table and compute ALL
  * blocks in ONE pass, grouped by (block id, time chunk). At 100 TB this
  * is the difference between k full scans and one.
  */
object PackRanges {

  /** One block to pack: equality key into the obs table + a predicate
    * over `seval` (reference: p_statid, p_seid, p_operator, p_seval).
    */
  final case class KeyedBlock(blockId: Int, statid: Long, seid: Long, pred: Column)

  /** Build the predicate Column for a comparison op (reference splices
    * text into SQL, database/01_init_db.sql:138; we build typed Columns).
    */
  def predicate(seval: Column, op: CmpOp, values: Seq[Double]): Column = op match {
    case CmpOp.Eq => seval === values.head
    case CmpOp.Ne => seval =!= values.head
    case CmpOp.Gt => seval > values.head
    case CmpOp.Lt => seval < values.head
    case CmpOp.Ge => seval >= values.head
    case CmpOp.Le => seval <= values.head
    case CmpOp.In => seval.isin(values: _*)
  }

  /** OR-of-equalities over the block keys. The broadcast tagging join
    * selects the same rows, but a JOIN cannot sink below whatever
    * produced `obs` — when obs is an aggregated view (the usual case:
    * ingestion E5 groups by (tfrom, statid, seid)), the full relation
    * would aggregate first and the key restriction would apply after.
    * This predicate references grouping columns only, so Catalyst pushes
    * it through the Aggregate to the scan side: a collection touching
    * k of the corpus's key pairs shuffles k's readings, not everything.
    */
  private def keyFilter(blocks: Seq[KeyedBlock]): Column =
    blocks.map(b => col("statid") === b.statid && col("seid") === b.seid)
      .reduceOption(_ || _)
      .getOrElse(lit(false)) // no blocks → empty result, not a crash

  /** Per-block predicate dispatch keyed on the (already tagged)
    * `block_id` column.
    */
  private def blockPred(preds: Seq[(Int, Column)]): Column =
    preds.foldLeft(lit(null).cast("boolean")) { case (acc, (id, p)) =>
      when(col("block_id") === id, p).otherwise(acc)
    }

  /** Tagging prologue of [[packKeyedChunked]]: pushable key pre-filter,
    * broadcast of the (tiny) block-key table — rows matching several
    * blocks duplicate per block; the reference would scan once per
    * block — and the per-block `istrue` evaluation.
    */
  private[graft] def tagKeyed(obs: DataFrame, blocks: Seq[KeyedBlock]): DataFrame = {
    val spark = obs.sparkSession
    import spark.implicits._
    val keys = blocks.map(b => (b.blockId, b.statid, b.seid))
      .toDF("block_id", "statid", "seid")
    obs.filter(keyFilter(blocks))
      .join(broadcast(keys), Seq("statid", "seid"))
      .withColumn("istrue", blockPred(blocks.map(b => b.blockId -> b.pred)))
  }

  /** Time-chunk width of every batch pack and condition grid: one week. */
  val ChunkHours: Int = 24 * 7

  /** Chunk index of timestamp `t` at `chunkHours` per chunk. */
  private[graft] def chunkOf(t: Column, chunkHours: Int): Column =
    floor(unix_timestamp(t) / lit(chunkHours * 3600L))

  /** Pack all blocks in one pass over `obs(tfrom, statid, seid, seval)`.
    *
    * @return `(block_id, vfrom, vuntil, istrue)` — maximal constant-value
    *         ranges per block; `istrue` nullable (3VL).
    */
  def packKeyedChunked(obs: DataFrame, blocks: Seq[KeyedBlock], maxMinutes: Int,
                       chunkHours: Int = ChunkHours): DataFrame =
    pack(tagKeyed(obs, blocks), maxMinutes, chunkHours)

  /** R6: a 3VL boolean as 1/0/-1, so NULL forms runs of its own. */
  def encode3vl(b: Column): Column = coalesce(b.cast("int"), lit(-1))

  /** The inverse of [[encode3vl]]. */
  def decode3vl(enc: Column): Column =
    when(enc === 1, lit(true)).when(enc === 0, lit(false)).otherwise(lit(null).cast("boolean"))

  /** One reading of a block: time and 3VL-encoded value. */
  final case class Reading(blockId: Int, tfrom: Long, enc: Int)

  /** [[advance]]'s state: the last reading, whose validity the next
    * reading decides, and the island before it (`open` once one exists).
    */
  final case class PackState(
      lastTfrom: Long, lastEnc: Int,
      islandFrom: Long, islandUntil: Long, islandEnc: Int, open: Boolean)

  /** A closed island `[vfrom, vuntil)` of value `enc`. */
  final case class Island(blockId: Int, vfrom: Long, vuntil: Long, enc: Int)

  /** The island transition, R4-R7 over readings in time order: each
    * reading is valid until the next one (R4), capped at `cap` (R5, in
    * the readings' time unit); islands change on 3VL value only (R6, R7),
    * so a capped gap inside an equal-valued run stays inside its island.
    * A reading at or before the last one (a repeat) changes nothing.
    *
    * @return the islands a value change closed, and the new state
    */
  def advance(state: Option[PackState], readings: Iterator[Reading],
              cap: Long): (List[Island], Option[PackState]) = {
    var st = state
    val out = List.newBuilder[Island]
    for (r <- readings) st = st match {
      case None => Some(PackState(r.tfrom, r.enc, 0L, 0L, 0, open = false))
      case Some(s) if r.tfrom <= s.lastTfrom => st
      case Some(s) =>
        val tuntil = math.min(r.tfrom, s.lastTfrom + cap)
        if (s.open && s.islandEnc == s.lastEnc) // extend the island, across a capped gap too
          Some(s.copy(lastTfrom = r.tfrom, lastEnc = r.enc, islandUntil = tuntil))
        else {
          if (s.open) out += Island(r.blockId, s.islandFrom, s.islandUntil, s.islandEnc)
          Some(PackState(r.tfrom, r.enc, s.lastTfrom, tuntil, s.lastEnc, open = true))
        }
    }
    (out.result(), st)
  }

  /** A partial island of one (block, chunk): closed `[vfrom, vuntil)`,
    * or open (`vuntil` None) — the chunk's last reading, valid until the
    * next chunk's first reading.
    */
  private[core] final case class Partial(blockId: Int, vfrom: Long, vuntil: Option[Long], enc: Int)

  /** The chunk pass: [[advance]] over one (block, chunk)'s readings in
    * time order; its closed islands, the state's island and the open
    * last reading are the chunk's partial islands. A case class, so two
    * packs with the same cap have equal plans: the engine's cached pack
    * is found by plan equality.
    */
  private final case class ChunkIslands(cap: Long)
      extends (((Int, Long), Iterator[Reading]) => Iterator[Partial]) {
    def apply(key: (Int, Long), readings: Iterator[Reading]): Iterator[Partial] = {
      val (closed, state) = advance(None, readings, cap)
      val s = state.get // a group holds at least one reading
      val islands = if (s.open) closed :+ Island(key._1, s.islandFrom, s.islandUntil, s.islandEnc) else closed
      islands.iterator.map(i => Partial(i.blockId, i.vfrom, Some(i.vuntil), i.enc)) ++
        Iterator(Partial(key._1, s.lastTfrom, None, s.lastEnc))
    }
  }

  /** Pack over a pre-tagged frame with columns `(block_id, tfrom, istrue)`.
    *
    * Skew-resistant layout: one block's series at 100 TB can hold
    * billions of readings, so one partition per block (the reference's
    * global ORDER BY) would bottleneck on that key. [[advance]] runs per
    * (block, time chunk) group in parallel, each group a sorted scan
    * (Spark's shuffle sort orders it), and one window pass per block
    * stitches the partial islands — run-length compressed, orders of
    * magnitude smaller — across chunk borders. One shuffle feeds each
    * pass; the input is read once. The result does not depend on
    * `chunkHours`: a chunk's last reading is valid until the next
    * non-empty chunk's first reading, and value-keyed merging is
    * associative over ordered runs (property-tested: 1-hour chunks ==
    * one chunk spanning the series).
    */
  def pack(tagged: DataFrame, maxMinutes: Int, chunkHours: Int = ChunkHours): DataFrame = {
    val spark = tagged.sparkSession
    import spark.implicits._
    val cap = maxMinutes * 60L * 1000000L // time rides as epoch µs

    // Partial islands within each chunk, parallel across chunks; equal
    // timestamps sort by value, so which repeat advance keeps is fixed.
    val partial = tagged
      .select(col("block_id").cast("int").as("blockId"),
        chunkOf(col("tfrom"), chunkHours).as("chunk"),
        unix_micros(col("tfrom").cast("timestamp")).as("tfrom"), encode3vl(col("istrue")).as("enc"))
      .groupBy(col("blockId"), col("chunk")).as[(Int, Long), Reading]
      .flatMapSortedGroups(col("tfrom"), col("enc"))(ChunkIslands(cap))

    // Stitch: an open island closes at the next partial island's vfrom
    // (capped); the block's last reading has none and is dropped. Then a
    // value-keyed merge over the (small) partial-island stream, which
    // also joins a chunk's last reading to an equal-valued island.
    val wb = Window.partitionBy("blockId").orderBy("vfrom")
    val nextFrom = lead(col("vfrom"), 1).over(wb)
    val stitched = partial
      .withColumn("vuntil", coalesce(col("vuntil"),
        when(nextFrom.isNotNull, least(nextFrom, col("vfrom") + cap))))
      .withColumn("chg",
        when(col("enc") === lag(col("enc"), 1).over(wb), lit(0)).otherwise(lit(1)))
      .withColumn("grp",
        sum(col("chg")).over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("vuntil").isNotNull)
      .groupBy(col("blockId"), col("grp"))
      .agg(min(col("vfrom")).as("vfrom"), max(col("vuntil")).as("vuntil"),
        first(col("enc")).as("enc"))
    // the ranges keep the readings' type: TIMESTAMP or TIMESTAMP_NTZ
    val t = tagged.schema("tfrom").dataType
    asRanges(stitched).select(col("block_id"), col("vfrom").cast(t).as("vfrom"),
      col("vuntil").cast(t).as("vuntil"), col("istrue"))
  }

  /** Islands `(blockId, vfrom, vuntil, enc)`, times in epoch µs, as the
    * pack's ranges `(block_id, vfrom, vuntil, istrue)`.
    */
  private[graft] def asRanges(islands: DataFrame): DataFrame =
    islands.select(col("blockId").as("block_id"), timestamp_micros(col("vfrom")).as("vfrom"),
      timestamp_micros(col("vuntil")).as("vuntil"), decode3vl(col("enc")).as("istrue"))
}

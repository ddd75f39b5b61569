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
  *
  * Spark-first restructuring (SURVEY.md §7.4 point 6): where the reference
  * calls pack_ranges once per block (one Postgres query each), we tag the
  * observation scan with a broadcast block-key table and compute ALL
  * blocks in ONE windowed pass, partitioned by (block id, time chunk).
  * At 100 TB this is the difference between k full scans and one.
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

  /** Pack over a pre-tagged frame with columns `(block_id, tfrom, istrue)`.
    *
    * Skew-resistant layout: a single block's series at 100 TB can hold
    * billions of readings, and one window partition per block (what the
    * reference's global ORDER BY does) would bottleneck on that key.
    * Readings are packed WITHIN (block, time-chunk) partitions in
    * parallel, then the partial islands (run-length compressed, orders
    * of magnitude smaller) are stitched across chunk borders by one
    * cheap second pass. One shuffle feeds each pass; the input is read
    * once. The result does not depend on `chunkHours`:
    *   - each chunk-local lead equals the global lead, except the last
    *     reading per chunk, whose lead is the next non-empty chunk's
    *     first reading — the vfrom of the next partial island;
    *   - value-keyed island merging is associative over ordered runs, so
    *     merging partial islands re-creates the global islands.
    * (Property-tested: 1-hour chunks == one chunk spanning the series.)
    */
  def pack(tagged: DataFrame, maxMinutes: Int, chunkHours: Int = ChunkHours): DataFrame = {
    val cap = expr(s"INTERVAL '$maxMinutes' MINUTE")

    // Partial islands within each chunk, parallel across chunks.
    // R4: validity interval = [tfrom, lead(tfrom)); a chunk's last reading
    // has no lead yet, so its island stays `open`. R5: cap at maxMinutes.
    // R6: 3VL encode so NULL forms its own runs. R7: islands on value
    // change only (gaps do NOT break runs — matches the reference, which
    // stitches lower(first)..upper(last) of each run).
    val wc = Window.partitionBy("block_id", "chunk").orderBy("tfrom")
    val leadLocal = col("lead_local")
    val partial = tagged
      .withColumn("chunk", chunkOf(col("tfrom"), chunkHours))
      .withColumn("lead_local", lead(col("tfrom"), 1).over(wc))
      .withColumn("enc", coalesce(col("istrue").cast("int"), lit(-1)))
      .withColumn("chg",
        when(col("enc") === lag(col("enc"), 1).over(wc), lit(0)).otherwise(lit(1)))
      .withColumn("grp",
        sum(col("chg")).over(wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("block_id"), col("chunk"), col("grp"))
      .agg(min(col("tfrom")).as("vfrom"),
        // least() skips NULLs: the open reading must not contribute
        max(when(leadLocal.isNotNull, least(leadLocal, col("tfrom") + cap))).as("vuntil"),
        max(col("tfrom")).as("last_tfrom"),
        max(leadLocal.isNull).as("open"),
        first(col("enc")).as("enc"))

    // Stitch: an open island's last reading closes at the next partial
    // island's vfrom (capped); the block's last reading has none and is
    // dropped, and with it an island it alone forms. Then a value-keyed
    // merge over the (small) partial-island stream.
    val wb = Window.partitionBy("block_id").orderBy("vfrom")
    val nextFrom = lead(col("vfrom"), 1).over(wb)
    partial
      .withColumn("vuntil", when(col("open") && nextFrom.isNotNull,
        least(nextFrom, col("last_tfrom") + cap)).otherwise(col("vuntil")))
      .withColumn("chg",
        when(col("enc") === lag(col("enc"), 1).over(wb), lit(0)).otherwise(lit(1)))
      .withColumn("grp2",
        sum(col("chg")).over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("vuntil").isNotNull)
      .groupBy(col("block_id"), col("grp2"))
      .agg(min(col("vfrom")).as("vfrom"), max(col("vuntil")).as("vuntil"),
        first(col("enc")).as("enc"))
      .select(col("block_id"), col("vfrom"), col("vuntil"),
        when(col("enc") === 1, lit(true))
          .when(col("enc") === 0, lit(false))
          .otherwise(lit(null).cast("boolean")).as("istrue"))
  }
}

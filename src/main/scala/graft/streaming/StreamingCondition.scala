package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.core.{ConditionEval, PackRanges}
import graft.model.Expr

/** Live condition evaluation over the WIDE observation layout
  * (`(statid, tfrom, se_<id>...)` — the reference's own proposed
  * optimization, database/README.md:128-131): block predicates are
  * plain column comparisons, the 3VL master evaluates per ROW, and the
  * master value stream run-length packs into validity islands
  * incrementally via [[StreamingPack.packStream]] (the batch kernel's
  * [[PackRanges.advance]] per key).
  *
  * Wide-layout semantics: all of a station's sensors are co-timestamped
  * on one row (same contract as the batch `q_wide_predicate` path) —
  * per-row evaluation then equals the batch boundary-grid refinement,
  * because every sensor shares every boundary. The narrow-EAV batch
  * path ([[graft.core.ConditionEval.evalCondition]]) remains the
  * general form for per-sensor cadences.
  */
object StreamingCondition {

  /** @param wide streaming wide-layout frame; one row per (key, ts)
    * @param master boolean Column over the sensor columns (compile an
    *   [[Expr]] with [[ConditionEval.compile]] after aliasing, or pass
    *   any predicate)
    * @return streaming Dataset of CLOSED validity islands per key:
    *   (blockId = key, vfrom, vuntil, enc) with enc 1/0/-1 — the
    *   trailing open island lives in state until a later row closes it
    */
  def evalWideStream(wide: DataFrame, keyCol: String, tsCol: String,
                     master: Column, maxMinutes: Int): Dataset[PackRanges.Island] =
    StreamingPack.packStream(
      wide.select(col(keyCol).cast("int").as("block_id"),
        col(tsCol).as("tfrom"), PackRanges.encode3vl(master).as("enc")),
      maxMinutes)
}

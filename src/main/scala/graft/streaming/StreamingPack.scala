package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Incremental pack_ranges over a stream of observations
  * (SURVEY.md §7.3: "streaming — the natural home for an incremental
  * packRanges"; no streaming exists in the reference, which batch-scans a
  * closed window — this is the roadmap extension for live feeds).
  *
  * Same semantics as [[graft.core.PackRanges]] per key, maintained
  * incrementally: each reading is valid `[tfrom, next tfrom)` capped at
  * `maxMinutes`; islands merge on 3VL value change only. An island is
  * EMITTED when a later reading closes it (value change); the trailing
  * open island lives in state — exactly the batch kernel's "last reading
  * dropped" behavior, converged as the stream advances.
  *
  * Arrival is assumed in event-time order per key (enforce upstream with
  * a watermark + `sortWithinPartitions` per micro-batch if the source
  * reorders). A row at or before the state's last timestamp (late or
  * duplicate) is dropped: it changes no state and nothing counts it,
  * matching a `dropDuplicates`+watermark pre-stage.
  */
object StreamingPack {

  final case class Reading(blockId: Int, tfrom: Long, enc: Int)
  final case class PackState(
      lastTfrom: Long, lastEnc: Int,
      islandFrom: Long, islandUntil: Long, islandEnc: Int, open: Boolean)
  final case class Island(blockId: Int, vfrom: Long, vuntil: Long, enc: Int)

  /** Core transition, shared logic with the batch kernel's R4-R7:
    * returns (closed islands to emit, new state).
    */
  def advance(state: Option[PackState], readings: Iterator[Reading],
              capSeconds: Long): (List[Island], Option[PackState]) = {
    var st = state
    val out = List.newBuilder[Island]
    var blockId = -1
    for (r <- readings) {
      blockId = r.blockId
      st match {
        case None =>
          st = Some(PackState(r.tfrom, r.enc, 0L, 0L, 0, open = false))
        case Some(s) if r.tfrom <= s.lastTfrom =>
          () // late/duplicate: ignored (see scaladoc)
        case Some(s) =>
          val tuntil = math.min(r.tfrom, s.lastTfrom + capSeconds)
          if (s.open && s.islandEnc == s.lastEnc) {
            // extend current island (possibly across a truncation gap)
            st = Some(s.copy(lastTfrom = r.tfrom, lastEnc = r.enc,
              islandUntil = tuntil))
          } else {
            if (s.open)
              out += Island(r.blockId, s.islandFrom, s.islandUntil, s.islandEnc)
            st = Some(PackState(r.tfrom, r.enc,
              s.lastTfrom, tuntil, s.lastEnc, open = true))
          }
      }
    }
    (out.result(), st)
  }

  /** Wire [[advance]] into Structured Streaming. Input must have columns
    * `(block_id int, tfrom timestamp, enc int)` (enc = 3VL-encoded
    * predicate: 1/0/-1, as in the batch kernel). Time rides as epoch
    * MICROseconds — `unix_timestamp` would floor to seconds and shift
    * every island edge of a sub-second feed off the batch kernel's.
    *
    * @return streaming Dataset of closed islands; vfrom/vuntil in µs
    */
  def packStream(obs: DataFrame, maxMinutes: Int): Dataset[Island] = {
    val spark = obs.sparkSession
    import spark.implicits._
    val cap = maxMinutes * 60L * 1000000L
    obs
      .select(col("block_id").cast("int").as("blockId"),
        unix_micros(col("tfrom")).as("tfrom"), col("enc").cast("int"))
      .as[Reading]
      .groupByKey(_.blockId)
      .flatMapGroupsWithState[PackState, Island](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, readings, state: GroupState[PackState]) =>
          val sorted = readings.toVector.sortBy(_.tfrom).iterator
          val (emit, newState) = advance(state.getOption, sorted, cap)
          newState match {
            case Some(s) => state.update(s)
            case None => ()
          }
          emit.iterator
      }
  }
}

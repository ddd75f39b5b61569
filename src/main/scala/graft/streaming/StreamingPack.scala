package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.core.PackRanges

/** Incremental pack_ranges over a stream of observations (SURVEY.md
  * §7.3; the reference only batch-scans a closed window): the batch
  * kernel's transition [[PackRanges.advance]], its state kept per block
  * by `flatMapGroupsWithState`. An island is EMITTED when a later
  * reading closes it; the trailing open island stays in state — the
  * batch kernel's "last reading dropped", converged as the stream
  * advances.
  *
  * Arrival is assumed in event-time order per key (enforce upstream with
  * a watermark + `sortWithinPartitions` per micro-batch if the source
  * reorders). A row at or before the state's last timestamp (late or
  * duplicate) is dropped, matching a `dropDuplicates`+watermark pre-stage.
  */
object StreamingPack {

  // The island vocabulary of the stream's API, defined by the batch kernel.
  type Reading = PackRanges.Reading
  val Reading = PackRanges.Reading
  type Island = PackRanges.Island
  val Island = PackRanges.Island

  /** [[PackRanges.advance]]; `capSeconds` is in the readings' time unit. */
  def advance(state: Option[PackRanges.PackState], readings: Iterator[Reading],
              capSeconds: Long): (List[Island], Option[PackRanges.PackState]) =
    PackRanges.advance(state, readings, capSeconds)

  /** Wire [[PackRanges.advance]] into Structured Streaming. Input must
    * have columns `(block_id int, tfrom timestamp, enc int)` (enc =
    * [[PackRanges.encode3vl]] of the predicate). Time rides as epoch
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
      .flatMapGroupsWithState[PackRanges.PackState, Island](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, readings, state: GroupState[PackRanges.PackState]) =>
          val sorted = readings.toVector.sortBy(_.tfrom).iterator
          val (emit, newState) = PackRanges.advance(state.getOption, sorted, cap)
          newState.foreach(state.update)
          emit.iterator
      }
  }
}

package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Point-in-time joins for time-series relations.
  *
  * `asofJoin`: for each left row, the LATEST right row with
  * `right.time <= left.time` in the same key group (inclusive at
  * equality) — the standard enrich-readings-with-latest-state join.
  * Implemented as union + forward fill, not a range join: tag sides,
  * union on (key, time, side) with right rows sorting before left rows
  * at equal time, forward-fill the right columns, keep left rows. ONE
  * shuffle on the key, no O(n·m) interval explosion, and the sort
  * shares the shuffle — the same layout every kernel here uses. At
  * scale a hot key can be split into time chunks and stitched at their
  * borders, as [[PackRanges.pack]] and [[ConditionEval.evalCondition]]
  * do; the join itself never fans out.
  */
object TimeJoins {

  /** @param left any relation with `keys` and `timeCol`
    * @param right relation with `keys`, `timeCol`, and value columns to
    *   carry; must be unique per (keys, timeCol) — pre-aggregate if
    *   not, or the tie-winner among equal timestamps is unspecified
    * @return left rows with right's value columns appended (null until
    *   the first right row in the group). The carried values are
    *   ROW-ATOMIC: all value columns come from the same matched right
    *   row, NULL fields included — a NULL in one column never causes
    *   that column to carry a staler observation than its neighbors
    *   (the fill runs over one struct of all value columns, which is
    *   non-null for every right row).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               timeCol: String): DataFrame = {
    val valueCols = right.columns.filterNot(c => keys.contains(c) || c == timeCol).toSeq
    val collisions = valueCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"right value columns collide with left columns: $collisions — alias them first")

    val leftStruct = StructType(left.schema.fields)
    val rightStruct = StructType(valueCols.map(c => right.schema(c)).toArray)
    val l = left.select(
      keys.map(col) ++ Seq(col(timeCol), lit(1).as("__side"),
        struct(left.columns.toIndexedSeq.map(col): _*).as("__l"),
        lit(null).cast(rightStruct).as("__rv")): _*)
    val r = right.select(
      keys.map(col) ++ Seq(col(timeCol), lit(0).as("__side"),
        lit(null).cast(leftStruct).as("__l"),
        struct(valueCols.map(col): _*).as("__rv")): _*)

    // right rows (side 0) sort before left rows at equal time → the
    // match is inclusive, same as an ASOF l.t >= r.t
    val fill = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__rv", last(col("__rv"), ignoreNulls = true).over(fill))
      .filter(col("__side") === 1)
      .select(col("__l.*") +: valueCols.map(c => col("__rv").getField(c).as(c)): _*)
  }

  /** Interval-overlap join — the reference's R12 range join
    * (tsa/condition.py:381-391) as a first-class operator: all (left,
    * right) pairs whose half-open ranges overlap
    * (`lfrom < runtil && rfrom < luntil`) within the same key group.
    *
    * A naive theta join is a nested loop (O(n·m) per key); instead both
    * sides explode to the time bins their range covers and equi-join on
    * (keys, bin) — the standard distributed range-join binning. Work is
    * proportional to range-length/binSeconds per row; pairs spanning
    * several shared bins dedup via distinct. Pick binSeconds near the
    * typical range length: too small multiplies the explode, too large
    * degenerates toward the nested loop within a bin.
    *
    * Empty ranges (from >= until) match nothing under half-open
    * semantics and are dropped before binning (also guards Spark's
    * `sequence`, which would generate a DESCENDING bin list for them).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   lFrom: String, lUntil: String,
                   rFrom: String, rUntil: String,
                   binSeconds: Long): DataFrame = {
    require(binSeconds > 0)
    def bins(fromC: String, untilC: String) =
      sequence(
        floor(unix_timestamp(col(fromC)) / binSeconds),
        floor((unix_timestamp(col(untilC)) - 1) / binSeconds))
    val lb = left.filter(col(lFrom) < col(lUntil))
      .withColumn("__bin", explode(bins(lFrom, lUntil)))
    val rb = right.filter(col(rFrom) < col(rUntil))
      .withColumn("__bin", explode(bins(rFrom, rUntil)))
    lb.join(rb, keys :+ "__bin")
      .filter(col(lFrom) < col(rUntil) && col(rFrom) < col(lUntil))
      .drop("__bin")
      .distinct()
  }

  /** Gap-based sessionization: consecutive events of a key belong to
    * one session while the gap between them stays under `gapSeconds`;
    * a larger gap starts a new session. Same islands layout as the
    * pack kernel (lag → boundary flag → running sum → group), one
    * shuffle on the key. The streaming twin is a session window with
    * watermarking (`session_window(ts, gap)`).
    *
    * @return (keys..., session_start, session_end, n_events)
    */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    events
      .withColumn("__prev", lag(col(tsCol), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev")) > gapSeconds,
          1).otherwise(0))
      .withColumn("__sess",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(keys.map(col) :+ col("__sess"): _*)
      .agg(min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("__sess")
  }
}

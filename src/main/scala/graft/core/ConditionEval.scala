package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Expr

/** Condition evaluation: refine block ranges to the most granular
  * boundary grid, resolve each block's truth value on every grid range,
  * and evaluate the master boolean expression under SQL 3VL
  * (reference tsa/condition.py:355-391, SURVEY.md §2.3 R10-R15).
  *
  * The reference LEFT-JOINs every block relation to the master ranges on
  * range overlap (`&&`) — an O(n·m) nested-loop theta join per block in
  * Spark. We use the equivalent forward-fill formulation (SURVEY.md §7.3):
  * because master ranges are the atomic refinement of ALL block
  * boundaries, block k covers master range [t_i, t_{i+1}) iff the last
  * open/close event of block k at or before t_i is an "open". That turns
  * the N-way range join into one pivot + one window over the boundary
  * grid — O(B·k) rows, no quadratic blow-up. The ranges are read once
  * (one explode emits both events of a range) and shuffled once, by
  * time chunk; the pivot, the fill window and the per-chunk carry all
  * reuse that partitioning.
  */
object ConditionEval {

  /** Evaluate one condition.
    *
    * @param blockRanges `(alias, vfrom, vuntil, istrue)` — the union of
    *   all block range sets of this condition (primary from
    *   [[PackRanges]], secondary from the result catalog)
    * @param aliases block aliases in condition order (pivot columns)
    * @param masterExpr boolean AST over the aliases
    * @param chunkHours time-chunk width of the boundary grid
    * @return `(vfrom, vuntil, vdiff_s, <alias...>, master)` sorted by vfrom
    */
  def evalCondition(blockRanges: DataFrame, aliases: Seq[String], masterExpr: Expr,
                    chunkHours: Int = PackRanges.ChunkHours): DataFrame = {
    require(aliases.nonEmpty)

    // Single-block shortcut (tsa/condition.py:355-363; the reference's
    // Py3-broken `blocks.keys()[0]` — we implement the documented intent,
    // SURVEY.md §7.4 point 3). Unlike the reference, the master column
    // still evaluates the expression: for `not <block>` the reference's
    // shortcut silently drops the NOT (master := block); we apply it.
    if (aliases.size == 1) {
      val a = aliases.head
      return blockRanges
        .select(
          col("vfrom"), col("vuntil"),
          (unix_timestamp(col("vuntil")) - unix_timestamp(col("vfrom"))).as("vdiff_s"),
          col("istrue").as(a))
        .withColumn("master", compile(masterExpr))
        .orderBy("vfrom")
    }

    // R10: boundary events from ONE explode (one scan of the ranges).
    // Every range contributes an "open" at vfrom (priority 1, carrying
    // the 3VL-encoded value) and a "close" at vuntil (priority 0). At an
    // equal timestamp an open shadows a close (adjacent ranges),
    // resolved by max(struct(prio, v)).
    //
    // Chunk-then-stitch forward fill — the chunk width and chunk index
    // of PackRanges.pack (a sorted scan per (block, chunk) there, a
    // window per chunk here). A bare Window.orderBy("vt") (what the
    // reference's ORDER BY vt does, tsa/condition.py:374-380) would move
    // the condition's entire boundary grid onto ONE partition; a
    // condition over hot stations spans the full analysis period, so at
    // scale that single key is the bottleneck. Instead: fill locally
    // within time chunks (parallel), then resolve each chunk's carry-in
    // value and trailing lead from a per-chunk summary that has one row
    // per CHUNK (thousands of times smaller than the grid). The events
    // shuffle once, by chunk; the pivot, the fill window and the
    // per-chunk summary group within a chunk and add no exchange.
    val events = blockRanges
      .select(col("alias"), explode(array(
        struct(col("vfrom").as("vt"), struct(lit(1).as("prio"),
          PackRanges.encode3vl(col("istrue")).as("v")).as("ev")),
        struct(col("vuntil").as("vt"), struct(lit(0).as("prio"),
          lit(null).cast("int").as("v")).as("ev")))).as("e"))
      .select(col("alias"), col("e.vt").as("vt"), col("e.ev").as("ev"))
      .withColumn("chunk", PackRanges.chunkOf(col("vt"), chunkHours))
      .repartition(col("chunk"))

    // Pivot to one column per block alias; grid rows are the distinct
    // boundary timestamps (the reference's UNION-dedup, R10).
    val grid = events.groupBy("chunk", "vt").pivot("alias", aliases).agg(max(col("ev")))

    val wc = Window.partitionBy("chunk").orderBy("vt")
    val fillLocal = wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = grid.select(col("*") +: lead(col("vt"), 1).over(wc).as("__lead_local") +:
      aliases.map(a => last(col(a), ignoreNulls = true).over(fillLocal).as(s"__f_$a")): _*)

    // Per-chunk summary: the chunk's min(vt) and, per alias, the latest
    // non-null event (= what forward fill carries out of the chunk) —
    // ONE groupBy over the raw grid, no extra window sort pass. vt is
    // unique within the grid, so max_by is deterministic; all-null
    // chunks yield null (carry falls through).
    val summary = grid.groupBy("chunk").agg(
      min(col("vt")).as("cmin"),
      aliases.map(a =>
        max_by(col(a), when(col(a).isNotNull, col("vt"))).as(s"__co_$a")): _*)
    // #chunks rows (one per chunkHours over the analysis period) — a
    // single partition is intentional and bounded. pmod(chunk, 1) is a
    // constant the optimizer can't fold away (lit(0) would be removed
    // from the spec, reverting to an unpartitioned window).
    val ws = Window.partitionBy(pmod(col("chunk"), lit(1))).orderBy("chunk")
    val carry = summary.select(
      col("chunk") +: lead(col("cmin"), 1).over(ws).as("__next_cmin") +:
        aliases.map(a => last(col(s"__co_$a"), ignoreNulls = true)
          .over(ws.rowsBetween(Window.unboundedPreceding, -1)).as(s"__ci_$a")): _*)

    // R11: consecutive boundary pairs; a chunk's last row closes at the
    // next chunk's first boundary; drop the trailing open range.
    val df = filled.join(broadcast(carry), Seq("chunk"))
      .withColumn("vuntil", coalesce(col("__lead_local"), col("__next_cmin")))
      .filter(col("vuntil").isNotNull)

    // R12 equivalent: block value on [vt, vuntil) = value of the covering
    // range if the last event at or before vt was an "open", else NULL
    // (no covering range). Local fill first, else the carry-in from
    // earlier chunks.
    val blockCols = aliases.map { a =>
      val f = coalesce(col(s"__f_$a"), col(s"__ci_$a"))
      when(f.isNotNull && f("prio") === 1, PackRanges.decode3vl(f("v")))
        .otherwise(lit(null).cast("boolean")).as(a)
    }

    df.select(
        (col("vt").as("vfrom") +: col("vuntil") +:
          (unix_timestamp(col("vuntil")) - unix_timestamp(col("vt"))).as("vdiff_s") +:
          blockCols): _*)
      // R13: master under native 3VL — do NOT coalesce block booleans
      .withColumn("master", compile(masterExpr))
      .orderBy("vfrom")
  }

  /** Compile the boolean AST to a Column (reference builds a SQL string,
    * tsa/condition.py:271-285). Spark's And/Or/Not are SQL-3VL, matching
    * Postgres exactly (SURVEY.md §1.3).
    */
  def compile(e: Expr): Column = e match {
    case Expr.Ref(a) => col(a)
    case Expr.And(l, r) => compile(l) && compile(r)
    case Expr.Or(l, r) => compile(l) || compile(r)
    case Expr.Not(x) => !compile(x)
  }

  /** Summary aggregation (reference tsa/condition.py:435-446, A2-A5):
    * one distributed agg — `tottime` spans fetched data (not the request
    * range); `nodata` absorbs NULL-master ranges AND uncovered gaps.
    */
  def summarize(cond: DataFrame): DataFrame =
    cond.agg(
      min(col("vfrom")).as("data_from"),
      max(col("vuntil")).as("data_until"),
      coalesce(sum(when(col("master") === true, col("vdiff_s"))), lit(0L)).as("valid_s"),
      coalesce(sum(when(col("master") === false, col("vdiff_s"))), lit(0L)).as("notvalid_s"),
      count(lit(1)).as("n_rows"))
      .withColumn("tottime_s",
        coalesce(unix_timestamp(col("data_until")) - unix_timestamp(col("data_from")), lit(0L)))
      .withColumn("nodata_s", col("tottime_s") - col("valid_s") - col("notvalid_s"))
      .withColumn("percent_valid",
        when(col("tottime_s") === 0, 0.0).otherwise(col("valid_s") / col("tottime_s")))
      .withColumn("percent_notvalid",
        when(col("tottime_s") === 0, 0.0).otherwise(col("notvalid_s") / col("tottime_s")))
      .withColumn("percent_nodata",
        when(col("tottime_s") === 0, 0.0).otherwise(col("nodata_s") / col("tottime_s")))
}

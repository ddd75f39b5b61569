package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ConditionEval, PackRanges}
import graft.dsl.ErrorCollector
import graft.model._
import scala.collection.mutable

/** Per-collection analysis runner (reference
  * `CondCollection.run_analysis`, tsa/cond_collection.py:403-454, and the
  * two-pass scheduler at tsa/cond_collection.py:166-187).
  *
  * Improvements over the reference, per SURVEY.md §4:
  *   - real topological sort of the condition dependency DAG with cycle /
  *     dangling-ref detection, superseding the fragile "primaries first,
  *     user orders secondaries" rule;
  *   - ALL primary blocks of the whole collection packed in ONE
  *     observation pass (broadcast key tagging + window partitioned by
  *     block id) instead of one Postgres call per block;
  *   - every analysed condition cached once, as the reference stores
  *     each one in a temp table and reads it once: the summary, the
  *     parquet write, the timeline and secondary references all read
  *     that cache, which [[release]] drops per sheet.
  */
/** @param packChunkHours time-chunk width for the skew-resistant pack
  *   (one week by default): readings are packed within (block, chunk)
  *   partitions in parallel and stitched at borders — see
  *   [[graft.core.PackRanges.packKeyedChunked]].
  */
final class TsaEngine(spark: SparkSession, maxMinutes: Int = 30,
                      packChunkHours: Int = 24 * 7) {

  /** Result catalog — the reference's session temp-table namespace
    * (`<site>_<master_alias>`, tsa/condition.py:317-414).
    */
  val catalog: mutable.LinkedHashMap[String, DataFrame] = mutable.LinkedHashMap.empty

  /** Every frame this engine has `.cache()`d and not yet released.
    * The reference's temp tables die with the per-sheet session
    * (tsa/analysis_collection.py:213); a long-lived engine must release
    * explicitly or a many-sheet batch accumulates storage memory.
    */
  private val persisted = mutable.Buffer.empty[DataFrame]

  /** Release cached storage and bound the catalog after a run: unpersist
    * every frame this engine cached except catalog entries named in
    * `keep`, and evict all other catalog entries. `keep` is the set of
    * condition ids that later collections will still reference via
    * secondary blocks (cross-collection refs). Unpersisting a frame a
    * caller still holds is safe — it just recomputes on next action.
    */
  def release(keep: Set[String] = Set.empty): Unit = {
    val keepFrames = keep.flatMap(catalog.get)
    val (kept, dropped) = persisted.partition(df => keepFrames.exists(_ eq df))
    dropped.foreach(_.unpersist())
    persisted.clear()
    persisted ++= kept
    catalog.filterInPlace((k, _) => keep.contains(k))
  }

  /** Unpersist cached frames that are no longer catalog entries — each
    * earlier run's transient `packed` frame and any catalog entry a later
    * run overwrote. Nothing can re-read them through this engine, so a
    * caller that never calls [[release]] still holds at most one run's
    * transient caches plus the live catalog. Unpersisting a frame an
    * outside caller still holds is safe — it recomputes on next action.
    */
  private def reclaimOrphans(): Unit = {
    val (live, orphaned) =
      persisted.partition(df => catalog.valuesIterator.exists(_ eq df))
    orphaned.foreach(_.unpersist())
    persisted.clear()
    persisted ++= live
  }

  final case class ConditionResult(
      spec: ConditionSpec,
      data: DataFrame,
      summary: DataFrame,
      errors: ErrorCollector)

  /** Run a collection against `obs(tfrom, statid, seid, seval)`.
    *
    * @param sensorIds sensor name → id map (reference
    *   tsa/utils.py:275-283 via the sensors metadata table)
    */
  def run(coll: CollectionSpec, obs: DataFrame,
          sensorIds: Map[String, Int]): Vector[ConditionResult] =
    run(coll, obs, sensorIds, validationObs = None)

  /** @param validationObs relation to probe for station presence (A7) —
    *   pass the cheapest relation that carries `statid` (e.g. the
    *   pre-aggregation scan) when `obs` is a derived view whose
    *   aggregation the probe would otherwise have to execute; station
    *   presence is invariant under the obs dedup/aggregation.
    */
  def run(coll: CollectionSpec, obs: DataFrame, sensorIds: Map[String, Int],
          validationObs: Option[DataFrame]): Vector[ConditionResult] = {

    reclaimOrphans()

    // R1: restrict to the collection's time range — inclusive both ends
    // (tsa/cond_collection.py:90-114); widening to 00:00:00/23:59:59 is
    // the sheet parser's job.
    // Collection times are UTC wall clock (ingestion already converted
    // Europe/Helsinki → UTC, SURVEY.md §7.4 pt 5); interpret via explicit
    // UTC offset so the JVM default zone can't skew the range.
    val from = java.sql.Timestamp.from(coll.timeFrom.toInstant(java.time.ZoneOffset.UTC))
    val until = java.sql.Timestamp.from(coll.timeUntil.toInstant(java.time.ZoneOffset.UTC))
    val obsMain = obs.filter(col("tfrom").between(lit(from), lit(until)))

    val errorsBySpec = mutable.LinkedHashMap.empty[String, ErrorCollector]
    def errsOf(spec: ConditionSpec): ErrorCollector =
      errorsBySpec.getOrElseUpdate(spec.idString,
        new ErrorCollector(s"CONDITION <${spec.idString}>"))

    // A7/L11: validate block station ids against the obs view's distinct
    // ids. The reference disabled this as "too slow" in Postgres
    // (tsa/cond_collection.py:131,422-428); a distinct over a pruned
    // column scan is cheap here, so it is re-enabled — non-fatal, as the
    // reference intends missing stations to just yield empty data.
    val wanted: Set[Long] = coll.conditions.flatMap(_.blocks.collect {
      case p: PrimaryBlock => p.stationId.toLong
    }).toSet
    if (wanted.nonEmpty) {
      val probe = validationObs
        .map(_.filter(col("tfrom").between(lit(from), lit(until))))
        .getOrElse(obsMain)
      val present = probe.select(col("statid").cast("long"))
        .filter(col("statid").isin(wanted.toSeq: _*))
        .distinct().collect().map(_.getLong(0)).toSet
      for {
        spec <- coll.conditions
        p <- spec.blocks.collect { case pb: PrimaryBlock => pb }
        if !present.contains(p.stationId.toLong)
      } errsOf(spec).add(
        s"""Station id "${p.stationId}" not present in observation data for this period""")
    }

    // Resolve sensor ids (tsa/block.py:181-193); unresolved → condition
    // is skipped with a recorded error, not a crash.

    val resolved: Vector[(ConditionSpec, Boolean)] = coll.conditions.map { spec =>
      var ok = true
      val blocks = spec.blocks.map {
        case p: PrimaryBlock =>
          sensorIds.get(p.sensorName) match {
            case Some(id) => p.copy(sensorId = Some(id))
            case None =>
              errsOf(spec).add(s"""No sensor id found by sensor name "${p.sensorName}"""")
              ok = false; p
          }
        case s => s
      }
      (spec.copy(blocks = blocks), ok)
    }

    // Topological order over secondary references (SURVEY.md §7.4 pt 4).
    val specById = resolved.map { case (s, _) => s.idString -> s }.toMap
    val okById = resolved.map { case (s, ok) => s.idString -> ok }.toMap
    val order = topoSort(resolved.map(_._1), errsOf)

    // Pack ALL primary blocks of runnable conditions in one pass.
    val runnable = order.filter(s => okById(s.idString))
    val primaries: Vector[(String, PrimaryBlock)] = for {
      spec <- runnable
      b <- spec.blocks.collect { case p: PrimaryBlock if p.sensorId.isDefined => p }
    } yield (spec.idString, b)

    val keyed = primaries.zipWithIndex.map { case ((_, p), i) =>
      PackRanges.KeyedBlock(i, p.stationId.toLong, p.sensorId.get.toLong,
        PackRanges.predicate(col("seval"), p.op, p.values))
    }
    val blockIdOf: Map[(String, String), Int] =
      primaries.zipWithIndex.map { case ((cid, p), i) => (cid, p.alias) -> i }.toMap

    // Skew-resistant pack: one window partition per block (packKeyed)
    // caps per-block parallelism at ONE task — a hot station's series
    // over a long period is exactly the skewed key the chunked layout
    // exists for (chunk-local islands in parallel, borders stitched from
    // per-chunk partials; equivalence property-tested vs packKeyed).
    val packed =
      if (keyed.isEmpty) null
      else PackRanges.packKeyedChunked(obsMain, keyed, maxMinutes, packChunkHours).cache()
    if (packed != null) persisted += packed

    // Evaluate in topo order; register results for secondary refs.
    val results = Vector.newBuilder[ConditionResult]

    for (spec <- order) {
      val errs = errsOf(spec)
      if (!okById(spec.idString)) {
        errs.add("There were errors with this condition and it will not be analyzed")
        results += ConditionResult(spec, null, null, errs)
      } else {
        try {
          val parts: Vector[DataFrame] = spec.blocks.map {
            case p: PrimaryBlock =>
              packed.filter(col("block_id") === blockIdOf((spec.idString, p.alias)))
                .select(lit(p.alias).as("alias"), col("vfrom"), col("vuntil"), col("istrue"))
            case s: SecondaryBlock =>
              catalog.get(s.sourceView) match {
                case Some(df) =>
                  // R9: a secondary block reads the referenced condition's
                  // master ranges (tsa/block.py:204-209).
                  df.select(lit(s.alias).as("alias"), col("vfrom"), col("vuntil"),
                    col("master").as("istrue"))
                case None =>
                  throw new NoSuchElementException(
                    s"""referenced condition "${s.sourceView}" does not exist""")
              }
          }
          val blockRanges = parts.reduce(_ union _)
          // Cache every condition once — the reference's temp tables
          // (tsa/condition.py:329-338): its first action evaluates it and
          // every later action or secondary reference reads the cache.
          val data = ConditionEval.evalCondition(
            blockRanges, spec.blocks.map(_.alias), spec.expr).cache()
          persisted += data
          catalog(spec.idString) = data
          results += ConditionResult(spec, data, ConditionEval.summarize(data), errs)
        } catch {
          case e: Exception =>
            errs.add(s"Failed to analyze condition: ${e.getMessage}")
            results += ConditionResult(spec, null, null, errs)
        }
      }
    }
    results.result()
  }

  /** Kahn topo sort on secondary references within the collection.
    * Dangling refs (to neither a collection member nor the catalog) and
    * cycles are recorded and those conditions dropped from the order.
    */
  private def topoSort(specs: Vector[ConditionSpec],
                       errsOf: ConditionSpec => ErrorCollector): Vector[ConditionSpec] = {
    val ids = specs.map(_.idString).toSet
    val deps: Map[String, Set[String]] = specs.map { s =>
      s.idString -> s.blocks.collect {
        case b: SecondaryBlock if ids.contains(b.sourceView) => b.sourceView
      }.toSet
    }.toMap

    // Dangling refs: not in this collection and not already materialized.
    specs.foreach { s =>
      s.blocks.collect { case b: SecondaryBlock => b }.foreach { b =>
        if (!ids.contains(b.sourceView) && !catalog.contains(b.sourceView))
          errsOf(s).add(
            s"""Secondary block "${b.rawLogic}" refers to unknown condition "${b.sourceView}"""")
      }
    }

    val order = Vector.newBuilder[ConditionSpec]
    val done = mutable.Set.empty[String]
    var remaining = specs
    var progressed = true
    while (remaining.nonEmpty && progressed) {
      progressed = false
      val (ready, blocked) = remaining.partition(s => deps(s.idString).subsetOf(done))
      if (ready.nonEmpty) {
        progressed = true
        ready.foreach { s => order += s; done += s.idString }
      }
      remaining = blocked
    }
    remaining.foreach { s =>
      errsOf(s).add("Condition is part of a dependency cycle and cannot be analyzed")
    }
    order.result() ++ remaining // cycle members appended; they fail with errors
  }
}

package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table sink for join co-location at 100 TB.
  *
  * A join between two tables bucketed into the same number of buckets on
  * the join key reads co-located buckets and skips BOTH shuffle
  * exchanges — the difference between an hours-long repartition of a
  * 100 TB fact table and a straight merge of pre-sorted buckets. The
  * pattern pays wherever one write amortizes many joins: the obs store
  * joined by (statid), documents joined by doc_id against dedup
  * verdicts / split assignments / PII audits, embeddings joined by
  * vec_id against ANN results.
  *
  * Spark only honors bucket metadata through the catalog
  * (`saveAsTable`; a plain parquet `save` loses it), so this sink writes
  * managed tables. Exchange-free joins are pinned in
  * `BucketedStoreSpec`.
  */
object BucketedStore {

  /** Write `df` as a managed table bucketed (and sorted) by `keyCols`
    * into `buckets` buckets. Sorting within buckets additionally lets
    * the join skip its Sort (sort-merge join reads presorted runs).
    */
  def writeBucketed(df: DataFrame, table: String, keyCols: Seq[String], buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  def read(spark: SparkSession, table: String): DataFrame = spark.table(table)
}

/** Date-partitioned parquet store for the observation history — the
  * time-series twin of [[BucketedStore]]. Partitioning the store by day
  * turns every collection-range query (TsaEngine filters
  * `tfrom BETWEEN from AND until`) into a pruned directory listing: a
  * one-month analysis over ten years of 100 TB history lists ~30
  * partitions and never opens the rest. This is the Spark-native
  * replacement for the reference's TimescaleDB hypertable chunking on
  * `tfrom` (database/01_init_db.sql:50).
  *
  * Every write ([[writeByDay]], [[mergeByDay]], [[deleteByDay]],
  * `LotjuIngest.ingest`) has one layout in place of the reference's B-tree
  * indexes on `statobs(statid)`/`seobs(seid, seval)`: range by (`obs_date`,
  * `statid`), each day file sorted by (`statid`, `tfrom`, `seid`). Zone
  * maps on `statid` stay tight for the pack's key filter, and the same
  * rows give the same bytes whatever order they arrived in.
  */
object PartitionedStore {

  /** Write with a derived `obs_date` partition column; `tfrom` stays in each file. */
  def writeByDay(df: DataFrame, path: String,
                 mode: SaveMode = SaveMode.Overwrite): Unit =
    write(df, path, mode, dynamic = false)

  /** The store's only writer. The sort's leading `obs_date` is the
    * partitioned writer's own required ordering, so the plan keeps one
    * Sort, directly over the range exchange. `dynamic` replaces only the
    * days present in `df` (partition-overwrite mode "dynamic").
    */
  private def write(df: DataFrame, path: String, mode: SaveMode,
                    dynamic: Boolean): Unit = {
    val w = df.withColumn("obs_date", to_date(col("tfrom")))
      .repartitionByRange(col("obs_date"), col("statid"))
      .sortWithinPartitions("obs_date", "statid", "tfrom", "seid")
      .write.mode(mode)
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("obs_date").parquet(path)
  }

  /** Read back; time filters on `tfrom` should be rewritten against
    * `obs_date` too (partition pruning needs a predicate on the
    * partition column — see [[prunedRange]]).
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Range filter that prunes: the `obs_date` bounds reach the
    * directory listing (PartitionFilters), the `tsCol` bounds keep the
    * row-level semantics exact within the boundary days.
    */
  def prunedRange(df: DataFrame, tsCol: String,
                  from: java.sql.Timestamp, until: java.sql.Timestamp): DataFrame =
    df.filter(col("obs_date").between(to_date(lit(from)), to_date(lit(until))) &&
      col(tsCol).between(lit(from), lit(until)))

  /** DELETE by key (the right-to-be-forgotten path): remove every
    * store row matching a key in `keys`, rewriting ONLY the partitions
    * the key set touches — [[mergeByDay]]'s mechanics with no inserts.
    * `keys` must carry `tfrom` so the touched-partition set is
    * derivable; an erasure request without a time scope is a
    * full-table rewrite by definition and should go through compaction
    * windows instead.
    */
  def deleteByDay(spark: SparkSession, keys: DataFrame,
                  path: String, keyCols: Seq[String]): Unit =
    rewriteDays(spark, path, keys, keyCols, None)

  /** MERGE (keyed upsert) a batch into the day-partitioned store,
    * rewriting ONLY the partitions the batch touches — the reference's
    * monthly upsert loop (`ON CONFLICT DO UPDATE` per batch,
    * SURVEY.md E5/E7) generalized to the lake layout. At 100 TB the
    * invariant is: a day's corrections cost one day's read + rewrite,
    * never a table scan.
    *
    * Mechanics: the batch's distinct days collect to the driver
    * (bounded by touched days); the store read is pruned to exactly
    * those partitions; store rows whose key also appears in the batch
    * drop (anti join on `keyCols` — update-by-replace); the batch
    * unions in (inserts + updated rows); the write goes back in
    * DYNAMIC partition-overwrite mode, so only the touched
    * `obs_date=` directories are replaced — untouched partitions are
    * neither read nor written.
    *
    * Requires `keyCols` to be a true key of both store and batch
    * within a day (the reference's natural-key contract).
    */
  def mergeByDay(spark: SparkSession, batch: DataFrame,
                 path: String, keyCols: Seq[String]): Unit =
    rewriteDays(spark, path, batch, keyCols, Some(batch))

  /** Rewrite the days `keys` touches: their rows minus `keys` (on `keyCols`), plus `add`. */
  private def rewriteDays(spark: SparkSession, path: String, keys: DataFrame,
                          keyCols: Seq[String], add: Option[DataFrame]): Unit = {
    def daysOf(df: DataFrame) =
      df.select(to_date(col("tfrom"))).distinct().collect().map(_.getDate(0))
    val days = daysOf(keys)
    if (days.nonEmpty) {
      val kept = read(spark, path)
        .filter(col("obs_date").isin(days.map(d => lit(d)): _*))
        .join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
        .drop("obs_date")
      // EAGER checkpoint: the rows must fully materialize BEFORE the
      // overwrite touches the directories they were read from (reading
      // and overwriting one path is otherwise rejected, and lazily racing
      // the delete would corrupt); it also bounds the rewrite's input
      val rows = add.fold(kept)(kept.unionByName(_)).localCheckpoint(eager = true)
      write(rows, path, SaveMode.Overwrite, dynamic = true)
      // dynamic overwrite only replaces partitions PRESENT in the written
      // frame: a day a delete erased writes nothing and would keep its
      // stale directory, so drop it (a merge writes on every day it touches)
      if (add.isEmpty) {
        val base = new org.apache.hadoop.fs.Path(path)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        days.diff(daysOf(rows)).foreach(d =>
          fs.delete(new org.apache.hadoop.fs.Path(base, s"obs_date=$d"), true))
      }
    }
  }
}

/** Small-file compaction: streaming ingest (micro-batch appends) and
  * fine-grained partitioning both drip files far below the scan-optimal
  * size; at 100 TB the resulting listing + footer + task overhead
  * dominates reads long before the data does. Rewrite a directory into
  * ~`targetBytes` files sized from the ACTUAL input footprint.
  */
object Compaction {

  /** Sum of data-file sizes under `path` (recursive, skips hidden and
    * _SUCCESS-style marker files). Hadoop FileSystem API, not
    * java.io.File — the store this runs against lives on HDFS/S3/GCS,
    * and the scheme's FileSystem comes from the session's Hadoop conf.
    */
  def dataBytes(spark: SparkSession, path: String): Long = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a file is data only if NO path component below the base is hidden —
    // an aborted write's _temporary/.../part-*.parquet must not count,
    // and its own basename passes a name-only check
    val qBase = fs.makeQualified(base) // listed paths come back qualified
    def hiddenBelowBase(p: org.apache.hadoop.fs.Path): Boolean = {
      var cur = p
      while (cur != null && cur != qBase) {
        val n = cur.getName
        if (n.startsWith("_") || n.startsWith(".")) return true
        cur = cur.getParent
      }
      false
    }
    val it = fs.listFiles(base, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (!hiddenBelowBase(f.getPath)) total += f.getLen
    }
    total
  }

  /** Read `inPath`, rewrite to `outPath` in `ceil(bytes/targetBytes)`
    * files. `repartition` (not `coalesce`): coalesce merges existing
    * partitions without a shuffle but inherits their skew — a compaction
    * pass exists to fix layout, so pay the one shuffle and get evenly
    * sized output. Row-identical by construction (a plain rewrite).
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 128L << 20): Unit = {
    val n = math.max(1L, (dataBytes(spark, inPath) + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath).repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }
}

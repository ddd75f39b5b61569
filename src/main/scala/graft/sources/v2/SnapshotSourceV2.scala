package graft.sources.v2

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, LocalScan, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{NoopCache, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.functions.KeyBloom
import graft.sources.{HadoopStoreFs, SnapshotStore, SnapshotStoreOps}
import graft.sources.SnapshotStore.{FileEntry, Manifest}

/** The snapshot store as a first-class Spark DataSourceV2 relation:
  *
  * {{{
  *   spark.read.format("graft-snapshot")
  *     .option("version", 3)        // or .option("tag", "rel")
  *     .load(root)
  *   df.write.format("graft-snapshot").mode("append").save(root)
  * }}}
  *
  * What this adds over the API reads (`SnapshotStore.read/scanRanges/
  * lookupKeys`): the store's pruning becomes VISIBLE TO CATALYST.
  * Predicates written in SQL / DataFrame code push into planning via
  * [[SnapshotScanBuilder]] — key-range and zone-map envelopes plus
  * per-file key Blooms select the file set, exactly the skipping the
  * API calls do, but now composing with joins, subqueries and column
  * pruning the optimizer owns (the Iceberg/Delta surface; the
  * reference's collection view `tsa/cond_collection.py:90-114` is the
  * same idea as one pushed-down scan). Execution delegates to Spark's
  * own vectorized [[ParquetScan]], so whole-stage codegen, row-group
  * stat pruning (the selected filters are re-pushed at parquet level)
  * and exact residual re-evaluation all come from the engine — the
  * manifest only decides WHICH files exist in the relation.
  *
  * Three further Catalyst integrations ride the same manifest:
  *
  *  - EXACT key-range conjuncts (every file provably all-in or
  *    all-out) are reported as fully HANDLED, so Spark drops the
  *    residual re-check for them — and, with no residual left,
  *    aggregate pushdown becomes legal;
  *  - [[SupportsPushDownAggregates]]: COUNT(*)/MIN/MAX over the key
  *    or a zone-mapped column answer from manifest stats alone — the
  *    plan holds a [[LocalScan]] with ONE row and ZERO data files
  *    (`SELECT count(*) ... WHERE key BETWEEN ...` on a 100 TB table
  *    is a metadata read);
  *  - [[SupportsRuntimeV2Filtering]]: a broadcast join's IN-set
  *    re-prunes the file list at EXECUTION time (the fact-dim case —
  *    only the files holding the dim's keys are ever read).
  *
  * Planning I/O is metadata-only: the file index is fabricated from
  * manifest entries (path, bytes) — no directory listing, no per-file
  * stat RPCs, the property that keeps `spark.read` on a 100 k-file
  * table from hammering the namenode.
  *
  * Versions carrying UNMATERIALIZED merge-on-read deletes that apply
  * to a selected file are REFUSED (like [[SnapshotStoreOps.countAsOf]]):
  * this path reads raw data files, and silently resurrecting deleted
  * keys would be worse than a loud error. `applyDeletes`/`compact`
  * restore V2 readability; the API read remains the MOR-aware path.
  *
  * The WRITE half lives in [[SnapshotWriteBuilder]] (same file's
  * sibling): batch append/truncate and exactly-once streaming epochs
  * through the store's commit machinery.
  */
final class SnapshotSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  override def supportsExternalMetadata(): Boolean = false

  // Spark calls inferSchema then getTable on ONE provider instance;
  // resolving twice would let a concurrent commit slide the pinned
  // version between the advertised schema and the planned manifest
  // (and parse the manifest twice). Memoize per option key.
  @volatile private var cached
      : Option[(String, (SnapshotStoreOps, String, SnapshotStore.Manifest))] = None

  private def resolved(options: CaseInsensitiveStringMap)
      : (SnapshotStoreOps, String, SnapshotStore.Manifest) = {
    val key = Seq("path", "version", "tag", "branch")
      .map(k => s"$k=${options.get(k)}").mkString(";")
    cached match {
      case Some((k, r)) if k == key => r
      case _ =>
        val r = SnapshotSource.resolve(options)
        cached = Some((key, r))
        r
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    resolved(options)._3.schema.getOrElse(throw new IllegalArgumentException(
      "this snapshot store predates schema tracking — the V2 source needs the declared schema"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val (store, root, m) = resolved(opts)
    // a version/tag-pinned table is a READ surface: writing "to a
    // version" has no commit semantics (commits always land after the
    // current head). A BRANCH table is read-write — reads see the
    // branch head, writes commit on the branch's own chain.
    new SnapshotTable(store, root, m, schema,
      pinned = opts.containsKey("version") || opts.containsKey("tag"),
      branch = Option(opts.get("branch")))
  }
}

object SnapshotSource {

  /** AUTO update-mode threshold: with neither the session conf nor
    * the 'update.mode' table property set, a row-level statement
    * takes the merge-on-read path when the table's live data files
    * AVERAGE at least this many bytes — at that size copy-on-write's
    * file-sized rewrite dwarfs a match-sized delta (the write
    * amplification MOR exists to cut), while smaller files keep the
    * raw-readable copy-on-write default. Overridable at three levels,
    * nearest wins: the session conf 'spark.graft.update.auto.bytes',
    * the per-table 'update.auto.bytes' property, and the
    * catalog-level 'spark.sql.catalog.<name>.update.auto.bytes'
    * fleet default.
    */
  private[v2] val DefaultAutoMorBytes: Long = 32L * 1024 * 1024

  /** The table's one metadata column: `_file`, the row's
    * manifest-relative data file path. See
    * [[SnapshotTable.metadataColumns]].
    */
  object FileMetaColumn
      extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "manifest-relative path of the data file holding the row"
  }

  /** Every physical node in a DF's EXECUTED plan, descending through
    * AQE roots and materialized query stages (both hold their
    * re-planned subtree as a FIELD, not a child — a plain collect over
    * a query with any exchange misses everything below the first
    * stage boundary). The evidence walker the plan-pinned gates
    * (pruning, zero-shuffle SPJ, auto-broadcast) share.
    */
  def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    def go(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a +: go(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          qs +: go(qs.plan)
        case other => Seq(other)
      }
    go(df.queryExecution.executedPlan)
  }

  /** The file set a V2 scan will actually read, collected from the
    * physical plan's BatchScanExec — the pruning evidence gates and
    * specs assert on (`Dataset.inputFiles` only serves built-in
    * FileTable sources). One home so a Spark upgrade or AQE-wrapping
    * change lands once.
    */
  def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    planNodes(df).flatMap {
      // type-matched, not cast: a plan joining a graft-snapshot read
      // with a non-file V2 scan (graft-cdc, a manifest-answered
      // aggregate) must contribute its own file count — zero — not a
      // ClassCastException from the evidence helper itself
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.toSeq
          case s: SnapshotScan => s.currentFiles.map(_._1.toString)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }

  /** (store over the right substrate, root, pinned manifest) for the
    * read options. `version` and `tag` are the time-travel surface;
    * default is the current version. Reads never CAS, so the Hadoop
    * substrate is safe for any scheme here.
    */
  private[v2] def resolve(options: CaseInsensitiveStringMap)
      : (SnapshotStoreOps, String, Manifest) = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-snapshot needs a path: spark.read.format(\"graft-snapshot\").load(<storeRoot>)"))
    val store = storeFor(root)
    val version = Option(options.get("version")).map(_.toLong)
    val tag = Option(options.get("tag"))
    val branch = Option(options.get("branch"))
    require(Seq(version, tag, branch).count(_.isDefined) <= 1,
      "pass at most one of version, tag, branch")
    branch match {
      case Some(b) => (store, root, store.currentManifest(root, Some(b)))
      case None =>
        val v = version
          .orElse(tag.map(t => store.tagVersion(root, t)))
          .getOrElse(store.currentManifest(root).version)
        (store, root, store.manifestAsOf(root, v))
    }
  }

  /** Substrate choice for a root string: any URI-schemed root (file:,
    * hdfs:, s3a:, ...) goes through the Hadoop substrate — NioStoreFs
    * only understands plain local paths (Paths.get("file:///x") is a
    * bogus relative path). V2 WRITES through HadoopStoreFs land their
    * manifest via create-if-absent (never a replacing rename), so the
    * single-writer CAS caveat [[graft.sources.StoreFs]] documents does
    * not bite the commit path on local schemes; object-store roots
    * still belong behind a [[graft.sources.CatalogStoreFs]].
    */
  private[v2] def storeFor(root: String): SnapshotStoreOps =
    if (root.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*"))
      new SnapshotStoreOps(new HadoopStoreFs(
        SparkSession.active.sparkContext.hadoopConfiguration))
    else SnapshotStore
}

private[v2] final class SnapshotTable(store: SnapshotStoreOps, root: String,
                                      m: Manifest, declared0: StructType,
                                      pinned: Boolean,
                                      branch: Option[String] = None,
                                      catalogAutoBytes: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  /** The served schema declares the KEY non-nullable — every commit
    * path rejects NULL keys, so the fact is true by construction, and
    * Spark's delta row-level planning REQUIRES non-nullable row IDs.
    */
  private val declared: StructType = StructType(declared0.fields.map(f =>
    if (f.name == m.keyCol) f.copy(nullable = false) else f))

  /** `_file` — the row's manifest-relative data file path (the public
    * Iceberg metadata-column shape). Constant per file, served from
    * the manifest entry the row was planned from, so it costs nothing
    * to produce. It is what makes row-level runtime GROUP filtering
    * exact: the matching-rows subquery projects `_file` and the group
    * scan narrows to precisely the files holding matches — a row
    * filter on `_file` keeps every row of a kept file (file identity
    * is constant per file), where a filter on the KEY would drop the
    * carried rows a copy-on-write rewrite must preserve.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(SnapshotSource.FileMetaColumn)

  override def name(): String =
    s"graft-snapshot `$root` v${m.version}" +
      branch.map(b => s" (branch $b)").getOrElse("")

  override def schema(): StructType = declared

  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED: the manifest-carried
    * table properties plus the structural create-time ones.
    */
  override def properties(): util.Map[String, String] = {
    val out = new util.HashMap[String, String]()
    m.props.foreach { case (k, v) => out.put(k, v) }
    out.put("key", m.keyCol)
    if (m.statsCols.nonEmpty) out.put("statsCols", m.statsCols.mkString(","))
    if (m.bloomBits > 0) out.put("bloomBits", m.bloomBits.toString)
    out
  }

  /** Surfaced table clustering (DESCRIBE/SHOW): `bucket(n, key)` when
    * every file of this version shares one bucket layout spec — the
    * same condition under which the scan reports key-grouped
    * partitioning for storage-partitioned joins.
    */
  override def partitioning(): Array[Transform] =
    graft.functions.GraftBucket.uniformN(m.files.map(_.layout))
      .map(n => Array(Expressions.bucket(n, m.keyCol)))
      .getOrElse(Array.empty)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotScanBuilder(SparkSession.active, store, root, m, declared,
      options, pinned)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!pinned,
      "graft-snapshot: a version/tag-pinned table is read-only — " +
        "write to the table root without time-travel options")
    new SnapshotWriteBuilder(store, root, declared, m.keyCol,
      m.statsCols, m.bloomBits, m.version, m.renames, info, branch)
  }

  /** SQL UPDATE / MERGE INTO (and DELETEs [[canDeleteWhere]] declines)
    * as group-based copy-on-write rewrites — see
    * [[GraftRowLevelOperation]].
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(!pinned,
      "graft-snapshot: a version/tag-pinned table is read-only — " +
        "run row-level statements against the table root")
    // MODE RESOLUTION (the Iceberg write.update.mode idea, made
    // durable and self-tuning): the SESSION conf wins when set (an
    // explicit per-run override), else the TABLE PROPERTY
    // 'update.mode' (ALTER TABLE SET TBLPROPERTIES — the durable
    // record of a table's intended mode), else AUTO — a cost-based
    // default from MANIFEST statistics alone: when the table's live
    // data files average at least 'update.auto.bytes' (default
    // 32 MiB), a copy-on-write rewrite pays file-sized I/O for every
    // match-sized statement, so merge-on-read (match-sized delete
    // files + new rows) is the cheaper shape; small-file tables stay
    // copy-on-write (raw-file-readable, materialization cheap). The
    // decision is manifest arithmetic — no data read, no session
    // knob needed for the common case.
    //
    // Both modes land on `branch`'s chain when the table is a branch
    // handle (the WAP fix-up surface — audit, FIX the bad rows on
    // the branch, fast-forward); main is untouched.
    () => {
      val declaredMode = SparkSession.active.conf
        .getOption("spark.graft.update.mode")
        .orElse(m.props.get("update.mode"))
        .getOrElse("auto")
      val mode = declaredMode match {
        case "auto" =>
          val live = m.files.filter(_.bytes > 0)
          val avg = if (live.isEmpty) 0L
                    else live.map(_.bytes).sum / live.size
          // THRESHOLD resolution mirrors the mode's own chain: session
          // conf (explicit per-run override) > table property (the
          // durable per-table record; validated at SET time, but a
          // hand-written manifest could still carry junk — fail HERE
          // with the key and the fix, not a raw NumberFormatException
          // from write planning) > CATALOG property (the fleet-policy
          // default, spark.sql.catalog.<name>.update.auto.bytes —
          // validated at catalog initialize) > built-in constant.
          val threshold = SparkSession.active.conf
            .getOption("spark.graft.update.auto.bytes")
            .map(v => v.toLongOption.filter(_ > 0).getOrElse(
              throw new IllegalArgumentException(
                s"spark.graft.update.auto.bytes='$v' is not a " +
                  "positive byte count — fix or unset the conf")))
            .orElse(m.props.get("update.auto.bytes")
              .map(v => v.toLongOption.filter(_ > 0).getOrElse(
                throw new IllegalArgumentException(
                  s"table property update.auto.bytes='$v' is not a " +
                    "positive byte count — fix or UNSET it"))))
            .orElse(catalogAutoBytes)
            .getOrElse(SnapshotSource.DefaultAutoMorBytes)
          if (avg >= threshold) "merge-on-read" else "copy-on-write"
        case other => other
      }
      mode match {
        case "merge-on-read" =>
          new GraftDeltaOperation(store, root, m, declared, info.command,
            branch)
        case "copy-on-write" =>
          new GraftRowLevelOperation(store, root, m, declared, info.command,
            branch)
        case other => throw new IllegalArgumentException(
          s"update.mode '$other' — copy-on-write, merge-on-read, or " +
            "auto (cost-based default)")
      }
    }
  }

  /** SQL DELETE, mapped to the store's metadata-first erasure:
    *
    *  - a key RANGE (`WHERE k BETWEEN a AND b`, any combination of
    *    key comparisons) → [[SnapshotStoreOps.deleteRange]]: files
    *    fully inside the range drop MANIFEST-ONLY — the 100 TB
    *    right-to-be-forgotten sweep as one SQL statement — and only
    *    boundary files rewrite;
    *  - a key IN-set → [[SnapshotStoreOps.deleteKeys]] (a
    *    key-count-sized merge-on-read delete file) immediately
    *    materialized with [[SnapshotStoreOps.applyDeletes]], so the
    *    V2 read path stays open (it refuses unmaterialized MOR).
    *    Scattered erasure that should STAY merge-on-read (defer the
    *    rewrite) belongs to the API.
    *
    * Anything not decidable by key alone refuses at analysis
    * (`canDeleteWhere = false`) rather than silently rewriting the
    * table. The key-plan parse itself lives in [[KeyPlan]], shared
    * with the filter-scoped OVERWRITE ([[SnapshotWriteBuilder]]).
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !pinned && branch.isEmpty && KeyPlan.of(filters, m.keyCol).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!pinned, "a version/tag-pinned table is read-only")
    val spark = SparkSession.active
    import KeyPlan.{ByKeys, ByRange}
    KeyPlan.of(filters, m.keyCol).getOrElse(
      throw new UnsupportedOperationException(
      s"graft-snapshot DELETE supports key-only predicates " +
        s"(ranges, =, IN on '${m.keyCol}'); rewrite-requiring " +
        "predicates belong to the API merge path")) match {
      case ByRange(lo, hi) =>
        if (lo <= hi) { store.deleteRange(spark, root, lo, hi); () }
      case ByKeys(ks) =>
        // ONE commit (copy-on-write): a deleteKeys+applyDeletes pair
        // would leave a two-commit window where raw-file readers
        // refuse the table
        store.deleteKeysExact(spark, ks, root)
        ()
    }
  }

  override def truncateTable(): Boolean = {
    require(!pinned, "a version/tag-pinned table is read-only")
    store.commitStagedEntries(root, Vector.empty, truncate = true,
      branch = branch)
    true
  }
}

/** Key-only plans for the statements whose semantics must be decided
  * by the key alone — SQL DELETE's metadata-first erasure and the
  * filter-scoped OVERWRITE. A conjunction of key comparisons folds to
  * ONE inclusive range; a key IN-list is a key set; anything touching
  * a non-key column (or mixing IN with range bounds) returns None and
  * the caller refuses loudly instead of silently rewriting the table.
  */
private[v2] object KeyPlan {
  sealed trait Plan
  final case class ByRange(lo: Long, hi: Long) extends Plan
  final case class ByKeys(keys: Seq[Long]) extends Plan

  def of(filters: Array[Filter], k: String): Option[Plan] = {
    import ManifestPruner.integral
    var lo = Long.MinValue
    var hi = Long.MaxValue
    var bounded = false
    var keys: Option[Seq[Long]] = None
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    // strict bounds tighten WITHOUT overflow: k > Long.MaxValue (or
    // k < Long.MinValue) matches nothing — wrapping would flip it
    // into a touch-EVERYTHING range
    def above(x: Long): Unit =
      if (x == Long.MaxValue) { lo = 1; hi = 0 } else lo = math.max(lo, x + 1)
    def below(x: Long): Unit =
      if (x == Long.MinValue) { lo = 1; hi = 0 } else hi = math.min(hi, x - 1)
    filters.flatMap(flat).foreach {
      case IsNotNull(c) if c == k => () // vacuous on the key
      case AlwaysTrue() => bounded = true // statement without WHERE
      case EqualTo(c, v) if c == k && integral(v).isDefined =>
        val x = integral(v).get
        lo = math.max(lo, x); hi = math.min(hi, x); bounded = true
      case GreaterThan(c, v) if c == k && integral(v).isDefined =>
        above(integral(v).get); bounded = true
      case GreaterThanOrEqual(c, v) if c == k && integral(v).isDefined =>
        lo = math.max(lo, integral(v).get); bounded = true
      case LessThan(c, v) if c == k && integral(v).isDefined =>
        below(integral(v).get); bounded = true
      case LessThanOrEqual(c, v) if c == k && integral(v).isDefined =>
        hi = math.min(hi, integral(v).get); bounded = true
      case In(c, vs) if c == k && vs.nonEmpty &&
          vs.forall(integral(_).isDefined) && keys.isEmpty =>
        keys = Some(vs.toIndexedSeq.map(integral(_).get))
      case _ => return None // not decidable by key alone
    }
    (keys, bounded) match {
      case (Some(ks), false) => Some(ByKeys(ks))
      case (None, _) => Some(ByRange(lo, hi)) // incl. the no-WHERE form
      case _ => None // IN mixed with range bounds: refuse
    }
  }
}

/** Manifest-driven file pruning shared by planning-time pushdown and
  * execution-time runtime filtering. Per-file Blooms decode ONCE per
  * scan (cached by path) — an IN-list of 50 keys over a 100 k-file
  * manifest must not pay 5 M Base64 decodes at planning time.
  */
private[v2] object ManifestPruner {
  /** Long view of an integral literal — the one place the V1-filter
    * value widening lives (pruning, exact-handling and DELETE
    * planning all share it).
    */
  def integral(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int => Some(i.toLong)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }
}

private[v2] final class ManifestPruner(m: Manifest) extends Serializable {
  import ManifestPruner.integral

  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private def decodedBloom(f: FileEntry): Option[Array[Byte]] =
    f.bloom.map(b => bloomCache.computeIfAbsent(f.path,
      _ => java.util.Base64.getDecoder.decode(b)))

  /** Columns the manifest can prune on: the key (minKey/maxKey +
    * bloom) and every zone-mapped stats column.
    */
  private def prunable(c: String): Boolean =
    c == m.keyCol || m.statsCols.contains(c)

  /** Can this conjunct contribute to file selection? (It still stays
    * residual either way, unless [[exactlyHandled]] proves otherwise.)
    */
  def usable(f: Filter): Boolean = f match {
    case EqualTo(c, v) => prunable(c) && integral(v).isDefined
    case GreaterThan(c, v) => prunable(c) && integral(v).isDefined
    case GreaterThanOrEqual(c, v) => prunable(c) && integral(v).isDefined
    case LessThan(c, v) => prunable(c) && integral(v).isDefined
    case LessThanOrEqual(c, v) => prunable(c) && integral(v).isDefined
    case In(c, vs) => prunable(c) && vs.nonEmpty && vs.forall(integral(_).isDefined)
    // the key is never null (commits reject null keys), so the
    // IsNotNull conjunct Catalyst pairs with key comparisons is
    // trivially satisfied by every row — claiming it keeps an
    // otherwise file-exact predicate set aggregate-pushdown-eligible
    case IsNotNull(c) => c == m.keyCol
    case And(l, r) => usable(l) && usable(r)
    case _ => false
  }

  /** True iff file `f` may hold a row matching the conjunct — the
    * no-false-negative test over (minKey, maxKey), per-column zone
    * maps and the per-file key bloom. Unknown shapes return true.
    */
  def mayMatch(f: FileEntry, flt: Filter): Boolean = {
    def bounds(c: String): Option[(Long, Long)] =
      if (c == m.keyCol) Some((f.minKey, f.maxKey)) else f.stats.get(c)
    def keyPoint(c: String, k: Long): Boolean =
      bounds(c).forall { case (mn, mx) => mn <= k && k <= mx } &&
        (c != m.keyCol || decodedBloom(f).forall(
          KeyBloom.mightContain(_, k)))
    flt match {
      case EqualTo(c, v) => integral(v).forall(keyPoint(c, _))
      case In(c, vs) => vs.flatMap(integral(_)).exists(keyPoint(c, _))
      case GreaterThan(c, v) =>
        integral(v).forall(lo => bounds(c).forall(_._2 > lo))
      case GreaterThanOrEqual(c, v) =>
        integral(v).forall(lo => bounds(c).forall(_._2 >= lo))
      case LessThan(c, v) =>
        integral(v).forall(hi => bounds(c).forall(_._1 < hi))
      case LessThanOrEqual(c, v) =>
        integral(v).forall(hi => bounds(c).forall(_._1 <= hi))
      case And(l, r) => mayMatch(f, l) && mayMatch(f, r)
      case _ => true
    }
  }

  def select(files: Vector[FileEntry], filters: Seq[Filter]): Vector[FileEntry] =
    files.filter(f => filters.forall(mayMatch(f, _)))

  /** Is this KEY conjunct fully decided by file envelopes — every
    * manifest file provably ALL-matching or ALL-excluded? If so the
    * conjunct needs no residual row re-check: selection keeps exactly
    * the all-matching files. Key-column only: the key is integral and
    * NEVER NULL (commits reject null keys), so "range contains the
    * whole envelope" really does cover every row; a stats column may
    * hold nulls the zone map doesn't see, so its conjuncts always
    * stay residual.
    */
  def exactlyHandled(flt: Filter): Boolean = {
    def allInOrOut(lo: Long, hi: Long): Boolean =
      m.files.forall(f =>
        (lo <= f.minKey && f.maxKey <= hi) || // every row matches
          (f.maxKey < lo || hi < f.minKey))   // provably no row does
    flt match {
      case IsNotNull(c) => c == m.keyCol // no key row can fail it
      case EqualTo(c, v) if c == m.keyCol =>
        integral(v).exists(k => allInOrOut(k, k))
      case GreaterThan(c, v) if c == m.keyCol =>
        integral(v).exists(lo => allInOrOut(lo + 1, Long.MaxValue))
      case GreaterThanOrEqual(c, v) if c == m.keyCol =>
        integral(v).exists(lo => allInOrOut(lo, Long.MaxValue))
      case LessThan(c, v) if c == m.keyCol =>
        integral(v).exists(hi => allInOrOut(Long.MinValue, hi - 1))
      case LessThanOrEqual(c, v) if c == m.keyCol =>
        integral(v).exists(hi => allInOrOut(Long.MinValue, hi))
      case And(l, r) => exactlyHandled(l) && exactlyHandled(r)
      case _ => false
    }
  }
}

/** Filter pushdown → file selection. Pushed conjuncts stay RESIDUAL
  * (returned back to Spark) because manifest pruning is file-granular,
  * not row-exact — EXCEPT key conjuncts [[ManifestPruner.exactlyHandled]]
  * proves file-exact, which are claimed as handled (no row re-check,
  * and the door to aggregate pushdown). The supported subset
  * additionally (a) selects files by key-range / zone-map / bloom and
  * (b) re-pushes to the parquet reader for row-group pruning.
  */
private[v2] final class SnapshotScanBuilder(spark: SparkSession,
                                            store: SnapshotStoreOps,
                                            root: String, m: Manifest,
                                            declared: StructType,
                                            options: CaseInsensitiveStringMap,
                                            pinned: Boolean = false)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {

  private val pruner = new ManifestPruner(m)

  private var required: StructType = declared
  private var supported: Array[Filter] = Array.empty
  private var pushedAgg: Option[(StructType, InternalRow)] = None
  private var limited: Option[Vector[FileEntry]] = None

  // planning-time memos over the (large) manifest: Spark consults
  // supportCompletePushDown, pushAggregation AND build in one
  // planning pass — on a 100 k-file manifest each would otherwise
  // re-walk every file per filter. Invalidated when filters change.
  private var selCache: Vector[FileEntry] = null
  private var handledCache: java.lang.Boolean = null

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    supported = filters.filter(pruner.usable)
    selCache = null
    handledCache = null
    limited = None
    // exact key conjuncts are fully handled by file selection; the
    // rest stay residual for Spark's row re-check
    filters.filterNot(f => pruner.usable(f) && pruner.exactlyHandled(f))
  }

  override def pushedFilters(): Array[Filter] = supported

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def selected: Vector[FileEntry] = {
    if (selCache == null)
      selCache = pruner.select(m.files, supported.toIndexedSeq)
    selCache
  }

  private def allHandled: Boolean = {
    if (handledCache == null)
      handledCache = supported.forall(pruner.exactlyHandled)
    handledCache.booleanValue()
  }

  /** COUNT(*)/MIN/MAX answerable from the manifest alone: no groups,
    * every aggregate over the key or an all-tracked zone column, every
    * pushed filter file-exact (Spark only offers aggregates when no
    * residual filter remains, so this holds by construction — checked
    * anyway), and no merge-on-read delete touching a selected file.
    * MIN/MAX are exact because zone maps hold REAL attained values
    * (min/max over non-null rows; an all-null file writes no entry),
    * and integral-typed columns round-trip the long-cast losslessly.
    */
  private def integralType(c: String): Boolean =
    declared.fields.find(_.name == c).map(_.dataType).exists {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }

  private def answerable(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && allHandled &&
      agg.aggregateExpressions.forall {
        case _: CountStar => true
        case mn: Min => fieldName(mn.column).exists(c =>
          (c == m.keyCol || m.statsCols.contains(c)) && integralType(c))
        case mx: Max => fieldName(mx.column).exists(c =>
          (c == m.keyCol || m.statsCols.contains(c)) && integralType(c))
        case _ => false
      } && {
        val sel = selected
        sel.forall(f => store.applicableDeletes(m, f).isEmpty)
      }

  private def fieldName(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[String] = e match {
    case r: NamedReference if r.fieldNames.length == 1 =>
      Some(r.fieldNames.head)
    case _ => None
  }

  /** LIMIT pushdown as FILE-SET TRUNCATION: `SELECT ... LIMIT n` on a
    * 100 k-file table plans only enough files to cover `n` rows
    * (manifest row counts — usually ONE file). Safe because Spark
    * keeps its Limit on top (`isPartiallyPushed` stays true): the
    * truncated set only has to be a SUPERSET of some n rows, which
    * `allHandled` guarantees — every pushed conjunct is file-exact,
    * so each planned file contributes exactly its manifest row count
    * (any residual filter could silently drop below n). Files with
    * applicable MOR deletes would overcount, but the build refuses
    * them anyway.
    */
  override def pushLimit(n: Int): Boolean = {
    if (!allHandled || n <= 0) return false
    limited = Some(takeRows(selected, n))
    true
  }

  /** TopN (`ORDER BY key [ASC|DESC] LIMIT n`) as file-set truncation:
    * legal when additionally the ordering is the KEY alone and the
    * selected files' key envelopes are PAIRWISE DISJOINT (the
    * range-clustered write invariant) — then the files at the low
    * (or high) end of the key line provably contain the global top-n.
    * Spark keeps its TakeOrderedAndProject on top.
    */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector
      .expressions.SortOrder], n: Int): Boolean = {
    if (!allHandled || n <= 0 || orders.length != 1) return false
    val o = orders.head
    val onKey = fieldName(o.expression()).contains(m.keyCol)
    if (!onKey) return false
    val sel = selected
    val byMin = sel.sortBy(_.minKey)
    val disjoint = byMin.iterator.sliding(2).withPartial(false)
      .forall(w => w.head.maxKey < w.last.minKey)
    if (!disjoint) return false
    import org.apache.spark.sql.connector.expressions.SortDirection
    val ordered = o.direction() match {
      case SortDirection.ASCENDING => byMin
      case SortDirection.DESCENDING => byMin.reverse
    }
    limited = Some(takeRows(ordered, n))
    true
  }

  /** Always partial: the truncated file set is a SUPERSET of the
    * requested n rows, and Spark's retained Limit/TakeOrdered on top
    * trims it exactly. (Both limit traits default this; Scala requires
    * one explicit override to disambiguate.)
    */
  override def isPartiallyPushed(): Boolean = true

  /** First files of `files` covering at least `n` rows. */
  private def takeRows(files: Vector[FileEntry], n: Int): Vector[FileEntry] = {
    var cum = 0L
    val out = Vector.newBuilder[FileEntry]
    val it = files.iterator
    while (cum < n && it.hasNext) {
      val f = it.next()
      out += f
      cum += f.rows
    }
    out.result()
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    answerable(agg)

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!answerable(agg)) return false
    val sel = selected
    def colType(c: String): DataType =
      declared.fields.find(_.name == c).get.dataType
    def narrowed(c: String, v: Long): Any = colType(c) match {
      case LongType => v
      case IntegerType => v.toInt
      case ShortType => v.toShort
      case ByteType => v.toByte
      case _ => v
    }
    def bound(c: String, hi: Boolean): Option[Long] = {
      val vs =
        if (c == m.keyCol) sel.map(f => if (hi) f.maxKey else f.minKey)
        else sel.flatMap(f => f.stats.get(c).map(b => if (hi) b._2 else b._1))
      if (vs.isEmpty) None else Some(if (hi) vs.max else vs.min)
    }
    val fields = scala.collection.mutable.ArrayBuffer.empty[StructField]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    agg.aggregateExpressions.foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
        values += sel.map(_.rows).sum
      case mn: Min =>
        val c = fieldName(mn.column).get
        fields += StructField(s"min($c)", colType(c))
        values += bound(c, hi = false).map(narrowed(c, _)).orNull
      case mx: Max =>
        val c = fieldName(mx.column).get
        fields += StructField(s"max($c)", colType(c))
        values += bound(c, hi = true).map(narrowed(c, _)).orNull
      case _ => return false // unreachable: answerable() screened
    }
    pushedAgg = Some((StructType(fields.toSeq),
      new GenericInternalRow(values.toArray)))
    true
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, row)) =>
      // manifest-answered aggregate: ONE local row, ZERO data files
      ManifestAggScan(root, m.version, schema, Array(row))
    case None =>
      val sel = limited.getOrElse(selected)
      // raw-file read: refuse silently resurrecting MOR-deleted keys
      val withPendingDeletes = sel.filter(f =>
        store.applicableDeletes(m, f).nonEmpty)
      if (withPendingDeletes.nonEmpty) throw new IllegalStateException(
        s"version ${m.version} has unmaterialized merge-on-read deletes " +
          s"applying to ${withPendingDeletes.size} selected file(s) — the V2 path " +
          "reads raw data files; run applyDeletes/compact first or read " +
          "via SnapshotStore.read")
      val files = sel.map { f =>
        val p = new Path(root, f.path)
        // manifest byte stats make planning metadata-only; files from
        // pre-byte-stats manifests fall back to one driver stat each
        val bytes = if (f.bytes > 0) f.bytes else store.fsSizeBytes(s"$root/${f.path}")
        (p, bytes, f)
      }
      new SnapshotScan(spark, store, root, m, pruner, declared, required,
        supported, options, files, pinned = pinned)
  }
}

/** The store's V2 scan: delegates execution to Spark's vectorized
  * [[ParquetScan]] over the manifest-selected file set, and re-prunes
  * that set at EXECUTION time when a runtime filter (a broadcast
  * join's IN-set on the key) arrives — [[SupportsRuntimeV2Filtering]],
  * the fact-dim shape where planning-time literals don't exist yet.
  *
  * Also a [[SupportsReportStatistics]]: post-pruning size/row counts
  * come from manifest metadata (the SELECTED files' recorded bytes and
  * rows — zero I/O), so Catalyst's join planning sees the table the
  * way it sees a stats'd catalog table. Without this, a V2 relation
  * costs `spark.sql.defaultSizeInBytes` (effectively infinite) and a
  * 2 MB dim store on the build side of a 100 TB fact join would
  * NEVER auto-broadcast — the user would have to hint every join.
  * Bytes scale by `spark.sql.sources.fileCompressionFactor`, the same
  * uncompressed-estimate knob Spark's own FileScan applies.
  */
private[v2] final class SnapshotScan(@transient spark: SparkSession,
                                     @transient store: SnapshotStoreOps,
                                     val root: String,
                                     @transient m: Manifest,
                                     pruner: ManifestPruner,
                                     dataSchema: StructType,
                                     required: StructType,
                                     val pushed: Array[Filter],
                                     @transient options: CaseInsensitiveStringMap,
                                     @transient initial: Seq[(Path, Long, FileEntry)],
                                     val groupOp: Boolean = false,
                                     pinned: Boolean = false)
    extends Scan with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.graftshim.ScanMetadataShim {

  private val version = m.version
  private val mKeyCol: String = m.keyCol
  private val renames = m.renames

  @transient private var files: Seq[(Path, Long, FileEntry)] = initial

  /** `_file` metadata column requested? The parquet delegate reads the
    * DATA columns; a per-file reader wrapper appends the constant
    * path (Spark appends metadata columns after data columns, so
    * `_file` is last in the required schema by construction).
    */
  private val wantsFile: Boolean = required.fieldNames.contains("_file")
  private val dataRequired: StructType =
    StructType(required.fields.filterNot(_.name == "_file"))

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val compression =
      try spark.sessionState.conf.fileCompressionFactor catch {
        case scala.util.control.NonFatal(_) => 1.0
      }
    val bytes = math.ceil(files.map(_._2).sum * compression).toLong
    val rows = files.map(_._3.rows).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  /** Current (possibly runtime-narrowed) file set — the pruning
    * evidence [[SnapshotSource.scannedFiles]] reports.
    */
  def currentFiles: Seq[(Path, Long)] = files.map(f => (f._1, f._2))

  /** Manifest entries of the current file set — for a group-op scan
    * this IS the replaced-files set the row-level write commits
    * against (runtime group filtering narrows it before execution).
    */
  def currentEntries: Seq[FileEntry] = files.map(_._3)

  override def readSchema(): StructType = required

  override def description(): String =
    s"graft-snapshot `$root` v$version [${files.size} files, " +
      s"pushed: ${pushed.mkString(", ")}]"

  // the standard formatted-explain fields FileScans print — the
  // pruning evidence reads like any parquet scan's
  override def getMetaData(): Map[String, String] = Map(
    "Format" -> "graft-snapshot",
    "Location" -> s"$root@v$version",
    "ReadSchema" -> required.catalogString,
    "PushedFilters" -> pushed.mkString("[", ", ", "]"),
    "SelectedFiles" -> files.size.toString)

  /** Runtime-filterable attributes: the key for plain reads (a
    * broadcast join's IN-set prunes files by range/bloom), `_file`
    * for GROUP-OP scans (Spark's row-level runtime group filter
    * projects the matching rows' `_file` — narrowing here is exact
    * file identity, and every row of a kept file flows to the
    * rewrite).
    */
  override def filterAttributes(): Array[NamedReference] =
    if (groupOp) Array(Expressions.column("_file"))
    else Array(Expressions.column(mKeyCol))

  override def filter(predicates: Array[Predicate]): Unit = {
    val v1 = predicates
      .flatMap(org.apache.spark.sql.graftshim.PredicateShim.toV1(_))
    if (groupOp) {
      def str(v: Any): Option[String] = v match {
        case s: String => Some(s)
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
        case _ => None
      }
      val keep = v1.collect {
        case org.apache.spark.sql.sources.In("_file", vs) =>
          vs.flatMap(str).toSet
        case org.apache.spark.sql.sources.EqualTo("_file", v)
            if str(v).isDefined => Set(str(v).get)
      }
      if (keep.nonEmpty) {
        val wanted = keep.reduce(_ intersect _)
        files = files.filter(f => wanted.contains(f._3.path))
      }
    } else {
      val usable = v1.filter(f => pruner.usable(f))
      if (usable.nonEmpty)
        files = files.filter(f => usable.forall(pruner.mayMatch(f._3, _)))
    }
  }

  /** The table's bucket clustering, iff EVERY selected file carries a
    * `bucket(n,b)` layout spec with one shared n (a mixed-layout
    * version — e.g. range appends after a rebucket — reports no
    * clustering: correctness first, the next rebucket restores it)
    * and the key is BIGINT (the only type the bucket function binds).
    * Derived from the INITIAL planning-time selection so the reported
    * partitioning cannot drift under runtime file pruning.
    */
  private val bucketN: Option[Int] = {
    val longKey = dataSchema.fields
      .find(_.name == mKeyCol).map(_.dataType).contains(LongType)
    // files predating a rename read through per-era schemas — the
    // single-delegate bucket path (and its SPJ claim) requires the
    // head era only; the next rebucket rewrites everything current
    val headEraOnly = initial.forall(f =>
      !SnapshotStore.Renames.applies(renames, f._3.seq))
    if (longKey && headEraOnly)
      graft.functions.GraftBucket.uniformN(initial.map(_._3.layout))
    else None
  }

  /** Bucket ids present at planning time — the partition values the
    * physical plan is built around. Runtime pruning may empty a
    * bucket's file list but never removes the partition itself, so
    * the value set Spark grouped on stays stable.
    */
  private val plannedBuckets: Seq[Int] = bucketN match {
    case None => Nil
    case Some(n) => initial.map(_._3.layout
      .flatMap(graft.functions.GraftBucket.parseLayout).get._2)
      .distinct.sorted
  }

  /** STORAGE-PARTITIONED JOINS ([[SupportsReportPartitioning]]): a
    * bucketed store reports `KeyGroupedPartitioning(bucket(n, key))`,
    * so two stores rebucketed to the same n join with ZERO shuffle —
    * each task reads one bucket from each side (the Iceberg/Spark SPJ
    * design, `spark.sql.sources.v2.bucketing.enabled`). The transform
    * resolves against [[GraftCatalog]]'s FunctionCatalog, which is
    * why the join must address the tables by SQL name.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketN match {
      // a `_file`-projecting read plans per-file partitions, not
      // bucket groups — don't claim a clustering it won't deliver
      case Some(n) if !wantsFile =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(Expressions.bucket(n, mKeyCol)), plannedBuckets.size)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  /** Per-partition sort order ([[SupportsReportOrdering]]): every
    * commit path writes files sorted by the key, so a bucket group
    * holding exactly ONE file (the rebucket invariant) reads in key
    * order — reported here, a storage-partitioned join drops its
    * SortExec too: no shuffle AND no sort, each task merge-joins two
    * pre-sorted buckets straight off parquet. Multi-file groups
    * (post-append) concatenate sorted runs and must not claim order.
    */
  override def outputOrdering(): Array[org.apache.spark.sql.connector
      .expressions.SortOrder] =
    bucketN match {
      case Some(_) if !wantsFile &&
          initial.groupBy(_._3.layout).forall(_._2.size == 1) =>
        Array(Expressions.sort(Expressions.column(mKeyCol),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
          org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
      case _ => Array.empty
    }

  /** `spark.readStream.format("graft-snapshot")` — the appends-only
    * table tail; see [[SnapshotMicroBatchStream]]. The stream plans
    * its own per-version file sets from live manifests; this scan
    * contributes the planned projection and any pushed predicates
    * (appended files prune through the same [[ManifestPruner]] rules
    * before a micro-batch ever reads them).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    require(!wantsFile,
      "graft-snapshot streaming does not serve the _file metadata column")
    // covers path options (version/tag) AND catalog-table time travel
    // (VERSION AS OF / versionAsOf reader options set pinned too)
    require(!pinned && !groupOp,
      "a version/tag-pinned table is a static relation — stream the " +
        "table root (optionally with startVersion) instead")
    new SnapshotMicroBatchStream(store, root, dataSchema, dataRequired,
      pushed, options.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap,
      viewRenames = renames)
  }

  // toBatch is re-invoked by BatchScanExec AFTER runtime filtering, so
  // the parquet scan is built fresh over the CURRENT file set
  override def toBatch: Batch = {
    // Re-push to parquet ONLY filters whose referenced columns are in
    // the read schema. A fully-handled key conjunct drops its residual
    // (that's what enables aggregate pushdown), so the planner may
    // prune the KEY out of the projection — and parquet's row-group
    // statistics filter, evaluated against the REQUESTED schema,
    // treats the now-missing column as no-match and silently drops
    // every block (`SELECT n WHERE k` in a file-exact range returned
    // ZERO rows). Spark's own file sources never hit this because
    // they keep every parquet filter residual, which keeps its column
    // in the projection. File selection already applied these
    // predicates exactly, so dropping them at parquet level costs
    // only row-group skipping within already-matching files.
    val readCols = dataRequired.fieldNames.toSet
    val parquetFilters =
      pushed.filter(_.references.forall(readCols.contains))
    import SnapshotStore.Renames
    // RENAMED eras: files written before a rename store the column
    // under its old physical name. Each era reads through its own
    // ParquetScan whose schemas are the head schemas RE-LABELED to
    // that era's names (same positions and types, so the emitted
    // InternalRows are identical to head-era rows — a rename costs
    // nothing at execution). Pushed filters reference only the key
    // and zone-mapped columns, which never rename.
    def eraOf(fe: FileEntry): Int = Renames.eraOf(renames, fe.seq)
    val headEra = renames.size
    def scanFor(fls: Seq[(Path, Long, FileEntry)], era: Int) = {
      val seq = if (era == headEra) Long.MaxValue
                else fls.headOption.map(_._3.seq).getOrElse(Long.MaxValue)
      ParquetScan(spark,
        spark.sessionState.newHadoopConfWithOptions(options.asScala.toMap),
        new ManifestFileIndex(spark, new Path(root),
          fls.map(f => (f._1, f._2))),
        dataSchema = Renames.physicalSchema(dataSchema, renames, seq),
        readDataSchema = Renames.physicalSchema(dataRequired, renames, seq),
        readPartitionSchema = new StructType(),
        pushedFilters = parquetFilters,
        options = options)
    }
    def pf(p: Path, bytes: Long) =
      org.apache.spark.sql.execution.datasources.PartitionedFile(
        InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromPath(p),
        0L, bytes, Array.empty[String], 0L, bytes)
    if (wantsFile) {
      // `_file` projection: one partition per file, the wrapper
      // appends the constant manifest-relative path to each row
      // (reading through its era's reader factory)
      require(required.fields.last.name == "_file",
        s"metadata column _file must be last in ${required.toDDL}")
      val eras = files.map(f => eraOf(f._3)).distinct.sorted
      val eraIdx = eras.zipWithIndex.toMap
      val factories = eras.map { e =>
        scanFor(files.filter(f => eraOf(f._3) == e), e)
          .toBatch.createReaderFactory()
      }
      val parts = files.map { case (p, bytes, fe) =>
        FileIdentityPartition(fe.path, pf(p, bytes), eraIdx(eraOf(fe)))
      }
      new FileAppendBatch(parts, factories)
    } else bucketN match {
      case Some(_) =>
        // group whole files by bucket id — one InputPartition per
        // PLANNED bucket (stable partition values), reading through
        // Spark's own vectorized parquet reader factory. bucketN
        // already required the head era only.
        val byBucket = files.groupBy(f => f._3.layout
          .flatMap(graft.functions.GraftBucket.parseLayout).get._2)
        val parts = plannedBuckets.map { b =>
          val pfs = byBucket.getOrElse(b, Nil)
            .map { case (p, bytes, _) => pf(p, bytes) }
          BucketInputPartition(b, pfs.toArray)
        }
        new BucketedBatch(parts,
          scanFor(files, headEra).toBatch.createReaderFactory())
      case None =>
        val groups = files.groupBy(f => eraOf(f._3)).toSeq.sortBy(_._1)
        if (groups.size <= 1)
          scanFor(files, groups.headOption.map(_._1).getOrElse(headEra))
            .toBatch
        else new EraBatch(groups.map { case (e, fls) =>
          scanFor(fls, e).toBatch
        })
    }
  }

  // scan reuse equality: same table version, same projection, same
  // pushed predicates, same PLANNED FILE SET → interchangeable scans.
  // The planned paths matter since LIMIT/TopN pushdown: a truncated
  // scan (one file of v3) must never alias a full scan of v3 — the
  // (version, filters) pair no longer determines the file set. A
  // GROUP-OP scan is never interchangeable with anything: its
  // runtime-narrowed file set IS the row-level write's replaced-files
  // set, and aliasing it with a plain read scan of the same version
  // (e.g. the group-filter subquery's) would corrupt the commit.
  private val plannedPaths: Seq[String] = initial.map(_._3.path)

  override def equals(other: Any): Boolean = other match {
    case s: SnapshotScan =>
      if (groupOp || s.groupOp) this eq s
      else root == s.root && version == s.version &&
        required == s.readSchema() && pushed.toSeq == s.pushed.toSeq &&
        plannedPaths == s.plannedPaths
    case _ => false
  }

  override def hashCode(): Int =
    if (groupOp) System.identityHashCode(this)
    else (root, version, required, pushed.toSeq, plannedPaths).hashCode()
}

/** Driver-computed rows as a local scan — no data files, no tasks.
  * The one wrapper behind manifest-answered aggregates AND the SQL
  * metadata tables ([[MetaTable]]).
  */
private[v2] final case class GraftLocalScan(desc: String,
                                            schema: StructType,
                                            result: Array[InternalRow])
    extends LocalScan {
  override def rows(): Array[InternalRow] = result
  override def readSchema(): StructType = schema
  override def description(): String = desc
}

private[v2] object ManifestAggScan {
  /** A pushed-down aggregate answered from the manifest: the scan IS
    * the result row.
    */
  def apply(root: String, version: Long, schema: StructType,
            result: Array[InternalRow]): GraftLocalScan =
    GraftLocalScan(
      s"graft-snapshot `$root` v$version [manifest-answered aggregate]",
      schema, result)
}

/** One bucket of a bucketed store as an input partition: all of the
  * bucket's files read by one task, the bucket id exposed through
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] — what
  * Spark groups and aligns across the two sides of a
  * storage-partitioned join.
  */
private[v2] final case class BucketInputPartition(
    bucketId: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile])
    extends org.apache.spark.sql.connector.read.InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucketId))
}

/** Bucket-grouped batch: partitions are [[BucketInputPartition]]s,
  * rows come from Spark's own vectorized parquet reader — the
  * delegate factory only ever sees the [[org.apache.spark.sql
  * .execution.datasources.FilePartition]] shape it was built for.
  */
private[v2] final class BucketedBatch(
    parts: Seq[BucketInputPartition],
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends Batch {

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    parts.toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new BucketedReaderFactory(delegate)
}

private[v2] final class BucketedReaderFactory(
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  private def fp(p: org.apache.spark.sql.connector.read.InputPartition) =
    p match {
      case b: BucketInputPartition =>
        org.apache.spark.sql.execution.datasources.FilePartition(
          b.bucketId, b.files)
      case other => throw new IllegalStateException(
        s"BucketedReaderFactory got a non-bucket partition: $other")
    }

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    delegate.createReader(fp(p))

  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(fp(p))

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    delegate.supportColumnarReads(fp(p))
}

/** One data file of a `_file`-projecting read: the partition knows
  * its manifest-relative path (the reader appends it to every row)
  * and its rename-era index into the factory list.
  */
private[v2] final case class FileIdentityPartition(
    relPath: String,
    file: org.apache.spark.sql.execution.datasources.PartitionedFile,
    era: Int = 0)
    extends org.apache.spark.sql.connector.read.InputPartition

/** Per-file batch for reads that project the `_file` metadata column:
  * rows come from Spark's parquet reader over the data columns, the
  * wrapper appends the file's constant path as the LAST field.
  * Row-based (the constant column would need a fabricated vector in
  * columnar mode — `_file` reads are DML group scans and point
  * audits, not the hot analytics path).
  */
private[v2] final class FileAppendBatch(
    parts: Seq[FileIdentityPartition],
    delegates: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory])
    extends Batch {

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    parts.toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new FileAppendReaderFactory(delegates)
}

private[v2] final class FileAppendReaderFactory(
    delegates: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean = false

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    p match {
      case fp: FileIdentityPartition =>
        val inner = delegates(fp.era).createReader(
          org.apache.spark.sql.execution.datasources.FilePartition(
            0, Array(fp.file)))
        new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
          private val tail = new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(fp.relPath)))
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          override def next(): Boolean = inner.next()
          override def get(): InternalRow = joined(inner.get(), tail)
          override def close(): Unit = inner.close()
        }
      case other => throw new IllegalStateException(
        s"FileAppendReaderFactory got a non-file partition: $other")
    }
}

/** Era-split batch for reads whose file set spans a column RENAME:
  * each era is a complete [[Batch]] (its own ParquetScan under that
  * era's physical names), partitions are tagged with their era and
  * the factory dispatches. Positions and types are era-invariant, so
  * rows from every era share one internal layout.
  */
private[v2] final case class EraPartition(
    era: Int,
    inner: org.apache.spark.sql.connector.read.InputPartition)
    extends org.apache.spark.sql.connector.read.InputPartition

private[v2] final class EraBatch(batches: Seq[Batch]) extends Batch {

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    batches.zipWithIndex.flatMap { case (b, i) =>
      b.planInputPartitions().map(EraPartition(i, _))
    }.toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    new EraReaderFactory(batches.map(_.createReaderFactory()))
}

private[v2] final class EraReaderFactory(
    delegates: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  private def of(p: org.apache.spark.sql.connector.read.InputPartition) =
    p match {
      case EraPartition(i, inner) => (delegates(i), inner)
      case other => throw new IllegalStateException(
        s"EraReaderFactory got a non-era partition: $other")
    }

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val (d, inner) = of(p)
    d.createReader(inner)
  }

  override def createColumnarReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val (d, inner) = of(p)
    d.createColumnarReader(inner)
  }

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean = {
    val (d, inner) = of(p)
    d.supportColumnarReads(inner)
  }
}

/** A [[PartitioningAwareFileIndex]] served straight from manifest
  * entries: no directory listing, no stat RPCs — `FileStatus`es are
  * fabricated from (path, bytes). Split planning only needs length;
  * mtime is irrelevant to a batch read of immutable files.
  */
private[v2] final class ManifestFileIndex(spark: SparkSession, root: Path,
                                          files: Seq[(Path, Long)])
    extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  // allFiles() resolves rootPaths against leafDirToChildrenFiles/
  // leafFiles by QUALIFIED path equality — qualify once here (a
  // string operation against the scheme's FileSystem, not a stat)
  private val statuses: Seq[FileStatus] = {
    val hconf = spark.sessionState.newHadoopConf()
    files.map { case (p, bytes) =>
      val qualified = p.getFileSystem(hconf).makeQualified(p)
      new FileStatus(bytes, false, 1, 134217728L, 0L, qualified)
    }
  }

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  // vals: planning consults these repeatedly (allFiles, sizeInBytes,
  // listings) — rebuilding the maps per call is pure waste on a
  // 100 k-entry manifest
  override protected val leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] =
    scala.collection.mutable.LinkedHashMap(
      statuses.map(s => s.getPath -> s): _*)

  override protected val leafDirToChildrenFiles
      : Map[Path, Array[FileStatus]] =
    statuses.groupBy(_.getPath.getParent).view.mapValues(_.toArray).toMap

  // the selected files' parent dirs: allFiles() flatMaps these through
  // leafDirToChildrenFiles, so every fabricated status is served
  override def rootPaths: Seq[Path] =
    statuses.map(_.getPath.getParent).distinct

  override def refresh(): Unit = ()
}

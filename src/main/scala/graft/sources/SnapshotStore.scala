package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Manifest-based snapshot store: time travel, atomic commits, and
  * key-range file skipping — the table-format pattern the lakehouse
  * engines (Iceberg, Delta — public designs) put under 100 TB tables,
  * re-expressed minimally over plain parquet:
  *
  *   <root>/data/<uuid>-<i>.parquet   immutable data files
  *   <root>/deletes/<uuid>.parquet    merge-on-read DELETE files
  *                                    (key sets; Iceberg v2 pattern)
  *   <root>/refs/<name>.json          TAGS — named pinned versions
  *                                    vacuum retains
  *   <root>/manifests/v<N>.json       one manifest per VERSION: the
  *                                    segment list + schema + deletes
  *   <root>/manifests/seg-<u>.json    immutable manifest SEGMENTS
  *                                    (file entries + per-file stats;
  *                                    unchanged segments carry across
  *                                    versions by reference, so
  *                                    commit metadata I/O is O(delta))
  *
  * Invariants that carry the scale story:
  *   - Data files are IMMUTABLE and commits write them before the
  *     manifest, which lands via temp + ATOMIC_MOVE — a reader never
  *     observes a partial commit, a crashed writer leaves only orphan
  *     data files that [[vacuum]] collects.
  *   - Every manifest entry carries (minKey, maxKey, rows) computed in
  *     ONE metadata-column scan of the new files, so [[merge]],
  *     [[deleteRange]] and [[scanKeyRange]] touch only files whose key
  *     range overlaps the operation — at a 100 TB table the rewrite
  *     set is the overlap, not the table. Files FULLY inside a deleted
  *     range drop manifest-only: no read, no write.
  *   - Commits range-partition new data by the key
  *     (`repartitionByRange` + in-file sort), which is what keeps
  *     per-file ranges tight and the skipping sharp.
  *   - Old versions stay readable ([[readAsOf]]) until [[vacuum]]
  *     drops their manifests — time travel is a directory listing.
  *
  * Concurrency: OPTIMISTIC, the public Iceberg/Delta protocol.
  * Every commit lands its manifest through an atomic CREATE
  * ([[tryWriteManifest]]) that fails — never clobbers — if another
  * writer claimed the version number first, so a lost race is a loud
  * `ConcurrentModificationException`, not a lost commit. The staged
  * surface resolves conflicts: [[publish]] re-reads the live version,
  * REBASES append-only stages onto it (their files are valid against
  * any later state) and REFUSES rewriting stages (their rewrite set
  * is stale — re-stage against the new current). Maintenance
  * ([[vacuum]]) is safe to overlap in-flight writers: the loose-
  * orphan sweep is age-gated (`orphanTtlMs`), so a commit's files
  * sitting in their move→CAS window are never collected — only
  * genuinely old (crashed-commit) orphans go.
  *
  * The key is a LONG column — the engine's store keys (doc ids,
  * station ids, epoch micros) are all integral. Composite keys
  * (e.g. (statid, tfrom)) pack via [[graft.functions.CompositeKey]].
  *
  * I/O substrate: every metadata/protocol operation routes through
  * the [[StoreFs]] seam. `object SnapshotStore` is the store over
  * [[NioStoreFs]] (local paths, bit-identical to the historical
  * behavior); `new SnapshotStoreOps(new HadoopStoreFs(conf))` runs
  * the same store over any `org.apache.hadoop.fs.FileSystem`. Bulk
  * parquet bytes always go through Spark's own IO against the same
  * path strings. See [[StoreFs]] for what the commit protocol
  * demands of a substrate (atomic rename, create-if-absent CAS) and
  * the object-store (catalog CAS) deployment story.
  */
object SnapshotStore extends SnapshotStoreOps(NioStoreFs) {

  /** `stats`: per-column ZONE MAPS (min, max as longs) for the
    * table's declared `statsCols` — the Iceberg/Delta column-stats
    * role. A column absent from a file's map (e.g. all-null there)
    * never skips that file.
    *
    * `seq`: the version whose commit WROTE this file (0 for files
    * from manifests that predate sequence tracking) — the ordering
    * that scopes merge-on-read deletes: a [[DeleteEntry]] applies to
    * a data file iff the delete's `seq` is STRICTLY newer, so a key
    * re-inserted after its deletion (new file, higher seq) is never
    * shadowed by the older delete. The public Iceberg v2 sequence-
    * number rule.
    *
    * `bloom`: optional per-file KEY bloom filter (base64 of the
    * m-bit array [[graft.functions.KeyBloomAgg]] builds in the same
    * stats scan) — the parquet-column-bloom/puffin role: point
    * lookups of SCATTERED keys prune files whose range contains a
    * key but whose bloom provably doesn't (see
    * [[SnapshotStoreOps.lookupKeys]]). Base64 string (not bytes) so
    * case-class equality — which segment reuse depends on — stays
    * structural.
    *
    * `bytes`: on-disk file size, recorded at commit time (one
    * metadata stat per new file) — what BYTE-sized maintenance
    * ([[SnapshotStoreOps.compactBytes]]) decides from: rows are a
    * poor size proxy when row widths vary 1000× (a JPEG next to a
    * caption). 0 for entries from manifests that predate byte
    * tracking — unknown size never triggers a rewrite.
    *
    * `layout`: the file's PHYSICAL layout spec — the partition-spec-
    * evolution shape (Iceberg spec ids) in miniature. None = range-
    * clustered by key, the layout every normal commit writes; an
    * evolved layout (z-order) stamps its descriptor, so one version
    * can hold MIXED layouts and compaction can evolve layout
    * per-file. Purely descriptive for pruning correctness: every
    * pruning decision reads the per-file stats (minKey/maxKey, zone
    * maps, blooms), which are recorded identically under every
    * layout — the spec records WHICH pruning will be tight.
    */
  final case class FileEntry(path: String, minKey: Long, maxKey: Long,
                             rows: Long,
                             stats: Map[String, (Long, Long)] = Map.empty,
                             seq: Long = 0L,
                             bloom: Option[String] = None,
                             bytes: Long = 0L,
                             layout: Option[String] = None)

  /** A MERGE-ON-READ equality-delete file (the Iceberg v2 pattern):
    * a parquet of DISTINCT key values under `<root>/deletes/`, plus
    * the same (min, max, rows) metadata data files carry. Committing
    * one is key-count-sized I/O regardless of table size; readers
    * anti-join it against only the data files it can apply to
    * (seq < delete seq AND key ranges overlap) — everything else
    * reads untouched, and [[compact]]/[[applyDeletes]] materialize
    * and drop it.
    */
  final case class DeleteEntry(path: String, minKey: Long, maxKey: Long,
                               rows: Long, seq: Long)
  /** An immutable MANIFEST SEGMENT: a `manifests/seg-<uuid>.json`
    * file holding a slice of the table's file entries. The version
    * file lists segment paths instead of inlining every entry (the
    * Iceberg manifest-list idea), so COMMIT METADATA I/O IS O(delta):
    * an append to a 100 TB table with 100 k files re-writes one
    * batch-sized segment plus a segment-path list — not a 100 k-entry
    * JSON. Segments whose entries all survive into the next version
    * carry by REFERENCE (validated by exact entry equality at write
    * time, so a re-sequenced or rewritten file can never alias a
    * stale segment).
    */
  final case class Segment(path: String, entries: Vector[FileEntry])

  /** One RENAME COLUMN event: at commit `v` the column physically
    * named `from` in older files became `to` in the declared schema
    * (and in files written from `v` on). The manifest carries the
    * APPEND-ONLY log of these — what lets a rename be metadata-only:
    * readers translate the declared name to each file's physical name
    * by the file's seq (see [[Renames]]), the Iceberg field-id idea
    * expressed as a name-history instead of ids.
    */
  final case class Rename(v: Long, from: String, to: String)

  /** `schemaDdl`: the DECLARED read schema of this version (Spark DDL
    * text) — what makes SCHEMA EVOLUTION a metadata operation: an
    * [[addColumn]]/[[dropColumn]] commits a new manifest with the new
    * schema and ZERO data files touched. Reads apply the version's
    * declared schema, so a column added later reads as NULL from
    * pre-evolution files (parquet explicit-schema semantics) and old
    * versions keep time-traveling with THEIR schema.
    *
    * `bloomBits`: the table's per-file key-bloom width (0 = blooms
    * off, the default — every pre-bloom manifest reads as 0). A
    * table property, not per-commit: every commit path carries it so
    * rewrites keep building filters. Sizing guidance: ~10–16 bits
    * per expected row per file → ~1 %–0.2 % false-positive rate at
    * k = 4; the filter lives in the manifest segment, so budget it
    * against metadata size (a real deployment side-files large
    * blooms, the Iceberg puffin shape).
    *
    * `txn`: an optional "appId:batchId" idempotence marker on THIS
    * commit (the Delta txn-action idea) — set only by the commit
    * that applied that batch, deliberately NOT carried to later
    * versions: [[SnapshotStoreOps.appendOnce]] scans retained
    * manifests for it, so a redelivered micro-batch lands exactly
    * once within the retention window.
    */
  final case class Manifest(version: Long, keyCol: String,
                            files: Vector[FileEntry],
                            statsCols: Vector[String] = Vector.empty,
                            schemaDdl: Option[String] = None,
                            deletes: Vector[DeleteEntry] = Vector.empty,
                            segs: Vector[Segment] = Vector.empty,
                            bloomBits: Int = 0,
                            txn: Option[String] = None,
                            renames: Vector[Rename] = Vector.empty,
                            props: Map[String, String] = Map.empty) {
    def schema: Option[org.apache.spark.sql.types.StructType] =
      schemaDdl.map(org.apache.spark.sql.types.StructType.fromDDL)
  }

  /** Declared-name ↔ physical-name translation over the rename log.
    * A file written at seq `s` saw the first `count(v <= s)` renames
    * applied; mapping the HEAD name to that file's physical name
    * undoes the later renames in reverse order.
    */
  object Renames {
    /** Files sharing an era share a physical naming — the grouping
      * key era-split reads use.
      */
    def eraOf(renames: Vector[Rename], seq: Long): Int =
      renames.count(_.v <= seq)

    /** HEAD declared name → physical name in a file written at `seq`. */
    def physicalName(renames: Vector[Rename], seq: Long,
                     headName: String): String =
      renames.reverseIterator.filter(_.v > seq)
        .foldLeft(headName)((n, r) => if (n == r.to) r.from else n)

    /** Translate a column's name between two points of the log: what
      * the column spelled `name` as of `fromSeq` is called as of
      * `toSeq` (forward applies renames, backward undoes them) — the
      * general form CDC uses to map a stream view's slot to each
      * file's physical name.
      */
    def translate(renames: Vector[Rename], name: String,
                  fromSeq: Long, toSeq: Long): String =
      if (toSeq >= fromSeq)
        renames.iterator.filter(r => r.v > fromSeq && r.v <= toSeq)
          .foldLeft(name)((n, r) => if (n == r.from) r.to else n)
      else
        renames.reverseIterator.filter(r => r.v > toSeq && r.v <= fromSeq)
          .foldLeft(name)((n, r) => if (n == r.to) r.from else n)

    /** The head schema re-labeled with era-`seq` physical names —
      * positions and types unchanged, so rows read under it are
      * internally identical to head-schema rows.
      */
    def physicalSchema(declared: org.apache.spark.sql.types.StructType,
                       renames: Vector[Rename], seq: Long)
        : org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(declared.fields.map(f =>
        f.copy(name = physicalName(renames, seq, f.name))))

    /** Do any of the log's renames change how a file at `seq` spells
      * the head columns? (False ⇒ the file reads under the head
      * schema verbatim.)
      */
    def applies(renames: Vector[Rename], seq: Long): Boolean =
      eraOf(renames, seq) != renames.size
  }

  /** A prepared-but-unpublished commit: the data files exist on disk
    * (immutable, invisible — no manifest references them yet), the
    * manifest is held here. [[SnapshotStoreOps.publish]] lands it
    * atomically; [[SnapshotStoreOps.abort]] deletes exactly the
    * staged new files. The write–audit–publish handle (the public
    * Iceberg WAP workflow): stage a batch, run the audit battery
    * against [[SnapshotStoreOps.readStaged]], and only a passing
    * batch ever becomes a version — a failing one leaves the store
    * bit-identical with zero orphans.
    *
    * Staged files live under `data/.staged-<uuid>/`, NOT loose in
    * `data/` — vacuum collects loose unreferenced files as
    * crashed-commit orphans, and a maintenance vacuum running inside
    * an open audit window must not eat the pending commit (it skips
    * staging directories). Publish moves them into `data/` (same
    * filesystem, atomic per file) and lands the manifest with the
    * final paths; the held manifest references the staging paths so
    * readStaged audits the real bytes.
    *
    * `baseVersion` is the table version the stage was computed
    * against; `appendOnly` records whether it only ADDS files (every
    * base file carries by reference, none rewritten or dropped) —
    * the property that makes an optimistic-concurrency REBASE sound
    * (see [[SnapshotStoreOps.publish]]).
    */
  final case class Staged(manifest: Manifest, newFiles: Vector[String],
                          baseVersion: Long, appendOnly: Boolean)
}

/** Every [[SnapshotStore]] operation, over an arbitrary [[StoreFs]]
  * substrate — `object SnapshotStore` is this class over
  * [[NioStoreFs]]. Path arithmetic is plain "/" string concatenation
  * on `root`, so the same code runs a store at `/data/t`,
  * `file:/data/t` or `hdfs://nn/warehouse/t` (give Spark and the
  * substrate the same string).
  */
class SnapshotStoreOps(protected val fs: StoreFs) {
  import SnapshotStore.{DeleteEntry, FileEntry, Manifest, Rename, Renames, Segment, Staged}

  /** The delete entries that can affect `f`: committed AFTER the file
    * (seq strictly newer) with overlapping key range. Everything else
    * provably misses — the manifest-only check that keeps merge-on-
    * read scans reading most files with zero delete overhead.
    */
  private[sources] def applicableDeletes(m: Manifest, f: FileEntry): Vector[DeleteEntry] =
    m.deletes.filter(d => d.seq > f.seq &&
      d.minKey <= f.maxKey && f.minKey <= d.maxKey)

  /** Drop delete entries no remaining data file is subject to — a
    * metadata-only cleanup every file-rewriting commit runs, so
    * materialized deletes don't linger in the manifest.
    */
  private def pruneDeletes(files: Vector[FileEntry],
                           deletes: Vector[DeleteEntry]): Vector[DeleteEntry] =
    deletes.filter(d => files.exists(f => d.seq > f.seq &&
      d.minKey <= f.maxKey && f.minKey <= d.maxKey))

  /** Create version 0 from `df`. `statsCols` declares secondary
    * long-castable columns to carry zone maps for — every later
    * commit maintains them, and [[scanStatsRange]] skips by them.
    */
  def init(spark: SparkSession, df: DataFrame, root: String,
           keyCol: String, filesPerCommit: Int = 4,
           statsCols: Seq[String] = Nil, bloomBits: Int = 0,
           props: Map[String, String] = Map.empty): Manifest = {
    require(bloomBits == 0 || (bloomBits >= 8 && bloomBits % 8 == 0),
      s"bloomBits must be 0 (off) or a positive multiple of 8, got $bloomBits")
    validateProps(props) // same gate as setProperties — see its doc
    fs.mkdirs(s"$root/data")
    fs.mkdirs(s"$root/manifests")
    commit(spark, df, root, keyCol, carry = Vector.empty, version = 0L,
      filesPerCommit, statsCols.toVector, Some(df.schema.toDDL),
      bloomBits = bloomBits, props = props)
  }

  /** Append-only commit: all current files carry forward by REFERENCE
    * (nothing is read or rewritten), plus new files for `df`.
    */
  def append(spark: SparkSession, df: DataFrame, root: String,
             filesPerCommit: Int = 4): Manifest = {
    val cur = currentManifest(root)
    commit(spark, df, root, cur.keyCol, carry = cur.files,
      version = cur.version + 1, filesPerCommit, cur.statsCols,
      cur.schemaDdl, deletes = cur.deletes, segs = cur.segs,
      bloomBits = cur.bloomBits, renames = cur.renames, props = cur.props)
  }

  /** TABLE PROPERTIES (the Iceberg/Delta TBLPROPERTIES surface):
    * string key→value pairs carried by the MANIFEST — durable,
    * versioned with the table (time travel sees a version's own
    * properties), landed as a metadata-only commit through the same
    * CAS every commit takes. What reads them: the V2 row-level path's
    * `update.mode` (copy-on-write | merge-on-read | auto) and its
    * `update.auto.bytes` threshold; unknown keys carry inert (the
    * user-metadata convention). Keys and values must stay out of the
    * manifest's structural characters — validated here, once.
    */
  def setProperties(root: String, kvs: Map[String, String]): Manifest = {
    require(kvs.nonEmpty, "no properties to set")
    validateProps(kvs)
    val cur = currentManifest(root)
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, cur.schemaDdl, cur.deletes, cur.segs, cur.bloomBits,
      renames = cur.renames, props = cur.props ++ kvs))
  }

  /** The ONE property gate — every path that lands props in a
    * manifest ([[setProperties]], [[init]]'s create-time map) runs
    * it, so no surface can smuggle parser-hostile bytes or a poison
    * value past the others. Three layers: structural characters (the
    * dependency-free manifest parse is a flat regex — quotes, braces,
    * brackets and commas would corrupt it), RESERVED key names (the
    * parse regexes match the whole version file, so a property named
    * like a manifest field — 'txn' would make publishOnce treat every
    * version as an applied epoch marker — must refuse), and the two
    * keys the engine READS, whose values must parse when consulted
    * ('update.mode', 'update.auto.bytes' — a typo'd durable value
    * would otherwise fail every later statement with a raw parse
    * error naming neither the key nor the table).
    */
  private[sources] def validateProps(kvs: Map[String, String]): Unit = {
    // ISO control characters (newline, CR, NUL, DEL) are rejected with
    // the structural set: the internal regex parser happens to survive
    // them, but they embed RAW into the version-file JSON, making every
    // manifest invalid JSON to external tooling
    val bad = (kvs.keys ++ kvs.values).filterNot(
      _.matches("""[^"\\{}\[\],\x00-\x1f\x7f]*"""))
    require(bad.isEmpty && kvs.keys.forall(_.nonEmpty),
      s"property keys/values must avoid quotes, braces, brackets, " +
        s"commas and control characters; got: ${bad.mkString(", ")}")
    val reserved = kvs.keys.filter(ReservedPropKeys)
    require(reserved.isEmpty,
      s"property key(s) ${reserved.mkString(", ")} collide with " +
        "manifest field names — the version-file parse would read them " +
        "as the manifest's own fields; pick namespaced keys")
    kvs.get("update.mode").foreach(v => require(
      Set("copy-on-write", "merge-on-read", "auto")(v),
      s"update.mode '$v' — copy-on-write, merge-on-read, or auto"))
    kvs.get("update.auto.bytes").foreach(v => require(
      v.toLongOption.exists(_ > 0),
      s"update.auto.bytes must be a positive byte count, got '$v'"))
  }

  /** Manifest/entry field names the flat version-file parse matches
    * anywhere in the JSON — forbidden as property keys.
    */
  private val ReservedPropKeys: Set[String] = Set(
    "version", "keyCol", "files", "statsCols", "schemaDdl", "deletes",
    "segments", "bloomBits", "txn", "renames", "props",
    "path", "minKey", "maxKey", "rows", "seq", "bytes", "stats",
    "bloom", "layout", "v", "from", "to")

  /** Drop properties (absent keys are a no-op) — metadata-only. */
  def unsetProperties(root: String, keys: Seq[String]): Manifest = {
    val cur = currentManifest(root)
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, cur.schemaDdl, cur.deletes, cur.segs, cur.bloomBits,
      renames = cur.renames, props = cur.props -- keys))
  }

  /** SCHEMA EVOLUTION, add: a new version whose declared schema gains
    * nullable `name` of `typeDdl` (e.g. "STRING", "BIGINT") — pure
    * metadata, zero files read or written. Existing files simply have
    * no such column and read as NULL; future commits may populate it.
    */
  def addColumn(root: String, name: String, typeDdl: String): Manifest = {
    val cur = currentManifest(root)
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — cannot evolve"))
    require(!schema.fieldNames.contains(name),
      s"column '$name' already exists")
    require(!cur.renames.exists(r => r.from == name || r.to == name),
      s"'$name' appears in the rename history — a reborn column of " +
        "that name would translate back through the log and silently " +
        "serve OLD files' values instead of NULL; pick a fresh name")
    val dt = org.apache.spark.sql.types.StructType
      .fromDDL(s"`$name` $typeDdl").head.dataType
    val next = schema.add(name, dt, nullable = true)
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, Some(next.toDDL), cur.deletes, cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props))
  }

  /** SCHEMA EVOLUTION, drop: a new version whose declared schema no
    * longer includes `name` — pure metadata; the bytes stay in place
    * (older versions still read them) but this and future versions
    * stop projecting the column. The key and zone-map columns are
    * structural and refuse to drop.
    */
  def dropColumn(root: String, name: String): Manifest = {
    val cur = currentManifest(root)
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — cannot evolve"))
    require(schema.fieldNames.contains(name), s"no column '$name'")
    require(name != cur.keyCol, s"cannot drop the key column '$name'")
    require(!cur.statsCols.contains(name),
      s"cannot drop zone-mapped column '$name' (drop its stats first)")
    val next = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, Some(next.toDDL), cur.deletes, cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props))
  }

  /** SCHEMA EVOLUTION, rename: pure metadata — the declared schema
    * re-labels `from` as `to`, and the manifest's rename LOG records
    * the event so readers translate the declared name back to each
    * file's physical name by its seq (files written before this
    * commit store the column as `from`, files after as `to`; see
    * [[SnapshotStore.Renames]] — the Iceberg field-id contract as a
    * name history). Zero files touched.
    *
    * Structural refusals: the key column (delete files and merge
    * batches address it by name across versions) and zone-mapped
    * columns (per-file stats are keyed by name) don't rename. A
    * RETIRED name — any historical `from` — can never be reused by a
    * later add/rename: old files still store data under it, and a
    * reborn column of the same name would silently read THEIR values.
    */
  def renameColumn(root: String, from: String, to: String): Manifest = {
    val cur = currentManifest(root)
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — cannot evolve"))
    require(schema.fieldNames.contains(from), s"no column '$from'")
    require(!schema.fieldNames.contains(to), s"column '$to' already exists")
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"bad column name '$to' (letters, digits, '_')")
    require(from != cur.keyCol,
      s"cannot rename the key column '$from' (delete files and merge " +
        "batches address it by name across versions)")
    require(!cur.statsCols.contains(from),
      s"cannot rename zone-mapped column '$from' (its per-file stats " +
        "are keyed by name)")
    require(!cur.renames.exists(_.from == to),
      s"'$to' is retired by an earlier rename — old files still store " +
        "data under it; pick a fresh name")
    val next = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    val v = cur.version + 1
    writeManifest(root, Manifest(v, cur.keyCol, cur.files, cur.statsCols,
      Some(next.toDDL), cur.deletes, cur.segs, cur.bloomBits,
      renames = cur.renames :+ Rename(v, from, to), props = cur.props))
  }

  /** The lossless widenings the parquet readers serve natively
    * (Spark 4's widening type promotions, probed against THIS build):
    * integral upcasts, FLOAT→DOUBLE, DECIMAL growth that loses no
    * digit on either side of the point (precision-minus-scale and
    * scale both non-decreasing — the readers up-convert across the
    * INT32/INT64/BINARY physical representations), and
    * DATE→TIMESTAMP_NTZ (midnight, no zone reinterpretation —
    * DATE→TIMESTAMP with local zone is NOT served and refuses).
    * Everything else refuses — a narrowing or a repr-changing
    * promotion would need a rewrite. ONE table: [[widenColumn]]'s
    * gate and the snapshot stream's type guard both consult it, so
    * the two can never drift.
    */
  private[sources] def canWiden(a: org.apache.spark.sql.types.DataType,
                                b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (a, b) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (x: DecimalType, y: DecimalType) =>
        y.precision - y.scale >= x.precision - x.scale &&
          y.scale >= x.scale && (y.precision > x.precision ||
          y.scale > x.scale)
      case (DateType, TimestampNTZType) => true
      case _ => false
    }
  }

  /** SCHEMA EVOLUTION, widen: the declared type of `name` grows to
    * `typeDdl` — pure metadata. Old files keep their narrower
    * physical encoding; Spark's parquet readers (vectorized and
    * parquet-mr both) up-convert at read, and new commits write the
    * wide type. Works for the key and zone-mapped columns too: their
    * manifest stats were always held as longs.
    */
  def widenColumn(root: String, name: String, typeDdl: String): Manifest = {
    val cur = currentManifest(root)
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — cannot evolve"))
    require(schema.fieldNames.contains(name), s"no column '$name'")
    val to = org.apache.spark.sql.types.StructType
      .fromDDL(s"`$name` $typeDdl").head.dataType
    val from = schema(name).dataType
    require(canWiden(from, to),
      s"cannot widen ${from.sql} -> ${to.sql}: only the lossless " +
        "parquet-served widenings (TINYINT/SMALLINT/INT -> BIGINT, " +
        "FLOAT -> DOUBLE, DECIMAL digit growth, DATE -> " +
        "TIMESTAMP_NTZ) are metadata-only; anything else needs a " +
        "rewrite")
    val next = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == name) f.copy(dataType = to) else f))
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, Some(next.toDDL), cur.deletes, cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props))
  }

  /** CLUSTERING-SPEC EVOLUTION (the Iceberg partition-spec-evolution
    * idiom applied to zone maps and sort order): re-key which columns
    * carry per-file stats — and which column the table's declared
    * z-order interleaves — as a METADATA-ONLY commit. Files written
    * BEFORE the evolution are grandfathered: they keep their existing
    * stats entries (per-file, keyed by name) and simply have NO entry
    * for a newly-declared column, which every pruning path already
    * reads conservatively (`stats.get(c).forall(...)` — an absent
    * zone map can never skip a file). Files written AFTER record
    * stats for the new set through the ordinary commit scan, so new
    * data prunes on the new keys immediately; [[rewriteWhere]]
    * backfills old key ranges incrementally — the 100 TB re-layout
    * path that never needs a full-table rewrite.
    *
    * `zorderCol` (persisted as the 'cluster.zorder' table property)
    * declares the DEFAULT secondary dimension [[rewriteWhere]] and
    * maintenance re-clustering interleave with the key; None clears
    * it (range-by-key layout).
    *
    * Governance note: a column REMOVED from statsCols becomes
    * droppable and renamable again ([[dropColumn]]/[[renameColumn]]
    * refuse only CURRENT stats columns). A long-running snapshot
    * stream holding pushed filters on it across a later rename is
    * protected by the stream's filter guard (pushed references must
    * be rename-untouched), which turns that corner into a loud
    * restart instead of a silent mis-filter.
    */
  def setClusterSpec(root: String, statsCols: Seq[String],
                     zorderCol: Option[String] = None): Manifest = {
    val cur = currentManifest(root)
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — cannot evolve"))
    val cols = statsCols.toVector
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"stats column '$c' not in the table schema"))
    // zone maps hold LONG envelopes: only integral columns are SOUND
    // (a truncated float/string envelope could wrongly skip a file —
    // value 5.9 recorded as [5,5] prunes a [5.5, 6] probe), and a
    // non-castable column would wedge every later commit's stats scan
    // with a raw ANSI cast error naming neither this call nor the
    // column. Validated HERE, at declaration — the file's
    // validate-at-set rule.
    cols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = schema(c).dataType
      require(dt == LongType || dt == IntegerType || dt == ShortType ||
          dt == ByteType,
        s"stats column '$c' is ${dt.sql} — zone maps hold long " +
          "envelopes, so only integral columns can be declared " +
          "(non-integral envelopes would truncate and wrongly prune)")
    }
    require(!cols.contains(cur.keyCol),
      s"the key column '${cur.keyCol}' always carries min/max stats — " +
        "declare only secondary columns")
    require(cols.distinct == cols, s"duplicate stats columns: " +
      cols.diff(cols.distinct).mkString(", "))
    zorderCol.foreach(z => require(cols.contains(z),
      s"z-order column '$z' must be in the declared stats columns " +
        s"(${cols.mkString(", ")}) — its zone maps are what the " +
        "interleave tightens"))
    val props = zorderCol match {
      case Some(z) => cur.props + ("cluster.zorder" -> z)
      case None => cur.props - "cluster.zorder"
    }
    writeManifest(root, Manifest(cur.version + 1, cur.keyCol, cur.files,
      cols, cur.schemaDdl, cur.deletes, cur.segs, cur.bloomBits,
      renames = cur.renames, props = props))
  }

  /** Stage a keyed MERGE without publishing (see
    * [[SnapshotStore.Staged]]). Same
    * file-hit-bounded rewrite as [[merge]]. Single-writer discipline:
    * publishing after an intervening commit to the same root is the
    * caller's race to avoid (as with concurrent commits generally).
    */
  def stageMerge(spark: SparkSession, batch: DataFrame, root: String,
                 filesPerCommit: Int = 4): Staged = {
    val cur = currentManifest(root)
    val b = cur.schema.map(conform(batch, _)).getOrElse(batch)
    // the shared upsert scaffold (file-hit detection, delete-aware
    // rewrite, carry-by-reference, never-appendOnly OCC contract) —
    // one home with stageApplyChanges; see [[stageUpsert]]
    stageUpsert(spark, root, cur, b.select(col(cur.keyCol).as("__bk")),
      b, filesPerCommit)
  }

  /** IDEMPOTENT APPEND — the exactly-once streaming-sink contract
    * (the public Delta `txn` appId/version idea): `(appId, batchId)`
    * identifies the batch, and the commit that applies it carries
    * the marker in its manifest. A REDELIVERY (foreachBatch re-runs
    * a micro-batch after a failure; a whole stream restarted without
    * its checkpoint replays every batch with the same ids) finds the
    * marker among the retained manifests and becomes a no-op —
    * including under RACES: a concurrent retry that loses the
    * version CAS re-checks on its next pass, cleans up its own
    * unreferenced files, and returns the winner's table. Appends
    * rebase across unrelated interleaved commits exactly like
    * [[publish]].
    *
    * The idempotence WINDOW is vacuum retention: markers live on
    * their manifests, so once retention drops the applying version a
    * replay of that ancient batch would re-append (the same
    * retention caveat Delta documents for txn actions) — keep
    * `keepLast` above the longest plausible redelivery horizon.
    */
  def appendOnce(spark: SparkSession, df: DataFrame, root: String,
                 appId: String, batchId: Long,
                 filesPerCommit: Int = 4): Manifest = {
    requireAppId(appId)
    // pre-stage fast path: a marker hit skips the (expensive) staging
    // write entirely — publishOnce re-checks after staging anyway: a
    // racer landing between this check and the stage gives the stage
    // a base that already CONTAINS the batch, and publishWith's
    // moved-past-base re-check would never fire (the base looks
    // current). From there every winning path is covered: same-
    // version CAS contention has one winner, and any later-observed
    // commit triggers the in-loop re-check.
    if (txnSeen(root, txnTag(appId, batchId))) return currentManifest(root)
    publishOnce(root, stageAppend(spark, df, root, filesPerCommit),
      appId, batchId)
  }

  private def requireAppId(appId: String): Unit =
    require(appId.nonEmpty && appId.forall(c =>
        c >= ' ' && c != '"' && c != ':' && c != '\\'),
      s"bad appId '$appId' (non-empty; no '\"', ':', '\\' or control " +
        "characters — the marker embeds in manifest JSON unescaped)")

  private def txnTag(appId: String, batchId: Long): String =
    s"$appId:$batchId"

  /** Newest-first marker scan: a crash redelivery replays a RECENT
    * batch, so the marker (when present) sits near the head.
    */
  private def txnSeen(root: String, tag: String): Boolean =
    versions(root).reverseIterator
      .exists(v => txnOf(root, v).contains(tag))

  /** [[publish]] under the [[appendOnce]] idempotence contract, for a
    * batch whose files are ALREADY staged (the DataSourceV2 streaming
    * sink: executors wrote the epoch's files before the driver-side
    * commit runs). A marker hit — before publishing or on any pass of
    * the CAS loop — aborts the stage (the files are unreferenced) and
    * returns the winner's table instead of double-landing.
    */
  def publishOnce(root: String, staged: Staged, appId: String,
                  batchId: Long): Manifest = {
    requireAppId(appId)
    val tag = txnTag(appId, batchId)
    if (txnSeen(root, tag)) { abort(root, staged); return currentManifest(root) }
    publishWith(root, staged, txn = Some(tag),
      alreadyApplied = () => txnSeen(root, tag))
  }

  /** Commit files whose BYTES are already staged (the DataSourceV2
    * write path: executors wrote files under `data/.staged-` dirs and
    * reported per-file stats in their commit messages; this is the
    * driver-side commit). Entries' paths must be the staged paths —
    * [[publish]] moves them into `data/` exactly as it does for
    * [[stageAppend]]'s. `truncate = true` replaces the table contents
    * (the INSERT OVERWRITE shape: prior files, deletes and segments
    * drop; schema, key and stats config persist); a truncating commit
    * rewrites table state, so like a merge it REFUSES to publish over
    * a concurrent commit instead of rebasing. A `txn` marker routes
    * through [[publishOnce]] for exactly-once streaming epochs.
    *
    * `stagedRenames` (when the caller knows it — the V2 write plan's
    * rename log at its base version) guards the RENAME race: the
    * staged files were physically written under the stage-time column
    * names, so a RENAME COLUMN landing since would stamp them with a
    * post-rename seq and era-split readers would look for the NEW
    * physical name in files storing the OLD one — the renamed column
    * silently reading NULL. Refuse loudly instead, like every other
    * stale-plan commit.
    */
  def commitStagedEntries(root: String, entries: Vector[FileEntry],
                          truncate: Boolean,
                          txn: Option[(String, Long)] = None,
                          branch: Option[String] = None,
                          stagedRenames: Option[Vector[Rename]] = None)
      : Manifest = {
    require(txn.isEmpty || branch.isEmpty,
      "exactly-once txn markers live on the MAIN chain — streaming " +
        "sinks do not target branches")
    val cur = currentManifest(root, branch)
    stagedRenames.filter(_ != cur.renames).foreach { rs =>
      throw new java.util.ConcurrentModificationException(
        s"commit refused: a column rename landed after this write was " +
          s"planned (${rs.size} rename(s) at plan time, " +
          s"${cur.renames.size} now) — its files store data under the " +
          "old physical names and would mis-era under the new version; " +
          "re-run the write (a streaming sink: restart the query) " +
          "against the renamed schema")
    }
    val v = cur.version + 1
    val files = entries.map(_.copy(seq = v))
    val m = Manifest(v, cur.keyCol,
      (if (truncate) Vector.empty else cur.files) ++ files,
      cur.statsCols, cur.schemaDdl,
      if (truncate) Vector.empty else cur.deletes,
      if (truncate) Vector.empty else cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props)
    val st = Staged(m, entries.map(_.path), cur.version,
      appendOnly = !truncate)
    txn match {
      case Some((app, batch)) => publishOnce(root, st, app, batch)
      case None               => publish(root, st, branch)
    }
  }

  /** Commit a REWRITE of specific files whose replacement bytes are
    * already staged (the SQL UPDATE/MERGE group-based row-level
    * write: executors rewrote the affected files' full content —
    * matching rows changed, the rest carried verbatim — and this is
    * the driver-side commit). `replaced` paths drop from the
    * manifest, `entries` land in their place, every untouched file
    * carries by reference. A rewrite is computed against ONE base
    * version: if anything committed since `baseVersion`, the
    * replacement set is stale and this REFUSES (the same OCC contract
    * merge/compaction rewrites follow — never rebase a rewrite).
    * With `branch`, the rewrite lands on the BRANCH chain (the WAP
    * fix-up surface: audit a staged batch, repair the bad rows on the
    * branch, fast-forward) — main's chain is untouched.
    */
  def commitReplaceEntries(root: String, baseVersion: Long,
                           replaced: Set[String],
                           entries: Vector[FileEntry],
                           branch: Option[String] = None): Manifest = {
    val cur = currentManifest(root, branch)
    if (cur.version != baseVersion) throw new java.util
      .ConcurrentModificationException(
        s"row-level rewrite was planned against version $baseVersion " +
          s"but the table is at ${cur.version} — re-run the statement")
    val missing = replaced.filterNot(p => cur.files.exists(_.path == p))
    require(missing.isEmpty,
      s"row-level rewrite references files absent from v${cur.version}: " +
        missing.mkString(", "))
    val v = cur.version + 1
    val files = entries.map(_.copy(seq = v))
    val kept = cur.files.filterNot(f => replaced(f.path))
    val m = Manifest(v, cur.keyCol, kept ++ files, cur.statsCols,
      cur.schemaDdl, pruneDeletes(kept, cur.deletes), cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props)
    publish(root, Staged(m, entries.map(_.path), cur.version,
      appendOnly = false), branch)
  }

  /** Commit a MERGE-ON-READ row-level DELTA whose pieces are already
    * on disk: `entries` (staged data files holding the new/updated
    * rows) land at seq v alongside `deletes` (equality-delete files
    * already under `deletes/`, also stamped seq v) in ONE version —
    * the SQL UPDATE/MERGE/DELETE's `SupportsDelta` commit. The seq
    * rule scopes the deletes to strictly-older files, so the delta's
    * own new rows are never shadowed. OCC like every rewrite: a
    * concurrent commit REFUSES (the delete set was computed against
    * `baseVersion`'s files). With `branch`, the delta lands on the
    * BRANCH chain (WAP fix-ups); [[fastForward]]'s order-preservation
    * check decides whether it can publish unmaterialized.
    */
  def commitDeltaEntries(root: String, baseVersion: Long,
                         entries: Vector[FileEntry],
                         deletes: Vector[DeleteEntry],
                         branch: Option[String] = None): Manifest = {
    val cur = currentManifest(root, branch)
    if (cur.version != baseVersion) throw new java.util
      .ConcurrentModificationException(
        s"row-level delta was planned against version $baseVersion " +
          s"but the table is at ${cur.version} — re-run the statement")
    val v = cur.version + 1
    val m = Manifest(v, cur.keyCol, cur.files ++ entries.map(_.copy(seq = v)),
      cur.statsCols, cur.schemaDdl,
      cur.deletes ++ deletes.map(_.copy(seq = v)), cur.segs,
      cur.bloomBits, renames = cur.renames, props = cur.props)
    publish(root, Staged(m, entries.map(_.path), cur.version,
      appendOnly = false), branch)
  }

  /** Substrate delete — the V2 delta commit's delete-file cleanup on
    * a refused publish.
    */
  private[sources] def fsDelete(path: String): Unit = { fs.delete(path); () }

  /** Commit a FILTER-SCOPED OVERWRITE (the Delta `replaceWhere` /
    * Iceberg filter-overwrite shape) whose NEW data files are already
    * staged: every current row with key in `[lo, hi]` is replaced by
    * `entries`' content. Files fully inside the range drop
    * MANIFEST-ONLY, disjoint files carry by reference (the backfill
    * of one month of a 100 TB time-keyed table is metadata plus the
    * new bytes), and only BOUNDARY files — whose attained key
    * envelope provably straddles the range — rewrite filtered
    * (delete-aware, like [[deleteRange]]), all in ONE commit.
    *
    * Two refusals guard the contract: staged entries whose key
    * envelope leaves `[lo, hi]` refuse (an overwrite must not smuggle
    * out-of-range rows past the predicate — the replaceWhere
    * conformance check, exact here because envelopes are attained
    * values), and a table that moved past `baseVersion` refuses like
    * every rewrite ([[commitReplaceEntries]]'s OCC rule — the
    * replaced-range analysis was computed against that snapshot).
    */
  def commitOverwriteRange(spark: SparkSession, root: String,
                           baseVersion: Long, lo: Long, hi: Long,
                           entries: Vector[FileEntry]): Manifest = {
    require(lo <= hi, s"empty overwrite range [$lo, $hi]")
    val bad = entries.filterNot(e => lo <= e.minKey && e.maxKey <= hi)
    require(bad.isEmpty,
      s"overwrite data must fall inside the replaced key range " +
        s"[$lo, $hi]; ${bad.size} staged file(s) hold keys outside it " +
        s"(e.g. [${bad.headOption.map(b => s"${b.minKey}, ${b.maxKey}")
          .getOrElse("")}]) — widen the range or filter the batch")
    val cur = currentManifest(root)
    if (cur.version != baseVersion) throw new java.util
      .ConcurrentModificationException(
        s"overwrite was planned against version $baseVersion but the " +
          s"table is at ${cur.version} — re-run the statement")
    val v = cur.version + 1
    val (overlap, disjoint) =
      cur.files.partition(f => f.minKey <= hi && lo <= f.maxKey)
    val partial = overlap.filterNot(f => lo <= f.minKey && f.maxKey <= hi)
    val news = entries.map(_.copy(seq = v))
    if (partial.isEmpty)
      publish(root, Staged(Manifest(v, cur.keyCol, disjoint ++ news,
        cur.statsCols, cur.schemaDdl, pruneDeletes(disjoint, cur.deletes),
        cur.segs, cur.bloomBits, renames = cur.renames, props = cur.props),
        entries.map(_.path), cur.version, appendOnly = false))
    else {
      // a partial file's envelope straddles the range boundary, and
      // envelopes are ATTAINED values — it provably holds both kept
      // and replaced rows; rewrite only those, filtered
      val rewritten = readWithDeletes(spark, root, cur.copy(files = partial))
        .filter(!col(cur.keyCol).between(lo, hi))
      val st = prepare(spark, rewritten, root, cur.keyCol,
        carry = disjoint, version = v,
        filesPerCommit = math.max(1, partial.size), cur.statsCols,
        cur.schemaDdl, staged = true, appendOnly = false,
        deletes = pruneDeletes(disjoint, cur.deletes), segs = cur.segs,
        bloomBits = cur.bloomBits, renames = cur.renames, props = cur.props)
      publish(root, Staged(st.manifest.copy(files = st.manifest.files ++ news),
        st.newFiles ++ entries.map(_.path), cur.version, appendOnly = false))
    }
  }

  /** The txn marker of version `v`, read from the version file alone
    * (no segment I/O — [[appendOnce]] scans every retained version).
    */
  private def txnOf(root: String, v: Long): Option[String] = {
    val p = s"$root/manifests/v$v.json"
    if (!fs.exists(p)) None
    else "\"txn\":\"([^\"]+)\"".r.findFirstMatchIn(fs.readString(p))
      .map(_.group(1))
  }

  /** Stage an APPEND without publishing — the WAP handle for pure
    * additions. Unlike [[stageMerge]], an append's new files are
    * valid against ANY later table state (no base file is rewritten),
    * so [[publish]] can REBASE it onto versions committed by other
    * writers in the meantime instead of refusing (the optimistic-
    * concurrency fast path append-heavy ingest lives on).
    */
  def stageAppend(spark: SparkSession, df: DataFrame, root: String,
                  filesPerCommit: Int = 4): Staged = {
    val cur = currentManifest(root)
    prepare(spark, df, root, cur.keyCol, carry = cur.files,
      version = cur.version + 1, filesPerCommit, cur.statsCols,
      cur.schemaDdl, staged = true, appendOnly = true,
      deletes = cur.deletes, segs = cur.segs, bloomBits = cur.bloomBits,
      renames = cur.renames, props = cur.props)
  }

  /** The audit view of a staged commit — what the table WOULD contain
    * if published. Run the data-quality battery here.
    */
  def readStaged(spark: SparkSession, root: String,
                 staged: Staged): DataFrame =
    readWithDeletes(spark, root, staged.manifest)

  /** Land a staged commit atomically (the audit passed), with
    * OPTIMISTIC CONCURRENCY (the public Iceberg/Delta protocol): the
    * live current version is re-read and compared against the stage's
    * `baseVersion`; the manifest lands via an atomic CREATE (hard
    * link) that can never clobber a manifest another writer raced in
    * at the same version number. On conflict (someone committed since
    * the stage):
    *   - an append-only stage REBASES — its new files are valid
    *     against any later state, so it re-aims at currentVersion+1
    *     carrying the NEW current's files plus its own, and retries;
    *   - a rewriting stage (merge/delete touched base files) REFUSES
    *     with `ConcurrentModificationException` — its rewrite set was
    *     computed against a stale snapshot; the staged files stay in
    *     their staging directory for [[abort]] (or a fresh
    *     [[stageMerge]] against the new current).
    * File moves happen only after the conflict check, so a refused
    * publish leaves the store AND the stage bit-identical. (The one
    * exception: a rewriting stage that passes the check but loses the
    * manifest CAS to a writer landing inside the publish call itself
    * is refused with its files already moved — they are unreferenced,
    * invisible, and [[vacuum]]-collectable; the store stays intact.)
    */
  def publish(root: String, staged: Staged,
              branch: Option[String] = None): Manifest =
    publishWith(root, staged, txn = None, alreadyApplied = () => false,
      branch = branch)

  /** [[publish]] with the idempotence hooks [[appendOnce]] rides:
    * `txn` marks the LANDED manifest, and `alreadyApplied` re-checks
    * at the top of every CAS attempt — a racing retry of the same
    * batch that loses its CAS finds the winner's marker on the next
    * pass, cleans up its own (possibly already-moved, unreferenced)
    * files and returns the live manifest instead of double-landing.
    */
  private def publishWith(root: String, staged: Staged,
                          txn: Option[String],
                          alreadyApplied: () => Boolean,
                          branch: Option[String] = None): Manifest = {
    var st = staged
    var moved = false // files already hopped into data/ in a prior pass
    while (true) {
      val cur = currentManifest(root, branch)
      // re-check only when the live version moved past the stage's
      // base — someone committed since the CALLER's own check (which
      // ran immediately before publishWith on the fast path, so an
      // uncontended pass never duplicates that O(retained-versions)
      // scan). That covers both ways a same-batch racer can win:
      // we lose the CAS at our version, or we observe its commit and
      // would otherwise REBASE our duplicate on top of it.
      if (cur.version != st.baseVersion && alreadyApplied()) {
        // another writer landed this very batch: discard ours (the
        // files are unreferenced whether still staged or already
        // moved) and hand back the winner's CURRENT table — `cur`
        // was read before the check and may predate the landing
        st.newFiles.foreach(f => fs.delete(s"$root/$f"))
        dropEmptyStageDirs(root, st)
        return currentManifest(root, branch)
      }
      val target: Manifest =
        if (cur.version == st.baseVersion) st.manifest
        else if (st.appendOnly) {
          // a RENAME COLUMN landing since the stage must refuse, not
          // rebase: the staged files physically store the stage-time
          // column names, and re-seqing them past the rename would
          // put them in the post-rename era — era-split readers would
          // project the NEW physical name out of files storing the
          // OLD one, silently nulling the renamed column
          if (cur.renames != st.manifest.renames)
            throw new java.util.ConcurrentModificationException(
              "append refused: a column rename landed since this " +
                "write was staged — its files store data under the " +
                "old physical names; re-stage against the renamed " +
                "schema (a streaming sink: restart the query)")
          val mine = st.newFiles.toSet
          // rebased files re-seq to the version they actually LAND at:
          // a deleteKeys committed in the gap names keys as the table
          // held them then — the staged rows were invisible to it, so
          // they must land strictly newer than that delete's seq
          Manifest(cur.version + 1, cur.keyCol,
            cur.files ++ st.manifest.files.filter(f => mine(f.path))
              .map(_.copy(seq = cur.version + 1)),
            cur.statsCols, cur.schemaDdl, cur.deletes, cur.segs,
            cur.bloomBits, renames = cur.renames, props = cur.props)
        } else throw new java.util.ConcurrentModificationException(
          s"snapshot-store publish refused: staged against version " +
            s"${st.baseVersion} but ${cur.version} is current, and the " +
            "stage rewrites base files (merge/delete) so it cannot " +
            (if (moved)
              "rebase — its files were already moved into data/ by this " +
                "publish attempt (abort would find nothing): they are " +
                "unreferenced, invisible, and vacuum-collectable; " +
                "re-stage against the new current"
             else "rebase — abort it and re-stage against the new current"))
      // move staged files into data/ (first successful pass only —
      // after a rebase retry they already carry final paths)
      val finalFiles = target.files.map { f =>
        if (!f.path.startsWith(stagePrefix)) f
        else {
          val name = f.path.split('/').last
          fs.move(s"$root/${f.path}", s"$root/data/$name")
          moved = true
          f.copy(path = "data/" + name)
        }
      }
      dropEmptyStageDirs(root, st)
      val landed = target.copy(files = finalFiles, txn = txn)
      tryWriteManifest(root, landed, branch) match {
        case Some(m) => return m
        case None =>
          // lost the CAS race at this version number: re-aim with the
          // files now at their final paths and loop (rebase/refuse
          // decided against the NEW current next pass)
          val mine = st.newFiles.map(p =>
            if (p.startsWith(stagePrefix)) "data/" + p.split('/').last else p)
          st = Staged(landed, mine, st.baseVersion, st.appendOnly)
      }
    }
    sys.error("unreachable")
  }

  /** Discard a staged commit: delete exactly its new data files (and
    * their now-empty staging directory); the store is untouched (the
    * manifest never landed).
    */
  def abort(root: String, staged: Staged): Unit = {
    staged.newFiles.foreach(f => fs.delete(s"$root/$f"))
    dropEmptyStageDirs(root, staged)
  }

  private[sources] val stagePrefix = "data/.staged-"

  private def dropEmptyStageDirs(root: String, staged: Staged): Unit =
    staged.newFiles.map(f => f.substring(0, f.lastIndexOf('/')))
      .distinct
      .filter(_.split('/').last.startsWith(".staged-"))
      .foreach { d =>
        val dir = s"$root/$d"
        if (fs.isDir(dir) && fs.list(dir).isEmpty) fs.delete(dir)
      }

  /** Keyed MERGE (upsert): a file is read and rewritten ONLY if some
    * batch key actually lands inside its [minKey, maxKey] (batch rows
    * win on collision); every other file carries forward by
    * reference. Hit detection is PER FILE — one pass over the batch
    * against the broadcast (metadata-sized) manifest — not the
    * batch's [min, max] span: a batch of far-apart keys (yesterday's
    * corrections plus brand-new ids) must not degenerate into a
    * full-table rewrite just because its span covers everything.
    */
  def merge(spark: SparkSession, batch: DataFrame, root: String,
            filesPerCommit: Int = 4): Manifest = {
    val cur = currentManifest(root)
    if (batch.isEmpty) return cur // no new version needed
    // merge = stage + immediate publish (the WAP fast path)
    publish(root, stageMerge(spark, batch, root, filesPerCommit))
  }

  /** DELETE every row with key in [lo, hi]. Files fully inside the
    * range drop MANIFEST-ONLY (no read, no write — the right-to-be-
    * forgotten sweep over a 100 TB table is a metadata operation plus
    * boundary-file rewrites); partially overlapping files rewrite
    * filtered; disjoint files carry forward by reference.
    */
  def deleteRange(spark: SparkSession, root: String, lo: Long,
                  hi: Long, filesPerCommit: Int = 4): Manifest = {
    val cur = currentManifest(root)
    val k = cur.keyCol
    val (overlap, untouched) =
      cur.files.partition(f => f.minKey <= hi && lo <= f.maxKey)
    val partial = overlap.filterNot(f => lo <= f.minKey && f.maxKey <= hi)
    // boundary rewrites read DELETE-AWARE (same resurrection hazard
    // as stageMerge); deletes prune against the surviving file set
    val rewritten =
      if (partial.isEmpty) None
      else Some(readWithDeletes(spark, root, cur.copy(files = partial))
        .filter(!col(k).between(lo, hi)))
    rewritten match {
      case Some(df) => commit(spark, df, root, k, carry = untouched,
        version = cur.version + 1, filesPerCommit, cur.statsCols,
        cur.schemaDdl, deletes = pruneDeletes(untouched, cur.deletes),
        segs = cur.segs, bloomBits = cur.bloomBits, renames = cur.renames, props = cur.props)
      case None => writeManifest(root,
        Manifest(cur.version + 1, k, untouched, cur.statsCols,
          cur.schemaDdl, pruneDeletes(untouched, cur.deletes), cur.segs,
          cur.bloomBits, renames = cur.renames, props = cur.props))
    }
  }

  /** COPY-ON-WRITE scattered-key delete in ONE commit: files whose
    * key range can hold a target rewrite filtered, everything else
    * carries by reference. The single-statement shape SQL DELETE
    * needs — a deleteKeys + applyDeletes pair leaves a window (crash
    * or concurrent read between the two commits) where the table
    * carries unmaterialized MOR deletes the raw-file read paths
    * refuse. For LARGE scattered sets whose rewrite should be
    * deferred and amortized, [[deleteKeys]] (merge-on-read) remains
    * the right call. Keys are a driver-side Seq because the callers
    * are literal IN-lists; an erasure QUEUE belongs to [[deleteKeys]].
    */
  def deleteKeysExact(spark: SparkSession, keys: Seq[Long], root: String,
                      filesPerCommit: Int = 4): Manifest = {
    val cur = currentManifest(root)
    val k = cur.keyCol
    val ks = keys.toSet
    val (touched, untouched) = cur.files.partition(f =>
      ks.exists(key => f.minKey <= key && key <= f.maxKey))
    if (touched.isEmpty) return cur // every key provably absent
    // delete-aware read (the stageMerge resurrection hazard), single
    // staged commit through the normal publish/CAS machinery
    val rewritten = readWithDeletes(spark, root, cur.copy(files = touched))
      .filter(!col(k).isin(ks.toSeq: _*))
    publish(root, prepare(spark, rewritten, root, k, carry = untouched,
      version = cur.version + 1, filesPerCommit, cur.statsCols,
      cur.schemaDdl, staged = true, appendOnly = false, renames = cur.renames, props = cur.props,
      deletes = pruneDeletes(untouched, cur.deletes), segs = cur.segs,
      bloomBits = cur.bloomBits))
  }

  /** APPLY CHANGES (the Delta `APPLY CHANGES INTO` / Flink upsert
    * shape): ONE copy-on-write commit applying a batch of
    * `graft-cdc images=true` rows — `(key, _change_type, version,
    * <payload>)` — to this store: `insert`/`update_postimage` upsert,
    * `delete` deletes, `update_preimage` is informational and drops.
    * A key appearing in SEVERAL versions of the batch collapses to
    * its latest non-preimage row first (`max_by` over `version` —
    * within one source version a key emits at most one non-preimage
    * row, so the order is total), which makes applying a multi-
    * version epoch equal to applying its versions in sequence. This
    * is the REPLICA-MAINTENANCE primitive: a store tailed as a change
    * feed reconstructs key-for-key on another store, reading only the
    * feed — never the source table (see the `graft-snapshot`
    * streaming sink's `mode=cdc` for the exactly-once streaming
    * form).
    *
    * Work scales with the CHANGE SET: touched files are found by a
    * broadcast range join of the batch's keys against file envelopes,
    * only those rewrite (delete-aware, like [[stageMerge]]), the rest
    * carry by reference. Same OCC contract as merge: a concurrent
    * commit REFUSES the publish rather than rebasing.
    */
  private def requireImagesShape(images: DataFrame, k: String): Unit =
    Seq(k, "_change_type", "version").foreach(c =>
      require(images.columns.contains(c),
        s"applyChanges expects the graft-cdc images shape; missing '$c'"))

  def stageApplyChanges(spark: SparkSession, images: DataFrame,
                        root: String, filesPerCommit: Int = 4): Staged = {
    val cur = currentManifest(root)
    val k = cur.keyCol
    val schema = cur.schema.getOrElse(sys.error(
      s"store at $root predates schema tracking — applyChanges needs " +
        "the declared schema"))
    val payload = schema.fieldNames.filterNot(_ == k).toSeq
    requireImagesShape(images, k)
    // collapse to the newest state per key, then checkpoint: the
    // relation is a post-shuffle aggregate consumed three times (file
    // hits, anti-join, upserts) — the measured keep-case of the
    // checkpoint rule (SCALING.md round-15). The max_by ordering
    // includes the change type and payload AFTER the version: a
    // graft-cdc feed never emits two non-preimage rows for one
    // (key, version), but a hand-built batch can — the extended key
    // makes the winner deterministic (ties break by row content, not
    // task order) instead of silently varying run to run.
    val latest = images
      .filter(col("_change_type") =!= "update_preimage")
      .groupBy(col(k).cast("long").as(k))
      .agg(max_by(
        struct(col("_change_type").as("__ct") +: payload.map(col): _*),
        struct(col("version") +: col("_change_type") +:
          payload.map(col): _*)).as("__s"))
      .select(col(k) +: col("__s.__ct").as("__ct") +:
        payload.map(n => col(s"__s.`$n`").as(n)): _*)
      .localCheckpoint(false)
    val ups = conform(latest.filter(col("__ct") =!= "delete")
      .drop("__ct"), schema)
    stageUpsert(spark, root, cur, latest.select(col(k).as("__bk")), ups,
      filesPerCommit)
  }

  /** The shared copy-on-write upsert scaffold behind [[stageMerge]]
    * and [[stageApplyChanges]]: find the files whose envelopes may
    * hold any of `keys` (broadcast range join — manifest-sized, never
    * table-sized), rewrite ONLY those (delete-aware: their rewrite
    * lands at a newer seq than any outstanding delete, which would
    * otherwise stop applying and resurrect deleted rows), drop every
    * `keys` row from the carried content, union `ups` in, and carry
    * the untouched files by reference. Never appendOnly (the merge
    * OCC contract: upserts are evaluated against the snapshot they
    * staged on and must refuse, not rebase, over concurrent commits).
    */
  private def stageUpsert(spark: SparkSession, root: String, cur: Manifest,
                          keys: DataFrame, ups: DataFrame,
                          filesPerCommit: Int): Staged = {
    val k = cur.keyCol
    val hit: Set[String] =
      if (cur.files.isEmpty) Set.empty
      else {
        import spark.implicits._
        val filesDf = cur.files.map(f => (f.path, f.minKey, f.maxKey))
          .toDF("__p", "__mn", "__mx")
        keys.select(col("__bk").cast("long").as("__bk"))
          .join(broadcast(filesDf),
            col("__bk").between(col("__mn"), col("__mx")))
          .select("__p").distinct().collect().map(_.getString(0)).toSet
      }
    val (touched, untouched) = cur.files.partition(f => hit(f.path))
    val rewritten =
      if (touched.isEmpty) ups
      else readWithDeletes(spark, root, cur.copy(files = touched))
        .join(keys, col(k) === col("__bk"), "left_anti")
        .unionByName(ups)
    prepare(spark, rewritten, root, k, carry = untouched,
      version = cur.version + 1, filesPerCommit, cur.statsCols,
      cur.schemaDdl, staged = true, appendOnly = false, renames = cur.renames, props = cur.props,
      deletes = pruneDeletes(untouched, cur.deletes), segs = cur.segs,
      bloomBits = cur.bloomBits)
  }

  /** [[stageApplyChanges]] + immediate publish (the batch form). The
    * shape check runs BEFORE the emptiness short-circuit: a miswired
    * feed must fail on its first (possibly empty) batch, not weeks
    * later when changes first flow.
    */
  def applyChanges(spark: SparkSession, images: DataFrame, root: String,
                   filesPerCommit: Int = 4): Manifest = {
    requireImagesShape(images, currentManifest(root).keyCol)
    if (images.isEmpty) return currentManifest(root)
    publish(root, stageApplyChanges(spark, images, root, filesPerCommit))
  }

  /** [[applyChanges]] under the [[appendOnce]] idempotence contract —
    * the exactly-once epoch apply the `mode=cdc` streaming sink
    * commits through. A marker hit skips the staging entirely; an
    * empty batch commits nothing (idempotent without a marker).
    * `knownNonEmpty` skips the emptiness probe (one Spark job) for
    * callers that already proved it — the sink only commits epochs
    * whose tasks reported rows.
    */
  def applyChangesOnce(spark: SparkSession, images: DataFrame,
                       root: String, appId: String, batchId: Long,
                       filesPerCommit: Int = 4,
                       knownNonEmpty: Boolean = false): Manifest = {
    requireAppId(appId)
    requireImagesShape(images, currentManifest(root).keyCol)
    if (txnSeen(root, txnTag(appId, batchId))) return currentManifest(root)
    if (!knownNonEmpty && images.isEmpty) return currentManifest(root)
    publishOnce(root, stageApplyChanges(spark, images, root,
      filesPerCommit), appId, batchId)
  }

  /** MERGE-ON-READ delete (the Iceberg v2 equality-delete pattern):
    * commit the batch's key values as a DELETE FILE — key-count-sized
    * I/O, ZERO data files read or rewritten — and let readers
    * anti-join it against only the data files it can apply to (older
    * seq, overlapping key range). The shape a right-to-be-forgotten
    * sweep takes on a 100 TB table when the keys are scattered:
    * [[deleteRange]] handles contiguous ranges manifest-only, this
    * handles arbitrary key sets without the rewrite storm an eager
    * delete of N scattered keys (N boundary-file rewrites) would be.
    * [[compact]] / [[applyDeletes]] materialize later, amortized.
    *
    * Keys hitting no live file's range are dropped (metadata check) —
    * deleting an absent key is a no-op, and the delete file stays
    * minimal. An all-miss (or empty) batch commits nothing.
    *
    * Concurrency: a lost manifest CAS RETRIES the whole computation
    * against the new current (up to `retries` times) — re-running,
    * not rebasing, because the raced-in commit may hold keys the
    * stale pruning dropped; an erasure queue and an ingest stream can
    * therefore interleave freely on one store.
    */
  def deleteKeys(spark: SparkSession, keys: DataFrame, root: String,
                 retries: Int = 5): Manifest = {
    val cur = currentManifest(root)
    val k = cur.keyCol
    if (cur.files.isEmpty) return cur
    import spark.implicits._
    val ranges = cur.files.map(f => (f.minKey, f.maxKey))
      .toDF("__mn", "__mx")
    val hits = keys.select(col(k).cast("long").as(k)).na.drop().distinct()
      .join(broadcast(ranges), col(k).between(col("__mn"), col("__mx")),
        "left_semi")
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    val tmpP = s"$root/.tmp/$uuid"
    fs.mkdirs(tmpP)
    // (min, max, count) ride the WRITE job as observed metrics — no
    // second job to re-read the file (per-micro-batch latency in the
    // streaming erasure shape)
    val obs = org.apache.spark.sql.Observation()
    hits.observe(obs, min(col(k)).as("mn"), max(col(k)).as("mx"),
        count(lit(1)).as("n"))
      .coalesce(1).sortWithinPartitions(k)
      .write.mode(SaveMode.Overwrite).parquet(tmpP)
    val stats = obs.get
    val written = fs.list(tmpP).filter(_.endsWith(".parquet"))
    require(written.size <= 1, "delete batch wrote multiple files")
    if (written.isEmpty || stats("n").asInstanceOf[Long] == 0L) {
      fs.deleteRecursively(tmpP) // every key missed the live ranges
      return cur
    }
    fs.mkdirs(s"$root/deletes")
    val name = s"$uuid.parquet"
    fs.move(s"$tmpP/${written.head}", s"$root/deletes/$name")
    fs.deleteRecursively(tmpP)
    val seq = cur.version + 1
    val entry = DeleteEntry(s"deletes/$name",
      stats("mn").asInstanceOf[Long], stats("mx").asInstanceOf[Long],
      stats("n").asInstanceOf[Long], seq)
    try writeManifest(root, Manifest(seq, k, cur.files, cur.statsCols,
      cur.schemaDdl, cur.deletes :+ entry, cur.segs, cur.bloomBits,
      renames = cur.renames, props = cur.props))
    catch {
      // lost the CAS to another writer (an erasure queue racing an
      // ingest stream): drop this attempt's delete file either way,
      // then re-run the WHOLE computation against the new current —
      // the key→file pruning must re-evaluate (the raced-in commit
      // may hold pruned-away keys), so a naive manifest rebase would
      // silently MISS deletes.
      case e: java.util.ConcurrentModificationException =>
        fs.delete(s"$root/deletes/$name")
        if (retries > 0) deleteKeys(spark, keys, root, retries - 1)
        else throw e
    }
  }

  /** Materialize outstanding merge-on-read deletes: rewrite ONLY the
    * data files some delete entry applies to (delete-aware read →
    * new files at the new seq), carry the rest by reference, and drop
    * every delete entry that no longer applies. The maintenance half
    * of [[deleteKeys]]; [[compact]] does the same for the files it
    * rewrites as a side effect.
    */
  def applyDeletes(spark: SparkSession, root: String,
                   filesPerCommit: Int = 4,
                   branch: Option[String] = None): Manifest = {
    val cur = currentManifest(root, branch)
    val (affected, clean) =
      cur.files.partition(f => applicableDeletes(cur, f).nonEmpty)
    if (affected.isEmpty) return cur
    val df = readWithDeletes(spark, root, cur.copy(files = affected))
    commit(spark, df, root, cur.keyCol, carry = clean,
      version = cur.version + 1, filesPerCommit, cur.statsCols,
      cur.schemaDdl, deletes = pruneDeletes(clean, cur.deletes),
      segs = cur.segs, bloomBits = cur.bloomBits, renames = cur.renames, props = cur.props,
      branch = branch)
  }

  /** DELETE-FILE COMPACTION (the Iceberg rewrite-position-deletes
    * maintenance idiom, for this store's equality deletes): merge an
    * update-heavy table's accumulated equality-delete files — one per
    * task per statement — into few sorted files, touching ZERO data
    * files (delete files are match-sized; the manifest swap is the
    * whole commit). Dangling entries (shadowing no live file) drop
    * outright. Between materializations this keeps the MOR read's
    * per-file delete set one open() per key range instead of one per
    * past statement.
    *
    * SAFETY — the seq-promotion rule: a delete entry at seq `s`
    * shadows exactly the overlapping files with `f.seq < s`. Merged
    * entries re-stamp at their group's MAX seq, which is provably
    * applicability-identical iff no live overlapping file sits in the
    * promoted interval: each entry's promotion CEILING is the
    * smallest overlapping live-file seq at or above its own, and a
    * group is valid only while `maxSeq <= min(ceilings)`. Entries a
    * later statement's new rows interleave with (the update-chain
    * shape) therefore stay separate — correctness never trades for
    * fewer files; [[applyDeletes]] remains the full materialization.
    */
  def compactDeletes(spark: SparkSession, root: String,
                     branch: Option[String] = None): Manifest = {
    val cur = currentManifest(root, branch)
    val live = pruneDeletes(cur.files, cur.deletes) // dangling drop
    // promotion ceiling per entry (∞ when no overlapping file above)
    def ceiling(d: DeleteEntry): Long =
      cur.files.filter(f => f.seq >= d.seq &&
          d.minKey <= f.maxKey && f.minKey <= d.maxKey)
        .map(_.seq).minOption.getOrElse(Long.MaxValue)
    // greedy grouping by ascending seq: extend while the group's max
    // seq stays at or below every member's ceiling
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[(Vector[DeleteEntry], Long)] // (members, minCeiling)
    live.sortBy(d => (d.seq, d.path)).foreach { d =>
      groups.lastOption match {
        case Some((members, minCeil)) if d.seq <= minCeil =>
          groups(groups.size - 1) =
            (members :+ d, math.min(minCeil, ceiling(d)))
        case _ => groups += ((Vector(d), ceiling(d)))
      }
    }
    if (live == cur.deletes && groups.forall(_._1.size <= 1)) return cur
    val merged = groups.toVector.flatMap {
      case (Vector(single), _) => Vector(single) // nothing to merge
      case (members, _) =>
        val s = members.map(_.seq).max
        val uuid = java.util.UUID.randomUUID().toString.take(8)
        val tmpP = s"$root/.tmp/$uuid"
        fs.mkdirs(tmpP)
        val obs = org.apache.spark.sql.Observation()
        spark.read.parquet(members.map(d => s"$root/${d.path}"): _*)
          .select(col(cur.keyCol)).distinct()
          .observe(obs, min(col(cur.keyCol)).as("mn"),
            max(col(cur.keyCol)).as("mx"), count(lit(1)).as("n"))
          .coalesce(1).sortWithinPartitions(cur.keyCol)
          .write.mode(SaveMode.Overwrite).parquet(tmpP)
        val stats = obs.get
        val written = fs.list(tmpP).filter(_.endsWith(".parquet"))
        require(written.size == 1, "delete compaction wrote != 1 file")
        fs.mkdirs(s"$root/deletes")
        val name = s"cd-$uuid.parquet"
        fs.move(s"$tmpP/${written.head}", s"$root/deletes/$name")
        fs.deleteRecursively(tmpP)
        Vector(DeleteEntry(s"deletes/$name",
          stats("mn").asInstanceOf[Long], stats("mx").asInstanceOf[Long],
          stats("n").asInstanceOf[Long], s))
    }
    val next = Manifest(cur.version + 1, cur.keyCol, cur.files,
      cur.statsCols, cur.schemaDdl, merged, cur.segs, cur.bloomBits,
      renames = cur.renames, props = cur.props)
    try writeManifest(root, next, branch)
    catch {
      case e: java.util.ConcurrentModificationException =>
        // drop this attempt's merged files; the caller re-runs
        merged.filterNot(cur.deletes.contains)
          .foreach(d => fs.delete(s"$root/${d.path}"))
        throw e
    }
  }

  /** Read the table as of `version` (time travel), merge-on-read
    * deletes applied.
    */
  def readAsOf(spark: SparkSession, root: String, version: Long): DataFrame =
    readWithDeletes(spark, root, manifest(root, version))

  /** ROLLBACK (the Iceberg/Delta restore surface): commit a NEW
    * version whose content is exactly `toVersion`'s — files, deletes,
    * schema and segments all carry by REFERENCE, zero data I/O, the
    * bad commits stay in history for forensics until [[vacuum]]
    * retention drops them. The store moves FORWARD to the old state
    * (history stays append-only — a reader mid-scan on the bad
    * version is undisturbed), which is what an accidental bulk
    * delete/corrupt-merge recovery does on a 100 TB table: one
    * metadata commit, not a restore job. Deletes committed AFTER
    * `toVersion` are rolled back with everything else. Lands through
    * the same CAS as every commit — a concurrent WRITER conflicts
    * loudly.
    *
    * Rollback-vs-RETENTION is the one overlap the orphan age gate
    * cannot arbitrate: the target's files are OLD by definition, so
    * a cross-process vacuum that drops `toVersion` mid-rollback
    * would collect them. Every referenced file is verified present
    * immediately before the CAS (a target already collected refuses
    * loudly instead of landing a manifest that points at nothing);
    * for a full guarantee under concurrent maintenance, [[tag]] the
    * target first — retention NEVER collects tagged versions, which
    * is the public Iceberg contract (roll back only within
    * retention).
    */
  def rollback(root: String, toVersion: Long): Manifest = {
    val cur = currentManifest(root)
    require(toVersion <= cur.version,
      s"cannot roll back to $toVersion: current is ${cur.version}")
    val tgt = manifest(root, toVersion)
    (tgt.files.map(_.path) ++ tgt.deletes.map(_.path))
      .filterNot(p => fs.exists(s"$root/$p")) match {
      case Vector() => ()
      case missing => throw new IllegalStateException(
        s"rollback to $toVersion refused: ${missing.size} referenced " +
          s"file(s) no longer exist (vacuum retention collected them?) " +
          s"— first missing: ${missing.head}. Tag a version to pin it " +
          "against retention before rolling back under concurrent " +
          "maintenance.")
    }
    writeManifest(root, Manifest(cur.version + 1, tgt.keyCol, tgt.files,
      tgt.statsCols, tgt.schemaDdl, tgt.deletes, tgt.segs, tgt.bloomBits,
      renames = tgt.renames, props = tgt.props))
  }

  /** COMPACTION: rewrite every data file smaller than `smallRows`
    * into ~`targetRows`-sized files; everything else carries by
    * reference. The small-files decay every LSM-ish store hits —
    * each merge commit writes batch-sized files next to table-sized
    * ones, and after enough commits the manifest is long and the scan
    * open-cost dominates. Manifest-aware: the small set is chosen
    * from per-file ROW STATS (no data read to decide), the rewrite
    * reads ONLY the small files, and the commit re-range-partitions
    * them so per-file key ranges stay tight (zone maps carry through
    * the normal commit path). Rows are untouched — the new version is
    * row-identical, and every older version still time-travels.
    *
    * @return the new manifest (or the current one if fewer than two
    *         files qualify — nothing to merge)
    */
  def compact(spark: SparkSession, root: String,
              smallRows: Long = 100000L,
              targetRows: Long = 1000000L): Manifest = {
    require(smallRows >= 1 && targetRows >= 1)
    val cur = currentManifest(root)
    val (small, big) = cur.files.partition(_.rows < smallRows)
    if (small.size <= 1) return cur
    val totalRows = small.map(_.rows).sum
    val nOut = math.max(1L, (totalRows + targetRows - 1) / targetRows).toInt
    // delete-aware: compaction doubles as delete materialization for
    // the files it rewrites (rows is then ≤ the manifest sum — nOut
    // stays a sizing heuristic)
    compactInto(spark, root, cur, small, big, nOut)
  }

  /** The shared compaction tail: rewrite `small` (delete-aware read)
    * into `nOut` files, carry `big` by reference, prune deletes
    * against the survivors — [[compact]], [[compactBytes]] and
    * [[compactZorder]] all land through here, so a new table
    * property threads through compaction exactly once.
    */
  private def compactInto(spark: SparkSession, root: String,
      cur: Manifest, small: Vector[FileEntry], big: Vector[FileEntry],
      nOut: Int,
      layout: Option[org.apache.spark.sql.Column] = None,
      layoutName: Option[String] = None): Manifest =
    commit(spark, readWithDeletes(spark, root, cur.copy(files = small)),
      root, cur.keyCol, carry = big, version = cur.version + 1,
      filesPerCommit = nOut, cur.statsCols, cur.schemaDdl,
      deletes = pruneDeletes(big, cur.deletes), segs = cur.segs,
      layout = layout, layoutName = layoutName,
      bloomBits = cur.bloomBits, renames = cur.renames, props = cur.props)

  /** BYTE-sized compaction — [[compact]]'s twin with the small set
    * chosen from per-file BYTES (manifest metadata, recorded at
    * commit time) instead of rows: rows are a poor size proxy when
    * row widths vary 1000× (a multimodal payload next to a caption),
    * and file BYTES are what bound scan-task memory and open-cost
    * amortization — the criterion the public formats' OPTIMIZE
    * actually uses (Delta/Iceberg target file SIZE). Rewrites only
    * files with 0 < bytes < `smallBytes` into ~`targetBytes` output
    * files; legacy entries without byte stats (bytes = 0) carry
    * conservatively — unknown size never triggers a rewrite storm.
    * Row-identical, delete-aware, stats/blooms recompute through the
    * normal commit path.
    */
  def compactBytes(spark: SparkSession, root: String,
                   smallBytes: Long, targetBytes: Long): Manifest = {
    require(smallBytes >= 1 && targetBytes >= 1)
    val cur = currentManifest(root)
    val (small, big) = cur.files.partition(f =>
      f.bytes > 0 && f.bytes < smallBytes)
    if (small.size <= 1) return cur
    val totalBytes = small.map(_.bytes).sum
    val nOut = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    compactInto(spark, root, cur, small, big, nOut)
  }

  /** Scale a dimension into the Morton code's 16-bit lane; the
    * multiply stays in DECIMAL so a full-long envelope cannot
    * overflow (layout-only arithmetic — correctness never depends
    * on it). The SPAN is computed in BigInt too: a dimension whose
    * envelope crosses most of the long range (negative min, huge
    * positive max) overflows `mx - mn` in Long, which would clamp
    * the divisor to 1 and blow the scaled lane past Long (a thrown
    * cast under ANSI — a failed compaction commit). A long-sized
    * span keeps the old long-literal divisor bit-identically.
    * Shared by [[compactZorder]] and [[rewriteWhere]].
    */
  private def zLane(c: org.apache.spark.sql.Column, mn: Long,
                    mx: Long): org.apache.spark.sql.Column = {
    val span = (BigInt(mx) - BigInt(mn)).max(BigInt(1))
    val divisor =
      if (span.isValidLong) lit(span.toLong)
      else lit(new java.math.BigDecimal(span.bigInteger))
    ((c.cast("decimal(38,0)") - mn) * 65535L / divisor).cast("long")
  }

  /** Z-ORDER COMPACTION (Delta's `OPTIMIZE ZORDER BY` / Iceberg's
    * sort-order rewrite): [[compact]]'s small-file rewrite, but the
    * rows cluster by the Morton interleave of the KEY and a
    * zone-mapped secondary column instead of the key alone — every
    * rewritten file's [min, max] envelope tightens on BOTH
    * dimensions, so [[scanRanges]]' conjunctive pruning skips files
    * on either predicate (a key-sorted layout prunes only by key:
    * each file spans the secondary's full range). Dimension envelopes
    * come from MANIFEST METADATA alone (key stats + zone maps — no
    * data read to plan the layout); each dimension range-scales to
    * the Morton code's 16-bit lanes. Row-identical; all stats
    * recompute through the normal commit path. NULL secondaries sort
    * first (their zone maps already read conservatively).
    */
  def compactZorder(spark: SparkSession, root: String, zCol: String,
                    smallRows: Long = 100000L,
                    targetRows: Long = 1000000L): Manifest = {
    require(smallRows >= 1 && targetRows >= 1)
    val cur = currentManifest(root)
    require(cur.statsCols.contains(zCol),
      s"z-order column '$zCol' must carry zone maps (declare it in " +
        "statsCols at init)")
    val (small, big) = cur.files.partition(_.rows < smallRows)
    if (small.size <= 1) return cur
    val zs = small.flatMap(_.stats.get(zCol))
    require(zs.nonEmpty, s"no '$zCol' zone maps on the small files " +
      "(all-null column?) — plain compact() instead")
    val (kMn, kMx) = (small.map(_.minKey).min, small.map(_.maxKey).max)
    val (sMn, sMx) = (zs.map(_._1).min, zs.map(_._2).max)
    val z = graft.functions.VectorExpressions.zorder2(
      zLane(col(cur.keyCol), kMn, kMx), zLane(col(zCol), sMn, sMx))
    val totalRows = small.map(_.rows).sum
    val nOut = math.max(1L, (totalRows + targetRows - 1) / targetRows).toInt
    compactInto(spark, root, cur, small, big, nOut, layout = Some(z),
      layoutName = Some(s"zorder(${cur.keyCol},$zCol)"))
  }

  /** INCREMENTAL RE-LAYOUT (the Iceberg `rewrite_data_files` with a
    * `where` scope): rewrite ONLY the files whose key envelope
    * overlaps [lo, hi] under the table's DECLARED cluster spec — the
    * backfill half of [[setClusterSpec]]'s evolution. A 100 TB table
    * re-keys one key slice per maintenance window; files outside the
    * slice carry by reference, so each call's I/O is slice-sized.
    * Delete-aware (the rewrite doubles as materialization for the
    * files it touches); rows are untouched — every call is
    * row-identical and every older version still time-travels.
    *
    * Layout choice: with a declared 'cluster.zorder' column, rows
    * cluster by the Morton interleave of the key and that column —
    * the dimension envelope comes from manifest zone maps when every
    * selected file carries them, else from ONE narrow (2-column,
    * pushed-down) aggregation over just the selected files — the
    * grandfathered files being backfilled are precisely the ones
    * without zone maps, and a wrong envelope would silently degrade
    * the interleave to a layout no better than the key sort. Without
    * a declared z-order the rewrite range-clusters by key.
    */
  def rewriteWhere(spark: SparkSession, root: String, lo: Long, hi: Long,
                   targetRows: Long = 1000000L): Manifest = {
    require(lo <= hi, s"need lo <= hi, got [$lo, $hi]")
    require(targetRows >= 1)
    val cur = currentManifest(root)
    val (sel, rest) = cur.files.partition(f => f.minKey <= hi && lo <= f.maxKey)
    if (sel.isEmpty) return cur
    val totalRows = sel.map(_.rows).sum
    val nOut = math.max(1L, (totalRows + targetRows - 1) / targetRows).toInt
    val zorder: Option[org.apache.spark.sql.Column] =
      cur.props.get("cluster.zorder").flatMap { z =>
        require(cur.statsCols.contains(z),
          s"table property cluster.zorder='$z' names a column outside " +
            s"statsCols (${cur.statsCols.mkString(", ")}) — re-declare " +
            "the spec via setClusterSpec")
        val (kMn, kMx) = (sel.map(_.minKey).min, sel.map(_.maxKey).max)
        val fromStats = Some(sel.flatMap(_.stats.get(z)))
          .filter(_.size == sel.size)
          .map(zs => (zs.map(_._1).min, zs.map(_._2).max))
        val env = fromStats.orElse {
          // grandfathered files: one narrow scan of the selected files
          // for the dimension envelope (reads 1 column with pruning;
          // the rewrite is about to read these files anyway)
          val row = readWithDeletes(spark, root, cur.copy(files = sel))
            .agg(min(col(z).cast("long")).as("mn"),
              max(col(z).cast("long")).as("mx")).head()
          if (row.isNullAt(0)) None // all-null dimension: key layout
          else Some((row.getLong(0), row.getLong(1)))
        }
        env.map { case (sMn, sMx) =>
          graft.functions.VectorExpressions.zorder2(
            zLane(col(cur.keyCol), kMn, kMx), zLane(col(z), sMn, sMx))
        }
      }
    compactInto(spark, root, cur, sel, rest, nOut, layout = zorder,
      layoutName = zorder.flatMap(_ =>
        cur.props.get("cluster.zorder").map(z =>
          s"zorder(${cur.keyCol},$z)")))
  }

  /** BUCKETED layout rewrite (the Iceberg `rewrite_data_files` with a
    * new `bucket(n, key)` partition spec): rewrite the WHOLE table —
    * merge-on-read deletes materialized — into `nBuckets` files, one
    * per bucket of the shared bucket function
    * ([[graft.functions.GraftBucket]]). What it buys at 100 TB: two
    * stores bucketed to the same n JOIN WITHOUT A SHUFFLE — the V2
    * scan reports `KeyGroupedPartitioning(bucket(n, key))` and each
    * join task reads one bucket from each side (storage-partitioned
    * joins, `spark.sql.sources.v2.bucketing.enabled`). The price is
    * range pruning: a bucketed file's [minKey, maxKey] spans the
    * whole table, so key-RANGE scans stop skipping (per-file key
    * BLOOMS keep point lookups pruned — buckets and blooms compose).
    * Later range-layout appends make the layout MIXED: reads stay
    * correct, the scan just stops reporting the clustering until the
    * next rebucket. Row-identical; stats/blooms recompute through the
    * normal commit path.
    */
  def rebucket(spark: SparkSession, root: String, nBuckets: Int): Manifest = {
    require(nBuckets > 0, s"bucket count must be positive, got $nBuckets")
    val cur = currentManifest(root)
    commit(spark, readWithDeletes(spark, root, cur), root, cur.keyCol,
      carry = Vector.empty, version = cur.version + 1,
      filesPerCommit = nBuckets, cur.statsCols, cur.schemaDdl,
      deletes = Vector.empty, segs = cur.segs,
      bloomBits = cur.bloomBits, bucketN = Some(nBuckets),
      renames = cur.renames, props = cur.props)
  }

  /** Append a batch IN the table's bucket layout — what keeps a
    * bucketed table storage-partition-joinable in steady state: the
    * batch clusters by the SAME bucket function, lands as up-to-n
    * per-bucket files, and the scan keeps reporting the clustering (a
    * plain [[append]] writes range files, making the layout MIXED and
    * silently parking SPJ until the next [[rebucket]]). Buckets gain
    * one file per append, so the scan's sort-order report narrows to
    * key-grouped-only; periodic [[rebucket]] restores
    * one-file-per-bucket (the Iceberg compact-after-append rhythm).
    * Refuses when the table is not uniformly bucketed.
    */
  def appendBucketed(spark: SparkSession, df: DataFrame,
                     root: String): Manifest = {
    val cur = currentManifest(root)
    val n = graft.functions.GraftBucket.uniformN(cur.files.map(_.layout))
      .getOrElse(throw new IllegalArgumentException(
        s"appendBucketed needs a uniformly bucketed table — rebucket " +
          s"first (layouts: " +
          s"${cur.files.flatMap(_.layout).distinct.mkString(", ")})"))
    commit(spark, df, root, cur.keyCol, carry = cur.files,
      version = cur.version + 1, filesPerCommit = n, cur.statsCols,
      cur.schemaDdl, deletes = cur.deletes, segs = cur.segs,
      bloomBits = cur.bloomBits, bucketN = Some(n),
      renames = cur.renames, props = cur.props)
  }

  /** Read the current version (merge-on-read deletes applied). */
  def read(spark: SparkSession, root: String): DataFrame =
    readWithDeletes(spark, root, currentManifest(root))

  /** POINT LOOKUP of a scattered key set — "fetch these 10 k doc ids
    * from a 100 TB table": a file is read only if its [minKey,
    * maxKey] contains at least one key AND (when the table carries
    * per-file key blooms — `init(bloomBits = …)`) its bloom reports
    * at least one of those keys as possibly present. Range envelopes
    * alone cannot prune an absent key that falls in a gap between a
    * file's stored keys; the bloom can (no false negatives by
    * construction — a false positive costs one extra file read,
    * never a wrong row). Rows then filter EXACTLY (`IN`), with
    * merge-on-read deletes applied, so pruning is a pure
    * optimization. Keys are a driver-side batch (the point-lookup
    * shape — an id list, not a table; join [[read]] for table-sized
    * probe sets): the per-file check is metadata-sized,
    * O(files·keys) on the driver.
    *
    * @return (rows, files overlapping by range, files actually read)
    */
  def lookupKeys(spark: SparkSession, root: String,
                 keys: Seq[Long]): (DataFrame, Int, Int) = {
    val cur = currentManifest(root)
    val ks = keys.distinct
    val rangeHit = cur.files.filter(f =>
      ks.exists(k => f.minKey <= k && k <= f.maxKey))
    val hit = rangeHit.filter { f =>
      f.bloom match {
        case None => true // no filter — range says maybe, read it
        case Some(b64) =>
          val bloom = java.util.Base64.getDecoder.decode(b64)
          ks.exists(k => f.minKey <= k && k <= f.maxKey &&
            graft.functions.KeyBloom.mightContain(bloom, k))
      }
    }
    val df =
      if (hit.isEmpty) {
        val schema = cur.schema.getOrElse(sys.error(
          s"store at $root predates schema tracking — empty lookups " +
            "need the declared schema"))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      } else readWithDeletes(spark, root, cur.copy(files = hit))
        .where(col(cur.keyCol).isin(ks: _*))
    (df, rangeHit.size, hit.size)
  }

  /** Key-range scan with file skipping: lists only the manifest
    * entries overlapping [lo, hi] — no footer reads for the rest —
    * then filters rows exactly. Outstanding deletes apply to the hit
    * files only (applicability re-prunes them by range and seq).
    */
  def scanKeyRange(spark: SparkSession, root: String, lo: Long,
                   hi: Long): DataFrame = {
    val cur = currentManifest(root)
    val hit = cur.files.filter(f => f.minKey <= hi && lo <= f.maxKey)
    readWithDeletes(spark, root, cur.copy(files = hit))
      .filter(col(cur.keyCol).between(lo, hi))
  }

  /** COUNT over a key range answered from METADATA wherever possible:
    * files fully inside [lo, hi] contribute their manifest row counts
    * without being opened; only boundary-overlapping files scan (with
    * the exact key filter). At a 100 TB table the read set is the
    * boundary files, not the range — the aggregate-pushdown shape
    * table formats answer range COUNTs with.
    *
    * @return (count, overlapping files, files actually scanned)
    */
  def countKeyRange(spark: SparkSession, root: String, lo: Long,
                    hi: Long): (Long, Int, Int) = {
    val cur = currentManifest(root)
    val overlap = cur.files.filter(f => f.minKey <= hi && lo <= f.maxKey)
    // a file subject to a merge-on-read delete can't answer from its
    // manifest rows (some may be deleted) — it scans delete-aware
    // even when fully covered by [lo, hi]
    val (full, partial) = overlap.partition(f =>
      lo <= f.minKey && f.maxKey <= hi &&
        applicableDeletes(cur, f).isEmpty)
    val metaCount = full.map(_.rows).sum
    val scanned =
      if (partial.isEmpty) 0L
      else readWithDeletes(spark, root, cur.copy(files = partial))
        .filter(col(cur.keyCol).between(lo, hi)).count()
    (metaCount + scanned, overlap.size, partial.size)
  }

  /** CONJUNCTIVE pruned scan: one predicate per column (the key via
    * its min/max, secondaries via zone maps), skipping every file
    * that provably misses ANY of them — the multi-dimensional file
    * pruning a star-schema-ish range query gets from a table format.
    * Files without stats for a secondary column read conservatively;
    * rows then filter exactly. An empty hit set returns an empty
    * frame in the DECLARED schema (no files need opening).
    */
  def scanRanges(spark: SparkSession, root: String,
                 ranges: Map[String, (Long, Long)]): DataFrame = {
    require(ranges.nonEmpty)
    val cur = currentManifest(root)
    val hit = cur.files.filter { f =>
      ranges.forall { case (c, (lo, hi)) =>
        if (c == cur.keyCol) f.minKey <= hi && lo <= f.maxKey
        else f.stats.get(c).forall { case (mn, mx) => mn <= hi && lo <= mx }
      }
    }
    val pred = ranges.map { case (c, (lo, hi)) => col(c).between(lo, hi) }
      .reduce(_ && _)
    if (hit.isEmpty) {
      val schema = cur.schema.getOrElse(sys.error(
        s"store at $root predates schema tracking — empty pruned scans " +
          "need the declared schema"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else readWithDeletes(spark, root, cur.copy(files = hit)).filter(pred)
  }

  /** Range scan on a SECONDARY column via its zone maps: skip every
    * file whose recorded [min, max] for `column` misses [lo, hi] —
    * no footer read, no data read — then filter rows exactly. Files
    * without stats for the column (all-null there, or a column never
    * declared in `statsCols`) are conservatively read.
    */
  def scanStatsRange(spark: SparkSession, root: String, column: String,
                     lo: Long, hi: Long): DataFrame = {
    val cur = currentManifest(root)
    val hit =
      if (column == cur.keyCol)
        cur.files.filter(f => f.minKey <= hi && lo <= f.maxKey)
      else cur.files.filter(_.stats.get(column)
        .forall { case (mn, mx) => mn <= hi && lo <= mx })
    readWithDeletes(spark, root, cur.copy(files = hit))
      .filter(col(column).between(lo, hi))
  }

  /** The files versions `(v0, v1]` APPENDED, with `v1`'s manifest —
    * the shared append-only arithmetic behind [[readIncremental]] and
    * the streaming table read ([[graft.sources.v2
    * .SnapshotMicroBatchStream]]): refuses any interval where "added
    * files" stops meaning "added rows" (a base file rewritten or
    * dropped, a delete file landed).
    */
  def incrementalAddedFiles(root: String, v0: Long, v1: Long)
      : (Vector[FileEntry], Manifest) = {
    require(v0 <= v1, s"need v0 <= v1, got $v0 > $v1")
    val b = manifest(root, v1)
    (appendOnlyAdded(manifest(root, v0), b), b)
  }

  /** The pure manifest-pair arithmetic of [[incrementalAddedFiles]] —
    * callers that already hold the manifests (the streaming table
    * read's version walk loads each exactly once) skip the re-reads.
    */
  def appendOnlyAdded(a: Manifest, b: Manifest): Vector[FileEntry] = {
    val bPaths = b.files.map(_.path).toSet
    def refuse(why: String) = throw new IllegalArgumentException(
      s"incremental scan ${a.version}->${b.version} refused: $why — " +
        "the interval is not append-only, use changes() (or the " +
        "graft-cdc stream) for the row-level diff")
    a.files.filterNot(f => bPaths(f.path)).headOption.foreach(f =>
      refuse(s"base file ${f.path} was rewritten or dropped"))
    if (a.deletes != b.deletes) refuse("delete files changed")
    val aPaths = a.files.map(_.path).toSet
    b.files.filterNot(f => aPaths(f.path))
  }

  /** INCREMENTAL APPEND SCAN (the Iceberg incremental-scan surface):
    * the rows ADDED between `v0` and `v1`, read from ONLY the files
    * that appeared in the interval — the "give me what's new since my
    * last sync" consumer shape, file-list-sized to plan and
    * delta-sized to read regardless of table size (where [[changes]]
    * hashes BOTH versions row-by-row to also find updates/deletes).
    * REFUSES non-append-only history: if any `v0` file was rewritten
    * or dropped, or any delete file landed, in the interval, "added
    * files" no longer means "added rows" (a merge rewrite carries old
    * rows into new files) — use [[changes]] there. Added files carry
    * seq > every pre-existing delete's, so they read plain.
    */
  def readIncremental(spark: SparkSession, root: String, v0: Long,
                      v1: Long): DataFrame = {
    val (added, b) = incrementalAddedFiles(root, v0, v1)
    if (added.isEmpty) {
      val schema = b.schema.getOrElse(sys.error(
        s"store at $root predates schema tracking — empty incremental " +
          "scans need the declared schema"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else readFiles(spark, root, added, b.schemaDdl, b.renames)
  }

  /** Change feed between two versions (the lakehouse CDC surface):
    * per key, `insert` (only in `v1`), `delete` (only in `v0`) or
    * `update` (both, different payload). Payloads compare by an md5
    * over every non-key column, so the full-outer join ships
    * (key, 32-byte hash) pairs — never the payloads — and unchanged
    * keys drop before anything wide materializes.
    *
    * CAVEAT — duplicate keys: the delta-sized skip below assumes the
    * store's keyed-upsert discipline (a key lives in exactly one file
    * of a version). [[append]]/[[appendOnce]] do NOT enforce key
    * uniqueness; if an appended batch duplicates a key that lives in
    * a file carried verbatim across `[v0, v1]`, the skipped copy is
    * invisible to the diff and the feed reports `insert` where a full
    * two-sided read saw the duplicate on both sides. Appenders that
    * may collide with existing keys should diff via [[readAsOf]] or
    * route through [[merge]].
    *
    * @return (keyCol, op) rows; unchanged keys absent
    */
  def changes(spark: SparkSession, root: String, v0: Long,
              v1: Long): DataFrame = {
    val a = manifest(root, v0)
    val b = manifest(root, v1)
    val k = a.keyCol
    // DELTA-SIZED read set: a file carried VERBATIM between the two
    // versions (identical entry, identical applicable-delete set)
    // cannot contribute a diff — its visible rows are bit-identical
    // on both sides and, under the store's keyed-upsert discipline
    // (merge rewrites a key's file; a key never lives in two files
    // of one version), no OTHER file can hold those keys. Skipping
    // such files on BOTH sides turns consecutive-version CDC after a
    // small merge into a touched-files read, not two full table
    // scans — the difference between delta-sized and table-sized
    // change feeds at 100 TB. Requires the declared schema (for the
    // all-skipped empty side); pre-schema stores diff in full.
    val (aTouched, bTouched) = cdcReadSet(a, b)
    def side(m: Manifest, files: Vector[FileEntry]): DataFrame = {
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          m.schema.get)
      else readWithDeletes(spark, root, m.copy(files = files))
    }
    // to_json(struct(...)): JSON quoting/field names make column
    // boundaries unambiguous (('ab','c') vs ('a','bc') differ) and a
    // NULL drops its field entirely, so no string VALUE can collide
    // with the null encoding (a sentinel could)
    def hashed(df: DataFrame, out: String) = {
      val payload = df.columns.filterNot(_ == k).sorted.map(col)
      df.select(col(k), md5(to_json(struct(payload: _*))).as(out))
    }
    // a range crossing a RENAME spells the same column differently on
    // the two sides; hash the earlier side under the LATER side's
    // spelling so the name change never reads as a payload change
    // (identical values must hash identically — renames are
    // metadata-only)
    def spelledAsB(df: DataFrame): DataFrame =
      if (a.renames == b.renames || !b.renames.startsWith(a.renames)) df
      else df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c,
        Renames.translate(b.renames, c, v0, v1)))
    // a range crossing a WIDEN renders the same value differently on
    // the two sides ("5.25" vs "5.2500" under a decimal growth;
    // date vs midnight timestamp) — cast the earlier side UP to the
    // later side's declared type before hashing, so a lossless type
    // change never reads as a payload change either. ONLY the
    // canWiden lanes cast: a lossy change (a column dropped and
    // re-added NARROWER) must keep differing renderings, or a real
    // value change could false-equal through the truncation.
    def typedAsB(df: DataFrame): DataFrame = (a.schema, b.schema) match {
      case (Some(sa), Some(sb)) if a.schemaDdl != b.schemaDdl &&
          b.renames.startsWith(a.renames) =>
        val widen = sa.fields.toSeq.flatMap { fa =>
          val bn = Renames.translate(b.renames, fa.name, v0, v1)
          sb.fields.find(_.name == bn).collect {
            case fb if fb.dataType != fa.dataType &&
                canWiden(fa.dataType, fb.dataType) => bn -> fb.dataType
          }
        }.toMap
        if (widen.isEmpty) df
        else df.select(df.columns.toIndexedSeq.map(c =>
          widen.get(c).map(t => col(c).cast(t).as(c)).getOrElse(col(c))): _*)
      case _ => df
    }
    hashed(typedAsB(spelledAsB(side(a, aTouched))), "__h0")
      .join(hashed(side(b, bTouched), "__h1"), Seq(k), "full_outer")
      .select(col(k),
        when(col("__h0").isNull, "insert")
          .when(col("__h1").isNull, "delete")
          .when(col("__h0") =!= col("__h1"), "update").as("op"))
      .filter(col("op").isNotNull)
  }

  /** The CDC read sets: each side's files MINUS those carried
    * verbatim between the versions (identical entry, identical
    * applicable-delete set, identical declared schema). The schema
    * condition is load-bearing: addColumn/dropColumn are
    * metadata-only commits that carry every file entry verbatim yet
    * change what a row READS as — dropping a non-null column changes
    * every holder's payload, so diffing across a schema boundary must
    * fall back to the full two-sided read or the feed comes back
    * empty where the full diff reported an update per row. The
    * EXCEPTION is value-preserving evolution ([[evolutionCarrySafe]]:
    * RENAME COLUMN and lossless widening) — those change the DDL but
    * not one row's values, so the verbatim-carry skip stays engaged
    * and a metadata-only evolution commit diffs as the empty change
    * set it is (the Delta-CDF behavior), instead of a table-sized
    * read that a big table's delta budget would refuse. Shared by
    * [[changes]] and the V2 micro-batch CDC source
    * ([[graft.sources.v2.CdcSource]]) so the delta-sizing logic has
    * exactly one home.
    */
  private[sources] def cdcReadSet(a: Manifest, b: Manifest)
      : (Vector[FileEntry], Vector[FileEntry]) = {
    val bByPath = b.files.map(f => f.path -> f).toMap
    val skip: Set[String] =
      if (a.schema.isEmpty || b.schema.isEmpty ||
          (a.schemaDdl != b.schemaDdl && !evolutionCarrySafe(a, b)))
        Set.empty
      else a.files.filter(f => bByPath.get(f.path).contains(f) &&
        applicableDeletes(a, f) == applicableDeletes(b, f))
        .map(_.path).toSet
    (a.files.filterNot(f => skip(f.path)),
      b.files.filterNot(f => skip(f.path)))
  }

  /** Do the two versions' schemas differ ONLY by value-preserving
    * evolution — column renames (`b`'s rename log extends `a`'s, and
    * translating `a`'s spelling forward lands exactly on `b`'s) and
    * lossless type widening ([[canWiden]])? Under either, a file
    * carried verbatim holds bit-identical VALUES on both sides, so
    * the CDC verbatim-carry skip stays sound. Field order is
    * positional: rename/widen both preserve it, add/drop change the
    * field count and fail the zip.
    */
  private def evolutionCarrySafe(a: Manifest, b: Manifest): Boolean =
    (a.schema, b.schema) match {
      case (Some(sa), Some(sb)) if sa.length == sb.length &&
          b.renames.startsWith(a.renames) =>
        sa.fields.zip(sb.fields).forall { case (fa, fb) =>
          Renames.translate(b.renames, fa.name, a.version, b.version) ==
            fb.name &&
            (fa.dataType == fb.dataType || canWiden(fa.dataType, fb.dataType))
        }
      case _ => false
    }

  /** STREAMING VERSION LOG: an unbounded feed of the VERSIONS landing
    * at the store (column `version`, ascending within a commit burst
    * after the caller's batch-side dedup) — the typed subscription
    * surface a CDC consumer tails. Built as a file stream over
    * `manifests/` keyed by FILENAME: the commit CAS lands `v<N>.json`
    * atomically and the name IS the version, so the manifest CONTENT
    * format is free to evolve (segments, pretty-printing, new fields)
    * without a consumer ever parsing it — a content regex would
    * silently drop versions the moment the format changed. Emits one
    * row per file LINE (the text source's unit); multi-line manifests
    * therefore duplicate — consumers dedup batch-side
    * (`df.distinct()` in foreachBatch) before acting. Version 0 is
    * the initial state, not a change; consumers usually filter to
    * `version >= 1` and diff `(v-1, v)` via [[changes]].
    */
  def versionLogStream(spark: SparkSession, root: String): DataFrame =
    spark.readStream.format("text")
      .option("pathGlobFilter", "v*.json")
      .load(s"$root/manifests")
      .select(col("_metadata.file_path").as("__p"))
      .where(col("__p").rlike("/v\\d+\\.json$"))
      .select(regexp_extract(col("__p"), "/v(\\d+)\\.json$", 1)
        .cast("long").as("version"))

  /** Row count as of `version` — METADATA-ONLY: the manifest's
    * per-file row stats sum without touching a data file (what a
    * table format answers COUNT(*) from at 100 TB). Refuses when a
    * merge-on-read delete applies to some file of that version — the
    * manifest rows then overcount by the (unknown without a scan)
    * number of matched keys; [[applyDeletes]]/[[compact]] restore the
    * metadata answer, or count [[readAsOf]] for the scanned truth.
    */
  def countAsOf(root: String, version: Long): Long = {
    val m = manifest(root, version)
    require(m.files.forall(f => applicableDeletes(m, f).isEmpty),
      s"version $version has unmaterialized merge-on-read deletes — " +
        "countAsOf would overcount; applyDeletes/compact first or " +
        "count readAsOf")
    m.files.map(_.rows).sum
  }

  /** TAG a committed version with an immutable name (the Iceberg
    * tag-ref surface): `refs/<name>.json` pins the version so
    * [[readTag]] resolves it by name and [[vacuum]] RETAINS it — a
    * release can reference "the exact table the model trained on"
    * forever while routine retention drops everything else. Tags are
    * immutable: re-pointing is [[dropTag]] + tag. Lands via the same
    * atomic CREATE as manifests, so two writers racing one name get
    * one winner and one loud failure.
    */
  def tag(root: String, name: String, version: Long): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"bad tag name '$name' (letters, digits, '.', '_', '-')")
    manifest(root, version) // must exist (throws otherwise)
    fs.mkdirs(s"$root/refs")
    if (!fs.atomicCreateString(s"$root/refs/$name.json",
        s"""{"version":$version}"""))
      throw new IllegalArgumentException(
        s"tag '$name' already exists (tags are immutable — dropTag first)")
  }

  /** The version a tag pins. */
  def tagVersion(root: String, name: String): Long = {
    val p = s"$root/refs/$name.json"
    require(fs.exists(p), s"no tag '$name' under $root")
    "\"version\":(\\d+)".r.findFirstMatchIn(fs.readString(p))
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"bad tag file for '$name'"))
  }

  /** Read the table as pinned by a tag (deletes applied). */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    readAsOf(spark, root, tagVersion(root, name))

  /** All tags, name → version. */
  def tags(root: String): Map[String, Long] = {
    val dir = s"$root/refs"
    if (!fs.isDir(dir)) Map.empty
    else fs.list(dir)
      .flatMap(n => "(.+)\\.json".r.unapplySeq(n).flatMap(_.headOption))
      .filterNot(_.startsWith("."))
      .map(n => n -> tagVersion(root, n)).toMap
  }

  /** Remove a tag; its version becomes vacuum-eligible again. */
  def dropTag(root: String, name: String): Unit = {
    fs.delete(s"$root/refs/$name.json"); ()
  }

  /** BRANCHES (the Iceberg branch-ref surface): a named, MOVABLE ref
    * with its own commit line — tags that advance. A branch forks
    * from a main version: its version FILES live under
    * `manifests/branch-<name>/` (their own CAS namespace, so branch
    * commits NEVER perturb main's chain or its version numbering),
    * while manifest segments and data files share the store's pools
    * (creating a branch on a 100 k-file table writes ONE version
    * file carrying main's segments by reference). Branch version
    * numbers continue from the fork point, so `base..head` reads as
    * one lineage.
    *
    * The write-audit-publish workflow on a branch: commit batches to
    * `audit` ([[commitStagedEntries]] with `branch`, or the V2
    * write's `.option("branch", "audit")`), run the battery against
    * [[readBranch]], then [[fastForward]] main — a METADATA-ONLY
    * commit carrying the branch head's exact file entries (publish
    * is a pointer move, zero data I/O). Fast-forward REFUSES when
    * main moved past the fork point (the branch would overwrite
    * commits it never saw — re-fork and replay, the git rule).
    */
  def createBranch(root: String, name: String,
                   fromVersion: Long = -1L): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9._-]*"),
      s"bad branch name '$name' (letters, digits, '.', '_', '-')")
    val base = if (fromVersion < 0) currentManifest(root).version
               else fromVersion
    val m = manifest(root, base) // must exist (throws otherwise)
    val dir = vdir(root, Some(name))
    fs.mkdirs(dir)
    // the base marker doubles as the creation CAS: two writers racing
    // one branch name get one winner and one loud failure
    if (!fs.atomicCreateString(s"$dir/base.json", s"""{"base":$base}"""))
      throw new IllegalArgumentException(
        s"branch '$name' already exists (dropBranch first)")
    // a failed head write must not leave a phantom name reservation
    // (invisible to branches(), unreadable, yet refusing re-creation);
    // a hard crash inside this window leaves the same litter, which
    // dropBranch clears
    try { writeManifest(root, m, Some(name)); () }
    catch { case e: Throwable => fs.deleteRecursively(dir); throw e }
  }

  /** All branches, name → head version. */
  def branches(root: String): Map[String, Long] = {
    val dir = s"$root/manifests"
    if (!fs.isDir(dir)) Map.empty
    else fs.list(dir).filter(_.startsWith("branch-"))
      .map(_.stripPrefix("branch-"))
      .flatMap(n => versions(root, Some(n)).lastOption.map(n -> _)).toMap
  }

  /** Branch bookkeeping, one row per branch: (name, head version,
    * fork base, commits main has landed PAST the fork) — the last
    * being the STALENESS number an operator triages by: 0 means the
    * branch still fast-forwards; anything above means main moved and
    * the branch can only be dropped and re-forked (the git rule
    * [[fastForward]] enforces). Served by the `branches` metadata
    * table. Manifest-list-sized: one base file read per branch.
    */
  def branchInfo(root: String): Seq[(String, Long, Long, Long)] = {
    val mainHead = versions(root).lastOption.getOrElse(0L)
    branches(root).toSeq.sortBy(_._1).map { case (n, head) =>
      val base = branchBase(root, n)
      (n, head, base, math.max(0L, mainHead - base))
    }
  }

  /** The main version a branch forked from — what [[fastForward]]
    * checks main against.
    */
  private def branchBase(root: String, name: String): Long = {
    val p = s"${vdir(root, Some(name))}/base.json"
    require(fs.exists(p), s"no branch '$name' under $root")
    "\"base\":(\\d+)".r.findFirstMatchIn(fs.readString(p))
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"bad branch base file for '$name'"))
  }

  /** Read a branch's head (merge-on-read deletes applied) — the
    * audit view of pending branch commits.
    */
  def readBranch(spark: SparkSession, root: String, name: String): DataFrame =
    readWithDeletes(spark, root, currentManifest(root, Some(name)))

  /** PUBLISH a branch into main as a fast-forward: one metadata-only
    * main commit carrying the branch head's exact file entries (and
    * deletes/schema/segments) by reference — zero data files move.
    * Refuses unless main still sits at the branch's fork point; a
    * concurrent main commit landing inside the call loses the CAS
    * and refuses the same way.
    *
    * Branch-added entries RE-STAMP to the landed main version: seqs
    * are version arithmetic (`d.seq > f.seq` scopes deletes, `eraOf`
    * scopes renames), and carrying branch stamps ABOVE the landed
    * number would make main's next DELETE silently skip those files
    * and a next RENAME mis-era them. The collapse to ONE landed seq
    * is provably order-preserving when, for every POST-FORK delete
    * `d` and post-fork file `f`, `d.seq <= f.seq` — on the branch
    * such a delete shadowed no post-fork file (the rule is strict
    * `d.seq > f.seq`), and after both re-stamp to the landed version
    * it still shadows none, while fork-inherited files (seq <= base)
    * stay shadowed on both sides of the move. That covers the two
    * real row-level branch shapes: a delta commit (its delete and its
    * new rows share one seq) and delete-then-append. The one shape
    * the proof does NOT cover — a post-fork delete stamped ABOVE an
    * earlier post-fork file it genuinely shadows — REFUSES with
    * applyDeletes-on-the-branch guidance (materializing rewrites the
    * affected files and prunes the entry, after which the check
    * passes). Branch renames still refuse: collapsing seqs cannot
    * preserve an era boundary inside the fork.
    */
  def fastForward(root: String, name: String): Manifest = {
    val head = currentManifest(root, Some(name))
    val base = branchBase(root, name)
    val cur = currentManifest(root)
    if (cur.version != base) throw new java.util
      .ConcurrentModificationException(
        s"branch '$name' is not a fast-forward of main: it forked at " +
          s"version $base but main is at ${cur.version} — re-create the " +
          "branch from the current main and replay its commits")
    if (head.version == base) return cur // nothing committed on the branch
    require(head.renames == cur.renames,
      s"branch '$name' carries post-fork renames — collapsing branch " +
        "seqs cannot preserve an era boundary inside the fork")
    val postDel = head.deletes.filter(_.seq > base)
    if (postDel.nonEmpty) {
      val minFile = head.files.filter(_.seq > base).map(_.seq)
        .minOption.getOrElse(Long.MaxValue)
      val bad = postDel.filter(_.seq > minFile)
      require(bad.isEmpty,
        s"branch '$name' carries ${bad.size} post-fork delete(s) " +
          "stamped above an earlier post-fork file — the single-commit " +
          "re-stamp would un-shadow rows that delete covers; " +
          "materialize on the branch first (applyDeletes(branch)/" +
          "apply_deletes) and fast-forward the converged state")
    }
    val v = cur.version + 1
    val files = head.files.map(f => if (f.seq > base) f.copy(seq = v) else f)
    val dels = head.deletes.map(d => if (d.seq > base) d.copy(seq = v) else d)
    writeManifest(root, Manifest(v, head.keyCol, files,
      head.statsCols, head.schemaDdl, dels, head.segs,
      head.bloomBits, renames = head.renames, props = head.props))
  }

  /** Remove a branch; its unpublished files become vacuum-eligible. */
  def dropBranch(root: String, name: String): Unit =
    fs.deleteRecursively(vdir(root, Some(name)))

  /** Version-FILE directory of a ref: main's `manifests/`, a branch's
    * `manifests/branch-<name>/`. Manifest SEGMENTS always live in the
    * shared `manifests/` pool (a branch's base snapshot carries main's
    * segments BY REFERENCE — creating a branch on a 100 k-file table
    * writes one version file, not a file list).
    */
  private def vdir(root: String, branch: Option[String]): String =
    branch.map(b => s"$root/manifests/branch-$b")
      .getOrElse(s"$root/manifests")

  /** All committed versions of a ref, ascending. */
  def versions(root: String, branch: Option[String] = None): Seq[Long] = {
    val dir = vdir(root, branch)
    if (!fs.isDir(dir)) Seq.empty
    else fs.list(dir)
      .flatMap(n => "v(\\d+)\\.json".r.unapplySeq(n).flatMap(_.headOption))
      .map(_.toLong).sorted
  }

  /** The ONE protection set retention reclaims against — the
    * manifests of the retained MAIN versions plus EVERY branch
    * version: an unpublished audit branch's staged commits are
    * referenced state (the same contract `Staged` dirs get, but for
    * already-landed branch versions). Shared by [[vacuum]] and
    * [[expireSnapshots]], so the two reclamation paths' safety rules
    * can never diverge. Shared segments parse once via the cache.
    */
  private def retainedManifests(root: String, keep: Seq[Long],
      segCache: scala.collection.mutable.Map[String, Segment])
      : Seq[Manifest] =
    keep.map(v => manifest(root, v, segCache)) ++
      branches(root).keys.toSeq.sorted.flatMap(b =>
        versions(root, Some(b)).map(v =>
          manifest(root, v, segCache, branch = Some(b))))

  /** SNAPSHOT EXPIRY (the Iceberg `expire_snapshots` surface): bound
    * retained history BY POLICY rather than disk — without it a
    * year-old 100 TB table's manifest list grows until batch CDC's
    * oldest-retained refusal is the only pressure valve. Two policies,
    * combinable (Iceberg's composition rule: `retain_last` is a SAFETY
    * FLOOR on `older_than_versions`, never a widener):
    *
    *  - `olderThanVersions = N`: expire versions more than N commits
    *    behind the head;
    *  - `retainLast = N`: always keep the newest N (alone, it expires
    *    everything older).
    *
    * PROTECTION is exactly [[vacuum]]'s rule set: the current pointer
    * always survives, TAGGED versions always survive (the pin against
    * retention every refusal message recommends), and every BRANCH
    * version's files survive. Reclamation differs from vacuum's
    * loose-orphan sweep in not needing an age gate: only files
    * referenced EXCLUSIVELY by expired manifests delete (shared files
    * — anything carried into a retained version — survive by
    * construction), and an in-flight commit's just-moved files are
    * referenced by NO manifest yet, so they can never be in that set.
    *
    * After expiry: time-travel to an expired version refuses with
    * guidance ([[manifestAsOf]]'s retention message), the batch CDC
    * `oldest retained version` boundary moves up, and retained reads
    * are bit-identical (expiry never touches a retained manifest).
    * Expiring around a tagged ISLAND leaves a version-history gap;
    * version-walking consumers (the CDC default start, the streaming
    * admission walk) already iterate the RETAINED list.
    *
    * @return (manifests expired, exclusive data/delete files deleted)
    */
  def expireSnapshots(root: String, olderThanVersions: Long = -1L,
                      retainLast: Int = -1): (Int, Int) = {
    require(olderThanVersions >= 0 || retainLast >= 1,
      "expire_snapshots needs older_than_versions >= 0 and/or " +
        "retain_last >= 1 — a policy, not a default")
    val vs = versions(root)
    require(vs.nonEmpty, s"no snapshot-store manifests under $root")
    val head = vs.last
    val floor = math.max(retainLast, 1) // the head always survives
    val protectedTail = vs.takeRight(floor).toSet
    val tagged = tags(root).values.toSet
    val expire = vs.filter { v =>
      !protectedTail(v) && !tagged(v) &&
        (olderThanVersions < 0 || head - v > olderThanVersions)
    }
    if (expire.isEmpty) return (0, 0)
    val expireSet = expire.toSet
    val segCache = scala.collection.mutable.Map.empty[String, Segment]
    val expired = expire.map(v => manifest(root, v, segCache))
    val kept = retainedManifests(root, vs.filterNot(expireSet), segCache)
    val refFiles = kept.flatMap(_.files.map(_.path)).toSet
    val refDeletes = kept.flatMap(_.deletes.map(_.path)).toSet
    val refSegs = kept.flatMap(_.segs.map(_.path)).toSet
    val exFiles = expired.flatMap(_.files.map(_.path)).distinct
      .filterNot(refFiles)
    val exDeletes = expired.flatMap(_.deletes.map(_.path)).distinct
      .filterNot(refDeletes)
    val exSegs = expired.flatMap(_.segs.map(_.path)).distinct
      .filterNot(refSegs)
    // manifests first: once the version files are gone, the files
    // below are unreachable even if a crash interrupts mid-delete
    // (the next expire/vacuum sweep reclaims the rest)
    expire.foreach(v => fs.delete(s"$root/manifests/v$v.json"))
    exSegs.foreach(name => fs.delete(s"$root/manifests/$name"))
    (exFiles ++ exDeletes).foreach(p => fsDelete(s"$root/$p"))
    (expire.size, exFiles.size + exDeletes.size)
  }

  /** Drop all but the newest `keepLast` manifests — TAGGED versions
    * are always retained ([[tag]]) — and every LOOSE data or delete
    * file no kept manifest references (crashed-commit orphans
    * included). `data/.staged-*` directories are SKIPPED — they hold
    * pending write–audit–publish commits ([[Staged]]), which must
    * survive a maintenance vacuum running inside the audit window;
    * [[abort]] is their cleanup.
    *
    * The loose-orphan sweep is AGE-GATED by `orphanTtlMs` (default
    * 1 h): an unreferenced file younger than the TTL SURVIVES.
    * Optimistic concurrency makes cross-process writers legal, and
    * every commit path moves its files into `data/` (or its delete
    * parquet into `deletes/`) BEFORE the manifest CAS lands —
    * [[publish]]'s move→CAS window, [[deleteKeys]]' move→CAS window
    * — so to a concurrent vacuum an in-flight commit's files look
    * exactly like orphans. Deleting them would let the CAS then land
    * a manifest pointing at nothing. A real crashed-commit orphan is
    * by definition old; the TTL separates the two (the same
    * multi-day-threshold reasoning behind Iceberg's
    * remove-orphan-files). Set `orphanTtlMs = 0` ONLY when no writer
    * can be in flight anywhere (the old single-process contract).
    *
    * Scratch under `<root>/.tmp` is age-gated the same way by
    * `scratchTtlMs` (default 1 h) — a crashed write's leftovers go,
    * while a LIVE concurrent writer's seconds-old scratch
    * (deleteKeys retries make erasure/ingest/maintenance overlap
    * legal) survives.
    * @return (manifests dropped, data files deleted)
    */
  def vacuum(root: String, keepLast: Int,
             scratchTtlMs: Long = 3600000L,
             orphanTtlMs: Long = 3600000L): (Int, Int) = {
    require(keepLast >= 1)
    val now = System.currentTimeMillis()
    val vs = versions(root)
    val tagged = tags(root).values.toSet
    // TAGGED versions are retained regardless of age — a tag is the
    // contract that this exact table state stays reproducible
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepLast)) match {
      case (d, k) => (d.filterNot(tagged), k ++ d.filter(tagged))
    }
    val segCache = scala.collection.mutable.Map.empty[String, Segment]
    val kept = retainedManifests(root, keep, segCache)
    val referenced = kept.flatMap(_.files.map(_.path)).toSet
    val refDeletes = kept.flatMap(_.deletes.map(_.path)).toSet
    val refSegs = kept.flatMap(_.segs.map(_.path)).toSet
    drop.foreach(v => fs.delete(s"$root/manifests/v$v.json"))
    // all sweeps run off listStat: ONE listing pass per directory
    // carries name + kind + mtime (no per-file stat RPCs — 2 extra
    // round-trips per file on a 100 k-file data/ would dominate),
    // and entries deleted mid-listing by a racing writer are skipped
    // by the listing contract, never thrown.
    def agedStat(st: StoreFs.Stat, ttl: Long): Boolean =
      now - st.mtimeMs > ttl
    // manifest SEGMENTS referenced only by dropped versions (or left
    // by a lost publish CAS) go with them — metadata, not counted in
    // the data-file tally below. Age-gated like data orphans:
    // tryWriteManifest writes the segment file BEFORE the version
    // CAS, so a concurrent writer's fresh segment is in the same
    // move→CAS window as its data files.
    fs.listStat(s"$root/manifests")
      .filter(st => st.name.startsWith("seg-") &&
        !refSegs.contains(st.name) && agedStat(st, orphanTtlMs))
      .foreach(st => fs.delete(s"$root/manifests/${st.name}"))
    // loose orphans collect only past orphanTtlMs — a concurrent
    // writer's just-moved files awaiting their manifest CAS are
    // indistinguishable from orphans by reference-set alone
    val orphans = fs.listStat(s"$root/data")
      .filter(st => st.isFile && !referenced.contains(s"data/${st.name}") &&
        agedStat(st, orphanTtlMs))
    val delDir = s"$root/deletes"
    val delOrphans =
      if (!fs.isDir(delDir)) Vector.empty
      else fs.listStat(delDir).filter(st => st.isFile &&
        !refDeletes.contains(s"deletes/${st.name}") &&
        agedStat(st, orphanTtlMs))
    orphans.foreach(st => fs.delete(s"$root/data/${st.name}"))
    delOrphans.foreach(st => fs.delete(s"$delDir/${st.name}"))
    // commit/erasure scratch under <root>/.tmp: only entries older
    // than scratchTtlMs go (crashed-commit leftovers) — deleteKeys'
    // CAS-retry concurrency means a maintenance vacuum can overlap a
    // LIVE writer, whose seconds-old scratch must survive
    val tmpDir = s"$root/.tmp"
    if (fs.isDir(tmpDir))
      fs.listStat(tmpDir).foreach { st =>
        if (agedStat(st, scratchTtlMs))
          fs.deleteRecursively(s"$tmpDir/${st.name}")
      }
    (drop.size, orphans.size + delOrphans.size)
  }

  /** Remove the whole store (fixture hygiene: a re-run in one JVM
    * must not time-travel into a previous run's versions).
    */
  def destroy(root: String): Unit = fs.deleteRecursively(root)

  def currentManifest(root: String, branch: Option[String] = None): Manifest = {
    val vs = versions(root, branch)
    require(vs.nonEmpty,
      s"no snapshot-store manifests under ${vdir(root, branch)}")
    manifest(root, vs.last, branch = branch)
  }

  // ---------------------------------------------------------------

  private def readFiles(spark: SparkSession, root: String,
                        files: Seq[FileEntry],
                        schemaDdl: Option[String],
                        renames: Vector[Rename] = Vector.empty): DataFrame = {
    require(files.nonEmpty, "refusing to scan an empty file list " +
      "(schema would be lost); guard empty versions at the call site")
    schemaDdl match {
      case None =>
        spark.read.parquet(files.map(f => s"$root/${f.path}"): _*)
      case Some(d) =>
        // the DECLARED schema of the version being read: a column
        // added after a file was written reads as NULL from it; a
        // dropped column stops being projected; a WIDENED column
        // up-converts in the parquet reader. RENAMED columns split
        // the read by era: each group reads under its own PHYSICAL
        // names (same positions and types), then re-labels to the
        // declared names — a rename costs projection aliases, never
        // a rewrite.
        val declared = org.apache.spark.sql.types.StructType.fromDDL(d)
        files.groupBy(f => Renames.eraOf(renames, f.seq)).toSeq
          .sortBy(_._1)
          .map { case (_, fs) =>
            val phys = Renames.physicalSchema(declared, renames, fs.head.seq)
            val df = spark.read.schema(phys)
              .parquet(fs.map(f => s"$root/${f.path}"): _*)
            if (phys == declared) df else df.toDF(declared.fieldNames: _*)
          }.reduce(_ unionByName _)
    }
  }

  /** MERGE-ON-READ scan of `m.files`: files with no applicable delete
    * entry read plain (the overwhelming majority at scale — deletes
    * prune by seq + key range from metadata alone); the rest group by
    * their exact applicable-delete set and each group anti-joins the
    * union of those delete files on the key. Small delete sets (by
    * manifest row stats) broadcast explicitly; larger ones are left
    * to the planner. Row order is not guaranteed (callers sort).
    */
  private def readWithDeletes(spark: SparkSession, root: String,
                              m: Manifest): DataFrame = {
    // empty file lists fall through for readFiles' clear refusal
    // (an empty groupBy would die in reduce with a cryptic error)
    if (m.deletes.isEmpty || m.files.isEmpty)
      readFiles(spark, root, m.files, m.schemaDdl, m.renames)
    else {
      val groups = m.files.groupBy(f => applicableDeletes(m, f).map(_.path))
        .toSeq.sortBy(_._1.mkString(","))
      groups.map { case (dpaths, fs) =>
        val base = readFiles(spark, root, fs, m.schemaDdl, m.renames)
        if (dpaths.isEmpty) base
        else {
          val keys = spark.read.parquet(dpaths.map(p => s"$root/$p"): _*)
            .select(col(m.keyCol).as("__dk"))
          val dRows = m.deletes.filter(d => dpaths.contains(d.path))
            .map(_.rows).sum
          val del = if (dRows <= 4000000L) broadcast(keys) else keys
          base.join(del, col(m.keyCol) === col("__dk"), "left_anti")
        }
      }.reduce(_ unionByName _)
    }
  }

  /** Align `df` to the declared schema: missing nullable columns
    * null-fill (a batch written against the pre-evolution shape keeps
    * working), unknown columns are refused (a typo must not silently
    * drop data), order normalizes.
    */
  private def conform(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val have = df.columns.toSet
    val unknown = have -- schema.fieldNames.toSet
    require(unknown.isEmpty,
      s"batch columns not in the table schema: ${unknown.mkString(", ")}")
    df.select(schema.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Write `df` as new immutable data files with per-file key stats,
    * then land manifest `version` atomically.
    */
  private def commit(spark: SparkSession, df: DataFrame, root: String,
                     keyCol: String, carry: Vector[FileEntry],
                     version: Long, filesPerCommit: Int,
                     statsCols: Vector[String] = Vector.empty,
                     schemaDdl: Option[String] = None,
                     deletes: Vector[DeleteEntry] = Vector.empty,
                     segs: Vector[Segment] = Vector.empty,
                     layout: Option[org.apache.spark.sql.Column] = None,
                     layoutName: Option[String] = None,
                     bloomBits: Int = 0,
                     bucketN: Option[Int] = None,
                     renames: Vector[Rename] = Vector.empty,
                     props: Map[String, String] = Map.empty,
                     branch: Option[String] = None): Manifest =
    writeManifest(root, prepare(spark, df, root, keyCol, carry, version,
      filesPerCommit, statsCols, schemaDdl, deletes = deletes,
      segs = segs, layout = layout, layoutName = layoutName,
      bloomBits = bloomBits, bucketN = bucketN,
      renames = renames, props = props).manifest, branch)

  /** Everything [[commit]] does EXCEPT landing the manifest: data
    * files are written and stats'd, but the version stays invisible
    * until [[publish]] — the write side of write–audit–publish.
    *
    * `staged = true` lands the files under `data/.staged-<uuid>/`
    * (the [[Staged]] contract: invisible to [[vacuum]]'s orphan
    * sweep, moved into `data/` at publish); `false` (the direct
    * [[commit]] path, where the manifest lands in the same call)
    * writes straight into `data/`.
    */
  private def prepare(spark: SparkSession, df: DataFrame, root: String,
                     keyCol: String, carry: Vector[FileEntry],
                     version: Long, filesPerCommit: Int,
                     statsCols: Vector[String] = Vector.empty,
                     schemaDdl: Option[String] = None,
                     staged: Boolean = false,
                     appendOnly: Boolean = false,
                     deletes: Vector[DeleteEntry] = Vector.empty,
                     segs: Vector[Segment] = Vector.empty,
                     layout: Option[org.apache.spark.sql.Column] = None,
                     layoutName: Option[String] = None,
                     bloomBits: Int = 0,
                     bucketN: Option[Int] = None,
                     renames: Vector[Rename] = Vector.empty,
                     props: Map[String, String] = Map.empty): Staged = {
    // parsed before anything is written: a junk value fails the commit
    // without leaving data files behind
    val footerStatsKey = "spark.graft.store.footerStats"
    val footerStatsOn =
      spark.conf.get(footerStatsKey, "true").trim.toLowerCase(java.util.Locale.ROOT) match {
        case "true" => true
        case "false" => false
        case v => throw new IllegalArgumentException(
          s"""$footerStatsKey must be true or false, got "$v"""")
      }
    val uuid = java.util.UUID.randomUUID().toString.take(8)
    // scratch lives UNDER the store root — the hop into data/ below
    // is then same-filesystem by construction (an atomic move from
    // the system temp dir fails whenever /tmp is a different mount
    // than the store)
    val tmp = s"$root/.tmp/$uuid"
    fs.mkdirs(tmp)
    // conform to the declared schema (null-fill added-later columns,
    // refuse unknowns, normalize order) before anything is written
    val aligned = schemaDdl
      .map(d => conform(df, org.apache.spark.sql.types.StructType.fromDDL(d)))
      .getOrElse(df)
    // default layout: range-partition + sort by the KEY (tight
    // per-file key ranges → sharp range skipping); a caller-supplied
    // `layout` column (e.g. a Morton code) clusters by it instead —
    // multi-dimensional locality at the cost of wider key envelopes
    // BUCKETED layout (`bucketN`): rows cluster by the shared
    // bucket function (graft.functions.GraftBucket — the builtin
    // xxhash64, so the clustering column is codegen'd) and write
    // through partitionBy, ONE file per bucket (repartition on __b
    // sends each bucket wholly to one task). The bucket id is
    // MANIFEST metadata ("bucket(n,b)" per file), never a data
    // column — readers recompute it from the key.
    bucketN match {
      case Some(n) =>
        require(aligned.schema(keyCol).dataType ==
            org.apache.spark.sql.types.LongType,
          s"bucketed layout needs a BIGINT key ('$keyCol' is " +
            s"${aligned.schema(keyCol).dataType.sql}): an INT key " +
            "hashes through a different xxhash64 lane than the V2 " +
            "bucket function, and the layouts would silently disagree")
        aligned
          .withColumn("__b", pmod(xxhash64(col(keyCol)), lit(n)).cast("int"))
          .repartition(n, col("__b"))
          .sortWithinPartitions("__b", keyCol)
          .write.mode(SaveMode.Overwrite).partitionBy("__b").parquet(tmp)
      case None =>
        // repartitionByRange samples its child, so the child runs twice
        // (ROADMAP "commit-write double execution" is the fix)
        val src = layout match {
          case None => aligned
          case Some(z) => aligned.withColumn("__layout", z)
        }
        val clustered = layout match {
          case None => src.repartitionByRange(filesPerCommit, col(keyCol))
            .sortWithinPartitions(keyCol)
          case Some(_) => src
            .repartitionByRange(filesPerCommit, col("__layout"))
            .sortWithinPartitions("__layout")
            .drop("__layout")
        }
        clustered.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    val destRel = if (staged) s"$stagePrefix$uuid" else "data"
    fs.mkdirs(s"$root/$destRel")
    // (source-relative-path, bucket-id) pairs to move; bucketed
    // writes nest under __b=<id> dirs, flat writes sit in tmp root
    val toMove: Vector[(String, Option[Int])] = bucketN match {
      case Some(_) =>
        fs.list(tmp).filter(_.startsWith("__b="))
          .sortBy(d => d.stripPrefix("__b=").toInt)
          .flatMap { dir =>
            val b = dir.stripPrefix("__b=").toInt
            fs.list(s"$tmp/$dir").filter(_.endsWith(".parquet"))
              .map(f => (s"$dir/$f", Some(b)))
          }
      case None =>
        fs.list(tmp).filter(_.endsWith(".parquet")) // fs.list is name-sorted
          .map(f => (f, None))
    }
    val bucketOf = scala.collection.mutable.Map.empty[String, Int]
    val moved = toMove.zipWithIndex.map { case ((p, b), i) =>
      val name = s"$uuid-$i.parquet"
      fs.move(s"$tmp/$p", s"$root/$destRel/$name")
      b.foreach(bucketOf(name) = _)
      name
    }
    fs.deleteRecursively(tmp)
    // per-file (min, max, rows) stats WITHOUT re-reading the data:
    // the parquet footers the write just produced already hold exact
    // integer min/max/null counts per column chunk, so for integral
    // key/zone columns the commit path reads O(files) footers instead
    // of re-scanning every byte it just wrote — at 100 TB an appended
    // batch would otherwise pay a full second pass before its manifest
    // can land. Bit-parity with the scan below: integer footer stats
    // are exact (no truncation, unlike binary), cast-to-long of an
    // integral column is monotone so cast(min)=min(cast), and the
    // NULL-key refusal fires from the footer null counts exactly where
    // the scan's count(__k) check would. Anything the footers cannot
    // prove (non-integral types, bloom aggregation requested, missing
    // or untrusted statistics, any read error) falls through to the
    // scan path unchanged — `spark.graft.store.footerStats=false`
    // forces the scan.
    val footerStats: Option[Vector[FileEntry]] =
      if (moved.isEmpty || bloomBits > 0 || !footerStatsOn)
        None
      else {
        import org.apache.spark.sql.types._
        val integral = (keyCol +: statsCols).forall(c =>
          aligned.schema.fields.find(_.name == c).exists(_.dataType match {
            case LongType | IntegerType | ShortType | ByteType => true
            case _ => false
          }))
        if (!integral) None
        else footerFileStats(spark, moved.map(n => s"$root/$destRel/$n"),
          keyCol, statsCols).map { per =>
          val badKeys = per.map(p => p.rows - p.keyNonNull).sum
          if (badKeys > 0) {
            moved.foreach(n => fs.delete(s"$root/$destRel/$n"))
            if (staged) fs.delete(s"$root/$destRel")
            throw new IllegalArgumentException(
              s"snapshot-store commit rejected: $badKeys row(s) with NULL or " +
              s"non-long-castable key column '$keyCol'; filter or repair " +
              "them before committing")
          }
          // the scan path omits files no row groups back (empty
          // partitions write no rows) — mirror that by dropping
          // zero-row files here too
          per.filter(_.rows > 0L).map { p =>
            val name = p.path.split('/').last
            FileEntry(s"$destRel/$name", p.keyMin, p.keyMax, p.rows,
              p.zone, seq = version, bloom = None, bytes = p.bytes,
              layout = bucketN.flatMap(n => bucketOf.get(name)
                .map(graft.functions.GraftBucket.layoutName(n, _)))
                .orElse(layoutName))
          }
        }
      }
    // one scan of ONLY the new files for (min, max, rows) per file —
    // key stats + every declared zone-map column together; the
    // metadata column avoids a per-file job
    val stats = footerStats.getOrElse {
      if (moved.isEmpty) Vector.empty
      else {
        val extra = statsCols.flatMap(c => Seq(
          min(col(c).cast("long")).as(s"__mn_$c"),
          max(col(c).cast("long")).as(s"__mx_$c"))) ++
          (if (bloomBits > 0)
            Seq(graft.functions.KeyBloom.agg(col("__k"), bloomBits)
              .as("__bloom"))
           else Nil)
        // any stats-scan failure (e.g. an ANSI cast error on a
        // malformed key) rolls the moved files back so a failed commit
        // never leaves orphans
        val rows =
          try spark.read.parquet(moved.map(n => s"$root/$destRel/$n"): _*)
            .select(col(keyCol).cast("long").as("__k") +:
              col("_metadata.file_path").as("__f") +:
              col("_metadata.file_size").as("__fsz") +: statsCols.map(col): _*)
            .groupBy("__f")
            // file bytes ride the same scan via the metadata column —
            // a per-file fs stat RPC after the job would pay N extra
            // round-trips on the commit critical path
            .agg(min("__k").as("mn"),
              (max("__k").as("mx") +: count(lit(1)).as("n") +:
                count(col("__k")).as("__nk") +:
                min("__fsz").as("__sz") +: extra): _*)
            .collect().toVector
          catch { case e: Throwable =>
            moved.foreach(n => fs.delete(s"$root/$destRel/$n"))
            if (staged) fs.delete(s"$root/$destRel")
            throw e
          }
        // a NULL (or non-long-castable) key would be invisible to merge
        // hit-detection and range skipping, and nulls its file's min/max
        // — refuse the commit with the data files rolled back so the
        // store is untouched (the manifest, which IS the commit, never
        // lands). Detection piggybacks on the stats scan: no extra pass.
        val badKeys = rows.map(r => r.getLong(3) - r.getLong(4)).sum
        if (badKeys > 0) {
          moved.foreach(n => fs.delete(s"$root/$destRel/$n"))
          if (staged) fs.delete(s"$root/$destRel")
          throw new IllegalArgumentException(
            s"snapshot-store commit rejected: $badKeys row(s) with NULL or " +
            s"non-long-castable key column '$keyCol'; filter or repair " +
            "them before committing")
        }
        rows.map { r =>
          val name = r.getString(0).split('/').last
          val zone = statsCols.flatMap { c =>
            val (iMn, iMx) = (r.fieldIndex(s"__mn_$c"), r.fieldIndex(s"__mx_$c"))
            if (r.isNullAt(iMn) || r.isNullAt(iMx)) None
            else Some(c -> (r.getLong(iMn), r.getLong(iMx)))
          }.toMap
          val bloom =
            if (bloomBits <= 0) None
            else Some(java.util.Base64.getEncoder.encodeToString(
              r.getAs[Array[Byte]](r.fieldIndex("__bloom"))))
          FileEntry(s"$destRel/$name", r.getLong(1), r.getLong(2),
            r.getLong(3), zone, seq = version, bloom = bloom,
            bytes = r.getLong(r.fieldIndex("__sz")),
            layout = bucketN.flatMap(n => bucketOf.get(name)
              .map(graft.functions.GraftBucket.layoutName(n, _)))
              .orElse(layoutName))
        }
      }
    }
    Staged(Manifest(version, keyCol,
      carry ++ stats.sortBy(_.path), statsCols, schemaDdl, deletes, segs,
      bloomBits, renames = renames, props = props),
      moved.map(n => s"$destRel/$n"), version - 1, appendOnly)
  }

  /** Per-file stats as the write task already recorded them: rows,
    * non-null key count, key min/max and zone-column min/max read from
    * the parquet FOOTERS (exact for integral columns), file bytes from
    * the same open. `None` whenever any footer lacks a trustworthy
    * statistic (missing column, stats not written, non-integral
    * physical type, unreadable file) — the caller then falls back to
    * the distributed stats scan. Never throws.
    */
  private def footerFileStats(spark: SparkSession, paths: Vector[String],
      keyCol: String, statsCols: Vector[String]): Option[Vector[FooterStat]] =
    try {
      val hconf = spark.sparkContext.hadoopConfiguration
      val out = Vector.newBuilder[FooterStat]
      var ok = true
      val it = paths.iterator
      while (ok && it.hasNext) {
        val p = it.next()
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), hconf)
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val blocks = rd.getFooter.getBlocks.asScala.toVector
          val rows = blocks.map(_.getRowCount).sum
          // (nulls, Some(min, max) | None-if-all-null) per column; None
          // at the outer level = stats not trustworthy, bail to scan
          def colAgg(c: String): Option[(Long, Option[(Long, Long)])] = {
            var nulls = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
            var seen = false; var good = true
            for (b <- blocks if good) {
              b.getColumns.asScala.find(_.getPath.toDotString == c) match {
                case None => good = false
                case Some(cc) =>
                  val pt = cc.getPrimitiveType.getPrimitiveTypeName
                  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
                  val st = cc.getStatistics
                  if ((pt != INT32 && pt != INT64) || st == null ||
                      !st.isNumNullsSet) good = false
                  else {
                    nulls += st.getNumNulls
                    if (st.hasNonNullValue) {
                      (st.genericGetMin, st.genericGetMax) match {
                        case (lo: Number, hi: Number) =>
                          if (lo.longValue < mn) mn = lo.longValue
                          if (hi.longValue > mx) mx = hi.longValue
                          seen = true
                        case _ => good = false
                      }
                    } else if (st.getNumNulls != b.getRowCount) good = false
                    // else: an all-null chunk legitimately has no values
                  }
              }
            }
            if (!good) None
            else Some((nulls, if (seen) Some((mn, mx)) else None))
          }
          colAgg(keyCol) match {
            case None => ok = false
            case Some((kNulls, kMm)) =>
              val zones = statsCols.map(c => c -> colAgg(c))
              if (zones.exists(_._2.isEmpty)) ok = false
              else {
                val zone = zones.flatMap { case (c, agg) =>
                  agg.get._2.map(mm => c -> mm) }.toMap
                val (kMin, kMax) = kMm.getOrElse((0L, 0L)) // only read
                // when keyNonNull > 0 (the caller refuses on null keys)
                out += FooterStat(p, rows, rows - kNulls, kMin, kMax,
                  zone, in.getLength)
              }
          }
        } finally rd.close()
      }
      if (ok) Some(out.result()) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Land a manifest, refusing (never clobbering) if the version was
    * raced in by another writer — every commit path goes through here,
    * so a lost race surfaces as a loud
    * `ConcurrentModificationException` instead of a silently
    * overwritten (lost) commit.
    */
  private def writeManifest(root: String, m: Manifest,
                            branch: Option[String] = None): Manifest =
    tryWriteManifest(root, m, branch).getOrElse(
      throw new java.util.ConcurrentModificationException(
        s"snapshot-store version ${m.version} was committed by another " +
          "writer concurrently — re-read the current version and retry " +
          "(appends can stage + publish, which rebases automatically)"))

  /** Cap on segments per version: past this the writer collapses the
    * whole file list into one fresh segment (metadata compaction —
    * the old segments become vacuumable with their old versions).
    * 64 keeps version-file reads cheap while an append-every-commit
    * workload still amortizes to O(delta) writes.
    */
  private val MaxSegments = 64

  private def entryJson(f: FileEntry): String = {
    val zone =
      if (f.stats.isEmpty) ""
      else f.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s""""$c":[$mn,$mx]""" }.mkString(""","stats":{""", ",", "}")
    val bl = f.bloom.map(b => s""","bloom":"$b"""").getOrElse("")
    val by = if (f.bytes > 0) s""","bytes":${f.bytes}""" else ""
    val ly = f.layout.map(l => s""","layout":"$l"""").getOrElse("")
    s"""{"path":"${f.path}","minKey":${f.minKey},"maxKey":${f.maxKey},"rows":${f.rows},"seq":${f.seq}$by$zone$bl$ly}"""
  }

  /** CAS attempt: the manifest lands via the substrate's
    * [[StoreFs.atomicCreateString]] — an atomic full-content CREATE
    * that FAILS if `v<N>.json` already exists (hard link on POSIX,
    * rename-without-replace on HDFS, a catalog CAS on object
    * stores). None = another writer owns this version number.
    *
    * SEGMENTED: file entries land in immutable `seg-<uuid>.json`
    * side files; the version file lists segment paths. Every carried
    * segment whose entries ALL survive verbatim in `m.files` (exact
    * case-class equality — a rewritten or re-sequenced file never
    * aliases a stale segment) is reused BY REFERENCE; the remaining
    * entries write as ONE new batch-sized segment. Commit metadata
    * I/O is therefore O(changed files + segment count), not O(table
    * files) — the Iceberg manifest-list shape that keeps a 100 k-file
    * table's append from rewriting a 100 k-entry JSON each commit.
    * Returns the manifest REORDERED to segment order (what a re-read
    * will see); a lost CAS deletes the just-written segment.
    */
  private def tryWriteManifest(root: String, m: Manifest,
                               branch: Option[String] = None)
      : Option[Manifest] = {
    val dir = s"$root/manifests" // SEGMENTS: the shared pool
    val have = m.files.toSet
    var covered = Set.empty[String]
    val reusable = m.segs.filter { s =>
      val ok = s.entries.nonEmpty && s.entries.forall(have) &&
        !s.entries.exists(e => covered(e.path))
      if (ok) covered ++= s.entries.map(_.path)
      ok
    }
    val leftover = m.files.filterNot(f => covered(f.path))
    val collapse =
      reusable.size + (if (leftover.nonEmpty) 1 else 0) > MaxSegments
    val (carrySegs, newEntries) =
      if (collapse) (Vector.empty[Segment], m.files) else (reusable, leftover)
    val newSegs =
      if (newEntries.isEmpty) Vector.empty[Segment]
      else {
        val name =
          s"seg-${java.util.UUID.randomUUID().toString.take(8)}.json"
        fs.writeString(s"$dir/$name",
          newEntries.map(entryJson).mkString("""{"files":[""", ",", "]}"))
        Vector(Segment(name, newEntries))
      }
    val allSegs = carrySegs ++ newSegs
    val segList = allSegs.map(s => s""""${s.path}"""").mkString("[", ",", "]")
    val dels =
      if (m.deletes.isEmpty) ""
      else m.deletes.map(d =>
        s"""{"path":"${d.path}","minKey":${d.minKey},"maxKey":${d.maxKey},"rows":${d.rows},"seq":${d.seq}}""")
        .mkString(""","deletes":[""", ",", "]")
    val cols = m.statsCols.map(c => s""""$c"""").mkString("[", ",", "]")
    val sch = m.schemaDdl.map(d =>
      s""","schemaDdl":"${d.replace("\\", "\\\\").replace("\"", "\\\"")}"""")
      .getOrElse("")
    val bb = if (m.bloomBits > 0) s""","bloomBits":${m.bloomBits}""" else ""
    val tx = m.txn.map(t => s""","txn":"$t"""").getOrElse("")
    val rn =
      if (m.renames.isEmpty) ""
      else m.renames.map(r =>
        s"""{"v":${r.v},"from":"${r.from}","to":"${r.to}"}""")
        .mkString(""","renames":[""", ",", "]")
    // TABLE PROPERTIES (sorted for byte-stable manifests); keys and
    // values were validated at set time (no quotes/braces), so the
    // dependency-free parser's flat regex stays sound
    val pr =
      if (m.props.isEmpty) ""
      else m.props.toSeq.sorted.map { case (k, v) => s""""$k":"$v"""" }
        .mkString(""","props":{""", ",", "}")
    val json =
      s"""{"version":${m.version},"keyCol":"${m.keyCol}"$sch,"statsCols":$cols$bb$tx$rn$pr,"segments":$segList$dels}"""
    if (fs.atomicCreateString(s"${vdir(root, branch)}/v${m.version}.json",
        json))
      Some(m.copy(files = allSegs.flatMap(_.entries), segs = allSegs))
    else {
      newSegs.foreach(s => fs.delete(s"$dir/${s.path}"))
      None
    }
  }

  /** Substrate file size — the V2 source's fallback for pre-byte-stats
    * manifest entries.
    */
  private[sources] def fsSizeBytes(path: String): Long = fs.sizeBytes(path)

  /** Commit wall-clock of version `v` (the version file's mtime) —
    * what SQL `TIMESTAMP AS OF` resolves against. Commit time, not
    * data time: the same contract Iceberg/Delta time travel has.
    */
  private[sources] def versionTimestampMs(root: String, v: Long): Long =
    fs.mtimeMs(s"$root/manifests/v$v.json")

  /** Manifest of `version` — the planning surface the V2 source
    * ([[graft.sources.v2.SnapshotSource]]) selects files from.
    */
  def manifestAsOf(root: String, version: Long): Manifest =
    manifest(root, version)

  /** One bookkeeping row per retained version — (version,
    * committedAtMs, files, rows, bytes, deleteFiles) — the metadata
    * `history` table's content. Versions share unchanged manifest
    * SEGMENTS; the walk parses each segment file ONCE (the shared
    * cache), so history over V versions of an F-file table is
    * O(distinct segments), not O(V x F) driver parse.
    */
  def history(root: String): Vector[(Long, Long, Long, Long, Long, Long)] = {
    val cache = scala.collection.mutable.Map.empty[String, Segment]
    versions(root).toVector.map { v =>
      val m = manifest(root, v, cache)
      (v, versionTimestampMs(root, v), m.files.size.toLong,
        m.files.map(_.rows).sum, m.files.map(_.bytes).sum,
        m.deletes.size.toLong)
    }
  }

  private def manifest(root: String, version: Long,
                       segCache: scala.collection.mutable.Map[String, Segment]
                         = null,
                       branch: Option[String] = None): Manifest = {
    val p = s"${vdir(root, branch)}/v$version.json"
    if (!fs.exists(p)) {
      val vs = versions(root, branch)
      throw new IllegalArgumentException(
        s"snapshot-store version $version does not exist under " +
          vdir(root, branch) +
          (if (vs.isEmpty) " (no versions committed)"
           else s" — it may have been expired or vacuumed by retention " +
             s"(tag a version to pin it); available: ${vs.mkString(", ")}"))
    }
    val json = fs.readString(p)
    // dependency-free parse of the format writeManifest controls
    val keyCol = "\"keyCol\":\"([^\"]+)\"".r.findFirstMatchIn(json)
      .map(_.group(1)).getOrElse(sys.error(s"bad manifest v$version"))
    val schemaDdl = "\"schemaDdl\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
      .findFirstMatchIn(json).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\"))
    val statsCols = "\"statsCols\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(json).map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(',').toVector.map(_.trim.stripPrefix("\"").stripSuffix("\"")))
      .getOrElse(Vector.empty)
    val bloomBits = "\"bloomBits\":(\\d+)".r.findFirstMatchIn(json)
      .map(_.group(1).toInt).getOrElse(0)
    val txn = "\"txn\":\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1))
    val renames = "\"renames\":\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map { arr =>
        ("\\{\"v\":(\\d+),\"from\":\"([^\"]+)\"," +
          "\"to\":\"([^\"]+)\"\\}").r.findAllMatchIn(arr.group(1))
          .map(r => Rename(r.group(1).toLong, r.group(2), r.group(3)))
          .toVector
      }.getOrElse(Vector.empty)
    val props = "\"props\":\\{([^}]*)\\}".r.findFirstMatchIn(json)
      .map { obj =>
        "\"([^\"]+)\":\"([^\"]*)\"".r.findAllMatchIn(obj.group(1))
          .map(kv => kv.group(1) -> kv.group(2)).toMap
      }.getOrElse(Map.empty[String, String])
    val entry = ("\\{\"path\":\"([^\"]+)\",\"minKey\":(-?\\d+)," +
      "\"maxKey\":(-?\\d+),\"rows\":(\\d+)(?:,\"seq\":(\\d+))?" +
      "(?:,\"bytes\":(\\d+))?" +
      "(?:,\"stats\":\\{([^}]*)\\})?(?:,\"bloom\":\"([^\"]+)\")?" +
      "(?:,\"layout\":\"([^\"]+)\")?\\}").r
    val zonePair = "\"([^\"]+)\":\\[(-?\\d+),(-?\\d+)\\]".r
    def parseEntries(s: String): Vector[FileEntry] =
      entry.findAllMatchIn(s).map { m =>
        val zone = Option(m.group(7)).map { z0 =>
          zonePair.findAllMatchIn(z0)
            .map(z => z.group(1) -> (z.group(2).toLong, z.group(3).toLong))
            .toMap
        }.getOrElse(Map.empty[String, (Long, Long)])
        FileEntry(m.group(1), m.group(2).toLong, m.group(3).toLong,
          m.group(4).toLong, zone,
          seq = Option(m.group(5)).map(_.toLong).getOrElse(0L),
          bloom = Option(m.group(8)),
          bytes = Option(m.group(6)).map(_.toLong).getOrElse(0L),
          layout = Option(m.group(9)))
      }.toVector
    // delete entries share the files' shape — scope the inline-files
    // parse to the json BEFORE the "deletes" array, the deletes parse
    // to the part after
    val cut = json.indexOf("\"deletes\":")
    val (headJson, delJson) =
      if (cut < 0) (json, "") else (json.substring(0, cut), json.substring(cut))
    // segmented layout (current): the version file lists seg-*.json
    // side files holding the entries; legacy layout inlines "files"
    val segs = "\"segments\":\\[([^\\]]*)\\]".r.findFirstMatchIn(headJson)
      .map(_.group(1)) match {
      case Some(list) =>
        "\"([^\"]+)\"".r.findAllMatchIn(list).map(_.group(1)).toVector
          .map { name =>
            def load = Segment(name, parseEntries(
              fs.readString(s"$root/manifests/$name")))
            // segment files are immutable once written — a caller
            // walking many versions (the history table) passes a
            // cache so each distinct segment parses once
            if (segCache == null) load
            else segCache.getOrElseUpdate(name, load)
          }
      case None => Vector.empty
    }
    val files =
      if (segs.nonEmpty) segs.flatMap(_.entries)
      else parseEntries(headJson)
    val deletes = entry.findAllMatchIn(delJson).map { m =>
      DeleteEntry(m.group(1), m.group(2).toLong, m.group(3).toLong,
        m.group(4).toLong, Option(m.group(5)).map(_.toLong).getOrElse(0L))
    }.toVector
    Manifest(version, keyCol, files, statsCols, schemaDdl, deletes, segs,
      bloomBits, txn, renames, props)
  }
}

/** Footer-derived per-file statistics (see
  * `SnapshotStoreOps.footerFileStats`): rows, non-null key count, key
  * min/max, zone-column envelopes and file bytes — everything the
  * commit path's stats scan would compute, read from parquet metadata.
  */
private[sources] final case class FooterStat(path: String, rows: Long,
    keyNonNull: Long, keyMin: Long, keyMax: Long,
    zone: Map[String, (Long, Long)], bytes: Long)

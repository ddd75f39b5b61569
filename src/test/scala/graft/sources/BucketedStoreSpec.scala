package graft.sources

import graft.SparkTest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed tables must deliver what they exist for: a join on the
  * bucket key with matching bucket counts runs WITHOUT a shuffle on
  * either side (and without re-sorting, since buckets are written
  * sorted).
  */
class BucketedStoreSpec extends AnyFunSuite with SparkTest {

  private val sf = "/root/testdata/sf0.001"

  /** Managed-table locations survive the per-JVM derby metastore; an
    * orphan dir from an earlier test JVM fails CREATE TABLE, so drop
    * both the catalog entry and the location.
    */
  private def reset(tables: String*): Unit = tables.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (loc.exists()) rm(loc)
  }

  test("bucketed join: no exchange on either side, values intact") {
    reset("b_docs", "b_splits")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    BucketedStore.writeBucketed(
      docs.select("doc_id", "source", "n_chars"), "b_docs", Seq("doc_id"), 8)
    BucketedStore.writeBucketed(
      docs.select(col("doc_id"),
        graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split")),
      "b_splits", Seq("doc_id"), 8)

    // at test scale the planner would broadcast (also exchange-free, but
    // not what bucketing exists for); force the 100 TB-shaped plan —
    // a sort-merge join over co-located, pre-sorted buckets
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = BucketedStore.read(spark, "b_docs")
        .join(BucketedStore.read(spark, "b_splits"), Seq("doc_id"))
      val physical = joined.queryExecution.executedPlan.toString

      assert(physical.contains("SortMergeJoin"), physical)
      assert(!physical.contains("Exchange"), physical)
      assert(joined.count() == docs.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val joined = BucketedStore.read(spark, "b_docs")
      .join(BucketedStore.read(spark, "b_splits"), Seq("doc_id"))
    // a non-bucketed version of the same join must produce identical rows
    val plain = docs.select("doc_id", "source", "n_chars")
      .join(docs.select(col("doc_id"),
        graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 80, "val" -> 10, "test" -> 10)).as("split")),
        Seq("doc_id"))
    val a = joined.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val b = plain.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("date-partitioned store: range scan prunes partitions, rows exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val obs = (1 to 20).flatMap(day => (0 until 4).map(h =>
      (ts(day, h * 6), day.toLong, 1L, day * 10.0 + h))).toDF("tfrom", "statid", "seid", "seval")
    PartitionedStore.writeByDay(obs, dir)

    val read = PartitionedStore.read(spark, dir)
    val ranged = PartitionedStore.prunedRange(read, "tfrom",
      java.sql.Timestamp.valueOf("2024-01-05 06:00:00"),
      java.sql.Timestamp.valueOf("2024-01-07 12:00:00"))
    val physical = ranged.queryExecution.executedPlan.toString
    // the date bounds must reach the directory listing...
    val scanLine = physical.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("obs_date"), scanLine)
    // ...and the row bounds stay exact within the boundary days
    val got = ranged.select("tfrom").collect().map(_.getTimestamp(0)).sorted
    assert(got.head == ts(5, 6) && got.last == ts(7, 12))
    assert(got.length == (4 - 1) + 4 + 3) // day5 from 06h, day6 full, day7 to 12h
  }

  test("compaction: many small files become few, rows identical") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_small").toString
    val out = java.nio.file.Files.createTempDirectory("graft_compact").toString
    (0L until 5000L).toDF("id").repartition(64).write
      .mode("overwrite").parquet(in)
    val smallFiles = new java.io.File(in).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(smallFiles == 64)
    Compaction.compact(spark, in, out, targetBytes = Compaction.dataBytes(spark, in))
    val bigFiles = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(bigFiles == 1, s"got $bigFiles files")
    val a = spark.read.parquet(in).as[Long].collect().sorted.toSeq
    val b = spark.read.parquet(out).as[Long].collect().sorted.toSeq
    assert(a == b)
  }

  test("jsonl store: even gzip shards, schema-true round trip incl. hostile text") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    // newlines, quotes, backslashes, unicode — everything JSON must escape
    val docs = (0L until 250L).map(i =>
      (i, s"line1\nline2 \"q\" \\ tab\t café ${i}")).toDF("id", "text")
    JsonlStore.write(docs, out, rowsPerShard = 100)
    val shards = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".json.gz"))
    assert(shards == 3, s"got $shards shards") // ceil(250/100)
    val back = JsonlStore.read(spark, out, docs.schema)
    // JSON sources surface every field nullable — names and types must
    // round-trip; nullability is the format's, not ours
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      docs.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val a = docs.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = back.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(a == b)
  }

  test("mismatched bucket counts fall back to a correct shuffled join") {
    // self-contained: create BOTH tables here (no dependence on the
    // 8-bucket table another test happens to leave behind)
    reset("b_docs4", "b_docs8")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    BucketedStore.writeBucketed(
      docs.select("doc_id", "n_chars"), "b_docs4", Seq("doc_id"), 4)
    BucketedStore.writeBucketed(
      docs.select("doc_id", "source"), "b_docs8", Seq("doc_id"), 8)
    val joined = BucketedStore.read(spark, "b_docs4")
      .join(BucketedStore.read(spark, "b_docs8"), Seq("doc_id"))
    assert(joined.count() == docs.count()) // correctness regardless of layout
  }

  test("mergeByDay rewrites only the touched day partitions, values exact") {
    import spark.implicits._
    val rows = for (day <- 1 to 4; h <- 0 until 3) yield
      (java.sql.Timestamp.valueOf(f"2024-01-0$day $h%02d:00:00"),
        day.toLong, 1L, day * 10.0 + h)
    val obs = rows.toDF("tfrom", "statid", "seid", "seval")
    val path = java.nio.file.Files.createTempDirectory("merge_spec")
      .toString + "/store"
    PartitionedStore.writeByDay(obs, path)
    def partFiles(): Map[String, Set[String]] =
      new java.io.File(path).listFiles().filter(_.isDirectory)
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet)
        .toMap
    val before = partFiles()
    // the batch touches ONLY day 2: one update + one insert
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), 2L, 1L, 999.0),
      (java.sql.Timestamp.valueOf("2024-01-02 05:00:00"), 7L, 1L, 42.0))
      .toDF("tfrom", "statid", "seid", "seval")
    PartitionedStore.mergeByDay(spark, batch, path,
      Seq("tfrom", "statid", "seid"))
    val after = partFiles()
    // untouched partitions keep their exact files (names unchanged —
    // a rewrite always generates fresh part-file UUIDs)
    for (day <- Seq(1, 3, 4))
      assert(before(s"obs_date=2024-01-0$day") == after(s"obs_date=2024-01-0$day"),
        s"day $day must not be rewritten")
    assert(before("obs_date=2024-01-02") != after("obs_date=2024-01-02"))
    // merged content: 12 original + 1 insert; the update replaced
    val got = PartitionedStore.read(spark, path)
      .select("tfrom", "statid", "seid", "seval")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    assert(got.size == 13)
    assert(got((java.sql.Timestamp.valueOf("2024-01-02 01:00:00"), 2L, 1L)) == 999.0)
    assert(got((java.sql.Timestamp.valueOf("2024-01-02 05:00:00"), 7L, 1L)) == 42.0)
    // a neighbor row in the touched partition survives untouched
    assert(got((java.sql.Timestamp.valueOf("2024-01-02 02:00:00"), 2L, 1L)) == 22.0)
  }

  test("mergeByDay is idempotent: re-merging the same batch changes nothing") {
    import spark.implicits._
    val rows = for (day <- 1 to 2; h <- 0 until 3) yield
      (java.sql.Timestamp.valueOf(f"2024-03-0$day $h%02d:00:00"),
        day.toLong, 1L, day * 10.0 + h)
    val obs = rows.toDF("tfrom", "statid", "seid", "seval")
    val path = java.nio.file.Files.createTempDirectory("merge_idem")
      .toString + "/store"
    PartitionedStore.writeByDay(obs, path)
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-03-01 01:00:00"), 1L, 1L, 777.0))
      .toDF("tfrom", "statid", "seid", "seval")
    def state() = PartitionedStore.read(spark, path)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    PartitionedStore.mergeByDay(spark, batch, path, Seq("tfrom", "statid", "seid"))
    val once = state()
    // the exactly-once story for the streaming upsert loop: a replayed
    // micro-batch (failure recovery) lands on the same state
    PartitionedStore.mergeByDay(spark, batch, path, Seq("tfrom", "statid", "seid"))
    assert(state() == once)
    assert(once.contains((java.sql.Timestamp.valueOf("2024-03-01 01:00:00"),
      1L, 1L, 777.0)))
    assert(once.size == 6)
  }

  test("deleteByDay erases keys; a fully-erased day drops its directory") {
    import spark.implicits._
    val rows = for (day <- 1 to 3; h <- 0 until 2) yield
      (java.sql.Timestamp.valueOf(f"2024-02-0$day $h%02d:00:00"),
        day.toLong, 1L, day * 10.0 + h)
    val obs = rows.toDF("tfrom", "statid", "seid", "seval")
    val path = java.nio.file.Files.createTempDirectory("del_spec")
      .toString + "/store"
    PartitionedStore.writeByDay(obs, path)
    // erase ONE row of day 1, and ALL of day 3
    val keys = Seq(
      (java.sql.Timestamp.valueOf("2024-02-01 00:00:00"), 1L, 1L),
      (java.sql.Timestamp.valueOf("2024-02-03 00:00:00"), 3L, 1L),
      (java.sql.Timestamp.valueOf("2024-02-03 01:00:00"), 3L, 1L))
      .toDF("tfrom", "statid", "seid")
    PartitionedStore.deleteByDay(spark, keys, path, Seq("tfrom", "statid", "seid"))
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.contains("obs_date=2024-02-01"))
    assert(dirs.contains("obs_date=2024-02-02"))
    assert(!dirs.contains("obs_date=2024-02-03"), "fully-erased day must drop")
    val got = PartitionedStore.read(spark, path).collect()
    assert(got.length == 3) // 6 - 1 - 2
  }

  test("merge and delete rewrite a touched day in (statid, tfrom, seid) order") {
    import spark.implicits._
    // rows arrive in descending order; every write must sort them
    val rows = for (day <- 1 to 2; st <- 3L to 1L by -1; h <- 5 to 0 by -1) yield
      (java.sql.Timestamp.valueOf(f"2024-04-0$day $h%02d:00:00"), st, 2L, day * 10.0 + h)
    val path = java.nio.file.Files.createTempDirectory("layout_spec").toString + "/store"
    PartitionedStore.writeByDay(rows.toDF("tfrom", "statid", "seid", "seval"), path)
    def dayKeys(day: String): Seq[Seq[(Long, Long, Long)]] =
      new java.io.File(s"$path/obs_date=$day").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
          spark.read.parquet(f.getPath)
            .select(col("statid"), unix_micros(col("tfrom")), col("seid")).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        }
    def assertLayout(day: String, rows: Int): Unit = {
      val files = dayKeys(day)
      files.foreach(k => assert(k == k.sorted, s"$day: $k"))
      assert(files.map(_.size).sum == rows, day)
    }
    assertLayout("2024-04-01", 18)
    // an update, an insert under a lower seid and one under a new
    // lowest station, all on day 1
    val batch = Seq(
      (java.sql.Timestamp.valueOf("2024-04-01 03:00:00"), 2L, 2L, 999.0),
      (java.sql.Timestamp.valueOf("2024-04-01 03:00:00"), 2L, 1L, 5.0),
      (java.sql.Timestamp.valueOf("2024-04-01 04:30:00"), 0L, 2L, 6.0))
      .toDF("tfrom", "statid", "seid", "seval")
    PartitionedStore.mergeByDay(spark, batch, path, Seq("tfrom", "statid", "seid"))
    assertLayout("2024-04-01", 20)
    PartitionedStore.deleteByDay(spark, Seq(
        (java.sql.Timestamp.valueOf("2024-04-01 05:00:00"), 3L, 2L),
        (java.sql.Timestamp.valueOf("2024-04-01 00:00:00"), 1L, 2L))
      .toDF("tfrom", "statid", "seid"), path, Seq("tfrom", "statid", "seid"))
    assertLayout("2024-04-01", 18)
    assertLayout("2024-04-02", 18)
  }
}

package graft.core

import graft.SparkTest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{MapGroupsExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Plan-shape assertions: the optimizations we rely on at 100 TB must
  * survive refactors — filter/column pushdown into the parquet scan,
  * broadcast of dimension tables, and one shuffle feeding each pass of
  * the pack kernel (SURVEY.md §4, §7.4 pt 6).
  */
class PlanSpec extends AnyFunSuite with SparkTest with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def physicalPlan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q6_filter: predicates and projection pushed into the parquet scan") {
    val plan = physicalPlan("q6_filter")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
    assert(plan.contains("LessThan(l_quantity,24.0)"), plan)
    // only the needed columns are read
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q3_join: dimension sides broadcast, no sort-merge join") {
    val plan = physicalPlan("q3_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_fk_remap: both metadata joins broadcast") {
    val plan = physicalPlan("q_fk_remap")
    // formatted mode lists each operator in the tree AND a detail section
    assert("""\(\d+\) BroadcastHashJoin""".r.findAllIn(plan).size == 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q_obs_pruned: collection range reaches the store's directory listing") {
    // simple mode, not formatted: the store scan sits inside the
    // engine's InMemoryRelation, whose child plan formatted mode shows
    // only as a tree (no per-node detail section)
    val plan = graft.SparkEntry.queries("q_obs_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    // the date-partitioned store scan must carry non-empty
    // PartitionFilters on obs_date — pruning, not a full-store read
    val scans = plan.linesIterator.filter(_.contains("PartitionFilters: [")).toList
    assert(scans.nonEmpty, plan)
    assert(scans.exists(l => l.contains("obs_date") && !l.contains("PartitionFilters: []")),
      scans.mkString("\n"))
  }

  test("q_dsir_select: bucket tables broadcast into the scoring scan, no cartesian blowup") {
    val plan = physicalPlan("q_dsir_select")
    // the 64-row ln-prob table must reach the gram relation as a
    // broadcast hash join — a shuffle join here would move the whole
    // gram explosion twice
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // (the one sort-merge join — all-docs LEFT JOIN weights on id — is
    // correct: both sides are corpus-sized)
  }

  test("pack kernel: block keys broadcast; one exchange feeds each window pass") {
    val df = graft.SparkEntry.queries("q_pack_ranges")(spark, sf)
    val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the obs aggregation, then one exchange per pass: the readings by
    // (block, chunk) under the chunk pass, the partial islands by block
    // under the stitch — the input is read once and neither pass adds
    // an exchange of its own
    val keys = plan.linesIterator.map(_.trim)
      .filter(_.startsWith("Arguments: hashpartitioning("))
      .map(l => "([A-Za-z_]+)#".r.findAllMatchIn(l).map(_.group(1)).toList).toList
    assert(keys.sortBy(_.mkString(",")) ==
      List(List("blockId"), List("blockId", "chunk"), List("tfrom", "statid", "seid")),
      s"got $keys:\n$plan")
    // below the block exchange: one group map over (block, chunk), its
    // readings ordered by the shuffle's sort, and no window over readings
    val byBlock = collect(df.queryExecution.executedPlan) {
      case e @ ShuffleExchangeExec(h: HashPartitioning, _, _, _)
          if h.expressions.flatMap(_.references.map(_.name)) == Seq("blockId") => e
    }
    assert(byBlock.size == 1, plan)
    val chunkPass = byBlock.head.child
    val groupMaps = chunkPass.collect { case m: MapGroupsExec => m }
    assert(groupMaps.map(_.groupingAttributes.map(_.name)) == Seq(Seq("blockId", "chunk")), plan)
    assert(groupMaps.head.dataOrder.flatMap(_.references.map(_.name)) == Seq("tfrom", "enc"), plan)
    assert(chunkPass.collect { case w: WindowExec => w }.isEmpty, plan)
  }

  /** Formatted mode emits exchange partitioning on its own
    * `Arguments: hashpartitioning(...)` line — count those, not the
    * node name (which never carries the partitioning inline).
    */
  private def hashExchanges(plan: String): Int =
    plan.linesIterator.count(l =>
      l.trim.startsWith("Arguments: hashpartitioning(") ||
        l.trim.startsWith("Arguments: [plan_id=") && l.contains("hashpartitioning("))

  test("obs summary groups without re-shuffling the scan more than once") {
    val plan = physicalPlan("q_obs_summary")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("jaccard pairs: two hash exchanges total (buckets, pair counts)") {
    val plan = physicalPlan("q_dedup_jaccard")
    val exchanges = hashExchanges(plan)
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
    // sizes ride in the grouping key — no size-lookup joins anywhere
    assert(!plan.contains("Join"), plan)
  }

  test("winnowing runs at scan speed: no hash exchange before the sort") {
    val plan = physicalPlan("q_text_winnow")
    assert(hashExchanges(plan) == 0, plan)
  }

  test("wide predicate: direct day-grain aggregation, two exchanges") {
    val plan = physicalPlan("q_wide_predicate")
    // groupBy(day,statid,seid), the pivot's groupBy(day,statid), and the
    // final groupBy(statid) — no fourth shuffle of near-unique raw
    // timestamps
    val exchanges = hashExchanges(plan)
    assert(exchanges == 3, s"got $exchanges hash exchanges:\n$plan")
  }

  test("decontaminate: eval fingerprints broadcast, anti-join broadcast") {
    val plan = physicalPlan("q_doc_decontam")
    // the eval fp semi-join and the contaminated-id anti-join must both
    // be broadcasts — neither side may shuffle the corpus
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("quantize: per-row map, no exchange before the aggregation") {
    val plan = physicalPlan("q_embed_quantize")
    // quantization itself must not shuffle; the single exchange belongs
    // to the per-vector summary groupBy
    assert(hashExchanges(plan) == 1, plan)
  }

  test("confusion: centroid assignment adds no join to the vector scan") {
    val plan = physicalPlan("q_embed_confusion")
    assert(!plan.contains("Join"), plan)
  }

  test("sequence packing: chunk prefixes broadcast, no sort-merge join") {
    val plan = physicalPlan("q_seq_pack")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("hash split aggregates straight off the scan") {
    val plan = physicalPlan("q_doc_split")
    assert(hashExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("PII redaction runs at scan speed: no exchange, no join") {
    val plan = physicalPlan("q_text_redact")
    assert(hashExchanges(plan) == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("stratified sampling: row-local filter, one aggregation exchange") {
    val plan = physicalPlan("q_sample_stratified")
    // the keep-decision is a CASE over the scanned row — the only
    // shuffle belongs to the per-source summary groupBy
    assert(hashExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("length histogram: one aggregation exchange off the scan") {
    val plan = physicalPlan("q_length_hist")
    assert(hashExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("pack kernel: block-key restriction sinks below the obs aggregation") {
    val optimized = graft.SparkEntry.queries("q_pack_ranges")(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the keys arrive as a filter on (statid, seid) ABOVE the aggregated
    // obs view; statid is an alias of user_id % 10, so the predicate can
    // only mention user_id if Catalyst pushed it through the Aggregate
    // into the pre-aggregation scan projection
    assert(optimized.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("% 10")), optimized)
  }

  test("HLL sketch: (group,bucket) then group — exactly two exchanges, no join") {
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        explode(graft.operators.TextOps.tokens(lower(col("text")))).as("term"))
    val plan = graft.operators.Sketches.hllDistinct(toks, Seq("source"), col("term"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(hashExchanges(plan) == 2, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("CMS estimate: sketch-sized counter table broadcasts to the candidates") {
    val plan = physicalPlan("q_cms_topk")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("line dedup: the boilerplate set broadcasts to the removal filter") {
    val plan = physicalPlan("q_line_dedup")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("resample: grid + carry-forward is union + window, never a join") {
    val plan = physicalPlan("q_obs_resample")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("gap report: one window exchange above the obs aggregation") {
    val plan = physicalPlan("q_obs_gaps")
    assert(!plan.contains("Join"), plan)
    val exchanges = hashExchanges(plan)
    assert(exchanges == 2, s"got $exchanges hash exchanges:\n$plan")
  }

  test("ANN: candidate dedup exchanges carry ids only, never embeddings") {
    val plan = physicalPlan("q_embed_ann")
    // the multi-table distinct must key on (query_id, vec_id) — an
    // exchange partitioned on an embedding array ships every candidate's
    // vectors through the dedup shuffle (the bug this pins against);
    // embeddings join back AFTER the distinct for the re-rank
    val bad = plan.linesIterator
      .filter(_.contains("hashpartitioning("))
      .filter(_.contains("emb")).toSeq
    assert(bad.isEmpty, s"embedding in exchange key:\n${bad.mkString("\n")}")
  }

  test("real-container decode runs at scan speed: no exchange, no join") {
    val plan = physicalPlan("q_multimodal_real")
    assert(hashExchanges(plan) == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("minhash LSH: banded candidates need no extra exchange vs jaccard") {
    val plan = physicalPlan("q_dedup_minhash")
    // bucket-collect (band,slice) groupBy, candidate distinct, and the
    // two text-lookup joins for verification — the raw-slice band key
    // must not have introduced additional shuffles over the hash form
    val exchanges = hashExchanges(plan)
    assert(exchanges <= 4, s"got $exchanges hash exchanges:\n$plan")
  }

  test("multimodal resize and frame-sample run at scan speed") {
    // decode → resample → re-encode (and the PCM frame walk) are pure
    // per-partition map work; a shuffle or join in these plans would
    // mean the operator stopped being embarrassingly parallel
    for (q <- Seq("q_multimodal_resize", "q_multimodal_frames")) {
      val plan = physicalPlan(q)
      assert(hashExchanges(plan) == 0, s"$q:\n$plan")
      assert(!plan.contains("Join"), s"$q:\n$plan")
    }
  }

  test("triangles: equi-joins only — no cartesian, no broadcast NL join") {
    val plan = physicalPlan("q_triangles")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("sparse kNN: salted top-k, no single-partition window") {
    val plan = physicalPlan("q_sparse_knn")
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("interleave: no single-partition window; group index broadcast") {
    val plan = physicalPlan("q_interleave")
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("covariance: vectors never shuffle — the only exchange carries cells") {
    val plan = physicalPlan("q_embed_cov")
    // one hash exchange (the dims²-cell groupBy); no join at all
    assert(hashExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("image near-dup: collapse-then-band keeps every join an equi-join") {
    val plan = physicalPlan("q_image_neardup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("data checks: the whole battery is one scan, no join, no window") {
    val plan = physicalPlan("q_data_checks")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("pmi: totals broadcast; count joins never sort-merge the corpus") {
    val plan = physicalPlan("q_pmi_top")
    assert(!plan.contains("CartesianProduct"), plan)
    // the 1-row totals frame must broadcast, not shuffle
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("url canonicalization runs at scan speed: no hash exchange, no join") {
    val plan = physicalPlan("q_url_canon")
    assert(hashExchanges(plan) == 0, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("domain cap: salted two-phase window, no single-partition funnel") {
    val plan = physicalPlan("q_domain_cap")
    assert(!plan.contains("SinglePartition"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("novelty: fingerprint-keyed exchanges only — document bodies never shuffle") {
    val plan = physicalPlan("q_novelty")
    assert(!plan.contains("CartesianProduct"), plan)
    // every hashpartitioning carries __fp or the doc id, never text
    plan.linesIterator.filter(_.contains("hashpartitioning(")).foreach { l =>
      assert(!l.contains("text"), l)
    }
  }

  /** Executed plan of every action `body` runs, in order. The graph
    * loops localCheckpoint each round, and every localCheckpoint is an
    * action of its own, so this sees each unrolled round, where the
    * returned frame's plan shows only the last checkpoint's scan. A
    * marker collect follows `body`; the listener bus delivers in order,
    * so the marker's callback means every earlier plan has arrived.
    */
  private def actionPlans(body: => DataFrame): Vector[(String, SparkPlan)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, SparkPlan)]()
    val marker = spark.range(1).toDF()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq marker.queryExecution) markerSeen.countDown()
        else plans.add(fn -> qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body.collect()
      marker.collect()
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker action")
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toVector
  }

  /** The graph gates' edge frames at gate scale: supplier→customer
    * links for the link-analysis loops, and the co-purchase pairs
    * (equi-self-join spelling, repeat pairs for label propagation).
    */
  private def linkEdges: DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_suppkey"))
    val ord = graft.sources.Tables.orders(spark, sf).select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
        concat(lit("c"), col("o_custkey").cast("string")).as("dst"))
  }
  private def orderParts: DataFrame = graft.sources.Tables.lineitem(spark, sf)
    .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
  private def coPurchase: DataFrame = orderParts.as("a").join(orderParts.as("b"),
      col("a.o") === col("b.o") && col("a.p") < col("b.p"))
    .select(col("a.p").as("src"), col("b.p").as("dst"))

  /** The distributed loop's plans (`smallGraphEdges = 0` forces it at
    * gate scale): no cartesian product in any round, and a nested-loop
    * join only where the loop broadcasts a one-row scalar — its build
    * side is a global (grouping-free) aggregate. The loop must take at
    * least `minCheckpoints` checkpoints (one or two per round), so the
    * rounds were really seen: the driver small-graph path checkpoints
    * only its edge frame.
    */
  private def checkLoopPlans(minCheckpoints: Int, scalarJoins: Boolean)(loop: => DataFrame): Unit = {
    val plans = actionPlans(loop)
    plans.foreach { case (fn, p) =>
      assert(collect(p) { case c: CartesianProductExec => c }.isEmpty, s"$fn:\n$p")
      collect(p) { case j: BroadcastNestedLoopJoinExec => j }.foreach { j =>
        assert(scalarJoins, s"$fn: nested-loop join:\n$p")
        val build = if (j.buildSide == BuildRight) j.right else j.left
        val top = collect(build) { case a: BaseAggregateExec => a }.headOption
        assert(top.exists(_.groupingExpressions.isEmpty),
          s"$fn: nested-loop join against a non-scalar side:\n$p")
      }
    }
    val checkpoints = plans.count(_._1 == "localCheckpoint")
    assert(checkpoints >= minCheckpoints,
      s"saw $checkpoints checkpoints, want $minCheckpoints: ${plans.map(_._1)}")
  }

  test("pageRank loop: no cartesian in any of five unrolled iterations") {
    // the only nested-loop join allowed is the broadcast one-row
    // dangling-mass scalar
    checkLoopPlans(minCheckpoints = 5, scalarJoins = true)(graft.operators.Graph.pageRank(
      linkEdges, "src", "dst", iters = 5, smallGraphEdges = 0L))
  }

  test("hits loop: no cartesian in any of three unrolled iterations") {
    // the only nested-loop join allowed is the broadcast one-row L2
    // norm scalar, once per half-iteration
    checkLoopPlans(minCheckpoints = 6, scalarJoins = true)(graft.operators.Graph.hits(
      linkEdges, "src", "dst", iters = 3, smallGraphEdges = 0L))
  }

  test("kcore loop: equi-joins only across all unrolled peel rounds") {
    // the gate's k = 80 peels four rounds of this graph, two checkpoints
    // each; the fourth is the fixpoint that ends the loop early
    checkLoopPlans(minCheckpoints = 8, scalarJoins = false)(graft.operators.Graph.kcoreMembers(
      coPurchase, "src", "dst", k = 80, rounds = 8, smallGraphEdges = 0L))
  }

  test("label propagation loop: equi-joins only across unrolled rounds") {
    val repeat = coPurchase.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      .filter(col("w") >= 2)
    checkLoopPlans(minCheckpoints = 4, scalarJoins = false)(graft.operators.Graph
      .labelPropagation(repeat, "src", "dst", rounds = 4, smallGraphEdges = 0L))
  }

  test("graph gates plan the driver small-graph path (LocalTableScan)") {
    // at gate scale every graph loop replays on the driver: the
    // returned frame is the local result, not a checkpointed loop
    for (q <- Seq("q_pagerank", "q_hits", "q_kcore", "q_lpa")) {
      val plan = physicalPlan(q)
      assert(plan.contains("LocalTableScan"), s"$q:\n$plan")
      assert(!plan.contains("ExistingRDD"), s"$q:\n$plan")
    }
  }

  test("co-occurrence pairs: no join, one hash exchange above the input") {
    // bucket-collect: one exchange groups the membership relation and
    // pair expansion stays local to each group (the self-join spelling
    // shuffled both join sides and joined them)
    def formatted(df: DataFrame) = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val plan = formatted(graft.operators.Graph.coOccurrencePairs(orderParts, "o", "p"))
    assert(!plan.contains("Join"), plan)
    assert(hashExchanges(plan) - hashExchanges(formatted(orderParts)) == 1, plan)
  }

  test("logit apply over a weight relation: no Window, no exchange") {
    // the fused scorer is a per-doc projection: tokenize, hash and dot
    // inside one udf, the weights broadcast — nothing shuffles
    val docs = graft.sources.Tables.documents(spark, sf)
    val wRel = spark.range(65L).select(col("id").as("bucket"),
      (col("id") % 7).cast("double").as("w"))
    val plan = graft.operators.LinearModel.predictLogitWithRel(docs, wRel, buckets = 64)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("bitext scale shape: candidate generation is an equi-join, no cross") {
    val plan = physicalPlan("q_bitext_mine_scale")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q5_join: every dimension broadcasts; no sort-merge join in the six-table plan") {
    val plan = physicalPlan("q5_join")
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q4_exists: the correlated EXISTS decorrelates to a semi join") {
    val plan = physicalPlan("q4_exists")
    assert(plan.contains("LeftSemi") || plan.contains("Semi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q17_avg_qty: correlated scalar subqueries decorrelate into aggregated joins") {
    val plan = physicalPlan("q17_avg_qty")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("local scan sizing splits a small multi-file table across cores") {
    // regression for the 10x-bench finding: with Spark's cluster-tuned
    // defaults (128m/4m) a 6 MB 10-file table packs into ONE scan
    // partition and the heavy first map stage (shingle explode, vector
    // math) runs on one of 32 cores. GraftSession.local sizes scans at
    // 4m/128k; a multi-file table must scan with >1 input partition.
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") == "4m")
    val dir = java.nio.file.Files.createTempDirectory("scan_sizing").toString
    spark.range(0, 400000).selectExpr("id", "repeat(uuid(), 8) AS pad")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val parts = spark.read.parquet(dir).rdd.getNumPartitions
    assert(parts > 1, s"multi-file small table scanned as $parts partition(s)")
  }

  test("spearman: rank windows are __pid-stitched; the only SinglePartition is the scalar result") {
    val plan = physicalPlan("q_spearman")
    assert(plan.contains("__pid"), plan) // the stitched-rank marker
    // SinglePartition may appear ONLY as the final one-row aggregate's
    // exchange — never feeding a Window (the data-sized smell). Check
    // the line after each Window's exchange argument.
    val lines = plan.linesIterator.toVector
    val winIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains(") Window") => i }
    assert(winIdx.size == 2, s"expected the two rank windows:\n$plan")
    val spLines = lines.filter(_.contains("SinglePartition"))
    assert(spLines.forall(_.contains("ENSURE_REQUIREMENTS")) ||
      spLines.size <= 2, // the scalar aggregate's exchange (tree+detail)
      plan)
    // and no window is fed by a single-partition exchange: every
    // Window's partition spec carries __pid
    winIdx.foreach { i =>
      val detail = lines.slice(i, math.min(i + 3, lines.size)).mkString
      assert(!detail.contains("SinglePartition"), plan)
    }
  }

  test("KN scoring: model relations broadcast into the corpus scan") {
    val plan = physicalPlan("q_lm_kn_score")
    // the one-row n_all scalar must arrive by broadcast, never a
    // shuffled cross join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("shard assignment: no SinglePartition window, one range exchange") {
    val plan = physicalPlan("q_shard_assign")
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.linesIterator.count(l =>
      l.trim.startsWith("Arguments: rangepartitioning(")) >= 1, plan)
  }

  test("content chunks: pure scan — no exchange anywhere") {
    val plan = physicalPlan("q_content_chunks")
    assert(hashExchanges(plan) == 0, plan)
    // the gate's orderBy adds one range exchange for output
    // determinism; nothing else shuffles
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
  }

  test("logit scoring reads the checkpointed feature relation, never the text") {
    // the train loop and the apply share ONE tokenize+hash feature
    // scan behind a localCheckpoint barrier; the scoring plan must
    // read that materialized relation — a regex/split node here means
    // the corpus is being re-tokenized per model application
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = graft.operators.LinearModel.fitScoreLogit(docs,
      label = col("lang") === "en", iters = 1)
    val plan = scored.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(!plan.contains("split("), plan)
    assert(!plan.contains("md5("), plan)
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      plan)
  }

  test("kmv sketch: one bounded k_min_agg aggregate, no distinct, no TakeOrdered; set ops never sort-merge") {
    val plan = physicalPlan("q_kmv_setops")
    // the round-15 shape: KMinAgg's bounded-TreeSet partials replace
    // prefilter→distinct→TakeOrdered — the exchange under the merge
    // carries at most k longs per partition
    assert(plan.contains("k_min_agg"), plan)
    assert(!plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("rouge: row-local metric — no joins, only the pairing window shuffles") {
    val plan = physicalPlan("q_rouge")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
    // one hash exchange (the per-source lead window); the gate's
    // orderBy adds a range exchange for output determinism
    assert(hashExchanges(plan) <= 1, plan)
  }

  test("merge-on-read scan: delete keys broadcast into a left-anti join") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("morplan").toString + "/t"
    graft.sources.SnapshotStore.init(spark,
      (0L until 500L).map(i => (i, i)).toDF("k", "v"), root, "k")
    graft.sources.SnapshotStore.deleteKeys(spark, Seq(5L, 6L).toDF("k"), root)
    val plan = graft.sources.SnapshotStore.read(spark, root)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}

package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph analytics for corpus curation. A web-scale training
  * pipeline ranks crawl domains by link authority before deciding what
  * to fetch and keep (the Common Crawl curation precedent); PageRank
  * (Brin & Page 1998) is the public algorithm for that signal.
  *
  * Distributed shape: the graph stays edge-partitioned end to end.
  * Each power iteration is one broadcast-free equi-join of the edge
  * relation with the current rank table on `src` (both hash-partition
  * on the join key, and the edge⋈outdeg frame is materialized ONCE
  * via localCheckpoint so every iteration reuses the same shuffle
  * layout), one groupBy(dst) partial-aggregated sum, and one tiny
  * dangling-mass scalar broadcast back. Ranks are localCheckpointed
  * per iteration — each round reads the previous round's materialized
  * table (the [[Dedup.connectedComponents]] discipline), not a
  * re-execution of the whole prefix, and lineage stays flat at any
  * iteration count.
  *
  * Determinism discipline: fixed iteration count (power iteration, no
  * data-dependent convergence test), and the whole trajectory runs in
  * EXACT INTEGER arithmetic — ranks are micro-units (10⁻⁶), every
  * 6-decimal rounding is a half-up integer division ([[graft.core.Round6]]),
  * sums are DECIMAL(38,0) — so it replays value-exactly in DuckDB's
  * unrolled CTEs with no float before the final micro→double.
  */
object Graph {

  /** PageRank with damping 0.85 over the DISTINCT directed edges of
    * (srcCol, dstCol). Nodes are the union of endpoints; dangling-node
    * mass is redistributed uniformly each iteration (the standard
    * formulation). Returns (node, rank) — ranks sum to ~1.
    *
    * Numeric discipline (the [[hits]] precedent): ranks are integer
    * micro-units end to end. The initial rank is round6(1/n) as
    * `(2·10⁶ + n) div (2n)`; each per-edge contribution round6(r/deg)
    * is `(2r + deg) div (2deg)` — exact half-up, no double quotient;
    * and the damped update round6(0.15/n + 0.85·(s + d/n)) collapses
    * to the single exact rational
    *
    *   (2·(3·10⁶ + 17·(s·n + d)) + 20n) div (40n)
    *
    * (multiply through by the common denominator 20n; 0.15·10⁶ =
    * 3·10⁶/20, 0.85 = 17/20) with the ladder in DECIMAL(38,0) —
    * `s·n` reaches ~10⁶·n micro·nodes, past a long on web-scale
    * graphs. The only float op is the final micro→double division,
    * identical IEEE in any engine.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 5,
               smallGraphEdges: Long = 1L << 20): DataFrame = {
    require(iters >= 1)
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    // Small-graph driver path (the [[Dedup.connectedComponents]]
    // smallGraphEdges precedent): below the bound, `iters` full Spark
    // rounds — each a join + aggregation + checkpoint of fixed
    // scheduling latency — are replaced by a driver loop over the
    // collected edge list. The trajectory is EXACT INTEGER end to end
    // (micro-unit ranks, half-up integral divisions), so the driver
    // replay is bit-identical to the distributed one; the count reads
    // the just-materialized checkpoint blocks. Null endpoints (which
    // the distributed joins silently drop from propagation) fall back
    // to the distributed path rather than guessing semantics.
    if (smallGraphEdges > 0 && e.count() <= smallGraphEdges) {
      val rows = e.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        return pageRankLocal(edges.sparkSession,
          rows.map(r => (r.getString(0), r.getString(1))), iters)
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    val n = nodes.count()
    require(n > 0, "empty graph")
    val out = e.groupBy("src").agg(count(lit(1)).as("__outdeg"))
    // edge ⋈ outdeg materialized once; every iteration joins ranks
    // into this same layout
    val eo = e.join(out, "src").localCheckpoint(eager = false)
    // the dangling node SET is iteration-invariant — resolve the
    // anti-join once; each iteration only semi-joins ranks against it
    val danglingNodes = nodes
      .join(out.select(col("src").as("node")), Seq("node"), "left_anti")
      .localCheckpoint(eager = false)
    val dec0 = lit(0L).cast("decimal(38,0)")
    // micro ranks: r0 = round6(1/n) in exact integer form
    var ranks = nodes
      .withColumn("rank",
        graft.core.Round6.halfUpDiv(lit(1000000L), lit(n)))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val contribs = eo
        .join(ranks.select(col("node").as("src"), col("rank")), "src")
        .select(col("dst").as("node"),
          graft.core.Round6.halfUpDiv(col("rank"), col("__outdeg")).as("__c"))
        .groupBy("node")
        .agg(sum(col("__c").cast("decimal(38,0)")).as("__s"))
      val dangling = ranks
        .join(danglingNodes, Seq("node"), "left_semi")
        .agg(coalesce(sum(col("rank").cast("decimal(38,0)")), dec0).as("__d"))
      ranks = nodes
        .join(contribs, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          graft.core.Round6.halfUpDiv(
            lit(3000000L).cast("decimal(38,0)") + lit(17L) *
              (coalesce(col("__s"), dec0) * lit(n) + col("__d")),
            lit(20L).cast("decimal(38,0)") * lit(n)).as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks.select(col("node"),
      (col("rank").cast("double") / lit(1000000.0)).as("rank"))
  }

  /** Driver twin of the distributed [[pageRank]] loop — the same
    * integer micro-unit trajectory, token for token: r0 = (2·10⁶+n)
    * div 2n; per-edge contribution (2r+deg) div 2deg; damped update
    * (2·(3·10⁶ + 17·(s·n + d)) + 20n) div 40n. Every quantity is an
    * exact integer (contribution sums stay far under a long at the
    * ≤2²⁰-edge bound; the update ladder runs in BigInt exactly as the
    * DECIMAL(38,0) column ladder), so outputs are bit-identical.
    */
  private def pageRankLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(String, String)], iters: Int): DataFrame = {
    import spark.implicits._
    val idx = scala.collection.mutable.HashMap.empty[String, Int]
    def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = idx.size
    require(n > 0, "empty graph")
    val outdeg = new Array[Long](n)
    es.foreach { case (s, _) => outdeg(s) += 1 }
    val nB = BigInt(n)
    var rank: Array[Long] =
      Array.fill(n)(((BigInt(1000000) * 2 + nB) / (nB * 2)).toLong)
    for (_ <- 1 to iters) {
      val sArr = new Array[Long](n)
      es.foreach { case (src, dst) =>
        sArr(dst) += (2 * rank(src) + outdeg(src)) / (2 * outdeg(src))
      }
      var d = 0L
      var i = 0
      while (i < n) { if (outdeg(i) == 0L) d += rank(i); i += 1 }
      val den = BigInt(20) * nB
      rank = Array.tabulate(n) { v =>
        val num = BigInt(3000000) + BigInt(17) * (BigInt(sArr(v)) * nB + BigInt(d))
        ((num * 2 + den) / (den * 2)).toLong
      }
    }
    idx.iterator.map { case (name, i) => (name, rank(i).toDouble / 1000000.0) }
      .toSeq.toDF("node", "rank")
  }

  /** HITS (Kleinberg, JACM 1999): mutually-recursive hub/authority
    * scores over the distinct directed edges — the complementary
    * authority signal to [[pageRank]] (a good hub links to good
    * authorities; in crawl curation, hub quality ranks link DIRECTORIES
    * where PageRank ranks destinations).
    *
    * Fixed `iters` power iterations, authorities updated first from
    * hubs, hubs from the UPDATED authorities, each vector L2-normalized
    * per iteration. Same execution shape as pageRank (edge relation
    * checkpointed once, per-iteration score checkpoint, one-row norm
    * scalars broadcast).
    *
    * Numeric discipline: scores live as INTEGER micro-units (10⁻⁶), so
    * raw sums and the squared-norm total are EXACT in DECIMAL(38,0),
    * and the one irrational step per update — dividing by the L2 norm
    * — rounds half-up in exact integer arithmetic:
    *
    *   round(A/√B + ½) = (⌊√(4A²·B)⌋ div B + 1) div 2
    *
    * (largest s with s²·B ≤ 4A², i.e. s ≤ 2A/√B, then (s+1) div 2 —
    * the half-up boundary (2n−1)²·B ≤ 4A² made integral). No float
    * enters the trajectory before the final micro→double conversion,
    * which is the same IEEE op in any engine — this kills the
    * `round(raw/√B, 6)` double-quotient knife edge (Spark rounds the
    * shortest-decimal rendering, other engines the binary value) that
    * every other ratio site already routes through
    * [[graft.core.Round6]]. The integer sqrt needs arbitrary
    * precision (4A²·B overflows any fixed width at corpus scale), so
    * it runs as a compiled per-node BigInteger udf — model-sized
    * inputs, O(1) per node, the documented non-codegen boundary.
    *
    * @return (node, hub, auth), zero where a node has no out/in edges
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 3,
           smallGraphEdges: Long = 1L << 20): DataFrame = {
    require(iters >= 1)
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .localCheckpoint(eager = false)
    // Small-graph driver path (see [[pageRank]]): the trajectory is
    // exact-integer (micro-unit scores, the BigInteger isqrt norm —
    // the SAME [[microNormScore]] the distributed udf calls), so the
    // driver replay is bit-identical while skipping 2·iters join +
    // aggregation + checkpoint rounds of fixed scheduling latency.
    if (smallGraphEdges > 0 && e.count() <= smallGraphEdges) {
      val rows = e.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        return hitsLocal(edges.sparkSession,
          rows.map(r => (r.getString(0), r.getString(1))), iters)
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint(eager = false)
    val zero = lit(0L).cast("decimal(38,0)")
    def normalized(raw: DataFrame, scoreCol: String): DataFrame = {
      val r = raw.select(col("node"), col("__raw").cast("decimal(38,0)").as("__r"))
      val b = r.agg(sum(col("__r") * col("__r"))
        .cast("decimal(38,0)").as("__b"))
      nodes.join(r, Seq("node"), "left")
        .crossJoin(broadcast(b))
        .select(col("node"),
          microL2Norm(coalesce(col("__r"), zero).cast("string"),
            col("__b").cast("string")).as(scoreCol))
    }
    var hubs = nodes.withColumn("hub", lit(1000000L))
      .localCheckpoint(eager = false)
    var auths: DataFrame = null
    for (_ <- 1 to iters) {
      val authRaw = e
        .join(hubs.select(col("node").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("node"))
        .agg(sum(col("hub").cast("decimal(38,0)")).as("__raw"))
      auths = normalized(authRaw, "auth").localCheckpoint(eager = false)
      val hubRaw = e
        .join(auths.select(col("node").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("node"))
        .agg(sum(col("auth").cast("decimal(38,0)")).as("__raw"))
      hubs = normalized(hubRaw, "hub").localCheckpoint(eager = false)
    }
    nodes.join(hubs, "node").join(auths, "node")
      .select(col("node"),
        (col("hub").cast("double") / lit(1000000.0)).as("hub"),
        (col("auth").cast("double") / lit(1000000.0)).as("auth"))
  }

  /** The shared exact kernel: round(A/√B + ½) for A = 10⁶·r — called
    * by the distributed udf AND the small-graph driver loop, so the
    * two paths cannot diverge.
    */
  private def microNormScore(rI: java.math.BigInteger,
                             bI: java.math.BigInteger): Long =
    if (rI.signum <= 0 || bI.signum <= 0) 0L
    else {
      val a = rI.multiply(java.math.BigInteger.valueOf(1000000L))
      val s = a.multiply(a).shiftLeft(2).multiply(bI).sqrt().divide(bI)
      s.add(java.math.BigInteger.ONE).shiftRight(1).longValueExact()
    }

  /** round(A/√B + ½) for A = 10⁶·raw, in exact BigInteger arithmetic
    * (see [[hits]]). Nonneg inputs; 0 when the raw score or the norm
    * is zero.
    *
    * Inputs arrive as STRINGS, not BigDecimal: a `java.math.BigDecimal`
    * udf parameter types as DecimalType(38,18), and the analyzer's
    * implicit cast of the DECIMAL(38,0) norm __b (= Σr² micro²) down to
    * 20 integer digits overflows past ~10²⁰ — reached around sf1 of the
    * bipartite-graph gate (ANSI throws; with ANSI off it would zero
    * every score). String operands carry the full 38-digit value
    * losslessly; scale-0 decimals render with no fraction part.
    */
  private val microL2Norm =
    udf { (raw: String, b: String) =>
      if (raw == null || b == null) 0L
      else microNormScore(new java.math.BigInteger(raw),
        new java.math.BigInteger(b))
    }

  /** Driver twin of the distributed [[hits]] loop — the same
    * micro-unit trajectory: raw scores are exact long sums (≤ 10⁶ ×
    * degree, far under a long at the ≤2²⁰-edge bound), Σr² runs in
    * BigInteger exactly as the DECIMAL(38,0) aggregate, and each
    * normalization calls the SAME [[microNormScore]] kernel the udf
    * does. Authorities update first from hubs, hubs from the UPDATED
    * authorities; a node absent from a raw aggregation scores 0
    * (the distributed path's coalesce-to-zero), identically here
    * because its raw slot stays 0 and microNormScore(0, b) = 0.
    */
  private def hitsLocal(spark: org.apache.spark.sql.SparkSession,
      edges: Array[(String, String)], iters: Int): DataFrame = {
    import spark.implicits._
    val idx = scala.collection.mutable.HashMap.empty[String, Int]
    def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
    val es = edges.map { case (a, b) => (id(a), id(b)) }
    val n = idx.size
    def normalize(raw: Array[Long]): Array[Long] = {
      var b = java.math.BigInteger.ZERO
      var i = 0
      while (i < n) {
        if (raw(i) != 0L) {
          val r = java.math.BigInteger.valueOf(raw(i))
          b = b.add(r.multiply(r))
        }
        i += 1
      }
      Array.tabulate(n)(v =>
        microNormScore(java.math.BigInteger.valueOf(raw(v)), b))
    }
    var hub = Array.fill(n)(1000000L)
    var auth = new Array[Long](n)
    for (_ <- 1 to iters) {
      val rawA = new Array[Long](n)
      es.foreach { case (s, d) => rawA(d) += hub(s) }
      auth = normalize(rawA)
      val rawH = new Array[Long](n)
      es.foreach { case (s, d) => rawH(s) += auth(d) }
      hub = normalize(rawH)
    }
    idx.iterator.map { case (name, i) =>
      (name, hub(i).toDouble / 1000000.0, auth(i).toDouble / 1000000.0)
    }.toSeq.toDF("node", "hub", "auth")
  }

  /** k-core membership by iterative peeling (Seidman 1983; the
    * distributed formulation of Montresor et al. 2013): repeatedly drop
    * every node whose degree in the SURVIVING subgraph is < `k`, with
    * incident edges — what remains after convergence is the k-core, the
    * standard coreness cleanup a link-graph curation pass runs before
    * authority ranking (peripheral one-link spam vanishes; the
    * well-connected community stays).
    *
    * Runs a FIXED `rounds` peels (converged rounds are no-ops) so the
    * whole computation unrolls in the DuckDB oracle; ScalaTest pins
    * that the gate's graph actually converges within the budget. Each
    * round is one degree aggregation plus two semi joins, all keyed by
    * node ids; the edge set shrinks monotonically and is
    * localCheckpointed per round (the [[pageRank]] lineage discipline).
    *
    * @return (node, deg) — survivors of the final round with their
    *         degree in the final surviving subgraph
    */
  def kcoreMembers(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, rounds: Int = 6,
                   smallGraphEdges: Long = 1L << 22): DataFrame = {
    require(k >= 1 && rounds >= 1)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
    var e = edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    // Small-graph driver path (the [[pageRank]]/[[hits]] switch):
    // peeling is pure integer set arithmetic, so the driver replay is
    // trivially identical; below the bound it replaces up to `rounds`
    // aggregate+semi-join+checkpoint rounds. Long-keyed graphs only
    // (the gates' shape) — anything else falls through. The bound is
    // higher than pageRank's: edges live as two primitive long arrays
    // (16 B/edge → 64 MB at the 2²² default) rather than boxed
    // string-keyed rows.
    if (smallGraphEdges > 0 &&
        e.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType) &&
        e.count() <= smallGraphEdges) {
      val rows = e.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
        val us = new Array[Long](rows.length)
        val vs = new Array[Long](rows.length)
        var i = 0
        while (i < rows.length) {
          us(i) = rows(i).getLong(0); vs(i) = rows(i).getLong(1); i += 1
        }
        return kcoreLocal(edges.sparkSession, us, vs, k, rounds)
      }
    }
    // Early fixpoint exit: peeling only ever REMOVES edges, so an
    // unchanged edge COUNT between consecutive rounds proves the edge
    // SET is unchanged, every remaining round is a no-op, and the
    // final degrees are identical to running the full budget (which
    // the oracle still unrolls). The count reads the checkpoint blocks
    // the round materializes anyway; converged graphs skip the
    // remaining rounds' two semi-joins + aggregation outright.
    var prevCount = e.count()
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val keep = degrees(e).filter(col("deg") >= k).select("node")
        .localCheckpoint(eager = false)
      e = e
        .join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .localCheckpoint(eager = false)
      val c = e.count()
      converged = c == prevCount
      prevCount = c
      round += 1
    }
    degrees(e)
  }

  /** Driver twin of the distributed [[kcoreMembers]] loop: same
    * peel-until-fixpoint-or-budget over the collected canonical edge
    * set (parallel primitive arrays); pure integer set arithmetic, so
    * outputs are identical.
    */
  private def kcoreLocal(spark: org.apache.spark.sql.SparkSession,
      us0: Array[Long], vs0: Array[Long], k: Int, rounds: Int): DataFrame = {
    import spark.implicits._
    var us = us0; var vs = vs0
    def degreesOf(u: Array[Long], v: Array[Long]):
        scala.collection.mutable.LongMap[Long] = {
      val deg = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < u.length) {
        deg(u(i)) = deg.getOrElse(u(i), 0L) + 1
        deg(v(i)) = deg.getOrElse(v(i), 0L) + 1
        i += 1
      }
      deg
    }
    var round = 0
    var converged = false
    while (round < rounds && !converged) {
      val deg = degreesOf(us, vs)
      val nu = Array.newBuilder[Long]; val nv = Array.newBuilder[Long]
      var i = 0
      while (i < us.length) {
        if (deg(us(i)) >= k && deg(vs(i)) >= k) { nu += us(i); nv += vs(i) }
        i += 1
      }
      val nus = nu.result(); val nvs = nv.result()
      converged = nus.length == us.length
      us = nus; vs = nvs
      round += 1
    }
    degreesOf(us, vs).toSeq.map { case (n, d) => (n, d) }.toDF("node", "deg")
  }

  /** Synchronous label propagation (Raghavan et al. 2007) —
    * community detection where [[Dedup.connectedComponents]] is too
    * coarse (CC merges everything reachable; LPA splits dense regions
    * along their natural boundaries). Every node starts labeled by
    * itself; each round it adopts the most frequent label among its
    * neighbors, ties to the SMALLEST label — fully deterministic, so
    * the oracle unrolls the rounds (the k-core discipline; the
    * classic async/random-order variant trades that determinism for
    * faster convergence).
    *
    * One round = one edge⋈labels equi-join + a (node, label) count +
    * a `max_by` argmax per node over a (count, -label) struct —
    * a plain hash aggregation, NOT a window: a per-node sort window
    * would make each hub sort deg(node) rows inside one partition
    * slice, while max_by folds them in a single pass with map-side
    * partials. Ties break toward the SMALLEST label (max of -label),
    * matching the deterministic convention throughout. The symmetric
    * neighbor relation is materialized once; labels checkpoint per
    * round.
    *
    * @return (node, lbl) after `rounds` rounds
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int,
                       smallGraphEdges: Long = 1L << 20): DataFrame = {
    require(rounds >= 1)
    val und = edges.select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(eager = false)
    // Small-graph driver path (the [[pageRank]]/[[hits]] switch): the
    // round update is integer counting + a deterministic (count, −lbl)
    // argmax, so the driver replay is identical; below the bound it
    // replaces `rounds` join+double-aggregate+checkpoint cycles.
    // Long-keyed graphs only; null-free only (nulls fall through).
    if (smallGraphEdges > 0 &&
        und.schema.fields.forall(_.dataType ==
          org.apache.spark.sql.types.LongType) &&
        und.count() <= smallGraphEdges) {
      val rows = und.collect()
      if (rows.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
        return lpaLocal(edges.sparkSession,
          rows.map(r => (r.getLong(0), r.getLong(1))), rounds)
    }
    val neigh = und.select(col("u").as("node"), col("v").as("nb"))
      .union(und.select(col("v").as("node"), col("u").as("nb")))
      .localCheckpoint(eager = false)
    var labels = neigh.select(col("node")).distinct()
      .withColumn("lbl", col("node"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to rounds) {
      labels = neigh
        .join(labels.select(col("node").as("nb"), col("lbl")), "nb")
        .groupBy("node", "lbl").agg(count(lit(1)).as("__c"))
        // node ids are non-negative throughout (doc ids), so -lbl
        // cannot overflow; struct max = lexicographic (count, -lbl)
        .groupBy("node")
        .agg(max_by(col("lbl"),
          struct(col("__c"), (-col("lbl")).as("__nl"))).as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels
  }

  /** Driver twin of the distributed [[labelPropagation]] loop: the
    * same synchronous rounds — every node adopts the most frequent
    * label among its neighbors, ties to the SMALLEST label (the
    * (count, −lbl) struct-max the distributed aggregate computes).
    * Integer counting + a deterministic argmax: outputs identical.
    */
  private def lpaLocal(spark: org.apache.spark.sql.SparkSession,
      und: Array[(Long, Long)], rounds: Int): DataFrame = {
    import spark.implicits._
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    def nb(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += b
    und.foreach { case (u, v) => nb(u, v); nb(v, u) }
    var labels = scala.collection.mutable.LongMap.empty[Long]
    adj.keysIterator.foreach(n => labels(n) = n)
    for (_ <- 1 to rounds) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      adj.foreach { case (node, nbs) =>
        val cnt = scala.collection.mutable.LongMap.empty[Long]
        nbs.foreach { m =>
          val l = labels(m); cnt(l) = cnt.getOrElse(l, 0L) + 1
        }
        var bestLbl = Long.MinValue; var bestC = -1L
        cnt.foreach { case (l, c) =>
          if (c > bestC || (c == bestC && l < bestLbl)) {
            bestC = c; bestLbl = l
          }
        }
        next(node) = bestLbl
      }
      labels = next
    }
    labels.toSeq.map { case (n, l) => (n, l) }.toDF("node", "lbl")
  }

  /** Ordered co-occurrence pairs: for each group, every (a, b) item
    * pair with a < b — the co-purchase/"shared basket" edge builder.
    * Bucket-collect shape (the [[Dedup.pairsUdf]] layout): ONE
    * exchange groups the membership relation, pair expansion stays
    * local to each group's task — versus the equi-self-join spelling,
    * which shuffles the relation into both join sides and pays the
    * join plus a second aggregation. Fan-out per group is s² either
    * way; emits the same pair MULTISET (one row per group containing
    * the pair), so callers that dedup or weight by count are
    * bit-identical. `df` rows must be distinct per (group, item) —
    * exactly what the callers' `.distinct()` provides.
    */
  def coOccurrencePairs(df: DataFrame, groupCol: String,
                        itemCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(sort_array(collect_list(col(itemCol))).as("__items"))
      .filter(size(col("__items")) > 1)
      .select(explode(Dedup.pairsUdf(col("__items"))).as("__p"))
      .select(col("__p._1").as("src"), col("__p._2").as("dst"))

  /** Per-node triangle counts over the UNDIRECTED graph induced by
    * (srcCol, dstCol) — the clustering/community-density signal a
    * crawl-curation pipeline uses alongside PageRank (spam farms and
    * organic communities have very different triangle densities).
    *
    * Distributed shape (the compact-forward / node-iterator bound,
    * Schank & Wagner 2005): orient every undirected edge from its
    * lower-(degree, node) endpoint to the higher one. Each triangle
    * then materializes EXACTLY once, as a wedge at its minimum-rank
    * vertex closed by one oriented edge — two equi-joins, no distinct
    * over candidate triples, and the wedge count is bounded by
    * Σ outdeg² ≤ O(m^{3/2}) because degree-ordering caps oriented
    * out-degree at O(√m). A star hub (degree n) generates ZERO wedges
    * at itself — every incident edge points INTO it — which is what
    * makes this survive skewed degree distributions; the naive
    * wedge-at-any-vertex join would explode n² at the hub.
    *
    * Returns (node, n_tri) for every node, 0 included — counts are
    * identical to the id-ordered formulation the oracle uses, because
    * both enumerate the same triangle SET and per-node attribution
    * sums over set membership.
    *
    * Deliberately NO localCheckpoints, unlike the iterative operators
    * above (whose loops need lineage truncation): this is ONE action,
    * and within one action AQE's exchange/stage reuse already computes
    * each reused relation exactly once. Checkpointing here was
    * measured STRICTLY WORSE on every axis at the 100x replica —
    * 3,447 s executor-CPU / 35.5 GB shuffle / 13 stages checkpointed
    * vs 936 s / 2.2 GB / 7 stages without (SCALING.md round 15):
    * each lazy localCheckpoint materializes eagerly through its OWN
    * AQE loop at plan-construction time, which both serializes the
    * stages behind driver barriers and walls off the common subplans
    * from exchange reuse, so the big distinct recomputed once per
    * checkpointed consumer.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // canonical undirected edges (u < v), self-loops dropped
    val und = edges.select(
        least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, node): strict total order, so exactly one
    // direction per edge
    val oriented = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t"))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
    // wedges at the minimum-rank vertex; tie-break on (node) keeps the
    // pair ordered so each wedge appears once
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.s") === col("e2.s") &&
        col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    // close the wedge: the (b, c) edge may be oriented either way
    val closing = oriented.select(col("s").as("b"), col("t").as("c"))
      .union(oriented.select(col("t").as("b"), col("s").as("c")))
    val tris = wedges.join(closing, Seq("b", "c"))
    val perNode = tris.select(col("a").as("node"))
      .union(tris.select(col("b").as("node")))
      .union(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.select(col("node")).join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }
}

package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}
import graft.sources.Tables

/** Dev tool: per-stage timings of the bench hot spots. Not part of the
  * driver contract; run with
  * `sbt "runMain graft.tools.Profile /root/testdata/sf0.1"`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, d).count()

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROF $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s  rows=$n")
    }

    val docs = Tables.documents(spark, d)
    t("docs.count")(docs.count())
    t("docs fingerprint")(docs.select(TextOps.fingerprint(col("text"))).count())
    t("exactDedup full")(Dedup.exactDedup(docs, "doc_id", "text").count())
    t("exactDedup+sort (bench shape)")(
      Dedup.exactDedup(docs, "doc_id", "text").select("doc_id").orderBy("doc_id").count())

    val sh = Dedup.shingleRelation(docs, "doc_id", "text", 3)
    t("shingleRelation")(sh.count())
    t("shingle buckets")(sh.groupBy("shingle").agg(count(lit(1))).count())
    t("jaccardPairs full")(
      Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).count())
    locally {
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      t("prefix: dfreq")(dfreq.count())
      val byDoc = sh.join(dfreq, Seq("shingle"))
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("sorted"))
        .withColumn("n_sh", size(col("sorted")))
        .withColumn("plen",
          (col("n_sh") - ceil(col("n_sh") * lit(0.8) - lit(1e-9)) + 1).cast("int"))
      t("prefix: byDoc")(byDoc.count())
      val prefix = byDoc
        .select(col("id"), explode(slice(col("sorted"), lit(1), col("plen"))).as("s"))
        .select(col("s.shingle").as("shingle"), col("id"))
      t("prefix: postings")(prefix.count())
      val cands = prefix.groupBy("shingle")
        .agg(sort_array(collect_list(col("id"))).as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(Dedup.pairsUdf(col("ids"))).as("p"))
        .select(col("p._1").as("id_a"), col("p._2").as("id_b"))
      t("prefix: raw pairs")(cands.count())
      t("prefix: distinct pairs")(cands.distinct().count())
      t("jaccardPairsPrefix full")(
        Dedup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8).count())
    }
    t("minhash full")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8).count())
    t("simhash full")(
      Dedup.simhashPairs(docs, "doc_id", "text", 3).count())

    // hyperplane-LSH bucket-granularity scaling: candidate volume grows
    // ~n²·nTables/2^nPlanes with nPlanes fixed, so a 10x corpus needs
    // ~3-4 more plane bits to keep candidate verify linear — the knob a
    // user turns at scale (the GATE query pins 8/12 so its oracle
    // replays). Measured at the NEAR-DUP threshold 0.9, where the
    // per-plane collision probability of a true pair is 1 - θ/π ≈ 0.86,
    // so added bits cost little recall (8/12 ≈ 98%, 12/24 ≈ 98%
    // analytically; output counts below show the realized agreement).
    // Low-threshold similarity SEARCH (τ ~ 0.3) is a different regime —
    // route it through annTopK/ivfTopK, not pair enumeration.
    locally {
      val emb = graft.sources.Tables.embeddings(spark, d)
      import graft.operators.Similarity
      t("cosLsh τ=.9 nPlanes=8 nTables=12 (gate)")(
        Similarity.cosinePairsLsh(emb, 0.9, 64).count())
      t("cosLsh τ=.9 nPlanes=12 nTables=24")(
        Similarity.cosinePairsLsh(emb, 0.9, 64, nPlanes = 12, nTables = 24).count())
    }

    // full engine demo (what q_condition_secondary pays)
    locally {
      val errs = new graft.dsl.ErrorCollector("demo")
      val c1 = graft.dsl.ConditionParser.parse("demo", "c1",
        "s1#view >= 20 and s2#click < 50", errs).get
      val c2 = graft.dsl.ConditionParser.parse("demo", "c2", "not demo#c1", errs).get
      val coll = graft.model.CollectionSpec("demo",
        java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0),
        java.time.LocalDateTime.of(2024, 1, 31, 23, 59, 59), Vector(c1, c2))
      val engine = new graft.engine.TsaEngine(spark, 720)
      var res: Vector[graft.engine.TsaEngine#ConditionResult] = null
      t("engine.run (incl. validation job)") {
        res = engine.run(coll, graft.queries.TsaQueries.obsFromEvents(spark, d),
          Map("click" -> 1, "error" -> 2, "purchase" -> 3, "signup" -> 4, "view" -> 5))
        1L
      }
      t("c1 count (pack+eval+cache)")(res(0).data.count())
      t("c2 count (reads c1 cache)")(res(1).data.count())
      t("c2 count again")(res(1).data.count())
      t("c1 summary")(res(0).summary.count())
      engine.release()
    }

    spark.stop()
  }
}

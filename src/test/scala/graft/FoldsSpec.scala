package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import graft.functions.TextFns
import graft.operators.{Analytics, Pipeline, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one plan of the keys that used to carry a second, sorted-fold
  * plan: plain partial sums, [[graft.operators.GraftOps.rangeRank]]
  * and, for `source_length_quartiles`, a value histogram. Two
  * contracts: a key's rows never depend on the shuffle partitioning,
  * and each rank-based key equals a test-side reference built on the
  * global window (`row_number` / `ntile`) or the exact `percentile`
  * that the DuckDB oracle's SQL also computes.
  */
class FoldsSpec extends SparkSpec {

  /** The 46 keys whose plans once had a sorted-fold twin. */
  val formerTwinKeys = Seq("embedding_pca", "embedding_stats",
    "neardup_pagerank", "perplexity_doc", "qlm_topk", "source_kl", "zipf_fit",
    "term_entropy", "keyword_textrank", "knn_ivf_trained", "knn_pq",
    "embedding_outliers", "events_twap", "curriculum_order",
    "source_length_quartiles", "revenue_gini", "revenue_pareto",
    "rfm_segments", "orders_abc_class", "epoch_shuffle", "ppl_bucket_mix",
    "rfm_migration", "nb_langid", "nb_langid_eval", "pq_distortion",
    "events_forecast_compare", "events_forecast_eval",
    "events_seasonal_strength", "quality_ppl_corr",
    "wand_topk", "ranker_eval", "mlt_topk",
    "hashing_vectorize", "wand_prune_stats", "mix_temperature",
    "ivf_retrain", "ivf_elbow", "ivf_silhouette", "knn_ivf_pq",
    "knn_ivf_pq_residual", "knn_pq_rerank", "ann_recall_pq",
    "ann_recall_ivfpq", "ann_recall_rerank", "char_entropy",
    "source_lang_mi")

  test("former twin keys return identical rows at shuffle partitions 1, 4, 17 and 64") {
    assert(formerTwinKeys.distinct.length === 46)
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // each key is a chain of small jobs that leaves most cores idle, so
    // four keys run at a time
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def run(parts: Int): Map[String, Seq[Row]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      Await.result(Future.traverse(formerTwinKeys)(k =>
        Future(k -> SparkEntry.queries(k)(spark, sfDir).collect().toSeq)), Duration.Inf).toMap
    }
    try {
      val base = run(1)
      Seq(4, 17, 64).foreach { parts =>
        val got = run(parts)
        formerTwinKeys.foreach { k =>
          assert(got(k) === base(k), s"$k: rows at $parts partitions differ from 1 partition")
        }
      }
    } finally {
      pool.shutdown()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** The keys whose floating sums once went through a collect_list
    * fold buffer (the PQ family shares adcDistances — knn_pq and
    * knn_ivf_pq cover it).
    */
  val foldKeys = Seq("embedding_stats", "embedding_pca", "qlm_topk",
    "neardup_pagerank", "source_kl", "zipf_fit", "perplexity_doc",
    "term_entropy", "keyword_textrank", "knn_ivf_trained",
    "knn_pq", "knn_ivf_pq", "embedding_outliers", "mlt_topk",
    "mix_temperature", "events_twap", "hashing_vectorize",
    "ivf_elbow", "ivf_retrain", "char_entropy")

  test("production mode plans have no collect_list buffer") {
    // the ANN keys keep one DIMENSION-bounded collect_list: the
    // centroid/codebook vector reassembly (d rows -> one array<float>,
    // never corpus-sized) — only the corpus-sized fold buffers must go
    val vectorRebuildKeys = Set("knn_ivf_trained", "knn_pq", "knn_ivf_pq",
      "ivf_retrain")
    foldKeys.filterNot(vectorRebuildKeys).foreach { key =>
      val plan = SparkEntry.queries(key)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("collect_list"), s"$key production plan still folds a list")
    }
  }

  /** RFM segment codes from three global NTILE(4) windows. */
  private def refRfm(o: DataFrame): DataFrame = {
    val c = o.groupBy("o_custkey")
      .agg(max("o_orderdate").as("lastd"), count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("monetary"))
    def score(order: Column): Column =
      ntile(4).over(Window.orderBy(order, col("o_custkey")))
    c.crossJoin(c.agg(max("lastd").as("maxd")))
      .withColumn("recency_days", datediff(col("maxd"), col("lastd")))
      .select(col("o_custkey"), concat(score(col("recency_days").asc),
        score(col("frequency").desc), score(col("monetary").desc)).as("segment"))
  }

  test("revenue_gini production rank is EXACTLY the gate's global-window rank") {
    val cust = Tables.orders(spark, sfDir)
      .groupBy("o_custkey")
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")).as("x"))
    val ref = cust
      .withColumn("rn", row_number().over(Window.orderBy("x", "o_custkey")))
      .agg(count(lit(1)), sum("x"), sum((col("rn") * col("x")).cast("decimal(38,0)")))
      .head()
    val (n, tot, w) = (ref.getLong(0), ref.getLong(1), BigDecimal(ref.getDecimal(2)))
    val got = Analytics.revenueGini(spark, sfDir).collect()
    assert(got.length === 1)
    val g = got.head
    assert(g.getAs[Long]("n_customers") === n)
    assert(g.getAs[Long]("total_cents") === tot)
    assert(BigDecimal(g.getAs[Long]("gini_num")) === w * 2 - BigDecimal(n + 1) * tot)
    assert(BigDecimal(g.getAs[Long]("gini_den")) === BigDecimal(n) * tot)
  }

  test("pareto/rfm production tiles EXACTLY equal the gate's NTILE windows") {
    val spend = Tables.orders(spark, sfDir).groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("m"))
    val wantP = spend
      .withColumn("decile", ntile(10).over(Window.orderBy(col("m").desc, col("o_custkey"))))
      .groupBy("decile").agg(count(lit(1)).as("n"), sum("m").as("rev"))
      .crossJoin(spend.agg(sum("m").cast("double").as("total")))
      .select(col("decile").cast("long"), col("n"),
        round(col("rev").cast("double") / col("total"), 4))
      .orderBy("decile").collect().toSeq
    val gotP = Analytics.revenuePareto(spark, sfDir)
      .select("decile", "n_customers", "rev_share").collect().toSeq
    assert(gotP === wantP && wantP.length === 10)
    val wantR = refRfm(Tables.orders(spark, sfDir)).orderBy("o_custkey").collect().toSeq
    val gotR = Analytics.rfmSegments(spark, sfDir).select("o_custkey", "segment")
      .collect().toSeq
    assert(gotR === wantR && wantR.nonEmpty)
  }

  test("curriculum_order production rank-lookup boundaries EXACTLY equal the gate's percentile") {
    // the rank-lookup route must reproduce the exact interpolated
    // quartiles (no sketch drift at any cardinality)
    val d = Tables.documents(spark, sfDir)
      .select(size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("ntc"))
      .filter(col("n_tokens") > 0)
      .withColumn("difficulty", col("ntc").cast("double") / col("n_tokens").cast("double"))
    val qs = d.agg(expr("percentile(difficulty, array(0.25D, 0.5D, 0.75D))"))
      .head().getSeq[Double](0)
    def stage(x: Double): String =
      if (x <= qs(0)) "0_intro" else if (x <= qs(1)) "1_easy"
      else if (x <= qs(2)) "2_medium" else "3_hard"
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = d.select("difficulty", "n_tokens").collect()
      .map(r => (r.getDouble(0), r.getLong(1)))
      .groupBy(r => stage(r._1)).toSeq.sortBy(_._1)
      .map { case (s, rs) => (s, rs.length.toLong, rs.map(_._2).sum,
        round6(rs.map(_._1).min), round6(rs.map(_._1).max)) }
    val got = Pipeline.curriculumOrder(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(got === want && got.length === 4)
  }

  test("rangeRankMulti: every pass equals the global row_number, incl. ties and skew") {
    import spark.implicits._
    // adversarial frame: heavy value ties (so bucket boundaries cut
    // through tie runs), skewed magnitudes, and a negated descending
    // pass — every rank must still be EXACTLY the global window's
    val rows = (1L to 2000L).map { i =>
      (i, (i % 7) * 100L, math.pow(-1, i % 3).toLong * (i % 13), (i * 2654435761L) % 1000)
    }
    val df = rows.toDF("id", "a", "b", "c")
    val multi = operators.GraftOps.rangeRankMulti(df,
        Seq("ra" -> col("a"), "rb" -> -col("b"), "rc" -> col("c")), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    def winRank(v: org.apache.spark.sql.Column) =
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(v, col("id"))).cast("long")
    val want = df
      .withColumn("ra", winRank(col("a")))
      .withColumn("rb", winRank(-col("b")))
      .withColumn("rc", winRank(col("c")))
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(multi === want)
    // and the single-pass wrapper agrees with its own multi path
    val one = operators.GraftOps.rangeRank(df, col("a"), col("id"))
      .select("id", "rn").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(one === want.map(t => (t._1, t._2)))
  }

  test("epoch_shuffle production composite rangeRank EXACTLY equals per-epoch windows") {
    val want = Tables.documents(spark, sfDir).select("doc_id")
      .crossJoin(spark.range(0, 3).select(col("id").as("epoch")))
      .withColumn("h", conv(substring(md5(concat(
          lit("ep:"), col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("epoch").orderBy("h", "doc_id")).cast("long"))
      .select("epoch", "pos", "doc_id").orderBy("epoch", "pos").collect().toSeq
    val got = Pipeline.epochShuffle(spark, sfDir).collect().toSeq
    assert(got === want && want.nonEmpty)
    // every epoch is a PERMUTATION: positions 1..n, all docs present
    val n = got.length / 3
    (0L to 2L).foreach { e =>
      val ep = got.filter(_.getLong(0) == e)
      assert(ep.map(_.getLong(1)).sorted === (1L to n).toSeq)
    }
    // and epochs are decorrelated (doc at pos 1 differs somewhere)
    assert(got.filter(_.getLong(1) == 1L).map(_.getLong(2)).distinct.length > 1)
  }

  test("ppl_bucket_mix production tercile cutoffs EXACTLY equal the gate's") {
    val docs = Tables.documents(spark, sfDir)
    val ppl = TextAnalysis.perplexityDocOf(docs).select("doc_id", "ppl")
    val ranked = ppl.withColumn("rn", row_number().over(Window.orderBy("ppl", "doc_id")))
    val n = ranked.count()
    def cutoff(rank: Long): Double =
      ranked.filter(col("rn") === rank).select("ppl").head().getDouble(0)
    val (t1, t2) = (cutoff((n + 2) / 3), cutoff((2 * n + 2) / 3))
    val want = docs
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(ppl, Seq("doc_id"), "left")
      .withColumn("bucket",
        when(col("ppl").isNull, "3_unscored")
          .when(col("ppl") <= t1, "0_head")
          .when(col("ppl") <= t2, "1_middle")
          .otherwise("2_tail"))
      .groupBy("source", "bucket").agg(count(lit(1)), sum("n_tokens"))
      .orderBy("source", "bucket").collect().toSeq
    val got = TextAnalysis.pplBucketMix(spark, sfDir)
      .select("source", "bucket", "n_docs", "n_tokens").collect().toSeq
    assert(got === want && want.nonEmpty)
    // terciles actually split: more than one bucket appears
    assert(got.map(_.getString(1)).distinct.length > 1)
  }

  test("rfm_migration production half-segmentations EXACTLY equal the gate's") {
    val o = Tables.orders(spark, sfDir)
    // the rank-based lower-median distinct order date
    val dates = o.select("o_orderdate").distinct().orderBy("o_orderdate")
      .collect().map(_.get(0))
    val split = lit(dates((dates.length + 1) / 2 - 1))
    val want = refRfm(o.filter(col("o_orderdate") <= split)).withColumnRenamed("segment", "sfrom")
      .join(refRfm(o.filter(col("o_orderdate") > split)).withColumnRenamed("segment", "sto"),
        Seq("o_custkey"), "full_outer")
      .groupBy(coalesce(col("sfrom"), lit("new")).as("seg_from"),
        coalesce(col("sto"), lit("churned")).as("seg_to"))
      .agg(count(lit(1)))
      .orderBy("seg_from", "seg_to").collect().toSeq
    val got = Analytics.rfmMigration(spark, sfDir).collect().toSeq
    assert(got === want && want.nonEmpty)
    // both absorbing states occur on the gate corpus
    assert(got.map(_.getString(0)).contains("new") && got.map(_.getString(1)).contains("churned"))
  }

  test("abc production rank+prefix EXACTLY equals the gate's global window") {
    val pr = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) *
          10000).cast("decimal(38,0)")).cast("decimal(38,0)").as("cents"))
    val total = lit(pr.agg(sum("cents")).head().getDecimal(0))
    val cum = sum(col("cents")).over(Window.orderBy(col("cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val want = pr.withColumn("cum", cum)
      .withColumn("abc_class",
        when(col("cum") * 10 <= total * 7, "A")
          .when(col("cum") * 10 <= total * 9, "B")
          .otherwise("C"))
      .groupBy("abc_class").agg(count(lit(1)), sum("cents").cast("long"))
      .orderBy("abc_class").collect().toSeq
    val got = Analytics.ordersAbcClass(spark, sfDir)
      .select("abc_class", "n_parts", "class_rev_e4").collect().toSeq
    assert(got === want && want.nonEmpty)
  }
}

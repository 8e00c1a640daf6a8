package graftbench

import graft.operators.{Dedup, Index, Pipeline, Query}
import graft.sources.{IndexStore, Tables}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import scala.collection.mutable
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** The three workloads. Each times calls into graft's public functions
  * through [[Bench.op]]/[[Bench.call]] and checks every timed output
  * after its timed loop.
  */
object Workloads {
  val Buckets = 64

  /** A search result in comparable form: ids for set-valued shapes,
    * (id, score) in rank order for the ranked shape.
    */
  type Result = Seq[(Long, Double)]

  def idsOf(rows: Array[Row]): Result =
    rows.map(r => (r.getAs[Long]("doc_id"), 0.0)).distinct.sortBy(_._1).toSeq

  def rankedOf(rows: Array[Row]): Result =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq

  /** Run `jobs` on `threads` client threads (result checks only). */
  def parallel[A](threads: Int)(jobs: Seq[() => A]): Seq[A] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(jobs.map(j => Future(j()))), Duration.Inf)
    finally pool.shutdown()
  }

  /** The index-served call for one query shape against an open handle. */
  def served(oi: IndexStore.OpenIndex, shape: String, q: String): DataFrame = shape match {
    case "term" => IndexStore.lookupOn(oi, q)
    case "ranked" => Query.searchRankedIndexOn(oi, q, k = 10)
    case _ => Query.searchIndexOn(oi, q)
  }

  /** The corpus-side evaluator the specs pair with each served shape. */
  def expected(docs: DataFrame, shape: String, q: String): Result = shape match {
    case "ranked" => rankedOf(Query.searchRanked(docs, q, k = 10).collect())
    case _ => idsOf(Query.search(docs, q).collect())
  }

  def queries(b: Bench, file: String): IndexedSeq[(String, String)] =
    b.spark.read.parquet(s"${b.inputDir}/$file").collect()
      .map(r => (r.getString(0), r.getString(1))).toIndexedSeq

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** (pruned, all) `term_bucket` scans of the plan: pruned scans carry a
    * partition filter. */
  def pruning(df: DataFrame): (Int, Int) = {
    val scans = Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.partitionSchema.fieldNames.contains("term_bucket") => s
    }
    (scans.count(_.partitionFilters.exists(_.references.exists(_.name == "term_bucket"))),
      scans.size)
  }

  /** Serving, then maintenance, on one segmented store.
    *
    * Build: the base corpus lands as segment 0 with its `_stats` side
    * table. Serve phase: rounds of the term, bool, phrase and ranked
    * shapes through one `IndexStore.open` handle. Churn phase: each step lands
    * new docs and re-landed updates, takes docs down, reopens the handle
    * and queries it.
    */
  def search(b: Bench): Unit = {
    import b._
    val base = Tables.documents(spark, inputDir)
    val store = path("store")
    val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val schema = base.select(docCols.map(col): _*).schema
    val idSchema = base.select("doc_id").schema
    val (_, tLand0) = call("indexstore.land")(
      IndexStore.saveSegment(Index.invertedIndexOf(base), store, 0L, Buckets))
    val (_, tStats) = call("indexstore.stats")(IndexStore.saveStats(spark, store))
    sample("build_ms", tLand0 + tStats)
    values("indexstore.base_bytes") = du(store)._1
    val (oi0, tOpen0) = call("indexstore.open")(IndexStore.open(spark, store, Buckets))
    sample("open_ms", tOpen0)
    val live = mutable.LinkedHashMap[Long, Row]()
    base.select(docCols.map(col): _*).collect().foreach(r => live(r.getLong(0)) = r)
    var oi = oi0
    val gone = mutable.Set[Long]()
    // per query round: the live doc set its results must agree with, and
    // the ids taken down before it
    val rounds = mutable.ArrayBuffer[(Seq[Row], Set[Long], Seq[((String, String), Result)])]()
    def queryRound(qs: Seq[(String, String)], sampleName: String): Unit =
      rounds += ((live.values.toSeq, gone.toSet, qs.map { case (shape, q) =>
        val (res, ms) = op(s"query.$shape")(served(oi, shape, q))(resultOf(shape))
        sample(sampleName, ms)
        sample(s"query.${shape}_ms", ms)
        (shape, q) -> res
      }))

    // ---- serve phase: whole rounds, one query of each shape per round
    val pool = queries(b, "queries.parquet")
    val shapes = pool.map(_._1).distinct
    loop(seconds / 2) { round =>
      queryRound(shapes.indices.map(j => pool((round * shapes.size + j) % pool.size)), "query_ms")
    }
    val served0 = rounds.flatMap(_._3).map(_._1).distinct
    val pr = served0.map { case (s, q) => pruning(served(oi, s, q)) }
    values("query.pruned_frac") = pr.map(_._1).sum.toDouble / math.max(1, pr.map(_._2).sum)

    // ---- churn phase
    val land = spark.read.parquet(s"$inputDir/land.parquet").collect()
      .groupBy(_.getAs[Int]("step"))
    val takedown = spark.read.parquet(s"$inputDir/takedown.parquet").collect()
      .groupBy(_.getAs[Int]("step")).map { case (s, rs) => s -> rs.map(_.getAs[Long]("doc_id")) }
    val churnPool = queries(b, "churn_queries.parquet")
    var landedDocs, landedBytes, segBytes = 0L
    var maintMs = 0.0
    var segMax, tombMax = 0
    loop(seconds / 2) { step =>
      val rows = land(step).map(r => Row.fromSeq(docCols.map(r.getAs[Any])))
      val delta = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, cores), schema)
      val ids = takedown(step)
      val idDf = spark.createDataFrame(spark.sparkContext.parallelize(ids.toSeq.map(Row(_)), 1),
        idSchema)
      val (landed, tLand) = call("indexstore.land")(
        IndexStore.saveSegment(Index.invertedIndexOf(delta), store, step + 1L, Buckets))
      check(landed, s"churn step $step: segment ${step + 1} did not land")
      val (dropped, tTd) = call("indexstore.takedown")(
        IndexStore.deleteBatch(idDf, store, step.toLong))
      check(dropped, s"churn step $step: takedown batch did not land")
      val (o2, tOpen) = call("indexstore.open")(IndexStore.reopenIfStale(oi))
      oi = o2
      segMax = math.max(segMax, IndexStore.segmentIds(spark, store).size)
      tombMax = math.max(tombMax, IndexStore.tombstoneBatchCount(spark, store))
      rows.foreach(r => live(r.getLong(0)) = r)
      ids.foreach { id => live.remove(id); gone += id }
      sample("land_ms", tLand)
      sample("takedown_ms", tTd)
      sample("open_ms", tOpen)
      maintMs += tLand + tTd + tOpen
      landedDocs += rows.length
      landedBytes += rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
      segBytes += du(s"$store/seg=${step + 1}")._1
      queryRound((0 until StepQueries).map(j =>
        churnPool((step * StepQueries + j) % churnPool.size)), "churn_query_ms")
    }
    val (bytes, files) = du(store)
    values("churn.docs_landed") = landedDocs
    values("churn.maintenance_ms") = maintMs
    values("churn.landed_bytes") = landedBytes
    values("indexstore.bytes") = bytes
    values("indexstore.files") = files
    values("indexstore.segments_max") = segMax
    values("indexstore.tombstone_batches_max") = tombMax
    values("indexstore.write_amp") = segBytes.toDouble / math.max(1L, landedBytes)
    values("query.rows_per_query") =
      rounds.flatMap(_._3).map(_._2.size).sum.toDouble / rounds.map(_._3.size).sum

    // ---- checks (untimed): every timed result against the corpus-side
    // evaluator over the doc set that was live when it ran
    val checks = rounds.toSeq.flatMap { case (liveRows, goneThen, results) =>
      val liveDf = spark.createDataFrame(spark.sparkContext.parallelize(liveRows, cores), schema)
        .cache()
      results.map { case (q, got) => () => (q, got, goneThen, expected(liveDf, q._1, q._2)) }
    }
    parallel(cores)(checks).foreach { case (q, got, goneThen, want) =>
      check(got == want, s"search $q returned ${got.take(5)}... want ${want.take(5)}...")
      check(!got.exists(r => goneThen.contains(r._1)), s"search $q returned a taken-down id")
    }
    val resurrected = IndexStore.load(spark, store).select("doc_id").distinct()
      .collect().map(_.getLong(0)).count(gone.contains)
    check(resurrected == 0, s"search store still serves $resurrected taken-down ids")
  }

  /** Churn-phase queries after each step (shapes that need no side-table refresh). */
  val StepQueries = 1

  def resultOf(shape: String)(df: DataFrame): Result = {
    val rows = df.collect()
    if (shape == "ranked") rankedOf(rows) else idsOf(rows)
  }

  def dedup(b: Bench): Unit = {
    import b._
    val docs = Tables.documents(spark, inputDir)
    val planted = spark.read.parquet(s"$inputDir/planted.parquet").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("kind"), r.getAs[Long]("canonical")))
    val family = planted.flatMap { case (id, _, root) => Seq(id -> root, root -> root) }.toMap
    val exact = planted.filter(_._2 == "exact").map(_._1)
    val near = planted.filter(_._2 == "near").map(_._1)
    val nDocs = count(docs)
    var first: Option[(Set[Long], Set[(Long, Long)], Seq[Row], Long)] = None
    loop(seconds) { _ =>
      val t0 = System.nanoTime()
      val (kept, tClean) = op("pipeline.clean")(Pipeline.cleanOf(docs)._1)(
        _.select("doc_id").collect().map(_.getLong(0)).toSet)
      val (pairs, tLsh) = op("dedup.minhash_lsh")(Dedup.minhashLshPairsOf(docs))(
        _.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      val (cos, tCos) = op("index.cosine")(Index.tfidfCosineGuardedOf(docs))(_.collect().toSeq)
      val (tri, tTri) = op("dedup.triangles")(Dedup.neardupTriangles(spark, inputDir))(count)
      val ms = (System.nanoTime() - t0) / 1e6
      sample("pass_ms", ms)
      Seq("clean" -> tClean, "minhash_lsh" -> tLsh, "cosine" -> tCos, "triangles" -> tTri)
        .foreach { case (k, v) => sample(s"$k.ms", v) }
      // every planted exact copy must be gone; the guarded cosine must
      // have taken the profile rung (degenerate regime)
      check(exact.forall(id => !kept.contains(id)),
        s"dedup kept ${exact.count(kept.contains)} planted exact duplicates")
      val regimes = cos.map(_.getAs[String]("regime")).distinct
      check(regimes == Seq("degenerate"), s"dedup cosine regime $regimes, want degenerate")
      first match {
        case None => first = Some((kept, pairs, cos, tri))
        case Some((k0, p0, c0, t0c)) =>
          check(k0 == kept && p0 == pairs && c0 == cos && t0c == tri,
            "dedup results differ between passes")
      }
      values("dedup.recall") = near.count(id => !kept.contains(id)).toDouble / near.length
      values("dedup.candidate_pairs") = pairs.size
      values("dedup.pair_precision") = pairs.count { case (x, y) =>
        family.get(x).exists(r => family.get(y).contains(r)) }.toDouble / math.max(1, pairs.size)
      values("dedup.triangles") = tri
      values("dedup.cosine_regime") = regimes.mkString(",")
      values("dedup.survivors") = kept.size
    }
    values("dedup.docs") = nDocs
  }

  def analytics(b: Bench, keys: Seq[String]): Unit = {
    import b._
    val fns = graft.SparkEntry.queries
    val out = path("board_out")
    loop(seconds) { pass =>
      val t0 = System.nanoTime()
      val results = keys.map { k =>
        val (rows, ms) = op(s"board.$k")(fns(k)(spark, inputDir))(df => (df.schema, df.collect()))
        sample(s"key.$k.ms", ms)
        k -> rows
      }
      sample("pass_ms", (System.nanoTime() - t0) / 1e6)
      // untimed: the collected rows go to parquet with their schema, for
      // the runner to compare with each key's DuckDB oracle
      results.foreach { case (k, (schema, rows)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
          .write.parquet(s"$out/$pass/$k")
      }
    }
    values("board.oracle") = keys.map(k => k -> graft.SparkEntry.oracleSql(k)).toMap
    values("board.out") = out
  }

}

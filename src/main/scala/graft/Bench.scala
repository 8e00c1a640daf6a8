package graft
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the session (codegen compiler, parquet readers, shuffle
    // machinery) on the tiny sf so the first timed query doesn't
    // absorb JVM startup.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // min of 2 runs: single-run timings swing +/-0.5s from GC and JIT;
    // the min is the stable warm-throughput number. The runs are two
    // passes over the key list, the second in reverse order, so a
    // key's two runs never follow the same key: what ran just before
    // (its garbage, its cached blocks, its JIT state) weighs on at
    // most one of them. A run that throws reports the sentinel -1 and
    // lands in "errors" — a broken query must never masquerade as a
    // fast one.
    // SPARK_GRAFT_ONLY: comma-separated subset for local iteration; the
    // driver never sets it, so its runs always time the full surface.
    //
    // Materialize via queryExecution.toRdd, NOT count(): count() puts an
    // Aggregate on top and the optimizer then join-eliminates any
    // cardinality-preserving subtree under it (unique-key outer joins,
    // windows, projections) — r1-r7 timed dedup_spans at 0.3s while its
    // whole gram pipeline was optimized away. toRdd executes the query's
    // OWN physical plan (including the presentation sort), so every
    // entry prices what Verify actually materializes.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    def time(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
               catch { case _: Throwable => false }
      if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val first = keys.map { case (name, fn) => name -> time(fn) }.toMap
    val second = keys.reverse.map { case (name, fn) => name -> time(fn) }.toMap
    val results = keys.map { case (name, _) =>
      val times = Seq(first(name), second(name))
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // Serving regression entries (r12 VERDICT item 8): the serving
    // percentiles used to be one-shot §6 prose — as `serve:*` keys in
    // the same per-key map, bench_diff flags serving regressions the
    // way it flags query regressions. One index build from sfDir (+
    // the meta side table), then the shared 60-query mixed
    // workload ([[Serving.mix]]: term/bool/phrase/BM25-ranked/
    // fielded/fuzzy, all index-served — 10 queries per shape);
    // p50/p95 per shape land as seconds beside the
    // serve:index_build / serve:meta_build deploy costs and the
    // bucket-pruning violation count. Informational — never in
    // "total". Skipped on SPARK_GRAFT_ONLY subset
    // runs (no index build for a two-key iteration loop).
    val serveBuf = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    if (only.isEmpty) try {
      val idxPath = java.nio.file.Files
        .createTempDirectory("graft-bench-idx").toString + "/index"
      val tB = System.nanoTime()
      sources.IndexStore.save(operators.Index.invertedIndex(spark, sfDir),
        idxPath, nBuckets = 64)
      serveBuf += "serve:index_build" -> (System.nanoTime() - tB) / 1e9
      // fielded serving needs the `_meta` side table — deploy cost
      // priced like the index build; langs drawn from it widen the
      // mix with the r14 fielded + fuzzy shapes
      val tM = System.nanoTime()
      sources.IndexStore.saveMeta(sources.Tables.documents(spark, sfDir)
        .select("doc_id", "lang", "source"), idxPath)
      serveBuf += "serve:meta_build" -> (System.nanoTime() - tM) / 1e9
      val langs = sources.IndexStore.loadMeta(spark, idxPath)
        .select("lang").distinct().orderBy("lang").limit(4)
        .collect().map(_.getString(0))
      // the SymSpell fuzzy dictionary (late r14): the mix's fuzzy
      // shape probes it instead of levenshtein-scanning the term
      // dictionary; deploy cost priced like the other side tables
      val tF = System.nanoTime()
      sources.IndexStore.saveFuzzy(spark, idxPath)
      serveBuf += "serve:fuzzy_build" -> (System.nanoTime() - tF) / 1e9
      val vocab = Serving.vocabOf(spark, idxPath)
      val r = Serving.mix(spark, idxPath, 64, vocab, nQueries = 60,
        langs = langs)
      (r.shapes :+ "all").foreach { sh =>
        serveBuf += s"serve:${sh}_p50" -> r.p(sh, 0.50)
        serveBuf += s"serve:${sh}_p95" -> r.p(sh, 0.95)
      }
      serveBuf += "serve:unpruned" -> r.unpruned.toDouble
      // the PREPARED session twin (r14): one IndexStore.open pinned
      // across the same mix — the per-query planning-floor delta shows
      // up as serve:prep_* beside the per-query keys
      val rp = Serving.mix(spark, idxPath, 64, vocab, nQueries = 60,
        prepared = true, langs = langs)
      (rp.shapes :+ "all").foreach { sh =>
        serveBuf += s"serve:prep_${sh}_p50" -> rp.p(sh, 0.50)
        serveBuf += s"serve:prep_${sh}_p95" -> rp.p(sh, 0.95)
      }
      serveBuf += "serve:prep_unpruned" -> rp.unpruned.toDouble
      // DENSE serving leg (late r14 — the prepared-session discipline
      // on the ANN path): land a first-16-centroid IVF store from
      // sfDir's embeddings, then serve 10 single-vector probes
      // per-query (fresh store listing + centroid read each time, the
      // streaming micro-batch shape) vs through one pinned
      // openEmbedStore handle. Own try scope (r15): an embed-leg
      // failure lands its own sentinel instead of masking the sparse
      // serving numbers already recorded above.
      try {
      val embBase = java.nio.file.Files
        .createTempDirectory("graft-bench-emb").toString
      val (centP, storeP) = (s"$embBase/cent", s"$embBase/store")
      val emb = sources.Tables.embeddings(spark, sfDir)
      val tE = System.nanoTime()
      operators.Similarity.saveCentroids(
        emb.select("vec_id", "embedding"), centP)
      operators.Similarity
        .ivfAssignTo(operators.Similarity
          .withNormOf(emb.select("vec_id", "embedding")),
          spark.read.parquet(centP))
        .write.partitionBy("bucket").mode("overwrite").parquet(storeP)
      serveBuf += "serve:embed_build" -> (System.nanoTime() - tE) / 1e9
      val probes = emb.orderBy("vec_id").limit(10)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      import spark.implicits._
      def knnLat(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : Seq[Double] = probes.toSeq.map { case (vid, e) =>
        val t0 = System.nanoTime()
        f(Seq((vid, e)).toDF("vec_id", "embedding")).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      val perQ = knnLat(q => streaming.Stream.knnBatchOf(q,
        spark.read.parquet(centP), streaming.Stream.loadEmbedStore(spark, storeP),
        k = 10))
      val oes = streaming.Stream.openEmbedStore(spark, storeP, centP)
      val prepQ = knnLat(q => streaming.Stream.knnServeOn(oes, q, k = 10))
      serveBuf += "serve:knn_p50" -> Serving.pct(perQ, 0.50)
      serveBuf += "serve:knn_p95" -> Serving.pct(perQ, 0.95)
      serveBuf += "serve:prep_knn_p50" -> Serving.pct(prepQ, 0.50)
      serveBuf += "serve:prep_knn_p95" -> Serving.pct(prepQ, 0.95)
      // SQ8 quantized serving leg (r15): deploy cost of the `_sq8`
      // layout, the ADC-shortlist+rerank latency through a prepared
      // handle, and the memory-wall number — on-disk bytes/vector for
      // codes vs raw fp32 (the measured side of ann_memory_report's
      // 4× prediction)
      val tQ = System.nanoTime()
      streaming.Stream.quantizeEmbedStore(spark, storeP)
      serveBuf += "serve:sq8_build" -> (System.nanoTime() - tQ) / 1e9
      val oqs = streaming.Stream.openEmbedStoreQuantized(spark, storeP, centP)
      val quantQ = knnLat(q => streaming.Stream.knnServeQuantized(oqs, q, k = 10))
      serveBuf += "serve:prep_knnq_p50" -> Serving.pct(quantQ, 0.50)
      serveBuf += "serve:prep_knnq_p95" -> Serving.pct(quantQ, 0.95)
      val efs = new org.apache.hadoop.fs.Path(storeP)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nVec = emb.count().toDouble
      val codeB = efs.getContentSummary(
        new org.apache.hadoop.fs.Path(storeP, "_sq8/codes")).getLength
      val rawB = efs.listStatus(new org.apache.hadoop.fs.Path(storeP))
        .filter(_.getPath.getName.startsWith("bucket="))
        .map(s => efs.getContentSummary(s.getPath).getLength).sum
      serveBuf += "serve:sq8_bytes_per_vec" -> codeB / nVec
      serveBuf += "serve:raw_bytes_per_vec" -> rawB / nVec
      } catch { case _: Throwable => serveBuf += "serve:embed_error" -> -1.0 }
    } catch {
      // distinct sentinel (r15): the old catch-all re-appended
      // serve:index_build -> -1.0, which duplicated the key when the
      // build itself had already landed a real time — partial serve
      // results then carried an ambiguous failure point
      case _: Throwable => serveBuf += "serve:error" -> -1.0
    }
    val all = results ++ serveBuf.toSeq
    val qs = all.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = all.collect { case (k, -1.0) => "\"" + k + "\"" }.mkString("[", ",", "]")
    // total = the gate queries only, so round-over-round totals stay
    // comparable; the serve:* entries are informational.
    val total = results.map(_._2).filter(_ >= 0).sum
    // run context, so a regression traces to a machine shape and a
    // commit: the session's cores and shuffle partitions, and the
    // checkout's HEAD ("unknown" outside a git checkout)
    val repoRoot = sys.env.getOrElse("SPARK_GRAFT_REPO", sys.props("user.dir"))
    val sha = try {
      import scala.sys.process._
      Process(Seq("git", "rev-parse", "HEAD"), new java.io.File(repoRoot))
        .!!(ProcessLogger(_ => ())).trim
    } catch { case _: Exception => "unknown" }
    val context = s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""shufflePartitions":${spark.conf.get("spark.sql.shuffle.partitions")},""" +
      s""""git":"$sha""""
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir",$context}"""
    // The full one-line JSON exceeds the driver's 2000-char output tail at
    // 257+ queries, so the LAST stdout line must be a compact summary that
    // still parses as the bench contract: total + errors + a slowest-5
    // "queries" map + the path of the full per-query artifact. The full
    // JSON goes to the file and is printed above for human capture.
    val out = Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json"))
    Files.write(out, json.getBytes(StandardCharsets.UTF_8))
    // FULL-SURFACE runs also persist the complete per-key map into the
    // repo (BENCH_full_latest.json, committed each round), so per-key
    // regressions across rounds are a one-line git diff instead of a
    // noise chase — the r9 "knn_ivf 6.42s" incident. Subset runs
    // (SPARK_GRAFT_ONLY) skip it: a partial map would masquerade as a
    // full-surface regression baseline.
    if (only.isEmpty && Files.isDirectory(Paths.get(repoRoot, ".git")))
      Files.write(Paths.get(repoRoot, "BENCH_full_latest.json"),
        json.getBytes(StandardCharsets.UTF_8))
    println(json)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.size},"queries":$slowest,"errors":$errs,"full_json":"$out","sf":"$sfDir",$context}""")
    spark.stop()
  }
}

package graft

/** Rounds-vs-time curve for the BPE trainer (SURVEY §6; r10 VERDICT
  * item 2): times [[graft.operators.TextAnalysis.bpeTrainerOf]] at
  * production merge counts. Usage:
  * `runMain graft.BpeStress [rounds,rounds,...] [window] [sliceCap]`
  * (default 8,64,256; window and slice cap default to the trainer's
  * `BpeWindow` and `BpeSliceCap` — smaller ones force many
  * super-rounds or the batched fallback); dirs via
  * SPARK_GRAFT_STRESS_DIRS (default sf0.1).
  */
object BpeStress {
  def main(args: Array[String]): Unit = {
    val rounds =
      if (args.nonEmpty) args(0).split(',').toSeq.map(_.toInt)
      else Seq(8, 64, 256)
    val window = args.lift(1).map(_.toInt).getOrElse(operators.TextAnalysis.BpeWindow)
    val cap = args.lift(2).map(_.toInt).getOrElse(operators.TextAnalysis.BpeSliceCap)
    val dirs = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIRS",
      "/root/testdata/sf0.1").split(',').toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.entry(spark).count() // warm codegen/readers/shuffle
    for (dir <- dirs; r <- rounds) {
      // `zipf:<n>` = the shared Zipfian synthetic (20k-term vocab) —
      // the sf corpora's 31-word vocabulary exhausts all pair
      // structure at ~89 merges, far too small to exercise a
      // production merge count
      val t0 = System.nanoTime()
      val merges = operators.TextAnalysis
        .bpeTrainerOf(StressData.docsOf(spark, dir), r, window, cap)._1
        .queryExecution.toRdd.count()
      val t = (System.nanoTime() - t0) / 1e9
      val scans = operators.TextAnalysis.lastBpeScans
      val mps = if (scans > 0) merges.toDouble / scans else merges.toDouble
      val sup = operators.TextAnalysis.lastBpeSuperRounds
      val fb = operators.TextAnalysis.lastBpeFellBack
      println(f"BPESTRESS dir=$dir%-24s window=$window%-6d cap=$cap%-8d " +
        f"rounds=$r%-6d merges=$merges%-6d scans=$scans%-5d " +
        f"superrounds=$sup%-5d fellback=$fb%-5s merges/scan=$mps%7.1f $t%8.2fs")
    }
    spark.stop()
  }
}

/** Shared stress-corpus loader: a real sf/clone dir, or `zipf:<n>` —
  * the deterministic Zipfian synthetic (V = 20k terms, 60 tokens/doc,
  * inverse-CDF V^u draws from xxhash64 uniforms, every 10th doc a
  * planted near-dup of its predecessor) that CosineRecallStress
  * introduced; BpeStress shares it so tokenizer scaling is measured
  * on a vocabulary with production-like pair structure.
  */
object StressData {
  def docsOf(spark: org.apache.spark.sql.SparkSession,
             dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    if (dir.startsWith("zipf:")) {
      val n = dir.stripPrefix("zipf:").toLong
      spark.range(n).select(col("id").as("doc_id"),
        array_join(expr(
          """transform(sequence(0, 59), j -> concat('t', cast(pow(20000.0,
            |  (abs(xxhash64(concat(cast(if(id % 10 = 1 and j >= 6, id - 1, id)
            |     as string), ':', cast(j as string),
            |     if(id % 10 = 1 and j < 6, ':c', '')))) % 1000000) / 1000000.0)
            |  as long)))""".stripMargin), " ").as("text"))
    } else sources.Tables.documents(spark, dir)
  }

  /** Materialize a `zipf:<n>` synthetic corpus as a parquet sf-dir
    * (`<out>/documents.parquet`), so the per-key stress runners
    * ([[StressBench]], Bench's SPARK_GRAFT_ONLY loop) — which read
    * sf-dir layouts — can time operators on the Zipfian regime too.
    * Usage: `runMain graft.StressData zipf:50000 /tmp/zipf50k`.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 2 && args(0).startsWith("zipf:"),
      "usage: StressData zipf:<n> <outDir>")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    docsOf(spark, args(0)).write.mode("overwrite")
      .parquet(s"${args(1)}/documents.parquet")
    println(s"STRESSDATA wrote ${args(0)} -> ${args(1)}/documents.parquet")
    spark.stop()
  }
}

/** Saved-index retrieval at stress scale (SURVEY §6; r10 VERDICT item
  * 6): builds a term-bucketed [[graft.sources.IndexStore]] from a
  * stress corpus (timed), then times three retrieval shapes against
  * it — single-term lookup, boolean AND through the query grammar,
  * and a positional phrase — and re-checks the [[Explain
  * .IndexAuditRules]] plan pins against the AT-SCALE index (bucket
  * partition pruning + prefix pushdown must hold on 500k docs exactly
  * as they do on the spec's small index).
  *
  * Usage: `runMain graft.IndexScaleStress [dir]` (default
  * /tmp/stress100x).
  */
object IndexScaleStress {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/stress100x")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.entry(spark).count() // warm codegen/readers/shuffle
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft-idx-stress").toString + "/index"
    val t0 = System.nanoTime()
    sources.IndexStore.save(operators.Index.invertedIndex(spark, dir), idxPath,
      nBuckets = 64)
    println(f"IDXSTRESS dir=$dir%-20s build ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    // fielded-search metadata: deploy-time cost priced like the build,
    // and the fielded audit rule below needs the side table.
    // Guarded on column presence (the zipf:<n> synthetic corpora carry
    // only doc_id/text): a field-less corpus simply runs the 4-shape
    // mix, it must not kill the whole stress run before measurement.
    val stressDocs = StressData.docsOf(spark, dir)
    val metaFields = Seq("lang", "source").filter(stressDocs.columns.contains)
    if (metaFields.nonEmpty) {
      val tM = System.nanoTime()
      sources.IndexStore.saveMeta(
        stressDocs.select(("doc_id" +: metaFields).map(org.apache.spark.sql.functions.col): _*), idxPath)
      println(f"IDXSTRESS dir=$dir%-20s meta  ${(System.nanoTime() - tM) / 1e9}%8.2fs")
    }
    // SymSpell fuzzy dictionary (late r14) — the mix's fuzzy shape
    // probes it instead of levenshtein-scanning 500k docs' terms
    val tF = System.nanoTime()
    sources.IndexStore.saveFuzzy(spark, idxPath)
    println(f"IDXSTRESS dir=$dir%-20s fuzzy ${(System.nanoTime() - tF) / 1e9}%8.2fs")
    val shapes = Seq(
      "term_lookup" -> (() =>
        sources.IndexStore.lookup(spark, idxPath, "the", nBuckets = 64)),
      "bool_and" -> (() =>
        operators.Query.searchIndex(spark, idxPath, "the AND a", nBuckets = 64)),
      "phrase" -> (() =>
        operators.Query.searchIndex(spark, idxPath, "\"the a\"", nBuckets = 64)))
    shapes.foreach { case (name, mk) =>
      val t = (1 to 2).map { _ =>
        val s = System.nanoTime()
        val n = mk().queryExecution.toRdd.count()
        (System.nanoTime() - s) / 1e9 -> n
      }.minBy(_._1)
      println(f"IDXSTRESS dir=$dir%-20s $name%-12s ${t._1}%8.2fs rows=${t._2}")
    }
    // serving-latency percentiles (r11 item 8, upgraded per r12 items
    // 1 and 5): the shared 100-query mixed workload ([[Serving.mix]] —
    // 25 each of term lookup, boolean AND, exact phrase, and the REAL
    // index-served BM25 ranker), run sequentially AND at 4 / 16
    // concurrent query threads. Latency is per-query wall clock, so
    // the concurrent rows price what overlap costs an individual
    // query; every plan is asserted bucket-pruned in all three runs.
    locally {
      val vocab = Serving.vocabOf(spark, idxPath)
      // the 6-shape mix (late r14): fielded + fuzzy ride beside
      // term/bool/phrase/ranked, langs drawn from the `_meta` table —
      // absent `_meta` (field-less corpus) falls back to the 4-shape mix
      val langs =
        if (sources.IndexStore.hasMeta(spark, idxPath)) {
          val meta = sources.IndexStore.loadMeta(spark, idxPath)
          if (meta.columns.contains("lang"))
            meta.select("lang").distinct().orderBy("lang").limit(4)
              .collect().map(_.getString(0))
          else Array.empty[String]
        } else Array.empty[String]
      // per-query (read-latest) AND prepared-session (one
      // IndexStore.open pinned across the mix — r13 verdict item 7)
      // rows side by side, so the planning-floor delta is measured at
      // every thread count on the big store
      Seq(false, true).foreach { prep =>
        val tag = if (prep) "serve+prep" else "serve"
        Seq(1, 4, 16).foreach { threads =>
          val r = Serving.mix(spark, idxPath, 64, vocab, nQueries = 120,
            threads = threads, prepared = prep, langs = langs)
          (r.shapes :+ "all").foreach { sh =>
            val n = if (sh == "all") r.all.size else r.latencies.getOrElse(sh, Vector.empty).size
            println(f"IDXSTRESS dir=$dir%-20s $tag%-10s thr=$threads%-3d $sh%-7s n=$n%3d " +
              f"p50=${r.p(sh, 0.50)}%6.3fs p95=${r.p(sh, 0.95)}%6.3fs")
          }
          println(s"IDXSTRESS $tag thr=$threads unpruned-plans: ${r.unpruned}")
        }
      }
    }
    // DENSE serving at the dir's embeddings (late r14 — the prepared
    // openEmbedStore session vs the per-request read-latest path,
    // measured at the big store like the sparse mix above)
    if (new java.io.File(s"$dir/embeddings.parquet").exists) {
      import spark.implicits._
      val eb = java.nio.file.Files
        .createTempDirectory("graft-emb-stress").toString
      val (centP, storeP) = (s"$eb/cent", s"$eb/store")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val tE = System.nanoTime()
      operators.Similarity.saveCentroids(emb, centP)
      operators.Similarity
        .ivfAssignTo(operators.Similarity.withNormOf(emb),
          spark.read.parquet(centP))
        .write.partitionBy("bucket").mode("overwrite").parquet(storeP)
      println(f"IDXSTRESS dir=$dir%-20s embed_build ${(System.nanoTime() - tE) / 1e9}%8.2fs")
      val probes = emb.orderBy("vec_id").limit(20)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def lat(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : Seq[Double] = probes.toSeq.map { case (vid, e) =>
        val s = System.nanoTime()
        f(Seq((vid, e)).toDF("vec_id", "embedding")).queryExecution.toRdd.count()
        (System.nanoTime() - s) / 1e9
      }
      val perQ = lat(q => streaming.Stream.knnBatchOf(q,
        spark.read.parquet(centP),
        streaming.Stream.loadEmbedStore(spark, storeP), k = 10))
      val oes = streaming.Stream.openEmbedStore(spark, storeP, centP)
      val prepQ = lat(q => streaming.Stream.knnServeOn(oes, q, k = 10))
      println(f"IDXSTRESS dir=$dir%-20s knn        n=${perQ.size}%3d " +
        f"p50=${Serving.pct(perQ, 0.50)}%6.3fs p95=${Serving.pct(perQ, 0.95)}%6.3fs")
      println(f"IDXSTRESS dir=$dir%-20s knn+prep   n=${prepQ.size}%3d " +
        f"p50=${Serving.pct(prepQ, 0.50)}%6.3fs p95=${Serving.pct(prepQ, 0.95)}%6.3fs")
      // SQ8 quantized serving at the big store (r15): deploy cost,
      // prepared ADC+rerank latency, and on-disk bytes/vector
      val tQ = System.nanoTime()
      streaming.Stream.quantizeEmbedStore(spark, storeP)
      println(f"IDXSTRESS dir=$dir%-20s sq8_build ${(System.nanoTime() - tQ) / 1e9}%8.2fs")
      val oq = streaming.Stream.openEmbedStoreQuantized(spark, storeP, centP)
      val quantQ = lat(q => streaming.Stream.knnServeQuantized(oq, q, k = 10))
      println(f"IDXSTRESS dir=$dir%-20s knn+sq8    n=${quantQ.size}%3d " +
        f"p50=${Serving.pct(quantQ, 0.50)}%6.3fs p95=${Serving.pct(quantQ, 0.95)}%6.3fs")
      val efs = new org.apache.hadoop.fs.Path(storeP)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val nVec = emb.count().toDouble
      val codeB = efs.getContentSummary(
        new org.apache.hadoop.fs.Path(storeP, "_sq8/codes")).getLength
      val rawB = efs.listStatus(new org.apache.hadoop.fs.Path(storeP))
        .filter(_.getPath.getName.startsWith("bucket="))
        .map(s => efs.getContentSummary(s.getPath).getLength).sum
      println(f"IDXSTRESS dir=$dir%-20s sq8_bytes/vec ${codeB / nVec}%8.1f " +
        f"raw_bytes/vec ${rawB / nVec}%8.1f ratio ${rawB.toDouble / codeB}%5.2fx")
    }

    // the small-index plan pins, re-checked at scale
    val plans = Map(
      "index_lookup" ->
        sources.IndexStore.lookup(spark, idxPath, "spark", nBuckets = 64),
      "index_lookup_terms" ->
        sources.IndexStore.lookupTerms(spark, idxPath, Seq("spark", "join"),
          nBuckets = 64),
      "searchindex_prefix" ->
        operators.Query.searchIndex(spark, idxPath, "quer* AND NOT slow",
          nBuckets = 64),
      "searchranked_index" ->
        operators.Query.searchRankedIndex(spark, idxPath, "spark AND join",
          nBuckets = 64),
      "searchindex_fielded" ->
        operators.Query.searchIndex(spark, idxPath,
          "lang:en AND (spark OR query)", nBuckets = 64))
    val violations = Explain.IndexAuditRules.toSeq.sortBy(_._1).flatMap {
      case (name, rule) =>
        val plan = plans(name).queryExecution.executedPlan.toString
        (rule.forbidden :+ "CartesianProduct").filter(plan.contains)
          .map(f => s"$name: forbidden plan feature $f") ++
          rule.required.filterNot(plan.contains)
            .map(r => s"$name: missing plan feature $r")
    }
    violations.foreach(v => println(s"IDXSTRESS AUDIT-VIOLATION $v"))
    println(s"IDXSTRESS audit violations: ${violations.size}")
    spark.stop()
  }
}

/** Blocking-recall audit for `tfidf_cosine_pairs` at stress scale
  * (SURVEY §6; r10 VERDICT item 7): the production operator blocks
  * candidate pairs on SHARED RARE TERMS (df ≤ RareDfFrac·n) — by
  * construction it can only miss a pair whose entire overlap is
  * common terms. This audit measures that miss rate the way
  * `neardup_eval` does for the sketches: over a deterministic doc
  * sample (id mod `step` == 0, ~1k docs so the exact side stays
  * feasible at any corpus scale), score EVERY in-sample pair exactly
  * with the FULL-corpus tf-idf weights, then report what fraction of
  * the truly-similar pairs (cosine ≥ τ) the rare-term blocking
  * retains, at τ = 0.3 and 0.5.
  *
  * Usage: `runMain graft.CosineRecallStress [dir] [step] [stride]`
  * (default /tmp/stress10x, step = |docs|/1024 rounded up). `stride`
  * is the clone-family id stride of the make_stress10x corpora
  * (= the source dir's doc count): when given, the sample keeps WHOLE
  * families — (doc_id % stride) % baseStep == 0 — so the planted
  * near-dup signal the corpus exists to provide is in-frame (plain
  * step-sampling never lands two members of the same family: family
  * ids differ by the stride, which is not a step multiple).
  */
object CosineRecallStress {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val dir = args.headOption.getOrElse("/tmp/stress10x")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    // `zipf:<n>` synthesizes a ZIPFIAN corpus (V = 20k terms, 60
    // tokens/doc, inverse-CDF V^u draws from deterministic xxhash64
    // uniforms) with every 10th doc a planted near-dup of its
    // predecessor (first 6 tokens re-drawn) — the vocabulary regime
    // the rare-term blocking contract is FOR: a Zipf draw is rare
    // (df ≤ 0.05n) with p ≈ 0.5, so near-dup pairs share ~27 rare
    // terms. The clone-corpus dirs measure the DEGENERATE regime (a
    // 31-word vocabulary has no rare-term structure at all): the
    // contract's precondition — detectable in-engine via zipf_fit /
    // vocab_growth — fails there, and the measured recall collapse is
    // the evidence for why the precondition matters.
    val docs = StressData.docsOf(spark, dir)
    val nDocs = docs.count()
    val step = if (args.length > 1) args(1).toLong
               else math.max(1L, nDocs / 1024L)
    // full-corpus tf-idf weights — identical to tfidfCosinePairs
    val base = operators.Index.tokenStreamOf(docs).groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val nDf = docs.agg(count(lit(1)).cast("double").as("n"))
    val w = base.join(base.groupBy("term")
        .agg(count(lit(1)).cast("double").as("df")), "term")
      .crossJoin(broadcast(nDf))
      .filter(col("df") < col("n"))
      .select(col("doc_id"), col("term"), col("df"), col("n"),
        (col("tf") * log(col("n") / col("df"))).as("w"))
      .localCheckpoint() // feeds 4 branches below
    val nrm = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    // zipf mode samples a PREFIX so planted (id-1, id) near-dup pairs
    // land in-sample; step-sampling would systematically exclude them.
    // clone dirs take the family stride (3rd arg) for the same reason:
    // whole families in-sample, ~1k docs total
    val stride = if (args.length > 2) Some(args(2).toLong) else None
    val inS = (c: org.apache.spark.sql.Column) =>
      if (dir.startsWith("zipf:")) c < math.min(nDocs, 2048L)
      else stride match {
        case Some(st) =>
          val familySz = math.max(1L, nDocs / st)
          val baseStep = math.max(1L, st * familySz / 1024L)
          (c % st) % baseStep === 0
        case None => c % step === 0
      }
    val wS = w.filter(inS(col("doc_id")))
    // exact cosine over every in-sample pair (all shared terms)
    val exact = wS.select(col("doc_id").as("doc_a"), col("term"), col("w").as("wa"))
      .join(wS.select(col("doc_id").as("doc_b"), col("term"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(sum(col("wa") * col("wb")).as("dot"))
      .join(nrm.select(col("doc_id").as("doc_a"), col("nrm").as("na")), "doc_a")
      .join(nrm.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("dot") / (col("na") * col("nb"))).as("cos"))
      .localCheckpoint()
    // the operator's blocking: pairs sharing >= 1 rare term
    val rareS = w.filter(col("df") <= col("n") * operators.Index.RareDfFrac)
      .filter(inS(col("doc_id"))).select("doc_id", "term")
    val blocked = rareS.select(col("doc_id").as("doc_a"), col("term"))
      .join(rareS.select(col("doc_id").as("doc_b"), col("term")), "term")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    Seq(0.3, 0.5).foreach { tau =>
      val truth = exact.filter(col("cos") >= tau)
      val nTrue = truth.count()
      val nKept = truth.join(blocked, Seq("doc_a", "doc_b"), "left_semi").count()
      val rec = if (nTrue == 0) 1.0 else nKept.toDouble / nTrue
      val sampleN = docs.filter(inS(col("doc_id"))).count()
      println(f"COSRECALL dir=$dir%-20s sample=$sampleN tau=$tau%.1f " +
        f"true=$nTrue kept=$nKept recall=$rec%.4f")
    }
    // the wired-in guard (r11 VERDICT item 1): the blocking-coverage
    // companion key must read 'degenerate' exactly where the measured
    // recall collapses, and 'ok' where recall holds — same corpus,
    // same run
    val g = operators.Index.tfidfBlockingCoverageOf(docs)
      .select("coverage", "regime", "covered_docs", "n_block_terms",
        "candidate_mass").head()
    println(f"COSRECALL dir=$dir%-20s guard coverage=${g.getDouble(0)}%.4f " +
      f"regime=${g.getString(1)} covered=${g.getLong(2)} " +
      f"block_terms=${g.getLong(3)} cand_mass=${g.getDouble(4)}%.0f")
    // the DECISIVE guard: sampled top-k recall vs exact truth —
    // coverage is necessary-only (the 100x clone corpus reads
    // coverage 'ok' with true recall 0.000; this one reads
    // 'degenerate' there)
    val r = operators.Index.tfidfBlockingRecallOf(docs)
      .select("n_sample", "n_true", "n_kept", "recall", "regime").head()
    println(f"COSRECALL dir=$dir%-20s guard2 sample=${r.getLong(0)} " +
      f"top_true=${r.getLong(1)} kept=${r.getLong(2)} " +
      f"recall=${r.getDouble(3)}%.4f regime=${r.getString(4)}")
    // the COMPOSED operator (r12 VERDICT item 2): tfidf_cosine_guarded
    // drives its candidate relation by guard2's regime — measure THAT
    // relation's recall in the same frame as the blocking rows above
    // (in-sample candidates: the winnow side runs on the sample docs,
    // like the blocked side). This is the row that must read >= 0.8 on
    // the clone corpora where the unguarded relation reads 0.003/0.000.
    val gcand =
      if (r.getString(4) == "ok") blocked
      else operators.Dedup.winnowCandidatesOf(docs.filter(inS(col("doc_id"))))
        .select("doc_a", "doc_b")
        .unionByName(operators.Index.profileIvfCandidatesOf(
          w.filter(inS(col("doc_id")))))
        .unionByName(blocked) // r13: the operator keeps the cheap rare-term relation in the union
        .distinct()
    Seq(0.3, 0.5).foreach { tau =>
      val truth = exact.filter(col("cos") >= tau)
      val nTrue = truth.count()
      val nKept = truth.join(gcand, Seq("doc_a", "doc_b"), "left_semi").count()
      val rec = if (nTrue == 0) 1.0 else nKept.toDouble / nTrue
      println(f"COSRECALL dir=$dir%-20s GUARDED regime=${r.getString(4)}%-10s " +
        f"tau=$tau%.1f true=$nTrue kept=$nKept recall=$rec%.4f")
    }
    // the OPERATOR-CONTRACT frame: recall against the top-50 in-sample
    // pairs by exact cosine — what a top-20 ranking must surface. The
    // tau-threshold relation on a tiny-vocab corpus is DENSE (~2.5% of
    // ALL pairs at tau=0.3: every doc pair shares most of a 31-word
    // vocabulary), so recall@tau of ANY sub-quadratic candidate
    // relation is bounded by candidate mass there — the top-k frame is
    // the one a bounded generator can and must win.
    val top50 = exact.orderBy(col("cos").desc, col("doc_a"), col("doc_b"))
      .limit(50).localCheckpoint()
    // DENSE-REGIME probe: on a tiny vocabulary, similarity is a
    // PROFILE property (near-proportional tf-idf weights over the
    // common terms) — no shared rare term, no shared n-gram run, so
    // every TEXTUAL candidate generator is structurally blind to it.
    // The profile-space tool: each doc's tf-idf vector over the
    // top-32-df COMMON terms, the deterministic 12-bit sign-LSH
    // signature (same rational-hyperplane kernel as knn_lsh), and the
    // Hamming<=2 relation — enumerable sub-quadratically in production
    // by the pigeonhole band join simhash_pairs ships (<=2 differing
    // bits leave one of 3 4-bit bands intact). The sample is ~1k docs,
    // so the relation is evaluated directly here.
    val dWin = org.apache.spark.sql.expressions.Window
      .orderBy(col("df").desc, col("term"))
    val topIdx = w.groupBy("term").agg(max(col("df")).as("df"))
      .orderBy(col("df").desc, col("term")).limit(32)
      .select(col("term"), (row_number().over(dWin) - 1).as("idx"))
    val prof = w.filter(inS(col("doc_id"))).join(broadcast(topIdx), "term")
      .groupBy("doc_id")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("idx"), col("w"))))).as("m"))
      .select(col("doc_id"), expr(
        "transform(sequence(0, 31), i -> cast(coalesce(try_element_at(m, i), 0.0d) as float))")
        .as("emb"))
    val sig = prof.select(col("doc_id"),
        graft.functions.VectorFns.lshBucket(col("emb"), 12).as("sig"))
      .localCheckpoint()
    val profCand = sig.select(col("doc_id").as("doc_a"), col("sig").as("sa"))
      .crossJoin(broadcast(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb"))))
      .filter(col("doc_a") < col("doc_b") && expr("bit_count(sa ^ sb) <= 2"))
      .select("doc_a", "doc_b")
    // and the full dense-ANN shape over the same profiles: the
    // engine's untrained-IVF pattern (first-16 sample profiles as
    // deterministic centroids — saveCentroids' own convention), probe
    // the top-2 cells by cosine, candidates = co-probed pairs. This is
    // exactly `knn_ivf`/`semantic_dedup`'s candidate relation applied
    // to vocab-profile vectors.
    val cents = prof.orderBy("doc_id").limit(16)
      .select(col("doc_id").as("cid"), col("emb").as("ce"))
    val aWin = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("sim").desc, col("cid"))
    val assigned = prof.crossJoin(broadcast(cents))
      .withColumn("sim",
        graft.functions.VectorFns.dot(col("emb"), col("ce")) /
          (sqrt(graft.functions.VectorFns.dot(col("emb"), col("emb"))) *
            sqrt(graft.functions.VectorFns.dot(col("ce"), col("ce"))) + lit(1e-12)))
      .withColumn("rk", row_number().over(aWin))
      .filter(col("rk") <= 4).select(col("doc_id"), col("cid"), col("rk"))
      .localCheckpoint()
    def ivfCand(probe: Int): org.apache.spark.sql.DataFrame = {
      val a2 = assigned.filter(col("rk") <= probe)
      a2.select(col("doc_id").as("doc_a"), col("cid"))
        .join(a2.select(col("doc_id").as("doc_b"), col("cid")), "cid")
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
    }
    val rels = Seq("blocked" -> blocked,
      s"guarded:${r.getString(4)}" -> gcand,
      "profile-lsh12" -> profCand,
      "profile-ivf16x2" -> ivfCand(2),
      "profile-ivf16x4" -> ivfCand(4))
    rels.foreach { case (nm, c) =>
      val tot = top50.count()
      val kept = top50.join(c, Seq("doc_a", "doc_b"), "left_semi").count()
      println(f"COSRECALL dir=$dir%-20s TOP50 rel=$nm%-20s " +
        f"true=$tot kept=$kept recall=${kept.toDouble / math.max(1L, tot)}%.4f")
    }
    rels.drop(2).foreach { case (nm, c) =>
      Seq(0.3, 0.5).foreach { tau =>
        val truth = exact.filter(col("cos") >= tau)
        val nTrue = truth.count()
        val nKept = truth.join(c, Seq("doc_a", "doc_b"), "left_semi").count()
        val rec = if (nTrue == 0) 1.0 else nKept.toDouble / nTrue
        println(f"COSRECALL dir=$dir%-20s PROFILE rel=$nm%-16s tau=$tau%.1f " +
          f"true=$nTrue kept=$nKept recall=$rec%.4f")
      }
    }
    spark.stop()
  }
}

/** Scale-stress runner behind SURVEY §6's 10× study: times a set of
  * keys against two data dirs (sf0.1 and the `tools/make_stress10x.py`
  * clone corpus), so each key's cost can be attributed to its input
  * measure. Shares Bench's honest-materialization contract
  * (`queryExecution.toRdd`, min-of-2).
  *
  * Usage: `runMain graft.StressBench [key,key,...]` (defaults to the
  * round's heaviest audit keys); dirs via SPARK_GRAFT_STRESS_DIRS
  * (comma-separated, default sf0.1 + /tmp/stress10x).
  */
object StressBench {
  def main(args: Array[String]): Unit = {
    val keys =
      if (args.nonEmpty) args(0).split(',').toSeq
      else Seq("neardup_eval", "source_dup_matrix", "dedup_span_ranges",
               "doc_lang_mismatch", "simhash_pairs")
    val dirs = sys.env.getOrElse("SPARK_GRAFT_STRESS_DIRS",
      "/root/testdata/sf0.1,/tmp/stress10x").split(',').toSeq
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.entry(spark).count() // warm codegen/readers/shuffle
    for (dir <- dirs) {
      keys.foreach { k =>
        val t = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          SparkEntry.queries(k)(spark, dir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9
        }.min
        println(f"STRESS dir=$dir%-24s $k%-20s $t%8.2fs")
      }
    }
    spark.stop()
  }
}

package graft.operators

import graft.functions.VectorFns
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY §2.D).
  *
  * `knn_bruteforce` is the exact baseline: broadcast the (tiny) query
  * set against the full vector scan — one narrow pass, cosine inside
  * whole-stage codegen, per-query top-k via window.
  *
  * `knn_ivf` is the scale path (IVF, nprobe=1): broadcast 16 seed
  * centroids, assign every vector to its nearest centroid (narrow),
  * then search only the query's bucket. At 100 TB the assignment is a
  * scan-speed map and the search shuffle touches 1/16th of the data
  * per query instead of all of it.
  */
object Similarity {

  /** Deterministic query set: the first [[NQueries]] vec_ids. */
  val NQueries = 5
  /** Deterministic seed centroids: the first [[NCentroids]] vec_ids. */
  val NCentroids = 16
  val TopK = 10

  /** embeddings with a precomputed norm — per-pair cosine is then just
    * `dot / (nmA * nmB)`, the same doubles as [[VectorFns.cosineSim]]
    * at a third of the flops.
    */
  private[operators] def withNorm(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      sqrt(VectorFns.norm2(col("embedding"))).as("nm"))

  /** Brute-force per-query top-k over any (vec_id, embedding, nm)
    * frame — shared by the raw baseline and the SQ8 variant.
    */
  private def bruteKnnOn(en: DataFrame): DataFrame = {
    val q = en.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nm").as("qnm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    en.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  def knnBruteforce(spark: SparkSession, dir: String): DataFrame =
    bruteKnnOn(withNorm(Tables.embeddings(spark, dir)))

  /** SQ8 scalar quantization: per-dimension corpus min/max (one tiny
    * dimension-keyed agg, broadcast back as two arrays), each value
    * encoded to an 8-bit level q = ⌊(x−mn)/(mx−mn)·255 + 0.5⌋ and
    * dequantized to FLOAT — 4× smaller vectors at billions of rows,
    * with none of PQ's codebook machinery. floor (not round) keeps the
    * halfway cases engine-agnostic, and the final float cast collapses
    * both engines' doubles to the same 32-bit value, so downstream
    * cosine is bitwise cross-engine.
    */
  def sq8Embeddings(e: DataFrame): DataFrame = {
    val stats = e.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy("i").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    val arrs = stats.agg(
      transform(sort_array(collect_list(struct(col("i"), col("mn")))), s => s("mn")).as("mns"),
      transform(sort_array(collect_list(struct(col("i"), col("mx")))), s => s("mx")).as("mxs"))
    // quantize/dequantize in one codegen'd kernel per row
    // ([[graft.functions.Sq8Dequant]]) — the interpreted `transform`
    // lambda with per-element element_at was a per-row hot loop
    e.crossJoin(broadcast(arrs))
      .select(col("vec_id"),
        VectorFns.sq8Dequant(col("embedding"), col("mns"), col("mxs")).as("embedding"))
  }

  /** Exact top-k over the SQ8-dequantized corpus — what serving looks
    * like when raw vectors are dropped for the 4×-compressed form.
    */
  def knnSq8(spark: SparkSession, dir: String): DataFrame =
    bruteKnnOn(withNorm(sq8Embeddings(Tables.embeddings(spark, dir))))

  /** Recall@10 of the SQ8 ranking vs raw brute force — the scalar
    * quantization row of the compression/recall table ([[annRecallPq]]
    * and [[annRecallRerank]] are the PQ rows).
    */
  def annRecallSq8(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnSq8(spark, dir))
      .orderBy("query_id")

  /** (vec_id, embedding, nm, bucket) — nearest-centroid assignment,
    * ties broken toward the lower centroid id. Narrow per-row argmax
    * over the broadcast centroid array (no shuffle).
    */
  def ivfAssign(e: DataFrame): DataFrame = {
    val en = withNorm(e)
    ivfAssignTo(en, en.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nm").as("cnm")))
  }

  /** Nearest-centroid assignment of a pre-normed frame against an
    * EXPLICIT centroid table (cid, ce, cnm) — the form streaming
    * maintenance needs, where centroids are fixed in a store and
    * batches arrive over time ([[ivfAssign]] derives the centroids
    * from the frame itself).
    */
  def ivfAssignTo(en: DataFrame, cent: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    en.crossJoin(broadcast(cent))
      .withColumn("ccos",
        VectorFns.dot(col("embedding"), col("ce")) / (col("nm") * col("cnm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nm"), col("cid").as("bucket"))
  }

  /** Persist the IVF centroid table (cid, ce, cnm) a streaming
    * maintenance loop assigns against — the coarse quantizer is
    * TRAINED ONCE and then fixed, so bucket ids stay stable across
    * batches (re-training would silently re-bucket the whole store).
    */
  def saveCentroids(e: DataFrame, path: String): Unit =
    withNorm(e).filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nm").as("cnm"))
      .write.mode("overwrite").parquet(path)

  /** [[withNorm]] for callers outside the operator package (the
    * streaming loop norms each batch before [[ivfAssignTo]]).
    */
  def withNormOf(e: DataFrame): DataFrame = withNorm(e)

  /** Shared bucketed-ANN search body: broadcast the query rows of an
    * assignment frame (vec_id, embedding, nm, bucket), join on bucket,
    * exact cosine re-rank inside the bucket.
    */
  private def bucketedKnn(assigned: DataFrame): DataFrame = {
    val q = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    assigned
      .join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"), col("bucket"))
      .orderBy("query_id", "rk")
  }

  def knnIvf(spark: SparkSession, dir: String): DataFrame =
    bucketedKnn(ivfAssign(Tables.embeddings(spark, dir)))

  /** Sign-LSH bits: 4 deterministic pseudo-random hyperplanes with
    * rational components r(b,j) = ((709b + 1013j) mod 97 - 48) / 48 —
    * exact integers before one division, so both engines derive
    * bit-identical doubles. Cosine-preserving buckets (Charikar's
    * random-hyperplane LSH), 2^4 = 16 of them.
    */
  val NBits = 4

  // all NBits plane dots + sign bits in one codegen'd kernel call
  // ([[graft.functions.LshBucket]]) — the interpreted `aggregate`
  // lambda per row per hyperplane was a per-row hot loop
  private def lshBucket(emb: Column): Column =
    VectorFns.lshBucket(emb, NBits)

  /** (vec_id, embedding, nm, bucket) — narrow hyperplane-sign
    * assignment; no shuffle, no training pass (vs IVF's centroids).
    */
  def lshAssign(e: DataFrame): DataFrame =
    withNorm(e).withColumn("bucket", lshBucket(col("embedding")))

  /** LSH-bucketed ANN: search only the query's sign bucket, exact
    * cosine re-rank inside it. Same shuffle shape as [[knnIvf]] —
    * broadcast queries, join on bucket — but assignment is pure
    * per-row compute, the right trade at 100 TB when a centroid pass
    * is too expensive.
    */
  def knnLsh(spark: SparkSession, dir: String): DataFrame =
    bucketedKnn(lshAssign(Tables.embeddings(spark, dir)))

  /** LSH MULTIPROBE: search the query's sign bucket AND its four
    * Hamming-1 neighbor buckets (one hyperplane's sign flipped) — the
    * multiprobe trick that buys sign-LSH most of a second hash
    * table's recall for zero extra index state. A corpus row lives in
    * exactly one bucket, so the five probes never produce duplicate
    * candidate pairs and the shuffle stays the one bucket-keyed join
    * ([[bucketedKnn]]'s shape with the query side exploded ×5).
    * [[annRecallLsh2]] quantifies the gain over [[knnLsh]]'s single
    * probe against the same ground truth.
    */
  def knnLshProbe2(spark: SparkSession, dir: String): DataFrame = {
    val asg = lshAssign(Tables.embeddings(spark, dir))
    val q = asg.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("bucket").as("qb"))
      .select(col("query_id"), col("qe"), col("qnm"),
        explode(array(col("qb"), expr("qb ^ 1"), expr("qb ^ 2"),
          expr("qb ^ 4"), expr("qb ^ 8"))).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    asg.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"), col("bucket"))
      .orderBy("query_id", "rk")
  }

  /** Recall@10 of the 5-probe LSH against brute force — read beside
    * [[annRecall]] (single probe): the multiprobe knob, quantified.
    */
  def annRecallLsh2(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnLshProbe2(spark, dir))
      .orderBy("query_id")

  /** IVF with one deterministic Lloyd refinement: assign to the seed
    * centroids, recompute each bucket's centroid as the dimension-wise
    * mean of its members, re-assign every vector to the nearest
    * TRAINED centroid, then search as in [[knnIvf]]. The dim-wise
    * mean is the plain partial-aggregated sum a real k-iteration Lloyd
    * run uses, truncated to float — the truncation absorbs the
    * addition-order drift of the double sum. At 100 TB: the
    * refinement is one extra (bucket, dim)-keyed shuffle of narrow
    * rows per iteration.
    */
  def ivfTrainedAssign(e: DataFrame): DataFrame = {
    val asg = ivfAssign(e)
    val contrib = asg.select(col("bucket"), col("vec_id"),
      posexplode(col("embedding")).as(Seq("j", "v")))
    val dims = contrib.groupBy("bucket", "j")
      .agg(sum(col("v").cast("double")).as("sv"), count(lit(1)).as("cnt"))
      .select(col("bucket"), col("j"),
        (col("sv") / col("cnt")).cast("float").as("c"))
    val cents = dims.groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("j"), col("c")))).as("jc"))
      .select(col("bucket").as("cid2"),
        transform(col("jc"), s => s("c")).as("ce"))
      .withColumn("cnm", sqrt(VectorFns.norm2(col("ce"))))
    val en = withNorm(e)
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid2"))
    en.crossJoin(broadcast(cents))
      .withColumn("ccos",
        VectorFns.dot(col("embedding"), col("ce")) / (col("nm") * col("cnm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nm"), col("cid2").as("bucket"))
  }

  def knnIvfTrained(spark: SparkSession, dir: String): DataFrame =
    bucketedKnn(ivfTrainedAssign(Tables.embeddings(spark, dir)))

  /** Multi-probe IVF (nprobe=2): each query searches its TWO nearest
    * centroid buckets instead of one — the production recall/cost
    * knob ([[annRecall]] measures what it buys). Data-side cost is
    * unchanged (one bucket per vector); only the broadcast query set
    * doubles, so at 100 TB nprobe scales recall with zero extra
    * passes over the corpus.
    */
  def knnIvfProbe2(spark: SparkSession, dir: String): DataFrame =
    knnIvfProbeN(spark, dir, nprobe = 2)

  /** Multi-probe IVF at an arbitrary probe count: each query searches
    * its `nprobe` nearest centroid buckets. Probes widen ONLY the
    * broadcast query-side table (nprobe rows per query); the store
    * side never recomputes or reshuffles.
    */
  def knnIvfProbeN(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val en = withNorm(Tables.embeddings(spark, dir))
    val cent = en.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nm").as("cnm"))
    val wq = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val qp = en.filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cent))
      .withColumn("ccos",
        VectorFns.dot(col("embedding"), col("ce")) / (col("nm") * col("cnm")))
      .withColumn("crn", row_number().over(wq))
      .filter(col("crn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nm").as("qnm"), col("cid").as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    ivfAssign(Tables.embeddings(spark, dir))
      .join(broadcast(qp), "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"), col("bucket"))
      .orderBy("query_id", "rk")
  }

  /** The nprobe design curve: recall@10 vs brute-force truth at
    * nprobe = 1, 2, 3 in one table — `lsh_tuning_curve`'s IVF sibling
    * and the table that picks a serving config (probe cost grows
    * linearly; this shows what each probe buys). Integer-exact:
    * recall is total hits over queries × k, one division at the end.
    */
  def annProbeCurve(spark: SparkSession, dir: String): DataFrame = {
    val bf = knnBruteforce(spark, dir).select(col("query_id"), col("vec_id"))
    (1 to 3).map { np =>
      recallOf(bf, knnIvfProbeN(spark, dir, np))
        .agg(count(lit(1)).as("n_queries"), sum(col("n_hits")).as("total_hits"))
        .select(lit(np.toLong).as("n_probe"), col("n_queries"), col("total_hits"),
          round(col("total_hits").cast("double") /
            (col("n_queries") * TopK).cast("double"), 6).as("recall_at_10"))
    }.reduce(_ unionByName _).orderBy("n_probe")
  }

  /** Recall-vs-k curve for the IVF index against brute-force truth:
    * recall@k for k = 1, 5, 10 — the second axis of the ANN tuning
    * surface ([[annProbeCurve]] sweeps probes at fixed k; this sweeps
    * the result depth at fixed probes). Both ranked lists are already
    * bounded (TopK per query), so every stage after the two kNN runs
    * is arithmetic on a ≤ NQueries·TopK frame; hits are integer
    * joins, recall the one terminal division.
    */
  def annRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val bf = knnBruteforce(spark, dir).select("query_id", "rk", "vec_id")
    val iv = knnIvf(spark, dir)
      .select(col("query_id"), col("vec_id"), col("rk").as("ark"))
    val joined = bf.join(iv, Seq("query_id", "vec_id"))
    val nq = bf.agg(countDistinct(col("query_id")).as("n_queries"))
    Seq(1L, 5L, 10L).map { k =>
      joined.filter(col("rk") <= k && col("ark") <= k)
        .agg(count(lit(1)).as("n_hits"))
        .crossJoin(broadcast(nq))
        .select(lit(k).as("k"), col("n_queries"), col("n_hits"),
          round(col("n_hits").cast("double") /
            (col("n_queries") * lit(k)).cast("double"), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy("k")
  }

  /** Residual-encoded IVF+PQ — the faithful billion-scale
    * formulation: PQ codes quantize the RESIDUAL x − c(bucket(x))
    * rather than x itself (residuals are smaller and centered, so the
    * same 16-code budget spends its resolution where the data
    * actually is — the textbook reason IVF-PQ beats flat PQ). The
    * residual subtraction is per-element float arithmetic (one exact
    * IEEE op both engines share); everything downstream is
    * [[knnIvfPq]]'s machinery over the residual frame, including the
    * query's own-bucket residual distance table.
    */
  def knnIvfPqResidual(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val cents = e.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val res = ivfAssign(e)
      .join(broadcast(cents), col("bucket") === col("cid"))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("ce"), (a, b) => a - b).as("embedding"),
        col("bucket"))
    val parts = pqParts(res.select("vec_id", "embedding"))
    val cb = pqCodebook(parts)
    val asg = res.select("vec_id", "bucket")
    val qb = asg.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val dtabB = pqDtab(parts, cb).join(qb, "query_id")
    adcRank(
      pqCodes(parts, cb).join(asg, "vec_id")
        .join(broadcast(dtabB), Seq("m", "code", "bucket")))
  }

  /** kNN majority-label classification of the query vectors: each
    * query's 10 brute-force nearest neighbors vote with their `label`;
    * prediction = most votes, ties to the smaller label. The label
    * join runs on the tiny neighbor set, never the full vector table.
    */
  def knnClassify(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val w = Window.partitionBy("query_id").orderBy(col("votes").desc, col("label"))
    knnBruteforce(spark, dir)
      .join(labels, "vec_id")
      .groupBy("query_id", "label").agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("pred_label"), col("votes"))
      .orderBy("query_id")
  }

  /** (query_id, n_hits, recall) of an ANN result against the
    * brute-force ground truth. Both sides are <= |queries|*k rows; the
    * explicit broadcast hint spares the sort-merge a cost-less plan
    * would pick (stats are unknown on derived frames).
    */
  private def recallOf(bf: DataFrame, ann: DataFrame): DataFrame =
    bf.join(
        broadcast(ann.select(col("query_id"), col("vec_id"), lit(1L).as("hit"))),
        Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits") / lit(TopK.toDouble), 4).as("recall"))

  /** Recall@10 of the LSH ANN against the brute-force ground truth —
    * the measurement loop any production ANN deployment runs on a
    * query sample before trusting the index. Both sides are the tiny
    * per-query top-k sets, so the audit is free at any corpus size.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnLsh(spark, dir))
      .orderBy("query_id")

  /** The nprobe knob, quantified: recall@10 of single-probe vs
    * two-probe IVF on the same query sample — the measurement that
    * justifies (or not) the extra probe's bucket reads.
    */
  def annRecallIvf(spark: SparkSession, dir: String): DataFrame = {
    val bf = knnBruteforce(spark, dir).select(col("query_id"), col("vec_id"))
    recallOf(bf, knnIvf(spark, dir))
      .withColumn("variant", lit("ivf_probe1"))
      .unionByName(recallOf(bf, knnIvfProbe2(spark, dir))
        .withColumn("variant", lit("ivf_probe2")))
      .select(col("variant"), col("query_id"), col("n_hits"), col("recall"))
      .orderBy("variant", "query_id")
  }

  /** Per-bucket occupancy of the IVF vector store — the capacity /
    * balance view ANN serving plans against (probe cost is the probed
    * bucket's size; a bucket holding 30% of the store means the
    * coarse quantizer needs retraining — the embedding twin of
    * `index_stats`' term-bucket report). Narrow broadcast assignment
    * + one |buckets|-row rollup; nothing corpus-sized moves.
    */
  /** Per-source SEMANTIC concentration — the data-mixing audit beside
    * `sampling_weights`/`mix_temperature`'s token-count view: each
    * source's documents (vec_id ≡ doc_id by the corpus convention the
    * semantic_dedup family already uses) are bucketed by the IVF
    * coarse quantizer, and the report scores how concentrated the
    * source is across semantic cells — n_buckets hit, the dominant
    * bucket and its share, and the Herfindahl index Σ share² (1.0 =
    * the whole source is one semantic cluster and adds less diversity
    * than its token count suggests; 1/16 = uniform). Cost: the
    * broadcast-centroid assignment scan + one (source, bucket) rollup
    * + a per-source argmax window over ≤ |sources|·16 rows — the same
    * 100 TB shape as `ivf_bucket_stats`. The HHI squares are computed
    * in doubles (exact for counts below 2^26.5 per cell — long c·c
    * would overflow ANSI arithmetic at ~3e9-doc sources, where the
    * double path stays finite and equals the oracle's HUGEINT→DOUBLE
    * cast).
    */
  def semanticSourceMix(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfAssign(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("doc_id"), col("bucket"))
    val m = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .join(asg, "doc_id")
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(col("c").desc, col("bucket"))
    m.withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        count(lit(1)).as("n_buckets"),
        max(when(col("rn") === 1, col("bucket"))).as("top_bucket"),
        max(when(col("rn") === 1, col("c"))).as("tc"),
        sum(col("c").cast("double") * col("c").cast("double")).as("ssq"))
      .select(col("source"), col("n_docs"), col("n_buckets"), col("top_bucket"),
        round(col("tc").cast("double") / col("n_docs").cast("double"), 6)
          .as("top_share"),
        round(col("ssq") /
          (col("n_docs").cast("double") * col("n_docs").cast("double")), 6)
          .as("hhi"))
      .orderBy("source")
  }

  def ivfBucketStats(spark: SparkSession, dir: String): DataFrame = {
    val bc = ivfAssign(Tables.embeddings(spark, dir))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_vecs"))
    val tot = bc.agg(sum(col("n_vecs")).cast("double").as("tot"))
    bc.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_vecs"),
        round(col("n_vecs") / col("tot"), 6).as("share"))
      .orderBy("bucket")
  }

  /** One Lloyd refinement step of the IVF coarse quantizer — the
    * retrain move `ivf_bucket_stats`' imbalance report asks for: each
    * bucket's vectors are averaged per dimension into the bucket's
    * NEW centroid, and the report scores how far each centroid would
    * move (cosine between old seed centroid and the assigned-mass
    * mean; ≈ 1 = the quantizer has converged for that cell, low =
    * the seed sits far from its mass and recall is paying for it).
    * The per-(bucket, dim) sums are plain partial aggregations, and
    * the new-centroid assembly / cosine are the deterministic
    * left-to-right double kernels ([[graft.functions.VectorFns.dotD]]).
    * One narrow posexplode + one (16·d)-group rollup;
    * at billions of vectors this is the cheap part of a retrain —
    * the expensive decision it informs is re-bucketing the store.
    */
  def ivfRetrain(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val ex = ivfAssign(e)
      .select(col("vec_id"), col("bucket"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("bucket"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
    val sums = ex.groupBy("bucket", "dim")
      .agg(sum(col("x")).as("s"), count(lit(1)).as("nv"))
    val newc = sums
      .groupBy("bucket")
      .agg(max(col("nv")).as("n_vecs"),
        transform(sort_array(collect_list(struct(col("dim"),
          (col("s") / col("nv").cast("double")).as("m")))), s => s("m")).as("nc"))
    val oldc = withNorm(e).filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("bucket"),
        transform(col("embedding"), x => x.cast("double")).as("oc"),
        col("nm").as("onm"))
    newc.join(broadcast(oldc), "bucket")
      .select(col("bucket"), col("n_vecs"),
        round(VectorFns.dotD(col("oc"), col("nc")) /
          (col("onm") * sqrt(VectorFns.norm2D(col("nc")))), 6).as("centroid_cos"))
      .orderBy("bucket")
  }

  /** Per-dimension embedding health statistics: n, mean, std, min,
    * max — the drift/degenerate-dimension check run before trusting a
    * new embedding batch (a collapsed dimension shows std ≈ 0, a
    * scale bug shows in min/max). One narrow posexplode + one
    * dim-keyed shuffle of 16 rows. Sums are plain partial-agg sums;
    * min/max are order-free.
    */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
    ex.groupBy("dim")
      .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("s2"),
        count(lit(1)).as("n"), min(col("x")).as("mn"), max(col("x")).as("mx"))
      .withColumn("mean", col("s") / col("n"))
      .select(col("dim"), col("n"),
        round(col("mean"), 6).as("mean"),
        round(sqrt(col("s2") / col("n") - col("mean") * col("mean")), 6).as("std"),
        round(col("mn"), 6).as("mn"),
        round(col("mx"), 6).as("mx"))
      .orderBy("dim")
  }

  /** Top principal direction of the embedding cloud by two
    * deterministic power iterations on the (population) covariance —
    * the complement of [[embeddingStats]]: a dominant loading
    * concentrated on few dimensions (or a huge top eigenvalue share)
    * is the anisotropy/collapse signature embedding QA looks for.
    * Shape: one narrow posexplode, one (i, j)-keyed covariance rollup
    * (d² cells — tiny), then two iterations of a d-row matrix-vector
    * product; every floating sum is a plain partial-agg sum.
    * Starting vector = all ones (normalized on the first
    * multiply). Runs over a DETERMINISTIC 1/8 sample (vec_id % 8 = 0)
    * — the sample estimator is how production computes PCA at scale,
    * and it keeps the d²-pair stream (sample × d² rows) bounded.
    */
  def embeddingPca(spark: SparkSession, dir: String): DataFrame = {
    val ex = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 8 === 0)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("x"))
    val nDf = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 8 === 0)
      .agg(count(lit(1)).cast("double").as("n"))
    // per-dim mean
    val mu = ex.groupBy("dim")
      .agg(sum(col("x")).as("sx"))
      .crossJoin(broadcast(nDf))
      .select(col("dim"), (col("sx") / col("n")).as("mu"))
    val cx = ex.join(broadcast(mu), "dim")
      .select(col("vec_id"), col("dim"), (col("x") - col("mu")).as("c"))
    // cov(i, j): vec_id-ordered sum of centered products
    val pr = cx.as("a").join(cx.as("b"), Seq("vec_id"))
      .select(col("vec_id"), col("a.dim").as("i"), col("b.dim").as("j"),
        (col("a.c") * col("b.c")).as("p"))
    val cov = pr.groupBy("i", "j")
      .agg(sum(col("p")).as("sp"))
      .crossJoin(broadcast(nDf))
      .select(col("i"), col("j"), (col("sp") / col("n")).as("cv"))
      .localCheckpoint() // feeds both iterations
    def iterate(v: DataFrame): DataFrame = {
      val prod = cov.join(v, cov("j") === v("dim"))
        .select(col("i"), col("j"), (col("cv") * col("v")).as("t"))
      val av = prod.groupBy("i").agg(sum(col("t")).as("w"))
        .select(col("i").as("dim"), col("w"))
      val nrm = av.agg(sum(col("w") * col("w")).as("ss"))
        .select(sqrt(col("ss")).as("nm"))
      av.crossJoin(broadcast(nrm)).select(col("dim"), (col("w") / col("nm")).as("v"))
    }
    val v0 = mu.select(col("dim"), lit(1.0).as("v"))
    iterate(iterate(v0))
      .select(col("dim"), round(col("v"), 6).as("loading"))
      .orderBy("dim")
  }

  /** Cosine threshold above which two same-cluster embeddings count
    * as semantic duplicates ([[semanticDedup]]); data-dependent, as
    * in the SemDeDup paper's per-corpus ε (this corpus's in-bucket
    * cosines top out near 0.49, so 0.35 marks the top ~1%).
    */
  val SemThreshold = 0.35

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023 —
    * cluster the embedding space, drop within-cluster high-cosine
    * neighbors): vectors are assigned to their IVF cluster
    * ([[ivfAssign]] — the paper's k-means, seeded deterministically),
    * and inside each cluster every vector with a ≥ [[SemThreshold]]
    * cosine neighbor of SMALLER vec_id is dropped (greedy
    * keep-first, the deterministic form of the paper's keep-one-per-
    * group). Output: the surviving (vec_id, bucket) table.
    *
    * The candidate join is IN-BUCKET only — bucket-keyed shuffle,
    * per-bucket pair volume Σ k², never N² — exactly how the paper
    * scales to web corpora; the cosine is the codegen'd kernel over
    * pre-computed norms. The cross-engine threshold compare is safe
    * because both engines fold the dot product in the same index
    * order (the [[embedNeardup]] contract).
    */
  /** (vec_id, cos) over the in-bucket candidate pairs (nb_id < vec_id,
    * unrounded cosine — the compare both consumers run is the same
    * doubles on both engines): the ONE relation [[semanticDedup]]
    * scores and [[semdedupThresholdCurve]] tunes, shared so the
    * tuning read can never drift from the operator it tunes.
    */
  private def inBucketPairs(asg: DataFrame): DataFrame = {
    val b = asg.select(col("bucket"), col("vec_id").as("nb_id"),
      col("embedding").as("eb"), col("nm").as("nmb"))
    asg.join(b, "bucket")
      .filter(col("nb_id") < col("vec_id"))
      .select(col("vec_id"),
        (VectorFns.dot(col("embedding"), col("eb")) /
          (col("nm") * col("nmb"))).as("cos"))
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfAssign(Tables.embeddings(spark, dir))
    val dropped = inBucketPairs(asg).filter(col("cos") >= SemThreshold)
      .select("vec_id").distinct()
    asg.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"))
      .orderBy("vec_id")
  }

  /** The semantic-dedup threshold design curve — the tuning read
    * BEFORE committing [[semanticDedup]]'s cosine cutoff, completing
    * the curve trio beside `lsh_tuning_curve` (banding) and
    * `ann_probe_curve` (probes): for each candidate threshold, how
    * many in-bucket pairs clear it and how many docs the
    * keep-smallest rule would drop. ONE pass over [[inBucketPairs]] —
    * literally the frame semanticDedup filters, UNROUNDED compare
    * included, so the curve's 0.35 row IS semantic_dedup's drop count
    * by construction — crossed with the 6-row threshold frame.
    */
  def semdedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    val pairs = inBucketPairs(ivfAssign(Tables.embeddings(spark, dir)))
    val thr = spark.range(1).select(explode(array(
      lit(0.2), lit(0.25), lit(0.3), lit(0.35), lit(0.4), lit(0.45))).as("threshold"))
    pairs.crossJoin(broadcast(thr))
      .groupBy("threshold")
      .agg(count(when(col("cos") >= col("threshold"), 1)).as("n_pairs"),
        countDistinct(when(col("cos") >= col("threshold"), col("vec_id"))).as("n_dropped"))
      .orderBy("threshold")
  }

  /** Embedding OUTLIER screen — the per-vector complement of
    * [[embeddingStats]]'s per-dimension health check: vectors whose
    * cosine to their own IVF centroid sits more than 1σ below their
    * cluster's mean (mis-embedded rows, wrong-modality payloads,
    * garbage inputs — the rows an embedding-QA pass quarantines
    * before training). One broadcast assignment + a 16-row stats
    * frame; the mean/std sums are plain partial-agg sums.
    */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val en = withNorm(Tables.embeddings(spark, dir))
    val cent = en.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"), col("nm").as("cnm"))
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val a = en.crossJoin(broadcast(cent))
      .withColumn("ccos",
        VectorFns.dot(col("embedding"), col("ce")) / (col("nm") * col("cnm")))
      .withColumn("crn", row_number().over(w))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("cid").as("bucket"), col("ccos"))
    val stats = a.groupBy("bucket")
      .agg(sum(col("ccos")).as("s"), sum(col("ccos") * col("ccos")).as("s2"),
        count(lit(1)).as("n"))
      .select(col("bucket"), (col("s") / col("n")).as("mu"),
        sqrt(col("s2") / col("n") -
          (col("s") / col("n")) * (col("s") / col("n"))).as("sd"))
    a.join(broadcast(stats), "bucket")
      .filter(col("ccos") < col("mu") - lit(1.0) * col("sd"))
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"),
        round(col("ccos"), 6).as("ccos"),
        round((col("ccos") - col("mu")) / col("sd"), 4).as("z"))
      .orderBy("vec_id")
  }

  /** kNN-graph out-degree / search beam width / greedy hops. */
  val GraphDegree = 8
  val GraphBeam = 16
  val GraphHops = 2

  /** Directed kNN graph: each vector's [[GraphDegree]] nearest
    * IN-BUCKET neighbors (cosine desc, vec_id tiebreak) — the
    * approximate neighbor graph construction every graph-ANN family
    * (HNSW/NSW/NSG) starts from, built the scalable way: candidates
    * come from the IVF bucket join (bucket-keyed shuffle), never an
    * all-pairs pass. At 100 TB: one assignment map + one bucket-keyed
    * self-join + a per-src bounded window.
    */
  def graphEdges(e: DataFrame): DataFrame = {
    val assigned = ivfAssign(e)
    val b = assigned.select(col("vec_id").as("dst"), col("embedding").as("de"),
      col("nm").as("dnm"), col("bucket"))
    val w = Window.partitionBy("src").orderBy(col("ecos").desc, col("dst"))
    assigned.select(col("vec_id").as("src"), col("embedding").as("se"),
        col("nm").as("snm"), col("bucket"))
      .join(b, "bucket")
      .filter(col("dst") =!= col("src"))
      .withColumn("ecos", VectorFns.dot(col("se"), col("de")) / (col("snm") * col("dnm")))
      .withColumn("ern", row_number().over(w))
      .filter(col("ern") <= GraphDegree)
      .select("src", "dst")
  }

  /** Graph ANN: greedy beam search over the [[graphEdges]] kNN graph —
    * the NSW/HNSW-family query path, deterministic. Entry set = the
    * [[NCentroids]] centroid vectors (the "upper layer" of an HNSW:
    * the bucket-built graph has one island per IVF bucket, and the
    * centroid set reaches every island — single-entry search could
    * never leave its bucket). Then [[GraphHops]] expansion rounds,
    * beam [[GraphBeam]] by cosine with vec_id tiebreaks, final exact
    * top-k of the visited beam. Per hop: one edge join
    * (frontier-sized) + one bounded window — query cost is
    * O(beam × degree) VECTOR READS regardless of corpus size, the
    * property that makes graph ANN the serving-side standard. The
    * edge frame feeds every hop, so it is materialized once
    * (localCheckpoint, the pagerank pattern).
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val en = withNorm(Tables.embeddings(spark, dir))
    val edges = graphEdges(Tables.embeddings(spark, dir)).localCheckpoint()
    val q = en.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nm").as("qnm"))
    def beam(cand: DataFrame, keep: Int): DataFrame =
      cand.join(en, "vec_id").join(broadcast(q), "query_id")
        .withColumn("cos",
          VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))).cast("long"))
        .filter(col("rk") <= keep)
    val entry = q.select(col("query_id")).crossJoin(
      broadcast(en.filter(col("vec_id") < NCentroids).select(col("vec_id"))))
    val visited = (1 to GraphHops).foldLeft(entry) { (cand, _) =>
      val exp = cand.join(edges, cand("vec_id") === edges("src"))
        .select(cand("query_id"), col("dst").as("vec_id"))
      beam(cand.unionByName(exp).distinct(), GraphBeam)
        .select("query_id", "vec_id")
    }
    beam(visited.filter(col("vec_id") =!= col("query_id")), TopK)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** Recall@10 of the graph search vs brute force — the routing-loss
    * number for the beam/degree/hops triple.
    */
  def annRecallGraph(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnGraph(spark, dir))
      .orderBy("query_id")

  /** Number of product-quantization subspaces. */
  val NSub = 4

  /** (vec_id, m, sv): each vector split into [[NSub]] contiguous
    * subvectors — the narrow decomposition product quantization codes
    * against. slice is codegen'd; no shuffle.
    */
  private def pqParts(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(NSub - 1))).as("m"), col("embedding"))
      .withColumn("l", (size(col("embedding")) / NSub).cast("int"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * col("l") + 1, col("l")).as("sv"))

  /** Squared L2 distance via the codegen'd kernels, in the one fixed
    * operation order both engines share: (‖a‖² + ‖b‖²) − 2·a·b.
    */
  private def l2sq(a: Column, b: Column): Column =
    (VectorFns.norm2(a) + VectorFns.norm2(b)) - lit(2.0) * VectorFns.dot(a, b)

  /** Product-quantization ANN (ADC): codebook = the first
    * [[NCentroids]] vectors' subvectors per subspace; every vector is
    * encoded as [[NSub]] one-byte codes (argmin subspace L2); a query
    * precomputes its distance table to all codes and ranks the corpus
    * by the table-sum approximation Σ_m d(q_m, code_m(x)) — never
    * touching raw vectors at query time. THE memory-bounded ANN shape
    * at billions of vectors: the corpus compresses from d floats to
    * [[NSub]] bytes per vector, the distance table is
    * queries × subspaces × codes (broadcast), and the rank is one
    * aggregation over the code table. The per-pair sum folds over the
    * m-sorted distance list so the double addition order is fixed
    * cross-engine.
    */
  /** PQ codebook: the first [[NCentroids]] vectors' subvectors. */
  private def pqCodebook(parts: DataFrame): DataFrame =
    parts.filter(col("vec_id") < NCentroids)
      .select(col("vec_id").as("cid"), col("m"), col("sv").as("cv"))

  /** (vec_id, m, code): argmin-L2 code per subspace — the [[NSub]]-byte
    * compressed representation of every vector.
    */
  private def pqCodes(parts: DataFrame, cb: DataFrame): DataFrame = {
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("d").asc, col("cid"))
    parts.join(broadcast(cb), "m")
      .withColumn("d", l2sq(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("cid").as("code"))
  }

  /** (query_id, m, code, dq): each query's distance table to every
    * codebook entry — queries × subspaces × codes rows, broadcast.
    */
  private def pqDtab(parts: DataFrame, cb: DataFrame): DataFrame =
    parts.filter(col("vec_id") < NQueries)
      .join(broadcast(cb), "m")
      .withColumn("dq", l2sq(col("sv"), col("cv")))
      .select(col("vec_id").as("query_id"), col("m"), col("cid").as("code"), col("dq"))

  /** (query_id, vec_id, adist): the raw ADC table-sum distances
    * Σ_m dq(m, code_m), a plain partial-agg sum. Shared by the final
    * rank and the two-stage shortlist.
    */
  private def adcDistances(matches: DataFrame): DataFrame =
    matches.filter(col("vec_id") =!= col("query_id")).groupBy("query_id", "vec_id")
      .agg(sum(col("dq")).as("adist"))

  private def adcRank(matches: DataFrame): DataFrame = {
    val wRank = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id"))
    adcDistances(matches)
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"),
        round(col("adist"), 6).as("adist"))
      .orderBy("query_id", "rk")
  }

  def knnPq(spark: SparkSession, dir: String): DataFrame = {
    val parts = pqParts(Tables.embeddings(spark, dir))
    val cb = pqCodebook(parts)
    adcRank(pqCodes(parts, cb).join(broadcast(pqDtab(parts, cb)), Seq("m", "code")))
  }

  /** ANN index sizing table — the capacity-planning arithmetic next
    * to the recall audits: per storage variant (raw fp32, SQ8 bytes,
    * PQ codes, IVF+PQ codes + bucket id), bytes per vector, corpus
    * total, and compression vs raw — the numbers that decide which
    * rung of the ANN ladder fits in executor memory at a given corpus
    * size (recall for the same rungs is priced by the `ann_recall*`
    * family; memory is the other axis of that trade). All-integer
    * arithmetic off one (n, d) aggregate of the vector table.
    */
  def annMemoryReport(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.embeddings(spark, dir)
      .agg(count(lit(1)).as("n"), max(size(col("embedding"))).cast("long").as("d"))
    st.select(col("n"), col("d"), explode(array(
        struct(lit("1_raw_fp32").as("variant"), (lit(4L) * col("d")).as("bpv")),
        struct(lit("2_sq8").as("variant"), col("d").as("bpv")),
        struct(lit("3_pq").as("variant"), lit(NSub.toLong).as("bpv")),
        struct(lit("4_ivf_pq").as("variant"), lit(NSub.toLong + 8L).as("bpv"))))
        .as("v"))
      .select(col("n"), col("d"), col("v.variant").as("variant"),
        col("v.bpv").as("bytes_per_vec"))
      .select(col("variant"), col("bytes_per_vec"),
        (col("n") * col("bytes_per_vec")).as("total_bytes"),
        // milli-precision integer ratio: 4d·1000 div bpv — exact, no
        // float division to disagree on
        expr("cast((4 * d * 1000) div bytes_per_vec as double) / 1000")
          .as("compression_x"))
      .orderBy("variant")
  }

  /** PQ codebook-quality audit — the distortion side of what
    * [[annRecallPq]] measures end-to-end: per subspace, the mean and
    * max squared quantization error ‖sv − cv_code‖² over every
    * vector's assigned code (FAISS's quantization-error report). A
    * subspace whose MSE dwarfs the others is where recall dies first
    * — the diagnostic read BEFORE re-training the codebook
    * ([[ivfRetrain]]'s decision, one level down). Same shape as
    * encoding itself: codebook broadcast, one narrow argmin per
    * (vector, subspace), one NSub-row rollup of per-subspace error
    * sums.
    */
  def pqDistortion(spark: SparkSession, dir: String): DataFrame = {
    val parts = pqParts(Tables.embeddings(spark, dir))
    val cb = pqCodebook(parts)
    val wEnc = Window.partitionBy("vec_id", "m").orderBy(col("d").asc, col("cid"))
    val best = parts.join(broadcast(cb), "m")
      .withColumn("d", l2sq(col("sv"), col("cv")))
      .withColumn("rn", row_number().over(wEnc))
      .filter(col("rn") === 1)
    best.groupBy("m")
      .agg(sum(col("d")).as("sse"), count(lit(1)).as("n_vectors"), max(col("d")).as("mx"))
      .select(col("m").cast("long").as("m"), col("n_vectors"),
        round(col("sse") / col("n_vectors").cast("double"), 6).as("mse"),
        round(col("mx"), 6).as("max_sq_err"))
      .orderBy("m")
  }

  /** IVF + PQ — the standard billion-scale ANN architecture (an IVF
    * coarse quantizer routes each query to its nearest-centroid
    * bucket; inside the bucket, candidates rank by their global PQ
    * codes via the ADC table): the corpus is stored as (bucket,
    * [[NSub]] codes) per vector — a handful of bytes — and a query
    * reads one bucket's codes, never raw vectors. Data-side shape is
    * [[knnIvf]]'s bucket join; compute-side is [[knnPq]]'s table-sum.
    */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val parts = pqParts(e)
    val cb = pqCodebook(parts)
    val asg = ivfAssign(e).select(col("vec_id"), col("bucket"))
    val qb = asg.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val dtabB = pqDtab(parts, cb).join(qb, "query_id")
    adcRank(
      pqCodes(parts, cb).join(asg, "vec_id")
        .join(broadcast(dtabB), Seq("m", "code", "bucket")))
  }

  /** ADC shortlist size for the two-stage re-rank path. */
  val Shortlist = 50

  /** Two-stage retrieval — PQ/ADC shortlist → exact re-rank: the
    * production ANN serving shape (FAISS's `IndexRefineFlat`). Stage 1
    * ranks the whole corpus by compressed codes and keeps only
    * [[Shortlist]] candidates per query; stage 2 fetches those
    * candidates' RAW vectors and re-scores them with exact cosine. At
    * billions of vectors the expensive exact math touches 50 rows per
    * query instead of the corpus, and the raw-vector fetch is a
    * semi-join — point reads against the vector store, never a scan.
    * Recovers most of the recall PQ compression loses ([[annRecallRerank]]
    * vs [[annRecallPq]] quantifies it).
    */
  def knnPqRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val parts = pqParts(e)
    val cb = pqCodebook(parts)
    val wAdc = Window.partitionBy("query_id").orderBy(col("adist").asc, col("vec_id"))
    val short = adcDistances(
        pqCodes(parts, cb).join(broadcast(pqDtab(parts, cb)), Seq("m", "code")))
      .withColumn("srk", row_number().over(wAdc))
      .filter(col("srk") <= Shortlist)
      .select("query_id", "vec_id")
    val en = withNorm(e)
    val q = en.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nm").as("qnm"))
    val wR = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    short.join(en, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos",
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")))
      .withColumn("rk", row_number().over(wR).cast("long"))
      .filter(col("rk") <= TopK)
      .select(col("query_id"), col("rk"), col("vec_id"), round(col("cos"), 6).as("cosine"))
      .orderBy("query_id", "rk")
  }

  /** Recall@10 of the two-stage shortlist+re-rank path — read next to
    * [[annRecallPq]]: the delta is exactly what the exact re-rank of 50
    * candidates buys back from the code-compression loss.
    */
  def annRecallRerank(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnPqRerank(spark, dir))
      .orderBy("query_id")

  /** The compression-vs-recall trade quantified: recall@10 of the
    * PQ/ADC ranking ([[knnPq]]) against brute-force ground truth, per
    * query — what a deployment checks before swapping raw vectors for
    * codes. Same free audit shape as [[annRecall]]: both sides are
    * per-query top-k sets.
    */
  def annRecallPq(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnPq(spark, dir))
      .orderBy("query_id")

  /** Recall@10 of the composed IVF+PQ path ([[knnIvfPq]]) — the audit
    * of the full billion-scale architecture: coarse-quantizer routing
    * loss AND code-compression loss in one number, per query.
    */
  def annRecallIvfPq(spark: SparkSession, dir: String): DataFrame =
    recallOf(
        knnBruteforce(spark, dir).select(col("query_id"), col("vec_id")),
        knnIvfPq(spark, dir))
      .orderBy("query_id")

  /** The k-choice elbow curve for the IVF coarse quantizer: cosine
    * inertia (Σ per-vector 1 − cos to its nearest seed) and mean
    * distance for k ∈ {2, 4, 8, 16} first-k seed centroids — the
    * capacity-planning report read BEFORE committing a bucket count
    * ([[ivfBucketStats]] audits the chosen k after the fact,
    * [[ivfRetrain]] refines it). All four assignment sweeps share ONE
    * pass over the store: the (k, centroid) table is 30 broadcast
    * rows, the per-(k, vec) argmax is a narrow window over ≤16
    * candidates, and only the |k|-row inertia rollup shuffles (a
    * plain partial-agg sum).
    */
  def ivfElbow(spark: SparkSession, dir: String): DataFrame = {
    val en = withNorm(Tables.embeddings(spark, dir))
    val ks = spark.range(1, 5)
      .select(pow(lit(2.0), col("id")).cast("long").as("k"))
    val kc = ks.crossJoin(
        en.filter(col("vec_id") < NCentroids)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"),
            col("nm").as("cnm")))
      .filter(col("cid") < col("k"))
    val w = Window.partitionBy("k", "vec_id")
      .orderBy(col("ccos").desc, col("cid"))
    val asg = en.crossJoin(broadcast(kc))
      .withColumn("ccos",
        VectorFns.dot(col("embedding"), col("ce")) / (col("nm") * col("cnm")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("k"), col("vec_id"), (lit(1.0) - col("ccos")).as("d"))
    asg.groupBy("k")
      .agg(sum(col("d")).as("in0"), count(lit(1)).as("n_vecs"))
      .select(col("k"), col("n_vecs"),
        round(col("in0"), 6).as("inertia"),
        round(col("in0") / col("n_vecs").cast("double"), 6).as("avg_dist"))
      .orderBy("k")
  }

  /** Label purity of the IVF buckets: member count, distinct labels,
    * the majority label and its share per bucket — the "are these
    * embeddings clusterable?" sanity check run before trusting
    * bucket-local ANN or [[semanticDedup]]'s in-bucket screening (a
    * quantizer whose cells mix labels uniformly is hashing, not
    * clustering). Narrow broadcast assignment + a (bucket, label)
    * rollup of ≤16·|labels| rows; nothing corpus-sized shuffles.
    */
  def ivfLabelPurity(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val m = ivfAssign(e).select(col("vec_id"), col("bucket"))
      .join(e.select(col("vec_id"), col("label").cast("long").as("label")),
        "vec_id")
      .groupBy(col("bucket"), col("label"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("bucket").orderBy(col("c").desc, col("label"))
    m.withColumn("rn", row_number().over(w))
      .groupBy("bucket")
      .agg(sum(col("c")).as("n_vecs"), count(lit(1)).as("n_labels"),
        max(when(col("rn") === 1, col("label"))).as("majority_label"),
        max(when(col("rn") === 1, col("c"))).as("mc"))
      .select(col("bucket"), col("n_vecs"), col("n_labels"),
        col("majority_label"),
        round(col("mc").cast("double") / col("n_vecs").cast("double"), 4)
          .as("purity"))
      .orderBy("bucket")
  }

  /** Per-bucket mean silhouette of the IVF clustering under cosine
    * distance — the cluster-quality score [[ivfElbow]]'s inertia
    * curve can't give (inertia always improves with k; silhouette
    * penalizes split-too-far). The O(N²) textbook definition
    * collapses to LINEAR work because mean cosine distance from a
    * vector to a cluster is 1 − u·(Σ_c u_j)/|c| — one dot against the
    * cluster's unit-vector SUM. So: one (bucket, dim)-keyed rollup
    * builds the 16 sum-vectors (broadcast), then a narrow per-vector
    * pass computes a(i) (own cluster, self-excluded) and b(i) (min
    * over other clusters) and s = (b−a)/max(a,b); the per-dim and
    * per-bucket sums are plain partial aggs. At 100 TB this is exactly two input-scaled passes
    * — assignment and scoring — plus a k×dim broadcast.
    */
  def ivfSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfAssign(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("bucket"), col("nm"),
        transform(col("embedding"), v => v.cast("double") / col("nm")).as("u"))
    val contrib = asg.select(col("bucket"), col("vec_id"),
      posexplode(col("u")).as(Seq("j", "v")))
    val svec = contrib.groupBy("bucket", "j")
      .agg(sum(col("v")).as("su"))
      .groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("j"), col("su")))).as("js"))
      .select(col("bucket").as("cb"),
        transform(col("js"), s => s("su")).as("sv"))
    val nb = asg.groupBy(col("bucket").as("cb")).agg(count(lit(1)).as("cnt"))
    val cl = svec.join(nb, "cb")
    val scored = asg.crossJoin(broadcast(cl))
      .withColumn("d",
        lit(1.0) - VectorFns.dotD(col("u"), col("sv")) / col("cnt").cast("double"))
      .withColumn("down",
        lit(1.0) - (VectorFns.dotD(col("u"), col("sv")) - VectorFns.norm2D(col("u"))) /
          (col("cnt") - 1).cast("double"))
      .groupBy(col("vec_id"), col("bucket"))
      .agg(min(when(col("cb") =!= col("bucket"), col("d"))).as("b"),
        max(when(col("cb") === col("bucket"), col("down"))).as("a"),
        max(when(col("cb") === col("bucket"), col("cnt"))).as("n_own"))
      .withColumn("s",
        when(col("n_own") === 1 || greatest(col("a"), col("b")) <= 0.0, lit(0.0))
          .otherwise((col("b") - col("a")) / greatest(col("a"), col("b"))))
    scored.groupBy("bucket")
      .agg(sum(col("s")).as("ssum"), count(lit(1)).as("n_vecs"))
      .select(col("bucket"), col("n_vecs"),
        round(col("ssum") / col("n_vecs").cast("double"), 6).as("mean_silhouette"))
      .orderBy("bucket")
  }

  // ---- wiring ----------------------------------------------------------

  /** Hybrid (sparse + dense) retrieval: the BM25 text ranking for
    * ("spark", "join") RRF-fused with the embedding-cosine ranking
    * against a query vector (vec_id 0's embedding; vec_id ≡ doc_id in
    * this corpus) — the standard two-tower RAG retrieval stack, where
    * lexical recall and semantic recall cover each other's misses.
    * Both legs are CANDIDATE-BOUNDED at top-200 before ranking
    * (TakeOrdered bounded heaps — no corpus-wide rank window), which
    * is how production fusion actually runs: fuse the top-K of each
    * retriever, never a global rank of every document. At 100 TB the
    * dense leg's brute-force scan is served by the ANN ladder
    * ([[knnIvf]] and friends) feeding the same fusion; the RRF
    * arithmetic and candidate contract are unchanged.
    */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame = {
    val K = 200
    val sparse = Index.bm25ScoredOf(Tables.documents(spark, dir), Seq("spark", "join"))
      // doc 0 is the query document (vec_id 0's embedding is the dense
      // query): exclude it from BOTH legs, not just the dense one, so the
      // query can't rank in its own results through the lexical leg.
      .filter(col("doc_id") =!= 0)
      .orderBy(col("score").desc, col("doc_id")).limit(K)
      .withColumn("rank_bm25", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_bm25"))
    val en = withNorm(Tables.embeddings(spark, dir))
    val q = en.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nm").as("qnm"))
    val dense = en.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")), 6))
      .orderBy(col("cos").desc, col("vec_id")).limit(K)
      .withColumn("rank_dense", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("rank_dense"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_bm25"), lit(0L)).as("rank_bm25"),
        coalesce(col("rank_dense"), lit(0L)).as("rank_dense"),
        round(coalesce(lit(1.0) / (lit(60.0) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rank_dense")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** MMR diversity re-ranking (Carbonell & Goldstein, SIGIR'98) of the
    * dense leg: the top-[[MmrCand]] candidates by cosine to the query
    * (vec_id 0) are greedily re-ordered by
    * mmr(v) = λ·rel(v) − (1−λ)·max_{c∈chosen} sim(v,c), λ=0.7 — the
    * training-data-sampling shape that keeps a prompt's retrieved
    * context (or a dedup cluster's exemplars) from being ten copies of
    * the same document. Every step is declarative: chosen stays a
    * ≤k-row frame (checkpointed per step so the plan stays linear, the
    * [[neardupCommunities]] iteration pattern), the per-step argmax is
    * a TakeOrdered heap over the bounded candidate frame, and all
    * scores are rounded at 6dp BEFORE each comparison so the greedy
    * path is cross-engine deterministic. Scale: candidate generation
    * is the only corpus-sized stage (one TakeOrdered pass); the k
    * selection steps touch [[MmrCand]]×[[MmrCand]] rounded sims only.
    */
  private val MmrCand = 20
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val lam = 0.7
    val kSel = 10
    val en = withNorm(Tables.embeddings(spark, dir))
    val q = en.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"), col("nm").as("qnm"))
    val cand = en.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("rel", round(
        VectorFns.dot(col("qe"), col("embedding")) / (col("qnm") * col("nm")), 6))
      .orderBy(col("rel").desc, col("vec_id")).limit(MmrCand)
      .select(col("vec_id"), col("embedding"), col("nm"), col("rel"))
      .localCheckpoint()
    val sims = cand.as("a").join(cand.as("b"),
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(VectorFns.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nm") * col("b.nm")), 6).as("sim"))
    // The greedy selection runs on the DRIVER (r15): cand and sims are
    // ≤ MmrCand / MmrCand² rows BY CONSTANT CONTRACT, and the previous
    // per-step join + localCheckpoint spelling paid ~3 tiny jobs and a
    // checkpoint barrier per rank for frames of ≤ 20 rows. The collected
    // rel/sim values are the frames' already-rounded doubles, the step
    // scores replicate Spark's Round (BigDecimal.valueOf + HALF_UP)
    // bit for bit, and ordering is the same (mmr_score desc, vec_id) —
    // the oracle sees identical rows. The corpus-sized stage (the
    // top-MmrCand TakeOrdered pass) is unchanged.
    import spark.implicits._
    val rels = cand.select(col("vec_id"), col("rel")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val simOf = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    def rnd(v: Double): Double = java.math.BigDecimal.valueOf(v)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    var out = Vector.empty[(Long, Long, Double)] // (rank, vec_id, mmr_score)
    var chosen = Vector.empty[Long]
    for (i <- 1 to kSel) {
      val step = rels.filterNot(r => chosen.contains(r._1)).map { case (v, rel) =>
        if (chosen.isEmpty) (v, rnd(lam * rel))
        // literal 0.3, NOT 1.0 - lam: the Scala subtraction yields
        // 0.30000000000000004 while the oracle's SQL literal parses
        // to the 0.3 double — they must be the same bits
        else (v, rnd(lam * rel - 0.3 * chosen.map(c => simOf((v, c))).max))
      }
      if (step.nonEmpty) {
        val (v, s) = step.minBy { case (vv, ss) => (-ss, vv) }
        out :+= ((i.toLong, v, s))
        chosen :+= v
      }
    }
    out.toDF("rank", "vec_id", "mmr_score").orderBy("rank")
  }

  /** Farthest-point (greedy k-center / Gonzalez'85) coreset selection
    * over the whole embedding corpus: seed at vec_id 0, then k−1 times
    * add the point with the LARGEST rounded cosine distance to its
    * nearest already-chosen center — the 2-approximation every
    * coverage-driven data-selection pipeline starts from (each pick's
    * `dist` column is the corpus coverage radius before that center
    * was added, so the output doubles as the k-vs-radius curve).
    * Scale: each of the k−1 steps is one corpus pass — chosen is a
    * ≤k-row broadcast, min-dist a partial agg, the argmax a 1-row
    * TakeOrdered — the same shape [[ivfRetrain]]'s assignment pass
    * runs; nothing is ever pairwise in the corpus.
    */
  def kcenterSelect(spark: SparkSession, dir: String): DataFrame = {
    val kSel = 8
    val en = withNorm(Tables.embeddings(spark, dir)).localCheckpoint()
    // Chosen centers live on the DRIVER (≤ kSel rows by contract —
    // the bounded-collect discipline), r15: each greedy step is then
    // ONE narrow TakeOrdered pass over the checkpointed corpus —
    // min-dist is `least` over ≤ k literal-center dot expressions, no
    // anti-join, no broadcast build, no per-step localCheckpoint
    // barrier (the previous spelling paid 3 jobs + a checkpoint per
    // step). Arithmetic is unchanged bit for bit: same dot kernel,
    // same rounding, and `least` over k doubles ≡ the k-row min
    // aggregate; the per-step argmax keeps the (dist desc, vec_id)
    // order. Each pass still scans the corpus once — the Gonzalez
    // algorithm's k−1 passes are inherent, only their latency shrank.
    import spark.implicits._
    val seed = en.filter(col("vec_id") === 0)
      .select(col("vec_id"), col("embedding"), col("nm")).collect()
    if (seed.isEmpty)
      return Seq.empty[(Long, Long, Double)].toDF("rank", "vec_id", "dist")
    var centers = Seq((seed(0).getLong(0), seed(0).getSeq[Float](1).toArray,
      seed(0).getDouble(2)))
    var out = Seq((1L, seed(0).getLong(0), 0.0))
    for (i <- 2 to kSel) {
      val dCols = centers.map { case (_, ce, cnm) =>
        round(lit(1.0) -
          VectorFns.dot(col("embedding"), typedLit(ce)) /
            (col("nm") * lit(cnm)), 6)
      }
      val chosen = centers.map(_._1)
      val next = en.filter(!col("vec_id").isInCollection(chosen))
        .select(col("vec_id"), col("embedding"), col("nm"),
          (if (dCols.size == 1) dCols.head else least(dCols: _*)).as("dist"))
        .orderBy(col("dist").desc, col("vec_id")).limit(1)
        .collect()
      if (next.nonEmpty) {
        val r = next(0)
        centers :+= ((r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
        out :+= ((i.toLong, r.getLong(0), r.getDouble(3)))
      }
    }
    out.toDF("rank", "vec_id", "dist").orderBy("rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mmr_rerank" -> mmrRerank,
    "kcenter_select" -> kcenterSelect,
    "hybrid_search" -> hybridSearch,
    "ann_recall_pq" -> annRecallPq,
    "ann_recall_ivfpq" -> annRecallIvfPq,
    "knn_pq_rerank" -> knnPqRerank,
    "ann_recall_rerank" -> annRecallRerank,
    "knn_sq8" -> knnSq8,
    "ann_recall_sq8" -> annRecallSq8,
    "knn_pq" -> knnPq,
    "pq_distortion" -> pqDistortion,
    "ann_memory_report" -> annMemoryReport,
    "knn_ivf_pq" -> knnIvfPq,
    "knn_ivf_pq_residual" -> knnIvfPqResidual,
    "knn_bruteforce" -> knnBruteforce,
    "knn_ivf" -> knnIvf,
    "knn_lsh" -> knnLsh,
    "knn_lsh_probe2" -> knnLshProbe2,
    "ann_recall_lsh2" -> annRecallLsh2,
    "knn_ivf_trained" -> knnIvfTrained,
    "knn_ivf_probe2" -> knnIvfProbe2,
    "knn_classify" -> knnClassify,
    "ann_recall" -> annRecall,
    "ann_recall_ivf" -> annRecallIvf,
    "knn_graph" -> knnGraph,
    "ann_recall_graph" -> annRecallGraph,
    "embedding_stats" -> embeddingStats,
    "embedding_pca" -> embeddingPca,
    "semantic_dedup" -> semanticDedup,
    "semdedup_threshold_curve" -> semdedupThresholdCurve,
    "embedding_outliers" -> embeddingOutliers,
    "ivf_bucket_stats" -> ivfBucketStats,
    "ann_probe_curve" -> annProbeCurve,
    "ann_recall_curve" -> annRecallCurve,
    "ivf_retrain" -> ivfRetrain,
    "ivf_elbow" -> ivfElbow,
    "ivf_label_purity" -> ivfLabelPurity,
    "ivf_silhouette" -> ivfSilhouette,
    "semantic_source_mix" -> semanticSourceMix)

  /** `asg` CTE on top of [[OracleSql.NormCte]]: the IVF bucket
    * assignment (argmax cosine over the 16 seed centroids).
    */
  private val AssignCte: String =
    s""", ac AS (
       |  SELECT v.vec_id, v.embedding, v.nm,
       |    c.vec_id AS cid,
       |    ${OracleSql.cosineN("v.embedding", "c.embedding", "v.nm", "c.nm")} AS ccos
       |  FROM nrm v JOIN nrm c ON c.vec_id < $NCentroids
       |), asg AS (
       |  SELECT vec_id, embedding, nm, cid AS bucket FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
       |    FROM ac) WHERE crn = 1
       |)""".stripMargin

  /** CTE chain for the graph search: kNN-graph edges off the IVF
    * buckets, then [[GraphHops]] beam-expansion rounds — the DuckDB
    * twin of [[graphEdges]]/[[knnGraph]] (same cosine fold, same
    * tiebreaks). `s$GraphHops` is the final visited beam.
    */
  private val GraphCtes: String = {
    def hop(i: Int, prev: String): String =
      s"""e$i AS (
         |  SELECT query_id, vec_id FROM $prev
         |  UNION
         |  SELECT p.query_id, eg.dst AS vec_id FROM $prev p JOIN eg ON p.vec_id = eg.src
         |), s$i AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT e.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY e.query_id
         |        ORDER BY ${OracleSql.cosineN("q.qe", "n.embedding", "q.qnm", "n.nm")} DESC, e.vec_id) AS rk
         |    FROM e$i e JOIN nrm n ON n.vec_id = e.vec_id
         |      JOIN qr q ON q.query_id = e.query_id
         |  ) WHERE rk <= $GraphBeam
         |)""".stripMargin
    s""", eg AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${OracleSql.cosineN("a.embedding", "b.embedding", "a.nm", "b.nm")} DESC, b.vec_id) AS ern
       |    FROM asg a JOIN asg b ON b.bucket = a.bucket AND b.vec_id != a.vec_id
       |  ) WHERE ern <= $GraphDegree
       |), qr AS (
       |  SELECT vec_id AS query_id, embedding AS qe, nm AS qnm FROM nrm
       |  WHERE vec_id < $NQueries
       |), s0 AS (
       |  SELECT q.query_id, c.vec_id FROM qr q, nrm c WHERE c.vec_id < $NCentroids
       |), ${(1 to GraphHops).map(i => hop(i, s"s${i - 1}")).mkString(", ")}""".stripMargin
  }

  /** Final top-k of the visited beam (self excluded) — shared by the
    * `knn_graph` oracle and the recall audit's graph side.
    */
  private val GraphFinalCte: String =
    s""", gp AS (
       |  SELECT s.query_id, s.vec_id,
       |    ${OracleSql.cosineN("q.qe", "n.embedding", "q.qnm", "n.nm")} AS c
       |  FROM s$GraphHops s JOIN nrm n ON n.vec_id = s.vec_id
       |    JOIN qr q ON q.query_id = s.query_id
       |  WHERE s.vec_id != s.query_id
       |), gr AS (
       |  SELECT query_id, vec_id, c,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
       |  FROM gp
       |)""".stripMargin

  /** DuckDB twin of [[planeDot]]/[[lshBucket]]: identical fold order. */
  private val LshAssignCte: String = {
    def pd(b: Int): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(len(embedding)), " +
        s"j -> (($b * 709 + j * 1013) % 97 - 48)::DOUBLE / 48.0 * embedding[j+1]::DOUBLE)), " +
        "(a, x) -> a + x)"
    val bucket = (0 until NBits)
      .map(b => s"(CASE WHEN ${pd(b)} > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s""", lasg AS (
       |  SELECT vec_id, embedding, nm, CAST($bucket AS BIGINT) AS bucket FROM nrm
       |)""".stripMargin
  }

  /** PQ CTE chain (`pp` → `cb` → `enc` → `codes` → `dt` → `ad`):
    * subvector split, codebook, encoding, distance table, ADC sums —
    * mirrors [[knnPq]] op-for-op. No leading WITH so it composes.
    */
  private def pqCteOn(src: String): String = {
    def l2(a: String, b: String): String =
      s"((${OracleSql.norm2(a)}) + (${OracleSql.norm2(b)})) - 2.0 * (${OracleSql.dot(a, b)})"
    s"""pp AS (
       |  SELECT vec_id, u.m AS m,
       |    embedding[(u.m * (len(embedding) // $NSub) + 1):((u.m + 1) * (len(embedding) // $NSub))] AS sv
       |  FROM $src, unnest(range($NSub)) AS u(m)
       |), cb AS (
       |  SELECT vec_id AS cid, m, sv AS cv FROM pp WHERE vec_id < $NCentroids
       |), enc AS (
       |  SELECT p.vec_id, p.m, c.cid, ${l2("p.sv", "c.cv")} AS d
       |  FROM pp p JOIN cb c ON p.m = c.m
       |), codes AS (
       |  SELECT vec_id, m, cid AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d ASC, cid) AS rn
       |    FROM enc) WHERE rn = 1
       |), dt AS (
       |  SELECT q.vec_id AS query_id, q.m, c.cid AS code, ${l2("q.sv", "c.cv")} AS dq
       |  FROM pp q JOIN cb c ON q.m = c.m WHERE q.vec_id < $NQueries
       |), ad AS (
       |  SELECT d.query_id, x.vec_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
       |      list_sort(list(struct_pack(m := x.m, dq := d.dq))), s -> s['dq'])),
       |      (a, v) -> a + v) AS adist
       |  FROM codes x JOIN dt d ON x.m = d.m AND x.code = d.code
       |  WHERE x.vec_id != d.query_id
       |  GROUP BY d.query_id, x.vec_id
       |)""".stripMargin
  }

  /** Shortlist + exact re-rank CTE chain on top of `nrm` + the PQ
    * chain: `sr` (ADC top-[[Shortlist]]) → `rr` (exact cosine) → `rrk`
    * (re-ranked). Mirrors [[knnPqRerank]] op-for-op.
    */
  private val RerankCte: String =
    s""", sr AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS srk
       |    FROM ad) WHERE srk <= $Shortlist
       |), rr AS (
       |  SELECT sr.query_id, sr.vec_id,
       |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
       |  FROM sr JOIN nrm b ON b.vec_id = sr.vec_id JOIN nrm q ON q.vec_id = sr.query_id
       |), rrk AS (
       |  SELECT query_id, vec_id, c,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
       |  FROM rr
       |)""".stripMargin

  /** CTE chain `st` → `ar` → `dq` → `nrm`: per-dim min/max, the
    * broadcast arrays, the SQ8 dequantized corpus, and its norms —
    * mirrors [[sq8Embeddings]] op-for-op (same float cast).
    */
  private val Sq8Cte: String =
    s"""WITH st AS (
       |  SELECT u.i AS i, min(e.embedding[u.i+1]) AS mn, max(e.embedding[u.i+1]) AS mx
       |  FROM embeddings e, unnest(range(len(e.embedding))) AS u(i) GROUP BY u.i
       |), ar AS (
       |  SELECT
       |    list_transform(list_sort(list(struct_pack(i := i, v := mn))), s -> s['v']) AS mns,
       |    list_transform(list_sort(list(struct_pack(i := i, v := mx))), s -> s['v']) AS mxs
       |  FROM st
       |), dq AS (
       |  SELECT vec_id,
       |    list_transform(range(len(embedding)), i -> CAST(
       |      CASE WHEN ar.mxs[i+1]::DOUBLE > ar.mns[i+1]::DOUBLE THEN
       |        ar.mns[i+1]::DOUBLE +
       |        floor((embedding[i+1]::DOUBLE - ar.mns[i+1]::DOUBLE) /
       |          (ar.mxs[i+1]::DOUBLE - ar.mns[i+1]::DOUBLE) * 255.0 + 0.5) / 255.0 *
       |          (ar.mxs[i+1]::DOUBLE - ar.mns[i+1]::DOUBLE)
       |      ELSE ar.mns[i+1]::DOUBLE END AS FLOAT)) AS embedding
       |  FROM embeddings, ar
       |), nrm AS (
       |  SELECT vec_id, embedding, sqrt(${OracleSql.norm2("embedding")}) AS nm FROM dq
       |)""".stripMargin

  /** Unrolled greedy steps of the MMR oracle: the k−1 argmax picks as
    * chained CTEs (each step scores the remaining candidates against
    * the accumulated sel CTE), generated mechanically so the SQL is
    * the Spark loop's exact mirror.
    */
  private val MmrStepsSql: String = (2 to 10).map { i =>
    s""", s$i AS MATERIALIZED (
       |  SELECT c.vec_id AS vec_id,
       |    round(0.7 * c.rel - 0.3 * (SELECT max(s.sim) FROM sims s
       |      JOIN sel${i - 1} p ON s.vb = p.vec_id WHERE s.va = c.vec_id), 6) AS mmr_score,
       |    $i::BIGINT AS rank
       |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
       |  ORDER BY mmr_score DESC, c.vec_id LIMIT 1
       |), sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
  }.mkString

  /** Unrolled farthest-point steps of the k-center oracle (same
    * mechanical generation as [[MmrStepsSql]]).
    */
  private val KcenterStepsSql: String = (2 to 8).map { i =>
    s""", s$i AS MATERIALIZED (
       |  SELECT v.vec_id AS vec_id,
       |    min(round(1.0 - ${OracleSql.cosineN("v.embedding", "c.embedding", "v.nm", "c.nm")}, 6)) AS dist,
       |    $i::BIGINT AS rank
       |  FROM nrm v JOIN nrm c ON c.vec_id IN (SELECT vec_id FROM sel${i - 1})
       |  WHERE v.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
       |  GROUP BY v.vec_id
       |  ORDER BY dist DESC, vec_id LIMIT 1
       |), sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
  }.mkString

  val oracles: Map[String, String] = Map(
    "mmr_rerank" ->
      s"""${OracleSql.NormCte}, cand AS MATERIALIZED (
         |  SELECT b.vec_id, b.embedding, b.nm,
         |    round(${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")}, 6) AS rel
         |  FROM nrm q JOIN nrm b ON q.vec_id = 0 AND b.vec_id != 0
         |  ORDER BY rel DESC, b.vec_id LIMIT $MmrCand
         |), sims AS MATERIALIZED (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    round(${OracleSql.cosineN("a.embedding", "b.embedding", "a.nm", "b.nm")}, 6) AS sim
         |  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
         |), s1 AS (
         |  SELECT vec_id, round(0.7 * rel, 6) AS mmr_score, 1::BIGINT AS rank
         |  FROM cand ORDER BY mmr_score DESC, vec_id LIMIT 1
         |), sel1 AS MATERIALIZED (SELECT * FROM s1)$MmrStepsSql
         |SELECT rank, vec_id, mmr_score FROM sel10 ORDER BY rank""".stripMargin,
    "kcenter_select" ->
      s"""${OracleSql.NormCte}, sel1 AS MATERIALIZED (
         |  SELECT vec_id, 0.0::DOUBLE AS dist, 1::BIGINT AS rank
         |  FROM nrm WHERE vec_id = 0
         |)$KcenterStepsSql
         |SELECT rank, vec_id, dist FROM sel8 ORDER BY rank""".stripMargin,
    "hybrid_search" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS tk
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id, unnest(tk) AS term FROM toks
         |), n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tok GROUP BY term),
         |bdl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
         |avgdl AS (SELECT avg(dl) AS avgdl FROM bdl),
         |btf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok
         |        WHERE term IN ('spark', 'join') GROUP BY doc_id, term),
         |bscore AS (
         |  SELECT btf.doc_id AS doc_id,
         |    round(sum(ln((n.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |      * (btf.tf * 2.2) / (btf.tf + 1.2 * (1.0 - 0.75 + 0.75 * bdl.dl / avgdl.avgdl))), 4) AS score
         |  FROM btf JOIN df USING (term) JOIN bdl ON btf.doc_id = bdl.doc_id, n, avgdl
         |  GROUP BY btf.doc_id),
         |btop AS (SELECT doc_id, score FROM bscore WHERE doc_id != 0
         |         ORDER BY score DESC, doc_id LIMIT 200),
         |brank AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_bm25
         |  FROM btop),
         |nrm AS (
         |  SELECT vec_id, embedding, sqrt(${OracleSql.norm2("embedding")}) AS nm
         |  FROM embeddings
         |), qv AS (SELECT embedding AS qe, nm AS qnm FROM nrm WHERE vec_id = 0),
         |dcos AS (
         |  SELECT vec_id,
         |    round(${OracleSql.cosineN("qe", "embedding", "qnm", "nm")}, 6) AS cos
         |  FROM nrm, qv WHERE vec_id != 0
         |), dtop AS (SELECT vec_id, cos FROM dcos ORDER BY cos DESC, vec_id LIMIT 200),
         |drank AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_dense
         |  FROM dtop)
         |SELECT coalesce(b.doc_id, d.doc_id) AS doc_id,
         |  coalesce(b.rank_bm25, 0) AS rank_bm25,
         |  coalesce(d.rank_dense, 0) AS rank_dense,
         |  round(coalesce(1.0 / (60.0 + b.rank_bm25), 0.0)
         |    + coalesce(1.0 / (60.0 + d.rank_dense), 0.0), 6) AS rrf
         |FROM brank b FULL OUTER JOIN drank d ON b.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin,
    "knn_sq8" ->
      s"""$Sq8Cte, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "ann_recall_sq8" ->
      s"""$Sq8Cte, nrmr AS (
         |  SELECT vec_id, embedding, sqrt(${OracleSql.norm2("embedding")}) AS nm FROM embeddings
         |), sp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), sr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM sp
         |), sqf AS (SELECT query_id, vec_id FROM sr WHERE rk <= $TopK),
         |bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrmr q JOIN nrmr b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK)
         |SELECT bfr.query_id AS query_id,
         |  CAST(sum(CASE WHEN sqf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN sqf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bfr LEFT JOIN sqf ON bfr.query_id = sqf.query_id AND bfr.vec_id = sqf.vec_id
         |GROUP BY bfr.query_id ORDER BY query_id""".stripMargin,
    "knn_pq_rerank" ->
      s"""${OracleSql.NormCte}, ${pqCteOn("embeddings")}$RerankCte
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine
         |FROM rrk WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "ann_recall_rerank" ->
      s"""${OracleSql.NormCte}, ${pqCteOn("embeddings")}$RerankCte,
         |rrf2 AS (SELECT query_id, vec_id FROM rrk WHERE rk <= $TopK),
         |bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK)
         |SELECT bfr.query_id AS query_id,
         |  CAST(sum(CASE WHEN rrf2.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN rrf2.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bfr LEFT JOIN rrf2 ON bfr.query_id = rrf2.query_id AND bfr.vec_id = rrf2.vec_id
         |GROUP BY bfr.query_id ORDER BY query_id""".stripMargin,
    "ann_memory_report" ->
      s"""WITH st AS (
         |  SELECT count(*) AS n, CAST(max(len(embedding)) AS BIGINT) AS d
         |  FROM embeddings
         |), v AS (
         |  SELECT * FROM (VALUES
         |    ('1_raw_fp32', NULL), ('2_sq8', NULL),
         |    ('3_pq', ${NSub}::BIGINT), ('4_ivf_pq', ${NSub + 8}::BIGINT))
         |    AS t(variant, fixed)
         |)
         |SELECT variant,
         |  CASE variant WHEN '1_raw_fp32' THEN 4 * d WHEN '2_sq8' THEN d
         |    ELSE fixed END AS bytes_per_vec,
         |  n * (CASE variant WHEN '1_raw_fp32' THEN 4 * d WHEN '2_sq8' THEN d
         |    ELSE fixed END) AS total_bytes,
         |  CAST((4 * d * 1000) // (CASE variant WHEN '1_raw_fp32' THEN 4 * d
         |    WHEN '2_sq8' THEN d ELSE fixed END) AS DOUBLE) / 1000
         |    AS compression_x
         |FROM v, st ORDER BY variant""".stripMargin,
    "pq_distortion" ->
      s"""WITH ${pqCteOn("embeddings")}, best AS (
         |  SELECT vec_id, m, d FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
         |      ORDER BY d ASC, cid) AS rn
         |    FROM enc) WHERE rn = 1
         |)
         |SELECT m, CAST(count(*) AS BIGINT) AS n_vectors,
         |  round(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |    list_sort(list(struct_pack(v := vec_id, d := d))), s -> s['d'])),
         |    (a, x) -> a + x) / count(*)::DOUBLE, 6) AS mse,
         |  round(max(d), 6) AS max_sq_err
         |FROM best GROUP BY m ORDER BY m""".stripMargin,
    "knn_pq" ->
      s"""WITH ${pqCteOn("embeddings")}, r AS (
         |  SELECT query_id, vec_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS BIGINT) AS rk
         |  FROM ad
         |)
         |SELECT query_id, rk, vec_id, round(adist, 6) AS adist
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_ivf_pq_residual" ->
      s"""${OracleSql.NormCte}$AssignCte, cres AS (
         |  SELECT a.vec_id,
         |    list_transform(range(len(a.embedding)),
         |      i -> a.embedding[i+1] - c.embedding[i+1]) AS embedding,
         |    a.bucket
         |  FROM asg a JOIN nrm c ON c.vec_id = a.bucket
         |), ${pqCteOn("cres")}, qb AS (
         |  SELECT vec_id AS query_id, bucket FROM cres WHERE vec_id < $NQueries
         |), ad2 AS (
         |  SELECT d.query_id, x.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |      list_sort(list(struct_pack(m := x.m, dq := d.dq))), s -> s['dq'])),
         |      (a, v) -> a + v) AS adist
         |  FROM codes x
         |  JOIN cres ba ON x.vec_id = ba.vec_id
         |  JOIN dt d ON x.m = d.m AND x.code = d.code
         |  JOIN qb ON qb.query_id = d.query_id AND qb.bucket = ba.bucket
         |  WHERE x.vec_id != d.query_id
         |  GROUP BY d.query_id, x.vec_id
         |), r2 AS (
         |  SELECT query_id, vec_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS BIGINT) AS rk
         |  FROM ad2
         |)
         |SELECT query_id, rk, vec_id, round(adist, 6) AS adist
         |FROM r2 WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_ivf_pq" ->
      s"""${OracleSql.NormCte}$AssignCte, ${pqCteOn("embeddings")}, qb AS (
         |  SELECT vec_id AS query_id, bucket FROM asg WHERE vec_id < $NQueries
         |), ad2 AS (
         |  SELECT d.query_id, x.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |      list_sort(list(struct_pack(m := x.m, dq := d.dq))), s -> s['dq'])),
         |      (a, v) -> a + v) AS adist
         |  FROM codes x
         |  JOIN asg ba ON x.vec_id = ba.vec_id
         |  JOIN dt d ON x.m = d.m AND x.code = d.code
         |  JOIN qb ON qb.query_id = d.query_id AND qb.bucket = ba.bucket
         |  WHERE x.vec_id != d.query_id
         |  GROUP BY d.query_id, x.vec_id
         |), r2 AS (
         |  SELECT query_id, vec_id, adist,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS BIGINT) AS rk
         |  FROM ad2
         |)
         |SELECT query_id, rk, vec_id, round(adist, 6) AS adist
         |FROM r2 WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "ann_recall_ivfpq" ->
      s"""${OracleSql.NormCte}$AssignCte, ${pqCteOn("embeddings")}, qb AS (
         |  SELECT vec_id AS query_id, bucket FROM asg WHERE vec_id < $NQueries
         |), ad2 AS (
         |  SELECT d.query_id, x.vec_id,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |      list_sort(list(struct_pack(m := x.m, dq := d.dq))), s -> s['dq'])),
         |      (a, v) -> a + v) AS adist
         |  FROM codes x
         |  JOIN asg ba ON x.vec_id = ba.vec_id
         |  JOIN dt d ON x.m = d.m AND x.code = d.code
         |  JOIN qb ON qb.query_id = d.query_id AND qb.bucket = ba.bucket
         |  WHERE x.vec_id != d.query_id
         |  GROUP BY d.query_id, x.vec_id
         |), ipr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS rk
         |  FROM ad2
         |), ipf AS (SELECT query_id, vec_id FROM ipr WHERE rk <= $TopK),
         |bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK)
         |SELECT bfr.query_id AS query_id,
         |  CAST(sum(CASE WHEN ipf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN ipf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bfr LEFT JOIN ipf ON bfr.query_id = ipf.query_id AND bfr.vec_id = ipf.vec_id
         |GROUP BY bfr.query_id ORDER BY query_id""".stripMargin,
    "ann_recall_pq" ->
      s"""${OracleSql.NormCte}, ${pqCteOn("embeddings")}, pqr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id) AS rk
         |  FROM ad
         |), pqf AS (SELECT query_id, vec_id FROM pqr WHERE rk <= $TopK),
         |bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK)
         |SELECT bfr.query_id AS query_id,
         |  CAST(sum(CASE WHEN pqf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN pqf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bfr LEFT JOIN pqf ON bfr.query_id = pqf.query_id AND bfr.vec_id = pqf.vec_id
         |GROUP BY bfr.query_id ORDER BY query_id""".stripMargin,
    "knn_lsh" ->
      s"""${OracleSql.NormCte}$LshAssignCte, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.bucket,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM lasg q JOIN lasg b ON q.vec_id < $NQueries
         |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id, bucket, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine, bucket
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_lsh_probe2" ->
      s"""${OracleSql.NormCte}$LshAssignCte, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.bucket,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM lasg q JOIN lasg b ON q.vec_id < $NQueries
         |    AND b.bucket IN (q.bucket, xor(q.bucket, 1), xor(q.bucket, 2),
         |                     xor(q.bucket, 4), xor(q.bucket, 8))
         |    AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id, bucket, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine, bucket
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "ann_recall_lsh2" ->
      s"""${OracleSql.NormCte}$LshAssignCte, bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bf AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK),
         |lp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM lasg q JOIN lasg b ON q.vec_id < $NQueries
         |    AND b.bucket IN (q.bucket, xor(q.bucket, 1), xor(q.bucket, 2),
         |                     xor(q.bucket, 4), xor(q.bucket, 8))
         |    AND b.vec_id != q.vec_id
         |), lr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM lp
         |), lf AS (SELECT query_id, vec_id FROM lr WHERE rk <= $TopK)
         |SELECT bf.query_id AS query_id,
         |  CAST(sum(CASE WHEN lf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN lf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bf LEFT JOIN lf ON bf.query_id = lf.query_id AND bf.vec_id = lf.vec_id
         |GROUP BY bf.query_id ORDER BY query_id""".stripMargin,
    "ivf_retrain" ->
      s"""${OracleSql.NormCte}$AssignCte, ex AS (
         |  SELECT vec_id, bucket, CAST(i AS BIGINT) AS dim, embedding[i + 1]::DOUBLE AS x
         |  FROM asg, unnest(range(len(embedding))) AS u(i)
         |), g AS (
         |  SELECT bucket, dim, CAST(count(*) AS BIGINT) AS nv,
         |    list_sort(list(struct_pack(vec_id := vec_id, x := x))) AS xs
         |  FROM ex GROUP BY bucket, dim
         |), f AS (
         |  SELECT bucket, dim, nv,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['x'])),
         |      (a, v) -> a + v) / nv::DOUBLE AS m
         |  FROM g
         |), nc AS (
         |  SELECT bucket, CAST(max(nv) AS BIGINT) AS n_vecs,
         |    list_transform(list_sort(list(struct_pack(dim := dim, m := m))), s -> s['m']) AS ncv
         |  FROM f GROUP BY bucket
         |), oc AS (
         |  SELECT vec_id AS bucket, list_transform(embedding, v -> v::DOUBLE) AS ocv, nm AS onm
         |  FROM nrm WHERE vec_id < $NCentroids
         |)
         |SELECT nc.bucket, nc.n_vecs,
         |  round(${OracleSql.dot("ocv", "ncv")} /
         |    (oc.onm * sqrt(${OracleSql.norm2("ncv")})), 6) AS centroid_cos
         |FROM nc JOIN oc ON nc.bucket = oc.bucket ORDER BY nc.bucket""".stripMargin,
    "ivf_elbow" ->
      s"""${OracleSql.NormCte}, ks AS (
         |  SELECT CAST(unnest([2, 4, 8, 16]) AS BIGINT) AS k
         |), cent AS (
         |  SELECT vec_id AS cid, embedding AS ce, nm AS cnm
         |  FROM nrm WHERE vec_id < $NCentroids
         |), p AS (
         |  SELECT ks.k, v.vec_id, c.cid,
         |    ${OracleSql.cosineN("v.embedding", "c.ce", "v.nm", "c.cnm")} AS ccos
         |  FROM ks, nrm v, cent c WHERE c.cid < ks.k
         |), a AS (
         |  SELECT k, vec_id, 1.0::DOUBLE - ccos AS d,
         |    row_number() OVER (PARTITION BY k, vec_id ORDER BY ccos DESC, cid) AS rn
         |  FROM p
         |), g AS (
         |  SELECT k, CAST(count(*) AS BIGINT) AS n_vecs,
         |    list_sort(list(struct_pack(vec_id := vec_id, d := d))) AS xs
         |  FROM a WHERE rn = 1 GROUP BY k
         |), f AS (
         |  SELECT k, n_vecs,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['d'])),
         |      (acc, x) -> acc + x) AS inertia
         |  FROM g
         |)
         |SELECT k, n_vecs, round(inertia, 6) AS inertia,
         |  round(inertia / n_vecs::DOUBLE, 6) AS avg_dist
         |FROM f ORDER BY k""".stripMargin,
    "ivf_label_purity" ->
      s"""${OracleSql.NormCte}$AssignCte, m AS (
         |  SELECT asg.bucket, CAST(e.label AS BIGINT) AS label,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM asg JOIN embeddings e ON asg.vec_id = e.vec_id
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY c DESC, label) AS rn
         |  FROM m
         |)
         |SELECT bucket, CAST(sum(c) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS BIGINT) AS n_labels,
         |  max(CASE WHEN rn = 1 THEN label END) AS majority_label,
         |  round(max(CASE WHEN rn = 1 THEN c END)::DOUBLE / sum(c)::DOUBLE, 4) AS purity
         |FROM r GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ann_recall_curve" ->
      s"""${OracleSql.NormCte}$AssignCte, bfp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), bfr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bfp
         |), ivp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM asg q JOIN asg b ON q.vec_id < $NQueries
         |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
         |), ivr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM ivp
         |), nq AS (
         |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries
         |  FROM bfr WHERE rk <= $TopK
         |), j AS (
         |  SELECT bfr.rk AS rk, ivr.rk AS ark
         |  FROM bfr JOIN ivr ON bfr.query_id = ivr.query_id AND bfr.vec_id = ivr.vec_id
         |  WHERE bfr.rk <= $TopK AND ivr.rk <= $TopK
         |), ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k)
         |SELECT ks.k AS k, nq.n_queries,
         |  CAST(sum(CASE WHEN j.rk <= ks.k AND j.ark <= ks.k THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN j.rk <= ks.k AND j.ark <= ks.k THEN 1 ELSE 0 END)::DOUBLE
         |    / (nq.n_queries * ks.k)::DOUBLE, 6) AS recall
         |FROM ks, j, nq GROUP BY ks.k, nq.n_queries ORDER BY k""".stripMargin,
    "knn_bruteforce" ->
      s"""${OracleSql.NormCte}, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "semantic_source_mix" ->
      s"""${OracleSql.NormCte}$AssignCte, m AS (
         |  SELECT d.source AS source, a.bucket AS bucket, count(*) AS c
         |  FROM asg a JOIN documents d ON d.doc_id = a.vec_id
         |  GROUP BY d.source, a.bucket
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY c DESC, bucket) AS rn
         |  FROM m
         |)
         |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  max(CASE WHEN rn = 1 THEN bucket END) AS top_bucket,
         |  round(CAST(max(CASE WHEN rn = 1 THEN c END) AS DOUBLE)
         |    / CAST(sum(c) AS DOUBLE), 6) AS top_share,
         |  round(CAST(sum(c * c) AS DOUBLE)
         |    / CAST(sum(c) * sum(c) AS DOUBLE), 6) AS hhi
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "ivf_bucket_stats" ->
      s"""${OracleSql.NormCte}$AssignCte, bc AS (
         |  SELECT bucket, count(*) AS n_vecs FROM asg GROUP BY bucket
         |), t AS (
         |  SELECT sum(n_vecs)::DOUBLE AS tot FROM bc
         |)
         |SELECT bucket, n_vecs, round(n_vecs / t.tot, 6) AS share
         |FROM bc, t ORDER BY bucket""".stripMargin,
    "knn_ivf" ->
      s"""${OracleSql.NormCte}$AssignCte, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.bucket,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM asg q JOIN asg b ON q.vec_id < $NQueries
         |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id, bucket, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine, bucket
         |FROM r WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_ivf_trained" ->
      s"""${OracleSql.NormCte}$AssignCte, cx AS (
         |  SELECT bucket, vec_id, j, embedding[j+1] AS v
         |  FROM asg, unnest(range(len(embedding))) AS u(j)
         |), cd AS (
         |  SELECT bucket, j,
         |    CAST(list_reduce(list_prepend(0.0::DOUBLE, list_transform(
         |      list_sort(list(struct_pack(a := vec_id, b := v))), s -> s.b::DOUBLE)),
         |      (x, y) -> x + y) / count(*) AS FLOAT) AS c
         |  FROM cx GROUP BY bucket, j
         |), c2 AS (
         |  SELECT bucket AS cid2, list(c ORDER BY j) AS ce FROM cd GROUP BY bucket
         |), c2n AS (
         |  SELECT cid2, ce, sqrt(${OracleSql.norm2("ce")}) AS cnm FROM c2
         |), a2 AS (
         |  SELECT v.vec_id, v.embedding, v.nm, c.cid2,
         |    ${OracleSql.cosineN("v.embedding", "c.ce", "v.nm", "c.cnm")} AS ccos
         |  FROM nrm v, c2n c
         |), asg2 AS (
         |  SELECT vec_id, embedding, nm, cid2 AS bucket FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid2) AS crn
         |    FROM a2) WHERE crn = 1
         |), p2 AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id, b.bucket,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM asg2 q JOIN asg2 b ON q.vec_id < $NQueries
         |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
         |), r2 AS (
         |  SELECT query_id, vec_id, bucket, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p2
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine, bucket
         |FROM r2 WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_ivf_probe2" ->
      s"""${OracleSql.NormCte}$AssignCte, qc AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qe, q.nm AS qnm,
         |    c.vec_id AS cid,
         |    ${OracleSql.cosineN("q.embedding", "c.embedding", "q.nm", "c.nm")} AS ccos
         |  FROM nrm q JOIN nrm c ON q.vec_id < $NQueries AND c.vec_id < $NCentroids
         |), qp AS (
         |  SELECT query_id, qe, qnm, cid AS bucket FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cid) AS crn
         |    FROM qc) WHERE crn <= 2
         |), p3 AS (
         |  SELECT q.query_id AS query_id, b.vec_id AS vec_id, b.bucket,
         |    ${OracleSql.cosineN("q.qe", "b.embedding", "q.qnm", "b.nm")} AS c
         |  FROM qp q JOIN asg b ON b.bucket = q.bucket AND b.vec_id != q.query_id
         |), r3 AS (
         |  SELECT query_id, vec_id, bucket, c,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rk
         |  FROM p3
         |)
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine, bucket
         |FROM r3 WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin,
    "knn_classify" ->
      s"""${OracleSql.NormCte}, p AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), r AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM p
         |), votes AS (
         |  SELECT r.query_id AS query_id, CAST(e.label AS BIGINT) AS label,
         |    count(*) AS votes
         |  FROM r JOIN embeddings e ON r.vec_id = e.vec_id
         |  WHERE r.rk <= $TopK GROUP BY r.query_id, e.label
         |), best AS (
         |  SELECT query_id, label, votes,
         |    row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
         |  FROM votes
         |)
         |SELECT query_id, label AS pred_label, votes
         |FROM best WHERE rn = 1 ORDER BY query_id""".stripMargin,
    "ann_probe_curve" -> {
      def probeCtes(np: Int): String =
        s"""qp$np AS (
           |  SELECT query_id AS vec_id, qe AS embedding, qnm AS nm, cid AS bucket FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cid) AS crn
           |    FROM qc) WHERE crn <= $np
           |), p$np AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
           |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
           |  FROM qp$np q JOIN asg b ON b.bucket = q.bucket AND b.vec_id != q.vec_id
           |), r$np AS (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
           |  FROM p$np
           |), f$np AS (SELECT query_id, vec_id FROM r$np WHERE rk <= $TopK),
           |g$np AS (
           |  SELECT bfr.query_id,
           |    sum(CASE WHEN f$np.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
           |  FROM bfr LEFT JOIN f$np
           |    ON bfr.query_id = f$np.query_id AND bfr.vec_id = f$np.vec_id
           |  GROUP BY bfr.query_id
           |)""".stripMargin
      def row(np: Int): String =
        s"""SELECT CAST($np AS BIGINT) AS n_probe, count(*) AS n_queries,
           |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
           |  round(CAST(sum(n_hits) AS DOUBLE) /
           |    CAST(count(*) * $TopK AS DOUBLE), 6) AS recall_at_10
           |FROM g$np""".stripMargin
      s"""${OracleSql.NormCte}$AssignCte, qc AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qe, q.nm AS qnm,
         |    c.vec_id AS cid,
         |    ${OracleSql.cosineN("q.embedding", "c.embedding", "q.nm", "c.nm")} AS ccos
         |  FROM nrm q JOIN nrm c ON q.vec_id < $NQueries AND c.vec_id < $NCentroids
         |), bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK),
         |${(1 to 3).map(probeCtes).mkString(",\n")}
         |SELECT n_probe, n_queries, total_hits, recall_at_10 FROM (
         |  ${(1 to 3).map(row).mkString("\n  UNION ALL\n  ")}
         |)
         |ORDER BY n_probe""".stripMargin
    },
    "ann_recall_ivf" -> {
      def pairs(asgName: String, p: String): String =
        s"""$p AS (
           |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
           |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
           |  FROM $asgName q JOIN asg b ON q.vec_id < $NQueries
           |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
           |), ${p}r AS (
           |  SELECT query_id, vec_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
           |  FROM $p
           |), ${p}f AS (SELECT query_id, vec_id FROM ${p}r WHERE rk <= $TopK)""".stripMargin
      def recall(variant: String, f: String): String =
        s"""SELECT '$variant' AS variant, bfr.query_id AS query_id,
           |  CAST(sum(CASE WHEN $f.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           |  round(sum(CASE WHEN $f.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
           |FROM bfr LEFT JOIN $f ON bfr.query_id = $f.query_id AND bfr.vec_id = $f.vec_id
           |GROUP BY bfr.query_id""".stripMargin
      s"""${OracleSql.NormCte}$AssignCte, qc AS (
         |  SELECT q.vec_id AS query_id, q.embedding AS qe, q.nm AS qnm,
         |    c.vec_id AS cid,
         |    ${OracleSql.cosineN("q.embedding", "c.embedding", "q.nm", "c.nm")} AS ccos
         |  FROM nrm q JOIN nrm c ON q.vec_id < $NQueries AND c.vec_id < $NCentroids
         |), qp AS (
         |  SELECT query_id AS vec_id, qe AS embedding, qnm AS nm, cid AS bucket FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cid) AS crn
         |    FROM qc) WHERE crn <= 2
         |), bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bfr AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK),
         |${pairs("asg", "i1p")},
         |${pairs("qp", "i2p")}
         |SELECT variant, query_id, n_hits, recall FROM (
         |  ${recall("ivf_probe1", "i1pf")}
         |  UNION ALL
         |  ${recall("ivf_probe2", "i2pf")}
         |)
         |ORDER BY variant, query_id""".stripMargin
    },
    "ann_recall" ->
      s"""${OracleSql.NormCte}$LshAssignCte, bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bf AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK),
         |lp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM lasg q JOIN lasg b ON q.vec_id < $NQueries
         |    AND b.bucket = q.bucket AND b.vec_id != q.vec_id
         |), lr AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM lp
         |), lf AS (SELECT query_id, vec_id FROM lr WHERE rk <= $TopK)
         |SELECT bf.query_id AS query_id,
         |  CAST(sum(CASE WHEN lf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN lf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bf LEFT JOIN lf ON bf.query_id = lf.query_id AND bf.vec_id = lf.vec_id
         |GROUP BY bf.query_id ORDER BY query_id""".stripMargin,
    "knn_graph" ->
      s"""${OracleSql.NormCte}$AssignCte$GraphCtes$GraphFinalCte
         |SELECT query_id, rk, vec_id, round(c, 6) AS cosine
         |FROM gr WHERE rk <= $TopK
         |ORDER BY query_id, rk""".stripMargin,
    "ann_recall_graph" ->
      s"""${OracleSql.NormCte}$AssignCte$GraphCtes$GraphFinalCte, gf AS (
         |  SELECT query_id, vec_id FROM gr WHERE rk <= $TopK
         |), bp AS (
         |  SELECT q.vec_id AS query_id, b.vec_id AS vec_id,
         |    ${OracleSql.cosineN("q.embedding", "b.embedding", "q.nm", "b.nm")} AS c
         |  FROM nrm q JOIN nrm b ON q.vec_id < $NQueries AND b.vec_id != q.vec_id
         |), br AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk
         |  FROM bp
         |), bf AS (SELECT query_id, vec_id FROM br WHERE rk <= $TopK)
         |SELECT bf.query_id AS query_id,
         |  CAST(sum(CASE WHEN gf.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(sum(CASE WHEN gf.vec_id IS NOT NULL THEN 1 ELSE 0 END) / $TopK.0, 4) AS recall
         |FROM bf LEFT JOIN gf ON bf.query_id = gf.query_id AND bf.vec_id = gf.vec_id
         |GROUP BY bf.query_id ORDER BY query_id""".stripMargin,
    "embedding_pca" -> {
      def fold(structList: String, field: String, mul: Boolean = false): String = {
        val v = if (mul) s"s['$field'] * s['$field']" else s"s['$field']"
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort($structList), s -> $v)), (a, x) -> a + x)"
      }
      def avIter(vPrev: String, av: String, nrm: String, vNext: String): String =
        s"""$av AS (
           |  SELECT cov.i AS dim,
           |    ${fold(s"list(struct_pack(j := cov.j, t := cov.cv * $vPrev.v))", "t")} AS w
           |  FROM cov JOIN $vPrev ON cov.j = $vPrev.dim GROUP BY cov.i
           |), $nrm AS (
           |  SELECT sqrt(${fold("list(struct_pack(dim := dim, w := w))", "w", mul = true)}) AS nm
           |  FROM $av
           |), $vNext AS (
           |  SELECT dim, w / $nrm.nm AS v FROM $av, $nrm
           |)""".stripMargin
      s"""WITH ex AS (
         |  SELECT vec_id, CAST(i AS BIGINT) AS dim, embedding[i + 1]::DOUBLE AS x
         |  FROM embeddings, unnest(range(len(embedding))) AS u(i)
         |  WHERE vec_id % 8 = 0
         |), nn AS (SELECT count(*)::DOUBLE AS n FROM embeddings WHERE vec_id % 8 = 0),
         |mu AS (
         |  SELECT dim, s / nn.n AS mu FROM (
         |    SELECT dim, ${fold("list(struct_pack(vec_id := vec_id, x := x))", "x")} AS s
         |    FROM ex GROUP BY dim), nn
         |), cx AS (
         |  SELECT vec_id, dim, x - mu AS c FROM ex JOIN mu USING (dim)
         |), cov AS (
         |  SELECT i, j, s / nn.n AS cv FROM (
         |    SELECT a.dim AS i, b.dim AS j,
         |      ${fold("list(struct_pack(vec_id := a.vec_id, p := a.c * b.c))", "p")} AS s
         |    FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY i, j), nn
         |), v0 AS (SELECT dim, 1.0::DOUBLE AS v FROM mu),
         |${avIter("v0", "av1", "n1", "v1")},
         |${avIter("v1", "av2", "n2", "v2")}
         |SELECT dim, round(v, 6) AS loading FROM v2 ORDER BY dim""".stripMargin
    },
    "embedding_stats" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS dim, embedding[i + 1]::DOUBLE AS x
        |  FROM embeddings, unnest(range(len(embedding))) AS u(i)
        |), g AS (
        |  SELECT dim, count(*) AS n, min(x) AS mn, max(x) AS mx,
        |    list_sort(list(struct_pack(vec_id := vec_id, x := x))) AS xs
        |  FROM ex GROUP BY dim
        |), f AS (
        |  SELECT dim, n, mn, mx,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['x'])),
        |      (a, v) -> a + v) AS s,
        |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['x'] * s['x'])),
        |      (a, v) -> a + v) AS s2
        |  FROM g
        |)
        |SELECT dim, n,
        |  round(s / n, 6) AS mean,
        |  round(sqrt(s2 / n - (s / n) * (s / n)), 6) AS std,
        |  round(mn, 6) AS mn,
        |  round(mx, 6) AS mx
        |FROM f ORDER BY dim""".stripMargin,
    "semantic_dedup" ->
      s"""${OracleSql.NormCte}$AssignCte, drp AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM asg a JOIN asg b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
         |  WHERE ${OracleSql.cosineN("a.embedding", "b.embedding", "a.nm", "b.nm")}
         |    >= $SemThreshold
         |)
         |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM drp)
         |ORDER BY vec_id""".stripMargin,
    // unrounded cosine, exactly like the semantic_dedup oracle's
    // compare — the curve must count the SAME pairs the operator drops
    "semdedup_threshold_curve" ->
      s"""${OracleSql.NormCte}$AssignCte, p AS (
         |  SELECT a.vec_id AS vec_id,
         |    ${OracleSql.cosineN("a.embedding", "b.embedding", "a.nm", "b.nm")} AS cos
         |  FROM asg a JOIN asg b ON a.bucket = b.bucket AND b.vec_id < a.vec_id
         |), t AS (SELECT unnest([0.2, 0.25, 0.3, 0.35, 0.4, 0.45]) AS threshold)
         |SELECT t.threshold AS threshold,
         |  count(CASE WHEN p.cos >= t.threshold THEN 1 END) AS n_pairs,
         |  count(DISTINCT CASE WHEN p.cos >= t.threshold THEN p.vec_id END) AS n_dropped
         |FROM t CROSS JOIN p GROUP BY t.threshold ORDER BY threshold""".stripMargin,
    "embedding_outliers" ->
      s"""${OracleSql.NormCte}, ac AS (
         |  SELECT v.vec_id, c.vec_id AS cid,
         |    ${OracleSql.cosineN("v.embedding", "c.embedding", "v.nm", "c.nm")} AS ccos
         |  FROM nrm v JOIN nrm c ON c.vec_id < $NCentroids
         |), a2 AS (
         |  SELECT vec_id, cid AS bucket, ccos FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS crn
         |    FROM ac) WHERE crn = 1
         |), g AS (
         |  SELECT bucket, count(*) AS n,
         |    list_sort(list(struct_pack(vec_id := vec_id, x := ccos))) AS xs
         |  FROM a2 GROUP BY bucket
         |), f AS (
         |  SELECT bucket, n,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['x'])),
         |      (a, v) -> a + v) AS s,
         |    list_reduce(list_prepend(0.0::DOUBLE, list_transform(xs, s -> s['x'] * s['x'])),
         |      (a, v) -> a + v) AS s2
         |  FROM g
         |), st AS (
         |  SELECT bucket, s / n AS mu, sqrt(s2 / n - (s / n) * (s / n)) AS sd FROM f
         |)
         |SELECT a2.vec_id, CAST(a2.bucket AS BIGINT) AS bucket,
         |  round(a2.ccos, 6) AS ccos, round((a2.ccos - mu) / sd, 4) AS z
         |FROM a2 JOIN st ON a2.bucket = st.bucket
         |WHERE a2.ccos < mu - 1.0 * sd
         |ORDER BY a2.vec_id""".stripMargin,
    "ivf_silhouette" ->
      s"""${OracleSql.NormCte}$AssignCte, uu AS (
         |  SELECT vec_id, bucket,
         |    list_transform(embedding, v -> v::DOUBLE / nm) AS u
         |  FROM asg
         |), contrib AS (
         |  SELECT bucket, vec_id, j, u[j+1] AS v
         |  FROM uu, unnest(range(len(u))) AS t(j)
         |), dsum AS (
         |  SELECT bucket, j,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(list_sort(list(struct_pack(o := vec_id, x := v))),
         |        s -> s['x'])), (a, v) -> a + v) AS su
         |  FROM contrib GROUP BY bucket, j
         |), svec AS (
         |  SELECT bucket AS cb,
         |    list_transform(list_sort(list(struct_pack(j := j, s := su))),
         |      s -> s['s']) AS sv
         |  FROM dsum GROUP BY bucket
         |), nb AS (
         |  SELECT bucket AS cb, CAST(count(*) AS BIGINT) AS cnt FROM asg GROUP BY bucket
         |), cl AS (
         |  SELECT svec.cb, sv, cnt FROM svec JOIN nb USING (cb)
         |), sc AS (
         |  SELECT uu.vec_id, uu.bucket,
         |    min(CASE WHEN cl.cb <> uu.bucket
         |      THEN 1.0::DOUBLE - ${OracleSql.dot("u", "sv")} / cnt::DOUBLE END) AS b,
         |    max(CASE WHEN cl.cb = uu.bucket
         |      THEN 1.0::DOUBLE - (${OracleSql.dot("u", "sv")} - ${OracleSql.norm2("u")})
         |        / (cnt - 1)::DOUBLE END) AS a,
         |    max(CASE WHEN cl.cb = uu.bucket THEN cnt END) AS n_own
         |  FROM uu, cl GROUP BY uu.vec_id, uu.bucket
         |), sil AS (
         |  SELECT vec_id, bucket,
         |    CASE WHEN n_own = 1 OR greatest(a, b) <= 0.0 THEN 0.0::DOUBLE
         |      ELSE (b - a) / greatest(a, b) END AS s
         |  FROM sc
         |), g AS (
         |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs,
         |    list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(list_sort(list(struct_pack(o := vec_id, x := s))),
         |        p -> p['x'])), (a, v) -> a + v) AS ssum
         |  FROM sil GROUP BY bucket
         |)
         |SELECT CAST(bucket AS BIGINT) AS bucket, n_vecs,
         |  round(ssum / n_vecs::DOUBLE, 6) AS mean_silhouette
         |FROM g ORDER BY bucket""".stripMargin)
}

package graft.operators

import graft.functions.{HashFns, TextFns, VectorFns}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.C): exact, normalized, MinHash
  * LSH, n-gram Jaccard, SimHash, embedding near-dup.
  *
  * Scale posture (the point of each algorithm at 100 TB):
  *  - signature computation (shingles → rolling hash → minhash /
  *    simhash bits) is a narrow, codegen'd map stage — scan speed;
  *  - candidate generation shuffles only on small band/bucket keys,
  *    never materializing O(n²) pairs;
  *  - verification (Jaccard / Hamming / cosine) runs only on bucket
  *    candidates.
  * The brute-force formulations (`ngram_jaccard` via the inverted
  * shingle join, `embed_neardup` via crossJoin) are the exact
  * baselines the sketch variants are judged against.
  */
object Dedup {

  // ---- shared narrow stages -------------------------------------------

  /** (doc_id, hs: array<long>) — rolling hash of every 3-token shingle.
    * Pure codegen'd map stage (no shuffle): one
    * [[graft.functions.ShingleHash]] kernel call per document.
    */
  def shingleHashes(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      HashFns.shingleHash(TextFns.tokens(col("text"))).as("hs"))

  /** [[shingleHashes]] generalized to k-token shingles (the
    * contamination family's n-gram knob): n = 3 keeps the dedicated
    * codegen kernel; other widths compose [[TextFns.shinglesK]] with
    * the same rolling hash — identical hash-of-space-joined-ngram
    * contract, so oracles replay either width the same way. Still a
    * pure narrow map stage.
    */
  def shingleHashesN(docs: DataFrame, n: Int): DataFrame =
    if (n == 3) shingleHashes(docs)
    else docs.select(col("doc_id"),
      transform(TextFns.shinglesK(TextFns.tokens(col("text")), n),
        s => HashFns.rollingHash(s)).as("hs"))

  /** doc_id, hs, m0..m15 — k=16 universal-hash MinHash signature:
    * sig_i = min over shingle hashes h of (A_i*h + B_i) mod P,
    * computed in one [[graft.functions.MinHashSig]] pass.
    */
  def minhashSigs(docs: DataFrame): DataFrame = {
    val mCols = (0 until 16).map(i => element_at(col("sig"), i + 1).as(s"m$i"))
    shingleHashes(docs)
      .withColumn("sig", HashFns.minhashSig(col("hs")))
      .select(col("doc_id") +: col("hs") +: mCols: _*)
  }

  /** (doc_id, simhash) — 32-bit SimHash: per-term 32-bit rolling hash,
    * tf-weighted ±1 vote per bit, bit set where the vote is positive.
    * Pure narrow map stage via the [[graft.functions.SimHash32]]
    * kernel (±1 per token occurrence ≡ the tf-weighted per-term sum,
    * so no (doc, term) shuffle is needed at all).
    */
  def simhashDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      HashFns.simhash32(TextFns.tokens(col("text"))).as("simhash"))

  /** Band layout of the lossless ≤ maxHamming pigeonhole banding: the
    * 32 simhash bits split into maxHamming+1 disjoint bands, wider
    * bands first — (widths, bit offsets).
    */
  private[graft] def bandSpec(maxHamming: Int): (Seq[Int], Seq[Int]) = {
    require(maxHamming >= 0 && maxHamming < 32, s"maxHamming out of range: $maxHamming")
    val nb = maxHamming + 1
    val base = 32 / nb
    val widths = Seq.tabulate(nb)(i => if (i < 32 % nb) base + 1 else base)
    (widths, widths.scanLeft(0)(_ + _).init)
  }

  private[graft] def bandVal(c: Column, widths: Seq[Int], offsets: Seq[Int],
                             i: Int): Column =
    shiftright(c, offsets(i)).bitwiseAND(lit((1L << widths(i)) - 1))

  /** Banded view of an (`idCol`, simhash) fingerprint frame: one row
    * per band with its (band, v) join key. A pair within Hamming ≤
    * maxHamming shares at least one band value (pigeonhole) — the
    * equi-join key for both the in-corpus pair stream
    * ([[simhashPairsOf]]) and the streaming saved-store screen
    * ([[graft.streaming.Stream]]'s neardupGate), so candidate
    * generation shuffles band keys, never all pairs.
    */
  def simhashBandsOf(fp: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val (widths, offsets) = bandSpec(maxHamming)
    fp.select(col(idCol), col("simhash"),
        explode(array(Seq.tabulate(maxHamming + 1)(i =>
          struct(lit(i).as("band"),
            bandVal(col("simhash"), widths, offsets, i).as("v"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"),
        col("bk.band").as("band"), col("bk.v").as("v"))
  }

  /** Per-bucket unordered pair expansion: each sorted doc list emits
    * its i<j combinations exactly once (a self-join would produce both
    * orders and filter half away, shuffling the exploded table twice).
    */
  private def bucketPairs(buckets: DataFrame, listCol: String): DataFrame =
    buckets.filter(size(col(listCol)) > 1)
      .select(explode(flatten(transform(col(listCol), (x, i) =>
        transform(slice(col(listCol), i + lit(2), size(col(listCol))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))

  /** Buckets above this many members take [[boundedBucketPairs]]'
    * self-join fallback instead of the in-buffer combination
    * expansion. */
  val MaxBucket = 4096

  /** SIZE-BOUNDED per-bucket pair expansion over pre-aggregation
    * (bucket keys, item) rows — same unordered i<j pair set as
    * [[bucketPairs]], with a memory contract that survives a
    * mega-duplicate family: one `collect_list` bucket of 10M+
    * identical crawl docs would otherwise land in a single
    * aggregation buffer (no spill path) before the inherent O(n²)
    * pair OUTPUT even starts.
    *
    * One exchange on the bucket keys feeds three consumers: a window
    * `count` sizes every bucket (WindowExec buffers through a
    * spillable row array — unlike an aggregation buffer), buckets
    * ≤ `maxBucket` take the in-buffer combination expansion
    * (cheapest for the many-small-buckets regime), and oversize
    * buckets fall back to the key-equi self-join ([[simhashPairsOf]]'s
    * shape), whose sort-merge pair stream spills instead of
    * buffering and emits each pair once via the strict `<` on the
    * item. Bucket membership is identical either way, so the union is
    * exactly the full pair set — the oracle never sees the switch.
    *
    * `item` must be distinct within a bucket (every caller buckets an
    * (id, key)-unique relation), so `<` loses no pairs. `maxBucket`
    * defaults to [[MaxBucket]]; specs pass a smaller one to force the
    * fallback at tiny scale.
    */
  private[graft] def boundedBucketPairs(rows: DataFrame, keys: Seq[String],
      itemCol: String, maxBucket: Int = MaxBucket): DataFrame = {
    val sized = rows.select(keys.map(col) :+ col(itemCol).as("it"): _*)
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
    val smallPairs = bucketPairs(
      sized.filter(col("__n") <= maxBucket)
        .groupBy(keys.map(col): _*)
        .agg(sort_array(collect_list(col("it"))).as("ds")), "ds")
    val big = sized.filter(col("__n") > maxBucket)
    val bigPairs = big.as("a").join(big.as("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col("a.it") < col("b.it"))
      .select(col("a.it").as("doc_a"), col("b.it").as("doc_b"))
    smallPairs.unionByName(bigPairs)
  }

  /** Exact all-pairs Jaccard ≥ `threshold` between distinct-shingle
    * sets via prefix filtering (the All-Pairs / PPJoin candidate rule,
    * Bayardo et al. WWW'07): order shingles globally by (df, hash)
    * ascending; a doc of n shingles only indexes its first
    * n - ceil(t*n) + 1 shingles under that order. Any pair with
    * J ≥ t shares its *smallest* common shingle inside both prefixes,
    * so candidate generation from prefix co-occurrence is lossless —
    * while the hot (high-df) shingles that drive the naive inverted
    * join's d² blowup sort last and never enter a prefix. Candidates
    * then get one exact array_intersect verification. At 100 TB this
    * is the difference between quadratic stopword buckets and a
    * bounded candidate stream.
    */
  private def jaccardPairs(docs: DataFrame, threshold: Double): DataFrame =
    // recomputing the kernel-hashed sets per branch is cheaper than a
    // session-lifetime persist the lazy plan could never release
    jaccardPairsFromSets(shingleHashes(docs)
      .select(col("doc_id"), sort_array(array_distinct(col("hs"))).as("s")), threshold)

  /** [[jaccardPairs]]' candidate + verification pipeline over an
    * already-built `(doc_id, s)` sorted-distinct-shingle-set frame —
    * so [[ngramJaccardStats]] can run the same lossless PPJoin
    * relation over profile REPRESENTATIVES instead of raw docs.
    */
  private def jaccardPairsFromSets(sets: DataFrame, threshold: Double): DataFrame = {
    val ex = sets.select(col("doc_id"), explode(col("s")).as("hh"))
    val dfs = ex.groupBy("hh").agg(count(lit(1)).as("df"))
    // Global shingle order = (df asc, hash asc); no rank assignment
    // needed — the (df, hh) struct itself is the sortable key.
    val prefixes = ex.join(dfs, "hh")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("hh")))).as("os"))
      .select(col("doc_id"), size(col("os")).as("n"),
        posexplode(slice(transform(col("os"), o => o("hh")), lit(1),
          (size(col("os")) - ceil(size(col("os")) * threshold) + 1).cast("int"))))
      .withColumnRenamed("col", "hh")
    // PPJoin positional filter: a shared prefix element at (0-based)
    // positions (pa, pb) of the ordered sets bounds the overlap by
    // ub = min(na-pa, nb-pb) — everything before the shared element in
    // either set is provably outside the intersection under the global
    // order. A pair survives only if its BEST shared prefix position
    // still allows J >= t, i.e. ub*(1+t) >= t*(na+nb) (kept as an exact
    // integer-times-dyadic product — no ceil, no double-slop pruning of
    // a valid pair). This also subsumes the classic length filter
    // (min >= t*max follows from ub <= min), so candidates reach the
    // exact array_intersect verification already overlap-feasible.
    val cand = boundedBucketPairs(
      prefixes.select(col("hh"),
        struct(col("doc_id"), col("pos"), col("n")).as("it")),
      Seq("hh"), "it")
      .select(col("doc_a.doc_id").as("doc_a"), col("doc_b.doc_id").as("doc_b"),
        least(col("doc_a.n") - col("doc_a.pos"), col("doc_b.n") - col("doc_b.pos")).as("ub"),
        col("doc_a.n").as("na"), col("doc_b.n").as("nb"))
      .groupBy("doc_a", "doc_b", "na", "nb")
      .agg(max(col("ub")).as("ub"))
      .filter(col("ub") * (1.0 + threshold) >= (col("na") + col("nb")) * threshold)
      .select("doc_a", "doc_b")
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("j", col("i").cast("double") /
        (size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("i")))
  }

  // ---- operators -------------------------------------------------------

  /** Exact dedup: md5-of-text groups with the canonical (min doc_id)
    * member. At 100 TB this is the one-shuffle hash-groupBy dedup.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc"))
      .orderBy("text_md5")

  /** Dedup on normalized text (lowercase, strip punctuation, squeeze
    * whitespace) — catches trivially-reformatted copies.
    */
  def dedupNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(TextFns.normText(col("text"))).as("norm_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_doc"))
      .orderBy("norm_md5")

  /** Duplicate-group size distribution over the normalized-text
    * groups: how many groups have exactly s copies, and how many
    * documents those groups hold — the first QA chart read after a
    * dedup pass (a heavy tail here means boilerplate families, not
    * random duplication). Two partial-agg shuffles: corpus → groups
    * (|groups| rows) → histogram (|distinct sizes| rows); nothing
    * pairwise, nothing driver-side.
    */
  def dupClusterSizeHist(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(TextFns.normText(col("text"))).as("norm_md5"))
      .agg(count(lit(1)).as("n_copies"))
      .groupBy("n_copies")
      .agg(count(lit(1)).as("n_groups"))
      .withColumn("n_docs", (col("n_copies") * col("n_groups")).cast("long"))
      .orderBy("n_copies")

  /** Cross-family dedup audit: documents bucketed by (exact-dup,
    * near-dup) status with count and token mass per bucket — the
    * "are my duplicates junk or boilerplate?" diagnostic that decides
    * whether dedup should drop or keep-one. Exact status comes from
    * the normalized-text group size (join back on the group key, one
    * shuffle); near status from membership in the Hamming ≤ 1 simhash
    * edge set ([[neardupEdges]] — banded, never pairwise). All sums
    * are integers; the mean is the one terminal division.
    */
  def qualityByDupStatus(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir).select(col("doc_id"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
      md5(TextFns.normText(col("text"))).as("nk"))
    val gsz = base.groupBy("nk").agg(count(lit(1)).as("gsz"))
    val edges = neardupEdges(spark, dir)
    val nearNodes = edges.select(col("doc_a").as("doc_id"))
      .unionByName(edges.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("nflag", lit(1L))
    base.join(gsz, "nk")
      .join(nearNodes, Seq("doc_id"), "left")
      .withColumn("is_exact_dup", when(col("gsz") > 1L, 1L).otherwise(0L))
      .withColumn("is_near_dup", coalesce(col("nflag"), lit(0L)))
      .groupBy("is_exact_dup", "is_near_dup")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("n_tokens")).cast("double") /
          count(lit(1)).cast("double"), 6).as("avg_tokens"))
      .orderBy("is_exact_dup", "is_near_dup")
  }

  /** Shingle document-frequency histogram (power-of-2 buckets): how
    * many distinct 3-token shingles occur in 1 / 2–3 / 4–7 / … / ≥32
    * documents, with the posting mass per bucket — the chart that
    * tunes the df caps protecting [[contaminationCheck]] and the
    * span-dedup gram joins from boilerplate hot keys. Bucket edges
    * are integer comparisons; the heavy stage is one (shingle, doc)
    * distinct + one rollup, both keyed on the shingle hash.
    */
  def shingleDfHist(spark: SparkSession, dir: String): DataFrame = {
    val df = shingleHashes(Tables.documents(spark, dir))
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
    df.withColumn("bucket_id",
        when(col("df") === 1L, 0L).when(col("df") <= 3L, 1L)
          .when(col("df") <= 7L, 2L).when(col("df") <= 15L, 3L)
          .when(col("df") <= 31L, 4L).otherwise(5L))
      .groupBy("bucket_id")
      .agg(count(lit(1)).as("n_shingles"), sum(col("df")).as("n_postings"))
      .select(col("bucket_id"),
        element_at(array(lit("1"), lit("2_3"), lit("4_7"), lit("8_15"),
          lit("16_31"), lit("ge_32")), (col("bucket_id") + 1L).cast("int")).as("df_range"),
        col("n_shingles"), col("n_postings"))
      .orderBy("bucket_id")
  }

  /** Agreement audit between the two near-dup families: every pair
    * flagged by MinHash-LSH (verified Jaccard ≥ 0.5) and/or SimHash
    * (Hamming ≤ 1), bucketed into both / minhash_only / simhash_only
    * — the overlap check run before trusting either sketch alone
    * (token-shingle sets and bit fingerprints catch DIFFERENT
    * duplicates; a near-empty "both" bucket means the thresholds are
    * mis-calibrated). Both pair sets come from their banded candidate
    * generators, so the audit inherits their no-cartesian shape; the
    * full-outer join is keyed on the (tiny) pair frame.
    */
  def neardupFamilyOverlap(spark: SparkSession, dir: String): DataFrame = {
    val mh = minhashLshPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("m", lit(1L))
    val sp = neardupEdges(spark, dir)
      .select(col("doc_a"), col("doc_b")).withColumn("s", lit(1L))
    mh.join(sp, Seq("doc_a", "doc_b"), "full_outer")
      .withColumn("family",
        when(col("m").isNotNull && col("s").isNotNull, "both")
          .when(col("m").isNotNull, "minhash_only")
          .otherwise("simhash_only"))
      .groupBy("family").agg(count(lit(1)).as("n_pairs"))
      .orderBy("family")
  }

  /** Cross-source duplication matrix: near-dup pair counts
    * ([[simhashPairsOf]] at the contracted Hamming ≤ 6) per
    * unordered source pair — the "which crawls overlap" report that
    * decides whether two acquisition channels are redundant. The
    * pair set comes from the lossless banded join (never pairwise);
    * attaching sources is two broadcast-able doc_id joins, and the
    * matrix itself is |sources|² rows. Pair order is normalized with
    * least/greatest so the matrix is triangular regardless of which
    * doc carried which source.
    */
  def sourceDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    simhashPairsOf(Tables.documents(spark, dir), maxHamming = 6)
      .select("doc_a", "doc_b")
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
      .groupBy(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .agg(count(lit(1)).as("n_neardup_pairs"))
      .orderBy("source_a", "source_b")
  }

  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    minhashSigs(Tables.documents(spark, dir))
      .select(col("doc_id"),
        concat_ws(",", (0 until 16).map(i => col(s"m$i").cast("string")): _*).as("sig"))
      .orderBy("doc_id")

  /** LSH banding (4 bands × 4 rows) over the MinHash signature:
    * candidates = docs sharing a band key, then exact Jaccard ≥ 0.5
    * verification on candidates only. The shuffle is keyed on (band,
    * band key) — tiny — so no O(n²) stage exists anywhere.
    */
  def minhashLshPairs(spark: SparkSession, dir: String): DataFrame =
    minhashLshPairsOf(Tables.documents(spark, dir))

  def minhashLshPairsOf(docs: DataFrame): DataFrame = {
    // The signature subtree feeds multiple plan branches; with the
    // MinHashSig kernel the recompute is scan-speed, so no persist —
    // a lazily-returned plan could never release the cached blocks
    // (at 100 TB a caller owning the lifecycle would persist here).
    val sig = minhashSigs(docs)
    val bandCols = (0 until 4).map(bd =>
      struct(lit(bd).as("band"),
        concat_ws(",", (0 until 4).map(r => col(s"m${4 * bd + r}").cast("string")): _*).as("k")))
    val bands = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.k").as("k"))
    // One shuffle on (band, key) + in-bucket combination expansion for
    // ordinary buckets — cheaper than a two-sided self-join of the
    // exploded band table — with the mega-bucket self-join fallback.
    val cand = boundedBucketPairs(bands, Seq("band", "k"), "doc_id").distinct()
    val sets = sig.select(col("doc_id"), array_distinct(col("hs")).as("s"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("i", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("j", col("i").cast("double") /
        (size(col("sa")).cast("long") + size(col("sb")).cast("long") - col("i")))
      .filter(col("j") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Exact all-pairs 3-gram Jaccard ≥ 0.5 via prefix-filtered
    * candidate generation — the exact baseline `minhash_lsh_pairs`
    * approximates.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsOf(Tables.documents(spark, dir), 0.5)

  /** Exact all-pairs shingle-Jaccard ≥ `threshold` over any
    * (doc_id, text) frame — the public form of [[jaccardPairs]]
    * (prefix + positional filtering, then exact verification).
    */
  def jaccardPairsOf(docs: DataFrame, threshold: Double): DataFrame =
    jaccardPairs(docs, threshold)
      .filter(col("j") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("j"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** AGGREGATE twin of [[ngramJaccard]] — prices the exact J ≥ 0.5
    * relation at any scale WITHOUT materializing the pair list (the
    * r12 finding: at 100× clone scale the qualifying relation itself
    * is 24.75M rows ≈ 1.2B intersection-incidence rows, so the
    * listing's cost is its output mass; this twin's output is ≤ 11
    * bin rows no matter the corpus). Per 0.05-wide Jaccard bin over
    * the qualifying relation:
    *
    *   - `n_pairs`       — exact qualifying DOC pairs (the listing's
    *                       output row count: what `ngram_jaccard`
    *                       would emit),
    *   - `n_contracted`  — distinct PROFILE pairs, where a profile is
    *                       an exact distinct-shingle-SET equivalence
    *                       class (all expanded pairs of one profile
    *                       pair share the same (i, j) bit-for-bit) —
    *                       the exact-duplicate contraction ratio
    *                       n_pairs / n_contracted is the clone
    *                       inflation factor,
    *   - `shared_mass`   — Σ |A∩B| over qualifying pairs: the
    *                       intersection-incidence row count, i.e. the
    *                       shuffle mass a full verification carries —
    *                       THE number that prices a listing run.
    *
    * The candidate/verification pipeline is [[jaccardPairs]]' lossless
    * PPJoin run over one representative per profile; identical-set
    * families (exact dupes, J = 1.0 by construction) never enter
    * candidate generation at all — their C(m,2) pairs are priced
    * arithmetically from the multiplicity. Profile grouping keys on
    * the sorted set itself (content equality); at 100 TB you'd key on
    * a 128-bit digest of the set instead — same contract, one narrow
    * shuffle either way.
    */
  def ngramJaccardStats(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardStatsOf(Tables.documents(spark, dir))

  /** [[ngramJaccardStats]] over any (doc_id, text) frame. */
  def ngramJaccardStatsOf(docs: DataFrame): DataFrame = {
    val sets = shingleHashes(docs)
      .select(col("doc_id"), sort_array(array_distinct(col("hs"))).as("s"))
    val profs = sets.groupBy("s")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("m"))
    val cross = jaccardPairsFromSets(profs.select(col("doc_id"), col("s")), 0.5)
      .filter(col("j") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("i"), col("j"))
      .join(profs.select(col("doc_id").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(profs.select(col("doc_id").as("doc_b"), col("m").as("mb")), "doc_b")
      .select(col("j"), (col("ma") * col("mb")).as("n_exp"),
        (col("ma") * col("mb") * col("i")).as("mass"))
    val within = profs.filter(col("m") >= 2 && size(col("s")) > 0)
      .select(lit(1.0).as("j"),
        ((col("m") * (col("m") - 1)) / 2).cast("long").as("n_exp"),
        (((col("m") * (col("m") - 1)) / 2).cast("long") *
          size(col("s")).cast("long")).as("mass"))
    cross.unionByName(within)
      .groupBy(floor(col("j") * 20).cast("long").as("bin"))
      .agg(sum(col("n_exp")).cast("long").as("n_pairs"),
        count(lit(1)).cast("long").as("n_contracted"),
        sum(col("mass")).cast("long").as("shared_mass"))
      .select(col("bin"), round(col("bin").cast("double") / 20.0, 2).as("j_lo"),
        col("n_pairs"), col("n_contracted"), col("shared_mass"))
      .orderBy("bin")
  }

  /** Candidate-pair similarity histogram: exact shingle-Jaccard of
    * every PPJoin-verified pair with J ≥ 0.3, binned at 0.05 width —
    * the distribution that picks a dedup threshold (where the pair
    * mass sits relative to the 0.5 cut `ngram_jaccard` applies, and
    * what moving it would cost): `lsh_tuning_curve` tunes the SKETCH
    * against a threshold, this picks the threshold itself. Candidate
    * generation is the same lossless prefix+positional filter as the
    * Jaccard join; the rollup is ≤ 15 bins. Both engines compute j
    * from the same integer counts with the same double ops, so the
    * bin assignment is identical bit-for-bit.
    */
  def jaccardHist(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.documents(spark, dir), 0.3)
      .filter(col("j") >= 0.3)
      .groupBy(floor(col("j") * 20).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("bin"), round(col("bin").cast("double") / 20.0, 2).as("j_lo"),
        col("n_pairs"))
      .orderBy("bin")

  /** Directional shingle CONTAINMENT over the exact Jaccard ≥ 0.3
    * pair relation: C(A→B) = |A∩B| / |A| and C(B→A) = |A∩B| / |B|,
    * both EXACT (the intersection count comes straight from the
    * PPJoin-verified pair join — no estimate). High C(A→B) with low
    * Jaccard is the doc-contained-in-doc signature symmetric near-dup
    * misses (quoted articles, boilerplate wrappers) — the asymmetric
    * primitive substring-level pipelines run next to `ngram_jaccard`.
    * Candidate generation is the same lossless prefix+positional
    * filter as the Jaccard join (never all-pairs); the J ≥ 0.3 floor
    * is what keeps the relation prefix-filterable — containment with
    * no Jaccard floor has no prefix bound (a tiny doc inside a huge
    * one shares ALL its shingles), and THAT detector is
    * `dup_ngram_coverage`'s gram-keyed formulation instead.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(Tables.documents(spark, dir), 0.3)
      .filter(col("j") >= 0.3)
      .select(col("doc_a"), col("doc_b"), col("i").as("n_shared"),
        round(col("i").cast("double") / size(col("sa")).cast("double"), 4).as("c_ab"),
        round(col("i").cast("double") / size(col("sb")).cast("double"), 4).as("c_ba"),
        round(col("j"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashDf(Tables.documents(spark, dir)).orderBy("doc_id")

  /** Near-dup pairs with SimHash Hamming distance ≤ 6 (the SURVEY §2
    * operator contract), via [[simhashPairsOf]]'s 7-band lossless
    * banding. NOTE: on this corpus the ≤6 relation is ~67% of ALL
    * pairs (31-word vocab ⇒ simhashes cluster; measured 8.4M of 12.5M
    * pairs at sf0.1), so the downstream graph family deliberately
    * consumes the sparser [[neardupEdges]] (≤1) edge set instead —
    * triangle enumeration on the ≤6 graph would be output-bound at
    * ~6 × 10⁹ rows.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(Tables.documents(spark, dir), maxHamming = 6)

  /** Exact Hamming-distance histogram of the SimHash ≤ 6 pair
    * relation WITHOUT materializing a single doc pair — the pricing
    * twin [[simhashPairs]] gets, the way `ngram_jaccard_stats` prices
    * the exact-Jaccard listing. One row per observed distance d with
    * the value-graph pair count, the DOC pair mass at exactly d, and
    * the cumulative mass ≤ d: `cum_doc_pairs` at d IS the row count
    * `simhashPairsOf(_, d)` would list (spec-asserted at d = 6
    * against [[simhashPairs]] itself), so a pipeline reads the cost
    * of every threshold from one cheap pass before deciding to list.
    *
    * Scale shape: the same supernode trick as [[neardupComponents]] —
    * Hamming distance is a function of the two simhash VALUES, so the
    * banded pigeonhole join runs over the DISTINCT-VALUE frame
    * (weight = value multiplicity) and doc-pair mass is cᵤ·cᵥ (u<v)
    * plus C(c,2) inside each value (the d = 0 row). The shuffled
    * relation is the value-level band join — on a duplicate-dense
    * corpus orders of magnitude below the doc-level candidate mass
    * (5000 docs → 8.40M doc pairs from a few hundred distinct
    * values at sf0.1), and never wider than it on any corpus.
    */
  def simhashPairsStats(spark: SparkSession, dir: String): DataFrame = {
    val maxHamming = 6
    val (widths, offsets) = bandSpec(maxHamming)
    val nb = maxHamming + 1
    val vals = simhashDf(Tables.documents(spark, dir))
      .groupBy("simhash").agg(count(lit(1)).as("c"))
    // band expansion carrying the multiplicity (simhashBandsOf drops
    // non-key columns); first-matching-band filter dedups candidate
    // pairs exactly as simhashPairsOf does
    val bexp = vals.select(col("simhash"), col("c"),
        explode(array(Seq.tabulate(nb)(i =>
          struct(lit(i).as("band"),
            bandVal(col("simhash"), widths, offsets, i).as("v"))): _*)).as("bk"))
      .select(col("simhash"), col("c"),
        col("bk.band").as("band"), col("bk.v").as("v"))
    val firstBand = Seq.range(0, nb).foldRight(lit(-1): Column) { (i, rest) =>
      when(bandVal(col("xr"), widths, offsets, i) === 0, lit(i)).otherwise(rest)
    }
    val vpairs = bexp.as("a").join(bexp.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.band").as("band"),
        col("a.simhash").bitwiseXOR(col("b.simhash")).as("xr"),
        (col("a.c") * col("b.c")).as("m"))
      .filter(col("band") === firstBand)
      .withColumn("hamming", expr("bit_count(xr)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("hamming"), col("m"), lit(1L).as("vp"))
    // d = 0: within-value pairs. `div` keeps the mass integral in
    // Long arithmetic (c·(c−1) overflows double precision past 2^53
    // on a mega-family corpus; it is always even so div 2 is exact).
    val within = vals.select(lit(0L).as("hamming"),
      expr("(c * (c - 1)) div 2").as("m"),
      when(col("c") > 1, lit(1L)).otherwise(lit(0L)).as("vp"))
    vpairs.unionByName(within)
      .groupBy("hamming")
      .agg(sum(col("vp")).as("n_value_pairs"), sum(col("m")).as("n_doc_pairs"))
      // cumulative over ≤ maxHamming+1 aggregate rows — a bounded
      // presentation window, not a data-scale one
      .withColumn("cum_doc_pairs",
        sum(col("n_doc_pairs")).over(
          Window.orderBy("hamming").rowsBetween(Window.unboundedPreceding, 0)))
      .orderBy("hamming")
  }

  /** The near-dup GRAPH edge set: [[simhashPairsOf]] at Hamming ≤ 1.
    * All graph analytics (`dedup_clusters`, `neardup_*`) build on this
    * sparser relation — see [[simhashPairs]] for why ≤6 is not usable
    * as a graph on this corpus.
    */
  def neardupEdges(spark: SparkSession, dir: String): DataFrame =
    simhashPairsOf(Tables.documents(spark, dir), maxHamming = 1)

  /** Near-dup pairs with SimHash Hamming distance ≤ `maxHamming` over
    * any (doc_id, text) frame, by LOSSLESS LSH banding: the 32 bits
    * split into `maxHamming + 1` disjoint bands, so a pair within the
    * distance budget has at least one band with zero differing bits
    * (pigeonhole) and the banded equi-join finds EXACTLY the
    * brute-force pair set the DuckDB oracle computes by cross join.
    * Candidates are exact-verified with `bit_count`, and each pair is
    * emitted by its FIRST matching band only (all earlier bands of the
    * xor must be non-zero) — a codegen'd filter instead of a
    * `distinct()` over the multi-band candidate stream.
    *
    * Self-join on the band key, NOT bucketPairs: this near-dup-heavy
    * corpus has hot band-value buckets, and the codegen'd sort-merge
    * pair stream beats the interpreted per-bucket combination lambda
    * (measured 2.0s vs 1.2s at sf0.1 — the reverse of the small-bucket
    * minhash case).
    */
  def simhashPairsOf(docs: DataFrame, maxHamming: Int = 1): DataFrame = {
    val (widths, offsets) = bandSpec(maxHamming)
    val nb = maxHamming + 1
    val bands = simhashBandsOf(simhashDf(docs), "doc_id", maxHamming)
    val firstBand = Seq.range(0, nb).foldRight(lit(-1): Column) { (i, rest) =>
      when(bandVal(col("xr"), widths, offsets, i) === 0, lit(i)).otherwise(rest)
    }
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.band").as("band"),
        col("a.simhash").bitwiseXOR(col("b.simhash")).as("xr"))
      .filter(col("band") === firstBand)
      .withColumn("hamming", expr("bit_count(xr)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
      // partition-local presentation sort, NOT a global orderBy: the
      // listing is output-mass-bound (8.4M rows at sf0.1 — ~67% of
      // all pairs on this dup-dense corpus) and a global range sort
      // re-shuffles the entire listing purely for presentation — the
      // exact pair-scale shuffle the Explain gate forbids on the
      // stats twins and [[simhashPairsStats]] exists to price.
      // Measured: the global sort tripled the key (1.4s join →
      // 4.9s total at sf0.1 on disk-backed scratch); readers needing
      // a total order sort their own bounded slices.
      .sortWithinPartitions("doc_a", "doc_b")
  }

  /** Embedding near-dup: each vector's single nearest neighbor by
    * cosine. Brute-force N² baseline (codegen'd [[VectorFns.cosineSim]]
    * keeps it in whole-stage codegen); the bucketed scale path is
    * [[Similarity.knnIvf]].
    */
  def embedNeardup(spark: SparkSession, dir: String): DataFrame = {
    // Precompute each vector's norm once; per pair only the dot product
    // remains — same doubles as CosineSim (identical operation order)
    // at a third of the N² flops.
    val e = Similarity.withNorm(Tables.embeddings(spark, dir))
    val b = e.select(col("vec_id").as("nn_id"), col("embedding").as("emb_b"),
      col("nm").as("nm_b"))
    // argmax as a partial-aggregated max(struct): ties on cos resolve
    // to the lower nn_id via the negated second field. Map-side
    // combine collapses each vector's N-1 candidates before any
    // shuffle — the window formulation would sort the full N² pair
    // stream instead.
    e.crossJoin(broadcast(b))
      .filter(col("vec_id") =!= col("nn_id"))
      .withColumn("cos",
        VectorFns.dot(col("embedding"), col("emb_b")) / (col("nm") * col("nm_b")))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("nn_id")).as("neg_nn"))).as("best"))
      .select(col("vec_id"), (-col("best.neg_nn")).as("nn_id"),
        round(col("best.cos"), 6).as("cosine"))
      .orderBy("vec_id")
  }

  /** Apply the dedup decision: the corpus with only each normalized-
    * text group's canonical (min doc_id) member kept — the step that
    * actually shrinks a training corpus. Semi-join against the group
    * table, so the big side streams through one broadcastable filter.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val canon = dedupNorm(spark, dir).select(col("canonical_doc").as("doc_id"))
    Tables.documents(spark, dir)
      .join(canon, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Connected components of the Hamming ≤ 1 near-dup graph WITHOUT
    * ever materializing the pair relation — the 100 TB spine under
    * [[neardupApply]], [[dedupClusters]] and [[dedupProvenance]]
    * (r10 VERDICT item 1, generalized). Two structural facts about
    * Hamming ≤ 1 make the doc-level reachability computable on the
    * DISTINCT-SIMHASH-VALUE graph:
    *
    *   1. docs sharing a simhash VALUE have identical neighbor sets
    *      (edge existence is a function of the two values), and are
    *      all mutually adjacent (distance 0) — so a value group is one
    *      supernode whose canonical is its min doc_id. This SUBSUMES
    *      exact-duplicate pre-collapse: md5-identical docs share a
    *      simhash, so a 10M-doc boilerplate mega-family is ONE node.
    *   2. two distinct values are adjacent iff one is the other with
    *      a single bit flipped — so the value-level edge list is
    *      found by probing each value's 32 flips against the value
    *      table: ≤ 32·V candidate rows for V distinct values, an
    *      EXACT edge list with ZERO quadratic stage at ANY duplicate
    *      density (the banded pair join must emit Σ family² candidate
    *      rows before anything can drop them — the shape that
    *      exhausted shuffle disk at 500k docs in r9/r10).
    *
    * Components over the ≤ 32·V-edge canonical graph re-expand onto
    * members by one value-keyed join; component ids equal the full
    * doc-level graph's (min reachable doc_id: every value's min doc is
    * its canonical, so min over reachable canonicals = min over
    * reachable docs). Output rows are exactly the docs WITH at least
    * one neighbor (group size ≥ 2 or a present adjacent value) —
    * bitwise the `connectedComponents(neardupEdges)` frame
    * (spec-asserted on the gate corpus and a mega-family corpus), so
    * every consumer's oracle is unchanged.
    */
  private[graft] def neardupComponents(docs: DataFrame): DataFrame = {
    val sh = simhashDf(docs).select(col("doc_id"), col("simhash"))
    val vals = sh.groupBy("simhash")
      .agg(min(col("doc_id")).as("canon"), count(lit(1)).as("n"))
    val vedges = vals
      .select(col("canon"), explode(expr(
        "transform(sequence(0, 31), b -> simhash ^ shiftleft(1L, b))")).as("v2"))
      .join(vals.select(col("simhash").as("v2"), col("canon").as("canon_b")), "v2")
      // each undirected value pair surfaces once from each side; keep
      // the a<b orientation (CC symmetrizes internally)
      .filter(col("canon") < col("canon_b"))
      .select(col("canon").as("doc_a"), col("canon_b").as("doc_b"))
    val cc = GraftOps.connectedComponents(vedges, "doc_a", "doc_b")
    val vcomp = vals
      .join(cc.withColumnRenamed("node", "canon"), Seq("canon"), "left")
      .select(col("simhash"), col("n"),
        coalesce(col("component"), col("canon")).as("component"),
        col("component").isNotNull.as("linked"))
    sh.join(vcomp, "simhash")
      .filter(col("n") >= 2 || col("linked"))
      .select(col("doc_id").as("node"), col("component"))
  }

  /** Dedup lineage: every document the dedup passes DROP, with the
    * canonical it was collapsed into, WHICH detector dropped it
    * (`norm` = normalized-text group, [[dedupApply]]'s rule;
    * `simhash` = near-dup cluster, [[neardupApply]]'s rule) and the
    * group size — the provenance artifact a governed pipeline keeps
    * beside the deduplicated corpus (takedown and attribution
    * requests arrive against the ORIGINAL ids; this is the map back).
    * One normalized-text rollup + the already-bounded near-dup
    * component frame; output is |dropped| rows, never pairwise.
    */
  def dedupProvenance(spark: SparkSession, dir: String): DataFrame = {
    // the norm-digest frame also feeds two branches (group rollup +
    // member join): one materialization of (doc_id, md5) — ~40 B/row —
    // instead of two normText regex passes over the corpus (measured
    // 27s/pass at the 100x stress corpus)
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), md5(TextFns.normText(col("text"))).as("norm_md5"))
      .localCheckpoint()
    val canon = g.groupBy("norm_md5")
      .agg(min(col("doc_id")).as("kept_doc"), count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    val normDropped = g.join(canon, "norm_md5")
      .filter(col("doc_id") =!= col("kept_doc"))
      .select(col("doc_id").as("dropped_doc"), col("kept_doc"),
        lit("norm").as("detector"), col("n_members"))
    // the component frame feeds BOTH the drop list and the size rollup
    // (a self-join): materialize it once — without this the whole
    // value-graph pipeline (tokenize + simhash over the corpus)
    // executes once per branch
    val cls = neardupComponents(Tables.documents(spark, dir)).localCheckpoint()
    val sizes = cls.groupBy("component").agg(count(lit(1)).as("n_members"))
    val simDropped = cls.filter(col("node") =!= col("component"))
      .join(sizes, "component")
      .select(col("node").as("dropped_doc"), col("component").as("kept_doc"),
        lit("simhash").as("detector"), col("n_members"))
    normDropped.unionByName(simDropped)
      .orderBy("dropped_doc", "detector")
  }

  /** Dedup clusters: connected components over the Hamming ≤ 1
    * near-dup graph, cluster_id = the smallest doc_id reachable —
    * computed on the distinct-simhash-VALUE graph
    * ([[neardupComponents]]), never the doc-level pair relation.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    neardupComponents(Tables.documents(spark, dir))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      .orderBy("doc_id")

  /** Quality-aware canonical selection: each near-dup cluster keeps
    * its HIGHEST-QUALITY member (the [[graft.operators.TextAnalysis]]
    * `quality_score` composite, ties toward the lower doc_id) instead
    * of [[neardupApply]]'s min-doc_id convention — what a real
    * cleaning pipeline does, since the duplicate kept is the copy the
    * model trains on. `kept_is_min` quantifies how often the two
    * conventions disagree. The cluster frame is bounded by the
    * near-dup graph (tiny vs the corpus), so the quality join
    * broadcasts it; the per-cluster argmax is a window over cluster
    * members only.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.documents(spark, dir).select(col("doc_id"),
      (least(size(TextFns.tokens(col("text"))).cast("double") / 100.0, lit(1.0)) *
        (lit(1.0) -
          length(regexp_replace(col("text"), "[A-Za-z0-9\\s]", "")).cast("double") /
            greatest(length(col("text")).cast("long"), lit(1L)))).as("q"))
    val w = Window.partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id"))
    dedupClusters(spark, dir).join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("kept_doc"),
        max(when(col("rn") === 1, col("q"))).as("kq"),
        min(col("doc_id")).as("min_doc"))
      .select(col("cluster_id"), col("n_members"), col("kept_doc"),
        round(col("kq"), 4).as("kept_quality"),
        when(col("kept_doc") === col("min_doc"), 1L).otherwise(0L).as("kept_is_min"))
      .orderBy("cluster_id")
  }

  /** Source composition of each near-dup cluster: member count,
    * distinct sources, the majority source and its share (purity 1.0 =
    * an intra-source mirror, low = cross-source syndication) — the
    * report that decides whether dedup should run per-source (cheap,
    * partition-local) or globally (the expensive cross-source
    * shuffle). Same bounded shape as [[dedupKeepBest]]: the cluster
    * frame is near-dup-graph-sized, the doc join broadcasts it, and
    * the majority argmax windows over cluster members only.
    */
  def clusterSourcePurity(spark: SparkSession, dir: String): DataFrame = {
    val m = dedupClusters(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("cluster_id"), col("source"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("cluster_id").orderBy(col("c").desc, col("source"))
    m.withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(sum(col("c")).as("n_members"),
        count(lit(1)).as("n_sources"),
        max(when(col("rn") === 1, col("source"))).as("majority_source"),
        max(when(col("rn") === 1, col("c"))).as("mc"))
      .select(col("cluster_id"), col("n_members"), col("n_sources"),
        col("majority_source"),
        round(col("mc").cast("double") / col("n_members").cast("double"), 4)
          .as("purity"))
      .orderBy("cluster_id")
  }

  /** End-to-end near-dup REMOVAL: the corpus with only each simhash
    * cluster's canonical (min doc_id) member kept — the full pipeline
    * step that [[dedupApply]] performs for exact-normalized groups.
    * Reachability comes from [[neardupComponents]]' value-graph
    * collapse (r10 VERDICT item 1): the pair relation is NEVER
    * materialized, so a boilerplate mega-family costs one supernode
    * instead of Σ family² candidate rows — scale-safe standalone, no
    * exact-dedup pre-pass needed. Cluster ids ARE the canonical doc
    * ids (component = min reachable node), so "drop non-canonical
    * members" is one anti-join against the nodes whose component
    * differs from themselves.
    */
  def neardupApply(spark: SparkSession, dir: String): DataFrame =
    neardupApplyOf(Tables.documents(spark, dir))

  private[graft] def neardupApplyOf(docs: DataFrame): DataFrame = {
    val drop = neardupComponents(docs)
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** End-to-end MinHash near-dup REMOVAL — the application step of the
    * MinHash-LSH family ([[neardupApply]]'s simhash twin): verified
    * Jaccard ≥ 0.5 LSH pairs → connected components → drop every
    * non-canonical member. The two near-dup families catch different
    * duplicates (token-shingle sets vs bit fingerprints), so a real
    * cleaning pipeline runs both; the application machinery is shared.
    */
  def minhashDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val drop = GraftOps.connectedComponents(
        minhashLshPairs(spark, dir).select("doc_a", "doc_b"),
        srcCol = "doc_a", dstCol = "doc_b")
      .filter(col("node") =!= col("component"))
      .select(col("node").as("doc_id"))
    Tables.documents(spark, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Sketch MERGEABILITY payoff: a MinHash signature over a UNION of
    * sets is the element-wise min of the per-set signatures, so a
    * whole source's signature aggregates with 16 plain min()s —
    * partial-aggregated map-side like any min, no re-hash of the
    * union. Pairwise sketch agreement (matching components / 16) then
    * estimates the shingle-set Jaccard BETWEEN SOURCES — corpus-level
    * similarity for the price of one tiny aggregation. Empty-doc
    * sentinel signatures (-1) are excluded from the min as true merge
    * identities. At 100 TB this pattern (per-partition sketch → merge)
    * is how any sketch statistic rolls up without touching raw data
    * twice.
    */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sig = shingleHashes(docs)
      .withColumn("sig", HashFns.minhashSig(col("hs")))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    // one custom declarative aggregate instead of 16 min() columns:
    // MinHashUnion is the sketch-mergeability primitive (element-wise
    // min with the empty-signature identity), partial-aggregated
    // map-side like any min — the oracle is unchanged, proving the
    // aggregate computes exactly the 16-column idiom
    val merged = sig.groupBy("source")
      .agg(graft.functions.AggFns.minhashUnion(col("sig")).as("ms"))
    val agree = (0 until 16).map(i =>
      when(element_at(col("a.ms"), i + 1) === element_at(col("b.ms"), i + 1) &&
          element_at(col("a.ms"), i + 1) =!= -1L, 1L)
        .otherwise(0L)).reduce(_ + _)
    merged.as("a").join(merged.as("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        agree.as("n_agree"))
      .withColumn("est_jaccard", round(col("n_agree") / 16.0, 4))
      .orderBy("source_a", "source_b")
  }

  /** Degree budget for the ITERATIVE near-dup graph analytics
    * ([[neardupPagerank]], [[neardupCommunities]]) — PART OF THE
    * CONTRACT, exactly like [[LinkpredHubCap]]: each node keeps its
    * edges to its [[GraphDegreeCap]] smallest-id neighbors, and an
    * edge survives if EITHER endpoint keeps it (union-kNN graph
    * sparsification — the OR rule, because the AND rule strands
    * clique-tail nodes with zero edges and the teleport term assumes
    * no dangling nodes), so the capped graph stays symmetric and the
    * TOTAL EDGE BUDGET is ≤ 2·cap·N directed rows at ANY duplicate
    * density (each node keeps ≤ cap, then one symmetrizing union). A
    * hub that everyone keeps can still see up to N−1 edges itself, but
    * its per-node aggregations are partial-agg sums (map-side
    * combined), so only the bounded TOTAL crosses the wire. Without it a
    * boilerplate mega-family (10M identical crawl docs) is a near
    * clique whose per-iteration edge shuffle is O(N²) — the r9 100×
    * stress corpus's ~25M-edge graph exhausted shuffle disk in exactly
    * this operator. The cap only binds at pathological density: at
    * gate scale every degree is below it, so the capped results equal
    * the uncapped graph's (spec-asserted), and the DuckDB oracles
    * apply the same rule so parity holds at any scale.
    */
  val GraphDegreeCap = 64L

  /** The degree-capped SYMMETRIC adjacency both iterative graph
    * operators run on (see [[GraphDegreeCap]] for the contract): rank
    * each node's neighbors by id (a key-partitioned window —
    * WindowExec buffers through a spillable array, so even a
    * mega-clique's 10M-row partition sorts without an aggregation
    * buffer), keep rank ≤ cap, then re-symmetrize with a distinct.
    * REFERENCE SEMANTICS ONLY: this caps an already-materialized edge
    * list, so its input is the full O(Σ clique²) pair mass. The
    * production discovery path is [[cappedSymH1]], which builds the
    * IDENTICAL capped graph without ever emitting that mass
    * (spec-asserted equal on the gate corpus and a mega-clique).
    */
  private[graft] def cappedSym(prs: DataFrame): DataFrame = {
    val sym = prs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(prs.select(col("doc_b").as("a"), col("doc_a").as("b")))
    val kept = sym
      .withColumn("__r", row_number().over(Window.partitionBy("a").orderBy("b")))
      .filter(col("__r") <= GraphDegreeCap)
      .select("a", "b")
    kept.unionByName(kept.select(col("b").as("a"), col("a").as("b")))
      .distinct()
  }

  /** BOUNDED-DISCOVERY construction of the [[GraphDegreeCap]]ped
    * Hamming ≤ 1 adjacency — the 100 TB path. The banded pair join
    * ([[simhashPairsOf]]) must EMIT every edge before a cap can drop
    * it, and on a boilerplate-heavy crawl the Hamming ≤ 1 relation is
    * Σ family² — the r10 100× attempt shuffled 25 GB and counting in
    * pure candidate generation. This path never materializes that
    * mass, exploiting Hamming ≤ 1 structure: a doc's neighbor set is
    * EXACTLY its own simhash-value group plus the ≤ 32 groups at one
    * bit flip (every member of such a group is a verified neighbor by
    * construction — the distance is a function of the two VALUES). So
    * the cap-smallest neighbors of any doc live in the (cap+1)-smallest
    * member PREFIX of those ≤ 33 groups, and the whole graph rebuilds
    * from per-group bounded prefixes:
    *
    *   1. one window ranks members within each value group (spillable
    *      sort; a 10M-doc family costs one partition sort, not 10M²
    *      pairs) and keeps each group's cap+1 smallest;
    *   2. each doc probes its own value + the 32 bit-flips (a 33-way
    *      explode of the DOC table, never of pairs) against the prefix
    *      table — every surviving (doc, prefix-member) row is a true
    *      edge, ≤ 33·(cap+1) per doc at ANY duplicate density;
    *   3. the same per-node rank ≤ cap + OR-symmetrization as
    *      [[cappedSym]] — over the bounded candidate stream, whose
    *      per-node cap-smallest is provably the full graph's (the
    *      prefix of each group covers every candidate small enough to
    *      survive the global cap).
    *
    * Output is bitwise the [[cappedSym]] graph; only the plan differs.
    */
  private[graft] def cappedSymH1(docs: DataFrame): DataFrame = {
    val k1 = GraphDegreeCap + 1
    val sh = simhashDf(docs)
    val prefix = sh
      .withColumn("__r", row_number().over(
        Window.partitionBy("simhash").orderBy("doc_id")))
      .filter(col("__r") <= k1)
      .groupBy(col("simhash").as("v"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms")) // ≤ cap+1 longs
    val probes = sh.select(col("doc_id"), explode(expr(
        // own value first, then the 32 one-bit flips (all distinct)
        "concat(array(simhash), transform(sequence(0, 31), b -> simhash ^ shiftleft(1L, b)))"))
        .as("v"))
    val cand = probes.join(prefix, "v")
      .select(col("doc_id").as("a"), explode(col("ms")).as("b"))
      .filter(col("a") =!= col("b"))
    val kept = cand
      .withColumn("__r", row_number().over(Window.partitionBy("a").orderBy("b")))
      .filter(col("__r") <= GraphDegreeCap)
      .select("a", "b")
    kept.unionByName(kept.select(col("b").as("a"), col("a").as("b")))
      .distinct()
  }

  /** PageRank (2 fixed iterations, d=0.85) over the symmetric simhash
    * near-dup graph — ranks the HUB duplicates a triage pass should
    * look at first. Iteration = one edge-keyed shuffle: each node
    * sends pr/degree along its edges, receivers sum contributions as
    * a plain partial-agg sum. Teleport mass (1-d)/N needs
    * no dangling handling: the symmetric [[cappedSym]] graph has no
    * zero-degree nodes.
    */
  def neardupPagerank(spark: SparkSession, dir: String): DataFrame =
    neardupPagerankOf(Tables.documents(spark, dir))

  def neardupPagerankOf(docs: DataFrame): DataFrame = {
    val d = 0.85
    // literal 0.15, NOT 1.0 - d: the Scala expression folds to
    // 0.15000000000000002 (one ulp off the double the oracle's 0.15
    // literal denotes), and the oracle compare would fail whenever a
    // pr lands within an ulp of a round(_, 6) boundary
    val teleport = 0.15
    // the capped edge list feeds degree + both iterations (5 plan
    // branches): materialize it once — without this the discovery
    // tree recomputes per branch (measured 3.4s → the checkpoint
    // pays for itself several times over; same pattern as
    // connectedComponents)
    val sym = cappedSymH1(docs).localCheckpoint()
    val deg = sym.groupBy("a").agg(count(lit(1)).cast("double").as("deg"))
    val nDf = deg.agg(count(lit(1)).cast("double").as("n"))
    // pr0 = 1/n for every node; each iteration joins current pr onto
    // the sender side and folds sorted (sender, contribution) structs
    def iterate(pr: DataFrame): DataFrame = {
      val contrib = sym.join(pr, "a").join(deg, "a")
        .select(col("b").as("node"), col("a"), (col("pr") / col("deg")).as("c"))
      contrib.groupBy("node").agg(sum(col("c")).as("csum"))
        .crossJoin(broadcast(nDf))
        .select(col("node").as("a"),
          (lit(teleport) / col("n") + lit(d) * col("csum")).as("pr"))
    }
    val pr0 = deg.select(col("a")).crossJoin(broadcast(nDf))
      .select(col("a"), (lit(1.0) / col("n")).as("pr"))
    iterate(iterate(pr0))
      .select(col("a").as("doc_id"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc_id"))
      .limit(50)
  }

  /** Label-propagation communities (3 synchronous rounds) over the
    * symmetric Hamming ≤ 1 near-dup graph — the soft-clustering
    * companion to [[dedupClusters]]' connected components: CC merges
    * everything reachable, LPA keeps densely-linked families apart
    * when a thin bridge joins two cliques. Fully deterministic (and
    * therefore oracle-able): labels start as doc_ids, each round every
    * node adopts the most frequent label among its neighbours with
    * ties broken toward the SMALLEST label — one integer vote count +
    * one `min(struct(-count, label))` per node per round, no floats
    * anywhere. A round is one edge-keyed shuffle (join labels onto
    * senders, fold votes at receivers), so the 3-round cost is 3
    * bounded shuffles of the [[cappedSym]] edge list (≤ 2·cap·N rows
    * at any duplicate density) — the same shape PageRank runs, and the
    * same 100 TB posture (the edge list is the banded join's output,
    * never a pairwise stage).
    */
  def neardupCommunities(spark: SparkSession, dir: String): DataFrame =
    neardupCommunitiesOf(Tables.documents(spark, dir))

  def neardupCommunitiesOf(docs: DataFrame): DataFrame = {
    // one materialization feeds the node seed + all 3 rounds (same
    // rationale as neardupPagerank's checkpoint)
    val sym = cappedSymH1(docs).localCheckpoint()
    def step(lbl: DataFrame): DataFrame =
      sym.join(lbl.withColumnRenamed("node", "b"), "b")
        .groupBy(col("a"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("a")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
        .select(col("a").as("node"), col("m.l").as("lbl"))
    val l0 = sym.select(col("a").as("node")).distinct()
      .withColumn("lbl", col("node"))
    step(step(step(l0)))
      .select(col("node").as("doc_id"), col("lbl").as("community"))
      .orderBy("doc_id")
  }

  /** Resource-allocation link prediction (Zhou, Lü & Zhang '09) on
    * the near-dup graph: for every NON-adjacent pair sharing at least
    * one NON-HUB neighbor, score = Σ_w 1/deg(w) over common neighbors
    * w with deg(w) ≤ [[LinkpredHubCap]] — the "missed duplicate"
    * ranker: a high-RA non-edge is a pair the Hamming≤1 screen didn't
    * connect but whose shared near-dup neighborhoods say it should
    * review first. The hub cap is PART OF THE CONTRACT (the oracle
    * applies the same cap): a hub neighbor contributes ≤ 1/cap per
    * wedge but deg² wedges, so excluding hubs is both the standard
    * link-prediction practice and what bounds the wedge count to
    * cap²/2 per node at any corpus size. The per-neighbor weight is
    * the INTEGER 10⁹ div deg(w) (summed as bigint), so the ranking is
    * exact on both engines with no float anywhere. Shape: wedge
    * enumeration (the [[neardupTriangles]] join) with deg attached at
    * edge scale, an anti-join against the edge set, and a
    * (pair)-keyed rollup — all shuffles key-partitioned.
    */
  val LinkpredHubCap = 64L

  def neardupLinkpred(spark: SparkSession, dir: String): DataFrame = {
    val prs = neardupEdges(spark, dir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint() // feeds both wedge sides, the anti-join and deg
    val sym = prs.select(col("doc_a").as("w"), col("doc_b").as("v"))
      .unionByName(prs.select(col("doc_b").as("w"), col("doc_a").as("v")))
    val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= LinkpredHubCap)
    // deg attaches at EDGE scale (one co-partitioned join on w) so the
    // wedge-sized stream below never has to shuffle through a deg join
    // — each wedge is born carrying its neighbor's weight; the inner
    // join doubles as the hub filter (capped w only)
    val symD = sym.join(deg, "w")
      .select(col("w"), col("v"), expr("1000000000 div deg").as("rw"))
    val wedges = symD.select(col("w"), col("v").as("a"), col("rw"))
      .join(sym.select(col("w"), col("v").as("b")), "w")
      .filter(col("a") < col("b"))
    wedges
      .join(prs, wedges("a") === prs("doc_a") && wedges("b") === prs("doc_b"),
        "left_anti")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"),
        sum(col("rw")).as("ra_score"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("n_common"), col("ra_score"))
      .orderBy(col("ra_score").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** The LSH banding design curve: candidate probability
    * P = 1 − (1 − j^r)^b at Jaccard j for the configured 4×4 banding
    * ([[minhashLshPairs]]) — the table that justifies (or re-tunes)
    * the b/r choice before a 100 TB run: read off the false-negative
    * rate at the dedup threshold and the false-candidate rate below
    * it. Powers are explicit squarings (j²·j², not pow) so every
    * double is a product — bitwise cross-engine. Data-free: the curve
    * depends only on the banding, so it costs one 19-row map.
    */
  def lshTuningCurve(spark: SparkSession, dir: String): DataFrame = {
    val j = (col("i").cast("double") / 20.0).as("j")
    val j2 = col("j") * col("j")
    val j4 = (j2 * j2).as("jr")        // j^r, r = 4
    val m = (lit(1.0) - col("jr")).as("m")
    val m2 = col("m") * col("m")
    val p = (lit(1.0) - m2 * m2).as("p_cand") // 1 - (1-j^r)^b, b = 4
    spark.range(1, 20).select(col("id").as("i"))
      .select(col("i"), j).select(col("i"), col("j"), j4)
      .select(col("i"), col("j"), col("jr"), m)
      .select(col("i"), round(col("j"), 2).as("j"), round(p, 6).as("p_cand"))
      .orderBy("i")
  }

  /** Triangle enumeration on the near-dup graph: doc triples that are
    * pairwise near-duplicates — the densest duplication structure
    * (every triangle is three docs one canonical should replace; the
    * triangle rate is the standard graph-health statistic for a dedup
    * graph). Edge-iterator formulation on (a < b)-oriented edges —
    * each triangle found exactly once, two edge-keyed joins, never a
    * node-keyed neighborhood explosion; the oriented edge list is the
    * frame all three branches share (checkpointed once, like
    * [[neardupPagerank]]'s).
    */
  /** (a, b, c) triangles (id-ordered) of an (a < b)-oriented edge
    * frame, via DEGREE-ORDERED edge iteration: re-orient every edge
    * from its lower-(degree, id) endpoint to the higher, form wedges
    * only at each edge's low end, and close them against the oriented
    * edge set. Under this orientation a node's out-degree is O(√m),
    * so wedge count is bounded even on dense duplicate cliques — the
    * id orientation would fan every wedge out of a clique's lowest id
    * (quadratic in clique size at the one node). Found triples are
    * re-sorted to id order for output.
    */
  private def trianglesOf(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).unionByName(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // rank = (degree, id): a total order; struct comparison is
    // lexicographic, so orientation and wedge ordering use it directly
    val o = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(
        when(struct(col("da").as("d"), col("a").as("n")) <
            struct(col("db").as("d"), col("b").as("n")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(struct(col("da").as("d"), col("a").as("n")) <
            struct(col("db").as("d"), col("b").as("n")),
          struct(col("db").as("d"), col("b").as("n")))
          .otherwise(struct(col("da").as("d"), col("a").as("n"))).as("rhi"))
      .withColumn("hi", col("rhi")("n"))
      .localCheckpoint()
    o.as("x").join(o.as("y"),
        col("x.lo") === col("y.lo") && col("x.rhi") < col("y.rhi"))
      .select(col("x.lo").as("u"), col("x.hi").as("p"), col("y.hi").as("q"))
      .as("w")
      .join(o.as("z"), col("w.p") === col("z.lo") && col("w.q") === col("z.hi"),
        "left_semi")
      .select(array_sort(array(col("u"), col("p"), col("q"))).as("t"))
      .select(col("t")(0).as("a"), col("t")(1).as("b"), col("t")(2).as("c"))
  }

  def neardupTriangles(spark: SparkSession, dir: String): DataFrame =
    trianglesOf(
        neardupEdges(spark, dir)
          .select(col("doc_a").as("a"), col("doc_b").as("b"))
          .localCheckpoint())
      .orderBy("a", "b", "c")

  /** Band-bucket occupancy of the Hamming ≤ 6 pigeonhole banding —
    * the candidate-volume estimator read BEFORE running the
    * `simhash_pairs` equi-join (the sketch-join member of the bucket
    * balance family: `index_stats` audits term buckets,
    * `ivf_bucket_stats` audits IVF cells, this audits LSH bands).
    * Per band: occupied buckets, the heaviest bucket, and the
    * Σ n·(n−1)/2 candidate pairs its band would emit — a bucket with
    * n ≫ mean here IS the skewed join partition the banded pair join
    * inherits, and the number that decides between running the join
    * as-is, df-capping the hot band, or salting it. All-integer
    * arithmetic over a |buckets|-row rollup; nothing scales with the
    * pair count being estimated.
    */
  def bandBucketStats(spark: SparkSession, dir: String): DataFrame =
    simhashBandsOf(simhashDf(Tables.documents(spark, dir)), "doc_id", 6)
      .groupBy("band", "v").agg(count(lit(1)).as("n"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_buckets"), max(col("n")).as("max_bucket"),
        sum(expr("n * (n - 1) div 2")).as("cand_pairs"))
      .select(col("band").cast("long").as("band"), col("n_buckets"),
        col("max_bucket"), col("cand_pairs"))
      .orderBy("band")

  /** Local clustering structure of the near-dup graph: per node its
    * degree, triangle participation and clustering coefficient
    * 2T / (deg·(deg−1)) — separates tight duplicate cliques
    * (coefficient ≈ 1: pick one canonical, drop the rest) from hub
    * false-positive stars (coefficient ≈ 0: a hash collision chain to
    * split, exactly the docs [[neardupPagerank]] surfaces). Degrees
    * and triangles both derive from the one checkpointed edge frame;
    * the coefficient is one exact-integer division.
    */
  def neardupClustering(spark: SparkSession, dir: String): DataFrame = {
    val e = neardupEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .localCheckpoint()
    val deg = e.select(col("a").as("doc_id"))
      .unionByName(e.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    val tc = trianglesOf(e)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("t"))
    deg.join(tc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("t"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 4))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("doc_id")
  }

  // ---- wiring ----------------------------------------------------------

  /** Duplicate-8-gram coverage (the C4/RefinedWeb substring-dedup
    * signal): per document, the fraction of its 8-token shingle
    * instances whose shingle also appears in at least one OTHER
    * document. Thresholding this is how block-level dedup decides a
    * doc is mostly boilerplate even when no whole-doc pair matches.
    * One gram-keyed partial-agg shuffle builds the cross-doc df table
    * and one join scores the instance stream against it — both keyed
    * on the gram, so at 100 TB this is two shuffles of the shingle
    * stream and never an all-pairs comparison. Docs shorter than 8
    * tokens carry coverage 0 via the left join.
    */
  def dupNgramCoverage(spark: SparkSession, dir: String): DataFrame =
    dupNgramCoverageOf(Tables.documents(spark, dir))

  def dupNgramCoverageOf(docs: DataFrame): DataFrame = {
    val g = docs.select(col("doc_id"),
      explode(TextFns.shinglesK(TextFns.tokens(col("text")), 8)).as("g"))
    val df = g.groupBy("g").agg(countDistinct(col("doc_id")).as("gdf"))
    val cov = g.join(df, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup"))
    docs.select("doc_id").join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_grams").isNull, lit(0.0))
          .otherwise(round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6))
          .as("dup_coverage"))
      .orderBy("doc_id")
  }

  /** Span-level substring dedup (the C4/RefinedWeb removal step):
    * rewrite each document with every token that participates in a
    * CROSS-DOCUMENT duplicate 8-gram excised — [[dupNgramCoverage]]
    * computes the signal, this operator applies it. A token position
    * is covered when any 8-token shingle instance containing it also
    * appears in at least one other document; covered runs are removed
    * and the survivors rejoin in position order.
    *
    * Scale shape: gram-keyed df shuffle (partial-agg) → instance⋈dup
    * gram join (gram-keyed) → (doc, pos) distinct for coverage → one
    * doc-keyed reassembly — every stage is keyed on grams or docs,
    * never pairwise. The coverage explode is ≤ 8× the duplicate-gram
    * instance stream, not the corpus.
    */
  def dedupSpans(spark: SparkSession, dir: String): DataFrame =
    dedupSpansOf(Tables.documents(spark, dir), k = 8)

  /** The (doc_id, pos) stream of token positions covered by a
    * cross-document duplicate k-gram — the ONE definition of span
    * coverage shared by [[dedupSpansOf]] (which anti-joins a distinct
    * of it) and [[dedupSpanRanges]] (which folds it straight into
    * per-doc position sets; collect_set dedups inside the aggregate,
    * so that consumer never pays a separate distinct shuffle).
    * Gram-keyed throughout: df rollup → duplicate-gram join →
    * position explode (≤ k× the duplicate-gram instance stream).
    */
  private[operators] def coveredPositionsOf(docs: DataFrame, k: Int): DataFrame = {
    val g = docs.select(col("doc_id"),
      posexplode(TextFns.shinglesK(TextFns.tokens(col("text")), k)).as(Seq("s", "g")))
    val dup = g.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("gdf"))
      .filter(col("gdf") >= 2)
      .select("g")
    g.join(dup, "g")
      .select(col("doc_id"),
        explode(sequence(col("s").cast("long"), col("s") + lit(k - 1).cast("long"))).as("pos"))
  }

  /** Per-doc SORTED duplicate-coverage position sets — ONE doc-keyed
    * aggregation over [[coveredPositionsOf]] (collect_set dedups
    * inside the partial agg, so no separate distinct shuffle). The
    * shared spine of [[dedupSpansOf]] (excision) and
    * [[dedupSpanRanges]] (span table); per-doc memory is bounded by
    * the doc's own token count.
    */
  private[operators] def coveredSetsOf(docs: DataFrame, k: Int): DataFrame =
    coveredPositionsOf(docs, k)
      .groupBy("doc_id").agg(sort_array(collect_set(col("pos"))).as("cov"))

  def dedupSpansOf(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .join(coveredSetsOf(docs, k), Seq("doc_id"), "left")
      .select(col("doc_id"), col("tk"),
        coalesce(col("cov"), array().cast("array<bigint>")).as("cov"))
      // excision is per-row array work: a position-keyed hash map of the
      // doc's covered set (bind-let so it builds once per row, not per
      // token), and an index-aware filter keeps the uncovered tokens in
      // position order — no token explode, no anti-join, no reassembly
      // shuffle; n_removed IS the covered-set size by construction
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        TextFns.bind(
          map_from_arrays(col("cov"), transform(col("cov"), _ => lit(true))),
          m => array_join(
            filter(col("tk"), (t, i) =>
              not(coalesce(try_element_at(m, i.cast("long")), lit(false)))),
            " ")).as("cleaned_text"))
      .orderBy("doc_id")

  /** The excised-span TABLE behind [[dedupSpans]]: per document, each
    * maximal contiguous run of tokens covered by cross-document
    * duplicate 8-grams, as (span_start, span_end, span_len) — what a
    * reviewer inspects before trusting span excision. Gaps-and-islands
    * runs INSIDE each doc's sorted position array (codegen'd
    * higher-order functions over the collect_set fold), so the whole
    * operator is the shared [[coveredPositionsOf]] stream plus ONE
    * doc-keyed aggregation — the r7 shape paid a (doc,pos)-distinct
    * shuffle AND a doc-keyed window shuffle for the same answer and
    * cost 9× its [[dedupSpans]] sibling. Per-doc memory is bounded by
    * the doc's own token count (the doc already arrives as one row).
    */
  def dedupSpanRanges(spark: SparkSession, dir: String): DataFrame = {
    val byDoc = coveredSetsOf(Tables.documents(spark, dir), k = 8)
      .select(col("doc_id"), col("cov").as("ps"))
    val n = size(col("ps"))
    // prev[i] = ps[i-1], nxt[i] = ps[i+1] (null at the edges): an
    // island starts where prev isn't pos-1 and ends where nxt isn't
    // pos+1 — the two filtered arrays align 1:1 by construction
    val prev = concat(array(lit(null).cast("long")), slice(col("ps"), lit(1), n - 1))
    val nxt = concat(slice(col("ps"), lit(2), n), array(lit(null).cast("long")))
    val starts = filter(zip_with(col("ps"), prev,
      (p, q) => when(q.isNull || p =!= q + lit(1L), p)), x => x.isNotNull)
    val ends = filter(zip_with(col("ps"), nxt,
      (p, r) => when(r.isNull || r =!= p + lit(1L), p)), x => x.isNotNull)
    byDoc
      .select(col("doc_id"),
        explode(zip_with(starts, ends,
          (s, e) => struct(s.as("span_start"), e.as("span_end")))).as("sp"))
      .select(col("doc_id"), col("sp.span_start").as("span_start"),
        col("sp.span_end").as("span_end"))
      .withColumn("span_len", col("span_end") - col("span_start") + lit(1L))
      .orderBy("doc_id", "span_start")
  }

  /** Exact longest duplicated token-substring per near-dup candidate
    * pair — the SUFFIX-ARRAY substring-dedup measurement (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models
    * Better") re-expressed Spark-native, with no suffix array
    * materialized: a common substring of ≥ k tokens between two docs
    * is exactly a maximal run of shared k-grams along one
    * (posA − posB) DIAGONAL, so per-pair longest-common-substring
    * reduces to a gram-keyed join + gaps-and-islands and returns the
    * same answer as a suffix array for every LCS ≥ k (k = 8). Where
    * [[dedupSpans]] excises positions covered by ANY cross-document
    * gram, this reports the actual maximal repeated span per PAIR
    * with both start offsets — the granularity a reviewer needs to
    * see WHAT is duplicated before excising it. Candidate pairs come
    * from the MinHash LSH bands ([[minhashLshPairs]]), so nothing
    * here is all-pairs; at 100 TB the shape is the LSH pair stream
    * joined to its own grams — pair- and gram-keyed, bounded by the
    * duplicate mass, with per-pair windows over that pair's matches
    * only. Output: top-20 pairs by LCS length (ties by pair id),
    * with start_a/start_b of the winning span.
    */
  def dupSubstringPairs(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val cand = minhashLshPairs(spark, dir).select("doc_a", "doc_b")
    val g = Tables.documents(spark, dir).select(col("doc_id"),
      posexplode(TextFns.shinglesK(TextFns.tokens(col("text")), k)).as(Seq("s", "g")))
    val m = cand
      .join(g.select(col("doc_id").as("doc_a"), col("s").cast("long").as("sa"),
        col("g")), Seq("doc_a"))
      .join(g.select(col("doc_id").as("doc_b"), col("s").cast("long").as("sb"),
        col("g")), Seq("doc_b", "g"))
      .select(col("doc_a"), col("doc_b"), col("sa"),
        (col("sa") - col("sb")).as("d"))
    val wRun = Window.partitionBy("doc_a", "doc_b", "d").orderBy("sa")
    val runs = m.withColumn("grp", col("sa") - row_number().over(wRun))
      .groupBy("doc_a", "doc_b", "d", "grp")
      .agg(min(col("sa")).as("start_a"), count(lit(1)).as("run"))
      .select(col("doc_a"), col("doc_b"),
        (col("run") + lit(k - 1).cast("long")).as("lcs_tokens"),
        col("start_a"), (col("start_a") - col("d")).as("start_b"))
    val wBest = Window.partitionBy("doc_a", "doc_b")
      .orderBy(col("lcs_tokens").desc, col("start_a"), col("start_b"))
    runs.withColumn("rn", row_number().over(wBest)).filter(col("rn") === 1)
      .select("doc_a", "doc_b", "lcs_tokens", "start_a", "start_b")
      .orderBy(col("lcs_tokens").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }

  /** Sketch-quality audit — the dedup analog of `ann_recall`:
    * precision/recall/F1 of the SimHash Hamming ≤ 6 pair set against
    * the exact 3-gram Jaccard ≥ 0.5 truth ([[ngramJaccard]]). One row;
    * both sides are the already-bounded pair streams, joined on the
    * (doc_a, doc_b) key — the measurement a pipeline runs on a corpus
    * sample before trusting the cheap sketch at 100 TB. F1's division
    * is the only double; counts are exact.
    */
  def neardupEval(spark: SparkSession, dir: String): DataFrame = {
    // feeds the n_truth and n_hit branches; checkpoint or the
    // prefix-filtered exact join runs twice
    val truth = jaccardPairs(Tables.documents(spark, dir), 0.5)
      .filter(col("j") >= 0.5).select("doc_a", "doc_b")
      .localCheckpoint()
    val sh = simhashDf(Tables.documents(spark, dir))
    val nT = truth.agg(count(lit(1)).as("n_truth"))
    val nP = simhashPairsOf(Tables.documents(spark, dir), maxHamming = 6)
      .agg(count(lit(1)).as("n_pred"))
    // membership in the ≤6 pair set IS hamming ≤ 6 (the banding is
    // lossless), so hits come from joining fingerprints onto the SMALL
    // truth set — never a semi-join against the dense multi-million-row
    // prediction stream. No broadcast hint: the fingerprint side is
    // corpus-sized (one row per doc — too big to broadcast at 100 TB);
    // AQE broadcasts the checkpointed truth side instead.
    val nH = truth
      .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .filter(expr("bit_count(ha ^ hb)") <= 6)
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(broadcast(nP)).crossJoin(broadcast(nH))
      .select(col("n_truth"), col("n_pred"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_pred").cast("double"), 6).as("prec"),
        round(col("n_hit").cast("double") / col("n_truth").cast("double"), 6).as("recall"))
  }

  /** Degree distribution of the near-dup graph: how many docs have k
    * near-duplicates. The shape (power-law tail vs dense clique mass)
    * is the first thing to read before picking a clustering strategy —
    * and the input to [[Analytics.skewReport]]-style salting decisions
    * on the pair join. One count rollup over the pair stream.
    */
  def neardupDegreeHist(spark: SparkSession, dir: String): DataFrame = {
    val e = neardupEdges(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    e.select(col("a").as("doc_id"))
      .unionByName(e.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("degree")
  }

  // ---- winnowing (MOSS-style fingerprint selection) --------------------

  /** (doc_id, h: array<long>, sel: array<long>) — per-document
    * winnowing selection: rolling hashes of every 4-token gram, then
    * for each length-5 window of consecutive gram hashes the
    * RIGHTMOST minimal hash position (the standard winnowing
    * guarantee: any shared run of ≥ 8 tokens yields at least one
    * shared selected fingerprint). Entirely narrow — one array kernel
    * per document, ZERO shuffle at any corpus size; the `≤` in the
    * fold makes the rightmost-tie selection deterministic and
    * cross-engine exact.
    */
  private def winnowSelected(docs: DataFrame): DataFrame = {
    val tk = TextFns.tokens(col("text"))
    val withH = docs
      .select(col("doc_id"), tk.as("tk"))
      .withColumn("grams",
        when(size(col("tk")) >= 4,
          transform(sequence(lit(0), size(col("tk")) - lit(4)),
            i => concat_ws(" ", slice(col("tk"), i + lit(1), lit(4)))))
          .otherwise(array().cast("array<string>")))
      .withColumn("h", transform(col("grams"), g => HashFns.rollingHash(g)))
    withH.withColumn("sel",
      when(size(col("h")) >= 5,
        array_distinct(transform(sequence(lit(0), size(col("h")) - lit(5)),
          s => aggregate(sequence(s + lit(1), s + lit(4)), s,
            (b, j) => when(element_at(col("h"), (j + lit(1)).cast("int")) <=
                element_at(col("h"), (b + lit(1)).cast("int")), j).otherwise(b)))))
        .otherwise(array().cast("array<long>")))
      .select(col("doc_id"), col("h"), col("sel"))
  }

  /** Per-document winnowing fingerprint report: gram/window/selected
    * counts and the selection density — the size/coverage view a
    * pipeline checks before swapping full-shingle dedup for winnowed
    * fingerprints (w=5 windows over k=4-gram hashes ⇒ density ≈ 2/(w+1)
    * on random text; a much higher density flags repetitive docs).
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowSelected(Tables.documents(spark, dir))
      .select(col("doc_id"),
        size(col("h")).cast("long").as("n_grams"),
        greatest(size(col("h")) - lit(4), lit(0)).cast("long").as("n_windows"),
        size(col("sel")).cast("long").as("n_fp"),
        when(size(col("h")) >= 5,
          round(size(col("sel")).cast("double") /
            (size(col("h")) - lit(4)).cast("double"), 6))
          .otherwise(lit(0.0)).as("fp_density"))
      .orderBy("doc_id")

  /** Candidate near-dup pairs by SHARED winnowed fingerprints — the
    * MOSS report: top 20 document pairs by number of shared selected
    * hashes (≥ 3 to qualify). The join is an inverted-fingerprint
    * bucket join on the ~1/3-density selected set, never all-pairs —
    * same scale shape as the MinHash band join but with positional
    * (run-preserving) rather than set-sampled evidence.
    */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame =
    winnowCandidatesOf(Tables.documents(spark, dir))
      .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** The full winnow candidate RELATION (doc_a, doc_b, n_shared ≥ 3),
    * unranked and unlimited — [[winnowPairs]]'s top-20 rides it, and
    * [[Index.tfidfCosineGuarded]] substitutes it for the rare-term
    * blocking when the corpus regime is degenerate (the r12 VERDICT
    * item-2 fallback). Inverted-fingerprint bucket join over the
    * ~1/3-density selected hashes, never all-pairs.
    */
  def winnowCandidatesOf(docs: DataFrame): DataFrame = {
    val fp = winnowSelected(docs)
      .select(col("doc_id"),
        explode(array_distinct(transform(col("sel"),
          p => element_at(col("h"), (p + lit(1)).cast("int"))))).as("fh"))
    val a = fp.select(col("doc_id").as("doc_a"), col("fh"))
    val b = fp.select(col("doc_id").as("doc_b"), col("fh"))
    a.join(b, Seq("fh")).filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "winnow_fingerprints" -> winnowFingerprints,
    "winnow_pairs" -> winnowPairs,
    "neardup_degree_hist" -> neardupDegreeHist,
    "dup_ngram_coverage" -> dupNgramCoverage,
    "dedup_spans" -> dedupSpans,
    "dedup_span_ranges" -> dedupSpanRanges,
    "neardup_eval" -> neardupEval,
    "neardup_triangles" -> neardupTriangles,
    "neardup_clustering" -> neardupClustering,
    "band_bucket_stats" -> bandBucketStats,
    "lsh_tuning_curve" -> lshTuningCurve,
    "dedup_exact" -> dedupExact,
    "dedup_norm" -> dedupNorm,
    "dup_cluster_size_hist" -> dupClusterSizeHist,
    "quality_by_dup_status" -> qualityByDupStatus,
    "shingle_df_hist" -> shingleDfHist,
    "neardup_family_overlap" -> neardupFamilyOverlap,
    "source_dup_matrix" -> sourceDupMatrix,
    "minhash_signatures" -> minhashSignatures,
    "minhash_lsh_pairs" -> minhashLshPairs,
    "minhash_dedup_apply" -> minhashDedupApply,
    "ngram_jaccard" -> ngramJaccard,
    "ngram_jaccard_stats" -> ngramJaccardStats,
    "jaccard_hist" -> jaccardHist,
    "containment_pairs" -> containmentPairs,
    "simhash" -> simhash,
    "simhash_pairs" -> simhashPairs,
    "simhash_pairs_stats" -> simhashPairsStats,
    "embed_neardup" -> embedNeardup,
    "dedup_clusters" -> dedupClusters,
    "dedup_keep_best" -> dedupKeepBest,
    "cluster_source_purity" -> clusterSourcePurity,
    "dedup_apply" -> dedupApply,
    "dedup_provenance" -> dedupProvenance,
    "neardup_apply" -> neardupApply,
    "source_similarity" -> sourceSimilarity,
    "neardup_pagerank" -> neardupPagerank,
    "neardup_communities" -> neardupCommunities,
    "neardup_linkpred" -> neardupLinkpred,
    "dup_substring_pairs" -> dupSubstringPairs)

  private val sigConcat =
    (0 until 16).map(i => s"s$i").mkString("concat_ws(',', ", ", ", ")")

  private val bandsSql = (0 until 4).map { bd =>
    val k = (0 until 4).map(r => s"s${4 * bd + r}").mkString("concat_ws(',', ", ", ", ")")
    s"SELECT doc_id, $bd AS band, $k AS k FROM sig"
  }.mkString("\n  UNION ALL ")

  /** Banding → candidates → exact-Jaccard CTE chain on top of
    * [[OracleSql.ShingleHashCte]] — shared by the pair listing and the
    * end-to-end MinHash removal oracle.
    */
  private val minhashPairsCtes: String =
    s"""${OracleSql.MinhashSigCte}, bands AS (
       |  $bandsSql
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.k = b.k AND a.doc_id < b.doc_id
       |), sets AS (
       |  SELECT doc_id, list_distinct(h) AS s FROM hs
       |), jac AS (
       |  SELECT da, db,
       |    len(list_intersect(x.s, y.s))::DOUBLE
       |      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) AS j
       |  FROM cand JOIN sets x ON da = x.doc_id JOIN sets y ON db = y.doc_id
       |)""".stripMargin

  /** `toks` → `tf` → `hh` → `bits` → `sh` simhash chain over any
    * (doc_id, text) source relation — no WITH prefix, so it composes
    * after other CTEs ([[oracles]]' pipeline_clean scopes it to the
    * dedup survivors).
    */
  private[operators] def simhashBody(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0) AS tk
       |  FROM $src
       |), ${simhashAfterToks(src)}""".stripMargin

  /** The tf → hh → bits → sh chain ASSUMING a `toks` CTE already
    * exists — composes with [[OracleSql.ShingleHashCte]] (which defines
    * an identical `toks`) when one oracle needs both the shingle and
    * simhash chains.
    */
  private[operators] def simhashAfterToks(src: String): String = {
    val bitSums = (0 until 32).map(b =>
      s"sum(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN tf ELSE -tf END) AS b$b").mkString(",\n    ")
    val asm = (0 until 32).map(b => s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tf AS (
       |  SELECT doc_id, term, count(*) AS tf
       |  FROM (SELECT doc_id, unnest(tk) AS term FROM toks) GROUP BY doc_id, term
       |), hh AS (
       |  SELECT doc_id, tf, ${OracleSql.roll("term", HashFns.M32)} AS h FROM tf
       |), bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM hh GROUP BY doc_id
       |), sh AS (
       |  -- LEFT JOIN keeps zero-token documents (unnest drops them from
       |  -- tf) with simhash 0, matching the Spark kernel on empty docs
       |  SELECT d.doc_id, coalesce(CAST($asm AS BIGINT), 0) AS simhash
       |  FROM $src d LEFT JOIN bits USING (doc_id)
       |)""".stripMargin
  }

  private val simhashCte: String = s"WITH ${simhashBody("documents")}"

  /** toks → gh → selw CTE chain mirroring [[winnowSelected]]: 4-gram
    * rolling hashes, then per 5-window the rightmost-min position via
    * the same `≤` fold (list_reduce's first element is the init, so
    * `list_prepend(s, range(s+1, s+5))` is exactly the Spark
    * `aggregate(sequence(s+1, s+4), s, …)` fold).
    */
  /** The gh → selw chain alone (no WITH, builds on a `toks` CTE) so
    * oracles that already opened their WITH (the guarded cosine) can
    * append it; [[winnowCte]] prepends the shared toks CTE.
    */
  private[operators] val winnowChainCte: String =
    s"""gh AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_transform(range(greatest(len(tk) - 3, 0)), i -> array_to_string(tk[i+1:i+4], ' ')),
       |      g -> ${OracleSql.roll("g", HashFns.P)}) AS h
       |  FROM toks
       |), selw AS (
       |  SELECT doc_id, h,
       |    CASE WHEN len(h) >= 5 THEN
       |      list_distinct(list_transform(range(len(h) - 4), s ->
       |        list_reduce(list_prepend(s, range(s + 1, s + 5)), (b, j) ->
       |          CASE WHEN h[j+1] <= h[b+1] THEN j ELSE b END)))
       |    ELSE CAST([] AS BIGINT[]) END AS sel
       |  FROM gh
       |)""".stripMargin

  private[operators] val winnowCte: String =
    s"""${OracleSql.ToksCte}, $winnowChainCte"""

  val oracles: Map[String, String] = Map(
    "winnow_fingerprints" ->
      s"""$winnowCte
         |SELECT doc_id,
         |  len(h)::BIGINT AS n_grams,
         |  greatest(len(h) - 4, 0)::BIGINT AS n_windows,
         |  len(sel)::BIGINT AS n_fp,
         |  CASE WHEN len(h) >= 5
         |    THEN round(len(sel)::DOUBLE / (len(h) - 4)::DOUBLE, 6)
         |    ELSE 0.0 END AS fp_density
         |FROM selw
         |ORDER BY doc_id""".stripMargin,
    "winnow_pairs" ->
      s"""$winnowCte, fp AS (
         |  SELECT DISTINCT doc_id, h[p+1] AS fh
         |  FROM selw, unnest(sel) AS u(p)
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM fp a JOIN fp b ON a.fh = b.fh AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3
         |ORDER BY n_shared DESC, doc_a, doc_b
         |LIMIT 20""".stripMargin,
    "neardup_degree_hist" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), dn AS (
         |  SELECT doc_id, count(*) AS degree FROM (
         |    SELECT a AS doc_id FROM prs UNION ALL SELECT b AS doc_id FROM prs)
         |  GROUP BY doc_id
         |)
         |SELECT degree, count(*) AS n_nodes FROM dn GROUP BY degree ORDER BY degree""".stripMargin,
    "dup_ngram_coverage" ->
      s"""${Index.TokSql}, gr AS (
         |  SELECT doc_id, array_to_string(tk[i+1:i+8], ' ') AS g
         |  FROM toks, unnest(range(greatest(len(tk) - 7, 0))) AS u(i)
         |), dfx AS (
         |  SELECT g, count(DISTINCT doc_id) AS gdf FROM gr GROUP BY g
         |), cov AS (
         |  SELECT gr.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN dfx.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
         |  FROM gr JOIN dfx USING (g) GROUP BY gr.doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(cov.n_grams, 0) AS n_grams,
         |  coalesce(cov.n_dup, 0) AS n_dup,
         |  CASE WHEN cov.n_grams IS NULL THEN 0.0
         |       ELSE round(cov.n_dup::DOUBLE / cov.n_grams::DOUBLE, 6) END AS dup_coverage
         |FROM documents d LEFT JOIN cov ON d.doc_id = cov.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_spans" ->
      s"""${OracleSql.ToksCte}, gr AS (
         |  SELECT doc_id, i AS s, array_to_string(tk[i+1:i+8], ' ') AS g
         |  FROM toks, unnest(range(greatest(len(tk) - 7, 0))) AS u(i)
         |), dup AS (
         |  SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2
         |), cov AS (
         |  SELECT DISTINCT gr.doc_id, gr.s + j AS pos
         |  FROM gr JOIN dup USING (g), unnest(range(8)) AS v(j)
         |), tokp AS (
         |  SELECT doc_id, unnest(tk) AS term, unnest(range(len(tk))) AS pos FROM toks
         |), kept AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |    array_to_string(list_transform(
         |      list_sort(list(struct_pack(pos := t.pos, term := t.term))),
         |      x -> x['term']), ' ') AS cleaned_text
         |  FROM tokp t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
         |  WHERE c.doc_id IS NULL
         |  GROUP BY t.doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(len(d.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(d.tk) - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
         |  coalesce(k.cleaned_text, '') AS cleaned_text
         |FROM toks d LEFT JOIN kept k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_span_ranges" ->
      s"""${OracleSql.ToksCte}, gr AS (
         |  SELECT doc_id, i AS s, array_to_string(tk[i+1:i+8], ' ') AS g
         |  FROM toks, unnest(range(greatest(len(tk) - 7, 0))) AS u(i)
         |), dup AS (
         |  SELECT g FROM gr GROUP BY g HAVING count(DISTINCT doc_id) >= 2
         |), cov AS (
         |  SELECT DISTINCT gr.doc_id, gr.s + j AS pos
         |  FROM gr JOIN dup USING (g), unnest(range(8)) AS v(j)
         |), runs AS (
         |  SELECT doc_id, pos,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM cov
         |)
         |SELECT doc_id, min(pos) AS span_start, max(pos) AS span_end,
         |  count(*) AS span_len
         |FROM runs GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,
    "neardup_eval" ->
      s"""${OracleSql.ShingleHashCte}, ${simhashAfterToks("documents")}, prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |), sets AS (
         |  SELECT doc_id, list_distinct(h) AS s FROM hs
         |), expl AS (
         |  SELECT doc_id, unnest(s) AS hh FROM sets
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM expl a JOIN expl b ON a.hh = b.hh AND a.doc_id < b.doc_id
         |  GROUP BY da, db
         |), tr AS (
         |  SELECT da, db FROM inter
         |  JOIN sets x ON da = x.doc_id JOIN sets y ON db = y.doc_id
         |  WHERE i::DOUBLE / (len(x.s) + len(y.s) - i) >= 0.5
         |), nt AS (SELECT count(*) AS n_truth FROM tr),
         |np AS (SELECT count(*) AS n_pred FROM prs),
         |nh AS (
         |  SELECT count(*) AS n_hit
         |  FROM tr JOIN prs ON tr.da = prs.doc_a AND tr.db = prs.doc_b
         |)
         |SELECT n_truth, n_pred, n_hit,
         |  round(n_hit::DOUBLE / n_pred::DOUBLE, 6) AS prec,
         |  round(n_hit::DOUBLE / n_truth::DOUBLE, 6) AS recall
         |FROM nt, np, nh""".stripMargin,
    // 3 unrolled synchronous LPA rounds: per-round vote table + a
    // row_number pick of (max count, min label) — the same
    // deterministic tie-break the Spark plan's min(struct(-c, lbl))
    // computes, so labels agree exactly
    "neardup_communities" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), symd AS (
         |  SELECT a, b FROM prs UNION ALL SELECT b AS a, a AS b FROM prs
         |), kc AS (
         |  SELECT a, b FROM (
         |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS r FROM symd)
         |  WHERE r <= $GraphDegreeCap
         |), sym AS (
         |  SELECT DISTINCT a, b FROM
         |    (SELECT a, b FROM kc UNION ALL SELECT b AS a, a AS b FROM kc)
         |), l0 AS (
         |  SELECT DISTINCT a AS node, a AS lbl FROM sym
         |), v1 AS (
         |  SELECT s.a AS node, l.lbl AS lbl, count(*) AS c
         |  FROM sym s JOIN l0 l ON l.node = s.b GROUP BY 1, 2
         |), l1 AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM v1) WHERE rn = 1
         |), v2 AS (
         |  SELECT s.a AS node, l.lbl AS lbl, count(*) AS c
         |  FROM sym s JOIN l1 l ON l.node = s.b GROUP BY 1, 2
         |), l2 AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM v2) WHERE rn = 1
         |), v3 AS (
         |  SELECT s.a AS node, l.lbl AS lbl, count(*) AS c
         |  FROM sym s JOIN l2 l ON l.node = s.b GROUP BY 1, 2
         |), l3 AS (
         |  SELECT node, lbl FROM (
         |    SELECT node, lbl, row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         |    FROM v3) WHERE rn = 1
         |)
         |SELECT node AS doc_id, lbl AS community FROM l3 ORDER BY doc_id""".stripMargin,
    "neardup_linkpred" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT a AS w, b AS v FROM prs UNION ALL SELECT b AS w, a AS v FROM prs
         |), dg AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY w
         |  HAVING count(*) <= $LinkpredHubCap
         |), wedges AS (
         |  SELECT x.w, x.v AS a, y.v AS b
         |  FROM sym x JOIN sym y ON x.w = y.w AND x.v < y.v
         |), cand AS (
         |  SELECT wd.w, wd.a, wd.b FROM wedges wd
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM prs e WHERE e.a = wd.a AND e.b = wd.b)
         |)
         |SELECT c.a AS doc_a, c.b AS doc_b,
         |  CAST(count(*) AS BIGINT) AS n_common,
         |  CAST(sum(1000000000 // dg.deg) AS BIGINT) AS ra_score
         |FROM cand c JOIN dg ON c.w = dg.w
         |GROUP BY c.a, c.b
         |ORDER BY ra_score DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "neardup_clustering" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), tri AS (
         |  SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |  FROM prs e1
         |  JOIN prs e2 ON e1.b = e2.a
         |  JOIN prs e3 ON e1.a = e3.a AND e2.b = e3.b
         |), tn AS (
         |  SELECT unnest([a, b, c]) AS doc_id FROM tri
         |), tc AS (
         |  SELECT doc_id, count(*) AS t FROM tn GROUP BY doc_id
         |), sym AS (
         |  SELECT a AS doc_id FROM prs UNION ALL SELECT b FROM prs
         |), dg AS (
         |  SELECT doc_id, count(*) AS degree FROM sym GROUP BY doc_id
         |)
         |SELECT d.doc_id, d.degree,
         |  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d.degree >= 2
         |    THEN round(2.0 * coalesce(tc.t, 0) / (d.degree * (d.degree - 1)), 4)
         |    ELSE 0.0 END AS clustering
         |FROM dg d LEFT JOIN tc USING (doc_id) ORDER BY doc_id""".stripMargin,
    "neardup_triangles" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |)
         |SELECT e1.a AS a, e1.b AS b, e2.b AS c
         |FROM prs e1
         |JOIN prs e2 ON e1.b = e2.a
         |JOIN prs e3 ON e1.a = e3.a AND e2.b = e3.b
         |ORDER BY a, b, c""".stripMargin,
    "lsh_tuning_curve" ->
      """WITH r AS (SELECT unnest(range(1, 20)) AS i),
        |a AS (SELECT i, i::DOUBLE / 20.0 AS j FROM r),
        |b AS (SELECT i, j, (j * j) * (j * j) AS jr FROM a),
        |c AS (SELECT i, j, jr, 1.0 - jr AS m FROM b)
        |SELECT i, round(j, 2) AS j, round(1.0 - (m * m) * (m * m), 6) AS p_cand
        |FROM c ORDER BY i""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS canonical_doc
        |FROM documents GROUP BY text_md5 ORDER BY text_md5""".stripMargin,
    "neardup_family_overlap" ->
      s"""${OracleSql.ShingleHashCte}$minhashPairsCtes, ${simhashAfterToks("documents")}, mh AS (
         |  SELECT da, db FROM jac WHERE j >= 0.5
         |), sp AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), u AS (
         |  SELECT CASE
         |    WHEN m.da IS NOT NULL AND s.da IS NOT NULL THEN 'both'
         |    WHEN m.da IS NOT NULL THEN 'minhash_only'
         |    ELSE 'simhash_only' END AS family
         |  FROM mh m FULL OUTER JOIN sp s ON m.da = s.da AND m.db = s.db
         |)
         |SELECT family, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM u GROUP BY family ORDER BY family""".stripMargin,
    "source_dup_matrix" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |)
         |SELECT least(x.source, y.source) AS source_a,
         |  greatest(x.source, y.source) AS source_b,
         |  CAST(count(*) AS BIGINT) AS n_neardup_pairs
         |FROM prs JOIN documents x ON prs.da = x.doc_id
         |JOIN documents y ON prs.db = y.doc_id
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    "quality_by_dup_status" ->
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), nodes AS (
         |  SELECT da AS doc_id FROM prs UNION SELECT db FROM prs
         |), base AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0)) AS BIGINT) AS n_tokens,
         |    md5(${OracleSql.Norm}) AS nk
         |  FROM documents
         |), g AS (SELECT nk, count(*) AS gsz FROM base GROUP BY nk)
         |SELECT
         |  CAST(CASE WHEN g.gsz > 1 THEN 1 ELSE 0 END AS BIGINT) AS is_exact_dup,
         |  CAST(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_near_dup,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(base.n_tokens) AS BIGINT) AS total_tokens,
         |  round(sum(base.n_tokens)::DOUBLE / count(*)::DOUBLE, 6) AS avg_tokens
         |FROM base JOIN g USING (nk) LEFT JOIN nodes n USING (doc_id)
         |GROUP BY 1, 2 ORDER BY is_exact_dup, is_near_dup""".stripMargin,
    "shingle_df_hist" ->
      s"""${OracleSql.ShingleHashCte}, postings AS (
         |  SELECT DISTINCT doc_id, h2 AS h FROM (SELECT doc_id, unnest(h) AS h2 FROM hs)
         |), dfreq AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY h
         |), b AS (
         |  SELECT df, CASE WHEN df = 1 THEN 0 WHEN df <= 3 THEN 1 WHEN df <= 7 THEN 2
         |    WHEN df <= 15 THEN 3 WHEN df <= 31 THEN 4 ELSE 5 END AS bucket_id
         |  FROM dfreq
         |)
         |SELECT CAST(bucket_id AS BIGINT) AS bucket_id,
         |  ['1', '2_3', '4_7', '8_15', '16_31', 'ge_32'][bucket_id + 1] AS df_range,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(df) AS BIGINT) AS n_postings
         |FROM b GROUP BY bucket_id ORDER BY bucket_id""".stripMargin,
    "dup_cluster_size_hist" ->
      s"""WITH g AS (
         |  SELECT md5(${OracleSql.Norm}) AS m, CAST(count(*) AS BIGINT) AS n_copies
         |  FROM documents GROUP BY m
         |)
         |SELECT n_copies, CAST(count(*) AS BIGINT) AS n_groups,
         |  CAST(n_copies * count(*) AS BIGINT) AS n_docs
         |FROM g GROUP BY n_copies ORDER BY n_copies""".stripMargin,
    "dedup_norm" ->
      s"""SELECT md5(${OracleSql.Norm}) AS norm_md5, count(*) AS n_copies,
         |  min(doc_id) AS canonical_doc
         |FROM documents GROUP BY norm_md5 ORDER BY norm_md5""".stripMargin,
    "minhash_signatures" ->
      s"""${OracleSql.ShingleHashCte}${OracleSql.MinhashSigCte}
         |SELECT doc_id, $sigConcat AS sig FROM sig ORDER BY doc_id""".stripMargin,
    "minhash_lsh_pairs" ->
      s"""${OracleSql.ShingleHashCte}$minhashPairsCtes
         |SELECT da AS doc_a, db AS doc_b, round(j, 4) AS jaccard
         |FROM jac WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // per-pair LCS via shared-gram diagonal runs: same islands trick as
    // dedup_span_ranges, partitioned by (pair, diagonal)
    "dup_substring_pairs" ->
      s"""${OracleSql.ShingleHashCte}$minhashPairsCtes, cnd AS (
         |  SELECT da AS doc_a, db AS doc_b FROM jac WHERE j >= 0.5
         |), gr AS (
         |  SELECT doc_id, i AS s, array_to_string(tk[i+1:i+8], ' ') AS g
         |  FROM toks, unnest(range(greatest(len(tk) - 7, 0))) AS u(i)
         |), m AS (
         |  SELECT c.doc_a, c.doc_b, a.s AS sa, a.s - b.s AS d
         |  FROM cnd c
         |  JOIN gr a ON a.doc_id = c.doc_a
         |  JOIN gr b ON b.doc_id = c.doc_b AND b.g = a.g
         |), runs0 AS (
         |  SELECT doc_a, doc_b, d, sa,
         |    sa - row_number() OVER (PARTITION BY doc_a, doc_b, d ORDER BY sa) AS grp
         |  FROM m
         |), runs AS (
         |  SELECT doc_a, doc_b, d, min(sa) AS start_a,
         |    CAST(count(*) + 7 AS BIGINT) AS lcs_tokens
         |  FROM runs0 GROUP BY doc_a, doc_b, d, grp
         |), best AS (
         |  SELECT doc_a, doc_b, lcs_tokens, start_a, start_a - d AS start_b,
         |    row_number() OVER (PARTITION BY doc_a, doc_b
         |      ORDER BY lcs_tokens DESC, start_a, start_a - d) AS rn
         |  FROM runs
         |)
         |SELECT doc_a, doc_b, lcs_tokens, start_a, start_b
         |FROM best WHERE rn = 1
         |ORDER BY lcs_tokens DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "minhash_dedup_apply" ->
      s"""${OracleSql.ShingleHashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}$minhashPairsCtes, prs AS (
         |  SELECT da, db FROM jac WHERE j >= 0.5
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), cl AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a
         |)
         |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id != cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      s"""${OracleSql.ShingleHashCte}, sets AS (
         |  SELECT doc_id, list_distinct(h) AS s FROM hs
         |), ex AS (
         |  SELECT doc_id, unnest(s) AS hh FROM sets
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM ex a JOIN ex b ON a.hh = b.hh AND a.doc_id < b.doc_id
         |  GROUP BY da, db
         |), jac AS (
         |  SELECT da, db, i::DOUBLE / (len(x.s) + len(y.s) - i) AS j
         |  FROM inter JOIN sets x ON da = x.doc_id JOIN sets y ON db = y.doc_id
         |)
         |SELECT da AS doc_a, db AS doc_b, round(j, 4) AS jaccard
         |FROM jac WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // deliberately the NAIVE full-pair formulation (not a replay of the
    // profile contraction): the oracle derives every bin's n_pairs /
    // shared_mass by enumerating actual doc pairs, so a wrong expansion
    // multiplier (ma*mb vs C(m,2), a lost within-profile family, a
    // double-counted diagonal) hash-mismatches instead of agreeing.
    "ngram_jaccard_stats" ->
      s"""${OracleSql.ShingleHashCte}, sets AS (
         |  SELECT doc_id, list_sort(list_distinct(h)) AS s FROM hs
         |), prof AS (
         |  SELECT doc_id, s, min(doc_id) OVER (PARTITION BY s) AS pid FROM sets
         |), ex AS (
         |  SELECT doc_id, unnest(s) AS hh FROM sets
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM ex a JOIN ex b ON a.hh = b.hh AND a.doc_id < b.doc_id
         |  GROUP BY da, db
         |), jac AS (
         |  SELECT x.pid AS pa, y.pid AS pb, i,
         |    i::DOUBLE / (len(x.s) + len(y.s) - i) AS j
         |  FROM inter JOIN prof x ON da = x.doc_id JOIN prof y ON db = y.doc_id
         |), q AS (
         |  SELECT * FROM jac WHERE j >= 0.5
         |), con AS (
         |  SELECT least(pa, pb) AS p1, greatest(pa, pb) AS p2, max(j) AS j,
         |    count(*) AS n_exp, sum(i) AS mass
         |  FROM q GROUP BY p1, p2
         |), binned AS (
         |  SELECT CAST(floor(j * 20) AS BIGINT) AS bin, n_exp, mass FROM con
         |)
         |SELECT bin, round(CAST(bin AS DOUBLE) / 20.0, 2) AS j_lo,
         |  CAST(sum(n_exp) AS BIGINT) AS n_pairs,
         |  CAST(count(*) AS BIGINT) AS n_contracted,
         |  CAST(sum(mass) AS BIGINT) AS shared_mass
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    "jaccard_hist" ->
      s"""${OracleSql.ShingleHashCte}, sets AS (
         |  SELECT doc_id, list_distinct(h) AS s FROM hs
         |), ex AS (
         |  SELECT doc_id, unnest(s) AS hh FROM sets
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM ex a JOIN ex b ON a.hh = b.hh AND a.doc_id < b.doc_id
         |  GROUP BY da, db
         |), jac AS (
         |  SELECT i::DOUBLE / (len(x.s) + len(y.s) - i) AS j
         |  FROM inter JOIN sets x ON da = x.doc_id JOIN sets y ON db = y.doc_id
         |), h2 AS (
         |  SELECT CAST(floor(j * 20) AS BIGINT) AS bin FROM jac WHERE j >= 0.3
         |)
         |SELECT bin, round(CAST(bin AS DOUBLE) / 20.0, 2) AS j_lo,
         |  count(*) AS n_pairs
         |FROM h2 GROUP BY bin ORDER BY bin""".stripMargin,
    "containment_pairs" ->
      s"""${OracleSql.ShingleHashCte}, sets AS (
         |  SELECT doc_id, list_distinct(h) AS s FROM hs
         |), ex AS (
         |  SELECT doc_id, unnest(s) AS hh FROM sets
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
         |  FROM ex a JOIN ex b ON a.hh = b.hh AND a.doc_id < b.doc_id
         |  GROUP BY da, db
         |), jac AS (
         |  SELECT da, db, i, len(x.s) AS na, len(y.s) AS nb,
         |    i::DOUBLE / (len(x.s) + len(y.s) - i) AS j
         |  FROM inter JOIN sets x ON da = x.doc_id JOIN sets y ON db = y.doc_id
         |)
         |SELECT da AS doc_a, db AS doc_b, CAST(i AS BIGINT) AS n_shared,
         |  round(i::DOUBLE / na, 4) AS c_ab,
         |  round(i::DOUBLE / nb, 4) AS c_ba,
         |  round(j, 4) AS jaccard
         |FROM jac WHERE j >= 0.3 ORDER BY doc_a, doc_b""".stripMargin,
    "simhash" ->
      s"""$simhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,
    "band_bucket_stats" -> {
      val (widths, offsets) = bandSpec(6)
      val vals = offsets.indices.map(i =>
        s"(${i}::BIGINT, ${1L << offsets(i)}::BIGINT, ${1L << widths(i)}::BIGINT)")
        .mkString(", ")
      s"""$simhashCte, bd AS (SELECT * FROM (VALUES $vals) AS t(band, d, m)),
         |bands AS (
         |  SELECT doc_id, bd.band, (simhash // bd.d) % bd.m AS v FROM sh, bd
         |), bk AS (
         |  SELECT band, v, CAST(count(*) AS BIGINT) AS n FROM bands GROUP BY band, v
         |)
         |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(n) AS BIGINT) AS max_bucket,
         |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM bk GROUP BY band ORDER BY band""".stripMargin
    },
    "simhash_pairs_stats" ->
      s"""$simhashCte, vals AS (
         |  SELECT simhash, CAST(count(*) AS BIGINT) AS c FROM sh GROUP BY simhash
         |), vp AS (
         |  SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming,
         |    a.c * b.c AS m, 1::BIGINT AS vp
         |  FROM vals a JOIN vals b ON a.simhash < b.simhash
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |  UNION ALL
         |  SELECT 0::BIGINT, (c * (c - 1)) // 2,
         |    CASE WHEN c > 1 THEN 1 ELSE 0 END::BIGINT
         |  FROM vals
         |), agg AS (
         |  SELECT hamming, CAST(sum(vp) AS BIGINT) AS n_value_pairs,
         |    CAST(sum(m) AS BIGINT) AS n_doc_pairs
         |  FROM vp GROUP BY hamming
         |)
         |SELECT hamming, n_value_pairs, n_doc_pairs,
         |  CAST(sum(n_doc_pairs) OVER (ORDER BY hamming) AS BIGINT) AS cum_doc_pairs
         |FROM agg ORDER BY hamming""".stripMargin,
    "simhash_pairs" ->
      s"""$simhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_apply" ->
      s"""WITH canon AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(${OracleSql.Norm})
         |)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM canon)
         |ORDER BY doc_id""".stripMargin,
    "dedup_provenance" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), cls AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a
         |), csz AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM cls GROUP BY cluster_id
         |), g AS (
         |  SELECT doc_id, md5(${OracleSql.Norm}) AS norm_md5 FROM documents
         |), canon AS (
         |  SELECT norm_md5, min(doc_id) AS kept_doc, CAST(count(*) AS BIGINT) AS n_members
         |  FROM g GROUP BY norm_md5 HAVING count(*) > 1
         |)
         |SELECT * FROM (
         |  SELECT g.doc_id AS dropped_doc, canon.kept_doc,
         |    'norm' AS detector, canon.n_members
         |  FROM g JOIN canon USING (norm_md5)
         |  WHERE g.doc_id != canon.kept_doc
         |  UNION ALL
         |  SELECT cls.doc_id AS dropped_doc, cls.cluster_id AS kept_doc,
         |    'simhash' AS detector, csz.n_members
         |  FROM cls JOIN csz USING (cluster_id)
         |  WHERE cls.doc_id != cls.cluster_id
         |)
         |ORDER BY dropped_doc, detector""".stripMargin,
    "dedup_clusters" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), cls AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a
         |), q AS (
         |  SELECT doc_id,
         |    least(len(list_filter(regexp_split_to_array(text, '\\s+'), t -> len(t) > 0))::DOUBLE / 100.0, 1.0::DOUBLE) *
         |      (1.0::DOUBLE - length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE /
         |        greatest(CAST(length(text) AS BIGINT), 1)) AS q
         |  FROM documents
         |), j AS (
         |  SELECT cls.cluster_id, cls.doc_id, q.q,
         |    row_number() OVER (PARTITION BY cls.cluster_id ORDER BY q.q DESC, cls.doc_id) AS rn
         |  FROM cls JOIN q ON cls.doc_id = q.doc_id
         |)
         |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
         |  CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
         |  round(max(CASE WHEN rn = 1 THEN q END), 4) AS kept_quality,
         |  CAST(CASE WHEN max(CASE WHEN rn = 1 THEN doc_id END) = min(doc_id)
         |    THEN 1 ELSE 0 END AS BIGINT) AS kept_is_min
         |FROM j GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "cluster_source_purity" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), cls AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a
         |), m AS (
         |  SELECT cls.cluster_id, d.source, CAST(count(*) AS BIGINT) AS c
         |  FROM cls JOIN documents d ON cls.doc_id = d.doc_id
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY c DESC, source) AS rn
         |  FROM m
         |)
         |SELECT cluster_id, CAST(sum(c) AS BIGINT) AS n_members,
         |  CAST(count(*) AS BIGINT) AS n_sources,
         |  max(CASE WHEN rn = 1 THEN source END) AS majority_source,
         |  round(max(CASE WHEN rn = 1 THEN c END)::DOUBLE / sum(c)::DOUBLE, 4) AS purity
         |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "neardup_pagerank" -> {
      def fold(listExpr: String): String =
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_sort($listExpr), " +
          "x -> x.c)), (x, y) -> x + y)"
      def iter(prev: String): String =
        s"""SELECT s.b AS a,
           |    (0.15 / any_value(n.n) + 0.85 * ${fold("list(struct_pack(s := s.a, c := p.pr / d.deg))")}) AS pr
           |  FROM sym s JOIN $prev p ON s.a = p.a JOIN deg d ON s.a = d.a, n
           |  GROUP BY s.b""".stripMargin
      s"""$simhashCte, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), symd AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), kc AS (
         |  SELECT a, b FROM (
         |    SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY b) AS r FROM symd)
         |  WHERE r <= $GraphDegreeCap
         |), sym AS (
         |  SELECT DISTINCT a, b FROM
         |    (SELECT a, b FROM kc UNION ALL SELECT b AS a, a AS b FROM kc)
         |), deg AS (
         |  SELECT a, count(*)::DOUBLE AS deg FROM sym GROUP BY a
         |), n AS (SELECT count(*)::DOUBLE AS n FROM deg),
         |pr0 AS (SELECT a, 1.0 / n.n AS pr FROM deg, n),
         |it1 AS (
         |  ${iter("pr0")}
         |), it2 AS (
         |  ${iter("it1")}
         |)
         |SELECT a AS doc_id, round(pr, 6) AS pagerank FROM it2
         |ORDER BY pagerank DESC, doc_id LIMIT 50""".stripMargin
    },
    "source_similarity" -> {
      val mins = (0 until 16).map(i =>
        s"coalesce(min(CASE WHEN s$i != -1 THEN s$i END), -1) AS m$i").mkString(",\n    ")
      val agree = (0 until 16).map(i =>
        s"(CASE WHEN a.m$i = b.m$i AND a.m$i != -1 THEN 1 ELSE 0 END)").mkString(" + ")
      s"""${OracleSql.ShingleHashCte}${OracleSql.MinhashSigCte}, ssig AS (
         |  SELECT d.source AS source,
         |    $mins
         |  FROM sig JOIN documents d USING (doc_id)
         |  GROUP BY d.source
         |)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST($agree AS BIGINT) AS n_agree,
         |  round(CAST($agree AS BIGINT) / 16.0, 4) AS est_jaccard
         |FROM ssig a JOIN ssig b ON a.source < b.source
         |ORDER BY source_a, source_b""".stripMargin
    },
    "neardup_apply" ->
      s"""${simhashCte.replaceFirst("WITH ", "WITH RECURSIVE ")}, prs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |), sym AS (
         |  SELECT da AS a, db AS b FROM prs UNION ALL SELECT db, da FROM prs
         |), reach AS (
         |  SELECT a, b FROM sym
         |  UNION
         |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
         |), cl AS (
         |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
         |  FROM reach GROUP BY a
         |)
         |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id != cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "embed_neardup" ->
      s"""${OracleSql.NormCte}, p AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    ${OracleSql.cosineN("a.embedding", "b.embedding", "a.nm", "b.nm")} AS c
         |  FROM nrm a JOIN nrm b ON a.vec_id != b.vec_id
         |), r AS (
         |  SELECT vec_id, nn_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, nn_id) AS rn
         |  FROM p
         |)
         |SELECT vec_id, nn_id, round(c, 6) AS cosine
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin)
}
